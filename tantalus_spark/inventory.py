"""The correctness-gated query inventory.

One entry per operator class from SURVEY.md §2 (parity with the reference's
Django-ORM query surface, re-expressed on the TPC-H-ish testdata)
plus the beyond-parity LLM-data-pipeline operators (dedup / similarity /
text analysis / event-window analytics).

Every query has a DuckDB oracle in ORACLES unless genuinely not
SQL-expressible (MinHash-LSH, SimHash — rows-only checks).

Float determinism policy: monetary aggregates cast to DECIMAL before SUM
(exact arithmetic in both engines, then one deterministic cast to DOUBLE);
ratios are integer-over-integer double divisions (bit-exact in both);
everything else is rounded only for display, after ranking on full precision.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tantalus_spark.catalog.loader import Database
from tantalus_spark.catalog.tpch_model import load_tpch
from tantalus_spark.compiler import Count, F_ref, Q
from tantalus_spark.datapipe import dedup, similarity, textstats
from tantalus_spark.functions import times

_DB_CACHE: dict[tuple[int, str], Database] = {}


def db_for(spark: SparkSession, sf_dir: str) -> Database:
    # Pin UTC on whatever session the caller brings (it may be a
    # vanilla one): timestamp literals in queries parse in session
    # TZ, and the DuckDB oracle is TZ-naive — same environment-coupling
    # class as the round-1 nanosAsLong bug, fixed at the same seam.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir)
    if key not in _DB_CACHE:
        _DB_CACHE[key] = load_tpch(spark, sf_dir)
    return _DB_CACHE[key]


def _dec_sum(col, scale: int, alias: str):
    """Exact decimal-accumulated sum emitted as double (bit-deterministic
    across engines and partition orders). Oracle-side convention: the
    matching SQL routes the final cast through VARCHAR
    (``CAST(CAST(sum AS VARCHAR) AS DOUBLE)``) because DuckDB's direct
    decimal->double conversion double-rounds once the unscaled value
    exceeds 2^53 (int128 -> double -> /10^scale, two roundings; found
    by the r8 sf1 sweep on q01's scale-6 sum_charge, 1 ulp off), while
    Spark's BigDecimal.doubleValue — and a string->double parse — round
    correctly once."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


# --------------------------------------------------------------------------
# §2.4 / §2.8 — aggregation + scalar function parity
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the reference's dashboard/stats aggregates (SURVEY
    §2.4 A1/A3; reference views.py:1718-1772) as one shuffle."""
    li = db_for(spark, sf_dir).table("lineitem")
    price = F.col("l_extendedprice")
    disc = F.col("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum(price, 2, "sum_base_price"),
            _dec_sum(price * (1 - disc), 4, "sum_disc_price"),
            _dec_sum(price * (1 - disc) * (1 + F.col("l_tax")), 6, "sum_charge"),
            _dec_sum(disc, 2, "sum_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q02_point_lookup(spark, sf_dir):
    """PK point lookup (SURVEY §2.1 S2; reference views.py:202)."""
    o = db_for(spark, sf_dir).table("orders")
    return o.filter(F.col("o_orderkey") == 7).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


def q03_distinct_projection(spark, sf_dir):
    """values_list(...).distinct() (SURVEY §2.2 P1/P12; models.py:380-385)."""
    li = db_for(spark, sf_dir).table("lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q04_range_in_filter(spark, sf_dir):
    """gte/lte range + in-list lookups (SURVEY §2.2 P4/P9; filters.py:68,96)."""
    li = db_for(spark, sf_dir).table("lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1996-12-31").cast("timestamp"),
            )
            & F.col("l_returnflag").isin("N", "R")
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q05_string_predicates(spark, sf_dir):
    """startswith/contains/endswith (SURVEY §2.2 P6-P8; filters.py:77,125)."""
    p = db_for(spark, sf_dir).table("part")
    return (
        p.filter(
            F.col("p_name").startswith("a")
            | F.col("p_name").contains("ol")
            | F.col("p_type").endswith("D")
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q06_token_or_search(spark, sf_dir):
    """Datatables token search: AND across tokens of OR across fields
    (SURVEY §2.2 P10; reference views.py:1197-1213). Compiled via Q trees."""
    db = db_for(spark, sf_dir)
    qs = db.query("orders")
    for token in ("u", "f"):
        qs = qs.filter(
            Q(o_orderpriority__icontains=token) | Q(o_orderstatus__icontains=token)
        )
    return (
        qs.to_df()
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# §2.3 — join shapes
# --------------------------------------------------------------------------

def q07_region_revenue(spark, sf_dir):
    """Multi-hop FK chain join + aggregate (SURVEY §2.3 J2; the
    file_resources__fileinstance__storage__name 4-hop analog)."""
    db = db_for(spark, sf_dir)
    li, o = db.table("lineitem"), db.table("orders")
    c, n, r = db.table("customer"), db.table("nation"), db.table("region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            _dec_sum(rev, 4, "revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q08_semi_join(spark, sf_dir):
    """Semi-join: customers having >=1 urgent open order (SURVEY §2.3 J5)."""
    db = db_for(spark, sf_dir)
    c, o = db.table("customer"), db.table("orders")
    urgent = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return c.join(urgent, "c_custkey", "left_semi").select("c_custkey", "c_name")


def q09_anti_join(spark, sf_dir):
    """Anti-join: customers with no 1998+ orders (SURVEY §2.3 J6)."""
    db = db_for(spark, sf_dir)
    c, o = db.table("customer"), db.table("orders")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return c.join(recent, "c_custkey", "left_anti").select("c_custkey")


def q10_exists_same_child(spark, sf_dir):
    """M2M single-call semantics: SAME lineitem must satisfy both predicates
    (SURVEY §7 hard part 1; Django single .filter() call)."""
    db = db_for(spark, sf_dir)
    return (
        db.query("orders")
        .filter(lineitems__part__p_brand="Brand#11", lineitems__l_quantity__lte=5)
        .values("o_orderkey")
    ).to_df()


def q11_exists_diff_child(spark, sf_dir):
    """M2M chained-call semantics: DIFFERENT lineitems may satisfy each call
    (SURVEY §7 hard part 1; chained .filter() calls)."""
    db = db_for(spark, sf_dir)
    return (
        db.query("orders")
        .filter(lineitems__part__p_brand="Brand#11")
        .filter(lineitems__l_quantity__lte=5)
        .values("o_orderkey")
    ).to_df()


def q12_exclude_not_exists(spark, sf_dir):
    """exclude() = NOT EXISTS, not ~isin post-join (SURVEY §2.2 P11;
    reference forms.py:585-587)."""
    db = db_for(spark, sf_dir)
    return (
        db.query("customer")
        .exclude(orders__o_orderstatus="F")
        .values("c_custkey")
    ).to_df()


def q13_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT) per group + HAVING post-aggregation filter, fused
    into ONE aggregate (SURVEY §2.4 A2 views.py:1345 + A6 forms.py:616).
    One shuffle gates both operator families."""
    li = db_for(spark, sf_dir).table("lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .filter(F.col("n_items") >= 6)
    )


def q15_cross_agg_eq(spark, sf_dir):
    """Cross-aggregate equality, Count(a) == F(Count(b)) (SURVEY §2.3 J7 /
    §2.4 A7; reference forms.py:639-643, models.py:561-565 is_complete)."""
    db = db_for(spark, sf_dir)
    return (
        db.query("orders")
        # collect_set hint is safe here: lineitems per order are bounded
        # (<= 7 in TPC-H) so the fused no-Expand aggregate wins; the
        # default Expand strategy stays the scale-safe fallback for
        # unbounded group cardinalities (see QuerySet.hint).
        .hint(distinct_strategy="collect_set")
        .annotate(
            n_supp=Count("lineitems__l_suppkey", distinct=True),
            n_part=Count("lineitems__l_partkey", distinct=True),
        )
        .filter(Q(n_supp__exact=F_ref("n_part")))
        .values("o_orderkey", "n_supp", "n_part")
    ).to_df()


# --------------------------------------------------------------------------
# §2.5 / §2.6 — ordering, pagination, windows
# --------------------------------------------------------------------------

def q16_pagination(spark, sf_dir):
    """Deterministically ordered offset/limit page (SURVEY §2.5 O4;
    reference api/views.py:33-50 + order_by('id') api/views.py:62)."""
    o = db_for(spark, sf_dir).table("orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(100)
        .limit(20)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def q17_window_lag(spark, sf_dir):
    """lag() over partition — the curation history diff shape (SURVEY §2.6
    W1; reference services.py:4-78)."""
    o = db_for(spark, sf_dir).table("orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias(
            "delta_price"
        ),
    )


def q18_topk_per_group(spark, sf_dir):
    """row_number top-k per group (SURVEY §2.6 W2 next-ID shape)."""
    o = db_for(spark, sf_dir).table("orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def q30_window_frames(spark, sf_dir):
    """Running total + 4-row moving average over the SAME window ordering,
    fused into one scan (history-accumulation shape + SURVEY §2.6
    frame-spec extension) — one sort serves both frames."""
    li = db_for(spark, sf_dir).table("lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this data; the 4-column
    # key is — l_partkey completes a TOTAL order so the frames are
    # deterministic across engines (2 tied rows at sf0.1 differ otherwise)
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"]
    w_run = (
        W.partitionBy("l_suppkey").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_ma = W.partitionBy("l_suppkey").orderBy(*order).rowsBetween(-3, 0)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w_run).alias("running_qty"),
        F.round(F.avg("l_quantity").over(w_ma), 4).alias("ma4_qty"),
    )


def q33_collect_set(spark, sf_dir):
    """Sorted distinct value list per group (SURVEY §2.10 D2
    get_storage_names; reference models.py:380-385,567-572)."""
    o = db_for(spark, sf_dir).table("orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority")))
        .alias("priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q34_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Catalyst extension beyond
    the reference's aggregate set, SURVEY §2.4 note). UNROUNDED: Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` are bit-identical on
    doubles, so the oracle is exact with no rounding mask. At 100 TB
    exact quantiles hold full per-group value lists — swap in
    ``approx_percentile`` (mergeable sketch, map-side partials;
    accuracy-tested in tests/test_operators.py) and keep this as the
    verifier."""
    li = db_for(spark, sf_dir).table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
    )


def q36_first_last(spark, sf_dir):
    """first_value / last_value / nth_value over full-partition frames."""
    li = db_for(spark, sf_dir).table("lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this data — the full
    # 4-column key is, and a deterministic total order is what makes
    # first/last/nth reproducible across engines
    full = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_shipdate", "l_partkey", "l_suppkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return li.select(
        "l_orderkey", "l_linenumber",
        F.first("l_shipdate").over(full).alias("first_ship"),
        F.last("l_shipdate").over(full).alias("last_ship"),
        F.nth_value("l_shipdate", 2).over(full).alias("second_ship"),
    )


def q37_explode_tokens(spark, sf_dir):
    """split + explode (SURVEY §2.8 F5: CSV tag lists, whitespace lists)."""
    p = db_for(spark, sf_dir).table("part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q38_cube(spark, sf_dir):
    """CUBE with grouping_id (Catalyst freebie beyond the reference)."""
    li = db_for(spark, sf_dir).table("lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().cast("int").alias("gid"),
    )


def q39_dashboard_counts(spark, sf_dir):
    """HomeView dashboard: all entity counts in ONE job via union (SURVEY
    §2.4 A1; reference views.py:1827-1837 runs 9 sequential queries)."""
    db = db_for(spark, sf_dir)
    frames = [
        db.table(t).agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(t).alias("entity"), "n")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events")
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# --------------------------------------------------------------------------
# §2.7 — set operations
# --------------------------------------------------------------------------

def q19_union_dedup(spark, sf_dir):
    """Cross-entity union + dedup — free-text search result assembly
    (SURVEY §2.7 U1/U2; search_helper.py:27-66)."""
    db = db_for(spark, sf_dir)
    c = db.table("customer").select(
        F.lit("customer").alias("entity"), F.col("c_name").alias("name")
    )
    s = db.table("supplier").select(
        F.lit("supplier").alias("entity"), F.col("s_name").alias("name")
    )
    return c.unionByName(s).distinct()


def q20_set_ops(spark, sf_dir):
    """Set difference + intersection in one tagged result (SURVEY §2.7
    U3/U4; reference views.py:1090-1092). ``subtract`` = EXCEPT DISTINCT,
    ``intersect`` = INTERSECT DISTINCT — both map to Catalyst's
    aggregate-based set operators."""
    o = db_for(spark, sf_dir).table("orders")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    y98 = o.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    return (
        y97.subtract(y98).withColumn("op", F.lit("diff"))
        .unionByName(y97.intersect(y98).withColumn("op", F.lit("inter")))
    )


# --------------------------------------------------------------------------
# §2.8 — scalar functions
# --------------------------------------------------------------------------

def q22_scalar_functions(spark, sf_dir):
    """Case folding, substring, concat, arithmetic rounding (SURVEY §2.8
    F2-F4/F9; reference models.py:370-378, views.py:471-473)."""
    p = db_for(spark, sf_dir).table("part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("::", "p_brand", "p_type").alias("brand_type"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_cents"),
    )


def q23_date_format(spark, sf_dir):
    """strftime-style date formatting (SURVEY §2.8 F8; models.py:67,370)."""
    o = db_for(spark, sf_dir).table("orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        F.year("o_orderdate").alias("oy"),
        F.month("o_orderdate").alias("om"),
    )


def q24_event_scalars(spark, sf_dir):
    """Fused event-table scalar suite, one scan: JSON field access (SURVEY
    §2.8 F11; Analysis.args models.py:688), polymorphic when/otherwise path
    dispatch (§2.1 S11 / §2.10 D4; models.py:794-883), and coalesce/nullif
    three-valued logic (§2.8 F12)."""
    e = db_for(spark, sf_dir).table("events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.when(F.col("event_type") == "click",
               F.concat_ws("/", F.lit("/ui"), F.col("event_type")))
        .when(F.col("event_type") == "error",
              F.concat_ws("/", F.lit("/log"), F.col("event_type")))
        .otherwise(F.concat_ws("/", F.lit("/data"), F.col("event_type")))
        .alias("path"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")),
                   F.lit("UNKNOWN")).alias("et"),
        F.when(F.col("value") > 50, F.col("value")).alias("big_val"),
    )


def q26_search_union(spark, sf_dir):
    """Cross-entity free-text search (SURVEY §3.3; search_helper.py:8-49):
    per-entity search views, lower(concat).contains, union, dedup."""
    db = db_for(spark, sf_dir)
    token = "ol"
    frames = []
    for entity, table, idc, disp in (
        ("customer", "customer", "c_custkey", "c_name"),
        ("supplier", "supplier", "s_suppkey", "s_name"),
        ("part", "part", "p_partkey", "p_name"),
    ):
        t = db.table(table)
        frames.append(
            t.filter(F.lower(F.col(disp)).contains(token)).select(
                F.lit(entity).alias("entity"),
                F.col(idc).cast("long").alias("id"),
                F.col(disp).alias("display"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.dropDuplicates(["entity", "id"])


def q28_pivot(spark, sf_dir):
    """Pivot (beyond-reference Catalyst freebie, SURVEY §2.4 note)."""
    li = db_for(spark, sf_dir).table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F"])
    )


def q29_rollup(spark, sf_dir):
    """Rollup subtotals (beyond-reference Catalyst freebie)."""
    li = db_for(spark, sf_dir).table("lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# datapipe — dedup / text / similarity / events
# --------------------------------------------------------------------------

def q40_dedup_exact(spark, sf_dir):
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.exact_duplicates(docs)


def q41_doc_profile(spark, sf_dir):
    """Fused per-document profile — token counting (whitespace + BPE-style
    regex + chars-per-token budget ratio), quality scoring, language-ID
    scores + argmax, and content fingerprints, in ONE codegen'd scan. The
    production shape: at 100 TB you never run five passes over the corpus
    for five per-doc feature families."""
    docs = db_for(spark, sf_dir).table("documents")
    return textstats.doc_profile(docs)


def q44_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs WITH the posting-list cap engaged
    (max_shingle_freq=100): shingles shared by >100 docs are dropped from
    the self-join, exactly like a search engine drops stopword postings —
    the knob that bounds the join at corpus scale. The oracle applies the
    same cap."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2,
                                     max_shingle_freq=100)


def q45_minhash_lsh(spark, sf_dir):
    """Banded MinHash-LSH near-dup pairs with exact-Jaccard verification,
    under a FULL value oracle: the gated entry uses the md5-derived
    universal-hash permutation family ((a_i*H+b_i) mod M over the 60-bit
    md5 shingle hash — same construction q60 proves bit-reproducible in
    SQL), so banding, candidate generation, and verification are all
    replayed by the oracle. Production default stays xxhash64 (covered by
    tests/test_textstats.py recall tests); band bucketing is equality
    partitioning and engine-internal in both families."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.minhash_lsh_pairs(docs, n_perm=16, bands=4, threshold=0.2,
                                   hash_family="md5")


def q46_simhash(spark, sf_dir):
    """SimHash near-pairs with full recall at the configured bound:
    candidate buckets are max_hamming+1 signature chunks (pigeonhole), so
    no qualifying pair is missed; tests/test_textstats.py proves recall
    against a brute-force popcount. Gated with hash_hex_chars=15 (60-bit
    md5 token hash, fits signed BIGINT) so the oracle rebuilds the exact
    signature with SQL bit arithmetic — and, because recall is exact, the
    oracle needs no chunking at all: it checks ALL pairs with
    hamming <= max_hamming. The gate bound is 3 — the production dedup
    setting (Manku, Jain & Das Sarma, WWW'07 use k=3 on 64-bit simhash)
    and the scale envelope: bound 3 gives 16-bit chunks (65k buckets,
    selective at any corpus size) where the r4 gate's bound 8 gave 7-bit
    chunks whose 128 buckets collide quadratically (51 s at sf1,
    unbounded growth beyond)."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.simhash_near_pairs(docs, max_hamming=3, hash_hex_chars=15)


def q47_ann_cosine(spark, sf_dir):
    emb = db_for(spark, sf_dir).table("embeddings")
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return similarity.cosine_topk(emb, qvec, k=10, exclude_ids=[0])


def q49_tumbling_window(spark, sf_dir):
    """Tumbling event-time window aggregate — the batch equivalent of the
    Structured Streaming ingest (SURVEY §2.9 extension)."""
    e = db_for(spark, sf_dir).table("events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value"), 2, "sum_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


def q50_sessionization(spark, sf_dir):
    """Sessionization via lag + cumulative sum (gap > 30 min)."""
    e = db_for(spark, sf_dir).table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(times.epoch_expr(e, "ts")).cast("long")
    prev = F.lag(sec).over(w)
    new_sess = F.when(prev.isNull() | ((sec - prev) > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q51_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs verifier;
    the LSH-bucketed variant is the scale path, covered by unit tests)."""
    emb = db_for(spark, sf_dir).table("embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.45)


def q52_ivf_ann(spark, sf_dir):
    """IVF-style approximate nearest neighbors: assign vectors to the
    nearest of 8 deterministic centroids (vec_id 0..7), probe the 2 lists
    closest to the query (vec_id 0's embedding), exact top-10 within them."""
    emb = db_for(spark, sf_dir).table("embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
    )
    centroids = [[float(x) for x in r[0]] for r in cent_rows]
    qvec = centroids[0]
    assigned = similarity.ivf_assign(emb, centroids)
    return similarity.ivf_topk(assigned, centroids, qvec, k=10, nprobe=2)


def q53_winnowing(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (positional near-dup detection),
    aggregated per doc for a stable signature. Gated with the md5-derived
    portable token hash so the oracle replays it bit-for-bit; the
    production default is xxhash64 (same two-family split as q45)."""
    docs = db_for(spark, sf_dir).table("documents")
    fps = textstats.winnowing_fingerprints(docs, k=5, window=4,
                                           hash_family="md5")
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.sum("fp").alias("sum_fp"),
    )


def q54_date_lookups(spark, sf_dir):
    """Django datetime-transform lookups compiled to native date functions
    (``__year`` / ``__quarter__in``; Django doc parity beyond the
    reference's own usage)."""
    db = db_for(spark, sf_dir)
    qs = db.query("orders").filter(
        o_orderdate__year=1997, o_orderdate__quarter__in=[1, 2])
    return (
        qs.to_df()
        .groupBy(F.month("o_orderdate").cast("int").alias("om"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q55_regex_lookup(spark, sf_dir):
    """regex / iregex lookups -> rlike (SURVEY §2.8 F10)."""
    db = db_for(spark, sf_dir)
    qs = db.query("part").filter(p_name__regex="^[ab]", p_type__iregex="^econ")
    return (
        qs.to_df().groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    )


def q58_clean_corpus(spark, sf_dir):
    """End-to-end corpus cleaning pipeline (quality -> language -> exact
    dedup) as one Catalyst plan."""
    from tantalus_spark.datapipe.pipeline import clean_corpus

    docs = db_for(spark, sf_dir).table("documents")
    return clean_corpus(docs, min_tokens=10, max_tokens=100_000,
                        min_alpha_ratio=0.5, langs=("en",))


def q59_sliding_window(spark, sf_dir):
    """Hopping (sliding) windows batch analog: 2-hour windows every hour —
    each event lands in two overlapping windows (streaming §2.9 parity in
    batch form, like q49 for tumbling)."""
    e = db_for(spark, sf_dir).table("events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )


_MH_M = 1_000_000_007
_MH_A = [3, 5, 7, 11, 13, 17, 19, 23]
_MH_B = [1, 2, 4, 8, 16, 32, 64, 128]


def q60_minhash_signatures(spark, sf_dir):
    """MinHash signature math, oracle-verified: per-doc min of 8 universal
    hash permutations h_p(s) = (a_p*H(s)+b_p) mod M over the distinct
    3-gram shingle set, with H = md5-derived (cross-engine identical).
    The production pipeline (q45) uses xxhash64 for speed — this query
    proves the signature construction itself against SQL."""
    docs = db_for(spark, sf_dir).table("documents")
    sh = dedup.shingles(docs, n=3, hashed=False)
    h = F.pmod(
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long"),
        F.lit(_MH_M),
    )
    return sh.groupBy("doc_id").agg(*[
        F.min(F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MH_M))).alias(f"h{i}")
        for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
    ])


def q61_hash_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split over documents —
    reproducible, shuffle-free, engine-auditable (md5-bucket assignment)."""
    from tantalus_spark.datapipe.sampling import hash_split

    docs = db_for(spark, sf_dir).table("documents")
    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def q62_dup_clusters(spark, sf_dir):
    """Near-dup clusters: Jaccard pair graph -> connected components
    (iterative min-label propagation vs the oracle's recursive CTE)."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.dup_clusters(docs, threshold=0.2, max_shingle_freq=100)


def q63_tfidf(spark, sf_dir):
    """Top-5 characteristic terms per doc by TF-IDF (deterministic
    tie-break: score desc, term asc)."""
    docs = db_for(spark, sf_dir).table("documents")
    return textstats.tfidf_top_terms(docs, k=5)


def q64_full_outer(spark, sf_dir):
    """FULL OUTER join with match classification: 1998 buyers vs the
    customer dimension — matched / order-only / customer-only row counts."""
    db = db_for(spark, sf_dir)
    buyers = (
        db.table("orders")
        .filter(F.year("o_orderdate") == 1998)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    cust = db.table("customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment")
    joined = buyers.join(cust, "custkey", "full_outer")
    status = (
        F.when(F.col("n_orders").isNotNull() & F.col("c_mktsegment").isNotNull(),
               "matched")
        .when(F.col("n_orders").isNotNull(), "order_only")
        .otherwise("customer_only")
    )
    return (
        joined.groupBy(status.alias("status"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.coalesce("n_orders", F.lit(0))).alias("total_orders"))
    )


def q66_ntile(spark, sf_dir):
    """Quantile bucketing + distribution ranks (ntile / cume_dist) —
    window ranking family beyond row_number/lag."""
    o = db_for(spark, sf_dir).table("orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    bucketed = o.select(
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        "o_totalprice",
    )
    return (
        bucketed.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.max("cd"), 6).alias("max_cd"),
        )
    )


def q67_latest_per_key(spark, sf_dir):
    """Latest-record-per-key dedup (CDC compaction shape): one window,
    deterministic tiebreak on event_id."""
    e = db_for(spark, sf_dir).table("events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


def q68_range_join(spark, sf_dir):
    """Equi+range (interval) join: for each purchase event, how many clicks
    the same user made in the preceding hour. The user_id equi-key bounds
    the join — Catalyst plans a sort-merge on user_id with the time range
    as a join condition, so per-key event lists stay small at 100 TB and
    there is no pair explosion. A keyless range join would instead bucket
    ts into hour bins and equi-join on the bin (see SCALING.md)."""
    ev = db_for(spark, sf_dir).table("events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("ts")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("c_ts").alias("n_clicks_prev_hour"))


def q69_embedding_lsh(spark, sf_dir):
    """Hyperplane-LSH-bucketed embedding near-dup — the 100 TB scale path:
    candidates must agree on all hyperplane signs, shrinking the self-join
    ~2^n_hyperplanes-fold (q51 keeps the exact block-gemm verifier). The
    gated entry uses hash_family="md5": hyperplane coefficients derive
    from md5("seed_dim"), so the oracle recomputes the sign vectors and
    bucket membership exactly in SQL — a FULL value oracle for the LSH
    path itself. tests/test_similarity.py additionally proves LSH pairs
    are a subset of the exact pairs and reports recall."""
    emb = db_for(spark, sf_dir).table("embeddings")
    # 8 planes = 256 buckets: the r4 gate's 2 planes meant FOUR buckets
    # total, so within-bucket candidates grew quadratically with the
    # corpus (124 s at sf1); selectivity must scale with the corpus, and
    # recall-vs-selectivity is the dial LSH exposes (q51 remains the
    # exact verifier).
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.45, n_hyperplanes=8, hash_family="md5")


def q70_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any 5-gram with the
    'benchmark' slice (doc_id < 5 stands in for an eval suite) are
    flagged; returns (doc_id, n_hits) for flagged docs. The benchmark's
    shingle set broadcasts — the corpus side never shuffles."""
    docs = db_for(spark, sf_dir).table("documents")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    corpus = docs.filter(F.col("doc_id") >= 5)
    _, hits = dedup.decontaminate(corpus, bench, n=5)
    return hits


def q71_weighted_mix(spark, sf_dir):
    """Deterministic weighted dataset mixing: two halves of documents
    sampled at 60%/20% by md5-bucket of the id, tagged by source —
    reported as per-source counts + id checksum (order-free)."""
    from tantalus_spark.datapipe.sampling import weighted_mix

    docs = db_for(spark, sf_dir).table("documents").select("doc_id", "text")
    mix = weighted_mix(
        {"web": docs.filter(F.pmod("doc_id", F.lit(2)) == 0),
         "code": docs.filter(F.pmod("doc_id", F.lit(2)) == 1)},
        {"web": 0.6, "code": 0.2},
    )
    return mix.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
    )


def q72_chunk_documents(spark, sf_dir):
    """Token-budget chunking with overlap (training-sample construction):
    64-token chunks every 48 tokens, all array-side — zero shuffles."""
    docs = db_for(spark, sf_dir).table("documents")
    return textstats.chunk_documents(docs, max_tokens=64, overlap=16)


def q73_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicated-line and
    duplicated-token fractions per document, one scan."""
    docs = db_for(spark, sf_dir).table("documents")
    return textstats.repetition_ratios(docs)


def q74_pq_ann(spark, sf_dir):
    """Product-quantization ANN (Jegou TPAMI'11) under a FULL value
    oracle: vectors are integerized (floor(x*32) — float32*2^5 is exact
    in float64, floor is engine-unambiguous, so Spark and DuckDB see
    bit-identical integers) and the codebook is FIXED and deterministic
    (centroid c of subspace j = the subspace-j slice of vec_id c+1).
    All distances, argmin code assignment (ties -> lowest centroid), the
    driver-side ADC table, and the top-10 scores are then exact integer
    arithmetic in float64 — reproducible in SQL down to the last bit.
    The production path (L2-normalize + MLlib-KMeans codebooks) runs in
    the 75_ann_trained gate and is exactness/recall-proven in
    tests/test_similarity.py; pq_encode/pq_topk here are the SAME
    operators a trained codebook goes through."""
    emb = db_for(spark, sf_dir).table("embeddings")
    iv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(32.0)).cast("double"),
        ).alias("embedding"),
    )
    m, kc, sub = 8, 16, 8
    cb_rows = (
        iv.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= kc))
        .orderBy("vec_id").select("embedding").collect()
    )
    books = [
        [[float(x) for x in r[0][j * sub:(j + 1) * sub]] for r in cb_rows]
        for j in range(m)
    ]
    qvec = [float(x) for x in
            iv.filter(F.col("vec_id") == 0).first()["embedding"]]
    enc = similarity.pq_encode(iv, books)
    return similarity.pq_topk(enc, books, qvec, k=10)


def q75_ann_trained(spark, sf_dir):
    """The TRAINED billion-scale ANN serving path, composed end-to-end:
    MLlib-KMeans IVF coarse centroids (train_ivf_centroids) + per-subspace
    MLlib-KMeans PQ codebooks (train_pq_codebooks) over L2-normalized
    vectors, codes joined into one narrow (id, ivf_list, pq_code) table,
    then ivf_pq_topk probes 2 lists and ADC-scores 8-byte codes — no
    float vector is read anywhere in the serving scan. Rows-only by
    design: iterative KMeans training is not SQL-expressible; recall vs
    brute force and ADC exactness are unit-proven in
    tests/test_similarity.py."""
    emb = db_for(spark, sf_dir).table("embeddings")
    norm = similarity.l2_normalize(emb)
    # train on a seeded sample, exactly as the trainer docstrings
    # prescribe for scale: centroid/codebook quality converges long
    # before full-corpus passes pay off, and the nine KMeans fits were
    # 97 s at sf1 on the full corpus vs seconds on 8k vectors. Encoding
    # and serving still run over EVERY vector.
    n = norm.count()
    cap = 8192
    train = (norm.sample(False, min(1.0, cap / n), seed=7)
             if n > cap else norm)
    # persist across the NINE KMeans fits (1 IVF + 8 PQ subspaces) —
    # each fit is its own MLlib job and would otherwise re-scan and
    # re-normalize the input; released before serving.
    train = train.persist()
    try:
        train.count()
        centroids = similarity.train_ivf_centroids(train, n_lists=8,
                                                   seed=7)
        books = similarity.train_pq_codebooks(train, m=8, k=16)
    finally:
        train.unpersist()
    assigned = similarity.ivf_assign(norm, centroids).select(
        "vec_id", "ivf_list")
    codes = similarity.pq_encode(norm, books)
    # MATERIALIZE the (id, ivf_list, pq_code) index before serving — in
    # production the index is a written artifact (FAISS writes one;
    # here, a table partitioned by ivf_list). Served lazily instead,
    # the nprobe filter pushes back INTO the assignment expression and
    # re-evaluates the interpreted centroid cosines per row per
    # reference (72 s at sf1 vs ~2 s served from the materialized
    # index). Released once the 10-row result is materialized.
    narrow = assigned.join(codes, "vec_id").persist()
    qvec = [float(x) for x in
            norm.filter(F.col("vec_id") == 1).first()["embedding"]]
    out = similarity.ivf_pq_topk(narrow, centroids, books, qvec,
                                 k=10, nprobe=2)
    from tantalus_spark.datapipe.dedup import _materialize_and_release

    return _materialize_and_release(out, [narrow])



def q76_line_dedup(spark, sf_dir):
    """Cross-document repeated-line removal (CCNet/RefinedWeb boilerplate
    filter): lines whose normalized form appears in >= 2 distinct docs
    are dropped; survivors reassemble in original order. Digest-only
    frequency shuffle; reassembly is one groupBy on the doc id."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.dedup_lines(docs, min_docs=2)


def q77_contamination_frac(spark, sf_dir):
    """Graded benchmark-overlap scoring: fraction of each corpus doc's
    distinct 5-gram shingles present in the doc_id<5 'benchmark' slice
    (decontamination with a score/threshold instead of q70's binary
    flag). Benchmark shingles broadcast; corpus never shuffles."""
    docs = db_for(spark, sf_dir).table("documents")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    corpus = docs.filter(F.col("doc_id") >= 5)
    return dedup.contamination_scores(corpus, bench, n=5)


def q78_quality_classifier(spark, sf_dir):
    """Model-based quality gate: logistic scorer over engine-computable
    features (log tokens, alpha/space ratios, duplicate-line ratio) with
    fixed weights; keep decides on the logit (bit-reproducible IEEE
    arithmetic), score is display-rounded. One codegen'd map stage."""
    from tantalus_spark.datapipe.textstats import quality_classifier

    docs = db_for(spark, sf_dir).table("documents")
    return quality_classifier(docs)


def q79_scrub_pii(spark, sf_dir):
    """PII redaction over a corpus salted with synthetic emails/IPs (the
    fixture texts are PII-free, so the entry plants one deterministic
    email + IPv4 per doc, then counts and redacts them — exercising the
    real regex path end to end). RE2-compatible patterns; one scan."""
    from tantalus_spark.datapipe.textstats import scrub_pii

    docs = db_for(spark, sf_dir).table("documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact u"),
            F.col("doc_id").cast("string"), F.lit("@ex.com ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"), F.lit(".7"),
        ).alias("text"),
    )
    return scrub_pii(salted).select(
        "doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone", "n_pii",
        F.md5("text").alias("scrubbed_md5"),
    )



def q80_knn_graph(spark, sf_dir):
    """Exact kNN graph over the embedding corpus (block-pair gemm with
    per-block partial top-k; shuffle carries O(n*k*blocks) candidates,
    never O(n^2) scores). Vectors integerized via floor(x*32) — the q74
    trick: integer dots are order-independent and exact in float64, and
    sqrt/divide are correctly-rounded IEEE ops, so cosines and ranks
    replay bit-for-bit in the SQL oracle."""
    emb = db_for(spark, sf_dir).table("embeddings")
    iv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(32.0)).cast("double"),
        ).alias("embedding"),
    )
    return similarity.knn_graph(iv, k=5, n_blocks=4)



def q81_semantic_dedup(spark, sf_dir):
    """SemDeDup embedding-space duplicate clusters: kNN-graph edges at
    cosine >= 0.45 (integerized vectors, q80's exact-replay trick) merged
    by min-label connected components; (vec_id, cluster_id) per clustered
    vector. The fixture has no true paraphrase pairs, so the threshold
    sits at the top of its cosine distribution to exercise the full
    edges->components->canonical-id path."""
    emb = db_for(spark, sf_dir).table("embeddings")
    iv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(32.0)).cast("double"),
        ).alias("embedding"),
    )
    return similarity.semantic_dup_clusters(iv, threshold=0.45, k=5,
                                            n_blocks=4, method="exact")



def q82_strip_markup(spark, sf_dir):
    """Markup removal over a corpus salted with deterministic HTML (the
    fixture is markup-free, so each doc is wrapped in html/comment/p/
    script elements keyed by doc_id, then stripped — exercising element
    drop, tag strip, entity decode, and whitespace collapse for real).
    RE2-compatible regexes; one codegen'd map stage."""
    from tantalus_spark.datapipe.textstats import strip_markup

    docs = db_for(spark, sf_dir).table("documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><!-- c"), F.col("doc_id").cast("string"),
            F.lit(' --><p class="d">'), F.col("text"),
            F.lit("</p><script>var x=1;</script></html>"),
        ).alias("text"),
    )
    return strip_markup(salted)



def q83_corpus_report(spark, sf_dir):
    """Corpus health dashboard in ONE job: doc count, token volume, exact
    token percentiles (quantile_cont parity per q34), exact-dup ratio,
    language mix — single scan, single global aggregate."""
    from tantalus_spark.datapipe.pipeline import corpus_report

    docs = db_for(spark, sf_dir).table("documents")
    return corpus_report(docs)



def q84_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-split sequence packing: shard the corpus by
    an md5 id-bucket, lay each shard's tokens end to end (window prefix
    sum — parallel per shard, no global sort), and map every doc to its
    (seq_first, seq_last, offset) in fixed 64-token training sequences.
    Deterministic, RNG-free, and fully SQL-replayable."""
    from tantalus_spark.datapipe.textstats import pack_sequences

    docs = db_for(spark, sf_dir).table("documents")
    return pack_sequences(docs, seq_len=64, n_shards=8)


def q85_exact_sample(spark, sf_dir):
    """Exact-size stratified sampling: per-language hash-rank sampling
    keeping exactly ceil(frac*n) docs per language (binary-exact
    fractions so ceil replays identically cross-engine); languages
    without a fraction (fr) are dropped. One shuffle on the stratum
    key; contrast with the shuffle-free approximate hash_split (q61)."""
    from tantalus_spark.datapipe.sampling import exact_stratified_sample

    docs = db_for(spark, sf_dir).table("documents").select(
        "doc_id", "lang", "source")
    return exact_stratified_sample(
        docs, "lang", {"en": 0.5, "es": 1.0, "de": 0.25, "zh": 0.25})


def q86_novel_docs(spark, sf_dir):
    """Incremental dedup against a persisted index: even-id docs form
    the already-indexed corpus (minhash_bands state), odd-id docs are
    the new batch; each new doc is flagged novel iff none of its LSH
    band hashes collides with an index bucket. The md5 hash family makes
    the signatures SQL-portable (q45's pattern); production default is
    xxhash64. O(docs x bands) postings join, never all-pairs."""
    docs = db_for(spark, sf_dir).table("documents")
    idx = dedup.minhash_bands(
        docs.filter(F.col("doc_id") % 2 == 0), hash_family="md5")
    return dedup.novel_documents(
        docs.filter(F.col("doc_id") % 2 == 1), idx, hash_family="md5")


def q87_rare_tokens(spark, sf_dir):
    """Corpus-relative rarity scoring: per doc, how many of its tokens
    are corpus-wide hapax legomena (frequency <= 1) — the exact,
    integer-only cousin of LM-perplexity filtering. The rare-token
    semi-join is skew-free by construction (rare keys appear once)."""
    from tantalus_spark.datapipe.textstats import rare_token_stats

    docs = db_for(spark, sf_dir).table("documents")
    return rare_token_stats(docs, rare_max=1)


def q88_domain_stats(spark, sf_dir):
    """Corpus domain histogram over URL-salted docs (fixture texts are
    link-free, so each doc gains two deterministic URLs keyed by doc_id
    — exercising the real extraction regex end to end): for each linked
    domain, the number of documents containing it. One scan + explode
    of per-doc distinct domains, one count shuffle."""
    from tantalus_spark.datapipe.textstats import domain_counts

    docs = db_for(spark, sf_dir).table("documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" see https://ex"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
            F.lit(".org/p/"), F.col("doc_id").cast("string"),
            F.lit(" and http://www.site"),
            F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
            F.lit(".com/x"),
        ).alias("text"),
    )
    return domain_counts(salted)


def q89_dup_spans(spark, sf_dir):
    """Cross-document duplicated-substring coverage (ExactSubstr signal,
    corpus-parallel): per doc, the fraction of its distinct 5-gram spans
    shared with >= 1 other document. Posting-list groupBy + join-back of
    only the duplicated spans — never a suffix array, never all-pairs."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.duplicated_spans(docs, n=5, min_docs=2)


def q90_packed_text(spark, sf_dir):
    """The packing WRITER: actual 64-token training sequences assembled
    from per-doc token slices (docs spanning sequence boundaries are
    split; slices concatenate in doc-id order). Every sequence is
    exactly 64 tokens except each shard's final partial."""
    from tantalus_spark.datapipe.textstats import assemble_packed_sequences

    docs = db_for(spark, sf_dir).table("documents")
    return assemble_packed_sequences(docs, seq_len=64, n_shards=8)


def q91_containment(spark, sf_dir):
    """Asymmetric near-dup by n-gram containment |A∩B|/min(|A|,|B|)
    (Broder) — catches short-doc-quoted-in-long-doc cases symmetric
    Jaccard misses. Same posting-list pipeline + stopword-posting cap
    as q44."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.containment_pairs(docs, threshold=0.5,
                                   max_shingle_freq=100)


def q92_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve (tokenizer budgeting): fraction of all
    token occurrences covered by the k most frequent token types, for
    k in {100, 1000, 10000}. Parallel TakeOrdered top-k — never a
    global window over the vocabulary."""
    from tantalus_spark.datapipe.textstats import vocab_coverage

    docs = db_for(spark, sf_dir).table("documents")
    return vocab_coverage(docs, ks=(100, 1000, 10000))


def q93_keep_best(spark, sf_dir):
    """The APPLY step of near-dedup: one representative per duplicate
    cluster (longest doc, ties to min id — integer-only, so the argmax
    replays exactly in SQL), everything else marked for removal.
    Singletons always kept."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.dedup_keep_best(docs, threshold=0.2,
                                 max_shingle_freq=100)


def q94_source_report(spark, sf_dir):
    """Per-source curation dashboard (the data-mixing decision table):
    doc/token/char volume, mean length, exact-dup ratio per source in
    one grouped aggregate. Ratios are single divisions of integer sums
    — engine-exact, no float-summation order dependence."""
    from tantalus_spark.datapipe.pipeline import source_report

    docs = db_for(spark, sf_dir).table("documents")
    return source_report(docs)


def q95_paragraph_dedup(spark, sf_dir):
    """Paragraph-level boilerplate removal (RefinedWeb's second dedup
    unit): every doc is salted with a shared footer paragraph plus a
    per-doc paragraph, and the shared footer — appearing in >= 2 docs —
    must vanish while per-doc paragraphs survive. Same digest-shuffle
    pipeline as q76 with split_re=\\n{2,}."""
    docs = db_for(spark, sf_dir).table("documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n\nunique closing p"),
            F.col("doc_id").cast("string"),
            F.lit("\n\nsubscribe to our newsletter today"),
        ).alias("text"),
    )
    return dedup.dedup_lines(salted, min_docs=2, split_re=r"\n{2,}",
                             join_str="\n\n")


def q96_split_leakage(spark, sf_dir):
    """Train/eval leakage audit: near-dup pairs whose endpoints fall in
    DIFFERENT hash splits (80/10/10) — the twins that silently inflate
    eval metrics. md5 hash family so the whole LSH + split composition
    replays in SQL; production default is xxhash64."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.split_leakage(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1},
        threshold=0.2, hash_family="md5")


def q97_lm_score(spark, sf_dir):
    """CCNet-style quality scoring: per-doc cross-entropy under an
    add-one unigram LM estimated from the corpus itself (Wenzek et al.
    2020). Engine-exact: per-token log2-probs quantized once to integer
    millibits, all document reductions are BIGINT sums / exact integer
    floor-divisions — no float summation anywhere."""
    from tantalus_spark.datapipe.scoring import unigram_lm_score

    docs = db_for(spark, sf_dir).table("documents")
    return unigram_lm_score(docs)


def q98_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    log-likelihood ratio between the curated target slice (sources
    src1-3) and the raw corpus. md5 hash family so the bucket
    composition replays in SQL; production default is xxhash64. The
    1024-row bucket-stats table always broadcasts."""
    from tantalus_spark.datapipe.scoring import dsir_weights

    docs = db_for(spark, sf_dir).table("documents")
    return dsir_weights(
        docs, F.col("source").isin("src1", "src2", "src3"),
        n_buckets=1024, hash_family="md5")


def q99_corpus_shuffle(spark, sf_dir):
    """Deterministic seeded global shuffle for reproducible training
    order: shard = md5(seed, id) mod 16, position = rank within shard.
    Parallel per-shard windows — never a single global row_number."""
    from tantalus_spark.datapipe.scoring import corpus_shuffle

    docs = db_for(spark, sf_dir).table("documents")
    return corpus_shuffle(docs, seed="epoch0", n_shards=16)


def q101_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail stratification: every doc bucketed by exact
    corpus terciles of its unigram-LM cost; keep-head-and-middle is the
    classic quality filter. Spark percentile and DuckDB quantile_cont
    are bit-identical on doubles (q34 precedent) and the scored input is
    integer millibits, so the whole composition has a full oracle."""
    from tantalus_spark.datapipe.scoring import perplexity_buckets

    docs = db_for(spark, sf_dir).table("documents")
    return perplexity_buckets(docs)


def q103_temperature_mix(spark, sf_dir):
    """Temperature-based source mixing (T5/Llama recipe): per-source
    sampling weight ∝ n_tokens^0.7, with the share of a 1M-token budget
    and the repeat factor (epochs) each source needs. The single pow per
    source is quantized to a BIGINT microweight so the normalizing total
    is an exact integer sum — no float summation (millibit pattern)."""
    from tantalus_spark.datapipe.sampling import temperature_mix

    docs = db_for(spark, sf_dir).table("documents")
    return temperature_mix(docs, alpha=0.7, token_budget=1_000_000)


def q104_bigram_lm(spark, sf_dir):
    """Bigram conditional cross-entropy per doc (one LM order above q97,
    same integer-millibit exactness): cost of P(w2|w1) with add-one
    smoothing, averaged over each doc's bigram occurrences. The
    bigram-to-unigram count join runs at TYPE level (bounded fan-out),
    never over the occurrence stream."""
    from tantalus_spark.datapipe.scoring import bigram_lm_score

    docs = db_for(spark, sf_dir).table("documents")
    return bigram_lm_score(docs)


def q105_gate_attribution(spark, sf_dir):
    """Gate-attribution observability report: per cleaning gate (length /
    alpha / language / exact-dup), documents failing it and failing ONLY
    it — which gate to tune when the pipeline over- or under-filters.
    Same one-projection feature stage as q58; one digest window; one
    global integer aggregate."""
    from tantalus_spark.datapipe.pipeline import gate_attribution

    docs = db_for(spark, sf_dir).table("documents")
    return gate_attribution(docs)


def q106_dsir_select(spark, sf_dir):
    """DSIR APPLY step (selection, not just scoring): keep the top 25% of
    documents by importance weight with exact top-k semantics — histogram
    threshold + bounded tie-window, never a corpus-wide row_number. The
    md5 tie-break makes equal-weight admission a reproducible pseudo-
    random draw. Full oracle: weights are integer millibits (q98) and the
    selection is a total order, so DuckDB replays it bit-for-bit."""
    from tantalus_spark.datapipe.scoring import dsir_select

    docs = db_for(spark, sf_dir).table("documents")
    return dsir_select(
        docs, F.col("source").isin("src1", "src2", "src3"),
        keep_frac=0.25, n_buckets=1024, hash_family="md5")


def q107_centroid_affinity(spark, sf_dir):
    """Embedding-space quality filter: integer-exact inner product of
    every vector with the summed centroid of a curated target slice
    (labels 0-2). One d-row aggregate for the centroid (plan literal),
    then a zero-shuffle map-side scoring pass — the model-based
    selection signal classifier-curated corpora use."""
    from tantalus_spark.datapipe.similarity import centroid_affinity

    emb = db_for(spark, sf_dir).table("embeddings")
    return centroid_affinity(emb, F.col("label").isin(0, 1, 2))


def q108_build_corpus(spark, sf_dir):
    """The WHOLE pretraining-data build as one composed job (FineWeb /
    CCNet shape): quality+language+exact-dup gates -> 5-gram benchmark
    decontamination (doc_id < 5 is the eval slice) -> unigram-LM tercile
    stratification over survivors keeping head+middle -> per-source
    sign-off report with an id checksum. Every stage is an already-
    oracled operator (q58/q70/q101); the composition itself is what this
    gate proves — one lazy DAG, full value oracle."""
    from tantalus_spark.datapipe.pipeline import build_corpus

    docs = db_for(spark, sf_dir).table("documents")
    return build_corpus(docs, F.col("doc_id") < 5, shingle_n=5)


def q110_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond q28 pivot / q29 rollup / q38 cube):
    per-(flag,status), per-flag, and grand-total aggregates in ONE scan
    with grouping_id disambiguating levels — Catalyst expands to a single
    Expand + hash aggregate, not three scans."""
    li = db_for(spark, sf_dir).table("lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().alias("gid"),
        )
    )


def q111_fuzzy_pairs(spark, sf_dir):
    """Entity-resolution fuzzy join: edit-distance near-dup pairs under
    prefix blocking (block -> compare inside block only, hot-prefix
    blocks dropped like the q44 posting cap). Levenshtein is JVM
    built-in and integer-valued — full oracle."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.fuzzy_pairs(docs, max_dist=40, block_chars=12,
                             window=200, max_block=100)


def q112_length_outliers(spark, sf_dir):
    """Per-source statistical length outliers with EXACT algebra:
    |x-mean| > z*stddev decided as (n-1)(nx-S)^2 > z^2*n(nQ-S^2) in
    DECIMAL(38,0) — no float stddev (Spark's is partition-order
    dependent) and no silent int64 wraparound at 100 TB group sizes —
    so the gate replays bit-for-bit in SQL (DuckDB HUGEINT) and the
    result is reproducible on any cluster. The gate uses z=1: the
    fixture token counts are near-uniform, which has zero mass beyond
    ~1.73 sigma, so z=2 compared only empty frames (a vacuous gate)."""
    from tantalus_spark.datapipe.textstats import length_outliers

    docs = db_for(spark, sf_dir).table("documents")
    return length_outliers(docs, z=1)


def q113_quota_select(spark, sf_dir):
    """Per-source quality quota: keep the most fluent third of EACH
    source by unigram-LM cost — grouped exact top-k via the histogram-
    threshold machinery (per-source thresholds from a (source, cost)
    histogram; only tie buckets rank-windowed; no source-wide sort).
    Full oracle: integer-millibit costs + a total tie order."""
    from tantalus_spark.datapipe.scoring import quota_select

    docs = db_for(spark, sf_dir).table("documents")
    return quota_select(docs, keep_frac=1.0 / 3)


def q114_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix: near-dup pairs (banded MinHash-
    LSH, Jaccard-verified — the q45 machinery, md5 family for the
    oracle) rolled up per unordered source pair with order-free
    aggregates only. The provenance table a curation lead reads before
    mixing sources."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.source_overlap_matrix(
        docs, n_perm=16, bands=4, threshold=0.2, hash_family="md5")


def q116_encoding_noise(spark, sf_dir):
    """Encoding-noise profile (mojibake / U+FFFD / C0-control counts +
    non-ASCII count + noisy flag) — the extraction-bug gate web
    pipelines run before any LM sees the text. One codegen'd
    projection; RE2-parity regexes, full oracle."""
    from tantalus_spark.datapipe.textstats import encoding_noise

    docs = db_for(spark, sf_dir).table("documents")
    return encoding_noise(docs)


def q117_gopher_rules(spark, sf_dir):
    """Gopher quality-filter rule set (Rae et al. 2021, A1.1): word
    count / mean word length / symbol ratio / bullet+ellipsis line
    ratios / alpha-word ratio / stop-word hits, plus the conjunction
    keep — the canonical heuristic gate before model-based scoring.
    One codegen'd projection, RE2-parity regexes, full oracle."""
    from tantalus_spark.datapipe.textstats import gopher_rules

    docs = db_for(spark, sf_dir).table("documents")
    return gopher_rules(docs)


def q118_c4_filters(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020, §2.2): terminal-
    punctuation line filter (>=3 words, no 'javascript'), document
    gates (brace / 'lorem ipsum' / >=3 sentences), and the cleaned
    rejoined text the next stage consumes. Single projection; the
    line-filter HOF is evaluated once per row; full oracle."""
    from tantalus_spark.datapipe.textstats import c4_filters

    docs = db_for(spark, sf_dir).table("documents")
    return c4_filters(docs)


def q119_sq8_quantize(spark, sf_dir):
    """SQ8 scalar quantization audit (FAISS ScalarQuantizer QT_8bit
    shape): train per-dim (min,max) over the corpus — O(d) driver
    state, the IVF-centroid precedent — then encode every vector as
    int8 codes and report exact reconstruction-error diagnostics
    (code checksum, summed pico-scaled squared error, micro-RMSE) from
    one literal-folded codegen'd projection. The compression-loss gate
    before an ANN index drops from float32 to int8."""
    from tantalus_spark.datapipe.similarity import (
        sq8_reconstruction, sq8_train_stats)

    emb = db_for(spark, sf_dir).table("embeddings")
    stats = sq8_train_stats(emb)
    return sq8_reconstruction(emb, stats)


def q120_zipf_fit(spark, sf_dir):
    """Zipf-law fit per source: closed-form least-squares
    slope/intercept/r² of ln(count) vs ln(rank) over each source's
    term-frequency table, with all regression moments accumulated as
    order-free exact micro-scaled integers (cross-engine bit parity).
    The head-heaviness diagnostic next to vocab_coverage (q92)."""
    from tantalus_spark.datapipe.textstats import zipf_fit

    docs = db_for(spark, sf_dir).table("documents")
    return zipf_fit(docs)


def q121_bm25_rank(spark, sf_dir):
    """BM25 ranked retrieval for a literal query-term set — the
    relevance-ranked upgrade of the reference's boolean free-text
    search (search_util/tasks.py get_filter_results; SURVEY §2.7 F1).
    Exploded tokens are filtered to the query terms immediately, df is
    a |query|-row broadcast, per-(doc,term) scores sum as exact
    nano-integers, and the top-20 is TakeOrderedAndProject."""
    from tantalus_spark.datapipe.textstats import bm25_rank

    docs = db_for(spark, sf_dir).table("documents")
    return bm25_rank(docs, ["hash", "join", "window", "vector"], k=20)


def q122_minhash_calibration(spark, sf_dir):
    """MinHash estimator-calibration report: for every LSH candidate
    pair, signature-estimated Jaccard (agreeing-slot fraction) vs exact
    shingle Jaccard, bucketed by milli-scaled estimation error — the
    parameter-tuning table read before committing (n_perm, bands,
    threshold) to a full-corpus dedup pass. All-integer outputs; md5
    hash family for the oracle (the q45 split — production default is
    xxhash64, covered by the same machinery)."""
    docs = db_for(spark, sf_dir).table("documents")
    return dedup.minhash_calibration(
        docs, n_perm=16, bands=4, hash_family="md5")


def q123_bm25_indexed(spark, sf_dir):
    """Index-backed BM25 serving path: build the (term, doc_id, tf, dl)
    inverted index in one corpus pass, then rank a query against ONLY
    its terms' postings — raw text untouched at query time, the
    index-once / query-many retrieval layout. Same scorer expression
    tree as q121 (bit-identical on the same corpus; differential test
    in tests/test_textstats.py)."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index)

    docs = db_for(spark, sf_dir).table("documents")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    return bm25_rank_indexed(idx, ["customer", "merge", "sort"], k=15,
                             n_docs=n_docs, avgdl=avgdl)


def q124_tfidf_cosine(spark, sf_dir):
    """Sparse TF-IDF cosine similarity pairs through a df-pruned
    posting-list self-join — term-weighted near-dup detection without
    an embedding model (the third leg next to q44 Jaccard and q51
    embedding cosine). Exact nano-integer dot/norm sums, full oracle;
    the [min_df, max_df·N] prune bounds every posting list before the
    only quadratic stage."""
    from tantalus_spark.datapipe.textstats import tfidf_cosine_pairs

    docs = db_for(spark, sf_dir).table("documents")
    return tfidf_cosine_pairs(docs, threshold=0.3, min_df=2,
                              max_df_frac=0.5)


def q125_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement in ONE pass
    (Efraimidis-Spirakis A-ES keys from an md5-derived uniform): top-40
    documents by ln(u)/n_chars — the quality-weighted eval-set draw.
    TakeOrderedAndProject top-k, no global sort, engine-exact replay."""
    from tantalus_spark.datapipe.sampling import weighted_sample

    docs = db_for(spark, sf_dir).table("documents")
    return weighted_sample(docs, k=40, weight_col="n_chars")


def q126_budget_select(spark, sf_dir):
    """Token-budget corpus selection: admit documents by vocabulary
    richness (distinct-token count) until a 12k-token budget is spent (about half the corpus at every test SF, so the histogram threshold and tie bucket are genuinely exercised) —
    take-while under (score desc, md5 tie, id), computed with the
    dsir_select histogram-threshold machinery (no corpus-wide sort);
    the oracle states the same prefix as one cumulative window."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.scoring import budget_select
    from tantalus_spark.datapipe.textstats import tokens

    docs = db_for(spark, sf_dir).table("documents")
    scored = docs.withColumn(
        "qscore",
        F.size(F.array_distinct(tokens(F.lower(F.col("text")))))
         .cast("long"))
    return budget_select(scored, budget_tokens=12_000, score_col="qscore")


def q127_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: for each label-1 anchor, the 5
    most cosine-similar vectors with a DIFFERENT label — the training-
    pair construction step for embedding-model fine-tuning. Exact
    cross-label blocked join (the verifier; at scale the same ranking
    rides knn_graph_lsh's buckets filtered to cross-label pairs)."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.similarity import hard_negatives

    emb = db_for(spark, sf_dir).table("embeddings")
    return hard_negatives(emb, k=5, anchor_cond=F.col("label") == 1)


def q128_retrieval_metrics(spark, sf_dir):
    """Offline retrieval evaluation: rank the corpus against vec 0's
    embedding (exact cosine top-20), grade against the label-1
    relevance set — hits / precision / recall / MRR / nDCG at
    k=1,5,10,20. DCG is an exact nano-integer sum (fold-order-free);
    iDCG is the same quantized sum as a driver literal."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.similarity import (
        cosine_similarity, retrieval_metrics)

    emb = db_for(spark, sf_dir).table("embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    qlit = F.array(*[F.lit(float(v)) for v in q0])
    scored = (emb.filter(F.col("vec_id") != 0)
                 .select("vec_id",
                         cosine_similarity(F.col("embedding"), qlit)
                         .alias("_s")))
    top = (scored.orderBy(F.col("_s").desc(), F.col("vec_id").asc())
                 .limit(20))
    ranked = top.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("_s").desc(),
                                      F.col("vec_id").asc()))
    ).select("vec_id", "rank")
    relevant = emb.filter(F.col("label") == 1).select("vec_id")
    return retrieval_metrics(ranked, relevant, ks=(1, 5, 10, 20),
                             id_col="vec_id")


def q129_normalized_dedup(spark, sf_dir):
    """Unicode-canonical exact dedup: NFC-normalize (Arrow pandas UDF
    over stdlib unicodedata — Spark has no normalization builtin) +
    whitespace collapse, then digest groups with canonical min-id.
    Catches NFC/NFD-mixed duplicates byte-exact dedup misses; only the
    16-byte digest shuffles. Full oracle via DuckDB nfc_normalize."""
    from tantalus_spark.datapipe.textstats import normalized_dup_groups

    docs = db_for(spark, sf_dir).table("documents")
    return normalized_dup_groups(docs)


def q130_hashed_features(spark, sf_dir):
    """Signed feature hashing (Weinberger et al. 2009): model-free
    fixed-dim text vectorization — md5 bucket + independent ±1 sign
    bit, signed token counts per (doc, bucket). Sparse gated form
    (full oracle); hashed_vectors assembles the dense array that feeds
    the embedding-side operators. One explode + one keyed integer
    aggregate."""
    from tantalus_spark.datapipe.textstats import hashed_features

    docs = db_for(spark, sf_dir).table("documents")
    return hashed_features(docs, dim=64)


def q131_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.
    2009): BM25 lexical leg (q121 machinery) fused with a dense
    hashed-feature cosine leg (q130 vectors) — the two-leg serving
    shape of modern search, upgrading the reference's single-signal
    free-text path (search_util/search_helper.py:27-34). Both legs
    rank by exact nano-integers under a total order; fusion touches
    <= 2·depth rows."""
    from tantalus_spark.datapipe.textstats import hybrid_rank_rrf

    docs = db_for(spark, sf_dir).table("documents")
    return hybrid_rank_rrf(docs, ["hash", "join", "window", "vector"],
                           k=20, depth=50, rrf_k=60, dim=64)


def q132_source_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between per-source
    hashed-unigram distributions — the data-mixing diagnostic that
    finds redundant vs novel sources before mixing weights are chosen
    (DSIR-style hashed sketch, Xie et al. 2023). One corpus explode +
    one keyed integer groupBy; everything after runs on the fixed
    |sources|·n_buckets grid. Exact per-bucket nano-integer
    contributions, full oracle."""
    from tantalus_spark.datapipe.textstats import source_js_divergence

    docs = db_for(spark, sf_dir).table("documents")
    return source_js_divergence(docs, n_buckets=64)


def q133_jl_distortion(spark, sf_dir):
    """Johnson-Lindenstrauss ±1 random projection (Achlioptas 2003)
    with its quality audit: per probe pair, cosine in the original
    64-dim space vs the 16-dim projected space and the absolute error
    — the measurement that gates replacing full embeddings with cheap
    projections in clustering/near-dup at corpus scale. Micro-integer
    components, md5-derived data-independent sign matrix, exact BIGINT
    dots/norms, full oracle."""
    from tantalus_spark.datapipe.similarity import jl_distortion_pairs

    emb = db_for(spark, sf_dir).table("embeddings")
    return jl_distortion_pairs(emb, out_dim=16, n_probes=50)


def q134_dedup_funnel(spark, sf_dir):
    """Staged dedup funnel with per-document attribution: exact digest
    -> NFC-canonical digest -> n-gram-Jaccard near-dup, each over the
    previous stage's survivors; every document reports the stage that
    removed it ('exact'/'nfc'/'near'/'kept'). The audit before the
    destructive apply (Lee et al. 2022 staging); digest-deterministic
    rules + the greedy first-wins near rule make the whole funnel
    SQL-replayable."""
    from tantalus_spark.datapipe.dedup import dedup_funnel

    docs = db_for(spark, sf_dir).table("documents")
    return dedup_funnel(docs, threshold=0.2, n=3, max_shingle_freq=100)


def q135_js_drift(spark, sf_dir):
    """Drift detection against a frozen reference distribution: every
    source's hashed-unigram distribution scored by Jensen-Shannon
    divergence against a baseline built from the accepted slice
    (src0-src4) — the per-batch monitor of a production ingestion
    pipeline. Exact integer counts,
    nano-quantized contributions, full oracle."""
    from tantalus_spark.datapipe.textstats import (
        js_against_baseline, token_bucket_counts)

    docs = db_for(spark, sf_dir).table("documents")
    ref = docs.filter(F.col("source").isin(
        "src0", "src1", "src2", "src3", "src4"))
    baseline = token_bucket_counts(ref, n_buckets=64)
    return js_against_baseline(docs, baseline, n_buckets=64)


def q136_ivf_recall(spark, sf_dir):
    """Recall@10 audit of the IVF ANN scale path vs exact brute force
    (nprobe=2 of 8 deterministic centroids, 10 probe queries) — the
    FAISS-style evaluation that picks nprobe before an index serves.
    Both legs rank under (cosine desc, id asc); assignment is the
    first-max argmax. Full oracle."""
    emb = db_for(spark, sf_dir).table("embeddings")
    return similarity.ivf_recall(emb, n_centroids=8, k=10, nprobe=2,
                                 n_queries=10)


def q137_lang_confusion(spark, sf_dir):
    """Language-ID evaluation: the (label, prediction) confusion matrix
    of the marker-word heuristic against the labeled lang column, with
    per-label shares — shows where the cheap classifier is safe and
    where it is blind (zh has no marker set -> 'unknown'). One codegen
    map pass + a |langs|^2 integer matrix. Full oracle."""
    from tantalus_spark.datapipe.textstats import lang_confusion

    docs = db_for(spark, sf_dir).table("documents")
    return lang_confusion(docs)


def q138_pq_recall(spark, sf_dir):
    """Recall@10 audit of the PQ/ADC quantized path vs the exact
    dot-product ranking (the q136 twin for the memory-side lever):
    q74's integerized-vector + fixed-codebook exactness convention, a
    batch ADC job scoring all 10 queries at once, both legs ranked
    under (score desc, id asc). Full oracle."""
    emb = db_for(spark, sf_dir).table("embeddings")
    return similarity.pq_recall(emb, m=8, n_codes=16, k=10,
                                n_queries=10)


def q140_group_split(spark, sf_dir):
    """Leakage-free train/val/test split: duplicate FAMILIES (exact /
    Unicode-equivalence classes via the NFC digest) hash as one unit on
    their canonical id, so no family straddles splits by construction —
    the fix-side op for the contamination q96 split_leakage measures.
    Full oracle (md5 bucket ranges replay in SQL)."""
    from tantalus_spark.datapipe.sampling import group_split

    docs = db_for(spark, sf_dir).table("documents")
    return group_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})


def q141_hybrid_serve(spark, sf_dir):
    """Fully index-served hybrid retrieval — BOTH legs off build-time
    artifacts with zero raw-text scans at query time: BM25 from the
    q123 postings index + its (n_docs, avgdl) stats, the dense cosine
    leg from the q130 hashed-feature table + its norms sidecar, RRF
    fusion over <= 2·depth rows. Bit-identical to q131 on the same
    corpus (parity test); the serving plan performs NO corpus-wide
    aggregate (plan-contract test). Completes the index-once/query-many
    lifecycle for the reference's free-text search
    (search_util/search_helper.py:27-49)."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_indexed)

    docs = db_for(spark, sf_dir).table("documents")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    feats = hashed_features(docs, dim=64).persist()
    # ENRICHED layout — the default written artifact since r9: the
    # norm column rides on every (id, bucket) row, so the serving plan
    # has ZERO norm joins (bit-identical to the sidecar layout,
    # differential test in tests/test_textstats.py; plan contract in
    # tests/test_plans.py)
    enriched = feats.join(hashed_norms(feats), "doc_id")
    out = hybrid_serve_indexed(
        idx, ["customer", "sort", "hash"], enriched, k=15, depth=40,
        rrf_k=60, dim=64, n_docs=n_docs, avgdl=avgdl)
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [feats])


def q142_group_split_clustered(spark, sf_dir):
    """Leakage-free split with the NEAR-DUP family tier: a frozen
    cluster map (here the case-fold equivalence classes — a strictly
    coarser, fully-SQL-replayable family source standing in for the
    dup_clusters/semantic_dup_clusters output a production run feeds)
    is lifted to the NFC-family level, so twins that are NOT byte- or
    NFC-equal still land in one split. Closes the q96-measured leakage
    q140's exact tier leaves for near-duplicates."""
    from tantalus_spark.datapipe.sampling import group_split
    from tantalus_spark.datapipe.textstats import normalize_nfc

    docs = db_for(spark, sf_dir).table("documents")
    n = normalize_nfc(docs.filter(F.col("text").isNotNull()))
    lowered = n.select("doc_id",
                       F.md5(F.lower(F.col("norm_text"))).alias("_ld"))
    cmap = (lowered.join(
                lowered.groupBy("_ld").agg(F.min("doc_id").alias("cl")),
                "_ld")
            .select("doc_id", "cl"))
    return group_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1},
                       cluster_map=cmap)


def q146_ivf_balance(spark, sf_dir):
    """IVF inverted-list balance audit (FAISS's imbalance factor): per
    list, vector count and share, plus nlist·Σn²/N² — the stat that
    decides when centroids need retraining and what nprobe really
    costs. Deterministic centroids (the embeddings of the first 8 ids,
    the q136 contract) make it engine-replayable; dead lists appear
    with n_vecs 0. One assign map pass + an nlist-row groupBy."""
    from tantalus_spark.datapipe.similarity import ivf_list_balance

    emb = db_for(spark, sf_dir).table("embeddings")
    # unordered collect + driver-side sort: an orderBy on the 8-row
    # head plans a range-exchange job the query does not need (r14)
    head = sorted(emb.filter(F.col("embedding").isNotNull())
                     .filter(F.col("vec_id") < 8).collect(),
                  key=lambda r: r["vec_id"])
    cents = [[float(x) for x in r["embedding"]] for r in head]
    return ivf_list_balance(emb, cents)


def q145_score_calibration(spark, sf_dir):
    """Reliability diagram for the logistic quality scorer (q78)
    against the C4 rule gate (q118): per predicted-probability decile,
    the rule gate's actual pass rate — the eval that says whether the
    cheap learned score can replace the rule cascade at an operating
    point. One projection computes logit + bin + label (score and
    label are both per-row text expressions — no join, no second
    scan); binning compares the logit to literal logit-space cuts
    (no exp() near a boundary); mean logits sum exact micro-integers.
    Full oracle."""
    from tantalus_spark.datapipe.textstats import score_calibration

    docs = db_for(spark, sf_dir).table("documents")
    return score_calibration(docs, n_bins=10)


def q143_pruned_index_serve(spark, sf_dir):
    """Delete-side index lifecycle (prune_term_index): tombstone every
    doc_id divisible by 7 out of the postings index WITHOUT rescanning
    the surviving corpus (broadcast anti-join + exact O(removed) stats
    downdate), then serve BM25 from the pruned index + downdated
    stats — scores are bit-identical to a full rebuild over the
    survivors, which is exactly what the oracle computes. Completes
    build → merge → prune → serve."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index, prune_term_index)

    docs = db_for(spark, sf_dir).table("documents")
    idx, stats = build_term_index(docs, with_stats=True)
    removed = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    idx_p, (n_p, avg_p) = prune_term_index(idx, stats, removed)
    return bm25_rank_indexed(idx_p, ["customer", "merge", "sort"],
                             k=15, n_docs=n_p, avgdl=avg_p)


def q144_merged_dense_serve(spark, sf_dir):
    """Insert-side dense-leg lifecycle (merge_hashed_index): fold the
    doc_id >= 400 batch into the hashed-feature table + norms sidecar
    built from the older docs (two unions, zero old-corpus rescans),
    then serve the dense cosine leg from the merged artifacts — ranks
    bit-identical to a rebuild over the union, which the oracle
    computes."""
    from tantalus_spark.datapipe.textstats import (
        _dense_leg_scored, _query_hashed_features, hashed_features,
        hashed_norms, merge_hashed_index)

    docs = db_for(spark, sf_dir).table("documents")
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    feats_old = hashed_features(old, dim=64)
    norms_old = hashed_norms(feats_old)
    # ENRICHED layout (r9 default): merge keeps the norm column on the
    # delta too, and the serve runs with zero norm joins
    feats, _norms = merge_hashed_index(feats_old.join(norms_old,
                                                      "doc_id"),
                                       norms_old, new, dim=64)
    qf = _query_hashed_features(["customer", "sort", "hash"], 64)
    return _dense_leg_scored(feats, qf, depth=25, id_col="doc_id",
                             norms=None)


def q147_hybrid_serve_batch(spark, sf_dir):
    """Batched hybrid serving (hybrid_serve_topk_batch): THREE queries
    served through both index legs in ONE distributed job — the
    postings scan pruned once to the union of the queries' terms, the
    ENRICHED feature scan pruned once to the union of their buckets,
    per-query reductions as rank windows, per-query RRF fusion. Each
    query's rows are bit-identical to the per-query server
    (differential test); the plan has exactly three artifact scans
    however many queries arrive (plan-contract test). The throughput
    shape of the serving tier: one job per batch, not one per query."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_topk_batch)

    docs = db_for(spark, sf_dir).table("documents")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    feats = hashed_features(docs, dim=64).persist()
    enriched = feats.join(hashed_norms(feats), "doc_id")
    out = hybrid_serve_topk_batch(
        idx, [(1, ["customer", "sort", "hash"]),
              (2, ["merge", "join"]),
              (3, ["hash", "table"])],
        enriched, k=10, depth=40, rrf_k=60, dim=64,
        n_docs=n_docs, avgdl=avgdl)
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [feats])


def q148_ivf_index_health(spark, sf_dir):
    """IVF index health report (ivf_index_health): per-list balance +
    sampled recall@k at the serving nprobe, from ONE shared assign
    pass — the single job that emits every retrain/re-probe decision
    input (the q136 + q146 composition SCALING.md's serving section
    calls for). Deterministic q136/q146 contract (first-8-id centroids,
    first-10-id queries); full oracle."""
    from tantalus_spark.datapipe.similarity import ivf_index_health

    emb = db_for(spark, sf_dir).table("embeddings")
    return ivf_index_health(emb, n_centroids=8, k=10, nprobe=2,
                            n_queries=10)


def q149_maintained_ann_serve(spark, sf_dir):
    """Full ANN index lifecycle in one oracled entry (merge_ann_index /
    prune_ann_index): build the IVFPQ code table over the old vectors
    (vec_id < 300), tombstone every old id divisible by 7 (one
    broadcast anti-join), fold the vec_id >= 300 batch in with the
    FROZEN quantizer + codebooks (assign+encode over the delta only),
    then serve ivf_pq_topk from the maintained table — bit-identical to
    a rebuild over the surviving union with the same artifacts, which
    is exactly what the oracle computes. Deterministic q136/q138
    contracts: centroids = first-8-id embeddings, codebooks = subspace
    slices of ids 1..16, vectors integerized floor(x*32) so every
    distance/ADC dot is exact integer arithmetic."""
    from tantalus_spark.datapipe.similarity import (
        ivf_assign, ivf_pq_topk, merge_ann_index, pq_encode,
        prune_ann_index)

    emb = db_for(spark, sf_dir).table("embeddings")
    iv = (emb.filter(F.col("embedding").isNotNull())
             .select("vec_id",
                     F.transform("embedding",
                                 lambda x: F.floor(x.cast("double")
                                                   * F.lit(32.0))
                                 .cast("double")).alias("embedding")))
    # unordered collect (by_id is a dict — row order is immaterial);
    # the old orderBy planned a range-exchange job per call (r14)
    head = iv.filter(F.col("vec_id") <= 16).collect()
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in head}
    cents = [by_id[i] for i in range(8)]
    books = [[by_id[c + 1][j * 8:(j + 1) * 8] for c in range(16)]
             for j in range(8)]
    old = iv.filter(F.col("vec_id") < 300)
    new = iv.filter(F.col("vec_id") >= 300)
    codes = (ivf_assign(old, cents).select("vec_id", "ivf_list")
             .join(pq_encode(old, books), "vec_id"))
    codes = prune_ann_index(
        codes, old.filter(F.col("vec_id") % 7 == 0).select("vec_id"))
    codes = merge_ann_index(codes, new, cents, books)
    return ivf_pq_topk(codes, cents, books, by_id[0], k=12, nprobe=3)


def q150_maintained_novel_serve(spark, sf_dir):
    """LSH band-index lifecycle (merge_band_index / prune_band_index):
    build the band table over the even-id corpus, tombstone every
    indexed id divisible by 10 (their near-twins become novel again —
    right-to-be-forgotten for dedup state), fold the id % 4 == 1 batch
    in (band the delta only, one union), then serve novelty detection
    for the id % 4 == 3 probe batch against the MAINTAINED index —
    identical to q86's detector over the maintained population, which
    is what the oracle computes. Completes the maintenance story for
    the fourth serving-index family (postings, dense-hash, IVFPQ code
    table, LSH bands)."""
    docs = db_for(spark, sf_dir).table("documents")
    idx = dedup.minhash_bands(
        docs.filter(F.col("doc_id") % 2 == 0), hash_family="md5")
    idx = dedup.prune_band_index(
        idx, docs.filter(F.col("doc_id") % 10 == 0).select("doc_id"))
    idx = dedup.merge_band_index(
        idx, docs.filter(F.col("doc_id") % 4 == 1), hash_family="md5")
    return dedup.novel_documents(
        docs.filter(F.col("doc_id") % 4 == 3), idx, hash_family="md5")


def q151_ann_serve_batch(spark, sf_dir):
    """Batched IVFPQ serving (ivf_pq_topk_batch): THREE queries scored
    against the maintained-style code table in ONE job — code scan
    pruned once to the union of all probed lists, per-query broadcast
    probe + ADC tables, per-query rank windows. The ANN twin of q147's
    batched hybrid tier. Same deterministic q136/q138 contracts as
    q149 (first-8-id centroids, id-slice codebooks, integerized
    vectors so the ADC sums are exact)."""
    from tantalus_spark.datapipe.similarity import (ivf_assign,
                                                    ivf_pq_topk_batch,
                                                    pq_encode)

    emb = db_for(spark, sf_dir).table("embeddings")
    iv = (emb.filter(F.col("embedding").isNotNull())
             .select("vec_id",
                     F.transform("embedding",
                                 lambda x: F.floor(x.cast("double")
                                                   * F.lit(32.0))
                                 .cast("double")).alias("embedding")))
    # unordered collect (by_id is a dict — row order is immaterial);
    # the old orderBy planned a range-exchange job per call (r14)
    head = iv.filter(F.col("vec_id") <= 16).collect()
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in head}
    cents = [by_id[i] for i in range(8)]
    books = [[by_id[c + 1][j * 8:(j + 1) * 8] for c in range(16)]
             for j in range(8)]
    codes = (ivf_assign(iv, cents).select("vec_id", "ivf_list")
             .join(pq_encode(iv, books), "vec_id"))
    return ivf_pq_topk_batch(
        codes, cents, books,
        [(0, by_id[0]), (5, by_id[5]), (9, by_id[9])],
        k=10, nprobe=3)


def q152_segmented_store_serve(spark, sf_dir):
    """The LSM segmented store's correctness, driver-visible: commit
    THREE CDC micro-batches through index_refresh_batches — adds
    (doc_id%3==0), then deletes (21|id) + a same-batch delete/re-add
    (42|id) + more adds (%3==1), then the rest (%3==2), with
    max_segments=2 so the last commit exercises the compaction fold
    and GC — then serve BM25 straight off load_term_index's masked
    view + manifest stats. Bit-identical to a full rebuild over the
    survivors (NOT (21|id AND NOT 42|id)), which is exactly what the
    oracle computes: delta segments, tombstone masking, the
    ts_seq > seg_seq re-add rule, exact integer stats math, compaction
    and the pointer swap all sit on the oracled path. The on-disk
    store is a throwaway tempdir (unique per call; the serve plan
    reads it lazily, so it must outlive the return — cleanup is
    deferred to process exit via atexit, after every collect)."""
    import atexit
    import shutil
    import tempfile

    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    docs = db_for(spark, sf_dir).table("documents").select("doc_id",
                                                           "text")
    ix = tempfile.mkdtemp(prefix="tantalus_q152_")
    atexit.register(shutil.rmtree, ix, ignore_errors=True)
    cb = index_refresh_batches(ix, op_col="op", max_segments=2)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    cb(add(docs.filter(F.col("doc_id") % 3 == 0)), 0)
    dels = (docs.filter(F.col("doc_id") % 21 == 0)
                .select("doc_id",
                        F.lit(None).cast("string").alias("text"))
                .withColumn("op", F.lit("delete")))
    cb(add(docs.filter(F.col("doc_id") % 3 == 1))
       .unionByName(dels)
       .unionByName(add(docs.filter(F.col("doc_id") % 42 == 0))), 1)
    cb(add(docs.filter(F.col("doc_id") % 3 == 2)), 2)
    postings, (n, avgdl) = load_term_index(spark, ix)
    return bm25_rank_indexed(postings, ["customer", "merge", "sort"],
                             k=15, n_docs=n, avgdl=avgdl)


def q153_hybrid_eval_tabular(spark, sf_dir):
    """Offline hybrid evaluation with a TABULAR query set — the r10
    DataFrame-input leg of hybrid_serve_topk_batch made
    driver-visible: the queries are DERIVED FROM THE DATA (each probe
    doc's first three tokens become its query), never materialized on
    the driver — term normalization, query hashing, and per-query
    norms are all expressions; only the batch vocabulary is collected
    for the static IN pruning (plan-contract test holds the DataFrame
    path to the list path's three-artifact-scan shape). Per query
    bit-identical to the list/scalar servers (differential tests)."""
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_topk_batch, tokens)

    docs = db_for(spark, sf_dir).table("documents")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    feats = hashed_features(docs, dim=64).persist()
    enriched = feats.join(hashed_norms(feats), "doc_id")
    qdf = (docs.filter(F.col("doc_id").isin(10, 20, 30))
               .filter(F.col("text").isNotNull())
               .select(F.col("doc_id").alias("query_id"),
                       F.slice(tokens(F.lower(F.col("text"))), 1, 3)
                        .alias("terms")))
    out = hybrid_serve_topk_batch(idx, qdf, enriched, k=10, depth=40,
                                  rrf_k=60, dim=64, n_docs=n_docs,
                                  avgdl=avgdl)
    return _materialize_and_release(out, [feats])


def q154_ann_eval_tabular(spark, sf_dir):
    """Offline ANN evaluation with a TABULAR query set — the r10
    DataFrame-input leg of ivf_pq_topk_batch made driver-visible: the
    q151 artifacts and query ids, but the query VECTORS are read from
    the embeddings table (probe ranking is an expression over the
    centroid literals with _cos_py's zero-norm/tie conventions; ADC
    dots are computed inline with the scalar path's left-to-right
    subspace fold). Same deterministic integerized contract as
    q149/q151, so every value matches q151's oracle bit-for-bit."""
    from tantalus_spark.datapipe.similarity import (ivf_assign,
                                                    ivf_pq_topk_batch,
                                                    pq_encode)

    emb = db_for(spark, sf_dir).table("embeddings")
    iv = (emb.filter(F.col("embedding").isNotNull())
             .select("vec_id",
                     F.transform("embedding",
                                 lambda x: F.floor(x.cast("double")
                                                   * F.lit(32.0))
                                 .cast("double")).alias("embedding")))
    # unordered collect (by_id is a dict — row order is immaterial);
    # the old orderBy planned a range-exchange job per call (r14)
    head = iv.filter(F.col("vec_id") <= 16).collect()
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in head}
    cents = [by_id[i] for i in range(8)]
    books = [[by_id[c + 1][j * 8:(j + 1) * 8] for c in range(16)]
             for j in range(8)]
    codes = (ivf_assign(iv, cents).select("vec_id", "ivf_list")
             .join(pq_encode(iv, books), "vec_id"))
    qdf = (iv.filter(F.col("vec_id").isin(0, 5, 9))
             .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivf_pq_topk_batch(codes, cents, books, qdf, k=10, nprobe=3)


def q156_index_time_travel(spark, sf_dir):
    """Time-travel reads on the segmented store: q152's three CDC
    commits (adds; deletes + same-batch delete/re-add + adds; adds,
    max_segments=2 so the LAST commit compacts) with keep_versions=4
    to retain the whole history — then BM25 served AS OF BATCH 1, a
    snapshot that predates both batch 2's adds and the compaction
    fold. The as-of manifest still references the PRE-fold delta
    segments (GC keeps every segment a retained manifest names —
    history costs deltas, never index copies), so the entry proves
    compaction does not destroy reproducibility: the pinned view +
    its manifest stats are bit-identical to a rebuild over exactly
    the batch-0/1 survivors, which is what the oracle computes
    (doc_id%3 IN (0,1), the delete/re-add rule applied)."""
    import atexit
    import shutil
    import tempfile

    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    docs = db_for(spark, sf_dir).table("documents").select("doc_id",
                                                           "text")
    ix = tempfile.mkdtemp(prefix="tantalus_q156_")
    atexit.register(shutil.rmtree, ix, ignore_errors=True)
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=4)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    cb(add(docs.filter(F.col("doc_id") % 3 == 0)), 0)
    dels = (docs.filter(F.col("doc_id") % 21 == 0)
                .select("doc_id",
                        F.lit(None).cast("string").alias("text"))
                .withColumn("op", F.lit("delete")))
    cb(add(docs.filter(F.col("doc_id") % 3 == 1))
       .unionByName(dels)
       .unionByName(add(docs.filter(F.col("doc_id") % 42 == 0))), 1)
    cb(add(docs.filter(F.col("doc_id") % 3 == 2)), 2)  # fold + GC
    postings, (n, avgdl) = load_term_index(spark, ix, as_of=1)
    return bm25_rank_indexed(postings, ["customer", "merge", "sort"],
                             k=15, n_docs=n, avgdl=avgdl)


def q158_store_stats_audit(spark, sf_dir):
    """Snapshot promotion audit: after q152's three CDC commits
    (adds; deletes + same-batch delete/re-add + adds; adds, with a
    compaction fold), audit_term_index recomputes the corpus stats
    from the LIVE doclens view (masked union, per-doc rows — the
    postings are never read) and compares them to the manifest's
    exact integers, which the maintainer carried by
    increment/decrement arithmetic through every add, delete,
    delete/re-add, and the fold. The oracle recomputes both sides
    from the survivor set and asserts consistency — a driver-visible
    proof that the O(1)-per-commit stats bookkeeping equals the data
    after the full CDC lifecycle."""
    import atexit
    import shutil
    import tempfile

    from tantalus_spark.streaming.maintenance import (
        audit_term_index, index_refresh_batches)

    docs = db_for(spark, sf_dir).table("documents").select("doc_id",
                                                           "text")
    ix = tempfile.mkdtemp(prefix="tantalus_q158_")
    atexit.register(shutil.rmtree, ix, ignore_errors=True)
    cb = index_refresh_batches(ix, op_col="op", max_segments=2)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    cb(add(docs.filter(F.col("doc_id") % 3 == 0)), 0)
    dels = (docs.filter(F.col("doc_id") % 21 == 0)
                .select("doc_id",
                        F.lit(None).cast("string").alias("text"))
                .withColumn("op", F.lit("delete")))
    cb(add(docs.filter(F.col("doc_id") % 3 == 1))
       .unionByName(dels)
       .unionByName(add(docs.filter(F.col("doc_id") % 42 == 0))), 1)
    cb(add(docs.filter(F.col("doc_id") % 3 == 2)), 2)
    return audit_term_index(spark, ix)


def q159_snapshot_promote_serve(spark, sf_dir):
    """Snapshot PROMOTION end to end, driver-visible: q152's three
    CDC commits (adds; deletes + same-batch delete/re-add + adds;
    adds, max_segments=2 so the fold fires), then
    export_term_snapshot promotes CURRENT — the audit gate verifies
    the manifest's integers against a live doclens recount, the
    masked multi-segment view is folded into ONE immutable
    term-sorted artifact, and snapshot.json commits last — and the
    serve runs off load_term_snapshot: one postings scan per BM25
    leg, zero tombstone joins (plan-contract test in
    tests/test_plans.py). Bit-identical to q152's live-store serve
    and to a full rebuild over the survivors, which is what the
    oracle computes. This is the LSM-for-writes /
    snapshot-for-reads production split: the store keeps absorbing
    CDC while training runs and serving fleets read promoted,
    pinned, audited artifacts."""
    import atexit
    import shutil
    import tempfile

    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        export_term_snapshot, index_refresh_batches,
        load_term_snapshot)

    docs = db_for(spark, sf_dir).table("documents").select("doc_id",
                                                           "text")
    root = tempfile.mkdtemp(prefix="tantalus_q159_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    cb = index_refresh_batches(root + "/ix", op_col="op",
                               max_segments=2)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    cb(add(docs.filter(F.col("doc_id") % 3 == 0)), 0)
    dels = (docs.filter(F.col("doc_id") % 21 == 0)
                .select("doc_id",
                        F.lit(None).cast("string").alias("text"))
                .withColumn("op", F.lit("delete")))
    cb(add(docs.filter(F.col("doc_id") % 3 == 1))
       .unionByName(dels)
       .unionByName(add(docs.filter(F.col("doc_id") % 42 == 0))), 1)
    cb(add(docs.filter(F.col("doc_id") % 3 == 2)), 2)
    export_term_snapshot(spark, root + "/ix", root + "/snap",
                         partitions=8)
    postings, (n, avgdl) = load_term_snapshot(spark, root + "/snap")
    return bm25_rank_indexed(postings, ["customer", "merge", "sort"],
                             k=15, n_docs=n, avgdl=avgdl)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name[1:]: fn
    for name, fn in list(globals().items())
    if name.startswith("q") and name[1:3].isdigit() and callable(fn)
}


ORACLES: dict[str, str] = {
    "01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
               CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
               CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "02_point_lookup": """
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey = 7
    """,
    "03_distinct_projection": """
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    "04_range_in_filter": """
        SELECT l_returnflag, count(*) AS n FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
          AND l_returnflag IN ('N','R')
        GROUP BY l_returnflag
    """,
    "05_string_predicates": """
        SELECT p_brand, count(*) AS n FROM part
        WHERE p_name LIKE 'a%' OR p_name LIKE '%ol%' OR p_type LIKE '%D'
        GROUP BY p_brand
    """,
    "06_token_or_search": """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n FROM orders
        WHERE (lower(o_orderpriority) LIKE '%u%' OR lower(o_orderstatus) LIKE '%u%')
          AND (lower(o_orderpriority) LIKE '%f%' OR lower(o_orderstatus) LIKE '%f%')
        GROUP BY o_orderpriority, o_orderstatus
    """,
    "07_region_revenue": """
        SELECT r_name,
               CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
               count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "08_semi_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c.c_custkey
                        AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
    """,
    "09_anti_join": """
        SELECT c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey
                            AND o_orderdate >= TIMESTAMP '1998-01-01')
    """,
    "10_exists_same_child": """
        SELECT o_orderkey FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l JOIN part p ON l_partkey = p_partkey
                      WHERE l.l_orderkey = o.o_orderkey
                        AND p.p_brand = 'Brand#11' AND l.l_quantity <= 5)
    """,
    "11_exists_diff_child": """
        SELECT o_orderkey FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l JOIN part p ON l_partkey = p_partkey
                      WHERE l.l_orderkey = o.o_orderkey AND p.p_brand = 'Brand#11')
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity <= 5)
    """,
    "12_exclude_not_exists": """
        SELECT c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F')
    """,
    "13_count_distinct": """
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT l_partkey) AS n_part,
               count(*) AS n_items
        FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 6
    """,
    "15_cross_agg_eq": """
        SELECT o_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT l_partkey) AS n_part
        FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderkey
        HAVING count(DISTINCT l_suppkey) = count(DISTINCT l_partkey)
    """,
    "16_pagination": """
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC OFFSET 100 LIMIT 20
    """,
    "17_window_lag": """
        SELECT o_custkey, o_orderkey,
               round(o_totalprice - lag(o_totalprice) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
               AS delta_price
        FROM orders
    """,
    "18_topk_per_group": """
        SELECT o_custkey, o_orderkey, rn FROM (
          SELECT o_custkey, o_orderkey,
                 CAST(row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
          FROM orders) WHERE rn <= 3
    """,
    "19_union_dedup": """
        SELECT 'customer' AS entity, c_name AS name FROM customer
        UNION
        SELECT 'supplier' AS entity, s_name AS name FROM supplier
    """,
    "20_set_ops": """
        SELECT o_custkey, 'diff' AS op FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
          EXCEPT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        UNION ALL
        SELECT o_custkey, 'inter' AS op FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
          INTERSECT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
    """,
    "22_scalar_functions": """
        SELECT p_partkey,
               lower(p_name) AS name_lower,
               substr(p_name, 1, 8) AS name_prefix,
               p_brand || '::' || p_type AS brand_type,
               CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents
        FROM part
    """,
    "23_date_format": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS od,
               CAST(year(o_orderdate) AS INTEGER) AS oy,
               CAST(month(o_orderdate) AS INTEGER) AS om
        FROM orders
    """,
    "24_event_scalars": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
               CASE WHEN event_type = 'click' THEN '/ui/' || event_type
                    WHEN event_type = 'error' THEN '/log/' || event_type
                    ELSE '/data/' || event_type END AS path,
               coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS et,
               CASE WHEN value > 50 THEN value END AS big_val
        FROM events
    """,
    "26_search_union": """
        SELECT 'customer' AS entity, c_custkey AS id, c_name AS display
        FROM customer WHERE lower(c_name) LIKE '%ol%'
        UNION ALL
        SELECT 'supplier', s_suppkey, s_name FROM supplier
        WHERE lower(s_name) LIKE '%ol%'
        UNION ALL
        SELECT 'part', p_partkey, p_name FROM part
        WHERE lower(p_name) LIKE '%ol%'
    """,
    "28_pivot": """
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_linestatus = 'O') AS "O",
               count(*) FILTER (WHERE l_linestatus = 'F') AS "F"
        FROM lineitem GROUP BY l_returnflag
    """,
    "29_rollup": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "30_window_frames": """
        SELECT l_suppkey, l_orderkey, l_linenumber,
               SUM(l_quantity) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
               round(avg(l_quantity) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS ma4_qty
        FROM lineitem
    """,
    "33_collect_set": """
        SELECT o_custkey,
               array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
                 AS priorities,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
    "34_percentiles": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.50) AS p50,
               quantile_cont(l_extendedprice, 0.90) AS p90,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    """,
    "36_first_last": """
        SELECT l_orderkey, l_linenumber,
               first_value(l_shipdate) OVER w AS first_ship,
               last_value(l_shipdate) OVER w AS last_ship,
               nth_value(l_shipdate, 2) OVER w AS second_ship
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_shipdate, l_partkey, l_suppkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "37_explode_tokens": """
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
        GROUP BY token
    """,
    "38_cube": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty, count(*) AS n,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS INTEGER) AS gid
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "39_dashboard_counts": """
        SELECT 'region' AS entity, count(*) AS n FROM region
        UNION ALL SELECT 'nation', count(*) FROM nation
        UNION ALL SELECT 'customer', count(*) FROM customer
        UNION ALL SELECT 'supplier', count(*) FROM supplier
        UNION ALL SELECT 'part', count(*) FROM part
        UNION ALL SELECT 'orders', count(*) FROM orders
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        UNION ALL SELECT 'events', count(*) FROM events
    """,
    "40_dedup_exact": """
        SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "41_doc_profile": """
        WITH t AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS txt
                   FROM documents),
        s AS (SELECT doc_id, text,
               CAST(len(string_split(txt, ' the '))-1 + len(string_split(txt, ' and '))-1
                  + len(string_split(txt, ' of '))-1 + len(string_split(txt, ' a '))-1 AS INTEGER) AS score_en,
               CAST(len(string_split(txt, ' el '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' los '))-1 + len(string_split(txt, ' de '))-1 AS INTEGER) AS score_es,
               CAST(len(string_split(txt, ' le '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' les '))-1 + len(string_split(txt, ' des '))-1 AS INTEGER) AS score_fr,
               CAST(len(string_split(txt, ' der '))-1 + len(string_split(txt, ' die '))-1
                  + len(string_split(txt, ' das '))-1 + len(string_split(txt, ' und '))-1 AS INTEGER) AS score_de
              FROM t)
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
               CAST(floor(length(text) / 4) AS INTEGER) AS n_subwords_est,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
               round(length(text)*1.0
                 / len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')), 4) AS chars_per_token,
               CAST(length(text) AS INTEGER) AS n_chars,
               round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0 / length(text), 4) AS alpha_ratio,
               round(length(regexp_replace(text, '[^\\s]', '', 'g'))*1.0 / length(text), 4) AS space_ratio,
               round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))*1.0 / length(text), 4) AS punct_ratio,
               round(length(text)*1.0 / len(string_split_regex(trim(text), '\\s+')), 4) AS avg_token_len,
               score_en, score_es, score_fr, score_de,
               CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                    WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                    WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                    ELSE 'de' END AS lang_pred,
               md5(text) AS md5,
               sha256(text) AS sha256,
               substr(md5(lower(trim(text))), 1, 8) AS norm_prefix
        FROM s
    """,
    "44_ngram_jaccard": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        -- same posting-list cap as the Spark path (max_shingle_freq=100)
        sh AS (
          SELECT * FROM sh0 WHERE shingle NOT IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2, round(i*1.0/(na.n_sh + nb.n_sh - i), 4) AS jaccard
        FROM inter
        JOIN counts na ON na.doc_id = d1
        JOIN counts nb ON nb.doc_id = d2
        WHERE i*1.0/(na.n_sh + nb.n_sh - i) >= 0.2
    """,
    "47_ann_cosine": """
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]), 4) + 0.0 AS cosine
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) DESC, vec_id ASC
        LIMIT 10
    """,
    "51_embedding_near_dup": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 4) + 0.0 AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    """,
    "52_ivf_ann": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        assign AS (
          SELECT e.vec_id, e.v,
                 (SELECT cid FROM cent
                  ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cid ASC
                  LIMIT 1) AS lst
          FROM e),
        probe AS (SELECT cid FROM cent, q
                  ORDER BY CASE WHEN isnan(list_cosine_similarity(cv, qv))
                                THEN 0.0
                                ELSE list_cosine_similarity(cv, qv) END
                           DESC, cid ASC
                  LIMIT 2)
        SELECT a.vec_id, round(list_cosine_similarity(a.v, qv), 4) + 0.0 AS cosine
        FROM assign a, q WHERE a.lst IN (SELECT cid FROM probe)
        ORDER BY list_cosine_similarity(a.v, qv) DESC, a.vec_id ASC
        LIMIT 10
    """,
    "53_winnowing": """
        WITH toked AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, i AS pos,
                 (  (('0x'||substr(md5(t[i]),  1,15))::BIGINT % 1000000007) * 1         % 1000000007
                  + (('0x'||substr(md5(t[i+1]),1,15))::BIGINT % 1000000007) * 1000003   % 1000000007
                  + (('0x'||substr(md5(t[i+2]),1,15))::BIGINT % 1000000007) * 5993009   % 1000000007
                  + (('0x'||substr(md5(t[i+3]),1,15))::BIGINT % 1000000007) * 26937076  % 1000000007
                  + (('0x'||substr(md5(t[i+4]),1,15))::BIGINT % 1000000007) * 156622669 % 1000000007
                 ) % 1000000007 AS gh
          FROM toked, UNNEST(range(1, greatest(len(t)-3, 1))) AS u(i)),
        wins AS (
          SELECT doc_id,
                 min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          FROM grams),
        fps AS (SELECT DISTINCT doc_id, fp FROM wins)
        SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp,
               max(fp) AS max_fp, CAST(SUM(fp) AS BIGINT) AS sum_fp
        FROM fps GROUP BY doc_id
    """,
    "54_date_lookups": """
        SELECT CAST(month(o_orderdate) AS INTEGER) AS om, count(*) AS n
        FROM orders
        WHERE year(o_orderdate) = 1997 AND quarter(o_orderdate) IN (1, 2)
        GROUP BY 1
    """,
    "55_regex_lookup": """
        SELECT p_brand, count(*) AS n FROM part
        WHERE regexp_matches(p_name, '^[ab]')
          AND regexp_matches(p_type, '(?i)^econ')
        GROUP BY p_brand
    """,
    "58_clean_corpus": """
        WITH q AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens,
                 round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
                       / length(text), 4) AS alpha_ratio,
                 md5(text) AS m
          FROM documents),
        t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS txt FROM documents),
        s AS (SELECT doc_id,
               len(string_split(txt, ' the '))-1 + len(string_split(txt, ' and '))-1
                  + len(string_split(txt, ' of '))-1 + len(string_split(txt, ' a '))-1 AS score_en,
               len(string_split(txt, ' el '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' los '))-1 + len(string_split(txt, ' de '))-1 AS score_es,
               len(string_split(txt, ' le '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' les '))-1 + len(string_split(txt, ' des '))-1 AS score_fr,
               len(string_split(txt, ' der '))-1 + len(string_split(txt, ' die '))-1
                  + len(string_split(txt, ' das '))-1 + len(string_split(txt, ' und '))-1 AS score_de
              FROM t),
        l AS (SELECT doc_id,
               CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                    WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                    WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                    ELSE 'de' END AS lang_pred
              FROM s),
        gated AS (
          SELECT q.doc_id, q.n_tokens, l.lang_pred, q.m
          FROM q JOIN l USING (doc_id)
          WHERE q.n_tokens BETWEEN 10 AND 100000
            AND q.alpha_ratio >= 0.5 AND l.lang_pred IN ('en')),
        keep AS (SELECT m, min(doc_id) AS doc_id FROM gated GROUP BY m)
        SELECT g.doc_id, g.n_tokens, g.lang_pred
        FROM gated g JOIN keep k ON g.doc_id = k.doc_id AND g.m = k.m
    """,
    "59_sliding_window": """
        SELECT ws, event_type, count(*) AS n FROM (
          SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type
          FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR,
                 event_type
          FROM events)
        GROUP BY 1, 2
    """,
    "60_minhash_signatures": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        h AS (SELECT doc_id,
                     ('0x'||substr(md5(shingle),1,15))::BIGINT % 1000000007 AS hv
              FROM sh)
        SELECT doc_id,
               min((hv*3  + 1)   % 1000000007) AS h0,
               min((hv*5  + 2)   % 1000000007) AS h1,
               min((hv*7  + 4)   % 1000000007) AS h2,
               min((hv*11 + 8)   % 1000000007) AS h3,
               min((hv*13 + 16)  % 1000000007) AS h4,
               min((hv*17 + 32)  % 1000000007) AS h5,
               min((hv*19 + 64)  % 1000000007) AS h6,
               min((hv*23 + 128) % 1000000007) AS h7
        FROM h GROUP BY doc_id
    """,
    "61_hash_split": """
        WITH b AS (
          SELECT doc_id,
                 ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                   % 100 AS bkt
          FROM documents),
        s AS (SELECT doc_id,
                     CASE WHEN bkt < 80 THEN 'train'
                          WHEN bkt < 90 THEN 'val'
                          ELSE 'test' END AS split
              FROM b)
        SELECT split, count(*) AS n, min(doc_id) AS min_id,
               max(doc_id) AS max_id
        FROM s GROUP BY split
    """,
    "62_dup_clusters": """
        WITH RECURSIVE tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        -- same posting-list cap as the Spark path (max_shingle_freq=100)
        sh AS (
          SELECT * FROM sh0 WHERE shingle NOT IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        pairs AS (
          SELECT d1, d2 FROM inter
          JOIN counts na ON na.doc_id = d1
          JOIN counts nb ON nb.doc_id = d2
          WHERE i*1.0/(na.n_sh + nb.n_sh - i) >= 0.2),
        edges2 AS (SELECT d1 AS s, d2 AS t FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
        reach AS (
          SELECT s AS v, s AS l FROM edges2
          UNION
          SELECT e.s, r.l FROM edges2 e JOIN reach r ON e.t = r.v)
        SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
    """,
    "63_tfidf": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS term
          FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df AS doc_freq,
                 round(tf.tf * ln(n.n * 1.0 / dfreq.df), 4) AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rk
          FROM scored)
        SELECT doc_id, term, tf, doc_freq, tfidf, rk
        FROM ranked WHERE rk <= 5
    """,
    "64_full_outer": """
        WITH buyers AS (
          SELECT o_custkey AS custkey, count(*) AS n_orders
          FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1),
        cust AS (SELECT c_custkey AS custkey, c_mktsegment FROM customer)
        SELECT CASE WHEN n_orders IS NOT NULL AND c_mktsegment IS NOT NULL
                      THEN 'matched'
                    WHEN n_orders IS NOT NULL THEN 'order_only'
                    ELSE 'customer_only' END AS status,
               count(*) AS n,
               CAST(SUM(coalesce(n_orders, 0)) AS BIGINT) AS total_orders
        FROM buyers FULL OUTER JOIN cust USING (custkey)
        GROUP BY 1
    """,
    "66_ntile": """
        WITH b AS (
          SELECT o_orderpriority,
                 CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                 round(cume_dist() OVER w, 6) AS cd,
                 o_totalprice
          FROM orders
          WINDOW w AS (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey))
        SELECT o_orderpriority, quartile, count(*) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi,
               round(max(cd), 6) AS max_cd
        FROM b GROUP BY 1, 2
    """,
    "67_latest_per_key": """
        SELECT user_id, event_type, event_id, value FROM (
          SELECT user_id, event_type, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """,
    "49_tumbling_window": """
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
               count(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "50_sessionization": """
        WITH g AS (
          SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events)
        SELECT user_id,
               CAST(SUM(CASE WHEN prev IS NULL OR sec - prev > 1800
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM g GROUP BY user_id
    """,
    "68_range_join": """
        SELECT p.event_id, p.user_id, count(c.ts) AS n_clicks_prev_hour
        FROM events p
        LEFT JOIN events c
          ON c.user_id = p.user_id AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY p.event_id, p.user_id
    """,
    "70_decontaminate": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
                   AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-3, 1))) AS u(i)),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5)
        SELECT s.doc_id, count(*) AS n_hits
        FROM sh s JOIN bench b ON s.shingle = b.shingle
        WHERE s.doc_id >= 5
        GROUP BY s.doc_id
    """,
    "71_weighted_mix": """
        WITH b AS (
          SELECT doc_id,
                 ('0x'||substr(md5('web_'||CAST(doc_id AS VARCHAR)),1,15))
                   ::BIGINT % 100 AS bkt_web,
                 ('0x'||substr(md5('code_'||CAST(doc_id AS VARCHAR)),1,15))
                   ::BIGINT % 100 AS bkt_code
          FROM documents),
        m AS (
          SELECT doc_id, 'web' AS source FROM b
          WHERE doc_id % 2 = 0 AND bkt_web < 60
          UNION ALL
          SELECT doc_id, 'code' AS source FROM b
          WHERE doc_id % 2 = 1 AND bkt_code < 20)
        SELECT source, count(*) AS n,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM m GROUP BY source
    """,
    "72_chunk_documents": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM documents),
        c AS (
          SELECT doc_id,
                 CAST((i - 1) / 48 AS INTEGER) AS chunk_idx,
                 list_slice(t, i, i + 63) AS chunk
          FROM tok, UNNEST(range(1, greatest(len(t) - 16, 1) + 1, 48)) AS u(i))
        SELECT doc_id, chunk_idx,
               CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
               array_to_string(chunk, ' ') AS chunk_text
        FROM c
    """,
    "73_repetition": """
        WITH f AS (
          SELECT doc_id,
                 string_split(text, chr(10)) AS lines,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents)
        SELECT doc_id,
               round(1 - len(list_distinct(lines))*1.0 / len(lines), 4)
                 AS dup_line_ratio,
               round(1 - len(list_distinct(toks))*1.0 / len(toks), 4)
                 AS dup_token_ratio
        FROM f
    """,
    # 74: PQ encode + ADC top-k replayed exactly — the gated entry
    # integerizes vectors (floor(x*32), exact in float64) and fixes the
    # codebook to slices of vec_id 1..16, so every distance, argmin code,
    # ADC table cell, and final score is exact integer arithmetic that
    # DuckDB reproduces bit-for-bit. Ties: argmin -> lowest centroid
    # (numpy first-occurrence), top-k -> (score desc, vec_id asc).
    "74_pq_ann": """
        WITH iv AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> floor(CAST(x AS DOUBLE) * 32)) AS v
          FROM embeddings),
        js AS (SELECT unnest(range(0, 8)) AS j),
        cb AS (
          SELECT js.j, iv.vec_id - 1 AS c,
                 list_slice(iv.v, js.j*8 + 1, js.j*8 + 8) AS bv
          FROM iv, js WHERE iv.vec_id BETWEEN 1 AND 16),
        dist AS (
          SELECT iv.vec_id, cb.j, cb.c,
                 list_sum(list_transform(range(1, 9), i ->
                   (iv.v[cb.j*8 + i] - cb.bv[i])
                   * (iv.v[cb.j*8 + i] - cb.bv[i]))) AS d2
          FROM iv, cb),
        code AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2, c) AS rn
            FROM dist) WHERE rn = 1),
        q AS (SELECT v FROM iv WHERE vec_id = 0),
        adc AS (
          SELECT cb.j, cb.c,
                 list_sum(list_transform(range(1, 9), i ->
                   q.v[cb.j*8 + i] * cb.bv[i])) AS dot
          FROM cb, q),
        score AS (
          SELECT code.vec_id, SUM(adc.dot) AS s
          FROM code JOIN adc ON code.j = adc.j AND code.c = adc.c
          GROUP BY code.vec_id)
        SELECT vec_id, ROUND(s, 4) AS adc_dot FROM score
        ORDER BY s DESC, vec_id LIMIT 10
    """,
    # 45/46/69 gated entries use the md5-derived hash family (production
    # default is xxhash64) so the full LSH pipelines — signatures, banding,
    # candidate generation, verification — replay in SQL. Band/bucket ids
    # are equality-partitioning internals, so the oracle joins on the
    # underlying tuples directly; the candidate sets are identical.
    "45_minhash_lsh": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        -- 60-bit md5 shingle hash: per-doc DISTINCT is on the raw gram
        -- (mirrors array_distinct before hashing on the Spark side)
        sh AS (
          SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS hv FROM sh0),
        sig AS (
          SELECT doc_id,
                 min(((hv % 1000000007) * 3  + 1)     % 1000000007) AS h0,
                 min(((hv % 1000000007) * 5  + 2)     % 1000000007) AS h1,
                 min(((hv % 1000000007) * 7  + 4)     % 1000000007) AS h2,
                 min(((hv % 1000000007) * 11 + 8)     % 1000000007) AS h3,
                 min(((hv % 1000000007) * 13 + 16)    % 1000000007) AS h4,
                 min(((hv % 1000000007) * 17 + 32)    % 1000000007) AS h5,
                 min(((hv % 1000000007) * 19 + 64)    % 1000000007) AS h6,
                 min(((hv % 1000000007) * 23 + 128)   % 1000000007) AS h7,
                 min(((hv % 1000000007) * 29 + 256)   % 1000000007) AS h8,
                 min(((hv % 1000000007) * 31 + 512)   % 1000000007) AS h9,
                 min(((hv % 1000000007) * 37 + 1024)  % 1000000007) AS h10,
                 min(((hv % 1000000007) * 41 + 2048)  % 1000000007) AS h11,
                 min(((hv % 1000000007) * 43 + 4096)  % 1000000007) AS h12,
                 min(((hv % 1000000007) * 47 + 8192)  % 1000000007) AS h13,
                 min(((hv % 1000000007) * 53 + 16384) % 1000000007) AS h14,
                 min(((hv % 1000000007) * 59 + 32768) % 1000000007) AS h15
          FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM sig
          UNION ALL
          SELECT doc_id, 1, h4, h5, h6, h7 FROM sig
          UNION ALL
          SELECT doc_id, 2, h8, h9, h10, h11 FROM sig
          UNION ALL
          SELECT doc_id, 3, h12, h13, h14, h15 FROM sig),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.x0 = b.x0 AND a.x1 = b.x1
           AND a.x2 = b.x2 AND a.x3 = b.x3 AND a.doc_id < b.doc_id),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.d1, c.d2, count(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.hv = s1.hv
          GROUP BY c.d1, c.d2)
        SELECT d1, d2, round(i*1.0/(na.n_sh + nb.n_sh - i), 4) AS jaccard
        FROM inter
        JOIN counts na ON na.doc_id = d1
        JOIN counts nb ON nb.doc_id = d2
        WHERE i*1.0/(na.n_sh + nb.n_sh - i) >= 0.2
    """,
    "46_simhash": """
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tkn
          FROM documents),
        hb AS (
          SELECT doc_id, ('0x'||substr(md5(tkn),1,15))::BIGINT AS hv
          FROM tok),
        -- 60-bit simhash: per bit k, sum +1/-1 over ALL tokens (dup-aware)
        acc AS (
          SELECT doc_id, k,
                 sum(CASE WHEN (hv >> k) & 1 = 1 THEN 1 ELSE -1 END) AS a
          FROM hb, UNNEST(range(0, 60)) AS u(k)
          GROUP BY doc_id, k),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN a > 0 THEN (1::BIGINT << k)
                          ELSE 0 END) AS BIGINT) AS sh
          FROM acc GROUP BY doc_id)
        -- pigeonhole chunking is exact-recall, so the oracle skips it:
        -- result = ALL pairs with hamming <= 3
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
    "69_embedding_lsh": """
        -- the dot is an ORDERED left-fold (list_reduce over the ordered
        -- element list), matching Spark's F.aggregate fold exactly: a
        -- group-by SUM leaves float addition order unspecified, and a
        -- near-zero dot could flip sign between engines and change
        -- bucket membership (r3 ADVICE)
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        comp AS (
          SELECT e.vec_id, sp.s,
                 list_reduce(
                   list_transform(range(1, len(e.v)+1), i ->
                     e.v[i] * ((('0x'||substr(md5(sp.s::VARCHAR||'_'||
                                              i::VARCHAR),1,15))::BIGINT
                                % 2001 - 1000) / 1000.0)),
                   (a, b) -> a + b) AS dot
          FROM e, (VALUES (0), (1), (2), (3), (4), (5), (6), (7))
                  AS sp(s)),
        sig AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << s)
                          ELSE 0 END) AS BIGINT) AS b
          FROM comp GROUP BY vec_id)
        SELECT ea.vec_id AS id_a, eb.vec_id AS id_b,
               round(list_cosine_similarity(ea.v, eb.v), 4) + 0.0 AS cosine
        FROM sig a JOIN sig b ON a.b = b.b AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45
    """,
    "76_line_dedup": """
        WITH t AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        l AS (
          SELECT doc_id, i AS pos, ls[i] AS line,
                 md5(trim(lower(ls[i]))) AS lh
          FROM t, UNNEST(range(1, len(ls) + 1)) AS u(i)),
        b AS (
          SELECT lh FROM l GROUP BY lh
          HAVING count(DISTINCT doc_id) >= 2)
        SELECT l.doc_id,
               coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                        FILTER (WHERE b.lh IS NULL), '') AS clean_text,
               CAST(count(*) FILTER (WHERE b.lh IS NULL) AS INTEGER)
                 AS n_lines_kept,
               CAST(count(*) FILTER (WHERE b.lh IS NOT NULL) AS INTEGER)
                 AS n_lines_dropped
        FROM l LEFT JOIN b USING (lh)
        GROUP BY l.doc_id
    """,
    "77_contamination_frac": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
                   AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-3, 1))) AS u(i)),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5)
        SELECT s.doc_id,
               CAST(count(*) AS INTEGER) AS n_shingles,
               CAST(count(b.shingle) AS INTEGER) AS n_hits,
               round(count(b.shingle) * 1.0 / count(*), 4) AS overlap
        FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
        WHERE s.doc_id >= 5
        GROUP BY s.doc_id
    """,
    "78_quality_classifier": """
        WITH f AS (
          SELECT doc_id,
                 ln(len(string_split_regex(trim(text), '\\s+')) + 1.0)
                   AS log_tokens,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                   / length(text) AS alpha_ratio,
                 length(regexp_replace(text, '[^\\s]', '', 'g')) * 1.0
                   / length(text) AS space_ratio,
                 1.0 - len(list_distinct(string_split(text, chr(10)))) * 1.0
                   / len(string_split(text, chr(10))) AS dup_line_ratio
          FROM documents),
        z AS (
          SELECT doc_id,
                 -2.2 + 0.35 * log_tokens + 3.0 * alpha_ratio
                      + 4.0 * space_ratio + (-2.5) * dup_line_ratio AS z
          FROM f)
        SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS quality_score,
               z >= 0.0 AS keep
        FROM z
    """,
    "79_scrub_pii": """
        WITH s AS (
          SELECT doc_id,
                 text || ' contact u' || CAST(doc_id AS VARCHAR)
                      || '@ex.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.7' AS text
          FROM documents),
        c AS (
          SELECT doc_id, text,
            CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              AS INTEGER) AS n_email,
            CAST(len(regexp_extract_all(text,
              '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
              AS INTEGER) AS n_ipv4,
            CAST(len(regexp_extract_all(text,
              '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INTEGER) AS n_ssn,
            CAST(len(regexp_extract_all(text,
              '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INTEGER)
              AS n_phone
          FROM s)
        SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
               CAST(n_email + n_ipv4 + n_ssn + n_phone AS INTEGER) AS n_pii,
               md5(regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                     '[IP]', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                 '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'))
                 AS scrubbed_md5
        FROM c
    """,
    "80_knn_graph": """
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> floor(CAST(x AS DOUBLE) * 32.0)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
                 CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                      ELSE sqrt(list_dot_product(v, v)) END AS nrm
          FROM e),
        p AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
                 list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS c
          FROM n a JOIN n b ON a.vec_id <> b.vec_id)
        SELECT vec_id, nb_id, round(c, 4) + 0.0 AS cosine,
               CAST(rk AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY c DESC, nb_id) AS rk
              FROM p)
        WHERE rk <= 5
    """,
    "81_semantic_dedup": """
        WITH RECURSIVE e AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> floor(CAST(x AS DOUBLE) * 32.0)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
                 CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                      ELSE sqrt(list_dot_product(v, v)) END AS nrm
          FROM e),
        p AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
                 list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS c
          FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        knn AS (
          SELECT vec_id, nb_id, round(c, 4) + 0.0 AS cosine
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY c DESC, nb_id) AS rk
                FROM p)
          WHERE rk <= 5),
        edges2 AS (
          SELECT vec_id AS s, nb_id AS t FROM knn WHERE cosine >= 0.45
          UNION
          SELECT nb_id, vec_id FROM knn WHERE cosine >= 0.45),
        reach AS (
          SELECT s AS v, s AS l FROM edges2
          UNION
          SELECT e2.s, r.l FROM edges2 e2 JOIN reach r ON e2.t = r.v)
        SELECT v AS vec_id, min(l) AS cluster_id FROM reach GROUP BY v
    """,
    "82_strip_markup": """
        WITH s AS (
          SELECT doc_id,
                 '<html><!-- c' || CAST(doc_id AS VARCHAR)
                   || ' --><p class="d">' || text
                   || '</p><script>var x=1;</script></html>' AS t
          FROM documents),
        c AS (
          SELECT doc_id, t,
                 CAST(len(regexp_extract_all(t,
                   '(?s)</?[A-Za-z!][^>]*>')) AS INTEGER) AS n_tags,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(t,
                     '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                     '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g'),
                     '(?s)</?[A-Za-z!][^>]*>', ' ', 'g') AS t2
          FROM s),
        d AS (
          SELECT doc_id, n_tags,
                 replace(replace(replace(replace(replace(replace(t2,
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t3
          FROM c)
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(regexp_replace(t3,
                 '[ \\t\\f\\r]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g'),
                 '\\n+', chr(10), 'g'), ' ' || chr(10)) AS text,
               n_tags AS n_tags_removed
        FROM d
    """,
    "83_corpus_report": """
        WITH f AS (
          SELECT doc_id,
                 len(string_split_regex(trim(text), '\\s+')) AS nt,
                 md5(text) AS m,
                 ' ' || lower(text) || ' ' AS txt
          FROM documents),
        s AS (SELECT doc_id, nt, m,
               len(string_split(txt, ' the '))-1 + len(string_split(txt, ' and '))-1
                  + len(string_split(txt, ' of '))-1 + len(string_split(txt, ' a '))-1 AS score_en,
               len(string_split(txt, ' el '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' los '))-1 + len(string_split(txt, ' de '))-1 AS score_es,
               len(string_split(txt, ' le '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' les '))-1 + len(string_split(txt, ' des '))-1 AS score_fr,
               len(string_split(txt, ' der '))-1 + len(string_split(txt, ' die '))-1
                  + len(string_split(txt, ' das '))-1 + len(string_split(txt, ' und '))-1 AS score_de
              FROM f),
        l AS (SELECT doc_id, nt, m,
               CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                    WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                    WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                    ELSE 'de' END AS lang
              FROM s)
        SELECT count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS total_tokens,
               quantile_cont(nt, 0.5) AS p50_tokens,
               quantile_cont(nt, 0.9) AS p90_tokens,
               count(DISTINCT m) AS n_distinct,
               round(1.0 - count(DISTINCT m) * 1.0 / count(*), 4) AS dup_ratio,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
               CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
               CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
               CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
               CAST(sum(CASE WHEN lang = 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown
        FROM l
    """,
    "84_pack_sequences": """
        WITH t AS (
          SELECT doc_id,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM t WHERE n_tokens > 0)
        SELECT doc_id, shard, n_tokens,
               (cum - n_tokens) // 64 AS seq_first,
               (cum - 1) // 64 AS seq_last,
               (cum - n_tokens) % 64 AS "offset"
        FROM c
    """,
    "85_exact_sample": """
        WITH f AS (
          SELECT * FROM (VALUES ('en', 0.5), ('es', 1.0),
                                ('de', 0.25), ('zh', 0.25)) AS fr(lang, frac)),
        d AS (
          SELECT doc.doc_id, doc.lang, doc.source, f.frac,
                 md5('strat_' || doc.doc_id::VARCHAR) AS hk
          FROM documents doc JOIN f USING (lang)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM d)
        SELECT doc_id, lang, source
        FROM r WHERE rn <= CEIL(frac::DOUBLE * n)
    """,
    # 86: q45's md5-family signature/banding replayed over the whole
    # corpus; index = even ids, new batch = odd ids. Band buckets are
    # equality internals (q45 note), so the oracle joins the band
    # tuples directly.
    "86_novel_docs": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        sh AS (
          SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS hv FROM sh0),
        sig AS (
          SELECT doc_id,
                 min(((hv % 1000000007) * 3  + 1)     % 1000000007) AS h0,
                 min(((hv % 1000000007) * 5  + 2)     % 1000000007) AS h1,
                 min(((hv % 1000000007) * 7  + 4)     % 1000000007) AS h2,
                 min(((hv % 1000000007) * 11 + 8)     % 1000000007) AS h3,
                 min(((hv % 1000000007) * 13 + 16)    % 1000000007) AS h4,
                 min(((hv % 1000000007) * 17 + 32)    % 1000000007) AS h5,
                 min(((hv % 1000000007) * 19 + 64)    % 1000000007) AS h6,
                 min(((hv % 1000000007) * 23 + 128)   % 1000000007) AS h7,
                 min(((hv % 1000000007) * 29 + 256)   % 1000000007) AS h8,
                 min(((hv % 1000000007) * 31 + 512)   % 1000000007) AS h9,
                 min(((hv % 1000000007) * 37 + 1024)  % 1000000007) AS h10,
                 min(((hv % 1000000007) * 41 + 2048)  % 1000000007) AS h11,
                 min(((hv % 1000000007) * 43 + 4096)  % 1000000007) AS h12,
                 min(((hv % 1000000007) * 47 + 8192)  % 1000000007) AS h13,
                 min(((hv % 1000000007) * 53 + 16384) % 1000000007) AS h14,
                 min(((hv % 1000000007) * 59 + 32768) % 1000000007) AS h15
          FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM sig
          UNION ALL
          SELECT doc_id, 1, h4, h5, h6, h7 FROM sig
          UNION ALL
          SELECT doc_id, 2, h8, h9, h10, h11 FROM sig
          UNION ALL
          SELECT doc_id, 3, h12, h13, h14, h15 FROM sig),
        hit AS (
          SELECT DISTINCT a.doc_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.x0 = b.x0 AND a.x1 = b.x1
           AND a.x2 = b.x2 AND a.x3 = b.x3
           AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
        SELECT n.doc_id, (h.doc_id IS NULL) AS is_novel
        FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) n
        LEFT JOIN hit h USING (doc_id)
    """,
    "87_rare_tokens": """
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
          FROM documents),
        rare AS (SELECT t FROM tok GROUP BY t HAVING count(*) <= 1),
        hits AS (
          SELECT doc_id, count(*) AS n_rare FROM tok
          WHERE t IN (SELECT t FROM rare) GROUP BY doc_id),
        c AS (
          SELECT doc_id,
                 len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
          FROM documents)
        SELECT c.doc_id, c.n_tokens, coalesce(h.n_rare, 0) AS n_rare,
               round(coalesce(h.n_rare, 0) * 1.0 / c.n_tokens, 4) AS rare_ratio
        FROM c LEFT JOIN hits h USING (doc_id)
    """,
    "88_domain_stats": """
        WITH salted AS (
          SELECT doc_id,
                 text || ' see https://ex' || (doc_id % 7)::VARCHAR
                      || '.org/p/' || doc_id::VARCHAR
                      || ' and http://www.site' || (doc_id % 3)::VARCHAR
                      || '.com/x' AS text
          FROM documents),
        doms AS (
          SELECT doc_id,
                 unnest(list_distinct(
                   regexp_extract_all(text, 'https?://([^\\s/:]+)', 1)
                 )) AS domain
          FROM salted)
        SELECT domain, count(*) AS n_docs FROM doms GROUP BY domain
    """,
    "89_dup_spans": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
                   AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-3, 1))) AS u(i)),
        dup AS (
          SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2)
        SELECT s.doc_id,
               CAST(count(*) AS INTEGER) AS n_spans,
               CAST(count(d.shingle) AS INTEGER) AS n_dup_spans,
               round(count(d.shingle) * 1.0 / count(*), 4) AS dup_frac
        FROM sh s LEFT JOIN dup d ON s.shingle = d.shingle
        GROUP BY s.doc_id
    """,
    "90_packed_text": """
        WITH t AS (
          SELECT doc_id,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard,
                 string_split_regex(trim(text), '\\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, shard, toks, len(toks) AS n,
                 SUM(len(toks)) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
          FROM t WHERE len(toks) > 0),
        f AS (SELECT *, cum - n AS first FROM c),
        x AS (
          SELECT shard, first, n, toks,
                 unnest(range(CAST(first // 64 AS BIGINT),
                              CAST((cum - 1) // 64 + 1 AS BIGINT))) AS seq_id
          FROM f),
        s AS (
          SELECT shard, seq_id, first,
                 list_slice(toks,
                            greatest(seq_id * 64, first) - first + 1,
                            least((seq_id + 1) * 64, first + n) - first)
                   AS sl
          FROM x)
        SELECT shard, seq_id,
               CAST(sum(len(sl)) AS INTEGER) AS n_tokens,
               string_agg(array_to_string(sl, ' '), ' ' ORDER BY first)
                 AS seq_text
        FROM s GROUP BY shard, seq_id
    """,
    "91_containment": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        sh AS (
          SELECT * FROM sh0 WHERE shingle NOT IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2,
               round(i*1.0/least(na.n_sh, nb.n_sh), 4) AS containment
        FROM inter
        JOIN counts na ON na.doc_id = d1
        JOIN counts nb ON nb.doc_id = d2
        WHERE i*1.0/least(na.n_sh, nb.n_sh) >= 0.5
    """,
    "92_vocab_coverage": """
        WITH tok AS (
          SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
          FROM documents),
        freq AS (SELECT t, count(*) AS tf FROM tok GROUP BY t),
        r AS (
          SELECT row_number() OVER (ORDER BY tf DESC, t) AS rank,
                 SUM(tf) OVER (ORDER BY tf DESC, t
                               ROWS UNBOUNDED PRECEDING) AS cum
          FROM freq),
        tot AS (SELECT sum(tf) AS total, count(*) AS nv FROM freq)
        SELECT k, CAST(least(k, nv) AS INTEGER) AS vocab_used,
               round(cum * 1.0 / total, 4) AS coverage
        FROM (VALUES (100), (1000), (10000)) ks(k), tot, r
        WHERE r.rank = least(k, nv)
    """,
    # 93: q62's recursive-CTE components + integer token counts; the
    # representative rule (max n_tokens, min id) is integer-only so the
    # winner window replays exactly.
    "93_keep_best": """
        WITH RECURSIVE tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        sh AS (
          SELECT * FROM sh0 WHERE shingle NOT IN (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        pairs AS (
          SELECT d1, d2 FROM inter
          JOIN counts na ON na.doc_id = d1
          JOIN counts nb ON nb.doc_id = d2
          WHERE i*1.0/(na.n_sh + nb.n_sh - i) >= 0.2),
        edges2 AS (SELECT d1 AS s, d2 AS t FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
        reach AS (
          SELECT s AS v, s AS l FROM edges2
          UNION
          SELECT e.s, r.l FROM edges2 e JOIN reach r ON e.t = r.v),
        cl AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v),
        nt AS (
          SELECT doc_id,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tokens
          FROM documents),
        j AS (
          SELECT nt.doc_id, coalesce(cl.cluster_id, nt.doc_id) AS cluster_id,
                 nt.n_tokens
          FROM nt LEFT JOIN cl USING (doc_id))
        SELECT doc_id, cluster_id, n_tokens,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tokens DESC, doc_id) = 1 AS kept
        FROM j
    """,
    "94_source_report": """
        WITH f AS (
          SELECT source,
                 len(string_split_regex(trim(text), '\\s+')) AS nt,
                 length(text) AS nc,
                 md5(text) AS m
          FROM documents)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS total_tokens,
               CAST(sum(nc) AS BIGINT) AS total_chars,
               round(sum(nt) * 1.0 / count(*), 4) AS mean_tokens,
               count(DISTINCT m) AS n_distinct,
               round(1.0 - count(DISTINCT m) * 1.0 / count(*), 4) AS dup_ratio
        FROM f GROUP BY source
    """,
    "95_paragraph_dedup": """
        WITH s AS (
          SELECT doc_id,
                 text || chr(10) || chr(10) || 'unique closing p'
                      || doc_id::VARCHAR || chr(10) || chr(10)
                      || 'subscribe to our newsletter today' AS text
          FROM documents),
        t AS (
          SELECT doc_id,
                 string_split_regex(text, '\\n{2,}') AS ps FROM s),
        l AS (
          SELECT doc_id, i AS pos, ps[i] AS para,
                 md5(trim(lower(ps[i]))) AS lh
          FROM t, UNNEST(range(1, len(ps) + 1)) AS u(i)),
        b AS (
          SELECT lh FROM l GROUP BY lh
          HAVING count(DISTINCT doc_id) >= 2)
        SELECT l.doc_id,
               coalesce(string_agg(l.para, chr(10) || chr(10)
                                   ORDER BY l.pos)
                        FILTER (WHERE b.lh IS NULL), '') AS clean_text,
               CAST(count(*) FILTER (WHERE b.lh IS NULL) AS INTEGER)
                 AS n_lines_kept,
               CAST(count(*) FILTER (WHERE b.lh IS NOT NULL) AS INTEGER)
                 AS n_lines_dropped
        FROM l LEFT JOIN b USING (lh)
        GROUP BY l.doc_id
    """,
    # 96: q45's md5-family LSH pipeline + q61's hash-split rule; keep
    # only pairs whose endpoints drew different splits.
    "96_split_leakage": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        sh AS (
          SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS hv FROM sh0),
        sig AS (
          SELECT doc_id,
                 min(((hv % 1000000007) * 3  + 1)     % 1000000007) AS h0,
                 min(((hv % 1000000007) * 5  + 2)     % 1000000007) AS h1,
                 min(((hv % 1000000007) * 7  + 4)     % 1000000007) AS h2,
                 min(((hv % 1000000007) * 11 + 8)     % 1000000007) AS h3,
                 min(((hv % 1000000007) * 13 + 16)    % 1000000007) AS h4,
                 min(((hv % 1000000007) * 17 + 32)    % 1000000007) AS h5,
                 min(((hv % 1000000007) * 19 + 64)    % 1000000007) AS h6,
                 min(((hv % 1000000007) * 23 + 128)   % 1000000007) AS h7,
                 min(((hv % 1000000007) * 29 + 256)   % 1000000007) AS h8,
                 min(((hv % 1000000007) * 31 + 512)   % 1000000007) AS h9,
                 min(((hv % 1000000007) * 37 + 1024)  % 1000000007) AS h10,
                 min(((hv % 1000000007) * 41 + 2048)  % 1000000007) AS h11,
                 min(((hv % 1000000007) * 43 + 4096)  % 1000000007) AS h12,
                 min(((hv % 1000000007) * 47 + 8192)  % 1000000007) AS h13,
                 min(((hv % 1000000007) * 53 + 16384) % 1000000007) AS h14,
                 min(((hv % 1000000007) * 59 + 32768) % 1000000007) AS h15
          FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM sig
          UNION ALL
          SELECT doc_id, 1, h4, h5, h6, h7 FROM sig
          UNION ALL
          SELECT doc_id, 2, h8, h9, h10, h11 FROM sig
          UNION ALL
          SELECT doc_id, 3, h12, h13, h14, h15 FROM sig),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.x0 = b.x0 AND a.x1 = b.x1
           AND a.x2 = b.x2 AND a.x3 = b.x3 AND a.doc_id < b.doc_id),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.d1, c.d2, count(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.hv = s1.hv
          GROUP BY c.d1, c.d2),
        pairs AS (
          SELECT d1, d2, round(i*1.0/(na.n_sh + nb.n_sh - i), 4) AS jaccard
          FROM inter
          JOIN counts na ON na.doc_id = d1
          JOIN counts nb ON nb.doc_id = d2
          WHERE i*1.0/(na.n_sh + nb.n_sh - i) >= 0.2),
        sp AS (
          SELECT doc_id,
                 CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))
                             ::BIGINT % 100 < 80 THEN 'train'
                      WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))
                             ::BIGINT % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
        SELECT p.d1, p.d2, p.jaccard,
               a.split AS split1, b.split AS split2
        FROM pairs p
        JOIN sp a ON a.doc_id = p.d1
        JOIN sp b ON b.doc_id = p.d2
        WHERE a.split <> b.split
    """,
    "97_lm_score": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS term
          FROM documents),
        counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        scal AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
        cost AS (
          SELECT term,
                 CAST(floor(-log2((c + 1) / (n + v * 1.0)) * 1000 + 0.5)
                      AS BIGINT) AS cost_mb
          FROM counts CROSS JOIN scal),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term)
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf * cost_mb) AS BIGINT) AS total_millibits,
               CAST(floor(sum(tf * cost_mb) / (sum(tf) * 1.0)) AS BIGINT)
                 AS mean_cost_millibits
        FROM tf JOIN cost USING (term) GROUP BY doc_id
    """,
    "98_dsir_weights": """
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN source IN ('src1','src2','src3')
                      THEN 1 ELSE 0 END AS it,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents),
        b AS (SELECT doc_id, it,
                     ('0x'||substr(md5(term),1,15))::BIGINT % 1024 AS bucket
              FROM toks),
        stats AS (SELECT bucket, count(*) AS raw_c, sum(it) AS tgt_c
                  FROM b GROUP BY bucket),
        scal AS (SELECT sum(raw_c) AS raw_n, sum(tgt_c) AS tgt_n FROM stats),
        lam AS (
          SELECT bucket,
                 CAST(floor((log2((tgt_c + 1) / (tgt_n + 1024.0))
                             - log2((raw_c + 1) / (raw_n + 1024.0)))
                            * 1000 + 0.5) AS BIGINT) AS lam_mb
          FROM stats CROSS JOIN scal)
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(lam_mb) AS BIGINT) AS weight_millibits,
               max(it) AS in_target
        FROM b JOIN lam USING (bucket) GROUP BY doc_id
    """,
    "99_corpus_shuffle": """
        WITH k AS (
          SELECT doc_id,
                 md5('epoch0_' || CAST(doc_id AS VARCHAR)) AS key,
                 ('0x'||substr(md5('epoch0_' || CAST(doc_id AS VARCHAR)),
                               1,15))::BIGINT % 16 AS shard
          FROM documents)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard
                    ORDER BY key, doc_id) AS BIGINT) AS position
        FROM k
    """,
    "101_perplexity_buckets": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS term
          FROM documents),
        counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        scal AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
        cost AS (
          SELECT term,
                 CAST(floor(-log2((c + 1) / (n + v * 1.0)) * 1000 + 0.5)
                      AS BIGINT) AS cost_mb
          FROM counts CROSS JOIN scal),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        scores AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                 CAST(floor(sum(tf * cost_mb) / (sum(tf) * 1.0)) AS BIGINT)
                   AS mc
          FROM tf JOIN cost USING (term) GROUP BY doc_id),
        th AS (SELECT quantile_cont(mc, 1.0/3) AS t1,
                      quantile_cont(mc, 2.0/3) AS t2 FROM scores)
        SELECT CASE WHEN mc <= t1 THEN 'head'
                    WHEN mc <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               min(mc) AS min_cost_millibits,
               max(mc) AS max_cost_millibits
        FROM scores CROSS JOIN th
        GROUP BY 1
    """,
    "103_temperature_mix": """
        WITH stats AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+')))
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        w AS (SELECT *,
                     CAST(floor(pow(n_tokens * 1.0, 0.7) * 1000000 + 0.5)
                          AS BIGINT) AS weight
              FROM stats),
        tot AS (SELECT CAST(sum(weight) AS BIGINT) AS t FROM w)
        SELECT source, n_docs, n_tokens, weight,
               round(weight / (t * 1.0), 6) AS sample_rate,
               CAST(floor(1000000.0 * weight / (t * 1.0)) AS BIGINT)
                 AS target_tokens,
               round(CAST(floor(1000000.0 * weight / (t * 1.0)) AS BIGINT)
                     / (n_tokens * 1.0), 4) AS repeat_factor
        FROM w CROSS JOIN tot
    """,
    "104_bigram_lm": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        big AS (
          SELECT doc_id, t[i] AS w1, t[i+1] AS w2
          FROM tok, UNNEST(range(1, len(t))) AS u(i)),
        unic AS (
          SELECT w1, count(*) AS c1 FROM (
            SELECT unnest(t) AS w1 FROM tok) GROUP BY w1),
        v AS (SELECT count(*) AS v FROM unic),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        cost AS (
          SELECT c2.w1, c2.w2,
                 CAST(floor(-log2((c2.c2 + 1) / (unic.c1 + v.v * 1.0))
                            * 1000 + 0.5) AS BIGINT) AS cost_mb
          FROM c2 JOIN unic USING (w1) CROSS JOIN v),
        tf AS (SELECT doc_id, w1, w2, count(*) AS tf
               FROM big GROUP BY doc_id, w1, w2)
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
               CAST(sum(tf * cost_mb) AS BIGINT) AS total_millibits,
               CAST(floor(sum(tf * cost_mb) / (sum(tf) * 1.0)) AS BIGINT)
                 AS mean_cost_millibits
        FROM tf JOIN cost USING (w1, w2) GROUP BY doc_id
    """,
    "105_gate_attribution": """
        WITH q AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens,
                 round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
                       / length(text), 4) AS alpha_ratio,
                 md5(text) AS m
          FROM documents),
        t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS txt FROM documents),
        s AS (SELECT doc_id,
               len(string_split(txt, ' the '))-1 + len(string_split(txt, ' and '))-1
                  + len(string_split(txt, ' of '))-1 + len(string_split(txt, ' a '))-1 AS score_en,
               len(string_split(txt, ' el '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' los '))-1 + len(string_split(txt, ' de '))-1 AS score_es,
               len(string_split(txt, ' le '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' les '))-1 + len(string_split(txt, ' des '))-1 AS score_fr,
               len(string_split(txt, ' der '))-1 + len(string_split(txt, ' die '))-1
                  + len(string_split(txt, ' das '))-1 + len(string_split(txt, ' und '))-1 AS score_de
              FROM t),
        l AS (SELECT doc_id,
               CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                    WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                    WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                    ELSE 'de' END AS lang_pred
              FROM s),
        j AS (SELECT q.doc_id, q.n_tokens, q.alpha_ratio, q.m, l.lang_pred
              FROM q JOIN l USING (doc_id)),
        k AS (SELECT m, min(doc_id) AS keep_id FROM j GROUP BY m),
        flags AS (
          SELECT NOT (n_tokens BETWEEN 10 AND 100000) AS f_len,
                 alpha_ratio < 0.5 AS f_alpha,
                 lang_pred NOT IN ('en') AS f_lang,
                 doc_id <> keep_id AS f_dup
          FROM j JOIN k USING (m))
        SELECT count(*) AS n_docs,
               CAST(sum(f_len::INT) AS BIGINT) AS fail_length,
               CAST(sum((f_len AND NOT f_alpha AND NOT f_lang AND NOT f_dup)::INT) AS BIGINT) AS only_length,
               CAST(sum(f_alpha::INT) AS BIGINT) AS fail_alpha,
               CAST(sum((f_alpha AND NOT f_len AND NOT f_lang AND NOT f_dup)::INT) AS BIGINT) AS only_alpha,
               CAST(sum(f_lang::INT) AS BIGINT) AS fail_lang,
               CAST(sum((f_lang AND NOT f_len AND NOT f_alpha AND NOT f_dup)::INT) AS BIGINT) AS only_lang,
               CAST(sum(f_dup::INT) AS BIGINT) AS fail_dup,
               CAST(sum((f_dup AND NOT f_len AND NOT f_alpha AND NOT f_lang)::INT) AS BIGINT) AS only_dup,
               CAST(sum((NOT (f_len OR f_alpha OR f_lang OR f_dup))::INT) AS BIGINT) AS n_pass
        FROM flags
    """,
    "106_dsir_select": """
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN source IN ('src1','src2','src3')
                      THEN 1 ELSE 0 END AS it,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents),
        b AS (SELECT doc_id, it,
                     ('0x'||substr(md5(term),1,15))::BIGINT % 1024 AS bucket
              FROM toks),
        stats AS (SELECT bucket, count(*) AS raw_c, sum(it) AS tgt_c
                  FROM b GROUP BY bucket),
        scal AS (SELECT sum(raw_c) AS raw_n, sum(tgt_c) AS tgt_n FROM stats),
        lam AS (
          SELECT bucket,
                 CAST(floor((log2((tgt_c + 1) / (tgt_n + 1024.0))
                             - log2((raw_c + 1) / (raw_n + 1024.0)))
                            * 1000 + 0.5) AS BIGINT) AS lam_mb
          FROM stats CROSS JOIN scal),
        w AS (SELECT doc_id, count(*) AS n_tokens,
                     CAST(sum(lam_mb) AS BIGINT) AS weight_millibits,
                     max(it) AS in_target
              FROM b JOIN lam USING (bucket) GROUP BY doc_id),
        tot AS (SELECT CAST(floor(count(*) * 0.25) AS BIGINT) AS k FROM w),
        ranked AS (
          SELECT w.*,
                 row_number() OVER (
                   ORDER BY weight_millibits DESC,
                            md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM w)
        SELECT doc_id, n_tokens, weight_millibits, in_target
        FROM ranked CROSS JOIN tot WHERE rn <= k
    """,
    "107_centroid_affinity": """
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT))
                   AS qv,
                 CASE WHEN label IN (0,1,2) THEN 1 ELSE 0 END AS it
          FROM embeddings WHERE embedding IS NOT NULL),
        e AS (SELECT vec_id, it,
                     generate_subscripts(qv, 1) AS pos, unnest(qv) AS v
              FROM q),
        c AS (SELECT pos, CAST(sum(v) AS BIGINT) AS cv
              FROM e WHERE it = 1 GROUP BY pos)
        SELECT e.vec_id, CAST(sum(e.v * c.cv) AS BIGINT) AS affinity_q,
               max(e.it) AS in_target
        FROM e JOIN c USING (pos)
        GROUP BY e.vec_id
    """,
    "108_build_corpus": """
        WITH corpus AS (SELECT * FROM documents WHERE NOT (doc_id < 5)),
        q AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens,
                 round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
                       / length(text), 4) AS alpha_ratio,
                 md5(text) AS m
          FROM corpus),
        t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS txt FROM corpus),
        s AS (SELECT doc_id,
               len(string_split(txt, ' the '))-1 + len(string_split(txt, ' and '))-1
                  + len(string_split(txt, ' of '))-1 + len(string_split(txt, ' a '))-1 AS score_en,
               len(string_split(txt, ' el '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' los '))-1 + len(string_split(txt, ' de '))-1 AS score_es,
               len(string_split(txt, ' le '))-1 + len(string_split(txt, ' la '))-1
                  + len(string_split(txt, ' les '))-1 + len(string_split(txt, ' des '))-1 AS score_fr,
               len(string_split(txt, ' der '))-1 + len(string_split(txt, ' die '))-1
                  + len(string_split(txt, ' das '))-1 + len(string_split(txt, ' und '))-1 AS score_de
              FROM t),
        l AS (SELECT doc_id,
               CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                    WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                    WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                    WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                    ELSE 'de' END AS lang_pred
              FROM s),
        gated AS (
          SELECT q.doc_id, q.m
          FROM q JOIN l USING (doc_id)
          WHERE q.n_tokens BETWEEN 10 AND 100000
            AND q.alpha_ratio >= 0.5 AND l.lang_pred IN ('en')),
        keep AS (SELECT m, min(doc_id) AS doc_id FROM gated GROUP BY m),
        cleaned AS (SELECT g.doc_id
                    FROM gated g JOIN keep k
                      ON g.doc_id = k.doc_id AND g.m = k.m),
        tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
                   AS shingle
          FROM tok, UNNEST(range(1, greatest(len(t)-3, 1))) AS u(i)),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5),
        hits AS (SELECT DISTINCT s.doc_id
                 FROM sh s JOIN bench b ON s.shingle = b.shingle
                 WHERE s.doc_id >= 5),
        surv AS (SELECT doc_id FROM cleaned
                 WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        stoks AS (
          SELECT d.doc_id,
                 unnest(string_split_regex(trim(lower(d.text)), '\\s+'))
                   AS term
          FROM documents d JOIN surv USING (doc_id)),
        counts AS (SELECT term, count(*) AS c FROM stoks GROUP BY term),
        scal AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
        cost AS (
          SELECT term,
                 CAST(floor(-log2((c + 1) / (n + v * 1.0)) * 1000 + 0.5)
                      AS BIGINT) AS cost_mb
          FROM counts CROSS JOIN scal),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM stoks GROUP BY doc_id, term),
        scores AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                 CAST(floor(sum(tf * cost_mb) / (sum(tf) * 1.0)) AS BIGINT)
                   AS mc
          FROM tf JOIN cost USING (term) GROUP BY doc_id),
        th AS (SELECT quantile_cont(mc, 1.0/3) AS t1,
                      quantile_cont(mc, 2.0/3) AS t2 FROM scores),
        kept AS (SELECT doc_id, n_tokens, mc
                 FROM scores CROSS JOIN th WHERE mc <= t2)
        SELECT d.source, count(*) AS n_docs,
               CAST(sum(k.n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(k.doc_id) AS BIGINT) AS id_sum,
               min(k.mc) AS min_cost_millibits,
               max(k.mc) AS max_cost_millibits
        FROM kept k JOIN documents d USING (doc_id)
        GROUP BY d.source
    """,
    "110_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               count(*) AS n_rows,
               GROUPING(l_returnflag, l_linestatus) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """,
    "111_fuzzy_pairs": """
        WITH b AS (
          SELECT doc_id, lower(text) AS t,
                 substr(lower(text), 1, 12) AS bk
          FROM documents),
        sz AS (SELECT bk, count(*) AS bc FROM b GROUP BY bk),
        sm AS (SELECT b.* FROM b JOIN sz USING (bk) WHERE sz.bc <= 100)
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
               levenshtein(substr(a.t, 1, 200), substr(c.t, 1, 200))
                 AS edit_dist
        FROM sm a JOIN sm c ON a.bk = c.bk AND a.doc_id < c.doc_id
          AND abs(least(length(a.t), 200) - least(length(c.t), 200)) <= 40
        WHERE levenshtein(substr(a.t, 1, 200), substr(c.t, 1, 200)) <= 40
    """,
    "112_length_outliers": """
        WITH base AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS x
          FROM documents),
        stats AS (
          SELECT source, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS s,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
          FROM base GROUP BY source)
        SELECT b.doc_id, b.source, b.x AS n_tokens
        FROM base b JOIN stats st USING (source)
        WHERE st.n >= 2
          AND CAST(st.n - 1 AS HUGEINT)
              * (CAST(st.n AS HUGEINT) * b.x - st.s)
              * (CAST(st.n AS HUGEINT) * b.x - st.s)
              > CAST(st.n AS HUGEINT)
                * (CAST(st.n AS HUGEINT) * st.q
                   - CAST(st.s AS HUGEINT) * st.s)
    """,
    "113_quota_select": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS term
          FROM documents),
        counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        scal AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
        cost AS (
          SELECT term,
                 CAST(floor(-log2((c + 1) / (n + v * 1.0)) * 1000 + 0.5)
                      AS BIGINT) AS cost_mb
          FROM counts CROSS JOIN scal),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM toks GROUP BY doc_id, term),
        scores AS (
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                 CAST(floor(sum(tf * cost_mb) / (sum(tf) * 1.0)) AS BIGINT)
                   AS mc
          FROM tf JOIN cost USING (term) GROUP BY doc_id),
        withsrc AS (
          SELECT s.doc_id, d.source, s.n_tokens, s.mc
          FROM scores s JOIN documents d USING (doc_id)),
        ranked AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY mc, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS n_s
          FROM withsrc)
        SELECT doc_id, source, n_tokens, mc AS mean_cost_millibits
        FROM ranked
        WHERE rn <= floor(n_s * (1.0/3))
    """,
    "114_source_overlap": """
        WITH tok AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
        sh AS (
          SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS hv FROM sh0),
        sig AS (
          SELECT doc_id,
                 min(((hv % 1000000007) * 3  + 1)     % 1000000007) AS h0,
                 min(((hv % 1000000007) * 5  + 2)     % 1000000007) AS h1,
                 min(((hv % 1000000007) * 7  + 4)     % 1000000007) AS h2,
                 min(((hv % 1000000007) * 11 + 8)     % 1000000007) AS h3,
                 min(((hv % 1000000007) * 13 + 16)    % 1000000007) AS h4,
                 min(((hv % 1000000007) * 17 + 32)    % 1000000007) AS h5,
                 min(((hv % 1000000007) * 19 + 64)    % 1000000007) AS h6,
                 min(((hv % 1000000007) * 23 + 128)   % 1000000007) AS h7,
                 min(((hv % 1000000007) * 29 + 256)   % 1000000007) AS h8,
                 min(((hv % 1000000007) * 31 + 512)   % 1000000007) AS h9,
                 min(((hv % 1000000007) * 37 + 1024)  % 1000000007) AS h10,
                 min(((hv % 1000000007) * 41 + 2048)  % 1000000007) AS h11,
                 min(((hv % 1000000007) * 43 + 4096)  % 1000000007) AS h12,
                 min(((hv % 1000000007) * 47 + 8192)  % 1000000007) AS h13,
                 min(((hv % 1000000007) * 53 + 16384) % 1000000007) AS h14,
                 min(((hv % 1000000007) * 59 + 32768) % 1000000007) AS h15
          FROM sh GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM sig
          UNION ALL
          SELECT doc_id, 1, h4, h5, h6, h7 FROM sig
          UNION ALL
          SELECT doc_id, 2, h8, h9, h10, h11 FROM sig
          UNION ALL
          SELECT doc_id, 3, h12, h13, h14, h15 FROM sig),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.x0 = b.x0 AND a.x1 = b.x1
           AND a.x2 = b.x2 AND a.x3 = b.x3 AND a.doc_id < b.doc_id),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.d1, c.d2, count(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.hv = s1.hv
          GROUP BY c.d1, c.d2),
        pairs AS (
          SELECT d1, d2, round(i*1.0/(na.n_sh + nb.n_sh - i), 4) AS jaccard
          FROM inter
          JOIN counts na ON na.doc_id = d1
          JOIN counts nb ON nb.doc_id = d2
          WHERE i*1.0/(na.n_sh + nb.n_sh - i) >= 0.2),
        withsrc AS (
          SELECT p.jaccard,
                 least(da.source, db.source) AS src_a,
                 greatest(da.source, db.source) AS src_b
          FROM pairs p
          JOIN documents da ON da.doc_id = p.d1
          JOIN documents db ON db.doc_id = p.d2)
        SELECT src_a, src_b, count(*) AS n_pairs,
               min(jaccard) AS min_jaccard,
               max(jaccard) AS max_jaccard
        FROM withsrc
        GROUP BY src_a, src_b
    """,
    "116_encoding_noise": """
        WITH c AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, 'Ã[\x80-\xbf]|â€'))
                   AS n_mojibake,
                 len(regexp_extract_all(text, '�')) AS n_replacement,
                 len(regexp_extract_all(text,
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS n_control,
                 length(text)
                   - length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g'))
                   AS n_non_ascii
          FROM documents)
        SELECT doc_id, n_mojibake, n_replacement, n_control, n_non_ascii,
               (n_mojibake + n_replacement + n_control) > 0 AS is_noisy
        FROM c
    """,
}


# q140: the q129 NFC-digest family canonical + the q61 md5 bucket
# ranges, hashed on the CANONICAL id so families move as one unit.
ORACLES["140_group_split"] = """
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(nfc_normalize(text), '\\s+', ' ',
                                     'g'))) AS dg
      FROM documents WHERE text IS NOT NULL),
    canon AS (SELECT dg, min(doc_id) AS canonical_id FROM n GROUP BY dg),
    m AS (SELECT n.doc_id, c.canonical_id
          FROM n JOIN canon c ON c.dg = n.dg),
    b AS (SELECT doc_id, canonical_id,
                 ('0x' || substr(md5(CAST(canonical_id AS VARCHAR)),
                                 1, 15))::BIGINT % 100 AS bk
          FROM m)
    SELECT doc_id, canonical_id,
           CASE WHEN bk < 80 THEN 'train'
                WHEN bk < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
"""

# q143: serving from the pruned index + downdated stats is bit-identical
# to BM25 over the surviving corpus (integer dl-sum recovery makes the
# avgdl division identical to a rebuild's), so the oracle simply ranks
# over documents with the tombstoned ids filtered out.
ORACLES["143_pruned_index_serve"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL AND doc_id % 7 <> 0),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('customer', 'merge', 'sort')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
                 CAST(count(*) AS INTEGER) AS n_terms_hit
          FROM sc GROUP BY doc_id)
    SELECT doc_id, score_nano, n_terms_hit,
           round(CAST(score_nano AS DOUBLE) / 1e9, 4) + 0.0 AS bm25
    FROM g ORDER BY score_nano DESC, doc_id ASC LIMIT 15
"""

# q144: per-doc features/norms are independent across documents, so the
# merged artifacts equal a build over the whole corpus — the oracle is
# the dense leg over all documents.
ORACLES["144_merged_dense_serve"] = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS term
      FROM documents WHERE text IS NOT NULL),
    sf AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                           ::BIGINT % 2) AS INTEGER) AS sgn
      FROM toks),
    feats AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat
              FROM sf GROUP BY doc_id, bucket),
    qf AS (
      SELECT bucket, CAST(sum(sgn) AS BIGINT) AS qfeat FROM (
        SELECT CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                    AS INTEGER) AS bucket,
               CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                             ::BIGINT % 2) AS INTEGER) AS sgn
        FROM (VALUES ('customer'), ('sort'), ('hash'))
             t(term)) q
      GROUP BY bucket HAVING sum(sgn) <> 0),
    qn AS (SELECT CAST(sum(qfeat * qfeat) AS DOUBLE) AS qnorm FROM qf),
    dots AS (SELECT f.doc_id, CAST(sum(f.feat * q.qfeat) AS BIGINT)
                    AS dot
             FROM feats f JOIN qf q USING (bucket) GROUP BY f.doc_id),
    norms AS (SELECT doc_id, CAST(sum(feat * feat) AS BIGINT) AS norm
              FROM feats GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(floor(CAST(d.dot AS DOUBLE)
                      / sqrt(CAST(n.norm AS DOUBLE) * qn.qnorm)
                      * 1e9 + 0.5) AS BIGINT) AS cos_nano
    FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn
    WHERE n.norm > 0
    ORDER BY cos_nano DESC, doc_id ASC LIMIT 25
"""

# q146: the q136 assignment CTE (NaN-guarded cosine, first-max argmax)
# reduced to per-list counts; every division is from exact integers.
# q151: the q149 integerize/codebook/encode/ADC CTEs over the FULL
# population, with a (query_id) dimension — per-query probe sets,
# per-query ADC tables, per-query rank windows. Exact: integerized
# vectors make every ADC term an integer-valued double.
ORACLES["151_ann_serve_batch"] = """
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> floor(CAST(x AS DOUBLE) * 32)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT vec_id AS cid, v FROM iv WHERE vec_id < 8),
    js AS (SELECT unnest(range(0, 8)) AS j),
    cb AS (
      SELECT js.j, iv.vec_id - 1 AS c,
             list_slice(iv.v, js.j*8 + 1, js.j*8 + 8) AS bv
      FROM iv, js WHERE iv.vec_id BETWEEN 1 AND 16),
    dist AS (
      SELECT iv.vec_id, cb.j, cb.c,
             list_sum(list_transform(range(1, 9), i ->
               (iv.v[cb.j*8 + i] - cb.bv[i])
               * (iv.v[cb.j*8 + i] - cb.bv[i]))) AS d2
      FROM iv, cb),
    code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, c) AS rn
        FROM dist) t WHERE rn = 1),
    sims AS (
      SELECT iv.vec_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(iv.v, c.v))
                  THEN -2.0
                  ELSE list_cosine_similarity(iv.v, c.v) END AS s
      FROM iv CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS ivf_list FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM sims) t WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM iv
          WHERE vec_id IN (0, 5, 9)),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY CASE
                            WHEN isnan(list_cosine_similarity(q.qv, c.v))
                            THEN 0.0
                            ELSE list_cosine_similarity(q.qv, c.v) END
                          DESC,
                          c.cid ASC) AS rn
        FROM q CROSS JOIN cent c) t WHERE rn <= 3),
    adc AS (
      SELECT q.query_id, cb.j, cb.c,
             list_sum(list_transform(range(1, 9), i ->
               q.qv[cb.j*8 + i] * cb.bv[i])) AS dot
      FROM cb, q),
    ascore AS (
      SELECT adc.query_id, code.vec_id, SUM(adc.dot) AS s
      FROM code
      JOIN assign a ON a.vec_id = code.vec_id
      JOIN adc ON code.j = adc.j AND code.c = adc.c
      JOIN probes p ON p.query_id = adc.query_id
                   AND p.cid = a.ivf_list
      GROUP BY adc.query_id, code.vec_id)
    SELECT query_id, vec_id, round(s, 4) + 0.0 AS adc_dot
    FROM (SELECT query_id, vec_id, s,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY s DESC, vec_id ASC) AS rn
          FROM ascore) t
    WHERE rn <= 10
"""

# q153: the q147 hybrid CTEs with the query table DERIVED from the
# probe docs (first three tokens each) instead of a VALUES literal —
# DISTINCT replays the server's per-query term dedup; everything
# downstream is shared with q147's oracle.
ORACLES["153_hybrid_eval_tabular"] = """
    WITH q AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id,
               unnest(list_slice(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 1, 3)) AS term
        FROM documents
        WHERE doc_id IN (10, 20, 30) AND text IS NOT NULL) t),
    base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN (SELECT DISTINCT term FROM q)
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT qq.query_id, tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      JOIN q qq USING (term)
      CROSS JOIN tot),
    g AS (SELECT query_id, doc_id,
                 CAST(sum(s_nano) AS BIGINT) AS score_nano
          FROM sc GROUP BY query_id, doc_id),
    leg_s AS (
      SELECT query_id, doc_id, CAST(rk AS INTEGER) AS rank_bm25
      FROM (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score_nano DESC,
                                      doc_id ASC) AS rk
            FROM g)
      WHERE rk <= 40),
    sf AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                           ::BIGINT % 2) AS INTEGER) AS sgn
      FROM toks),
    feats AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat
              FROM sf GROUP BY doc_id, bucket),
    qf AS (
      SELECT query_id, bucket, CAST(sum(sgn) AS BIGINT) AS qfeat
      FROM (
        SELECT query_id,
               CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                    AS INTEGER) AS bucket,
               CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                             ::BIGINT % 2) AS INTEGER) AS sgn
        FROM q) s
      GROUP BY query_id, bucket HAVING sum(sgn) <> 0),
    qn AS (SELECT query_id, CAST(sum(qfeat * qfeat) AS DOUBLE) AS qnorm
           FROM qf GROUP BY query_id),
    dots AS (SELECT qf.query_id, f.doc_id,
                    CAST(sum(f.feat * qf.qfeat) AS BIGINT) AS dot
             FROM feats f JOIN qf USING (bucket)
             GROUP BY qf.query_id, f.doc_id),
    norms AS (SELECT doc_id, CAST(sum(feat * feat) AS BIGINT) AS norm
              FROM feats GROUP BY doc_id),
    scored AS (
      SELECT d.query_id, d.doc_id,
             CAST(floor(CAST(d.dot AS DOUBLE)
                        / sqrt(CAST(n.norm AS DOUBLE) * qn.qnorm)
                        * 1e9 + 0.5) AS BIGINT) AS cos_nano
      FROM dots d JOIN norms n USING (doc_id)
      JOIN qn ON qn.query_id = d.query_id
      WHERE n.norm > 0),
    leg_d AS (
      SELECT query_id, doc_id, CAST(rk AS INTEGER) AS rank_dense
      FROM (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_nano DESC,
                                      doc_id ASC) AS rk
            FROM scored)
      WHERE rk <= 40),
    fused AS (
      SELECT COALESCE(s.query_id, d.query_id) AS query_id,
             COALESCE(s.doc_id, d.doc_id) AS doc_id,
             s.rank_bm25, d.rank_dense,
             COALESCE(1.0 / (60.0 + s.rank_bm25), 0.0)
               + COALESCE(1.0 / (60.0 + d.rank_dense), 0.0) AS rrf
      FROM leg_s s FULL OUTER JOIN leg_d d
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(COALESCE(rank_bm25, 0) AS INTEGER) AS rank_bm25,
           CAST(COALESCE(rank_dense, 0) AS INTEGER) AS rank_dense,
           round(rrf, 6) AS rrf
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id ASC)
                    AS frk
          FROM fused)
    WHERE frk <= 10
"""


# q154: identical values to q151 (same artifacts, same query ids,
# vectors read from the table instead of passed as literals), so the
# oracle is q151's verbatim — the entry gates the DataFrame-input
# serving leg, not new math.
ORACLES["154_ann_eval_tabular"] = ORACLES["151_ann_serve_batch"]


# q152: the q143 BM25-rebuild CTEs over the segmented store's survivor
# set — every doc except those deleted in batch 1 and not re-added
# (21|id AND NOT 42|id). The engine side serves off the LSM store's
# masked segment union + manifest stats; rebuild-equality is the
# store's contract, so the oracle IS a rebuild.
ORACLES["152_segmented_store_serve"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
      WHERE text IS NOT NULL
        AND NOT (doc_id % 21 = 0 AND doc_id % 42 <> 0)),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('customer', 'merge', 'sort')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
                 CAST(count(*) AS INTEGER) AS n_terms_hit
          FROM sc GROUP BY doc_id)
    SELECT doc_id, score_nano, n_terms_hit,
           round(CAST(score_nano AS DOUBLE) / 1e9, 4) + 0.0 AS bm25
    FROM g ORDER BY score_nano DESC, doc_id ASC LIMIT 15
"""

# q150: the q86 band CTEs with the maintained index population — probe
# = id % 4 == 3; index = (even minus %10 tombstones) union id % 4 == 1.
# Band collision = signature-tuple equality (the xxhash64 band hash is
# injective on the tuple up to negligible collisions, q86's convention).
ORACLES["150_maintained_novel_serve"] = """
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
    sh AS (
      SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS hv FROM sh0),
    sig AS (
      SELECT doc_id,
             min(((hv % 1000000007) * 3  + 1)     % 1000000007) AS h0,
             min(((hv % 1000000007) * 5  + 2)     % 1000000007) AS h1,
             min(((hv % 1000000007) * 7  + 4)     % 1000000007) AS h2,
             min(((hv % 1000000007) * 11 + 8)     % 1000000007) AS h3,
             min(((hv % 1000000007) * 13 + 16)    % 1000000007) AS h4,
             min(((hv % 1000000007) * 17 + 32)    % 1000000007) AS h5,
             min(((hv % 1000000007) * 19 + 64)    % 1000000007) AS h6,
             min(((hv % 1000000007) * 23 + 128)   % 1000000007) AS h7,
             min(((hv % 1000000007) * 29 + 256)   % 1000000007) AS h8,
             min(((hv % 1000000007) * 31 + 512)   % 1000000007) AS h9,
             min(((hv % 1000000007) * 37 + 1024)  % 1000000007) AS h10,
             min(((hv % 1000000007) * 41 + 2048)  % 1000000007) AS h11,
             min(((hv % 1000000007) * 43 + 4096)  % 1000000007) AS h12,
             min(((hv % 1000000007) * 47 + 8192)  % 1000000007) AS h13,
             min(((hv % 1000000007) * 53 + 16384) % 1000000007) AS h14,
             min(((hv % 1000000007) * 59 + 32768) % 1000000007) AS h15
      FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM sig
      UNION ALL
      SELECT doc_id, 1, h4, h5, h6, h7 FROM sig
      UNION ALL
      SELECT doc_id, 2, h8, h9, h10, h11 FROM sig
      UNION ALL
      SELECT doc_id, 3, h12, h13, h14, h15 FROM sig),
    hit AS (
      SELECT DISTINCT a.doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.x0 = b.x0 AND a.x1 = b.x1
       AND a.x2 = b.x2 AND a.x3 = b.x3
       AND a.doc_id % 4 = 3
       AND ((b.doc_id % 2 = 0 AND b.doc_id % 10 <> 0)
            OR b.doc_id % 4 = 1))
    SELECT n.doc_id, (h.doc_id IS NULL) AS is_novel
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 3) n
    LEFT JOIN hit h USING (doc_id)
"""

# q149: the q138 integerize/codebook/encode/ADC CTEs over the
# maintained population ((vec_id < 300 minus the %7 tombstones) union
# vec_id >= 300) with the FROZEN first-8-id centroids and id-slice
# codebooks — the maintained serve is bit-identical to this rebuild.
# Probe ranking and assignment use the q136 isnan->-2 / first-max
# conventions; the ADC sum is exact integer arithmetic in double.
ORACLES["149_maintained_ann_serve"] = """
    WITH iv0 AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> floor(CAST(x AS DOUBLE) * 32)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    iv AS (SELECT * FROM iv0
           WHERE (vec_id < 300 AND vec_id % 7 <> 0) OR vec_id >= 300),
    cent AS (SELECT vec_id AS cid, v FROM iv0 WHERE vec_id < 8),
    js AS (SELECT unnest(range(0, 8)) AS j),
    cb AS (
      SELECT js.j, iv0.vec_id - 1 AS c,
             list_slice(iv0.v, js.j*8 + 1, js.j*8 + 8) AS bv
      FROM iv0, js WHERE iv0.vec_id BETWEEN 1 AND 16),
    dist AS (
      SELECT iv.vec_id, cb.j, cb.c,
             list_sum(list_transform(range(1, 9), i ->
               (iv.v[cb.j*8 + i] - cb.bv[i])
               * (iv.v[cb.j*8 + i] - cb.bv[i]))) AS d2
      FROM iv, cb),
    code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, c) AS rn
        FROM dist) t WHERE rn = 1),
    sims AS (
      SELECT iv.vec_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(iv.v, c.v))
                  THEN -2.0
                  ELSE list_cosine_similarity(iv.v, c.v) END AS s
      FROM iv CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS ivf_list FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM sims) t WHERE rn = 1),
    q AS (SELECT v AS qv FROM iv0 WHERE vec_id = 0),
    probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (
                 ORDER BY CASE
                            WHEN isnan(list_cosine_similarity(q.qv, c.v))
                            THEN 0.0
                            ELSE list_cosine_similarity(q.qv, c.v) END
                          DESC,
                          c.cid ASC) AS rn
        FROM cent c, q) t WHERE rn <= 3),
    adc AS (
      SELECT cb.j, cb.c,
             list_sum(list_transform(range(1, 9), i ->
               q.qv[cb.j*8 + i] * cb.bv[i])) AS dot
      FROM cb, q),
    ascore AS (
      SELECT code.vec_id, SUM(adc.dot) AS s
      FROM code
      JOIN assign a ON a.vec_id = code.vec_id
      JOIN adc ON code.j = adc.j AND code.c = adc.c
      WHERE a.ivf_list IN (SELECT cid FROM probes)
      GROUP BY code.vec_id)
    SELECT vec_id, round(s, 4) + 0.0 AS adc_dot
    FROM (SELECT vec_id, s,
                 ROW_NUMBER() OVER (ORDER BY s DESC, vec_id ASC) AS rn
          FROM ascore) t
    WHERE rn <= 12
"""

# q148: the q146 balance CTEs and the q136 recall CTEs over ONE shared
# assignment, recall aggregated to (mean, min) over the 10-query sample
# and repeated per list row (a report, not a join key).
ORACLES["148_ivf_index_health"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    sims AS (
      SELECT e.vec_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(e.v, c.v))
                  THEN -2.0
                  ELSE list_cosine_similarity(e.v, c.v) END AS s
      FROM e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS ivf_list FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM sims) t WHERE rn = 1),
    counts AS (SELECT ivf_list, count(*) AS n
               FROM assign GROUP BY ivf_list),
    grid AS (SELECT CAST(b AS INTEGER) AS ivf_list
             FROM (SELECT unnest(range(8)) AS b) t),
    d AS (SELECT g.ivf_list, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_vecs
          FROM grid g LEFT JOIN counts c USING (ivf_list)),
    tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS nn,
                   CAST(sum(n_vecs * n_vecs) AS BIGINT) AS s2
            FROM d),
    qc AS (
      SELECT q.query_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(q.qv, c.v))
                  THEN 0.0
                  ELSE list_cosine_similarity(q.qv, c.v) END AS s
      FROM q CROSS JOIN cent c),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM qc) t WHERE rn <= 2),
    ex AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(e.v, q.qv) DESC,
                          e.vec_id ASC) AS rn
        FROM e CROSS JOIN q) t WHERE rn <= 10),
    ap AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(e.v, q.qv) DESC,
                          e.vec_id ASC) AS rn
        FROM assign a
        JOIN e ON e.vec_id = a.vec_id
        JOIN probes p ON p.cid = a.ivf_list
        JOIN q ON q.query_id = p.query_id) t WHERE rn <= 10),
    hits AS (SELECT ex.query_id, count(*) AS n
             FROM ex JOIN ap ON ap.query_id = ex.query_id
                            AND ap.vec_id = ex.vec_id
             GROUP BY ex.query_id),
    per_q AS (SELECT q.query_id, COALESCE(h.n, 0) AS n
              FROM q LEFT JOIN hits h ON h.query_id = q.query_id),
    health AS (SELECT CAST(sum(n) AS BIGINT) AS sh,
                      CAST(min(n) AS BIGINT) AS mh
               FROM per_q)
    SELECT ivf_list, n_vecs,
           round(n_vecs * 1.0 / nn, 4) AS share,
           round(8.0 * s2 / (nn * 1.0 * nn), 4) AS imbalance,
           round(CAST(sh AS DOUBLE) / 100.0, 4) AS mean_recall,
           round(CAST(mh AS DOUBLE) / 10.0, 4) AS min_recall
    FROM d CROSS JOIN tot CROSS JOIN health
"""

ORACLES["146_ivf_balance"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
    sims AS (
      SELECT e.vec_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(e.v, c.v))
                  THEN -2.0
                  ELSE list_cosine_similarity(e.v, c.v) END AS s
      FROM e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS ivf_list FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM sims) t WHERE rn = 1),
    counts AS (SELECT ivf_list, count(*) AS n
               FROM assign GROUP BY ivf_list),
    grid AS (SELECT CAST(b AS INTEGER) AS ivf_list
             FROM (SELECT unnest(range(8)) AS b) t),
    d AS (SELECT g.ivf_list, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_vecs
          FROM grid g LEFT JOIN counts c USING (ivf_list)),
    tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS nn,
                   CAST(sum(n_vecs * n_vecs) AS BIGINT) AS s2
            FROM d)
    SELECT ivf_list, n_vecs,
           round(n_vecs * 1.0 / nn, 4) AS share,
           round(8.0 * s2 / (nn * 1.0 * nn), 4) AS imbalance
    FROM d CROSS JOIN tot
"""

# q145: the reliability diagram — the bin cuts are the SAME Python
# math.log literals Spark folds into its plan (full-precision repr), so
# the IEEE comparisons agree bit-for-bit; the gate label is the q118
# keep expression; mean logits sum exact micro-integers.
import math as _math  # noqa: E402  (oracle literal generation)

_CAL_BIN_SQL = " + ".join(
    "CAST(z >= " + repr(_math.log((k / 10) / (1.0 - k / 10)))
    + " AS INTEGER)" for k in range(1, 10))
ORACLES["145_score_calibration"] = """
    WITH base AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM documents WHERE text IS NOT NULL),
    k AS (
      SELECT doc_id, text, lines,
             list_filter(lines, ln ->
               regexp_matches(ln, '[.!?"]\\s*$')
               AND len(list_filter(
                     string_split_regex(trim(ln), '\\s+'),
                     x -> x <> '')) >= 3
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM base),
    lab AS (
      SELECT doc_id, text, lines,
             (len(regexp_extract_all(
                    coalesce(array_to_string(kept, chr(10)), ''),
                    '[.!?]')) >= 3
              AND NOT contains(text, '__BRACE__')
              AND NOT contains(lower(text), 'lorem ipsum')
              AND len(kept) > 0) AS keep
      FROM k),
    f AS (
      SELECT doc_id, keep,
             ln(len(string_split_regex(trim(text), '\\s+')) + 1.0)
               AS log_tokens,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / length(text) AS alpha_ratio,
             length(regexp_replace(text, '[^\\s]', '', 'g')) * 1.0
               / length(text) AS space_ratio,
             1.0 - len(list_distinct(lines)) * 1.0 / len(lines)
               AS dup_line_ratio
      FROM lab),
    z AS (
      SELECT doc_id, keep,
             -2.2 + 0.35 * log_tokens + 3.0 * alpha_ratio
                  + 4.0 * space_ratio + (-2.5) * dup_line_ratio AS z
      FROM f),
    b AS (
      SELECT __BIN__ AS bin,
             CAST(floor(z * 1e6 + 0.5) AS BIGINT) AS zm,
             CAST(keep AS INTEGER) AS pass
      FROM z)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pass) AS BIGINT) AS n_pass,
           round(CAST(sum(pass) AS DOUBLE) / CAST(count(*) AS DOUBLE),
                 4) AS pass_rate,
           round(CAST(sum(zm) AS DOUBLE) / 1e6
                 / CAST(count(*) AS DOUBLE), 4) + 0.0 AS mean_logit
    FROM b GROUP BY bin
""".replace("__BIN__", _CAL_BIN_SQL).replace("__BRACE__", chr(123))

# q142: the q140 split with the near-dup family tier — the cluster map
# (case-fold equivalence canonical) is lifted to the NFC-family level
# (min cluster canonical per NFC family) before the same md5 bucket
# ranges assign splits.
ORACLES["142_group_split_clustered"] = """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(nfc_normalize(text), '\\s+', ' ',
                                 'g')) AS nt
      FROM documents WHERE text IS NOT NULL),
    d AS (SELECT doc_id, md5(nt) AS dg, md5(lower(nt)) AS ld FROM n),
    canon AS (SELECT dg, min(doc_id) AS canonical_id FROM d GROUP BY dg),
    lcanon AS (SELECT ld, min(doc_id) AS cl FROM d GROUP BY ld),
    m AS (SELECT d.doc_id, c.canonical_id, l.cl
          FROM d JOIN canon c USING (dg) JOIN lcanon l USING (ld)),
    fam AS (SELECT canonical_id, min(cl) AS fam_cl
            FROM m GROUP BY canonical_id),
    m2 AS (SELECT m.doc_id,
                  COALESCE(f.fam_cl, m.canonical_id) AS canonical_id
           FROM m JOIN fam f USING (canonical_id)),
    b AS (SELECT doc_id, canonical_id,
                 ('0x' || substr(md5(CAST(canonical_id AS VARCHAR)),
                                 1, 15))::BIGINT % 100 AS bk
          FROM m2)
    SELECT doc_id, canonical_id,
           CASE WHEN bk < 80 THEN 'train'
                WHEN bk < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
"""

ORACLES["117_gopher_rules"] = """
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS words,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS lwords,
             string_split(text, chr(10)) AS lines
      FROM documents),
    m AS (
      SELECT doc_id,
        len(words) AS n_words,
        length(regexp_replace(text, '\\s', '', 'g')) * 1.0 / len(words)
          AS mean_wl,
        (length(text) - length(replace(text, '#', ''))
         + len(regexp_extract_all(text, '(\\.\\.\\.|…)'))) * 1.0
          / len(words) AS symbol_ratio,
        len(regexp_extract_all(text, '(?m)^\\s*[-•]')) * 1.0
          / len(lines) AS bullet_ratio,
        len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)$')) * 1.0
          / len(lines) AS ell_end_ratio,
        len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
          / len(words) AS alpha_ratio,
        (list_contains(lwords, 'the')::INT
         + list_contains(lwords, 'be')::INT
         + list_contains(lwords, 'to')::INT
         + list_contains(lwords, 'of')::INT
         + list_contains(lwords, 'and')::INT
         + list_contains(lwords, 'that')::INT
         + list_contains(lwords, 'have')::INT
         + list_contains(lwords, 'with')::INT) AS stop_hits
      FROM base)
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           round(mean_wl, 4) AS mean_word_len,
           round(symbol_ratio, 4) AS symbol_ratio,
           round(bullet_ratio, 4) AS bullet_line_ratio,
           round(ell_end_ratio, 4) AS ellipsis_line_ratio,
           round(alpha_ratio, 4) AS alpha_word_ratio,
           CAST(stop_hits AS INTEGER) AS n_stop_words,
           (n_words >= 50 AND n_words <= 100000
            AND mean_wl >= 3 AND mean_wl <= 10
            AND symbol_ratio <= 0.1
            AND bullet_ratio < 0.9 AND ell_end_ratio < 0.3
            AND alpha_ratio >= 0.8
            AND stop_hits >= 2) AS keep
    FROM m
"""

ORACLES["118_c4_filters"] = """
    WITH base AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM documents),
    k AS (
      SELECT doc_id, text, lines,
             list_filter(lines, ln ->
               regexp_matches(ln, '[.!?"]\\s*$')
               AND len(list_filter(
                     string_split_regex(trim(ln), '\\s+'),
                     x -> x <> '')) >= 3
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM base),
    j AS (
      -- DuckDB array_to_string([]) is NULL where Spark array_join is ''
      SELECT *, coalesce(array_to_string(kept, chr(10)), '') AS cl
      FROM k)
    SELECT doc_id,
           CAST(len(lines) AS INTEGER) AS n_lines,
           CAST(len(kept) AS INTEGER) AS n_kept_lines,
           CAST(len(regexp_extract_all(cl, '[.!?]')) AS INTEGER)
             AS n_sentences,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           (len(regexp_extract_all(cl, '[.!?]')) >= 3
            AND NOT contains(text, '{')
            AND NOT contains(lower(text), 'lorem ipsum')
            AND len(kept) > 0) AS keep,
           cl AS clean_text
    FROM j
"""

# q119: engine folds the trained per-dim (min,max) in as literals; the
# oracle re-derives the SAME stats from the same float32 column (min/max
# are exact), so the int8 codes and pico-scaled integer error sums are
# bit-identical. Expression order mirrors sq8_reconstruction
# token-for-token; dim is fixed at 64 (the testdata embedding width,
# enforced by the dimension-guard filter on both sides).
ORACLES["119_sq8_quantize"] = """
    WITH pos AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64),
    st AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM pos GROUP BY pos),
    enc AS (
      SELECT p.vec_id,
             CAST(p.v AS DOUBLE) AS x,
             CAST(s.lo AS DOUBLE) AS lo,
             CAST(s.hi AS DOUBLE) - CAST(s.lo AS DOUBLE) AS scale
      FROM pos p JOIN st s USING (pos)),
    cod AS (
      SELECT vec_id, x, lo, scale,
             CASE WHEN scale = 0 THEN 0
                  ELSE least(greatest(CAST(floor(
                         (x - lo) / scale * 255.0 + 0.5) AS BIGINT),
                       0), 255) END AS code
      FROM enc),
    err AS (
      SELECT vec_id, code,
             x - (CASE WHEN scale = 0 THEN lo
                       ELSE lo + CAST(code AS DOUBLE) * scale / 255.0
                  END) AS e
      FROM cod)
    SELECT vec_id,
           CAST(sum(code) AS BIGINT) AS code_sum,
           CAST(sum(CAST(floor(e * e * 1e12 + 0.5) AS BIGINT))
                AS BIGINT) AS err2_pico,
           CAST(floor(sqrt(
                  CAST(sum(CAST(floor(e * e * 1e12 + 0.5) AS BIGINT))
                       AS DOUBLE) / 1e12 / 64.0) * 1e6 + 0.5)
                AS BIGINT) AS rmse_micro
    FROM err GROUP BY vec_id
"""

# q120: the regression moments are exact micro-scaled integers summed
# order-free; the closed-form slope/intercept/r2 arithmetic mirrors
# zipf_fit's descaled-double expression order token-for-token.
ORACLES["120_zipf_fit"] = """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    tf AS (SELECT source, term, count(*) AS cnt
           FROM toks GROUP BY source, term),
    rk AS (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY cnt DESC, term ASC) AS rk FROM tf),
    m AS (
      SELECT source, cnt,
        CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
        CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y,
        CAST(floor(ln(CAST(rk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT) AS xy,
        CAST(floor(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT) AS xx,
        CAST(floor(ln(CAST(cnt AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT) AS yy
      FROM rk),
    g AS (
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_types,
        CAST(sum(cnt) AS BIGINT) AS n_tokens,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx,
        CAST(sum(yy) AS BIGINT) AS syy
      FROM m GROUP BY source),
    d AS (
      SELECT source, n_types, n_tokens,
             CAST(n_types AS DOUBLE) AS n,
             CAST(sx AS DOUBLE) / 1e6 AS dx,
             CAST(sy AS DOUBLE) / 1e6 AS dy,
             CAST(sxy AS DOUBLE) / 1e6 AS dxy,
             CAST(sxx AS DOUBLE) / 1e6 AS dxx,
             CAST(syy AS DOUBLE) / 1e6 AS dyy
      FROM g),
    f AS (
      SELECT source, n_types, n_tokens, n, dx, dy,
             n * dxy - dx * dy AS num,
             n * dxx - dx * dx AS den,
             n * dyy - dy * dy AS deny
      FROM d)
    SELECT source, n_types, n_tokens,
           round(num / den, 4) + 0.0 AS zipf_slope,
           round((dy - num / den * dx) / n, 4) + 0.0 AS zipf_intercept,
           round(num * num / (den * deny), 4) AS r2
    FROM f
"""

# q121: k1=1.2, b=0.75 folded as literals (2.2 = k1+1, 0.25 = 1-b);
# expression order mirrors bm25_rank token-for-token; per-(doc,term)
# scores become exact nano-integers BEFORE the per-doc sum.
ORACLES["121_bm25_rank"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('hash', 'join', 'window', 'vector')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
                 CAST(count(*) AS INTEGER) AS n_terms_hit
          FROM sc GROUP BY doc_id)
    SELECT doc_id, score_nano, n_terms_hit,
           round(CAST(score_nano AS DOUBLE) / 1e9, 4) + 0.0 AS bm25
    FROM g ORDER BY score_nano DESC, doc_id ASC LIMIT 20
"""

# q122: the q45 oracle machinery (md5 shingle hash, 16 universal-hash
# minhash slots, 4-slot band equality for candidates) extended with the
# slot-agreement estimate and the integer error-bucket rollup. The band
# candidate set equals the engine's xxhash64-bucketed one: bucket values
# are partitioning internals; equality of the 4 underlying slots is the
# same predicate.
ORACLES["122_minhash_calibration"] = """
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
    sh AS (
      SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS hv FROM sh0),
    sig AS (
      SELECT doc_id,
             min(((hv % 1000000007) * 3  + 1)     % 1000000007) AS h0,
             min(((hv % 1000000007) * 5  + 2)     % 1000000007) AS h1,
             min(((hv % 1000000007) * 7  + 4)     % 1000000007) AS h2,
             min(((hv % 1000000007) * 11 + 8)     % 1000000007) AS h3,
             min(((hv % 1000000007) * 13 + 16)    % 1000000007) AS h4,
             min(((hv % 1000000007) * 17 + 32)    % 1000000007) AS h5,
             min(((hv % 1000000007) * 19 + 64)    % 1000000007) AS h6,
             min(((hv % 1000000007) * 23 + 128)   % 1000000007) AS h7,
             min(((hv % 1000000007) * 29 + 256)   % 1000000007) AS h8,
             min(((hv % 1000000007) * 31 + 512)   % 1000000007) AS h9,
             min(((hv % 1000000007) * 37 + 1024)  % 1000000007) AS h10,
             min(((hv % 1000000007) * 41 + 2048)  % 1000000007) AS h11,
             min(((hv % 1000000007) * 43 + 4096)  % 1000000007) AS h12,
             min(((hv % 1000000007) * 47 + 8192)  % 1000000007) AS h13,
             min(((hv % 1000000007) * 53 + 16384) % 1000000007) AS h14,
             min(((hv % 1000000007) * 59 + 32768) % 1000000007) AS h15
      FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS x0, h1 AS x1, h2 AS x2, h3 AS x3 FROM sig
      UNION ALL SELECT doc_id, 1, h4, h5, h6, h7 FROM sig
      UNION ALL SELECT doc_id, 2, h8, h9, h10, h11 FROM sig
      UNION ALL SELECT doc_id, 3, h12, h13, h14, h15 FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.x0 = b.x0 AND a.x1 = b.x1
       AND a.x2 = b.x2 AND a.x3 = b.x3 AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.d1, c.d2,
             (sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
           + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
           + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
           + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT
           + (sa.h8 = sb.h8)::INT + (sa.h9 = sb.h9)::INT
           + (sa.h10 = sb.h10)::INT + (sa.h11 = sb.h11)::INT
           + (sa.h12 = sb.h12)::INT + (sa.h13 = sb.h13)::INT
           + (sa.h14 = sb.h14)::INT + (sa.h15 = sb.h15)::INT AS agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.d1
      JOIN sig sb ON sb.doc_id = c.d2),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.d1
      JOIN sh s2 ON s2.doc_id = c.d2 AND s2.hv = s1.hv
      GROUP BY c.d1, c.d2),
    pair AS (
      -- LEFT join: zero-overlap candidates (pure LSH false positives)
      -- keep inter=0, matching the engine
      SELECT CAST(floor(e.agree * 1000.0 / 16.0 + 0.5) AS BIGINT)
               AS est_milli,
             CAST(floor(coalesce(i.i, 0) * 1000.0
                        / (na.n_sh + nb.n_sh - coalesce(i.i, 0)) + 0.5)
               AS BIGINT) AS exact_milli
      FROM est e
      LEFT JOIN inter i ON i.d1 = e.d1 AND i.d2 = e.d2
      JOIN counts na ON na.doc_id = e.d1
      JOIN counts nb ON nb.doc_id = e.d2),
    p2 AS (
      SELECT est_milli, exact_milli,
             est_milli - exact_milli AS err
      FROM pair)
    SELECT CAST(floor(err / 100.0) AS INTEGER) AS err_bucket,
           count(*) AS n_pairs,
           CAST(sum(est_milli) AS BIGINT) AS sum_est_milli,
           CAST(sum(exact_milli) AS BIGINT) AS sum_exact_milli,
           CAST(min(err) AS BIGINT) AS min_err_milli,
           CAST(max(err) AS BIGINT) AS max_err_milli
    FROM p2 GROUP BY 1
"""

# q123: the q121 scorer replayed over the index's postings — corpus
# stats derive from distinct (doc_id, dl) of non-null-text docs (the
# index drops null texts), terms customer/merge/sort, k=15.
ORACLES["123_bm25_indexed"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('customer', 'merge', 'sort')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
                 CAST(count(*) AS INTEGER) AS n_terms_hit
          FROM sc GROUP BY doc_id)
    SELECT doc_id, score_nano, n_terms_hit,
           round(CAST(score_nano AS DOUBLE) / 1e9, 4) + 0.0 AS bm25
    FROM g ORDER BY score_nano DESC, doc_id ASC LIMIT 15
"""

ORACLES["124_tfidf_cosine"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 LEAST(CAST(floor(count(*) * 0.5) AS BIGINT), 500)
                   AS df_cap
          FROM documents),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    kept AS (SELECT dfq.term, dfq.df FROM dfq CROSS JOIN n
             WHERE dfq.df >= 2 AND dfq.df <= n.df_cap),
    w AS (SELECT tf.doc_id, tf.term,
                 tf.tf * ln(n.n / kept.df) AS w
          FROM tf JOIN kept USING (term) CROSS JOIN n),
    norms AS (SELECT doc_id,
                     sum(CAST(floor(w * w * 1e9 + 0.5) AS BIGINT))
                       AS norm_nano
              FROM w GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     sum(CAST(floor(a.w * b.w * 1e9 + 0.5) AS BIGINT))
                       AS dot_nano,
                     CAST(count(*) AS INTEGER) AS n_shared
              FROM w a JOIN w b
                ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    sc AS (SELECT id_a, id_b, n_shared,
                  CAST(dot_nano AS DOUBLE)
                    / sqrt(CAST(na.norm_nano AS DOUBLE)
                           * CAST(nb.norm_nano AS DOUBLE)) AS c
           FROM pairs
           JOIN norms na ON na.doc_id = id_a
           JOIN norms nb ON nb.doc_id = id_b)
    SELECT id_a, id_b, n_shared, round(c, 4) + 0.0 AS cosine
    FROM sc WHERE c >= 0.3
"""

ORACLES["125_weighted_sample"] = """
    WITH f AS (
      SELECT * FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0),
    k AS (
      SELECT *,
             ln((CAST(('0x' || substr(
                    md5('ws_' || CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) + 0.5)
                / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE) AS es
      FROM f)
    SELECT doc_id, text, lang, source, n_chars,
           round(es, 6) + 0.0 AS sample_key
    FROM k ORDER BY es DESC, doc_id ASC LIMIT 40
"""

ORACLES["126_budget_select"] = """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_distinct(
               string_split_regex(trim(lower(text)), '\\s+')))
               AS BIGINT) AS score,
             CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
               AS BIGINT) AS n_tokens
      FROM documents),
    o AS (SELECT *,
                 sum(n_tokens) OVER (
                   ORDER BY score DESC,
                            md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM t WHERE n_tokens > 0)
    SELECT doc_id, score, n_tokens FROM o WHERE cum <= 12000
"""

ORACLES["127_hard_negatives"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings WHERE embedding IS NOT NULL),
    a AS (SELECT * FROM e WHERE label = 1),
    p AS (SELECT a.vec_id, b.vec_id AS neg_id, b.label AS neg_label,
                 list_cosine_similarity(a.v, b.v) AS s
          FROM a JOIN e b ON a.label <> b.label),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY s DESC, neg_id ASC) AS rk
          FROM p)
    SELECT vec_id, neg_id, neg_label,
           round(s, 4) + 0.0 AS cosine, CAST(rk AS INTEGER) AS rank
    FROM r WHERE rk <= 5
"""

ORACLES["128_retrieval_metrics"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    s AS (SELECT vec_id, list_cosine_similarity(v, qv) AS s
          FROM e, q WHERE vec_id <> 0),
    r AS (SELECT vec_id,
                 row_number() OVER (ORDER BY s DESC, vec_id ASC) AS rank
          FROM s ORDER BY s DESC, vec_id ASC LIMIT 20),
    rel AS (SELECT vec_id FROM e WHERE label = 1),
    tot AS (SELECT count(*) AS r_total FROM rel),
    ks AS (SELECT unnest([1, 5, 10, 20]) AS k),
    ex AS (SELECT ks.k, r.rank,
                  CASE WHEN rel.vec_id IS NOT NULL THEN 1 ELSE 0 END
                    AS is_rel
           FROM r CROSS JOIN ks
           LEFT JOIN rel ON r.vec_id = rel.vec_id
           WHERE r.rank <= ks.k),
    agg AS (SELECT k,
                   CAST(sum(is_rel) AS BIGINT) AS hits,
                   sum(CAST(is_rel AS BIGINT)
                       * CAST(floor(1e9 / log2(rank + 1.0) + 0.5)
                              AS BIGINT)) AS dcg_nano,
                   max(CASE WHEN is_rel = 1
                            THEN 1.0 / rank END) AS best_rr
            FROM ex GROUP BY k),
    idcg AS (SELECT ks.k,
                    CAST(sum(CAST(floor(1e9 / log2(t.i + 1.0) + 0.5)
                                  AS BIGINT)) AS BIGINT) AS inano
             FROM ks CROSS JOIN tot
             CROSS JOIN generate_series(1, 20) AS t(i)
             WHERE t.i <= least(ks.k, tot.r_total)
             GROUP BY ks.k)
    SELECT CAST(agg.k AS INTEGER) AS k,
           CAST(tot.r_total AS INTEGER) AS n_relevant,
           agg.hits,
           round(agg.hits * 1.0 / agg.k, 4) AS precision_k,
           round(agg.hits * 1.0 / tot.r_total, 4) AS recall_k,
           round(coalesce(agg.best_rr, 0.0), 4) AS mrr,
           round(CAST(agg.dcg_nano AS DOUBLE)
                 / CAST(idcg.inano AS DOUBLE), 4) AS ndcg
    FROM agg JOIN idcg ON agg.k = idcg.k CROSS JOIN tot
"""

ORACLES["129_normalized_dedup"] = """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(nfc_normalize(text), '\\s+', ' ', 'g'))
               AS norm
      FROM documents)
    SELECT md5(norm) AS norm_digest,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS canonical_id,
           CAST(min(length(norm)) AS INTEGER) AS n_chars_norm
    FROM n GROUP BY md5(norm)
"""

ORACLES["130_hashed_features"] = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE text IS NOT NULL),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                           ::BIGINT % 2) AS INTEGER) AS sgn
      FROM toks)
    SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat
    FROM h GROUP BY doc_id, bucket
"""

# q131: both legs rank by exact nano-integers (BM25 leg = the q121
# oracle machinery at depth 50; dense leg = q130 hashed features vs the
# md5-hashed query vector), so the fused ordering replays exactly; the
# rrf double is a fixed-order sum of two exact divisions.
ORACLES["131_hybrid_rrf"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('hash', 'join', 'window', 'vector')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano
          FROM sc GROUP BY doc_id),
    leg_s AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_nano DESC,
                                     doc_id ASC) AS INTEGER) AS rank_bm25
      FROM (SELECT * FROM g
            ORDER BY score_nano DESC, doc_id ASC LIMIT 50)),
    sf AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                           ::BIGINT % 2) AS INTEGER) AS sgn
      FROM toks),
    feats AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat
              FROM sf GROUP BY doc_id, bucket),
    qf AS (
      SELECT bucket, CAST(sum(sgn) AS BIGINT) AS qfeat FROM (
        SELECT CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                    AS INTEGER) AS bucket,
               CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                             ::BIGINT % 2) AS INTEGER) AS sgn
        FROM (VALUES ('hash'), ('join'), ('window'), ('vector'))
             t(term)) q
      GROUP BY bucket HAVING sum(sgn) <> 0),
    qn AS (SELECT CAST(sum(qfeat * qfeat) AS DOUBLE) AS qnorm FROM qf),
    dots AS (SELECT f.doc_id, CAST(sum(f.feat * q.qfeat) AS BIGINT)
                    AS dot
             FROM feats f JOIN qf q USING (bucket) GROUP BY f.doc_id),
    norms AS (SELECT doc_id, CAST(sum(feat * feat) AS BIGINT) AS norm
              FROM feats GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id,
             CAST(floor(CAST(d.dot AS DOUBLE)
                        / sqrt(CAST(n.norm AS DOUBLE) * qn.qnorm)
                        * 1e9 + 0.5) AS BIGINT) AS cos_nano
      FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn
      WHERE n.norm > 0),
    leg_d AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos_nano DESC,
                                     doc_id ASC) AS INTEGER) AS rank_dense
      FROM (SELECT * FROM scored
            ORDER BY cos_nano DESC, doc_id ASC LIMIT 50)),
    fused AS (
      SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
             s.rank_bm25, d.rank_dense,
             COALESCE(1.0 / (60.0 + s.rank_bm25), 0.0)
               + COALESCE(1.0 / (60.0 + d.rank_dense), 0.0) AS rrf
      FROM leg_s s FULL OUTER JOIN leg_d d ON s.doc_id = d.doc_id)
    SELECT doc_id,
           CAST(COALESCE(rank_bm25, 0) AS INTEGER) AS rank_bm25,
           CAST(COALESCE(rank_dense, 0) AS INTEGER) AS rank_dense,
           round(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20
"""

# q141: hybrid_serve_indexed is bit-identical to hybrid_rank_rrf on the
# same corpus (the legs share one scorer/fusion expression tree; parity
# test in tests/test_textstats.py), so the oracle is the q131 pipeline
# with q141's query terms / depth / k.
ORACLES["141_hybrid_serve"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('customer', 'sort', 'hash')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano
          FROM sc GROUP BY doc_id),
    leg_s AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_nano DESC,
                                     doc_id ASC) AS INTEGER) AS rank_bm25
      FROM (SELECT * FROM g
            ORDER BY score_nano DESC, doc_id ASC LIMIT 40)),
    sf AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                           ::BIGINT % 2) AS INTEGER) AS sgn
      FROM toks),
    feats AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat
              FROM sf GROUP BY doc_id, bucket),
    qf AS (
      SELECT bucket, CAST(sum(sgn) AS BIGINT) AS qfeat FROM (
        SELECT CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                    AS INTEGER) AS bucket,
               CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                             ::BIGINT % 2) AS INTEGER) AS sgn
        FROM (VALUES ('customer'), ('sort'), ('hash'))
             t(term)) q
      GROUP BY bucket HAVING sum(sgn) <> 0),
    qn AS (SELECT CAST(sum(qfeat * qfeat) AS DOUBLE) AS qnorm FROM qf),
    dots AS (SELECT f.doc_id, CAST(sum(f.feat * q.qfeat) AS BIGINT)
                    AS dot
             FROM feats f JOIN qf q USING (bucket) GROUP BY f.doc_id),
    norms AS (SELECT doc_id, CAST(sum(feat * feat) AS BIGINT) AS norm
              FROM feats GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id,
             CAST(floor(CAST(d.dot AS DOUBLE)
                        / sqrt(CAST(n.norm AS DOUBLE) * qn.qnorm)
                        * 1e9 + 0.5) AS BIGINT) AS cos_nano
      FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn
      WHERE n.norm > 0),
    leg_d AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos_nano DESC,
                                     doc_id ASC) AS INTEGER) AS rank_dense
      FROM (SELECT * FROM scored
            ORDER BY cos_nano DESC, doc_id ASC LIMIT 40)),
    fused AS (
      SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
             s.rank_bm25, d.rank_dense,
             COALESCE(1.0 / (60.0 + s.rank_bm25), 0.0)
               + COALESCE(1.0 / (60.0 + d.rank_dense), 0.0) AS rrf
      FROM leg_s s FULL OUTER JOIN leg_d d ON s.doc_id = d.doc_id)
    SELECT doc_id,
           CAST(COALESCE(rank_bm25, 0) AS INTEGER) AS rank_bm25,
           CAST(COALESCE(rank_dense, 0) AS INTEGER) AS rank_dense,
           round(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 15
"""

# q147: the batched server is per-query bit-identical to q141's scalar
# pipeline (differential test), so the oracle is the q141 SQL with a
# query dimension: a (query_id, term) VALUES table fans the shared
# term-pruned tf/df slivers per query, every window partitions by
# query_id, and fusion full-outer-joins on (query_id, doc_id).
ORACLES["147_hybrid_serve_batch"] = """
    WITH q AS (
      SELECT * FROM (VALUES
        (1, 'customer'), (1, 'sort'), (1, 'hash'),
        (2, 'merge'), (2, 'join'),
        (3, 'hash'), (3, 'table')) t(query_id, term)),
    base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN (SELECT DISTINCT term FROM q)
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT qq.query_id, tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      JOIN q qq USING (term)
      CROSS JOIN tot),
    g AS (SELECT query_id, doc_id,
                 CAST(sum(s_nano) AS BIGINT) AS score_nano
          FROM sc GROUP BY query_id, doc_id),
    leg_s AS (
      SELECT query_id, doc_id, CAST(rk AS INTEGER) AS rank_bm25
      FROM (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score_nano DESC,
                                      doc_id ASC) AS rk
            FROM g)
      WHERE rk <= 40),
    sf AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                           ::BIGINT % 2) AS INTEGER) AS sgn
      FROM toks),
    feats AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat
              FROM sf GROUP BY doc_id, bucket),
    qf AS (
      SELECT query_id, bucket, CAST(sum(sgn) AS BIGINT) AS qfeat
      FROM (
        SELECT query_id,
               CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                    AS INTEGER) AS bucket,
               CAST(1 - 2 * (('0x' || substr(md5('s_' || term), 1, 15))
                             ::BIGINT % 2) AS INTEGER) AS sgn
        FROM q) s
      GROUP BY query_id, bucket HAVING sum(sgn) <> 0),
    qn AS (SELECT query_id, CAST(sum(qfeat * qfeat) AS DOUBLE) AS qnorm
           FROM qf GROUP BY query_id),
    dots AS (SELECT qf.query_id, f.doc_id,
                    CAST(sum(f.feat * qf.qfeat) AS BIGINT) AS dot
             FROM feats f JOIN qf USING (bucket)
             GROUP BY qf.query_id, f.doc_id),
    norms AS (SELECT doc_id, CAST(sum(feat * feat) AS BIGINT) AS norm
              FROM feats GROUP BY doc_id),
    scored AS (
      SELECT d.query_id, d.doc_id,
             CAST(floor(CAST(d.dot AS DOUBLE)
                        / sqrt(CAST(n.norm AS DOUBLE) * qn.qnorm)
                        * 1e9 + 0.5) AS BIGINT) AS cos_nano
      FROM dots d JOIN norms n USING (doc_id)
      JOIN qn ON qn.query_id = d.query_id
      WHERE n.norm > 0),
    leg_d AS (
      SELECT query_id, doc_id, CAST(rk AS INTEGER) AS rank_dense
      FROM (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_nano DESC,
                                      doc_id ASC) AS rk
            FROM scored)
      WHERE rk <= 40),
    fused AS (
      SELECT COALESCE(s.query_id, d.query_id) AS query_id,
             COALESCE(s.doc_id, d.doc_id) AS doc_id,
             s.rank_bm25, d.rank_dense,
             COALESCE(1.0 / (60.0 + s.rank_bm25), 0.0)
               + COALESCE(1.0 / (60.0 + d.rank_dense), 0.0) AS rrf
      FROM leg_s s FULL OUTER JOIN leg_d d
        ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(COALESCE(rank_bm25, 0) AS INTEGER) AS rank_bm25,
           CAST(COALESCE(rank_dense, 0) AS INTEGER) AS rank_dense,
           round(rrf, 6) AS rrf
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id ASC)
                    AS frk
          FROM fused)
    WHERE frk <= 10
"""

# q132: exact integer bucket counts; each per-bucket JS contribution is
# computed from the same double divisions and log2 in both engines and
# floor-scaled to a nano BIGINT before the per-pair sum.
ORACLES["132_source_divergence"] = """
    WITH toks AS (
      SELECT source AS src,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE text IS NOT NULL),
    counts AS (
      SELECT src,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2),
    srcs AS (SELECT DISTINCT src FROM counts),
    buckets AS (SELECT CAST(b AS INTEGER) AS bucket
                FROM (SELECT unnest(range(64)) AS b) t),
    grid AS (
      SELECT s.src, b.bucket, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM srcs s CROSS JOIN buckets b
      LEFT JOIN counts c ON c.src = s.src AND c.bucket = b.bucket),
    totals AS (SELECT src, CAST(sum(c) AS BIGINT) AS n
               FROM counts GROUP BY src),
    dist AS (SELECT g.src, g.bucket, g.c, t.n
             FROM grid g JOIN totals t USING (src)),
    pairs AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(floor((
               (CASE WHEN a.c > 0 THEN
                  (CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE))
                  * log2((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE))
                         / ((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                             + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                            / 2.0))
                ELSE 0.0 END
                + CASE WHEN b.c > 0 THEN
                    (CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                    * log2((CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                           / ((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                               + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                              / 2.0))
                  ELSE 0.0 END
             ) / 2.0 * 1e9 + 0.5)) AS BIGINT) AS js_nano
      FROM dist a JOIN dist b
        ON a.bucket = b.bucket AND a.src < b.src)
    SELECT source_a, source_b,
           round(CAST(sum(js_nano) AS DOUBLE) / 1e9, 6) AS js_bits
    FROM pairs GROUP BY source_a, source_b
"""

# q134: each stage is digest/integer-deterministic (exact + NFC keep
# the group's min id; the near stage removes any doc pairing with a
# smaller survivor at jaccard >= threshold over the q44 machinery), so
# the staged composition replays exactly.
ORACLES["134_dedup_funnel"] = """
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE text IS NOT NULL),
    s1 AS (SELECT doc_id, text,
                  doc_id <> min(doc_id) OVER (PARTITION BY md5(text))
                    AS rm1
           FROM d),
    n AS (SELECT doc_id,
                 trim(regexp_replace(nfc_normalize(text), '\\s+', ' ',
                                     'g')) AS norm
          FROM s1 WHERE NOT rm1),
    s2 AS (SELECT doc_id,
                  doc_id <> min(doc_id) OVER (PARTITION BY md5(norm))
                    AS rm2
           FROM n),
    surv2 AS (SELECT d.doc_id, d.text FROM d
              JOIN s2 ON s2.doc_id = d.doc_id WHERE NOT s2.rm2),
    tok AS (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM surv2),
    sh0 AS (SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (
             SELECT shingle FROM sh0
             GROUP BY shingle HAVING count(*) > 100)),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    nearrm AS (SELECT DISTINCT d2 AS doc_id FROM inter
               JOIN counts na ON na.doc_id = inter.d1
               JOIN counts nb ON nb.doc_id = inter.d2
               WHERE i * 1.0 / (na.n_sh + nb.n_sh - i) >= 0.2)
    SELECT d.doc_id,
           CASE WHEN s1.rm1 THEN 'exact'
                WHEN COALESCE(s2.rm2, FALSE) THEN 'nfc'
                WHEN nr.doc_id IS NOT NULL THEN 'near'
                ELSE 'kept' END AS stage
    FROM d
    JOIN s1 ON s1.doc_id = d.doc_id
    LEFT JOIN s2 ON s2.doc_id = d.doc_id
    LEFT JOIN nearrm nr ON nr.doc_id = d.doc_id
"""

# q138: the q74 integerized-vector/fixed-codebook machinery (exact
# integer arithmetic in float64) + a 10-query ADC batch + the q136
# recall tail; both legs rank (score desc, id asc).
ORACLES["138_pq_recall"] = """
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> floor(CAST(x AS DOUBLE) * 32)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    js AS (SELECT unnest(range(0, 8)) AS j),
    cb AS (
      SELECT js.j, iv.vec_id - 1 AS c,
             list_slice(iv.v, js.j*8 + 1, js.j*8 + 8) AS bv
      FROM iv, js WHERE iv.vec_id BETWEEN 1 AND 16),
    dist AS (
      SELECT iv.vec_id, cb.j, cb.c,
             list_sum(list_transform(range(1, 9), i ->
               (iv.v[cb.j*8 + i] - cb.bv[i])
               * (iv.v[cb.j*8 + i] - cb.bv[i]))) AS d2
      FROM iv, cb),
    code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, c) AS rn
        FROM dist) t WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM iv
          WHERE vec_id < 10),
    adc AS (
      SELECT q.query_id, cb.j, cb.c,
             list_sum(list_transform(range(1, 9), i ->
               q.qv[cb.j*8 + i] * cb.bv[i])) AS dot
      FROM cb, q),
    ascore AS (
      SELECT adc.query_id, code.vec_id, SUM(adc.dot) AS s
      FROM code JOIN adc ON code.j = adc.j AND code.c = adc.c
      GROUP BY adc.query_id, code.vec_id),
    ap AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY s DESC, vec_id ASC) AS rn
             FROM ascore) t WHERE rn <= 10),
    escore AS (
      SELECT q.query_id, iv.vec_id,
             list_sum(list_transform(range(1, 65), i ->
               iv.v[i] * q.qv[i])) AS s
      FROM iv, q),
    ex AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY s DESC, vec_id ASC) AS rn
             FROM escore) t WHERE rn <= 10),
    hits AS (SELECT ex.query_id, count(*) AS n
             FROM ex JOIN ap ON ap.query_id = ex.query_id
                            AND ap.vec_id = ex.vec_id
             GROUP BY ex.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h.n, 0) AS INTEGER) AS n_hits,
           round(COALESCE(h.n, 0) / 10.0, 4) AS recall
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
"""

# q137: the q41 marker-count + ties-to-earlier argmax machinery,
# reduced to the (label, pred) matrix with exact-integer shares.
ORACLES["137_lang_confusion"] = """
    WITH t AS (SELECT lang AS label, ' ' || lower(text) || ' ' AS txt
               FROM documents
               WHERE text IS NOT NULL AND lang IS NOT NULL),
    s AS (SELECT label,
           CAST(len(string_split(txt, ' the '))-1
              + len(string_split(txt, ' and '))-1
              + len(string_split(txt, ' of '))-1
              + len(string_split(txt, ' a '))-1 AS INTEGER) AS score_en,
           CAST(len(string_split(txt, ' el '))-1
              + len(string_split(txt, ' la '))-1
              + len(string_split(txt, ' los '))-1
              + len(string_split(txt, ' de '))-1 AS INTEGER) AS score_es,
           CAST(len(string_split(txt, ' le '))-1
              + len(string_split(txt, ' la '))-1
              + len(string_split(txt, ' les '))-1
              + len(string_split(txt, ' des '))-1 AS INTEGER) AS score_fr,
           CAST(len(string_split(txt, ' der '))-1
              + len(string_split(txt, ' die '))-1
              + len(string_split(txt, ' das '))-1
              + len(string_split(txt, ' und '))-1 AS INTEGER) AS score_de
          FROM t),
    p AS (SELECT label,
           CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0
                THEN 'unknown'
                WHEN score_en = greatest(score_en, score_es, score_fr,
                                         score_de) THEN 'en'
                WHEN score_es = greatest(score_en, score_es, score_fr,
                                         score_de) THEN 'es'
                WHEN score_fr = greatest(score_en, score_es, score_fr,
                                         score_de) THEN 'fr'
                ELSE 'de' END AS pred
          FROM s),
    cells AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n_docs
              FROM p GROUP BY label, pred),
    tot AS (SELECT label, CAST(sum(n_docs) AS BIGINT) AS t
            FROM cells GROUP BY label)
    SELECT c.label, c.pred, c.n_docs,
           round(CAST(c.n_docs AS DOUBLE) / CAST(tot.t AS DOUBLE), 4)
             AS share
    FROM cells c JOIN tot ON tot.label = c.label
"""

# q136: assignment = first-max argmax over centroid cosines (row_number
# ties to the lowest centroid id, exactly array_position's first-max);
# both legs rank by (cosine desc, id asc); recall joins the two top-k
# sets. Cosine ordering parity between Spark's fold and DuckDB's
# list_cosine_similarity is the q47/q51 precedent.
ORACLES["136_ivf_recall"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    sims AS (
      SELECT e.vec_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(e.v, c.v))
                  THEN -2.0
                  ELSE list_cosine_similarity(e.v, c.v) END AS s
      FROM e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS ivf_list FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM sims) t WHERE rn = 1),
    qc AS (
      SELECT q.query_id, c.cid,
             CASE WHEN isnan(list_cosine_similarity(q.qv, c.v))
                  THEN 0.0
                  ELSE list_cosine_similarity(q.qv, c.v) END AS s
      FROM q CROSS JOIN cent c),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, cid ASC) AS rn
        FROM qc) t WHERE rn <= 2),
    ex AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(e.v, q.qv) DESC,
                          e.vec_id ASC) AS rn
        FROM e CROSS JOIN q) t WHERE rn <= 10),
    ap AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(e.v, q.qv) DESC,
                          e.vec_id ASC) AS rn
        FROM assign a
        JOIN e ON e.vec_id = a.vec_id
        JOIN probes p ON p.cid = a.ivf_list
        JOIN q ON q.query_id = p.query_id) t WHERE rn <= 10),
    hits AS (SELECT ex.query_id, count(*) AS n
             FROM ex JOIN ap ON ap.query_id = ex.query_id
                            AND ap.vec_id = ex.vec_id
             GROUP BY ex.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h.n, 0) AS INTEGER) AS n_hits,
           round(COALESCE(h.n, 0) / 10.0, 4) AS recall
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
"""

# q135: the q132 per-bucket JS discipline against a FROZEN baseline
# histogram (src0-src4); the baseline total folds in as a literal in
# both engines.
ORACLES["135_js_drift"] = """
    WITH toks AS (
      SELECT source AS grp,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE text IS NOT NULL),
    counts AS (
      SELECT grp,
             CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2),
    srcs AS (SELECT DISTINCT grp FROM counts),
    buckets AS (SELECT CAST(b AS INTEGER) AS bucket
                FROM (SELECT unnest(range(64)) AS b) t),
    grid AS (
      SELECT s.grp, bk.bucket, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM srcs s CROSS JOIN buckets bk
      LEFT JOIN counts c ON c.grp = s.grp AND c.bucket = bk.bucket),
    totals AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n
               FROM counts GROUP BY grp),
    btoks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
      WHERE text IS NOT NULL
        AND source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
    bc AS (
      SELECT CAST(('0x' || substr(md5(term), 1, 15))::BIGINT % 64
                  AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM btoks GROUP BY 1),
    bn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM bc),
    bdense AS (
      SELECT bk.bucket, CAST(COALESCE(bc.c, 0) AS BIGINT) AS bcnt
      FROM buckets bk LEFT JOIN bc ON bc.bucket = bk.bucket),
    j AS (
      SELECT g.grp, g.n,
             CAST(floor((
               (CASE WHEN g.c > 0 THEN
                  (CAST(g.c AS DOUBLE) / CAST(g.n AS DOUBLE))
                  * log2((CAST(g.c AS DOUBLE) / CAST(g.n AS DOUBLE))
                         / ((CAST(g.c AS DOUBLE) / CAST(g.n AS DOUBLE)
                             + CAST(b.bcnt AS DOUBLE) / bn.n) / 2.0))
                ELSE 0.0 END
                + CASE WHEN b.bcnt > 0 THEN
                    (CAST(b.bcnt AS DOUBLE) / bn.n)
                    * log2((CAST(b.bcnt AS DOUBLE) / bn.n)
                           / ((CAST(g.c AS DOUBLE) / CAST(g.n AS DOUBLE)
                               + CAST(b.bcnt AS DOUBLE) / bn.n) / 2.0))
                  ELSE 0.0 END
             ) / 2.0 * 1e9 + 0.5)) AS BIGINT) AS js_nano
      FROM (SELECT gr.grp, gr.bucket, gr.c, t.n FROM grid gr
            JOIN totals t USING (grp)) g
      JOIN bdense b ON b.bucket = g.bucket
      CROSS JOIN bn)
    SELECT grp AS source,
           round(CAST(sum(js_nano) AS DOUBLE) / 1e9, 6) AS js_bits,
           CAST(n AS BIGINT) AS n_tokens
    FROM j GROUP BY grp, n
"""

# q133: micro-integer components, md5-derived sign matrix (0-based
# (j, i) keys match Spark's posexplode positions), exact BIGINT
# dots/norms in both spaces; cosines divide exact integers in double.
ORACLES["133_jl_distortion"] = """
    WITH probes AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL ORDER BY vec_id ASC LIMIT 50),
    comps AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
               AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS xm
      FROM probes),
    signs AS (
      SELECT CAST(jj.j AS INTEGER) AS j, CAST(ii.i AS INTEGER) AS i,
             CAST(1 - 2 * (('0x' || substr(md5(
                    jj.j::VARCHAR || '_' || ii.i::VARCHAR), 1, 15))
                    ::BIGINT % 2) AS INTEGER) AS sgn
      FROM (SELECT unnest(range(16)) AS j) jj
      CROSS JOIN (SELECT unnest(range(64)) AS i) ii),
    proj AS (
      SELECT c.vec_id, s.j, CAST(sum(s.sgn * c.xm) AS BIGINT) AS y
      FROM comps c JOIN signs s ON s.i = c.i
      GROUP BY c.vec_id, s.j),
    dot_o AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(sum(a.xm * b.xm) AS BIGINT) AS dot_o
      FROM comps a JOIN comps b
        ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    dot_p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(sum(a.y * b.y) AS BIGINT) AS dot_p
      FROM proj a JOIN proj b
        ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    n_o AS (SELECT vec_id, CAST(sum(xm * xm) AS BIGINT) AS n
            FROM comps GROUP BY vec_id),
    n_p AS (SELECT vec_id, CAST(sum(y * y) AS BIGINT) AS n
            FROM proj GROUP BY vec_id)
    SELECT d.id_a, d.id_b,
           round(CAST(d.dot_o AS DOUBLE)
                 / sqrt(CAST(nao.n AS DOUBLE) * CAST(nbo.n AS DOUBLE)),
                 4) + 0.0 AS cos_orig,
           round(CAST(p.dot_p AS DOUBLE)
                 / sqrt(CAST(nap.n AS DOUBLE) * CAST(nbp.n AS DOUBLE)),
                 4) + 0.0 AS cos_proj,
           round(abs(CAST(d.dot_o AS DOUBLE)
                     / sqrt(CAST(nao.n AS DOUBLE) * CAST(nbo.n AS DOUBLE))
                     - CAST(p.dot_p AS DOUBLE)
                     / sqrt(CAST(nap.n AS DOUBLE)
                            * CAST(nbp.n AS DOUBLE))), 4) AS abs_err
    FROM dot_o d
    JOIN dot_p p ON p.id_a = d.id_a AND p.id_b = d.id_b
    JOIN n_o nao ON nao.vec_id = d.id_a
    JOIN n_o nbo ON nbo.vec_id = d.id_b
    JOIN n_p nap ON nap.vec_id = d.id_a
    JOIN n_p nbp ON nbp.vec_id = d.id_b
    WHERE nao.n > 0 AND nbo.n > 0 AND nap.n > 0 AND nbp.n > 0
"""

# q156: BM25 as of batch 1 — the batch-0/1 survivor set (doc_id%3 in
# (0,1), the %21 deletes applied, the %42 same-batch re-adds kept);
# q152's scorer CTEs over that predicate. The Spark side reads a
# PINNED manifest that predates batch 2 AND the compaction fold, so a
# value match proves folds don't rewrite history.
ORACLES["156_index_time_travel"] = """
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
      WHERE text IS NOT NULL
        AND doc_id % 3 IN (0, 1)
        AND NOT (doc_id % 21 = 0 AND doc_id % 42 <> 0)),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avgdl
            FROM dl),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks
           WHERE term IN ('customer', 'merge', 'sort')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / tot.avgdl))
               * 1e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot),
    g AS (SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
                 CAST(count(*) AS INTEGER) AS n_terms_hit
          FROM sc GROUP BY doc_id)
    SELECT doc_id, score_nano, n_terms_hit,
           round(CAST(score_nano AS DOUBLE) / 1e9, 4) + 0.0 AS bm25
    FROM g ORDER BY score_nano DESC, doc_id ASC LIMIT 15
"""

# q158: both audit sides recomputed from the q152 survivor set — the
# manifest integers (carried by increment/decrement through the CDC
# lifecycle) and the live doclens recount must both equal this, and
# therefore each other (stats_consistent = TRUE).
ORACLES["158_store_stats_audit"] = """
    WITH dl AS (
      SELECT CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                  AS BIGINT) AS dl
      FROM documents
      WHERE text IS NOT NULL
        AND NOT (doc_id % 21 = 0 AND doc_id % 42 <> 0))
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS dl_sum,
           CAST(count(*) AS BIGINT) AS live_n_docs,
           CAST(sum(dl) AS BIGINT) AS live_dl_sum,
           TRUE AS stats_consistent
    FROM dl
"""

# q159: identical survivor-set BM25 rebuild to q152 — the snapshot
# promotion changes the serving ARTIFACT (one folded term-sorted
# parquet, zero tombstone joins), never the values.
ORACLES["159_snapshot_promote_serve"] = ORACLES[
    "152_segmented_store_serve"]
