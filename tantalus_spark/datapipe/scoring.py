"""Model-based corpus scoring for training-data curation.

Three operators a 100 TB pretraining pipeline runs between cleaning and
packing:

- :func:`unigram_lm_score` — CCNet-style language-model quality scoring
  (Wenzek et al., LREC 2020): per-document cross-entropy under a unigram
  LM estimated from the corpus itself.  Low cost ≈ fluent/common text,
  high cost ≈ gibberish or boilerplate-free rare text; pipelines keep the
  head/middle buckets.
- :func:`dsir_weights` — Data Selection with Importance Resampling
  (Xie et al., NeurIPS 2023): hashed-unigram log-likelihood ratio between
  a curated *target* slice and the raw corpus; documents whose feature
  mass looks target-like get positive weights and are preferentially
  sampled.
- :func:`corpus_shuffle` — deterministic seeded global shuffle (shard +
  intra-shard order) for reproducible training-example order.

Engine-exactness: every cross-row reduction here is an INTEGER sum.
Per-token log-probabilities are quantized once to integer "millibits"
(``floor(log2(p) * 1000 + 0.5)``) and all document scores are sums /
integer divisions of those BIGINTs — no float summation anywhere, so the
DuckDB oracles replay bit-for-bit regardless of partition or fold order
(the float-ulp risk is confined to the single quantization boundary,
the same class as the repo's ``round(x, 4)`` oracles but strictly
narrower).

Reference parity note: the reference (molonc/tantalus) has no LM-scoring
subsystem — these extend the engine for the LLM-data-pipeline mandate,
following the cited public papers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tantalus_spark.datapipe.textstats import tokens
from tantalus_spark.operators.spread import spread_small_scan


def _millibits(log2_col) -> F.Column:
    """Quantize a double log2 value to integer millibits with
    floor(x*1000 + 0.5) — identical semantics in Spark and DuckDB
    (unlike round(), whose half-away/half-even conventions differ)."""
    return F.floor(log2_col * F.lit(1000.0) + F.lit(0.5)).cast("long")


def lm_cost_table(
    df: DataFrame,
    text_col: str = "text",
    alpha: int = 1,
):
    """Train the unigram LM: returns ``(cost_df, oov_cost_mb)`` where
    ``cost_df`` is (term, cost_mb) with
    ``cost_t = -log2((c_t + alpha) / (N + alpha*V))`` millibit-quantized,
    and ``oov_cost_mb`` is the cost of an unseen token (c=0) — what a
    scorer charges for out-of-vocabulary tokens when the table is frozen
    and reused on NEW data (the production CCNet shape: train offline,
    score forever).

    One token explode into a term-keyed count aggregate (map-side
    partials); the (N, V) scalars fold in via one single-row action.
    The returned cost table is LAZY and cache-free: the scalar action
    runs one fused job, and a consumer's action recomputes the count
    aggregate FUSED into its own DAG — one extra map-side agg beats a
    persist the caller can't see (the r4 leak) or an eager
    materialization barrier (the first r5 fix, which slowed every
    scoring composition 2-3x)."""
    import math

    df = spread_small_scan(df)
    toks = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # one fused job for the scalars; no cache (a single action reads it)
    n_total, vocab = counts.agg(F.sum("c"), F.count(F.lit(1))).first()
    denom = float(n_total + alpha * vocab)
    cost = counts.select(
        "term",
        _millibits(-F.log2((F.col("c") + F.lit(alpha)) / F.lit(denom))
                   ).alias("cost_mb"),
    )
    oov_cost_mb = math.floor(-math.log2(alpha / denom) * 1000 + 0.5)
    return cost, oov_cost_mb


def _lm_cost_table_lazy(
    df: DataFrame,
    text_col: str = "text",
    alpha: int = 1,
) -> DataFrame:
    """:func:`lm_cost_table`'s cost frame with ZERO driver actions: the
    (N, V) scalars ride the plan as a broadcast 1-row aggregate instead
    of a separate single-row action whose literals the driver folds in —
    a consumer's one action then computes the whole thing as ONE job
    (the count aggregate's exchange is shared between the scalar subtree
    and the cost projection, so the corpus explode still runs once).
    Bit-identical to the literal path: ``denom`` is the exact long
    ``N + alpha·V`` cast to double, which equals Python
    ``float(n_total + alpha * vocab)`` (both round-to-nearest), and the
    division/log2/millibit chain is unchanged. Used where the OOV scalar
    is not needed (in-corpus scoring); frozen-table consumers that need
    ``oov_cost_mb`` on the driver keep :func:`lm_cost_table`."""
    df = spread_small_scan(df)
    toks = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    scalars = counts.agg(
        (F.coalesce(F.sum("c"), F.lit(0))
         + F.lit(alpha) * F.count(F.lit(1)))
        .cast("double").alias("_denom"))
    return (counts.crossJoin(F.broadcast(scalars))
            .select(
                "term",
                _millibits(-F.log2((F.col("c") + F.lit(alpha))
                                   / F.col("_denom"))).alias("cost_mb"),
            ))


def score_with_cost_table(
    df: DataFrame,
    cost: DataFrame,
    oov_cost_mb: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a (possibly frozen) cost table: per doc,
    ``total = Σ tf_t * cost_t`` (BIGINT) and the exact integer mean.
    Unknown terms charge ``oov_cost_mb`` (left join + coalesce); None
    means the table is known to cover the corpus (inner-join fast path —
    the in-corpus training case, where an absent term cannot occur)."""
    df = spread_small_scan(df)
    tf = (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    if oov_cost_mb is None:
        joined = tf.join(cost, "term")
    else:
        joined = tf.join(cost, "term", "left").withColumn(
            "cost_mb", F.coalesce("cost_mb", F.lit(int(oov_cost_mb))))
    return (
        joined
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("cost_mb")).alias("total_millibits"),
        )
        .withColumn(
            "mean_cost_millibits",
            F.floor(F.col("total_millibits") / F.col("n_tokens"))
            .cast("long"),
        )
    )


def unigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
) -> DataFrame:
    """Per-document cross-entropy under an add-``alpha`` smoothed unigram
    LM estimated from the corpus itself (CCNet's quality signal, with a
    unigram model standing in for the wiki-trained 5-gram KenLM).

    Per token type t: ``cost_t = -log2((c_t + alpha) / (N + alpha*V))``
    millibit-quantized; per doc: ``total = Σ tf_t * cost_t`` (BIGINT),
    ``mean_cost_millibits = total div n_tokens`` (exact integer floor
    division).  Lower mean cost = more typical text.

    Scale shape: one token explode feeding two aggregations — corpus
    counts (shuffle keyed on term, partial-agg combined map-side) and
    per-doc tf (shuffle keyed on doc_id+term) — then a sort-merge join
    back on term.  The (N, V) scalars fold in as plan literals via one
    single-row action over the vocabulary aggregate.  Nothing driver-side
    grows with corpus size; the vocabulary table is the only reused
    intermediate and is persisted once.  Scoring new text against a
    frozen table is :func:`lm_cost_table` + :func:`score_with_cost_table`.
    """
    # LAZY end to end: the cost table's (N, V) scalars ride the plan as
    # a broadcast aggregate (_lm_cost_table_lazy) instead of a separate
    # full-corpus action — one consuming action runs ONE fused job
    # (q108's profile showed the scalar job alone at ~1.1 s of serial
    # wall at sf0.1). Cache-free: consumers that read the scored frame
    # repeatedly (quota_select's histogram + join + ties) persist it
    # themselves.
    cost = _lm_cost_table_lazy(df, text_col=text_col, alpha=alpha)
    return score_with_cost_table(
        df, cost, oov_cost_mb=None, text_col=text_col, id_col=id_col)


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
) -> DataFrame:
    """Per-document conditional cross-entropy under an add-``alpha``
    bigram LM estimated from the corpus — one order up from
    :func:`unigram_lm_score`, the same integer-millibit exactness.

    Per bigram (w1, w2):
    ``cost = -log2((c2(w1,w2) + alpha) / (c1(w1) + alpha*V))`` — the
    smoothed conditional P(w2|w1); per doc the mean over its bigram
    occurrences (docs with < 2 tokens have no bigrams and drop out; the
    leading unigram term is deliberately omitted so the score is a pure
    transition-typicality signal).

    Scale shape: one bigram explode into two aggregations (bigram-type
    counts keyed on the pair; per-doc bigram tf), a vocab-scalar action,
    then a TYPE-level join of bigram counts to unigram counts on w1 —
    bounded fan-out (bigram types per head word), never the occurrence
    stream.  All reductions are BIGINT sums.
    """
    df = spread_small_scan(df)
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    big = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, n - 1).alias("w1"),
                F.slice(toks, 2, n - 1).alias("w2"),
            )
        ).alias("p"),
    ).select(
        id_col,
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
    ).persist()  # reused by the type counts AND the scoring join — without
    # this the corpus is tokenized+exploded twice (MEMORY_AND_DISK, spills
    # rather than OOMs at scale; released below once the per-doc result
    # is materialized)
    uni = df.select(
        F.explode(toks).alias("w1")
    ).groupBy("w1").agg(F.count(F.lit(1)).alias("c1")).persist()
    vocab = uni.count()
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cost = c2.join(uni, "w1").select(
        "w1", "w2",
        _millibits(
            -F.log2((F.col("c2") + F.lit(alpha))
                    / (F.col("c1") + F.lit(alpha * vocab)))
        ).alias("cost_mb"),
    )
    # join the occurrence stream straight to the cost table: within-doc
    # bigram repeats are rare, so a per-(doc,w1,w2) tf pre-aggregate would
    # barely shrink the stream while costing a full extra shuffle — the
    # occurrence join + one doc-keyed integer agg is the cheaper plan
    # (sum over occurrences == sum tf*cost exactly; the oracle keeps the
    # tf form and matches bit-for-bit)
    out = (
        big.join(cost, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cost_mb").alias("total_millibits"),
        )
        .withColumn(
            "mean_cost_millibits",
            F.floor(F.col("total_millibits") / F.col("n_bigrams"))
            .cast("long"),
        )
    )
    from tantalus_spark.datapipe.dedup import _materialize_and_release

    return _materialize_and_release(out, [big, uni])


def perplexity_labels(
    df: DataFrame,
    cuts: tuple = (1.0 / 3, 2.0 / 3),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document head/middle/tail label by exact corpus percentiles of
    the LM cost — the form a pipeline FILTERS on (keep head+middle, drop
    or downsample tail).  Returns the scored columns plus ``bucket``."""
    # Lazy, cache-free, barrier-free: the scored plan runs TWICE — once
    # fused into the percentile action, once fused into the consumer's
    # DAG — which beats both the r4 shape (persist the scores and leak
    # the cache into the returned plan) and the eager-materialize shape
    # (two extra job barriers that slowed q101/q108 2-3x). The
    # thresholds fold in as plan literals.
    scores = unigram_lm_score(df, text_col=text_col, id_col=id_col)
    t1, t2 = scores.agg(
        F.percentile("mean_cost_millibits", F.lit(cuts[0])),
        F.percentile("mean_cost_millibits", F.lit(cuts[1])),
    ).first()
    label = (
        F.when(F.col("mean_cost_millibits") <= F.lit(t1), "head")
        .when(F.col("mean_cost_millibits") <= F.lit(t2), "middle")
        .otherwise("tail")
    )
    return scores.withColumn("bucket", label)


def perplexity_buckets(
    df: DataFrame,
    cuts: tuple = (1.0 / 3, 2.0 / 3),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's head/middle/tail stratification: bucket every document by
    exact corpus percentiles of its LM cost (head = most fluent third).
    Pipelines keep head+middle and drop or downsample tail.

    Returns one row per bucket: (bucket, n_docs, n_tokens,
    min_cost_millibits, max_cost_millibits).

    Engine-exactness: Spark ``percentile`` and DuckDB ``quantile_cont``
    are bit-identical on doubles (the q34 precedent), the scored input is
    integer millibits, and the two thresholds fold into the plan as
    literals from one 2-value driver action.  At 100 TB swap the exact
    percentile for ``approx_percentile`` (mergeable sketch) and keep this
    as the verifier — the same exact/approx division as q34.
    """
    # Single scoring pass under a SCOPED persist (the quota_select
    # pattern): the percentile action materializes the scores, the
    # 3-row rollup reads the cache, and the cache is released before
    # return — one pass, no leak, and only a 3-row frame stays cached.
    scores = (unigram_lm_score(df, text_col=text_col, id_col=id_col)
              .persist())
    try:
        t1, t2 = scores.agg(
            F.percentile("mean_cost_millibits", F.lit(cuts[0])),
            F.percentile("mean_cost_millibits", F.lit(cuts[1])),
        ).first()
        label = (
            F.when(F.col("mean_cost_millibits") <= F.lit(t1), "head")
            .when(F.col("mean_cost_millibits") <= F.lit(t2), "middle")
            .otherwise("tail")
        )
        out = (
            scores.withColumn("bucket", label)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.min("mean_cost_millibits").alias("min_cost_millibits"),
                F.max("mean_cost_millibits").alias("max_cost_millibits"),
            )
        )
        from tantalus_spark.datapipe.dedup import _materialize_and_release

        return _materialize_and_release(out, [])
    finally:
        scores.unpersist()


def _bucket(term, n_buckets: int, hash_family: str) -> F.Column:
    """Hashed-feature bucket 0..n_buckets-1.  ``md5`` is the SQL-portable
    family (first 15 hex chars as int — the repo's standard cross-engine
    hash, textstats._token_hash_mod pattern); ``xxhash64`` is the
    production default (one codegen'd long op per token)."""
    if hash_family == "md5":
        h = F.conv(F.substring(F.md5(term), 1, 15), 16, 10).cast("long")
    elif hash_family == "xxhash64":
        h = F.xxhash64(term)
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return F.pmod(h, F.lit(n_buckets))


def dsir_weights(
    df: DataFrame,
    target_cond,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023): per document,
    the hashed-unigram log-likelihood ratio between the *target* slice
    (rows where ``target_cond`` holds — e.g. curated sources) and the raw
    corpus.

    Per bucket b (add-one smoothed):
    ``lam_b = log2((tgt_c+1)/(tgt_N+B)) - log2((raw_c+1)/(raw_N+B))``
    millibit-quantized; per doc: ``weight = Σ_tokens lam_bucket(token)``
    (BIGINT sum).  Positive weight = target-like; resampling keeps the
    top of the weight distribution.

    Scale shape: one token explode; the bucket statistics table has a
    FIXED size (``n_buckets`` rows — 1k here, 2^20 in production) so it
    always broadcasts, and the per-doc reduction is one integer-sum
    groupBy on doc_id.  Raw text never shuffles; only (doc_id, bucket)
    pairs do.
    """
    # Default spread floor: an A/B in the official bench harness showed
    # the 192 KB shingle-class floor REGRESSED both consumers here
    # (q98 +0.19 s, q113 +0.17 s) — the bucket hash is one xxhash64 per
    # token, light enough that the extra exchange doesn't pay below 2 MB.
    df = spread_small_scan(df).withColumn(
        "_is_target", target_cond.cast("int"))
    toks = df.select(
        F.col(id_col),
        F.col("_is_target"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).select(
        id_col, "_is_target",
        _bucket(F.col("term"), n_buckets, hash_family).alias("bucket"),
    )
    stats = (
        toks.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("raw_c"),
             F.sum("_is_target").alias("tgt_c"))
    )
    # The bucket table is FIXED-size (n_buckets rows): localize it
    # driver-side in ONE job — the (raw_N, tgt_N) scalars fold in as
    # unbounded-window sums over the tiny stats frame instead of a
    # separate scalar action (same integer totals, so the doubles — and
    # the oracle parity — are bit-identical), and no persist is needed
    # because exactly one action reads the plan. The returned per-doc
    # reduction then depends on no hidden cache (persist-lifecycle
    # policy) and broadcasts a local relation.
    wall = W.partitionBy()
    lam_plan = stats.select(
        "bucket",
        _millibits(
            F.log2((F.col("tgt_c") + F.lit(1))
                   / (F.sum("tgt_c").over(wall) + F.lit(n_buckets))
                   .cast("double"))
            - F.log2((F.col("raw_c") + F.lit(1))
                     / (F.sum("raw_c").over(wall) + F.lit(n_buckets))
                     .cast("double"))
        ).alias("lam_mb"),
    )
    lam_rows = lam_plan.collect()
    lam = df.sparkSession.createDataFrame(lam_rows, lam_plan.schema)
    return (
        toks.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lam_mb").alias("weight_millibits"),
            F.max("_is_target").alias("in_target"),
        )
    )


def dsir_select(
    df: DataFrame,
    target_cond,
    keep_frac: float = 0.25,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The DSIR APPLY step: keep the top ``keep_frac`` of documents by
    importance weight (:func:`dsir_weights`), deterministically.

    Selection is exact top-k with ``k = floor(n * keep_frac)`` under the
    total order ``(weight desc, md5(doc_id), doc_id)`` — the md5 tie-break
    makes the admitted subset of equal-weight documents a pseudo-random,
    reproducible draw rather than an id-ordered prefix (which would bias
    toward older documents).

    Scale shape — NO global sort/row_number over the corpus:

    1. the weight *histogram* (one integer groupBy, ≤ distinct-weight rows)
       is cumulated with a window over weight values only, giving the
       threshold weight T and how many rows sit strictly above it;
    2. rows with ``weight > T`` pass with a map-side filter;
    3. only the tie set ``weight == T`` (bounded: one weight bucket) goes
       through a rank window to admit the remaining ``k - n_above`` rows.

    At 100 TB the histogram is ≤ a few million rows (millibit-quantized
    BIGINTs) and the tie bucket is tiny; nothing corpus-sized ever
    serializes through one task.  Returns the kept rows with the same
    schema as :func:`dsir_weights`.
    """
    w = dsir_weights(df, target_cond, n_buckets, text_col, id_col,
                     hash_family).persist()
    try:
        n = w.count()
        k = int(n * keep_frac)
        if k <= 0:
            return w.filter(F.lit(False))
        hist = (w.groupBy("weight_millibits")
                 .agg(F.count(F.lit(1)).alias("c")))
        cum = hist.withColumn(
            "cum_above",
            F.coalesce(
                F.sum("c").over(
                    W.orderBy(F.col("weight_millibits").desc())
                    .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)))
        # threshold row: the weight value the k-th ranked document lands on
        trow = (cum.filter(F.col("cum_above") < F.lit(k))
                   .orderBy(F.col("weight_millibits").asc())
                   .select("weight_millibits", "cum_above")
                   .first())
        thresh, n_above = trow[0], trow[1]
        clear = w.filter(F.col("weight_millibits") > F.lit(thresh))
        tie_key = F.md5(F.col(id_col).cast("string"))
        tw = W.partitionBy(F.lit(1)).orderBy(tie_key, F.col(id_col))
        ties = (w.filter(F.col("weight_millibits") == F.lit(thresh))
                 .withColumn("_rn", F.row_number().over(tw))
                 .filter(F.col("_rn") <= F.lit(int(k - n_above)))
                 .drop("_rn"))
        out = clear.unionByName(ties)
        from tantalus_spark.datapipe.dedup import _materialize_and_release
        return _materialize_and_release(out, [])
    finally:
        w.unpersist()


def quota_select(
    df: DataFrame,
    keep_frac: float = 1.0 / 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source quality QUOTA: keep the most fluent ``keep_frac`` of
    each source by unigram-LM cost (lower = better) — the balanced
    curation step that stops one giant source from crowding out the mix
    when a single global threshold would.

    Selection is exact per-group top-k (``k_s = floor(n_s * frac)``)
    under the total order ``(cost asc, md5(doc_id), doc_id)`` — the
    grouped form of :func:`dsir_select`'s machinery, and the same
    NO-corpus-wide-sort shape:

    1. a (source, cost) histogram (bounded: distinct costs per source);
    2. per-source cumulative counts over the histogram ONLY give each
       source its threshold cost T_s and clear-count;
    3. rows with cost < T_s pass via a broadcast-joined filter; only the
       tie sets (cost == T_s, one bucket per source) are rank-windowed.

    A trillion-row source never serializes through one sort: the
    histogram windows run over histogram rows, the tie windows over one
    cost bucket per source. Returns kept rows
    (doc_id, source, n_tokens, mean_cost_millibits).
    """
    src = df.select(F.col(id_col), F.col(group_col))
    # unigram_lm_score is lazy/cache-free; THIS persist covers the
    # repeated reads below (histogram, clear filter, tie window)
    scores = (unigram_lm_score(df, text_col=text_col, id_col=id_col)
              .join(src, id_col)
              .select(id_col, group_col, "n_tokens",
                      F.col("mean_cost_millibits").alias("mc"))
              .persist())
    try:
        hist = (scores.groupBy(group_col, "mc")
                .agg(F.count(F.lit(1)).alias("c")))
        wsrc = W.partitionBy(group_col)
        worder = wsrc.orderBy(F.col("mc").asc())
        cum = hist.select(
            group_col, "mc", "c",
            F.coalesce(
                F.sum("c").over(
                    worder.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)).alias("cum_before"),
            F.sum("c").over(wsrc).alias("n_s"),
        ).withColumn("k_s",
                     F.floor(F.col("n_s") * F.lit(keep_frac)).cast("long"))
        thr = (cum.filter(F.col("cum_before") < F.col("k_s"))
               .withColumn("_rd", F.row_number().over(
                   wsrc.orderBy(F.col("mc").desc())))
               .filter(F.col("_rd") == 1)
               .select(group_col, F.col("mc").alias("t"),
                       F.col("cum_before").alias("n_clear"), "k_s"))
        j = scores.join(F.broadcast(thr), group_col)
        clear = j.filter(F.col("mc") < F.col("t"))
        tie_key = F.md5(F.col(id_col).cast("string"))
        tw = W.partitionBy(group_col).orderBy(tie_key, F.col(id_col))
        ties = (j.filter(F.col("mc") == F.col("t"))
                .withColumn("_rn", F.row_number().over(tw))
                .filter(F.col("_rn") <= F.col("k_s") - F.col("n_clear")))
        out = (clear.unionByName(ties.drop("_rn"))
               .select(id_col, group_col, "n_tokens",
                       F.col("mc").alias("mean_cost_millibits")))
        from tantalus_spark.datapipe.dedup import _materialize_and_release
        return _materialize_and_release(out, [])
    finally:
        scores.unpersist()


def corpus_shuffle(
    df: DataFrame,
    seed: str = "epoch0",
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic seeded global shuffle for reproducible training
    order: shard = hash(seed, id) mod n_shards, position = rank of
    hash within the shard.  Reading shards 0..n-1 in position order
    yields the same pseudo-random permutation on every rerun, any
    cluster size, any partitioning — no RNG state, no sampled sort
    boundaries.

    Scale shape: the md5 key is a map-side projection; the only shuffle
    is the per-shard rank window, partitioned by shard (parallel across
    shards — NOT a single global row_number, which would serialize 100 TB
    through one task).  In production each shard is one output directory
    and the writer sorts within partitions (sortWithinPartitions) instead
    of a window; the window form here keeps the gate SQL-replayable.
    """
    key = F.md5(F.concat_ws("_", F.lit(seed), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("long"),
        F.lit(n_shards),
    )
    out = df.select(
        F.col(id_col),
        shard.alias("shard"),
        key.alias("_key"),
    )
    w = W.partitionBy("shard").orderBy(F.col("_key"), F.col(id_col))
    return (
        out.withColumn("position", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "position")
    )


def budget_select(
    df: DataFrame,
    budget_tokens: int,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget corpus selection: admit documents in quality order
    until a token budget is spent — the "fill a 10B-token training
    budget with the best documents" primitive that sits after scoring
    and before packing in every production pipeline.

    Semantics (exact, engine-portable): order documents by
    ``(score desc, md5(id), id)`` — the md5 tie-break makes the
    admitted subset of equal-score documents a reproducible
    pseudo-random draw, the :func:`~.sampling.hash_split` rule — and
    take the maximal prefix whose running token total stays within
    ``budget_tokens`` (take-while; token counts are positive so the
    running sum is strictly monotone and the prefix is unique). The
    DuckDB oracle states this directly as one cumulative window.

    Scale shape — the :func:`dsir_select` histogram trick, with the
    cumulation over TOKENS instead of rows, so there is NO global
    sort/row_number over the corpus:

    1. one integer groupBy builds the per-score token histogram
       (<= distinct-score rows), cumulated with a window over score
       values only → the threshold score T and the tokens already
       spent strictly above it;
    2. rows with ``score > T`` pass with a map-side filter;
    3. only the tie bucket ``score == T`` (bounded: one score value)
       runs a rank-window prefix sum to spend the remaining budget.

    Rows with NULL or NaN score are excluded up front (the
    :func:`~.sampling.weighted_sample` guard): Spark orders NaN as
    GREATER than every double, so an unguarded NaN score would pass
    ``score > T`` and be admitted as top-quality while the DuckDB
    oracle (NaN orders last there) diverges.

    Returns (id, score, n_tokens) for the admitted set."""
    df = spread_small_scan(df)
    base = df.select(
        F.col(id_col), F.col(score_col).alias("score"),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long")
         .alias("n_tokens"),
    ).filter(
        (F.col("n_tokens") > 0)
        & F.col("score").isNotNull()
        & ~F.isnan(F.col("score").cast("double"))
    ).persist()
    try:
        hist = base.groupBy("score").agg(F.sum("n_tokens").alias("t"))
        cum = hist.withColumn(
            "cum_above",
            F.coalesce(
                F.sum("t").over(
                    W.orderBy(F.col("score").desc())
                    .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)))
        trow = (cum.filter(F.col("cum_above") < F.lit(int(budget_tokens)))
                   .orderBy(F.col("score").asc())
                   .select("score", "cum_above")
                   .first())
        if trow is None:      # budget smaller than the best bucket
            out = base.filter(F.lit(False)) \
                      .select(id_col, "score", "n_tokens")
            from tantalus_spark.datapipe.dedup import (
                _materialize_and_release)
            return _materialize_and_release(out, [base])
        thresh, spent_above = trow[0], int(trow[1])
        remaining = int(budget_tokens) - spent_above
        clear = base.filter(F.col("score") > F.lit(thresh))
        tie_key = F.md5(F.col(id_col).cast("string"))
        tw = (W.partitionBy(F.lit(1))
               .orderBy(tie_key, F.col(id_col))
               .rowsBetween(W.unboundedPreceding, 0))
        ties = (base.filter(F.col("score") == F.lit(thresh))
                    .withColumn("_cum", F.sum("n_tokens").over(tw))
                    .filter(F.col("_cum") <= F.lit(remaining))
                    .drop("_cum"))
        out = clear.unionByName(ties).select(id_col, "score", "n_tokens")
        from tantalus_spark.datapipe.dedup import _materialize_and_release
        return _materialize_and_release(out, [base])
    except Exception:
        base.unpersist()
        raise
