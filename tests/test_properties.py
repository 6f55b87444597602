"""Property-based invariants (SURVEY.md §5): pagination completeness /
disjointness, filter-chain commutativity, semi-join vs join+distinct
equivalence. Hypothesis drives the parameters; Spark jobs per example are
seconds, so example counts stay small."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from tantalus_spark.operators.pagination import paginate


@settings(max_examples=8, deadline=None)
@given(page_size=st.integers(min_value=1, max_value=7))
def test_pagination_partitions_exactly(tdb, page_size):
    df = tdb.table("sequence_dataset")
    total = df.count()
    seen: list[int] = []
    page_no = 1
    while True:
        page = paginate(df, ["id"], page=page_no, page_size=page_size)
        ids = [r["id"] for r in page.rows]
        if not ids:
            break
        seen.extend(ids)
        page_no += 1
        if page_no > page.num_pages:
            break
    assert len(seen) == total == len(set(seen))
    assert seen == sorted(seen)


_FILTERS = [
    {"dataset_type": "BAM"},
    {"is_production": True},
    {"tags__name": "prod"},
    {"sample__sample_id__istartswith": "sa1"},
    {"library__library_type__name__in": ["WGS", "DLP"]},
]


@settings(max_examples=6, deadline=None)
@given(
    idx=st.lists(st.integers(min_value=0, max_value=len(_FILTERS) - 1),
                 min_size=2, max_size=3, unique=True),
    order=st.randoms(),
)
def test_filter_chain_commutative(tdb, idx, order):
    picked = [_FILTERS[i] for i in idx]
    qs_fwd = tdb.query("sequence_dataset")
    for f in picked:
        qs_fwd = qs_fwd.filter(**f)
    shuffled = list(picked)
    order.shuffle(shuffled)
    qs_rev = tdb.query("sequence_dataset")
    for f in shuffled:
        qs_rev = qs_rev.filter(**f)
    a = sorted(r["id"] for r in qs_fwd.to_df().select("id").collect())
    b = sorted(r["id"] for r in qs_rev.to_df().select("id").collect())
    assert a == b


@settings(max_examples=6, deadline=None)
@given(tag=st.sampled_from(["prod", "qc", "unused"]))
def test_semi_join_equals_join_distinct(tdb, tag):
    # single filter on a multi-valued path: the compiler's semi-join result
    # must equal the naive join + distinct-on-pk
    compiled = sorted(
        r["id"] for r in tdb.query("sequence_dataset")
        .filter(tags__name=tag).to_df().select("id").collect())
    ds = tdb.table("sequence_dataset")
    jt = tdb.table("sequencedataset_tags")
    tags = tdb.table("tag")
    naive = (
        ds.join(jt, ds["id"] == jt["sequencedataset_id"])
        .join(tags, jt["tag_id"] == tags["id"])
        .filter(tags["name"] == tag)
        .select(ds["id"]).dropDuplicates(["id"])
    )
    assert compiled == sorted(r["id"] for r in naive.collect())


def test_values_list_flat(tdb):
    qs = tdb.query("sample").filter(patient__patient_id="SA100") \
        .values_list("sample_id", flat=True)
    vals = sorted(r[0] for r in qs.to_df().collect())
    assert vals == ["SA100A", "SA100B"]


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.text(
        alphabet=st.sampled_from(
            list("ab XY12\t\n\r\f\x0b\xa0 é.")),
        max_size=24),
    min_size=1, max_size=8))
def test_py_tokens_matches_spark_tokens(spark, texts):
    """Property: textstats.py_tokens is bit-identical to the Spark
    tokens(F.lower(col)) expression on arbitrary text, including ASCII
    control whitespace (\\t\\n\\r\\f\\x0b), NBSP, U+2028 line
    separator, and accented chars — the parity every Arrow-UDF code path
    (SimHash, streaming decontamination) depends on."""
    from tantalus_spark.datapipe.textstats import py_tokens, tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["tk"] for r in df.select(
        "i", tokens(F.lower(F.col("t"))).alias("tk")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_tokens(t), repr(t)


@given(k=st.integers(min_value=1, max_value=30),
       salt=st.sampled_from(["ws", "v2"]))
@settings(max_examples=6, deadline=None)
def test_weighted_sample_partition_invariant_and_nested(spark, k, salt):
    """The A-ES draw is a pure function of (salt, id, weight): the
    selected set must not change under repartitioning, and the top-j
    of a top-k draw must equal the top-j draw directly (prefix
    property of a fixed total order)."""
    from tantalus_spark.datapipe.sampling import weighted_sample

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = [r["doc_id"] for r in
         weighted_sample(df, k=k, weight_col="w", salt=salt).collect()]
    b = [r["doc_id"] for r in
         weighted_sample(df.repartition(7), k=k, weight_col="w",
                         salt=salt).collect()]
    assert a == b
    j = max(1, k // 2)
    c = [r["doc_id"] for r in
         weighted_sample(df, k=j, weight_col="w", salt=salt).collect()]
    assert a[:j] == c


@given(budget=st.integers(min_value=10, max_value=400))
@settings(max_examples=6, deadline=None)
def test_budget_select_monotone_in_budget(spark, budget):
    """A larger budget must admit a SUPERSET of documents (take-while
    prefixes of one fixed total order are nested), and the admitted
    token total never exceeds the budget."""
    from tantalus_spark.datapipe.scoring import budget_select

    rows = [(i, "tok " * (3 + i % 5), (i % 3)) for i in range(30)]
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        rows, "doc_id long, text string, q int").withColumn(
        "q", F.col("q").cast("long"))
    small = budget_select(df, budget_tokens=budget, score_col="q")
    srows = small.collect()
    small.unpersist()
    big = budget_select(df, budget_tokens=budget + 40, score_col="q")
    brows = big.collect()
    big.unpersist()
    s_ids = {r["doc_id"] for r in srows}
    b_ids = {r["doc_id"] for r in brows}
    assert s_ids <= b_ids
    assert sum(r["n_tokens"] for r in srows) <= budget
