"""End-to-end corpus cleaning: the composition a training-data pipeline
actually runs — quality gates → language filter → exact dedup — expressed
as ONE Catalyst plan over the documents table.

Every gate is a column-level derivation on the SAME projection — one scan,
zero joins; the only shuffle is the content-digest window for dedup,
regardless of how many gates run.

Plan-shape notes (measured at sf0.1, 3× end-to-end win):

- The heavy text expressions (marker counts, alpha regex, md5) live in ONE
  projection and the language argmax is derived from their OUTPUT columns
  in a second projection. CollapseProject keeps them separate (it refuses
  to inline non-cheap expressions referenced more than once), so each
  marker count is evaluated exactly once instead of ~8× via the argmax
  when-chain.
- The gates are applied ABOVE the dedup window, not below it. Filter
  pushdown substitutes predicate aliases into the projection (re-evaluating
  the heavy expressions once per gate); a Window only admits pushdown on
  its partition key, so it acts as the barrier that keeps evaluation
  single. This commutes with gating: duplicate groups share identical text,
  hence identical gate outcomes — the kept (min-id) doc passes the gates
  iff every member does. At 100 TB, if the gates are highly selective you
  can flip back to gate-first to shrink the digest shuffle and pay the
  double evaluation — both orders are semantically identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tantalus_spark.datapipe.textstats import LANG_MARKERS, _occurrences, tokens
from tantalus_spark.operators.spread import spread_small_scan


def _gated_features(
    docs: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The shared one-projection feature stage: (id, n_tokens,
    alpha_ratio, __md5, lang_pred). Heavy text
    expressions live in ONE projection; the language argmax derives from
    their output columns in a second (see module docstring for why
    CollapseProject keeps them single-evaluated). Batch inputs that land
    parallelism-starved (single-row-group parquet) are spread first."""
    # The fused pipeline runs several token-explode stages over this one
    # scan — shingle-class per-row CPU, so the spread shuffle pays for
    # itself well below the cheap-projection 2 MB floor (q108: 3.6 s ->
    # 2.6 s on the sf0.1 one-row-group fixture).
    docs = spread_small_scan(docs, min_bytes=192 * 1024)
    text = F.col(text_col)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score_exprs = {}
    for lang, markers in LANG_MARKERS.items():
        expr = None
        for m in markers:
            occ = _occurrences(padded, m)
            expr = occ if expr is None else expr + occ
        score_exprs[lang] = expr
    features = docs.select(
        F.col(id_col),
        F.size(tokens(text)).alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
            / F.length(text), 4,
        ).alias("alpha_ratio"),
        F.md5(text).alias("__md5"),
        *[score_exprs[lang].alias(f"__s_{lang}") for lang in score_exprs],
    )
    score_cols = [F.col(f"__s_{lang}") for lang in score_exprs]
    best = F.greatest(*score_cols)
    pred = F.lit("unknown")
    for lang in reversed(list(score_exprs)):
        pred = F.when(F.col(f"__s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return features.withColumn("lang_pred", pred)


def _gate_predicate(min_tokens, max_tokens, min_alpha_ratio, langs):
    return (
        F.col("n_tokens").between(min_tokens, max_tokens)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
        & F.col("lang_pred").isin(list(langs))
    )


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Surviving documents after quality + language + exact-dup gates:
    (doc_id, n_tokens, lang_pred), keeping the lowest doc_id per identical
    content."""
    features = _gated_features(docs, text_col, id_col)
    w = Window.partitionBy("__md5")
    return (
        features
        .withColumn("__keep_id", F.min(id_col).over(w))
        .filter(
            (F.col(id_col) == F.col("__keep_id"))
            & _gate_predicate(min_tokens, max_tokens, min_alpha_ratio, langs)
        )
        .select(id_col, "n_tokens", "lang_pred")
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus health dashboard as ONE job: document count, token
    volume, exact token-count percentiles, exact-duplicate ratio, and
    the language mix — a single scan into a single global aggregate
    (map-side partials make the shuffle one row per partition, so this
    costs a corpus scan regardless of size; the md5 distinct-count is
    the only state that grows, and it is digest-sized).

    This is the job a pipeline runs before/after every cleaning stage to
    see what the stage did. One row out:
    (n_docs, total_tokens, p50_tokens, p90_tokens, n_distinct,
    dup_ratio, n_en/n_es/n_fr/n_de/n_unknown).
    """
    from tantalus_spark.datapipe.textstats import lang_pred_expr, tokens
    from tantalus_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)
    text = F.col(text_col)
    feats = docs.select(
        F.col(id_col),
        F.size(tokens(text)).alias("_nt"),
        F.md5(text).alias("_m"),
        lang_pred_expr(text).alias("_lang"),
    )
    lang_counts = [
        F.sum(F.when(F.col("_lang") == lang, 1).otherwise(0))
        .cast("long").alias(f"n_{lang}")
        for lang in [*LANG_MARKERS, "unknown"]
    ]
    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.percentile("_nt", F.lit(0.5)).alias("p50_tokens"),
        F.percentile("_nt", F.lit(0.9)).alias("p90_tokens"),
        F.count_distinct("_m").alias("n_distinct"),
        F.round(F.lit(1.0) - F.count_distinct("_m") / F.count(F.lit(1)), 4)
        .alias("dup_ratio"),
        *lang_counts,
    )


def source_report(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source curation dashboard: one row per corpus source with
    document count, token volume, mean doc length, exact-dup ratio and
    duplicate-token mass — the table a data-mixing decision reads
    ("drop src7, downweight src12"). Single scan, one grouped
    aggregate; every ratio is a ratio of integer SUMS computed as one
    final division, so results replay exactly cross-engine (a mean of
    per-doc float ratios would be summation-order-dependent).
    """
    from tantalus_spark.datapipe.textstats import tokens
    from tantalus_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)
    text = F.col(text_col)
    feats = docs.select(
        F.col(source_col),
        F.size(tokens(text)).alias("_nt"),
        F.length(text).alias("_nc"),
        F.md5(text).alias("_m"),
    )
    n = F.count(F.lit(1))
    nd = F.count_distinct("_m")
    return feats.groupBy(source_col).agg(
        n.alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.sum("_nc").alias("total_chars"),
        F.round(F.sum("_nt") / n, 4).alias("mean_tokens"),
        nd.alias("n_distinct"),
        F.round(F.lit(1.0) - nd / n, 4).alias("dup_ratio"),
    )


def gate_attribution(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gate-attribution report: for each cleaning gate (length, alpha
    ratio, language, exact-dup), how many documents fail it at all and
    how many fail ONLY it — the observability table that says which gate
    to tune when the pipeline is over- or under-filtering. One row out.

    Same one-projection feature stage as :func:`clean_corpus`
    (``_gated_features``); the only shuffle is the content-digest window,
    the final reduction is a single global integer aggregate (map-side
    partials: one row per partition crosses the wire)."""
    f = _gated_features(docs, text_col, id_col)
    w = Window.partitionBy("__md5")
    fl = (~F.col("n_tokens").between(min_tokens, max_tokens))
    fa = F.col("alpha_ratio") < min_alpha_ratio
    fg = ~F.col("lang_pred").isin(list(langs))
    flagged = f.withColumn("__keep_id", F.min(id_col).over(w)).select(
        fl.alias("f_len"),
        fa.alias("f_alpha"),
        fg.alias("f_lang"),
        (F.col(id_col) != F.col("__keep_id")).alias("f_dup"),
    )

    def n(c):
        return F.sum(F.col(c).cast("int")).cast("long")

    def only(c):
        others = [o for o in ("f_len", "f_alpha", "f_lang", "f_dup")
                  if o != c]
        alone = F.col(c)
        for o in others:
            alone = alone & ~F.col(o)
        return F.sum(alone.cast("int")).cast("long")

    any_fail = (F.col("f_len") | F.col("f_alpha") | F.col("f_lang")
                | F.col("f_dup"))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        n("f_len").alias("fail_length"), only("f_len").alias("only_length"),
        n("f_alpha").alias("fail_alpha"), only("f_alpha").alias("only_alpha"),
        n("f_lang").alias("fail_lang"), only("f_lang").alias("only_lang"),
        n("f_dup").alias("fail_dup"), only("f_dup").alias("only_dup"),
        F.sum((~any_fail).cast("int")).cast("long").alias("n_pass"),
    )


def build_corpus(
    docs: DataFrame,
    bench_cond,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    shingle_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The whole pretraining-data build as ONE composed Spark job — the
    FineWeb / CCNet pipeline shape, each stage an already-oracled engine
    operator:

    1. quality + language + exact-dup gates (:func:`clean_corpus`);
    2. benchmark decontamination — drop any document sharing a token
       ``shingle_n``-gram with the held-out eval slice (``bench_cond``
       rows), the standard n-gram-overlap rule
       (:func:`~tantalus_spark.datapipe.dedup.decontaminate`);
    3. unigram-LM perplexity stratification over the SURVIVORS (the LM is
       trained on the post-gate corpus, as CCNet prescribes), keeping the
       head + middle terciles;
    4. one per-source report: docs kept, tokens kept, id checksum, cost
       range — the table a data lead signs off before a training run.

    Composition is lazy end to end: Catalyst fuses the gate projection,
    the decontamination anti-join, and the scoring joins into one DAG —
    no materialization between stages except the three bounded driver
    actions the component operators already make (LM scalars N/V, two
    tercile thresholds). Every shuffle is keyed and bounded exactly as
    documented on the component operator; nothing new is introduced by
    the composition, so the 100 TB story is the conjunction of the
    per-stage stories. ``bench_cond`` must be null-free (it partitions
    the input two ways via ``cond`` / ``~cond``).

    Returns (source, n_docs, n_tokens, id_sum, min/max_cost_millibits).
    """
    from tantalus_spark.datapipe.dedup import decontaminate

    bench = docs.filter(bench_cond).select(text_col)
    corpus = docs.filter(~bench_cond)
    cleaned = clean_corpus(
        corpus, min_tokens=min_tokens, max_tokens=max_tokens,
        min_alpha_ratio=min_alpha_ratio, langs=langs,
        text_col=text_col, id_col=id_col)
    _, hits = decontaminate(corpus, bench, n=shingle_n,
                            text_col=text_col, id_col=id_col)
    surv_ids = (cleaned.select(id_col)
                .join(hits.select(id_col), id_col, "left_anti"))
    surv_docs = corpus.join(surv_ids, id_col, "left_semi")
    # ONE pass over the gate+decontaminate chain under a SCOPED persist
    # (the quota_select pattern): the survivors' scores materialize once
    # for the tercile action, the O(sources) report reads the cache, and
    # the cache is released before return. "bucket != tail" is exactly
    # "mean cost <= the 2/3 threshold", so the label column itself is
    # not needed here.
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    from tantalus_spark.datapipe.scoring import unigram_lm_score

    scores = (unigram_lm_score(surv_docs, text_col=text_col,
                               id_col=id_col).persist())
    try:
        # the tercile threshold rides the plan as a broadcast 1-row
        # aggregate over the SAME persisted scores instead of a
        # separate driver action: the broadcast subtree materializes
        # the cache, the kept-filter probe reads it, and the whole
        # build is ONE job (the percentile value is computed by the
        # identical expression over the identical input, so the kept
        # set is unchanged; a `<= NULL` comparison on an empty corpus
        # drops every row exactly like the old `<= lit(None)`)
        t2 = scores.agg(
            F.percentile("mean_cost_millibits", F.lit(2.0 / 3))
            .alias("_t2"))
        kept = (scores.crossJoin(F.broadcast(t2))
                .filter(F.col("mean_cost_millibits") <= F.col("_t2")))
        out = (
            kept.join(corpus.select(id_col, source_col), id_col)
            .groupBy(source_col)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum(id_col).alias("id_sum"),
                F.min("mean_cost_millibits").alias("min_cost_millibits"),
                F.max("mean_cost_millibits").alias("max_cost_millibits"),
            )
        )
        return _materialize_and_release(out, [])
    finally:
        scores.unpersist()
