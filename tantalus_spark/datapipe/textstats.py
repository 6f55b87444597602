"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — no Python in
the hot path, so these scale linearly with input splits at 100 TB: each is a
single map-stage over the documents table unless noted.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from tantalus_spark.operators.spread import spread_small_scan

# Small stopword marker sets per language for the n-gram/stopword language
# heuristic. Deliberately tiny: the point is the *operator shape* (per-doc
# score vector + argmax), which scales embarrassingly parallel.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "los", "de"],
    "fr": ["le", "la", "les", "des"],
    "de": ["der", "die", "das", "und"],
}


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


_WS_ASCII = re.compile(r"\s+", re.ASCII)


def py_tokens(text: str) -> list[str]:
    """Exact Python twin of ``tokens(F.lower(col))`` for Arrow-UDF code
    paths (SimHash, streaming decontamination): Spark ``trim`` strips
    only ASCII spaces and Java ``\\s`` is ASCII-only, so the twin uses
    ``strip(" ")`` + an ``re.ASCII`` pattern — NOT ``str.split()``,
    which drops boundary empty tokens and splits on Unicode whitespace.
    Verified equal to the Spark expression (Java ``\\s`` =
    ``[ \\t\\n\\x0b\\f\\r]``, same as Python's ASCII ``\\s``) on
    boundary-newline, tab, NBSP, repeated-space, and empty inputs.
    DuckDB's RE2 ``\\s`` excludes vertical tab, so oracle parity for
    tokens()-derived queries additionally assumes ``\\x0b``-free text —
    a property of the Spark-vs-DuckDB pair, not of this twin."""
    return _WS_ASCII.split(text.lower().strip(" "))


def token_count(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (len/4 heuristic
    commonly used for byte-pair tokenizers)."""
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        F.floor(F.length(text_col) / F.lit(4)).cast("int").alias("n_subwords_est"),
    )


BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Regex tokenization the way byte-pair tokenizers pre-split text
    (GPT-2-style: letter runs | digit runs | single punctuation), counted
    entirely JVM-side with ``regexp_extract_all`` — no UDF. Alongside the
    whitespace count this gives the chars-per-token ratio used to budget
    training tokens from raw bytes."""
    df = spread_small_scan(df)
    text = F.col(text_col)
    n_bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), F.lit(0)))
    return df.select(
        F.col(id_col),
        F.size(tokens(text)).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.length(text) / n_bpe, 4).alias("chars_per_token"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / alpha / stopword ratio quality features.

    ``regexp_replace``-difference counting keeps everything codegen'd.
    """
    df = spread_small_scan(df)
    text = F.col(text_col)
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    space = F.length(F.regexp_replace(text, r"[^\s]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    ntok = F.size(tokens(text))
    return df.select(
        F.col(id_col),
        n.cast("int").alias("n_chars"),
        ntok.alias("n_tokens"),
        F.round(alpha / n, 4).alias("alpha_ratio"),
        F.round(space / n, 4).alias("space_ratio"),
        F.round(punct / n, 4).alias("punct_ratio"),
        F.round(n / ntok, 4).alias("avg_token_len"),
    )


def _occurrences(text: Column, word: str) -> Column:
    # non-overlapping occurrences of ' word ' counted as the length delta
    # after literal replace() — same left-to-right non-overlap semantics as
    # string_split (a DuckDB oracle mirrors it with len(string_split)-1),
    # but no per-row array allocation: plain byte scans, ~2× cheaper across
    # the 16 marker words of the language heuristic
    pat = f" {word} "
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(pat))))
        / F.lit(len(pat))
    ).cast("int")


def lang_pred_expr(text: Column) -> Column:
    """Language prediction as a single inline Column expression (argmax of
    the per-language marker scores; ties break to earlier languages;
    all-zero scores -> 'unknown'). Composable into one-pass pipelines."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        expr = None
        for m in markers:
            occ = _occurrences(padded, m)
            expr = occ if expr is None else expr + occ
        scores[lang] = expr
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in reversed(list(scores)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("unknown"))


def lang_scores(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-language stopword-marker scores + argmax prediction.

    One pass, no shuffle; at 100 TB this is a pure map stage.
    """
    df = spread_small_scan(df)
    text = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    cols = [F.col(id_col)]
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        expr = None
        for m in markers:
            occ = _occurrences(text, m)
            expr = occ if expr is None else expr + occ
        name = f"score_{lang}"
        cols.append(expr.alias(name))
        score_cols.append(name)
    out = df.select(*cols)
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.lit("unknown")
    # reversed so earlier languages win ties (deterministic argmax)
    for c in reversed(score_cols):
        pred = F.when(F.col(c) == best, F.lit(c.removeprefix("score_"))).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return out.withColumn("lang_pred", pred)


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprints: full-content md5 + sha256, plus
    a normalized 8-hex-char prefix fingerprint for cheap bucketing."""
    df = spread_small_scan(df)
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.md5(text).alias("md5"),
        F.sha2(text, 256).alias("sha256"),
        F.substring(F.md5(F.lower(F.trim(text))), 1, 8).alias("norm_prefix"),
    )


def doc_profile(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Fused per-document profile: token counts (whitespace + BPE-style
    regex + chars-per-token budget ratio), quality features, language
    scores + argmax prediction, and content fingerprints — ONE scan, one
    projection, all codegen'd.

    This is the production shape: at 100 TB you never run five separate
    passes over the corpus for five per-doc feature families; you fuse them
    into one map stage. The individual operators (:func:`token_count`,
    :func:`bpe_token_count`, :func:`quality_score`, :func:`lang_scores`,
    :func:`fingerprint`) remain available for composition and tests.

    Two projections, still one scan: the heavy string expressions (regex
    counts, marker counts, digests) are computed ONCE in the first; the
    second derives ratios and the language argmax from their output
    columns. CollapseProject keeps the stages separate (it refuses to
    inline non-cheap expressions referenced more than once), so nothing is
    re-evaluated by the argmax when-chain or ratio reuse.
    """
    df = spread_small_scan(df)
    text = F.col(text_col)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score_exprs: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        expr = None
        for m in markers:
            occ = _occurrences(padded, m)
            expr = occ if expr is None else expr + occ
        score_exprs[lang] = expr
    base = df.select(
        F.col(id_col),
        F.size(tokens(text)).alias("n_tokens"),
        F.length(text).alias("__n"),
        F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).alias("__alpha"),
        F.length(F.regexp_replace(text, r"[^\s]", "")).alias("__space"),
        F.length(F.regexp_replace(text, r"[^.!?,;:]", "")).alias("__punct"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), F.lit(0)))
        .alias("n_bpe_tokens"),
        *[score_exprs[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        F.md5(text).alias("md5"),
        F.sha2(text, 256).alias("sha256"),
        F.substring(F.md5(F.lower(F.trim(text))), 1, 8).alias("norm_prefix"),
    )
    n = F.col("__n")
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)) \
            .otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))
    return base.select(
        F.col(id_col),
        # token counting
        F.col("n_tokens"),
        F.floor(n / F.lit(4)).cast("int").alias("n_subwords_est"),
        F.col("n_bpe_tokens"),
        F.round(n / F.col("n_bpe_tokens"), 4).alias("chars_per_token"),
        # quality features
        n.cast("int").alias("n_chars"),
        F.round(F.col("__alpha") / n, 4).alias("alpha_ratio"),
        F.round(F.col("__space") / n, 4).alias("space_ratio"),
        F.round(F.col("__punct") / n, 4).alias("punct_ratio"),
        F.round(n / F.col("n_tokens"), 4).alias("avg_token_len"),
        # language id
        *[F.col(f"score_{lang}") for lang in LANG_MARKERS],
        pred.alias("lang_pred"),
        # fingerprints
        F.col("md5"), F.col("sha256"), F.col("norm_prefix"),
    )


def ascii_ignore(col: Column) -> Column:
    """`.encode('ascii','ignore')` analog (reference views.py:98,
    forms.py:262; SURVEY §2.8 F13): strip non-ASCII code points."""
    return F.regexp_replace(col, r"[^\x00-\x7F]", "")


def tfidf_top_terms(df: DataFrame, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    One explode + two aggregations (term frequency per doc, document
    frequency per term) + a rank window — all shuffles keyed on the 8-byte
    term/doc ids' natural columns, corpus size N folded in as a broadcast
    scalar. Deterministic tie-break (score desc, term asc)."""
    df = spread_small_scan(df)
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    # corpus size N: one count action, folded into the plan as a literal
    n = df.count()
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 4),
        )
    )
    w = W.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf",
                F.col("df").alias("doc_freq"), "tfidf",
                F.col("rk").cast("int").alias("rk"))
    )


_WIN_M = 1_000_000_007  # prime modulus keeps products inside BIGINT range
_WIN_B = 1_000_003      # polynomial base


def _token_hash_mod(tok) -> "F.Column":
    """Cross-engine token hash: first 15 hex chars of md5 as int, mod M —
    bit-identical in Spark (conv) and DuckDB (hex-literal cast)."""
    return F.pmod(
        F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"),
        F.lit(_WIN_M),
    )


def _token_hash_fast(tok) -> "F.Column":
    """Production token hash: JVM-native xxhash64 mod M. One codegen'd
    long op per token vs md5's hex string round-trip (md5 + substring +
    conv + cast) — the same two-family split as the MinHash permutations
    (dedup._minhash_perm_sql). pmod keeps the negative xxhash64 range in
    [0, M) so the polynomial gram hash sees the same domain."""
    return F.pmod(F.xxhash64(tok), F.lit(_WIN_M))


def winnowing_fingerprints(df: DataFrame, k: int = 5, window: int = 4,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           hash_family: str = "xxhash64") -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) document
    fingerprints: polynomial rolling hash over token k-grams, then the min
    hash of every sliding window of ``window`` consecutive k-grams; the
    distinct window-minima are the fingerprint set.

    Guarantees at least one shared fingerprint for any token run of length
    >= k + window - 1 shared between documents — positional near-dup
    detection that survives insertions, unlike whole-document digests.

    All hashing is modular integer arithmetic mod 1e9+7. The production
    default (``hash_family="xxhash64"``) hashes tokens with the JVM-native
    xxhash64; ``hash_family="md5"`` swaps in the md5-derived portable hash
    so a SQL oracle can reproduce the fingerprints bit-for-bit (the gated
    q53 inventory entry uses it — same split as q45's MinHash families).
    Fingerprint QUALITY is identical either way: winnowing only needs a
    uniform token hash, and the recall guarantee is positional, not
    hash-specific. Returns (id, fp) distinct.

    Formulation (r4): fully ROW-based. Tokens explode to rows straight off
    the scan, the token hash is a per-row codegen'd expression, the k-gram
    polynomial hash is built from lead() over the (id, pos) window, and
    the window-min runs over the same window spec. Everything outside the
    two WindowExecs stays inside whole-stage codegen, and the single
    exchange+sort on (id, pos) is shared by both windows, the distinct,
    and any downstream per-doc aggregation. Two array-side variants were
    tried and reverted (r2 bench for the windowed-min, r4 for the gram
    transform): Catalyst evaluates higher-order lambdas INTERPRETED, one
    allocation per element, and at 2.5M grams the lambda CPU cost more
    than the exchange it saved — measured 1.85 s vs 1.34 s at 10× sf0.1.
    """
    tok_hash = _token_hash_mod if hash_family == "md5" else _token_hash_fast
    # posexplode gets the tokens EXPRESSION, not a materialized column:
    # Generate over a bare attribute makes Catalyst infer a `size(col)>0`
    # filter (InferFiltersFromGenerate) with the expression inlined at the
    # scan, where per-element element_at re-evaluates the inner transform
    # — quadratic per doc; over an expression it infers nothing.
    # Default spread floor: winnowing's per-gram work (posexplode + one
    # hash) is lighter than the shingle family's, and the window-min
    # exchange right below already redistributes — the 192 KB floor was
    # A/B-measured SLOWER here (0.65 s vs 0.46 s at sf0.1).
    df = spread_small_scan(df)
    toked = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "_tok"),
    )
    rows = toked.select(
        F.col(id_col), F.col("pos"), tok_hash(F.col("_tok")).alias("_th"))
    wo = W.partitionBy(id_col).orderBy("pos")
    b_pows = [pow(_WIN_B, j, _WIN_M) for j in range(k)]
    # gh(pos) = sum_j th(pos+j) * B^j mod M; lead(_th, k-1) is null for
    # the last k-1 token positions, which makes gh null exactly where no
    # k-gram starts — the filter below is also the short-doc guard (docs
    # with < k tokens produce no gram rows at all)
    acc = F.lit(0)
    for j in range(k):
        nxt = F.col("_th") if j == 0 else F.lead("_th", j).over(wo)
        acc = acc + F.pmod(nxt * F.lit(b_pows[j]), F.lit(_WIN_M))
    grams = (
        rows.select(F.col(id_col), F.col("pos"),
                    F.pmod(acc, F.lit(_WIN_M)).alias("gh"))
        .filter(F.col("gh").isNotNull())
    )
    # same partitioning AND ordering as wo, so the sort is reused — the
    # filter preserves child ordering and no second exchange/sort appears
    wm = (
        W.partitionBy(id_col).orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    return (
        grams.withColumn("fp", F.min("gh").over(wm))
        .select(F.col(id_col), "fp")
        .dropDuplicates([id_col, "fp"])
    )


def chunk_documents(df: DataFrame, max_tokens: int = 512, overlap: int = 64,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into token-budget chunks with overlap — the
    preprocessing step that turns cleaned documents into training samples.

    Chunks start every ``max_tokens - overlap`` tokens and carry up to
    ``max_tokens`` tokens. All array-side (sequence/slice/array_join) in
    one scan, zero shuffles: at 100 TB this is a pure map stage whose
    output is ~(1 + overlap/max_tokens)× the input. Returns
    (id, chunk_idx, n_chunk_tokens, chunk_text).

    A start whose chunk would be a strict suffix of the previous chunk is
    not emitted (last start caps at ``n - max_tokens + stride``): the
    previous chunk already covered those tokens, and suffix-duplicate
    training samples are exactly what the dedup stages remove.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    df = spread_small_scan(df)
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    t = F.col("_t")
    last_start = F.greatest(F.size(t) - F.lit(max_tokens - stride), F.lit(1))
    starts = F.when(
        F.size(t) >= 1,
        F.sequence(F.lit(1), last_start, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda s: F.slice(t, s, max_tokens))
        ).alias("chunk_idx", "_chunk"),
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("_chunk").alias("n_chunk_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


def pack_sequences(df: DataFrame, seq_len: int = 2048, n_shards: int = 8,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Concat-and-split sequence packing: lay every document's tokens end
    to end and cut fixed ``seq_len`` training sequences — the standard
    GPT-style packing step that turns a cleaned corpus into equal-length
    training examples with zero padding waste.

    Documents are first sharded by a deterministic md5 bucket of the id
    (:func:`~tantalus_spark.datapipe.sampling.split_bucket`) and packed
    independently per shard: the running token offset is a window SUM
    partitioned by shard, so there is no global sort — each shard's
    prefix-sum sorts in parallel, and at 100 TB you raise ``n_shards`` to
    the cluster's partition count instead of funnelling the corpus
    through one ordered window (``n_shards=1`` gives the classic single
    stream if a total order is required). Assignment is fully
    deterministic — no RNG, stable under re-runs and repartitioning —
    and SQL-auditable (oracle-gated in the inventory).

    Returns one row per non-empty document:
    ``(doc_id, shard, n_tokens, seq_first, seq_last, offset)`` where
    ``seq_first``/``seq_last`` are the shard-local indices of the first
    and last training sequence the document lands in and ``offset`` is
    its token position within ``seq_first``. Downstream writers
    group by ``(shard, sequence)`` to emit the actual token buffers.
    """
    from tantalus_spark.datapipe.sampling import split_bucket

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    counted = df.select(
        F.col(id_col),
        split_bucket(F.col(id_col), n_buckets=n_shards).alias("shard"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = counted.withColumn("_cum", F.sum("n_tokens").over(w)).withColumn(
        "_first", F.col("_cum") - F.col("n_tokens"))
    # integer div, not floor(float /): exact however many tokens a shard
    # accumulates (float64 floor would wobble past 2^53)
    return out.select(
        F.col(id_col), "shard", "n_tokens",
        F.expr(f"_first div {seq_len}").alias("seq_first"),
        F.expr(f"(_cum - 1) div {seq_len}").alias("seq_last"),
        F.pmod(F.col("_first"), F.lit(seq_len)).cast("long").alias("offset"),
    )


def repetition_ratios(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Repetition-based quality signals (Gopher-style filters): fraction
    of duplicated lines and duplicated tokens per document. High values
    flag boilerplate/spam for the cleaning gates. Array-side, one scan."""
    df = spread_small_scan(df)
    text = F.col(text_col)
    lines = F.split(text, "\n")
    toks = tokens(F.lower(text))
    return df.select(
        F.col(id_col),
        F.round(F.lit(1) - F.size(F.array_distinct(lines)) / F.size(lines), 4)
        .alias("dup_line_ratio"),
        F.round(F.lit(1) - F.size(F.array_distinct(toks)) / F.size(toks), 4)
        .alias("dup_token_ratio"),
    )


# Fixed, published-shape weights for the linear quality gate: a tiny
# logistic scorer over the same cheap features the quality_score operator
# already computes (the fasttext-style "quality classifier" stage of a
# training-data pipeline, with the learned weights supplied by the
# caller in production; these defaults just make the operator runnable
# and the gate deterministic).
QUALITY_WEIGHTS: dict[str, float] = {
    "log_tokens": 0.35,      # longer documents are likelier to be prose
    "alpha_ratio": 3.0,      # letters over markup/digits
    "space_ratio": 4.0,      # real sentences have ~15% spaces
    "dup_line_ratio": -2.5,  # boilerplate repetition
}
QUALITY_BIAS = -2.2


def quality_classifier(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    bias: float = QUALITY_BIAS,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality filtering as one codegen'd map stage: a
    logistic scorer over cheap per-document features (log token count,
    alpha ratio, whitespace ratio, duplicate-line ratio).

    Returns (id, quality_score, keep). The keep decision compares the
    LOGIT to log(t/(1-t)) rather than the sigmoid to 0.5 — the logit is
    plain IEEE arithmetic that replays bit-for-bit in any engine,
    whereas exp() may differ by an ulp across libm implementations;
    quality_score is display-rounded. At 100 TB this is scan-bound, one
    pass, no shuffle — the shape a learned classifier (exported as
    weights over engine-computable features) runs in."""
    import math

    df = spread_small_scan(df)
    z = _quality_logit(F.col(text_col), weights, bias)
    cut = math.log(threshold / (1.0 - threshold))
    return df.select(
        F.col(id_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
        .alias("quality_score"),
        (z >= F.lit(cut)).alias("keep"),
    )


def _quality_logit(text: Column, weights: dict[str, float] | None,
                   bias: float) -> Column:
    """The logistic quality scorer's LOGIT as one expression tree —
    shared by :func:`quality_classifier` (gate decision) and
    :func:`score_calibration` (reliability audit) so both score the
    exact same IEEE arithmetic."""
    w = dict(QUALITY_WEIGHTS, **(weights or {}))
    n = F.length(text)
    feats = {
        "log_tokens": F.log(F.size(tokens(text)) + F.lit(1.0)),
        "alpha_ratio":
            F.length(F.regexp_replace(text, "[^a-zA-Z]", "")) / n,
        "space_ratio":
            F.length(F.regexp_replace(text, r"[^\s]", "")) / n,
        "dup_line_ratio": F.lit(1.0)
            - F.size(F.array_distinct(F.split(text, "\n")))
            / F.size(F.split(text, "\n")),
    }
    z = F.lit(float(bias))
    for name, weight in w.items():
        z = z + F.lit(float(weight)) * feats[name]
    return z


# PII patterns chosen for cross-engine regex parity: no backreferences,
# no lookaround, \b and character classes only — identical semantics in
# Java regex (Spark) and RE2 (DuckDB oracle / Trino / BigQuery).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
}


def scrub_pii(
    df: DataFrame,
    patterns: dict[str, tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII redaction for training corpora: count and replace emails,
    IPv4 addresses, SSNs and phone-shaped numbers with typed tokens.

    Returns (id, scrubbed text, n_<kind> per pattern, n_pii total).
    Counting uses the PRE-redaction text for every pattern (so the
    reported counts are independent of replacement order), while the
    redaction itself applies patterns in declaration order — SSN before
    phone matters, e.g. 123-45-6789 must become [SSN], not a partial
    phone hit. Pure regexp map stage: one scan, zero shuffles, zero
    Python; patterns are deliberately RE2-compatible so the same table
    is reproducible outside the JVM."""
    pats = patterns or PII_PATTERNS
    df = spread_small_scan(df)
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        .alias(f"n_{kind}")
        for kind, (pat, _) in pats.items()
    ]
    scrubbed = text
    for kind, (pat, token) in pats.items():
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    out = df.select(F.col(id_col), scrubbed.alias(text_col), *counts)
    total = None
    for kind in pats:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return out.withColumn("n_pii", total.cast("int"))


# Literal entity -> char map (applied AFTER tag stripping). Chained
# literal replaces, not regex: both cheap and engine-portable.
_HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),   # &amp; LAST so "&amp;lt;" -> "&lt;"
]


def strip_markup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Markup removal for web-crawled corpora: drop <script>/<style>
    elements wholesale, strip remaining tags and HTML comments, decode
    the six ubiquitous entities, and collapse the whitespace the removals
    leave behind. Returns (id, text, n_tags_removed).

    One codegen'd map stage. The regexes are RE2-compatible (no
    backtracking constructs), so the same table reproduces in DuckDB /
    Trino / BigQuery — and none of them exhibit catastrophic backtracking
    on adversarial crawl data ([^>]* classes, not .* with lookahead).
    This is a cleaning gate, not a DOM parser: nesting-correct extraction
    of attributes/links belongs to a real parser upstream; the gate's job
    is to keep tag soup out of token statistics.
    """
    df = spread_small_scan(df)
    text = F.col(text_col)
    # (?is): case-insensitive + dot-matches-newline, supported by both
    # Java regex and RE2
    # Java supports \1 backrefs; RE2 does not — keep the oracle-portable
    # form: strip script/style blocks per element name, no backreference
    script = r"(?is)<script\b[^>]*>.*?</script\s*>"
    style = r"(?is)<style\b[^>]*>.*?</style\s*>"
    comment = r"(?s)<!--.*?-->"
    tag = r"(?s)</?[A-Za-z!][^>]*>"
    n_tags = F.size(F.regexp_extract_all(text, F.lit(tag), F.lit(0)))
    cleaned = F.regexp_replace(text, script, " ")
    cleaned = F.regexp_replace(cleaned, style, " ")
    cleaned = F.regexp_replace(cleaned, comment, " ")
    cleaned = F.regexp_replace(cleaned, tag, " ")
    for ent, ch in _HTML_ENTITIES:
        cleaned = F.replace(cleaned, F.lit(ent), F.lit(ch))
    # collapse HORIZONTAL whitespace only and keep line structure: the
    # downstream boilerplate filter (dedup_lines) and chunkers are
    # line-oriented, so flattening newlines here would erase the very
    # structure they key on
    cleaned = F.regexp_replace(cleaned, r"[ \t\f\r]+", " ")
    cleaned = F.regexp_replace(cleaned, r" ?\n ?", "\n")
    # btrim, not trim: edge NEWLINES must go too (trim strips spaces only)
    cleaned = F.btrim(F.regexp_replace(cleaned, r"\n+", "\n"),
                      F.lit(" \n"))
    return df.select(
        F.col(id_col),
        cleaned.alias(text_col),
        n_tags.cast("int").alias("n_tags_removed"),
    )


def rare_token_stats(df: DataFrame, rare_max: int = 1,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Corpus-relative rarity scoring: per document, how many of its
    tokens have corpus-wide frequency <= ``rare_max`` (hapax/near-hapax
    legomena). A high rare ratio flags OCR noise, gibberish, and
    boilerplate-ID spam that per-doc signals (q73/q78) can't see — it
    is the cheap, exact cousin of LM-perplexity filtering, built only
    from integer counts so it replays bit-for-bit in any engine.

    Scale shape: the doc-side token count is array-side (no explode);
    only the RARE token set is joined back, and rare tokens by
    construction appear <= rare_max times each — the semi-join key is
    skew-free no matter how skewed the corpus (the "the" problem never
    arises because frequent tokens are filtered out before the join).
    Two token-keyed shuffles (frequency agg, semi-join) + one doc-keyed
    agg. Returns (id, n_tokens, n_rare, rare_ratio).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    rare = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") <= rare_max)
        .select("tok")
    )
    hits = (
        toks.join(rare, "tok", "left_semi")
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_rare"))
    )
    counts = df.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).alias("n_tokens"),
    )
    return (
        counts.join(hits, id_col, "left")
        .select(
            F.col(id_col), "n_tokens",
            F.coalesce(F.col("n_rare"), F.lit(0)).cast("int").alias("n_rare"),
            F.round(F.coalesce(F.col("n_rare"), F.lit(0))
                    / F.col("n_tokens"), 4).alias("rare_ratio"),
        )
    )


URL_RE = r"https?://[^\s/]+[^\s]*"
DOMAIN_RE = r"https?://([^\s/:]+)"


def url_stats(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document URL signals: link count and distinct-domain count
    (web-corpus filters drop link farms by exactly these). Pure regexp
    map stage — one scan, zero shuffles; RE2-compatible patterns."""
    df = spread_small_scan(df)
    text = F.col(text_col)
    domains = F.regexp_extract_all(text, F.lit(DOMAIN_RE), F.lit(1))
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(text, F.lit(URL_RE), F.lit(0)))
        .cast("int").alias("n_urls"),
        F.size(F.array_distinct(domains)).cast("int").alias("n_domains"),
    )


def domain_counts(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Corpus domain histogram: for each linked domain, in how many
    documents it appears (blocklist curation / source auditing). One
    scan + explode of the per-doc DISTINCT domain array (bounded by
    text length), one count shuffle keyed by domain."""
    df = spread_small_scan(df)
    domains = F.array_distinct(
        F.regexp_extract_all(F.col(text_col), F.lit(DOMAIN_RE), F.lit(1)))
    per_doc = df.select(
        F.col(id_col), F.explode(domains).alias("domain"))
    return per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"))


def assemble_packed_sequences(df: DataFrame, seq_len: int = 2048,
                              n_shards: int = 8, text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """The writer half of :func:`pack_sequences`: emit the actual packed
    training sequences — (shard, seq_id, n_tokens, seq_text) with every
    sequence exactly ``seq_len`` tokens except each shard's final
    partial. Documents contribute token SLICES to every sequence they
    span; within a sequence, slices concatenate in corpus (doc-id)
    order via an array_sort on the contributing doc's start offset —
    deterministic, no RNG, SQL-replayable.

    Scale shape: two shuffles that both carry the token arrays — the
    per-shard assignment window and the (shard, seq) assembly groupBy.
    That is the floor for a packing writer (the bytes must reach their
    output sequence); sharding keeps both exchanges parallel, and a
    sequence never exceeds seq_len tokens so no group outgrows memory.
    """
    from tantalus_spark.datapipe.sampling import split_bucket

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    toked = df.select(
        F.col(id_col),
        split_bucket(F.col(id_col), n_buckets=n_shards).alias("shard"),
        tokens(F.col(text_col)).alias("_t"),
    ).withColumn("_n", F.size("_t")).filter(F.col("_n") > 0)
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = toked.withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_first", (F.col("_cum") - F.col("_n")).cast("long"))
    spans = F.sequence(
        F.expr(f"_first div {seq_len}"),
        F.expr(f"(_cum - 1) div {seq_len}"),
    )
    ex = c.select(
        "shard", "_first", "_n", "_t",
        F.explode(spans).alias("seq_id"),
    )
    start = (F.greatest(F.col("seq_id") * seq_len, F.col("_first"))
             - F.col("_first"))
    length = (F.least((F.col("seq_id") + 1) * seq_len,
                      F.col("_first") + F.col("_n"))
              - F.col("_first") - start)
    sliced = ex.select(
        "shard", "seq_id", "_first",
        F.slice("_t", (start + 1).cast("int"), length.cast("int"))
        .alias("_slice"),
    )
    assembled = sliced.groupBy("shard", "seq_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_first", "_slice"))),
                lambda s: s["_slice"],
            )
        ).alias("_toks")
    )
    return assembled.select(
        "shard", "seq_id",
        F.size("_toks").alias("n_tokens"),
        F.array_join("_toks", " ").alias("seq_text"),
    )


def vocab_coverage(df: DataFrame, ks: tuple[int, ...] = (100, 1000, 10000),
                   text_col: str = "text") -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size k, the
    fraction of all corpus token OCCURRENCES covered by the k most
    frequent token types (ties broken lexically) — the
    how-big-a-vocab-do-you-need analysis behind tokenizer budgeting and
    OOV-rate planning.

    Scale shape: token frequencies aggregate with map-side partials;
    the top-max(k) selection is a parallel TakeOrdered (per-partition
    partial top-k, NO single-partition global window over the vocab),
    and the cumulative window then runs over <= max(k) rows — bounded
    however large the corpus vocabulary grows. Returns
    (k, vocab_used, coverage) with vocab_used = min(k, |vocab|).
    """
    spark = df.sparkSession
    toks = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    kmax = max(ks)
    top = freq.orderBy(F.desc("tf"), "tok").limit(kmax)
    w = W.orderBy(F.desc("tf"), "tok")
    ranked = top.select(
        F.row_number().over(w).alias("rank"),
        F.sum("tf").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )
    tot = freq.agg(F.sum("tf").alias("total"),
                   F.count(F.lit(1)).alias("nv"))
    ks_df = spark.createDataFrame([(int(k),) for k in ks], "k int")
    return (
        ks_df.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ranked),
              F.col("rank") == F.least(F.col("k"), F.col("nv")))
        .select(
            "k",
            F.least(F.col("k"), F.col("nv")).cast("int").alias("vocab_used"),
            F.round(F.col("cum") / F.col("total"), 4).alias("coverage"),
        )
    )


def length_outliers(
    df: DataFrame,
    z: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    length_col: str | None = None,
) -> DataFrame:
    """Per-group statistical outlier detection on document length,
    with EXACT integer algebra — no float stddev anywhere.

    A doc is an outlier when |x - mean| > z * stddev_samp within its
    group. Naively that needs float mean/stddev, and Spark's stddev is a
    partition-order-dependent float merge (not reproducible bit-for-bit
    across runs or engines). Instead the predicate is cleared of
    divisions: with S = Σx, Q = Σx², n per group,

        (x - S/n)² > z²·(nQ - S²)/(n(n-1))
        ⟺ (n-1)·(nx - S)² > z²·n·(nQ - S²)

    — exact, associative, identical in any engine and any partition
    order. The products are computed in DECIMAL(38,0), NOT int64: with
    n docs per group the lhs is ≈ n³·spread², which blows past 2⁶³ at
    n ≳ 10⁵–10⁶ (an int64 multiply would either wrap silently in
    legacy mode or throw mid-query under ANSI). DECIMAL(38,0) is exact
    through n·|x − mean| < ~10¹⁸ — i.e. ~5×10¹⁰ docs/group at a
    10³-token spread, comfortably past 100 TB of 2 KB docs. Past that
    bound the behavior follows the session's ANSI setting — and this
    package runs pyspark>=4.0 where ANSI is ON by default, so the
    decimal product throws ArithmeticException LOUDLY rather than
    dropping or mis-flagging rows (under legacy ``ansi=false`` it would
    overflow to NULL and drop the row). Q = Σx² is likewise aggregated
    in decimal (it alone exceeds int64 near ~10⁹ docs). The DuckDB
    oracle runs the same algebra in HUGEINT (int128, max 1.7×10³⁸) —
    bit-identical within the same bound.

    One narrow groupBy for (n, S, Q) joined back (AQE broadcasts the
    per-group stats — one row per group); the outlier test is a
    map-side comparison. Groups with n < 2 have no sample variance and
    emit nothing.

    ``z`` must be an integer: the exact-algebra rhs folds z² into the
    DECIMAL(38,0) product, and a fractional z² would be silently
    rounded by the cast (z=1.5 → 2.25 → 2, a different test than
    documented). Rejected loudly instead of mis-flagging.
    """
    if z != int(z):
        raise ValueError(
            f"length_outliers requires integer z (got {z!r}): z² folds "
            "into the exact DECIMAL(38,0) algebra; a fractional z² "
            "would be silently truncated by the cast")
    z = int(z)
    dec = "decimal(38,0)"
    # length_col: pre-computed length (tests / non-text tables) instead
    # of tokenizing text_col.
    x = (F.col(length_col) if length_col
         else F.size(tokens(F.col(text_col)))).cast("long")
    base = df.select(F.col(id_col), F.col(group_col), x.alias("x"))
    stats = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        # x ≤ ~10⁵ tokens so x² fits long; the SUM must not.
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("q"),
    )
    j = base.join(stats, group_col).filter(F.col("n") >= 2)
    n_d = F.col("n").cast(dec)
    s_d = F.col("s").cast(dec)
    dev = n_d * F.col("x").cast(dec) - s_d
    lhs = (F.col("n") - 1).cast(dec) * dev * dev
    rhs = F.lit(z * z).cast(dec) * n_d * (n_d * F.col("q") - s_d * s_d)
    return (
        j.filter(lhs > rhs)
        .select(F.col(id_col), F.col(group_col),
                F.col("x").alias("n_tokens"))
    )


# The Gopher rules' stop-word list (Rae et al. 2021, A1.1): a document
# must contain at least 2 of these to pass the "stop word" rule.
GOPHER_STOP_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al., "Scaling Language
    Models: ... Gopher", 2021, Appendix A1.1) as ONE codegen'd
    projection — the canonical heuristic gate web pipelines run before
    any model-based scoring:

    * 50 <= word count <= 100,000
    * mean word length in [3, 10]
    * symbol-to-word ratio (``#`` or ``...``/ellipsis) <= 0.1
    * < 90% of lines start with a bullet; < 30% end with an ellipsis
    * >= 80% of words contain at least one alphabetic character
    * at least 2 distinct hits from the 8-word stop-word list

    Returns every rule's measurement plus the conjunction ``keep`` so a
    pipeline can both filter and audit which rule fired. All
    expressions are engine-portable (``(?m)`` multiline anchors work
    identically in Java regex and RE2; the mean word length divides two
    integer counts) — full DuckDB oracle. One scan, zero shuffles at
    any corpus size.

    Plan shape (the interpreted-HOF rule, burned in after the
    q46/q52/q69 cliffs): the two tokenized arrays — original-case words
    for the alpha check, lowered words for the stop-word check — are
    materialized ONCE in a first projection; every ratio references
    those columns, and CollapseProject keeps the stage separate (it
    refuses to inline non-cheap expressions referenced more than once),
    so the plan carries exactly two ``filter(split(...))`` subtrees,
    not one per rule (plan-contract test in tests/test_plans.py)."""
    df = spread_small_scan(df)
    text = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        F.filter(tokens(text), lambda x: x != "").alias("__words"),
        F.filter(tokens(F.lower(text)),
                 lambda x: x != "").alias("__lwords"),
    )
    text = F.col("__text")
    words = F.col("__words")
    n_words = F.size(words)
    n_lines = F.size(F.split(text, "\n"))
    # mean word length = non-whitespace chars / words (integer counts)
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    mean_wl = nonspace / n_words
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = F.regexp_count(text, F.lit(r"(\.\.\.|…)"))
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    bullet_ratio = (F.regexp_count(text, F.lit(r"(?m)^\s*[-•]"))
                    / n_lines)
    ell_end_ratio = (F.regexp_count(text, F.lit(r"(?m)(\.\.\.|…)$"))
                     / n_lines)
    alpha_words = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = alpha_words / n_words
    # distinct stop-word hits in ONE set intersection against the
    # 8-word literal array (array_intersect dedups), replacing the
    # former 8-term array_contains loop that re-built the tokenize
    # subtree per word
    stop_hits = F.size(F.array_intersect(
        F.col("__lwords"),
        F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]))).cast("int")
    keep = (
        (n_words >= F.lit(min_words)) & (n_words <= F.lit(max_words))
        & (mean_wl >= 3) & (mean_wl <= 10)
        & (symbol_ratio <= 0.1)
        & (bullet_ratio < 0.9) & (ell_end_ratio < 0.3)
        & (alpha_ratio >= 0.8)
        & (stop_hits >= 2)
    )
    return base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_ratio, 4).alias("bullet_line_ratio"),
        F.round(ell_end_ratio, 4).alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        stop_hits.alias("n_stop_words"),
        keep.alias("keep"),
    )


def c4_filters(
    df: DataFrame,
    min_sentences: int = 3,
    min_line_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al., "Exploring the Limits of
    Transfer Learning with a Unified Text-to-Text Transformer", 2020,
    §2.2) — line filtering + document gates, one projection:

    * keep only lines that end in a terminal punctuation mark
      (``.``, ``!``, ``?``, ``"``) and have >= 3 words; drop lines
      containing "javascript" (case-insensitive)
    * drop documents containing ``{`` (code), "lorem ipsum", or fewer
      than ``min_sentences`` sentences after line filtering (the
      published pipeline also applies a word blocklist — a caller
      supplies that as a further filter; it is not embedded here)

    Returns (id, n_lines, n_kept_lines, n_sentences, has_brace,
    has_lorem, keep, clean_text) — the cleaned text is the kept lines
    rejoined, what the next pipeline stage consumes. Higher-order
    filter/transform run ONCE per row (single reference — the
    interpreted-HOF rule), everything else is codegen; regexes are
    RE2-parity so the gate has a full DuckDB oracle."""
    df = spread_small_scan(df)
    c4 = _c4_exprs(F.col(text_col), min_sentences, min_line_words)
    return df.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in c4.items()],
    )


def _c4_exprs(text: Column, min_sentences: int,
              min_line_words: int) -> dict[str, Column]:
    """The C4 gate columns as one expression-tree dict — shared by
    :func:`c4_filters` (the cleaning pass) and
    :func:`score_calibration` (which uses only ``keep`` as the
    calibration label) so the rule gate is the same arithmetic in
    both."""
    lines = F.split(text, "\n")
    line_ok = lambda ln: (  # noqa: E731
        ln.rlike('[.!?"]\\s*$')
        & (F.size(F.filter(F.split(F.trim(ln), r"\s+"),
                           lambda x: x != "")) >= min_line_words)
        & ~F.lower(ln).contains("javascript")
    )
    kept = F.filter(lines, line_ok)
    clean = F.array_join(kept, "\n")
    n_sent = F.regexp_count(clean, F.lit(r"[.!?]"))
    has_brace = text.contains("{")
    has_lorem = F.lower(text).contains("lorem ipsum")
    keep = ((n_sent >= F.lit(min_sentences))
            & ~has_brace & ~has_lorem & (F.size(kept) > 0))
    return {
        "n_lines": F.size(lines),
        "n_kept_lines": F.size(kept),
        "n_sentences": n_sent,
        "has_brace": has_brace,
        "has_lorem": has_lorem,
        "keep": keep,
        "clean_text": clean,
    }


def score_calibration(
    df: DataFrame,
    n_bins: int = 10,
    weights: dict[str, float] | None = None,
    bias: float = QUALITY_BIAS,
    min_sentences: int = 3,
    min_line_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reliability diagram for the logistic quality scorer against the
    C4 rule gate — the evaluation that says whether the cheap learned
    score can REPLACE the rule cascade at a given operating point
    (a well-calibrated bin-k has pass_rate ≈ k-th probability band;
    a badly calibrated one says keep the rules): per predicted-
    probability bin, how many documents the rule gate actually keeps.

    Engine-exactness: binning compares the LOGIT to literal logit-space
    cuts ``ln(p/(1-p))`` (plain IEEE comparisons, the
    :func:`quality_classifier` trick — no exp() near a boundary), the
    per-bin mean logit sums exact micro-integers, and the gate label is
    the same expression tree as :func:`c4_filters`. Full oracle.

    Scale: ONE projection computes logit + bin + gate label (the score
    and the label are both per-row text expressions — no join, no
    second scan), then an n_bins-row integer groupBy. Scan-bound at any
    corpus size. Returns (bin, n_docs, n_pass, pass_rate, mean_logit);
    empty bins are absent (no docs to calibrate there)."""
    import math

    df = spread_small_scan(df).filter(F.col(text_col).isNotNull())
    z = _quality_logit(F.col(text_col), weights, bias)
    cuts = [math.log((k / n_bins) / (1.0 - k / n_bins))
            for k in range(1, n_bins)]
    bin_expr = F.lit(0)
    for c in cuts:
        bin_expr = bin_expr + (z >= F.lit(float(c))).cast("int")
    keep = _c4_exprs(F.col(text_col), min_sentences, min_line_words)["keep"]
    per_doc = df.select(
        bin_expr.alias("bin"),
        F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long").alias("_zm"),
        keep.cast("int").alias("_pass"),
    )
    return (per_doc.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_pass").cast("long").alias("n_pass"),
                 F.sum("_zm").alias("_zsum"))
            .select("bin", "n_docs", "n_pass",
                    F.round(F.col("n_pass").cast("double")
                            / F.col("n_docs").cast("double"), 4)
                    .alias("pass_rate"),
                    F.round(F.col("_zsum").cast("double") / F.lit(1e6)
                            / F.col("n_docs").cast("double"), 4)
                    .alias("mean_logit")))


# Encoding-noise patterns, RE2-parity like PII_PATTERNS: character
# classes only, no lookaround — identical in Java regex and RE2/DuckDB.
ENCODING_NOISE_PATTERNS: dict[str, str] = {
    # UTF-8 decoded as Latin-1: "Ã" + a continuation byte shown as
    # U+0080-U+00BF ("Ã©" for e-acute), or the "â€" digraph that heads
    # every mojibake'd punctuation mark (right quote, dashes, ellipsis)
    "mojibake": "Ã[\x80-\xbf]|â€",
    # U+FFFD replacement character — a decoder already gave up here
    "replacement": "�",
    # C0 control chars (excluding tab/newline/CR) — binary junk in text
    "control": "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]",
}


def encoding_noise(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document encoding-noise profile: counts of mojibake digraphs
    (UTF-8 bytes decoded as Latin-1 — the classic double-decode), U+FFFD
    replacement characters, and stray C0 control bytes, plus the
    non-ASCII character count — the cleaning signal web pipelines gate
    on before any language model sees the text (a page full of mojibake
    is an extraction bug, not French).

    One codegen'd projection, zero shuffles; regexes are RE2-parity
    (:data:`ENCODING_NOISE_PATTERNS`) so the gate replays in any engine.
    """
    text = F.col(text_col)
    cols = [F.col(id_col)]
    for name, pat in ENCODING_NOISE_PATTERNS.items():
        cols.append(F.regexp_count(text, F.lit(pat)).alias(f"n_{name}"))
    cols.append(
        (F.length(text)
         - F.length(F.regexp_replace(text, "[^\\x00-\\x7f]", "")))
        .alias("n_non_ascii"))
    total = (F.col("n_mojibake") + F.col("n_replacement")
             + F.col("n_control"))
    return df.select(*cols).withColumn("is_noisy", total > 0)


def zipf_fit(df: DataFrame, group_col: str = "source",
             text_col: str = "text") -> DataFrame:
    """Zipf-law fit per source: least-squares slope/intercept of
    ln(count) against ln(rank) over the source's term-frequency table
    (the head-heaviness diagnostic curation leads read next to
    vocab_coverage — natural text sits near slope -1; templated or
    machine-generated sources drift shallow).

    The regression moments Σx, Σy, Σxy, Σx², Σy² are ORDER-FREE exact
    integers: each per-term ln() value is scaled to micro-units and
    floored BEFORE summation (the scoring.py integer-millibit trick),
    so the fit is bit-identical in any engine regardless of aggregation
    order. Closed-form slope/intercept/r² derive from those six exact
    scalars per group.

    Scale: one explode + a (source, term)-keyed aggregate (map-side
    combined), a rank window over the VOCAB-sized frame (≪ corpus), and
    a 6-column group aggregate — no corpus-wide sort, no driver state.
    Micro-scaled moment sums stay < 2^53 up to ~1e8 types/source; the
    group aggregate sums them as BIGINT (exact to 9.2e18). Bound worth
    knowing: the rank window sorts each source's vocabulary in ONE task
    (partitionBy source); at an extreme ~1e8 types/source that is a
    ~2 GB spill-backed SortExec per source — acceptable, but for a
    single giga-vocabulary source switch the ranking to a two-phase
    (bucket-histogram + intra-bucket window) scheme first."""
    tf = (
        spread_small_scan(df)
        .select(F.col(group_col),
                F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy(group_col).orderBy(F.col("cnt").desc(),
                                         F.col("term").asc())
    micro = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
    xy = (
        tf.withColumn("rk", F.row_number().over(w))
          .select(
              group_col,
              F.col("cnt"),
              micro(F.log(F.col("rk").cast("double"))).alias("x"),
              micro(F.log(F.col("cnt").cast("double"))).alias("y"),
              micro(F.log(F.col("rk").cast("double"))
                    * F.log(F.col("cnt").cast("double"))).alias("xy"),
              micro(F.log(F.col("rk").cast("double"))
                    * F.log(F.col("rk").cast("double"))).alias("xx"),
              micro(F.log(F.col("cnt").cast("double"))
                    * F.log(F.col("cnt").cast("double"))).alias("yy"),
          )
    )
    g = xy.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"), F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
    )
    # descale to doubles from the exact integer moments; the arithmetic
    # below is mirrored token-for-token in the DuckDB oracle
    n = F.col("n_types").cast("double")
    dx = F.col("sx").cast("double") / F.lit(1e6)
    dy = F.col("sy").cast("double") / F.lit(1e6)
    dxy = F.col("sxy").cast("double") / F.lit(1e6)
    dxx = F.col("sxx").cast("double") / F.lit(1e6)
    dyy = F.col("syy").cast("double") / F.lit(1e6)
    num = n * dxy - dx * dy
    den = n * dxx - dx * dx
    deny = n * dyy - dy * dy
    return g.select(
        group_col,
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(num / den, 4).alias("zipf_slope"),
        F.round((dy - num / den * dx) / n, 4).alias("zipf_intercept"),
        F.round(num * num / (den * deny), 4).alias("r2"),
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Spärck Jones probabilistic
    model) for a literal query-term set — the relevance-ranked upgrade
    of the reference's boolean free-text search
    (search_util/tasks.py get_filter_results shape; SURVEY §2.7 F1).

    ``score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with ``idf = ln(1 + (N-df+0.5)/(df+0.5))``. Per-(doc, term) scores
    are scaled to exact nano-integers before the per-doc sum (order-free
    cross-engine hashing), and the returned double descales from that
    one exact BIGINT.

    Scale: doc length and avgdl come from a single-pass projection +
    one global aggregate (two scalars folded into the plan as literals
    — no cross join); the exploded token stream is filtered to the
    query terms IMMEDIATELY (a tiny sliver of the corpus survives the
    only shuffle); df(t) is a |query|-row broadcast; the final top-k is
    TakeOrderedAndProject, never a global sort.

    Null-text rows are excluded from BOTH the postings and the (N,
    avgdl) stats pass — exactly :func:`build_term_index`'s filter — so
    the scan path and the indexed serving path derive identical corpus
    stats on any corpus (a null-text doc can never match a term, and
    counting it in N would silently skew idf between the two paths)."""
    terms = sorted(set(t.lower() for t in query_terms))
    nonnull = spread_small_scan(df).filter(F.col(text_col).isNotNull())
    base = nonnull.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    # N and avgdl: one bounded agg action, folded in as plan literals.
    # dl_sum/n is an exact-int double division — engine-identical.
    dl = nonnull.select(
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl"))
    tot = dl.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("dl").alias("s")).first()
    if int(tot["n"]) == 0:
        # empty or all-null-text corpus: nothing can match — return the
        # empty result with the output schema instead of dividing 0/0
        # (the build_term_index empty-corpus contract, r6 advice class);
        # the id dtype follows the input schema, not a hard-coded long
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, score_nano long, "
                f"n_terms_hit int, bm25 double")
    n_docs, avgdl = int(tot["n"]), float(tot["s"]) / float(tot["n"])
    # tf feeds BOTH the score join and df(t): persist the (tiny,
    # query-term-filtered) frame so the corpus scan+explode runs ONCE,
    # not once per consumer; released after the top-k materializes
    # (the _materialize_and_release pattern from dedup.py)
    tf = (base.filter(F.col("term").isin(terms))
              .groupBy(id_col, "term")
              .agg(F.count(F.lit(1)).alias("tf"),
                   F.first("dl").alias("dl"))
              .persist())
    out = _bm25_topk(tf, n_docs, avgdl, k, k1, b, id_col).persist()
    try:
        out.count()
    finally:
        tf.unpersist()
    return out


def _bm25_score_nano_expr(n_docs: int, avgdl: float,
                          k1: float, b: float) -> Column:
    """The BM25 per-(doc, term) score as an exact nano-integer column
    expression over (tf, dl, df) columns — ONE expression tree shared
    by the batch scan path (:func:`bm25_rank`), the indexed serving
    path (:func:`bm25_rank_indexed`), and the streaming serving twin
    (``streaming/scoring.py bm25_serve_stream``), so all three are
    bit-identical to one oracle."""
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    s = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    return F.floor(s * F.lit(1e9) + F.lit(0.5)).cast("long")


def _bm25_topk(tf: DataFrame, n_docs: int, avgdl: float, k: int,
               k1: float, b: float, id_col: str) -> DataFrame:
    """Shared BM25 scorer over a (id, term, tf, dl) postings frame —
    identical expression tree for the scan path (:func:`bm25_rank`) and
    the serving path (:func:`bm25_rank_indexed`), so both are
    bit-identical to one oracle."""
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
          .select(F.col(id_col),
                  _bm25_score_nano_expr(n_docs, avgdl, k1, b)
                  .alias("s_nano"))
          .groupBy(id_col)
          .agg(F.sum("s_nano").alias("score_nano"),
               F.count(F.lit(1)).cast("int").alias("n_terms_hit"))
    )
    return (
        scored.orderBy(F.col("score_nano").desc(), F.col(id_col).asc())
              .limit(k)
              .select(id_col, "score_nano", "n_terms_hit",
                      F.round(F.col("score_nano").cast("double") / F.lit(1e9),
                              4).alias("bm25"))
    )


def term_tf(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id",
            with_dl: bool = True) -> DataFrame:
    """Per-(document, term) occurrence counts (id, [dl,] term, tf) as a
    SHUFFLE-FREE map-only pass: sort each document's token array and
    run-length-encode it with array expressions, so tf is computed
    inside the row instead of exploding the raw token stream into a
    corpus-wide ``groupBy(term, id)`` exchange (guide §2.4: remove the
    shuffle outright; §2.3: this is "aggregate before you shuffle"
    taken to its limit — the aggregation happens before the explode).
    Bit-identical to ``explode → groupBy(term, id).count()`` (A/B'd
    with exceptAll both ways at sf0.1: 0 diffs; 6.5x faster on the full
    documents table under a noop sink because the only Exchange
    disappears). At 100 TB this removes a full shuffle of the token
    stream — the dominant cost of every index build.

    Null-text rows are excluded (same filter as every consumer).
    ``array_sort`` is O(dl log dl) per row and whole-stage-codegen'd;
    the run-length expressions reslice the sorted array without
    per-token Python or JVM allocation beyond the output rows."""
    toked = (df.filter(F.col(text_col).isNotNull())
               .select(F.col(id_col),
                       tokens(F.lower(F.col(text_col))).alias("_toks")))
    s = F.array_sort(F.col("_toks"))
    cols = [F.col(id_col)]
    if with_dl:
        cols.append(F.size(F.col("_toks")).cast("long").alias("dl"))
    t = toked.select(*cols, s.alias("_s"))
    # 1-based positions where a new run starts: first element, or any
    # element differing from its predecessor in the sorted array.
    # The run-length expressions are rendered as parsed SQL text (the
    # r13/r14 construction-latency class: object-by-object Column
    # building cost ~0.2 s of py4j driver time per call, paid on every
    # store commit); the parsed trees are identical and the function's
    # standing bit-identity A/B vs explode → groupBy covers them.
    starts = F.expr(
        "filter(sequence(1, size(_s)), i -> (i = 1) OR "
        "(element_at(_s, i) != element_at(_s, i - 1)))")
    keep = [F.col(id_col)] + ([F.col("dl")] if with_dl else [])
    t = t.select(*keep, F.col("_s"), starts.alias("_st"))
    # each run spans [start, next_start): zip starts with their
    # successors (the last run ends at size+1); the aliased arrays_zip
    # pins the i/j field names the final projection reads
    ends = F.expr("concat(slice(_st, 2, size(_st) - 1), "
                  "array(size(_s) + 1))")
    pairs = F.arrays_zip(F.col("_st").alias("i"), ends.alias("j"))
    t = t.select(*keep, F.col("_s"), F.explode(pairs).alias("_p"))
    return t.select(
        *keep,
        F.expr("element_at(_s, _p.i)").alias("term"),
        F.expr("CAST(_p.j - _p.i AS BIGINT)").alias("tf"))


def build_term_index(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     with_stats: bool = False):
    """Inverted-index build for the BM25 serving path: one corpus pass
    producing (term, doc_id, tf, dl) postings. Write it out partitioned/
    bucketed by ``term`` (e.g. ``.write.bucketBy(256, "term")``) and
    every subsequent query touches only its own terms' postings — the
    index-once / query-many layout that turns retrieval from a corpus
    scan into a pushdown-pruned posting lookup at 100 TB.

    With ``with_stats=True`` returns ``(postings, (n_docs, avgdl))`` —
    the two corpus scalars BM25 needs, paid ONCE at build time (a
    lightweight dl-only projection + one bounded aggregate over the
    same corpus the postings pass already reads) so the serving path
    never aggregates over the index per query. Store them next to the
    written index; :func:`bm25_rank_indexed` accepts them and falls
    back to re-deriving from the postings only when they are absent."""
    # The explode → groupBy shape is deliberate HERE: a downstream
    # term filter (the build→serve compositions: q123/q141/q147-style
    # "build the index and serve a query in one job") pushes through
    # the aggregate into the exploded stream, so the serve pays only
    # its own terms' slivers. The shuffle-free run-length form
    # (:func:`term_tf`) cannot absorb that pushdown — it sorts every
    # document's whole array first — and A/B'd +30-190% SLOWER on the
    # composed serves, while being 6.5x faster when the full postings
    # set is consumed (write-side: the store maintainer uses term_tf).
    base = spread_small_scan(df).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    postings = base.groupBy("term", id_col).agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    if not with_stats:
        return postings
    dl = (spread_small_scan(df).filter(F.col(text_col).isNotNull())
          .select(F.size(tokens(F.lower(F.col(text_col))))
                   .cast("long").alias("dl")))
    tot = dl.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("dl").alias("s")).first()
    n = int(tot["n"])
    if n == 0:
        # Empty / all-null-text delta batch: SUM is NULL and n/0 would
        # crash; an empty build legitimately carries (0, 0.0) stats so
        # merge_term_index can fold it in as a no-op.
        return postings, (0, 0.0)
    return postings, (n, float(tot["s"]) / float(n))


def bm25_rank_indexed(
    index: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """BM25 over a prebuilt :func:`build_term_index` postings frame —
    the serving twin of :func:`bm25_rank` (same scorer, bit-identical
    results on the same corpus). Raw text is never touched: the term
    IN-filter prunes straight into the (bucketed) index scan and the
    top-k is TakeOrderedAndProject.

    Corpus stats (``n_docs``, ``avgdl``) are build-time artifacts —
    pass the pair :func:`build_term_index` emitted (``with_stats=True``)
    and the serving plan touches ONLY the query's own postings: no
    full-index distinct/aggregate per query (at 100 TB the postings
    index is corpus-scale, so a per-query O(index) stats pass would
    erase the serving win; plan-contract test in tests/test_plans.py).
    When the pair is absent (ad-hoc index without a stats sidecar),
    falls back to one self-contained re-derivation over the postings."""
    terms = sorted(set(t.lower() for t in query_terms))
    if n_docs is None or avgdl is None:
        docs = index.select(id_col, "dl").dropDuplicates([id_col])
        tot = docs.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("dl").alias("s")).first()
        n_docs, avgdl = int(tot["n"]), float(tot["s"]) / float(tot["n"])
    tf = index.filter(F.col("term").isin(terms))
    return _bm25_topk(tf, n_docs, avgdl, k, k1, b, id_col)


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    max_df: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse TF-IDF cosine document similarity: (id_a, id_b, n_shared,
    cosine) for pairs with cosine >= threshold — term-vector similarity
    through a POSTING-LIST join, the third leg of the near-dup triad
    next to token-set Jaccard (:func:`~.dedup.ngram_jaccard_pairs`) and
    dense embedding cosine (:func:`~.similarity.embedding_near_dup_pairs`):
    it weighs *which* terms two documents share, not just how many, and
    needs no embedding model.

    Exactness: per-(doc, term) weights ``w = tf · ln(N/df)`` are IEEE
    doubles computed identically in any engine; every SUM is over
    nano-scaled BIGINTs (per-term pair products and per-doc squared
    norms floor-scaled to 1e-9 before aggregation), so aggregation
    order cannot move a bit and the full DuckDB oracle matches
    hash-for-hash. The final cosine divides the exact integer dot by
    the sqrt of the two exact integer norms in double.

    Scale shape: terms outside ``[min_df, min(max_df_frac·N, max_df)]``
    document frequency are dropped BEFORE the self-join — singleton
    terms pair nothing, and the df cap bounds every posting list (pairs
    per term <= cap², the same quadratic-bound dial as q44's
    ``max_shingle_freq``), so the term self-join shuffles a pruned
    sliver of the postings, never the corpus. ``max_df`` is the
    ABSOLUTE cap that holds at scale: a fractional cap alone grows with
    N (at 10x corpus a 50%-df stopword pairs 25k² candidates per term —
    measured OOM in the r6 sf1 sweep), while an absolute cap keeps the
    quadratic bound constant at any corpus size. Three keyed shuffles
    total (tf groupBy, pair aggregate, norm join-back); N folds in as
    a plan literal."""
    df = spread_small_scan(df)
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n = df.count()
    df_cap = min(int(n * max_df_frac), int(max_df))
    dfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
               .filter((F.col("df") >= F.lit(int(min_df)))
                       & (F.col("df") <= F.lit(df_cap))))
    w_expr = F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))
    weighted = (tf.join(F.broadcast(dfreq), "term")
                  .select(F.col(id_col), "term", w_expr.alias("w"))
                  .persist())
    norms = weighted.groupBy(id_col).agg(
            F.sum(F.floor(F.col("w") * F.col("w") * F.lit(1e9)
                      + F.lit(0.5)).cast("long")).alias("norm_nano"))
    a, b = weighted.alias("a"), weighted.alias("b")
    pairs = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
         .select(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 F.floor(F.col("a.w") * F.col("b.w") * F.lit(1e9)
                         + F.lit(0.5)).cast("long").alias("p_nano"))
         .groupBy("id_a", "id_b")
         .agg(F.sum("p_nano").alias("dot_nano"),
              F.count(F.lit(1)).cast("int").alias("n_shared"))
    )
    na = norms.select(F.col(id_col).alias("id_a"),
                      F.col("norm_nano").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"),
                      F.col("norm_nano").alias("nb"))
    cos = (F.col("dot_nano").cast("double")
           / F.sqrt(F.col("na").cast("double")
                    * F.col("nb").cast("double")))
    # zero-norm guard: with max_df_frac=1.0 a term present in EVERY doc
    # has idf 0, and a doc whose kept terms all have zero weight gets
    # norm 0 — the division yields NaN, and Spark orders/compares NaN
    # as GREATEST, so `NaN >= threshold` would smuggle garbage pairs in
    out = (pairs.join(na, "id_a").join(nb, "id_b")
                .filter((F.col("na") > 0) & (F.col("nb") > 0))
                .filter(cos >= F.lit(float(threshold)))
                .select("id_a", "id_b", "n_shared",
                        F.round(cos, 4).alias("cosine")))
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [weighted])


def normalize_nfc(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  extra_exprs: dict[str, Column] | None = None
                  ) -> DataFrame:
    """Unicode canonicalization for dedup keys: NFC-normalize the text
    (composed form — 'e' + COMBINING ACUTE and the precomposed 'é'
    become the SAME bytes) and collapse whitespace runs, so visually
    identical documents that differ only in Unicode encoding or
    spacing hash to one digest. Web crawls mix NFC/NFD sources freely;
    exact dedup without this step silently misses those pairs.

    NFC runs as an Arrow-batched pandas UDF over Python's stdlib
    ``unicodedata`` (Spark SQL has no normalization builtin); both
    engines implement Unicode NFC, so DuckDB's ``nfc_normalize``
    replays it exactly — full oracle. Case folding is deliberately NOT
    included: JVM/Python lower('İ') disagrees with DuckDB's, so a
    caller composes ``F.lower`` when the corpus allows it.

    Returns (id, norm_text, norm_digest, n_chars_norm) — one Arrow map
    pass + codegen'd digest, zero shuffles. ``extra_exprs`` appends
    caller expressions over the SAME projection (e.g. the raw-text md5
    the dedup funnel pairs with the NFC digest) so composing operators
    get both from one text scan."""
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda t: unicodedata.normalize("NFC", t)
                     if t is not None else None)

    df = spread_small_scan(df)
    norm = F.trim(F.regexp_replace(_nfc(F.col(text_col)),
                                   r"\s+", " "))
    extras = [expr.alias(name)
              for name, expr in (extra_exprs or {}).items()]
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_digest"),
        F.length(norm).alias("n_chars_norm"),
        *extras,
    )


def normalized_dup_groups(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the NFC-canonicalized text: per normalized
    digest, the group size and canonical (minimum) doc id — the
    :func:`~.dedup.exact_duplicates` grouping shape with
    Unicode-equivalence built in. Returns EVERY group (n_docs >= 1),
    so the frame doubles as the canonical-id dedup map; filter
    ``n_docs >= 2`` downstream for duplicate groups only. Only the
    16-byte digest shuffles; payloads stay put."""
    n = normalize_nfc(df, text_col=text_col, id_col=id_col)
    return (n.groupBy("norm_digest")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.min(F.col(id_col)).alias("canonical_id"),
                  F.min("n_chars_norm").alias("n_chars_norm")))


def hashed_features(
    df: DataFrame,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Signed feature hashing (the "hashing trick", Weinberger et al.,
    ICML 2009): every token maps to bucket ``md5(term) mod dim`` with a
    ±1 sign from an independent hash bit, and a document's feature is
    the signed token-count sum per bucket — a fixed-dimension text
    vectorizer with NO vocabulary, NO training, and NO driver state,
    the standard way to get model-free document vectors at corpus
    scale (the sign makes collisions cancel in expectation, so inner
    products are unbiased estimates of the un-hashed ones).

    Returns the SPARSE form (id, bucket, feat) — one explode + one
    (id, bucket)-keyed integer aggregate, fully engine-portable via the
    md5 hash family (full DuckDB oracle); :func:`hashed_vectors`
    assembles the dense array for the embedding-side operators."""
    h = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10) \
        .cast("long")  # noqa: E731
    term = F.col("term")
    bucket = F.pmod(h(term), F.lit(int(dim))).cast("int")
    sgn = (F.lit(1) - F.lit(2) * F.pmod(
        h(F.concat(F.lit("s_"), term)), F.lit(2))).cast("int")
    toks = (spread_small_scan(df)
            .filter(F.col(text_col).isNotNull())
            .select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term")))
    return (toks.select(F.col(id_col), bucket.alias("bucket"),
                        sgn.alias("sgn"))
                .groupBy(id_col, "bucket")
                .agg(F.sum("sgn").cast("long").alias("feat")))


def hashed_vectors(
    df: DataFrame,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense ``array<double>`` document vectors from
    :func:`hashed_features` — (id, vector[dim]) ready for the
    embedding-side stack (cosine top-k, near-dup pairs, SQ8, IVF...),
    so every similarity operator in this engine runs on raw text with
    no external embedding model. Assembly is map_from_arrays over the
    per-doc sparse pairs + one sequence transform — JVM-side, no UDF,
    one aggregate beyond the sparse form."""
    sparse = hashed_features(df, dim=dim, text_col=text_col,
                             id_col=id_col)
    m = F.map_from_arrays(F.collect_list("bucket"),
                          F.collect_list("feat"))
    return (sparse.groupBy(id_col)
            .agg(m.alias("_m"))
            .select(
                F.col(id_col),
                F.transform(
                    F.sequence(F.lit(0), F.lit(int(dim) - 1)),
                    lambda b: F.coalesce(
                        F.element_at(F.col("_m"), b.cast("int")),
                        F.lit(0).cast("long")).cast("double"),
                ).alias("vector")))


def hashed_norms(feats: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document squared-norm sidecar for a :func:`hashed_features`
    table: (id, norm) with ``norm = Σ_b feat_b²`` — a BUILD-TIME
    artifact of the dense serving leg, the exact analog of the
    (n_docs, avgdl) stats pair :func:`build_term_index` emits. Compute
    it once from the written feature table and store it alongside;
    :func:`hybrid_rank_rrf` / :func:`hybrid_serve_indexed` accept it
    and the serving plan never aggregates the corpus-scale feature
    table per query (plan-contract test in tests/test_plans.py — the
    q123 lesson applied to the dense leg)."""
    return feats.groupBy(id_col).agg(
        F.sum(F.col("feat") * F.col("feat")).alias("norm"))


def merge_term_index(
    index: DataFrame,
    stats: tuple[int, float],
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Incremental maintenance for the BM25 serving index: fold a batch
    of NEW documents into an existing :func:`build_term_index` postings
    frame and its build-time stats WITHOUT rescanning the old corpus —
    the index-refresh half of the index-once/query-many lifecycle
    (build once, merge deltas, swap versions between serving runs).

    New docs must be disjoint from the indexed ids (an id appearing in
    both would double its postings — the caller dedups first, e.g. via
    the q86 novel-docs semi-join). Corpus stats update in O(batch):
    ``N' = N + n_new``; ``avgdl' = (Σ dl_old + Σ dl_new) / N'``. The
    integer dl sums are recovered exactly from the stored doubles —
    ``round(N·avgdl)`` equals the true integer sum while Σ dl < 2^51
    (the double s/n·n round-trip errs by < 0.5 there; 2^51 tokens is
    beyond any corpus) — so avgdl' is BIT-identical to a full rebuild's
    one division, not merely close: serving scores floor at 1e-9 and a
    1-ulp avgdl drift could flip a boundary. Returns
    ``(postings', (n_docs', avgdl'))`` bit-identical to a full rebuild
    over the union (differential test in tests/test_textstats.py)."""
    n_old, avgdl_old = int(stats[0]), float(stats[1])
    delta, (n_new, avgdl_new) = build_term_index(
        new_docs, text_col=text_col, id_col=id_col, with_stats=True)
    if n_new == 0:
        # Empty delta batch: the index and its stats are unchanged
        # (and n_old may itself be 0 — avoid 0/0).
        return index, (n_old, avgdl_old)
    n_total = n_old + n_new
    dl_sum = round(n_old * avgdl_old) + round(n_new * avgdl_new)
    return index.unionByName(delta), (n_total,
                                      float(dl_sum) / float(n_total))


def prune_term_index(
    index: DataFrame,
    stats: tuple[int, float],
    removed_ids: DataFrame,
    id_col: str = "doc_id",
):
    """Delete-side incremental maintenance for the BM25 serving index —
    the tombstone half of the lifecycle (:func:`build_term_index` →
    :func:`merge_term_index` for inserts → this for deletes → swap
    versions): drop the removed documents' postings and downdate the
    corpus stats WITHOUT rescanning the surviving corpus.

    ``removed_ids`` (first column = doc id) must be ids that ARE in the
    indexed corpus (pruning an id that was never indexed would downdate
    N for a document the stats never counted — the caller intersects
    first, e.g. with the q70 decontaminate semi-join). The removed
    documents' lengths come from the index itself (any posting of a doc
    carries its dl; a doc with tokens always has >= 1 posting, and a
    token-less doc has dl 0 — absent from the postings AND contributing
    0 to the dl sum, so only its count is subtracted). Stats downdate
    exactly: ``N' = N - n_removed``;
    ``dl_sum' = round(N·avgdl) - Σ dl_removed`` — the rounding recovers
    the true INTEGER dl sum (exact while Σ dl < 2^51, see
    :func:`merge_term_index`), so avgdl' is bit-identical to a full
    rebuild's division.

    Scale: the tombstone set BROADCASTS — the postings drop is a
    map-side broadcast anti-join (the corpus-scale index never
    shuffles) and the dl recovery is one max-per-doc aggregate over
    ONLY the removed docs' postings (broadcast semi-join pruned).
    Returns ``(postings', (n_docs', avgdl'))`` bit-identical to a full
    rebuild over the surviving corpus (differential test in
    tests/test_textstats.py)."""
    n_old, avgdl_old = int(stats[0]), float(stats[1])
    rem = removed_ids.select(
        F.col(removed_ids.columns[0]).alias(id_col)).distinct()
    n_removed = rem.count()
    if n_removed == 0:
        return index, (n_old, avgdl_old)
    pruned = (index.join(F.broadcast(rem), id_col, "left_anti")
                   .select(*index.columns))  # join hoists the key col
    n_total = n_old - n_removed
    if n_total <= 0:
        # everything removed: empty index, empty-corpus stats (the
        # build_term_index empty contract, mergeable as a no-op)
        return pruned, (0, 0.0)
    # a doc's dl repeats on every posting — max per doc, then sum; a
    # token-less removed doc has no postings and contributes dl 0
    rs = (index.join(F.broadcast(rem), id_col, "leftsemi")
               .groupBy(id_col).agg(F.max("dl").alias("_dl"))
               .agg(F.sum("_dl").alias("s"))).first()
    dl_sum = round(n_old * avgdl_old) - int(rs["s"] or 0)
    return pruned, (n_total, float(dl_sum) / float(n_total))


def merge_hashed_index(
    feats: DataFrame,
    norms: DataFrame,
    new_docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Insert-side incremental maintenance for the DENSE serving leg:
    fold a batch of NEW documents into an existing
    :func:`hashed_features` table and its :func:`hashed_norms` sidecar
    without rescanning the old corpus — the dense-leg twin of
    :func:`merge_term_index`, so a :func:`hybrid_serve_indexed`
    deployment refreshes BOTH legs in O(batch) between serving runs.

    New docs must be disjoint from the indexed ids (the caller dedups
    first); ``dim`` must match the build dim. Per-doc features and
    norms are independent across documents, so the merge is two
    unions — no cross-corpus arithmetic at all. Works for both feature
    layouts: a plain (id, bucket, feat) table, or the ENRICHED one
    with a pre-joined ``norm`` column (the zero-join serving posture —
    the delta batch is enriched with its own O(batch) norms before the
    union). Returns ``(feats', norms')`` bit-identical to a full
    rebuild over the union (differential test in
    tests/test_textstats.py)."""
    delta = hashed_features(new_docs, dim=dim, text_col=text_col,
                            id_col=id_col)
    dnorms = hashed_norms(delta, id_col=id_col)
    if "norm" in feats.columns:
        delta = delta.join(dnorms, id_col)
    return feats.unionByName(delta), norms.unionByName(dnorms)


def prune_hashed_index(
    feats: DataFrame,
    norms: DataFrame,
    removed_ids: DataFrame,
    id_col: str = "doc_id",
):
    """Delete-side maintenance for the dense serving leg — the
    :func:`prune_term_index` twin: drop the tombstoned documents' rows
    from the feature table and its norms sidecar. Per-doc independence
    makes this two broadcast anti-joins and nothing else (no stats to
    downdate — norms are per-document, not corpus aggregates); the
    corpus-scale tables never shuffle. Works for both the plain and
    the ENRICHED (norm-column) feature layouts. Returns
    ``(feats', norms')`` bit-identical to a rebuild over the survivors
    (differential test in tests/test_textstats.py)."""
    rem = removed_ids.select(
        F.col(removed_ids.columns[0]).alias(id_col)).distinct()
    return (feats.join(F.broadcast(rem), id_col, "left_anti")
                 .select(*feats.columns),
            norms.join(F.broadcast(rem), id_col, "left_anti")
                 .select(*norms.columns))


def _query_hashed_features(query_terms: list[str], dim: int) -> dict[int, int]:
    """Driver-side twin of :func:`hashed_features` for a literal query:
    bucket = md5(term)[:15 hex] mod dim, sign from an independent md5
    bit — hashlib md5 of UTF-8 equals Spark's ``F.md5`` and DuckDB's
    ``md5`` byte-for-byte, so the query vector lands in exactly the
    buckets the corpus side populates. O(|query|) driver work."""
    import hashlib

    feats: dict[int, int] = {}
    for t in query_terms:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        s = int(hashlib.md5(("s_" + t).encode("utf-8")).hexdigest()[:15],
                16)
        b = h % dim
        feats[b] = feats.get(b, 0) + (1 - 2 * (s % 2))
    return {b: v for b, v in feats.items() if v != 0}


def _dense_leg_scored(
    feats: DataFrame,
    qfeats: dict[int, int],
    depth: int,
    id_col: str,
    norms: DataFrame | None,
) -> DataFrame:
    """Top-``depth`` (id, cos_nano) dense leg over a hashed-feature
    table — shared by the scan-path :func:`hybrid_rank_rrf` and the
    serving-path :func:`hybrid_serve_indexed` so both are bit-identical
    to one oracle. The feats scan carries an explicit
    ``bucket IN (query buckets)`` filter (the query vector is a
    driver-side literal), so against a written/bucketed feature table
    the scan is pushdown-pruned to the query's own buckets — zero-qfeat
    buckets contribute nothing to the dot and are pruned too.

    Norm lookup, best to worst:

    * ENRICHED feats (a ``norm`` column on every (id, bucket) row —
      build once with ``feats.join(hashed_norms(feats), id)``, the same
      pre-join ``dense_serve_stream`` plans statically): the dots
      aggregate carries ``first(norm)`` and the serving plan has ZERO
      norm joins — the deployment posture.
    * ``norms`` sidecar table: joined onto the bucket-pruned dots side
      (AQE broadcasts the small dots frame; or write norms bucketed by
      id). No corpus-wide aggregate either way.
    * neither: one self-contained norm derivation over ``feats``
      (ad-hoc corpus without build artifacts)."""
    spark = feats.sparkSession
    qnorm = float(sum(v * v for v in qfeats.values()))
    qdf = spark.createDataFrame(
        [(int(bk), int(v)) for bk, v in sorted(qfeats.items())],
        "bucket int, qfeat long")
    enriched = "norm" in feats.columns
    if norms is None and not enriched:
        norms = hashed_norms(feats, id_col=id_col)
    pruned = feats.filter(
        F.col("bucket").isin([int(bk) for bk in qfeats]))
    aggs = [F.sum(F.col("feat") * F.col("qfeat")).alias("dot")]
    if enriched:
        aggs.append(F.first("norm").alias("norm"))
    dots = (pruned.join(F.broadcast(qdf), "bucket")
                  .groupBy(id_col).agg(*aggs))
    scored = dots if enriched else dots.join(norms, id_col)
    cos = (F.col("dot").cast("double")
           / F.sqrt(F.col("norm").cast("double") * F.lit(qnorm)))
    # exact nano-integer cosine BEFORE ranking: the rank order (and
    # therefore the fused output) depends only on BIGINT comparisons
    return (scored.filter(F.col("norm") > 0)
                  .select(F.col(id_col),
                          F.floor(cos * F.lit(1e9) + F.lit(0.5))
                          .cast("long").alias("cos_nano"))
                  .orderBy(F.col("cos_nano").desc(), F.col(id_col).asc())
                  .limit(depth))


def _rrf_fuse(sparse_top: DataFrame, scored: DataFrame | None,
              k: int, rrf_k: int, id_col: str) -> DataFrame:
    """RRF fusion of the two leg top-depths (each already bounded):
    dense per-leg ranks under a TOTAL order, full-outer rank join,
    ``rrf(d) = Σ_legs 1/(rrf_k + rank_leg(d))``, final top-k. Touches
    <= 2·depth rows — driver-bounded, never corpus-sized. ``scored``
    None = the query hashed to an all-zero vector: lexical-only."""
    w_s = W.orderBy(F.col("score_nano").desc(), F.col(id_col).asc())
    leg_s = sparse_top.select(
        F.col(id_col), F.row_number().over(w_s).alias("rank_bm25"))
    if scored is not None:
        w_d = W.orderBy(F.col("cos_nano").desc(), F.col(id_col).asc())
        leg_d = scored.select(
            F.col(id_col), F.row_number().over(w_d).alias("rank_dense"))
        fused = leg_s.join(leg_d, id_col, "full_outer")
    else:
        fused = leg_s.withColumn("rank_dense", F.lit(None).cast("int"))
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k))
                                    + F.col("rank_bm25")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k))
                                      + F.col("rank_dense")), F.lit(0.0)))
    return (fused.withColumn("rrf", rrf)
                 .withColumn("rank_bm25",
                             F.coalesce("rank_bm25", F.lit(0)))
                 .withColumn("rank_dense",
                             F.coalesce("rank_dense", F.lit(0)))
                 .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
                 .limit(k)
                 .select(F.col(id_col), F.col("rank_bm25"),
                         F.col("rank_dense"),
                         F.round(F.col("rrf"), 6).alias("rrf")))


def hybrid_rank_rrf(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    depth: int = 50,
    rrf_k: int = 60,
    dim: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    feats: DataFrame | None = None,
    norms: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke &
    Büttcher, SIGIR 2009): fuse a lexical BM25 leg (:func:`bm25_rank`)
    with a dense hashed-feature cosine leg (:func:`hashed_features` —
    model-free document vectors, so the hybrid stack runs on raw text
    with no external embedding service), the standard two-leg serving
    shape of modern retrieval systems. Upgrades the reference's
    single-signal free-text search (search_util/search_helper.py:27-34)
    the same way q121 upgraded its boolean matching.

    ``rrf(d) = Σ_legs 1/(rrf_k + rank_leg(d))`` over the legs that
    retrieved d within ``depth``; ranks are dense per leg under a TOTAL
    order (exact nano-integer score desc, id asc), so both legs and the
    fused ordering replay bit-identically in the SQL oracle. A doc
    missing from a leg contributes nothing; its rank column reports 0.

    Scale shape: each leg is the already-scale-audited operator (BM25:
    term-filtered explode + broadcast df; dense: the feats scan is
    pruned to the query's buckets and joined to the O(|query|)
    broadcast vector). Both legs end in a bounded top-``depth``
    (TakeOrderedAndProject); fusion touches <= 2·depth rows.

    Serving path: pass a prebuilt ``feats`` table
    (:func:`hashed_features` written/bucketed by ``bucket``) AND its
    ``norms`` sidecar (:func:`hashed_norms`, a build-time artifact like
    q123's (n_docs, avgdl)) and the dense leg touches only the query's
    buckets — no raw-text rescan, no per-query corpus-wide norm
    aggregate (plan-contract test in tests/test_plans.py). The caller
    owns both tables' lifecycles (they are not released here). With
    ``feats`` but no ``norms`` the leg falls back to one self-contained
    norm derivation over the feature table. ``dim`` must match the dim
    the table was built with (the query vector hashes with it). For a
    fully index-served deployment — the lexical leg off a prebuilt
    postings index too — use :func:`hybrid_serve_indexed`."""
    terms = sorted(set(t.lower() for t in query_terms))
    qfeats = _query_hashed_features(terms, dim)
    released = []
    scored = None
    if qfeats:
        if feats is None:
            feats = hashed_features(df, dim=dim, text_col=text_col,
                                    id_col=id_col).persist()
            released.append(feats)
            norms = None  # derive from the one-shot build just made
        # the two legs are independent until fusion, and each ends in
        # a bounded top-depth — materialize them CONCURRENTLY (guide
        # §2.6) instead of serializing the lexical leg's two actions
        # before the dense leg's corpus pass; the fused job then reads
        # two <= depth-row caches. scored is persisted so the fusion
        # consumes the rows this thread computed, not a recompute.
        scored = _dense_leg_scored(feats, qfeats, depth, id_col,
                                   norms).persist()
        released.append(scored)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_sparse = pool.submit(bm25_rank, df, terms, depth, k1, b,
                                   text_col, id_col)
            f_dense = pool.submit(scored.count)
            sparse_top = f_sparse.result()
            f_dense.result()
    else:
        # all-zero query vector: lexical-only, nothing to overlap
        sparse_top = bm25_rank(df, terms, k=depth, k1=k1, b=b,
                               text_col=text_col, id_col=id_col)
    released.insert(0, sparse_top)
    out = _rrf_fuse(sparse_top, scored, k, rrf_k, id_col)
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, released)


def hybrid_serve_indexed(
    index: DataFrame,
    query_terms: list[str],
    feats: DataFrame,
    k: int = 20,
    depth: int = 50,
    rrf_k: int = 60,
    dim: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    n_docs: int | None = None,
    avgdl: float | None = None,
    norms: DataFrame | None = None,
) -> DataFrame:
    """Fully index-served hybrid retrieval — the composed batch serving
    entry point: BOTH legs run off build-time artifacts with ZERO
    raw-text scans. Lexical leg = :func:`bm25_rank_indexed` over a
    :func:`build_term_index` postings frame + its (n_docs, avgdl)
    stats; dense leg = the :func:`hashed_features` table + its
    :func:`hashed_norms` sidecar; fusion = the same
    :func:`_rrf_fuse` as :func:`hybrid_rank_rrf`, so on the same corpus
    the two are bit-identical (parity test in tests/test_textstats.py).
    This is the batch twin of running ``bm25_serve_stream`` +
    ``dense_serve_stream`` and fusing consumer-side, and the
    index-backed upgrade of the reference's free-text search
    (search_util/search_helper.py:27-49).

    Serving plan shape (plan-contract tested): the postings scan is
    pruned to the query's terms, the feats scan to the query's buckets
    (both pushdown-prunable against written/bucketed tables), the norm
    join keys on the bucket-pruned dots side, and corpus stats are plan
    literals — per-query work is O(matching postings + matching
    buckets), never O(corpus). Best layout: write the feature table
    ENRICHED (``feats.join(hashed_norms(feats), id)``) and skip
    ``norms`` entirely — the serving plan then has zero norm joins
    (see :func:`_dense_leg_scored`). Omitting
    ``n_docs``/``avgdl``/``norms`` on a plain feats table falls back
    to self-contained re-derivation over the prebuilt tables (ad-hoc
    use; the plan test covers both supplied shapes)."""
    terms = sorted(set(t.lower() for t in query_terms))
    sparse_top = bm25_rank_indexed(index, terms, k=depth, k1=k1, b=b,
                                   id_col=id_col, n_docs=n_docs,
                                   avgdl=avgdl)
    qfeats = _query_hashed_features(terms, dim)
    scored = (_dense_leg_scored(feats, qfeats, depth, id_col, norms)
              if qfeats else None)
    return _rrf_fuse(sparse_top, scored, k, rrf_k, id_col)


def hybrid_serve_topk_batch(
    index: DataFrame,
    queries: "list[tuple[int, list[str]]] | DataFrame",
    feats: DataFrame,
    k: int = 20,
    depth: int = 50,
    rrf_k: int = 60,
    dim: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    n_docs: int | None = None,
    avgdl: float | None = None,
    norms: DataFrame | None = None,
    terms_col: str = "terms",
) -> DataFrame:
    """Batched hybrid serving: run a SET of queries through both
    index-served legs in ONE distributed job — the throughput shape a
    serving tier needs (:func:`hybrid_serve_indexed` plans one job per
    query; job-launch latency × |queries| serialized on the driver is
    the ceiling the per-query form hits). Mirrors
    :func:`~tantalus_spark.datapipe.similarity.pq_topk_batch`:
    ``query_id`` rides through every join, each per-query reduction is
    a window partitioned by query, and the output is
    (query_id, id, rank_bm25, rank_dense, rrf) — per query
    BIT-IDENTICAL to :func:`hybrid_serve_indexed` on the same
    artifacts (differential test in tests/test_textstats.py).

    Plan shape, one job end to end: the postings scan is pruned ONCE
    to the union of all queries' terms (then the broadcast
    (query_id, term) map fans each posting only to the queries that
    asked for it); per-term df comes from one aggregate over that
    pruned sliver (df per term is a corpus property, identical
    whichever query asks); the feats scan is pruned once to the union
    of query buckets and joined to the broadcast (query_id, bucket,
    qfeat) vectors; all BM25/dot sums are exact BIGINTs so fan-in
    order cannot move a bit; per-query top-``depth``/top-``k`` are
    rank windows partitioned by query (bounded state per query). Total
    work: O(matching postings + matching buckets) across the query
    set + O(|queries| · depth) fusion rows — the index is scanned once
    per BATCH, not once per query. Queries whose terms hash to an
    all-zero vector serve lexical-only, exactly like the scalar path.
    ENRICHED feats (``norm`` column) serve with zero norm joins.

    ``queries`` may also be a DataFrame with (query_id, ``terms_col``)
    columns — the offline-eval shape where a 100k-query batch must not
    materialize on the driver: term normalization and the query-side
    hashed features become expressions (the F.md5 / hashlib.md5
    byte-identity that makes :func:`_query_hashed_features` portable
    works in reverse), and only the BATCH VOCABULARY (distinct terms /
    buckets, shared across queries) is collected for the static IN
    pruning filters — O(batch vocabulary), never O(queries · terms).
    Per query bit-identical to the list path (differential test)."""
    spark = index.sparkSession
    if isinstance(queries, DataFrame):
        qq = queries.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.array_sort(F.array_distinct(
                F.transform(F.col(terms_col), F.lower))).alias("_t"))
        qterms = qq.select("query_id", F.explode("_t").alias("term"))
        # query-side hashed features, expression twin of
        # _query_hashed_features (same md5 bucket/sign derivation as
        # hashed_features, over the DEDUPED term set)
        h = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10) \
            .cast("long")  # noqa: E731
        qdf = (qterms
               .select("query_id",
                       F.pmod(h(F.col("term")), F.lit(int(dim)))
                        .cast("int").alias("bucket"),
                       (F.lit(1) - F.lit(2) * F.pmod(
                           h(F.concat(F.lit("s_"), F.col("term"))),
                           F.lit(2))).cast("int").alias("sgn"))
               .groupBy("query_id", "bucket")
               .agg(F.sum("sgn").cast("long").alias("qfeat"))
               .filter(F.col("qfeat") != 0))
        qn = qdf.groupBy("query_id").agg(
            (F.sum(F.col("qfeat") * F.col("qfeat")))
            .cast("double").alias("qnorm"))
        # ONE driver job for all three driver-side facts — the term
        # vocabulary (the postings scan's IN filter), the bucket
        # vocabulary (the feats scan's IN filter), and the
        # duplicate-query-id guard — tag-unioned so a micro-batch
        # serving path pays one scheduling round trip, O(batch
        # vocabulary) rows, never O(queries · terms)
        meta = (qterms.select(F.col("term").alias("x"),
                              F.lit("term").alias("what")).distinct()
                .unionByName(
                    qdf.select(F.col("bucket").cast("string")
                                .alias("x"),
                               F.lit("bucket").alias("what"))
                       .distinct())
                .unionByName(
                    qq.groupBy("query_id")
                      .agg(F.count(F.lit(1)).alias("n"))
                      .filter(F.col("n") > 1).limit(1)
                      .select(F.lit("dup").alias("x"),
                              F.lit("dup").alias("what"))))
        rows = meta.collect()
        if any(r["what"] == "dup" for r in rows):
            raise ValueError(
                "hybrid_serve_topk_batch: duplicate query ids")
        all_terms = sorted(r["x"] for r in rows
                           if r["what"] == "term")
        all_buckets = sorted(int(r["x"]) for r in rows
                             if r["what"] == "bucket")
        # no broadcast HINT on the query-side frames in this leg: a
        # serving-tier batch broadcasts fine and AQE will pick that at
        # runtime, but a 100k-query offline eval's qterms/qdf should
        # be allowed to shuffle-join instead of being forced through
        # the driver. The list leg keeps the hint (driver-built
        # literal frames are tiny by construction).
        q_hint = lambda df: df  # noqa: E731
    else:
        norm_q = [(int(qid), sorted(set(t.lower() for t in ts)))
                  for qid, ts in queries]
        if len({qid for qid, _ in norm_q}) != len(norm_q):
            # output rows are keyed by query_id: a duplicate would
            # merge two requests into one garbled union query
            # (duplicate qterms rows, fanned qnorm join, multiplied
            # fusion rows). Loud contract beats silent corruption;
            # callers with duplicate request ids re-key rows first
            # (hybrid_serve_batches does).
            raise ValueError(
                "hybrid_serve_topk_batch: duplicate query ids")
        all_terms = sorted({t for _, ts in norm_q for t in ts})
        qterms = spark.createDataFrame(
            [(qid, t) for qid, ts in norm_q for t in ts],
            "query_id long, term string")
        qfeat_rows: list[tuple[int, int, int]] = []
        qnorms: list[tuple[int, float]] = []
        for qid, ts in norm_q:
            qf = _query_hashed_features(ts, dim)
            if qf:
                qnorms.append(
                    (qid, float(sum(v * v for v in qf.values()))))
                qfeat_rows.extend((qid, int(bk), int(v))
                                  for bk, v in sorted(qf.items()))
        qdf = spark.createDataFrame(
            qfeat_rows, "query_id long, bucket int, qfeat long")
        qn = spark.createDataFrame(qnorms,
                                   "query_id long, qnorm double")
        all_buckets = sorted({r[1] for r in qfeat_rows})
        q_hint = F.broadcast  # driver-built literal frames: tiny
    if n_docs is None or avgdl is None:
        docs = index.select(id_col, "dl").dropDuplicates([id_col])
        tot = docs.agg(F.count(F.lit(1)).alias("n"),
                       F.sum("dl").alias("s")).first()
        n_docs, avgdl = int(tot["n"]), float(tot["s"]) / float(tot["n"])

    # --- lexical leg: one term-pruned postings scan for the whole set
    tf = index.filter(F.col("term").isin(all_terms))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    sparse = (tf.join(F.broadcast(dfreq), "term")
                .join(q_hint(qterms), "term")
                .select("query_id", F.col(id_col),
                        _bm25_score_nano_expr(n_docs, avgdl, k1, b)
                        .alias("s_nano"))
                .groupBy("query_id", id_col)
                .agg(F.sum("s_nano").alias("score_nano")))
    w_s = W.partitionBy("query_id").orderBy(
        F.col("score_nano").desc(), F.col(id_col).asc())
    leg_s = (sparse.withColumn("rank_bm25", F.row_number().over(w_s))
                   .filter(F.col("rank_bm25") <= int(depth))
                   .select("query_id", id_col, "rank_bm25"))

    # --- dense leg: one bucket-pruned feats scan for the whole set
    scored = None
    if all_buckets:
        enriched = "norm" in feats.columns
        if norms is None and not enriched:
            norms = hashed_norms(feats, id_col=id_col)
        pruned = feats.filter(F.col("bucket").isin(all_buckets))
        aggs = [F.sum(F.col("feat") * F.col("qfeat")).alias("dot")]
        if enriched:
            aggs.append(F.first("norm").alias("norm"))
        dots = (pruned.join(q_hint(qdf), "bucket")
                      .groupBy("query_id", id_col).agg(*aggs))
        sc = dots if enriched else dots.join(norms, id_col)
        sc = sc.join(q_hint(qn), "query_id")
        cos = (F.col("dot").cast("double")
               / F.sqrt(F.col("norm").cast("double") * F.col("qnorm")))
        w_d = W.partitionBy("query_id").orderBy(
            F.col("cos_nano").desc(), F.col(id_col).asc())
        scored = (sc.filter(F.col("norm") > 0)
                    .select("query_id", F.col(id_col),
                            F.floor(cos * F.lit(1e9) + F.lit(0.5))
                            .cast("long").alias("cos_nano"))
                    .withColumn("rank_dense", F.row_number().over(w_d))
                    .filter(F.col("rank_dense") <= int(depth))
                    .select("query_id", id_col, "rank_dense"))

    # --- per-query RRF fusion over <= 2·depth rows each
    if scored is not None:
        fused = leg_s.join(scored, ["query_id", id_col], "full_outer")
    else:
        fused = leg_s.withColumn("rank_dense", F.lit(None).cast("int"))
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k))
                                    + F.col("rank_bm25")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k))
                                      + F.col("rank_dense")),
                        F.lit(0.0)))
    w_f = W.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col(id_col).asc())
    return (fused.withColumn("rrf", rrf)
                 .withColumn("rank_bm25", F.coalesce("rank_bm25",
                                                     F.lit(0)))
                 .withColumn("rank_dense", F.coalesce("rank_dense",
                                                      F.lit(0)))
                 .withColumn("_rk", F.row_number().over(w_f))
                 .filter(F.col("_rk") <= int(k))
                 .select("query_id", F.col(id_col), "rank_bm25",
                         "rank_dense",
                         F.round(F.col("rrf"), 6).alias("rrf")))


def source_js_divergence(
    df: DataFrame,
    n_buckets: int = 256,
    text_col: str = "text",
    group_col: str = "source",
    hash_family: str = "md5",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the hashed-unigram
    token distributions of every two corpus slices (sources) — the
    standard data-mixing diagnostic: JS (in bits, 0 = identical,
    1 = disjoint) tells a pipeline which sources are redundant with
    each other and which add genuinely new text before mixing weights
    are chosen (same hashed-sketch trick as DSIR, Xie et al. 2023).

    ``JS(P,Q) = ½·Σ_b p·log2(p/m) + ½·Σ_b q·log2(q/m)``, ``m=(p+q)/2``,
    zero-count terms contribute 0. Each per-bucket contribution is
    computed from exact integer counts and floor-scaled to a nano
    BIGINT before the per-pair sum, so aggregation order cannot move a
    bit and the DuckDB oracle matches hash-for-hash.

    Scale shape: ONE corpus explode + one (source, bucket) integer
    groupBy — the only corpus-sized work. Everything after runs on the
    FIXED-size distribution grid (|sources| · n_buckets rows): the grid
    densifies missing buckets to 0 via a broadcast cross of the source
    list with ``spark.range(n_buckets)``, per-source totals broadcast
    back, and the pair self-join keys on bucket with ``s_a < s_b`` —
    at 100 TB the grid is still |sources|·n_buckets rows, never
    corpus-sized. Production uses ``hash_family='xxhash64'`` (one
    codegen'd long op per token); ``md5`` is the SQL-portable gate
    family."""
    from tantalus_spark.datapipe.scoring import _bucket

    spark = df.sparkSession
    toks = (spread_small_scan(df)
            .filter(F.col(text_col).isNotNull())
            .select(F.col(group_col).alias("src"),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term")))
    # PERSIST the (source, bucket) count sketch: it is referenced SIX
    # ways downstream (srcs, the grid left join, totals, then each of
    # those twice through the pair self-join) — without the cache
    # Catalyst re-derives every reference from the RAW CORPUS (six
    # explode+aggregate passes in the executed plan; caught by the
    # q132 plan-contract test). The sketch is |sources|·n_buckets rows,
    # never corpus-sized, and is released once the pair frame
    # materializes (the posting-list pattern).
    counts = (toks.select("src",
                          _bucket(F.col("term"), n_buckets, hash_family)
                          .alias("bucket"))
                  .groupBy("src", "bucket")
                  .agg(F.count(F.lit(1)).alias("c"))
                  .persist())
    srcs = counts.select("src").distinct()
    grid = (srcs.crossJoin(
                F.broadcast(spark.range(int(n_buckets))
                            .select(F.col("id").cast("int")
                                    .alias("bucket"))))
                .join(counts, ["src", "bucket"], "left")
                .select("src", "bucket",
                        F.coalesce("c", F.lit(0)).cast("long").alias("c")))
    totals = counts.groupBy("src").agg(F.sum("c").alias("n"))
    dist = grid.join(F.broadcast(totals), "src")
    a, b2 = dist.alias("a"), dist.alias("b")
    p = F.col("a.c").cast("double") / F.col("a.n").cast("double")
    q = F.col("b.c").cast("double") / F.col("b.n").cast("double")
    m = (p + q) / F.lit(2.0)
    contrib = (
        F.when(F.col("a.c") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("b.c") > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    pairs = (
        a.join(b2, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.src") < F.col("b.src")))
         .select(F.col("a.src").alias("source_a"),
                 F.col("b.src").alias("source_b"),
                 F.floor(contrib * F.lit(1e9) + F.lit(0.5)).cast("long")
                 .alias("js_nano"))
         .groupBy("source_a", "source_b")
         .agg(F.sum("js_nano").alias("js_nano_sum"))
    )
    out = pairs.select(
        "source_a", "source_b",
        F.round(F.col("js_nano_sum").cast("double") / F.lit(1e9), 6)
        .alias("js_bits"))
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [counts])


def token_bucket_counts(
    df: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    hash_family: str = "md5",
) -> DataFrame:
    """Hashed-unigram bucket histogram of a corpus slice — the frozen
    REFERENCE distribution for :func:`js_against_baseline` (train it
    once on the accepted corpus, version it, compare every new batch
    against it). One explode + one fixed-size integer groupBy; returns
    (bucket, c) with only populated buckets (consumers densify)."""
    from tantalus_spark.datapipe.scoring import _bucket

    toks = (spread_small_scan(df)
            .filter(F.col(text_col).isNotNull())
            .select(F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term")))
    return (toks.select(_bucket(F.col("term"), n_buckets, hash_family)
                        .alias("bucket"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).cast("long").alias("c")))


def js_against_baseline(
    df: DataFrame,
    baseline: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    group_col: str = "source",
    hash_family: str = "md5",
    baseline_n_buckets: int | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence of each corpus slice's hashed-unigram
    distribution against a FROZEN baseline (:func:`token_bucket_counts`
    of the accepted corpus) — the drift detector of a production
    ingestion pipeline: a source whose js_bits jumps between batches
    changed its content mix and needs a human before it changes the
    training mix. Same exact-integer + nano-quantized contribution
    discipline as :func:`source_js_divergence`, so the full frame
    replays in SQL.

    Scale: one corpus explode into a (group, bucket) integer groupBy;
    the baseline is an ``n_buckets``-row broadcast; everything after
    runs on the fixed |groups|·n_buckets grid. Groups with zero tokens
    are absent (no distribution to compare). Returns
    (group, js_bits, n_tokens).

    Record the build-time n_buckets NEXT TO the frozen baseline and
    pass it as ``baseline_n_buckets`` — a modulus mismatch means p and
    q were hashed onto different grids and every js_bits is garbage.
    A LARGER baseline modulus is caught from the data (out-of-range
    buckets, checked below), but a SMALLER one is undetectable from
    bucket values alone (all buckets look in-range), which is exactly
    why the recorded value must travel with the artifact."""
    if (baseline_n_buckets is not None
            and int(baseline_n_buckets) != int(n_buckets)):
        raise ValueError(
            f"js_against_baseline: baseline was built with "
            f"n_buckets={baseline_n_buckets} but comparing with "
            f"n_buckets={n_buckets} — the two hash moduli must match")
    from tantalus_spark.datapipe.scoring import _bucket

    spark = df.sparkSession
    toks = (spread_small_scan(df)
            .filter(F.col(text_col).isNotNull())
            .select(F.col(group_col).alias("grp"),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term")))
    counts = (toks.select("grp",
                          _bucket(F.col("term"), n_buckets, hash_family)
                          .alias("bucket"))
                  .groupBy("grp", "bucket")
                  .agg(F.count(F.lit(1)).alias("c"))
                  .persist())  # referenced 3x (srcs, grid, totals)
    srcs = counts.select("grp").distinct()
    grid = (srcs.crossJoin(
                F.broadcast(spark.range(int(n_buckets))
                            .select(F.col("id").cast("int")
                                    .alias("bucket"))))
                .join(counts, ["grp", "bucket"], "left")
                .select("grp", "bucket",
                        F.coalesce("c", F.lit(0)).cast("long").alias("c")))
    totals = counts.groupBy("grp").agg(F.sum("c").alias("n"))
    dist = grid.join(F.broadcast(totals), "grp")
    # densified baseline with its total folded in (both bounded).
    # One bounded action derives (total, max bucket): a baseline built
    # with a LARGER n_buckets would silently lose its out-of-range
    # buckets in the dense join while base_n still counted them —
    # every q would under-sum and the divergence would skew low.
    brow = baseline.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        F.max("bucket").alias("mb")).first()
    base_n = int(brow["n"])
    if base_n == 0:
        raise ValueError("js_against_baseline: empty baseline "
                         "distribution (no tokens)")
    if brow["mb"] is not None and int(brow["mb"]) >= int(n_buckets):
        raise ValueError(
            f"js_against_baseline: baseline has bucket {brow['mb']} "
            f">= n_buckets={n_buckets} — it was built with a different "
            f"n_buckets; rebuild or pass the matching value")
    bdense = (spark.range(int(n_buckets))
              .select(F.col("id").cast("int").alias("bucket"))
              .join(baseline, "bucket", "left")
              .select("bucket",
                      F.coalesce("c", F.lit(0)).cast("long").alias("bc")))
    j = dist.join(F.broadcast(bdense), "bucket")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    q = F.col("bc").cast("double") / F.lit(float(base_n))
    m = (p + q) / F.lit(2.0)
    contrib = (
        F.when(F.col("c") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("bc") > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    out = (j.select("grp", "n",
                    F.floor(contrib * F.lit(1e9) + F.lit(0.5))
                    .cast("long").alias("js_nano"))
            .groupBy("grp", "n")
            .agg(F.sum("js_nano").alias("js_nano_sum"))
            .select(F.col("grp").alias(group_col),
                    F.round(F.col("js_nano_sum").cast("double")
                            / F.lit(1e9), 6).alias("js_bits"),
                    F.col("n").cast("long").alias("n_tokens")))
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [counts])


def lang_confusion(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Evaluation of the language-ID heuristic against labeled data:
    the (label, prediction) confusion matrix with counts and the
    per-cell share of the label's documents — the measurement that
    says whether the cheap marker classifier is safe to gate a corpus
    slice, and which labels need a real model (here: 'zh' has no
    marker set, so the matrix shows exactly where the heuristic is
    blind instead of silently misrouting).

    One corpus map pass (:func:`lang_pred_expr` is pure codegen string
    ops) + one tiny (label, pred) integer groupBy — the matrix is
    |langs|² rows at any corpus size. share = n/label_total from exact
    integers, full oracle."""
    base = (spread_small_scan(df)
            .filter(F.col(text_col).isNotNull()
                    & F.col(label_col).isNotNull())
            .select(F.col(label_col).alias("label"),
                    lang_pred_expr(F.col(text_col)).alias("pred")))
    cells = base.groupBy("label", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    totals = cells.groupBy("label").agg(
        F.sum("n_docs").alias("_tot"))
    return (cells.join(F.broadcast(totals), "label")
                 .select("label", "pred", "n_docs",
                         F.round(F.col("n_docs").cast("double")
                                 / F.col("_tot").cast("double"), 4)
                         .alias("share")))


def merge_canonical_map(
    cmap: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental maintenance for the dedup canonical map (the
    :func:`merge_term_index` analog for the dedup-serving lifecycle):
    fold a batch of NEW documents into an existing
    :func:`normalized_dup_groups` frame WITHOUT rescanning the old
    corpus. A new doc whose NFC digest already has a canonical joins
    that group (count grows, canonical UNCHANGED — canonical STABILITY
    is the production property: downstream references keep resolving,
    unlike a full rebuild where a later smaller id would steal the
    canonical); unseen digests open new groups with the batch's own
    minimum id. O(batch) work: one batch digest pass + a digest-keyed
    join against the map.

    Bit-identical to a full rebuild whenever ids arrive in ascending
    order (the common append-only ingest) — differential test in
    tests/test_textstats.py; the stability divergence for
    out-of-order ids is deliberate and documented."""
    delta = normalized_dup_groups(new_docs, text_col=text_col,
                                  id_col=id_col)
    joined = delta.alias("d").join(
        cmap.alias("m"),
        F.col("d.norm_digest") == F.col("m.norm_digest"), "full_outer")
    return joined.select(
        F.coalesce(F.col("d.norm_digest"), F.col("m.norm_digest"))
         .alias("norm_digest"),
        (F.coalesce(F.col("d.n_docs"), F.lit(0))
         + F.coalesce(F.col("m.n_docs"), F.lit(0))).cast("long")
        .alias("n_docs"),
        F.coalesce(F.col("m.canonical_id"), F.col("d.canonical_id"))
         .alias("canonical_id"),
        F.coalesce(F.col("m.n_chars_norm"), F.col("d.n_chars_norm"))
         .alias("n_chars_norm"))
