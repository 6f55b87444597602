"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB story):

- **exact**: hash-groupBy on ``md5(text)`` — one shuffle on the digest, never
  on the raw text; digests are 32 bytes regardless of document size.
- **ngram-jaccard**: shingle → explode → self-join on shingle → per-pair
  intersection counts. The join key is the shingle hash, so skew comes only
  from genuinely hot shingles; at scale you cap posting-list length
  (``max_shingle_freq``) exactly like a search engine drops stopword
  postings — that bound is exposed as a parameter here.
- **minhash-lsh**: the scale path. Per-doc signature of ``n_perm`` min-hashes
  (xxhash64 with per-permutation seeds — JVM-side, no UDF), banded into
  ``bands``; candidate pairs only join within a band bucket, so the shuffle
  volume is O(docs × bands), independent of pair count.
- **simhash**: 64-bit signatures entirely JVM-side (explode → built-in
  md5 token hash → 64 integer bit-sums per doc, whole-stage codegen),
  then candidate pairs by pigeonhole chunk equality + exact popcount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tantalus_spark.datapipe.textstats import tokens
from tantalus_spark.operators.spread import spread_small_scan

# Portable ("md5") hash family: H(s) = int(md5(s)[:15 hex], 16) — 60 bits,
# bit-reproducible in any engine with md5 (DuckDB: ('0x'||substr(md5(s),1,15))
# ::BIGINT). MinHash permutations are universal hashes (a*H+b) mod M over it.
# The production default stays xxhash64 (JVM-native, faster); the md5 family
# exists so the *gated* inventory entries have full SQL oracles. Bucket/band
# hashing is deliberately NOT parameterized: it is pure equality partitioning
# (the bucket value never escapes the plan), so any injective-enough hash
# gives the identical candidate set and xxhash64 is always safe there.
_MD5_MOD = 1_000_000_007
_MD5_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
_MD5_B = [1 << i for i in range(16)]


def _md5_long(col):
    """60-bit long from the first 15 hex chars of md5 — the portable
    cross-engine hash primitive (same construction as q60/q53/q61)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _minhash_perm_sql(var: str, i: int, hash_family: str) -> str:
    """Permutation-i hash of an (already long-hashed) shingle, as SQL text
    over the expression text ``var``: the md5 family is the universal hash
    ``(a_i*H + b_i) mod M``, xxhash64 is seeded by ``i``. Every signature
    and band builder renders its expression tree as ONE parsed string
    instead of ~30 py4j round trips per permutation (object-by-object
    Column construction is pure driver latency, ~0.4 s per minhash_bands
    call, paid on EVERY band-store commit). All literals are ints (exact
    in SQL text) and parens pin the precedence."""
    if hash_family == "md5":
        if i >= len(_MD5_A):
            raise ValueError(
                f"hash_family='md5' supports at most {len(_MD5_A)} "
                f"permutations (got permutation index {i}); extend "
                f"_MD5_A/_MD5_B or use hash_family='xxhash64'")
        a, b = _MD5_A[i], _MD5_B[i]
        return (f"pmod((pmod({var}, {_MD5_MOD}) * {a}) + {b}, "
                f"{_MD5_MOD})")
    return f"xxhash64({var}, {i})"


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Group identical documents by content digest; keep the min id as the
    canonical representative."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_parts(df: DataFrame, n: int, text_col: str, id_col: str,
                   hashed: bool, hash_family: str):
    """(tokenized df, shingle-array EXPRESSION) — callers must consume the
    expression in their own select. Kept as an expression (never an
    intermediate column) because ``explode`` of a bare attribute makes
    Catalyst infer a size()>0 filter and push it to the scan with the
    whole expression inlined, where per-element element_at re-evaluates
    the token transform — quadratic per doc (the q53 lesson)."""
    # Materialize the token array as a column BEFORE the higher-order
    # transform: a lambda that embeds the tokens() expression would
    # re-tokenize the full text once per shingle index (higher-order
    # functions are interpreted per-element, no subexpression elimination)
    # — O(tokens^2) regex work per document.
    #
    # min_bytes is LOWER than spread_small_scan's default: shingling
    # (interpreted transform + concat_ws + hash per n-gram) costs ~10x
    # the per-row CPU of the profile/cleaning projections the 2 MB
    # default was calibrated on, so the spread shuffle pays for itself
    # on much smaller single-row-group inputs (measured at sf0.1's
    # 580 KB one-group documents fixture: 3.98 s -> 1.93 s for q44).
    df = spread_small_scan(df, min_bytes=192 * 1024)
    toked = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks"))
    toks = F.col("_toks")
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) instead of being
    # empty — docs shorter than n tokens must yield no shingles
    idx = F.when(
        F.size(toks) >= n,
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    # per-doc dedup happens ARRAY-side (array_distinct) before any explode:
    # the old explode → dropDuplicates shape paid a full shuffle of the
    # posting list just to dedup within documents — a per-row operation.
    arr = F.array_distinct(gram)
    if hashed:
        hash_fn = _md5_long if hash_family == "md5" else F.xxhash64
        arr = F.transform(arr, lambda g: hash_fn(g))
    return toked, arr


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id", hashed: bool = False,
             hash_family: str = "xxhash64") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    ``hashed=True`` emits hashed longs instead of strings — 8-byte
    join/shuffle keys instead of arbitrary-width text. At 100 TB the
    shuffle width difference dominates; the 2^-64 collision rate is
    negligible for near-dup detection. ``hash_family`` picks xxhash64
    (default, JVM-native) or "md5" (60-bit md5-derived, bit-reproducible
    in external SQL engines — the oracle-friendly variant).
    """
    toked, arr = _shingle_parts(df, n, text_col, id_col, hashed, hash_family)
    return toked.select(F.col(id_col), F.explode(arr).alias("shingle"))


def minhash_bands(df: DataFrame, n_perm: int = 16, bands: int = 4,
                  shingle_n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id",
                  hash_family: str = "xxhash64") -> DataFrame:
    """(id, bands array<long>): banded MinHash as a PURE ROW-LOCAL
    expression — bit-identical to the band hashes
    :func:`minhash_lsh_pairs` derives via explode + groupBy-min, but with
    no aggregation at all, so it runs on an unbounded stream (the
    incremental-LSH ingest path) and on batch alike. min over the
    distinct-shingle ARRAY equals min over the exploded rows; docs with
    zero shingles are dropped (batch produces no signature row for them).
    """
    rows = n_perm // bands
    toked, arr = _shingle_parts(df, shingle_n, text_col, id_col,
                                hashed=True, hash_family=hash_family)
    # drop shingle-less docs HERE, on the token count: a filter on the
    # shingle array column would be pushed below the projection with the
    # whole per-element expression inlined (quadratic — the q53 lesson);
    # size(_toks) inlines to one linear split per row and is equivalent
    # (a doc has shingles iff it has >= n tokens)
    toked = toked.filter(F.size("_toks") >= shingle_n)
    with_arr = toked.select(F.col(id_col), arr.alias("_sh"))
    # The n_perm × (array_min ∘ transform ∘ perm-hash) signature tree and
    # the band reassembly are rendered as ONE parsed SQL string instead of
    # nested Column objects: object construction cost ~0.4 s of pure py4j
    # driver latency per call (measured warmed, r14), paid on every
    # band-store commit — the same construction-latency class r13 fixed
    # for ivf_assign/simhash_signatures. The parsed tree is identical
    # (integer literals, pinned parens); A/B'd bit-identical both hash
    # families on the full sf0.1 corpus.
    def sig_sql(i: int) -> str:
        return ("array_min(transform(_sh, s -> "
                f"{_minhash_perm_sql('s', i, hash_family)}))")

    band_sqls = [
        f"xxhash64({b}, "
        + ", ".join(sig_sql(b * rows + r) for r in range(rows)) + ")"
        for b in range(bands)
    ]
    bands_sql = "array(" + ", ".join(band_sqls) + ")"
    return with_arr.select(F.col(id_col), F.expr(bands_sql).alias("bands"))


def _shingle_pair_counts(df: DataFrame, n: int, text_col: str, id_col: str,
                         max_shingle_freq: int | None):
    """Shared posting-list self-join for the pairwise-overlap family:
    returns (persisted posting list, (d1, d2, inter, n1, n2) frame).
    Callers must release the posting list via _materialize_and_release."""
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col, hashed=True)
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle").count()
            .filter(F.col("count") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    # broadcast the per-doc shingle counts onto each posting row so the
    # pair-aggregation already carries |A| and |B| — no post-agg re-joins
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh = sh.join(F.broadcast(counts), id_col)
    # materialize the posting list once: both sides of the self-join (and
    # nothing else) read it — without this the shingle parse+explode runs
    # twice. Same move as writing the posting list to disk at cluster scale.
    sh = sh.persist()
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n_sh")).alias("n1"),
            F.first(F.col("b.n_sh")).alias("n2"),
        )
    )
    return sh, inter


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Returns (d1, d2, jaccard) with d1 < d2 and jaccard >= threshold.
    ``max_shingle_freq`` drops ultra-common shingles before the self-join —
    the knob that keeps the posting-list join bounded at scale.
    """
    sh, inter = _shingle_pair_counts(df, n, text_col, id_col,
                                     max_shingle_freq)
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    out = (
        inter.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("d1", "d2", "jaccard")
    )
    return _materialize_and_release(out, [sh])


def _materialize_and_release(result: DataFrame, intermediates: list[DataFrame]) -> DataFrame:
    """Persist + force the (small) result, then unpersist the (big)
    intermediate caches so repeated calls in a long-lived session don't
    accumulate storage until eviction. The returned frame stays cached —
    O(result) not O(corpus); callers may ``unpersist()`` it when done."""
    result = result.persist()
    try:
        result.count()
    finally:
        for df in intermediates:
            df.unpersist()
    return result


def minhash_signatures(df: DataFrame, n_perm: int = 16, shingle_n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       hash_family: str = "xxhash64") -> DataFrame:
    """Per-doc MinHash signature: array of n_perm min(perm_hash(shingle)).

    The default permutation family is xxhash64(shingle, seed) — a JVM
    built-in, so the whole signature is computed in one shuffle-free agg
    after the shingle explode (partial aggregation map-side).
    ``hash_family="md5"`` swaps in universal hashes (a_i*H+b_i) mod M over
    the 60-bit md5-derived shingle hash — same math, bit-reproducible in
    external SQL engines (the oracle-gated variant).
    """
    sh = shingles(df, n=shingle_n, text_col=text_col, id_col=id_col,
                  hashed=True, hash_family=hash_family)
    # SQL-text aggregate list (see _minhash_perm_sql): identical parsed
    # tree, ~0.3 s less py4j construction latency per call
    aggs = [
        F.expr(f"min({_minhash_perm_sql('shingle', i, hash_family)})")
        .alias(f"h{i}")
        for i in range(n_perm)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(n_perm)]).alias("signature"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, verified with the
    exact Jaccard of the candidate pair's shingle sets.

    The band join shuffles O(docs × bands) rows — the 100 TB-safe path,
    versus the all-pairs shingle join in :func:`ngram_jaccard_pairs`.
    Returns (d1, d2, jaccard) like the exact variant for easy comparison.

    ``hash_family="md5"`` makes the signature hashes SQL-portable (see
    :func:`minhash_signatures`); band *bucketing* stays xxhash64 in both
    families — bucket values are equality-partitioning internals that never
    reach the output, so the candidate set is identical either way.
    """
    rows = n_perm // bands
    # one posting list feeds signature building AND candidate verification —
    # persist so the shingle parse+explode+dedup shuffle happens once, not
    # four times (sig, s1, s2, counts all reuse it)
    sh = shingles(df, n=shingle_n, text_col=text_col, id_col=id_col,
                  hashed=True, hash_family=hash_family).persist()
    # SQL-text aggregate list (see _minhash_perm_sql): identical parsed
    # tree, ~0.3 s less py4j construction latency per call
    aggs = [
        F.expr(f"min({_minhash_perm_sql('shingle', i, hash_family)})")
        .alias(f"h{i}")
        for i in range(n_perm)
    ]
    sig = sh.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(n_perm)]).alias("signature"),
    )
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.element_at("signature", b * rows + r + 1)
                        for r in range(rows)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    bucket = banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    ).dropDuplicates()
    a, b = bucket.alias("a"), bucket.alias("b")
    cand = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .dropDuplicates()
    )
    # verify candidates with true shingle Jaccard. The candidate set is
    # orders of magnitude smaller than the posting list — broadcast it into
    # both probes so the big side never shuffles on doc id.
    cand = cand.persist()
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = sh.select(F.col(id_col).alias("d1"), "shingle")
    s2 = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        s1.join(F.broadcast(cand), "d1")
        .join(s2, ["d2", "shingle"])
        .groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    out = (
        inter
        .join(F.broadcast(counts.select(F.col(id_col).alias("d1"),
                                        F.col("n_sh").alias("n1"))), "d1")
        .join(F.broadcast(counts.select(F.col(id_col).alias("d2"),
                                        F.col("n_sh").alias("n2"))), "d2")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("d1", "d2", "jaccard")
    )
    return _materialize_and_release(out, [sh, cand])


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    (v, component) where component = min node id in v's component.

    This is the clustering step after near-dup pair generation — pairs say
    "A~B", components say "A,B,C,D are one duplicate group; keep min id".

    Driver loop over DataFrames with a convergence check — the standard
    Spark shape for fixpoint algorithms: each iteration is one shuffle-join
    + groupBy min; iterations needed = graph diameter (near-dup clusters
    are shallow). Each iteration's labels are localCheckpoint()ed: without
    lineage truncation the plan doubles every round and the driver OOMs on
    planning alone long before data size matters.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("s").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = (
            sym.join(labels.withColumnRenamed("v", "t"), "t")
            .groupBy(F.col("s").alias("v"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(msgs, "v", "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label")))
                .alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("v"), F.col("label").alias("component"))


def dup_clusters(df: DataFrame, threshold: float = 0.2, n: int = 3,
                 text_col: str = "text", id_col: str = "doc_id",
                 max_shingle_freq: int | None = None) -> DataFrame:
    """Near-duplicate clusters: Jaccard pairs -> connected components ->
    (doc_id, cluster_id) for every doc in some duplicate group, with
    cluster_id = the group's canonical (min) doc id.

    ``max_shingle_freq`` caps the posting-list length in the pair join —
    the knob that keeps this bounded at corpus scale."""
    pairs = ngram_jaccard_pairs(df, n=n, threshold=threshold,
                                text_col=text_col, id_col=id_col,
                                max_shingle_freq=max_shingle_freq)
    cc = connected_components(pairs)
    return cc.select(F.col("v").alias(id_col),
                     F.col("component").alias("cluster_id"))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       hash_hex_chars: int = 16,
                       hash_family: str = "md5") -> DataFrame:
    """64-bit SimHash per document — entirely JVM-side expressions.

    The shape is the oracle's own: explode tokens, hash each with
    Spark's built-in ``md5`` (stable across executors and engines —
    never Python ``hash()``, which is per-process salted), then one
    groupBy(doc) with 64 integer bit-sums ``Σ (2·bit_k − 1)`` and a
    final projection that reassembles the signature from the sum signs.
    The previous implementation was an Arrow pandas_udf whose per-token
    Python loop (hashlib + numpy per occurrence) dominated the whole
    query — 12.3 s at sf0.1 vs ~1 s for this plan, and every stage here
    is whole-stage-codegen with map-side partial aggregation (64 longs
    per doc shuffle, not text).

    ``hash_family="md5"`` (default, the gated family): ``hash_hex_chars``
    is how many leading md5 hex chars feed the token hash — 16 is the
    full first-8-bytes 64-bit hash (rebuilt from two 8-hex halves via
    shiftleft — ``conv`` of 16 chars would overflow signed BIGINT);
    15 gives a 60-bit hash that a single ``conv`` expresses in any SQL
    engine, making the whole signature bit-reproducible in the DuckDB
    oracle (signature bits 60–63 are then always 0 — a 60-bit simhash,
    still exact-recall under the pigeonhole chunking in
    :func:`simhash_near_pairs`). ``hash_family="xxhash64"`` is the
    production default a user runs: one native JVM hash per token, no
    hex round-trip — same operator semantics, different (still
    deterministic) signature values.
    """
    if not 1 <= hash_hex_chars <= 16:
        raise ValueError(f"hash_hex_chars must be in [1, 16], got {hash_hex_chars}")
    nhex = hash_hex_chars

    if hash_family == "xxhash64":
        h = F.xxhash64(F.col("term"))
    else:
        md5 = F.md5(F.col("term"))
        if nhex <= 15:
            h = F.conv(F.substring(md5, 1, nhex), 16, 10).cast("long")
        else:
            hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
            h = F.shiftleft(hi, 32).bitwiseOR(lo)

    # null-text docs drop here: the SQL oracle's UNNEST(tokens) emits no
    # rows for NULL, so they have no signature on either side.
    # tokens(lower(text)) is py_tokens parity: boundary empty tokens
    # (all-whitespace text) survive and hash like any other token.
    # Lower spread floor: per-token hash + 64 bit-sum aggregates are in
    # the shingle family's CPU class, not the cheap-projection class the
    # 2 MB default was calibrated on (see _shingle_parts).
    df = spread_small_scan(df, min_bytes=192 * 1024)
    toks = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term")))
    # The 64 bit-sum aggregates and the 63-term reassembly chain are
    # built as parsed SQL strings (one F.expr each) instead of nested
    # Column objects: object-by-object construction made ~1.5k py4j
    # round trips of pure driver time per call (the q46 bench tail);
    # the rendered text is the identical expression tree — explicit
    # parens pin the same precedence Python's operator overloads gave
    # (& binds LOOSER than * in SQL) — A/B'd bit-identical.
    sums = (toks.withColumn("_h", h)
            .groupBy(id_col)
            .agg(*[F.expr(f"sum((2 * (shiftrightunsigned(_h, {k}) & 1))"
                          f" - 1)").alias(f"s{k}")
                   for k in range(64)]))
    sig_sql = "CAST(0 AS BIGINT)"
    for k in range(63):
        sig_sql = (f"({sig_sql} + (CASE WHEN s{k} > 0 THEN "
                   f"CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) "
                   f"END))")
    # bit 63 is the sign bit: adding long-min IS the two's-complement fold
    sig_sql = (f"({sig_sql} + (CASE WHEN s63 > 0 THEN "
               f"CAST({-(1 << 63)} AS BIGINT) ELSE CAST(0 AS BIGINT) "
               f"END))")
    return sums.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       hash_hex_chars: int = 16,
                       hash_family: str = "md5") -> DataFrame:
    """ALL pairs whose SimHash hamming distance <= max_hamming (full recall).

    Candidate generation splits the 64-bit signature into ``max_hamming + 1``
    near-equal chunks: by pigeonhole, a pair differing in <= max_hamming bits
    must agree exactly on at least one chunk, so bucketing per-chunk misses
    nothing; the exact popcount check then runs only on candidates.

    Scale note: the chunk width is ``64 // (max_hamming+1)``, and bucket
    collision rate grows as chunks get narrower — max_hamming <= 7 (8-bit
    chunks) keeps buckets selective at corpus scale; larger bounds stay
    exact but candidate volume approaches all-pairs. max_hamming > 31 is
    rejected (chunks below 2 bits bucket on almost nothing).
    """
    if not 0 <= max_hamming <= 31:
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + (1 if c < rem else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]

    def chunk_expr(c: int):
        # a full-width chunk (max_hamming=0) is the signature itself; the
        # (1<<64)-1 mask would overflow LongType
        if widths[c] == 64:
            return F.col("simhash")
        return (F.shiftrightunsigned(F.col("simhash"), offsets[c])
                .bitwiseAND(F.lit((1 << widths[c]) - 1)))

    chunks = [chunk_expr(c).alias(f"c{c}") for c in range(n_chunks)]
    sig = simhash_signatures(df, text_col=text_col, id_col=id_col,
                             hash_hex_chars=hash_hex_chars,
                             hash_family=hash_family)
    banded = sig.select(F.col(id_col), F.col("simhash"), *chunks)
    pieces = banded.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("val"))
            for c in range(n_chunks)
        ])).alias("b"),
    ).select(id_col, "simhash", "b.chunk", "b.val")
    # persist: BOTH join sides read the banded frame, and without the
    # cache the 64-bit-sum signature aggregation runs twice (measured as
    # ~half the query); released once the pair set is materialized (the
    # q45 posting-list pattern). The merge-hint goes on the JOIN SIDES,
    # not the persisted plan: the self-join side is corpus-sized
    # (docs × chunks) and must never broadcast — same mid-size BHJ cliff
    # as fuzzy_pairs — but a hint underneath the persist also lives in
    # the cache-materialization plan, where no join consumes it and
    # HintErrorLogger warns on every call (the r6 bench-tail noise).
    pieces = pieces.persist()
    a = pieces.alias("a").hint("merge")
    b = pieces.alias("b").hint("merge")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"),
            F.col("a.simhash").alias("s1"), F.col("b.simhash").alias("s2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    out = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )
    return _materialize_and_release(out, [pieces])


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: flag training documents sharing any
    token n-gram with an evaluation/benchmark corpus (the standard
    13-gram-overlap rule used to keep test sets out of training data).

    Returns (clean_docs, contaminated) where ``contaminated`` is
    (doc_id, n_hits) for every flagged doc. The benchmark's shingle set is
    bounded by eval-suite size (megabytes), so the HIT detection is a
    broadcast probe of the corpus posting list — one scan, no shuffle. The
    final clean-docs anti-join keys on the contaminated-id set, which is
    bounded by contamination, not benchmark size; it is left unhinted so
    AQE broadcasts it when small and shuffles when a dirty corpus makes it
    large.
    """
    corpus_sh = shingles(docs, n=n, text_col=text_col, id_col=id_col,
                         hashed=True)
    bench_sh = (
        shingles(benchmark.select(F.lit(0).alias("_bid"),
                                  F.col(bench_text_col).alias("_btext")),
                 n=n, text_col="_btext", id_col="_bid", hashed=True)
        .select("shingle").distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # the anti-join side is bounded by CONTAMINATION (could be large on a
    # dirty corpus), so no broadcast hint here — AQE picks the strategy
    clean = docs.join(hits.select(id_col), id_col, "left_anti")
    return clean, hits


def dedup_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_re: str = "\n",
    join_str: str = "\n",
) -> DataFrame:
    """Cross-document repeated-line removal (the CCNet / RefinedWeb
    boilerplate filter): drop every line whose normalized form appears in
    at least ``min_docs`` DISTINCT documents — headers, nav bars,
    cookie banners, "subscribe" footers — and reassemble the survivors
    in original order.

    Returns (id, clean_text, n_lines_kept, n_lines_dropped); documents
    whose every line is boilerplate survive with an empty clean_text
    (dropping them is the caller's policy decision). ``split_re`` /
    ``join_str`` select the unit: the defaults give line-level dedup;
    ``split_re=r"\\n{2,}", join_str="\\n\\n"`` gives PARAGRAPH-level
    boilerplate removal (RefinedWeb runs both), normalizing blank-line
    runs to one separator.

    100 TB shape: lines shuffle as 16-byte digests, never raw text, for
    the frequency count (partial map-side aggregation bounds the volume
    by distinct-line cardinality); the boilerplate set joins back by
    digest with AQE picking broadcast vs shuffle (its size is a corpus
    property, not a parameter); reassembly is ONE groupBy on the doc id.
    Normalization is trim+lowercase, so blank lines count as one global
    "line" and are removed once they recur — deterministic, and the
    DuckDB oracle replays the whole pipeline exactly (gated entry).
    """
    from tantalus_spark.operators.spread import spread_small_scan

    df = spread_small_scan(df)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_re)).alias("pos", "line"),
    ).withColumn("lh", F.md5(F.trim(F.lower(F.col("line")))))
    boiler = (
        lines.groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("lh", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, "lh", "left")
    keep_struct = F.when(
        F.col("is_boiler").isNull(), F.struct("pos", "line"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(keep_struct)),
                    lambda s: s.line,
                ),
                join_str,
            ).alias("clean_text"),
            F.sum(F.when(F.col("is_boiler").isNull(), 1).otherwise(0))
            .cast("int").alias("n_lines_kept"),
            F.sum(F.when(F.col("is_boiler").isNotNull(), 1).otherwise(0))
            .cast("int").alias("n_lines_dropped"),
        )
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Graded benchmark-overlap scoring: for every document, the FRACTION
    of its distinct token n-grams that appear in the benchmark corpus —
    the contamination *score* behind :func:`decontaminate`'s binary
    flag, so pipelines can set a threshold (e.g. drop > 0.05, audit
    > 0.01) instead of anything-overlaps-dies.

    Returns (id, n_shingles, n_hits, round(overlap, 4)) for every
    document with at least one n-gram; docs shorter than *n* tokens
    have no shingles and are absent (vacuously uncontaminated — union
    them back with 0.0 if a row per doc is required). Same scale shape
    as decontaminate: the benchmark
    shingle set broadcasts (eval-suite-sized), the corpus posting list
    never shuffles, one groupBy on the doc id."""
    corpus_sh = shingles(docs, n=n, text_col=text_col, id_col=id_col,
                         hashed=True)
    bench_sh = (
        shingles(benchmark.select(F.lit(0).alias("_bid"),
                                  F.col(bench_text_col).alias("_btext")),
                 n=n, text_col="_btext", id_col="_bid", hashed=True)
        .select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("int"),
            F.col("n_hits").cast("int"),
            F.round(F.col("n_hits") / F.col("n_shingles"), 4)
            .alias("overlap"),
        )
    )


def novel_documents(
    new_df: DataFrame,
    index_df: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    index_layout: str = "auto",
) -> DataFrame:
    """Incremental corpus dedup: which NEW documents are novel versus an
    already-indexed corpus, without re-deduplicating the corpus.

    ``index_df`` is a persisted band table as produced by
    :func:`minhash_bands` over the existing corpus. Each new
    document is banded with the SAME parameters and flagged non-novel
    iff any of its band hashes collides with an index bucket (the
    standard LSH candidate rule; run the survivors through
    :func:`minhash_lsh_pairs` when exact Jaccard verification of the
    collisions is needed).

    Scale shape: the index explodes to (band, hash) postings and the
    join is a shuffle hash join on that key — O(new_docs x bands) probe
    rows against O(corpus x bands) postings, never all-pairs; both
    sides prune to two columns. Documents too short to shingle
    (< ``shingle_n`` tokens) have no signature and are vacuously novel.
    Returns (id, is_novel) for every new document.
    """
    nb = minhash_bands(new_df, n_perm=n_perm, bands=bands,
                       shingle_n=shingle_n, text_col=text_col,
                       id_col=id_col, hash_family=hash_family)
    probe = nb.select(
        F.col(id_col),
        F.posexplode("bands").alias("band", "h"),
    )
    # index_layout: 'bands' = one row per doc with a "bands" array
    # (minhash_bands output / a live band-table view); 'postings' =
    # pre-exploded DISTINCT (band, h) rows — the corpus-scale
    # explode+dedup shuffle is paid once when the postings are
    # written instead of per serve. 'auto' keeps the old
    # sniffing for callers that pass raw frames, but only engages
    # the postings path when the frame is EXACTLY (band, h) — a
    # joined/enriched band table that happens to carry those names
    # must not silently skip the explode and probe the wrong data.
    if index_layout not in ("auto", "bands", "postings"):
        raise ValueError(
            f"novel_documents: index_layout={index_layout!r} "
            f"(expected 'auto', 'bands' or 'postings')")
    if index_layout == "auto":
        index_layout = ("postings"
                        if set(index_df.columns) == {"band", "h"}
                        else "bands")
    if index_layout == "postings":
        missing = {"band", "h"} - set(index_df.columns)
        if missing:
            raise ValueError(
                f"novel_documents: index_layout='postings' but the "
                f"index frame lacks column(s) {sorted(missing)}")
        postings = index_df.select("band", "h")
    else:
        postings = index_df.select(
            F.posexplode("bands").alias("band", "h")
        ).dropDuplicates()
    hits = (
        probe.join(postings, ["band", "h"], "left_semi")
        .select(id_col).distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        new_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_hit").isNull().alias("is_novel"),
        )
    )


def merge_band_index(
    index_df: DataFrame,
    new_docs: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Insert-side maintenance for the persisted LSH band index (the
    :func:`minhash_bands` table :func:`novel_documents` probes) — the
    near-dup family's merge twin (postings / dense-hash / IVFPQ have
    theirs): band ONLY the new batch with the SAME parameters and
    union. Per-doc independence makes the merge bit-identical to
    re-banding the whole corpus (differential test); band parameters
    must match the build (the band hash folds them in, so a mismatch
    makes every probe miss rather than silently corrupt). New ids must
    be disjoint from the indexed ones (the novel_documents pass IS the
    dedup — index the batch's novel survivors). O(batch) work; the
    corpus-scale band table is never read."""
    delta = minhash_bands(new_docs, n_perm=n_perm, bands=bands,
                          shingle_n=shingle_n, text_col=text_col,
                          id_col=id_col, hash_family=hash_family)
    return index_df.unionByName(delta.select(*index_df.columns))


def prune_band_index(
    index_df: DataFrame,
    removed_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Delete-side maintenance for the LSH band index: drop tombstoned
    documents' band rows with ONE broadcast anti-join — a removed
    document stops blocking novelty for its near-twins immediately
    (right-to-be-forgotten semantics for the dedup state). Per-doc
    independence, no stats to downdate; the corpus-scale band table
    never shuffles. Bit-identical to re-banding the survivors
    (differential test)."""
    rem = removed_ids.select(
        F.col(removed_ids.columns[0]).alias(id_col)).distinct()
    return (index_df.join(F.broadcast(rem), id_col, "left_anti")
                    .select(*index_df.columns))


def duplicated_spans(
    docs: DataFrame,
    n: int = 13,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-substring coverage (the ExactSubstr
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", re-expressed corpus-parallel): for every document,
    the fraction of its distinct token n-gram spans that also appear in
    at least ``min_docs - 1`` OTHER documents. High coverage marks
    templated/boilerplate text that doc-level near-dedup (q45/q46)
    misses because the surrounding text differs.

    Where the paper builds one global suffix array, this uses the
    shingle posting list the dedup family already produces: span
    frequency is a groupBy on the 8-byte shingle hash (map-side
    partials), and only spans meeting the duplication bar join back —
    per-key fan-out equals that span's doc count, so a pathological
    mega-span (every doc shares a header) is the only skew source.
    Returns (id, n_spans, n_dup_spans, dup_frac) for every doc with at
    least one span; docs shorter than *n* tokens are absent.
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col, hashed=True)
    dup = (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("shingle")
    )
    return (
        sh.join(dup.withColumn("_dup", F.lit(1)), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_spans"),
        )
        .select(
            F.col(id_col),
            F.col("n_spans").cast("int"),
            F.col("n_dup_spans").cast("int"),
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4)
            .alias("dup_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT:
    C = |A∩B| / min(|A|, |B|) — the copy-detection measure (Broder's
    containment) that catches a short document quoted inside a long one,
    which symmetric Jaccard misses (a 50-token doc fully embedded in a
    5000-token doc has Jaccard ~0.01 but containment 1.0).

    Same posting-list pipeline and ``max_shingle_freq`` scale cap as
    :func:`ngram_jaccard_pairs`; returns (d1, d2, containment) with
    d1 < d2 and containment >= threshold.
    """
    sh, inter = _shingle_pair_counts(df, n, text_col, id_col,
                                     max_shingle_freq)
    cont = F.col("inter") / F.least(F.col("n1"), F.col("n2"))
    out = (
        inter.withColumn("containment", F.round(cont, 4))
        .filter(cont >= threshold)
        .select("d1", "d2", "containment")
    )
    return _materialize_and_release(out, [sh])


def dedup_keep_best(
    df: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """The APPLY step of near-dedup: pick one representative per
    duplicate cluster and mark everything else for removal. The
    representative is the cluster's longest document (token count,
    ties to the smallest id) — an integer-only rule, so the selection
    replays bit-for-bit in any engine (a float quality score would
    hinge argmax on cross-libm ulps).

    Builds on :func:`dup_clusters`; singleton documents are their own
    cluster and always kept. Returns (id, cluster_id, n_tokens, kept)
    for every document. Scale: the cluster map is tiny next to the
    corpus (only docs in some duplicate group), the back-join rides the
    id, and the winner window partitions by cluster — near-dup groups
    are shallow, so no partition outgrows memory.
    """
    clusters = dup_clusters(df, threshold=threshold, n=n,
                            text_col=text_col, id_col=id_col,
                            max_shingle_freq=max_shingle_freq)
    toks = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    joined = toks.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.col(id_col))
    return joined.withColumn(
        "kept", F.row_number().over(w) == F.lit(1)
    ).select(id_col, "cluster_id", "n_tokens", "kept")


def split_leakage(
    df: DataFrame,
    fractions: dict[str, float],
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    splits: DataFrame | None = None,
) -> DataFrame:
    """Train/eval leakage audit: near-duplicate pairs that CROSS a
    split boundary. Exact-dup and near-dup twins landing on
    opposite sides of a train/val split silently inflate eval metrics
    (Lee et al. 2022) — decontamination (q70/q77) checks against an
    external benchmark, this checks the split against itself.

    By default composes :func:`~tantalus_spark.datapipe.sampling.hash_split`
    (measuring the leakage a naive id-hash split incurs) with
    :func:`minhash_lsh_pairs` and keeps only pairs whose endpoints got
    different splits. Pass ``splits`` — any (id, split) assignment,
    e.g. :func:`~tantalus_spark.datapipe.sampling.group_split` output —
    to audit THAT split instead: the measure-then-fix loop is
    split_leakage(hash) > 0 → group_split(cluster_map=...) →
    split_leakage(splits=that) == 0 (test in tests/test_dedup.py).
    Returns (d1, d2, jaccard, split1, split2).
    Scale: the LSH pair generation dominates (banded, O(docs x bands));
    the split map carries two tiny columns and broadcasts into the
    (small) pair set.
    """
    from tantalus_spark.datapipe.sampling import hash_split

    if splits is None:
        splits = hash_split(df.select(id_col), fractions, id_col=id_col)
    else:
        splits = splits.select(F.col(splits.columns[0]).alias(id_col),
                               F.col("split"))
    pairs = minhash_lsh_pairs(
        df, n_perm=n_perm, bands=bands, shingle_n=shingle_n,
        threshold=threshold, text_col=text_col, id_col=id_col,
        hash_family=hash_family)
    s1 = splits.select(F.col(id_col).alias("d1"),
                       F.col("split").alias("split1"))
    s2 = splits.select(F.col(id_col).alias("d2"),
                       F.col("split").alias("split2"))
    return (
        pairs.join(s1, "d1").join(s2, "d2")
        .filter(F.col("split1") != F.col("split2"))
        .select("d1", "d2", "jaccard", "split1", "split2")
    )


def fuzzy_pairs(
    df: DataFrame,
    max_dist: int = 20,
    block_chars: int = 12,
    window: int = 200,
    max_block: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking — the classic
    entity-resolution shape (block -> compare within block): candidate
    pairs share their first ``block_chars`` lowercased characters, and
    survive if the Levenshtein distance of their first ``window`` chars
    is <= ``max_dist``.

    Scale shape: the self-join runs INSIDE blocks only — O(Σ block²)
    comparisons instead of O(n²), the same containment LSH banding gives.
    Blocks larger than ``max_block`` docs (boilerplate prefixes — "terms
    of service", empty strings) are dropped entirely, exactly like the
    posting-list cap in :func:`ngram_jaccard_pairs`: a hot prefix is
    evidence the prefix isn't discriminating, not that everything under
    it matches. Before the expensive DP runs, candidate pairs must also
    pass the LENGTH filter ``|len(a)-len(b)| <= max_dist`` — a strict
    lower bound on edit distance, so it loses nothing and prunes the
    within-block quadratic pair stream ~5-8x (measured) ahead of the
    O(window²) comparison. The window bounds the DP per pair. Levenshtein
    itself is JVM built-in (no UDF) and integer-valued, so the gate
    oracle replays it exactly.
    """
    blocked = df.select(
        F.col(id_col),
        F.lower(F.col(text_col)).alias("_t"),
        F.substring(F.lower(F.col(text_col)), 1, block_chars).alias("_bk"),
    )
    sizes = blocked.groupBy("_bk").agg(F.count(F.lit(1)).alias("_bc"))
    # merge-hint the self-join: the build side would be the WHOLE corpus
    # (id + text), which must never broadcast — and at mid sizes, where
    # the estimate still clears the 64 MiB threshold, Spark picks
    # BroadcastHashJoin and runs the block-pair probe 2-3x slower than
    # the shuffle-partitioned merge join (measured: sf1 6.9 s BHJ vs
    # 2.7 s SMJ with 3x the pairs at sf3, where the estimate tipped it
    # to SMJ on its own). Shuffling both sides on _bk partitions the
    # quadratic work by block — the plan that holds at 100 TB.
    small = blocked.join(
        F.broadcast(sizes.filter(F.col("_bc") <= max_block)),
        "_bk").hint("merge")
    a, b = small.alias("a"), small.alias("b")
    dist = F.levenshtein(
        F.substring(F.col("a._t"), 1, window),
        F.substring(F.col("b._t"), 1, window))
    # windowed lengths, so the bound is exact for the windowed DP: pairs
    # with |min(len,window) diff| > max_dist cannot be within max_dist
    wl = lambda c: F.least(F.length(F.col(c)), F.lit(window))  # noqa: E731
    len_ok = F.abs(wl("a._t") - wl("b._t")) <= F.lit(max_dist)
    # ALL conjuncts live in the join condition, cheap-first: a separate
    # post-join .filter() on the distance gets pushed into the join
    # PREPENDED to the other conjuncts, and Spark evaluates conjuncts
    # left-to-right — the DP would then run on every raw block pair
    # (both orders + self-pairs) before the id/length checks prune
    # anything (measured 10x at sf1). Order here is preserved by
    # Catalyst, so the DP only ever sees ordered, length-compatible
    # pairs; the projection recomputes it for survivors only.
    # the join-side test uses the THRESHOLD form of levenshtein (banded
    # DP, O(window*max_dist) cells instead of O(window²); returns -1
    # when the distance exceeds the cap) — exact for every surviving
    # pair, so the full-DP projection below matches it and the SQL
    # oracle needs no threshold support
    dist_capped = F.levenshtein(
        F.substring(F.col("a._t"), 1, window),
        F.substring(F.col("b._t"), 1, window),
        int(max_dist))
    cond = ((F.col("a._bk") == F.col("b._bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & len_ok
            & (dist_capped >= 0))
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        dist.alias("edit_dist"),
    )


def source_overlap_matrix(
    df: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source pair,
    how many near-duplicate document pairs (banded MinHash-LSH, exact-
    Jaccard-verified) span them — the provenance question a curation
    lead asks before mixing sources ("is source X just a scrape of Y?").

    One row per (src_a, src_b) with src_a <= src_b: pair count and the
    min/max verified Jaccard (order-free aggregates only — no float
    sums, so the matrix replays exactly).

    Scale shape: everything expensive is :func:`minhash_lsh_pairs`
    (O(docs×bands) shuffle); this adds two narrow id→source joins on
    the BOUNDED near-dup pair set and one small groupBy. The id→source
    map is a projection of the corpus — at 100 TB it sort-merge joins
    on id, or broadcasts if the pair set is small enough (left
    unhinted for AQE).
    """
    pairs = minhash_lsh_pairs(
        df, n_perm=n_perm, bands=bands, shingle_n=shingle_n,
        threshold=threshold, text_col=text_col, id_col=id_col,
        hash_family=hash_family)
    src = df.select(F.col(id_col), F.col(source_col))
    j = (pairs
         .join(src.select(F.col(id_col).alias("d1"),
                          F.col(source_col).alias("_s1")), "d1")
         .join(src.select(F.col(id_col).alias("d2"),
                          F.col(source_col).alias("_s2")), "d2"))
    sa = F.least("_s1", "_s2")
    sb = F.greatest("_s1", "_s2")
    return (
        j.groupBy(sa.alias("src_a"), sb.alias("src_b"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def minhash_calibration(
    df: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Estimator-quality audit for the MinHash-LSH stack: over every LSH
    candidate pair, compare the SIGNATURE-estimated Jaccard (fraction of
    agreeing minhash slots) against the EXACT shingle Jaccard, bucketed
    by estimation error — the table a curation lead reads before picking
    (n_perm, bands, threshold) for a 100 TB dedup run, where re-running
    with wrong parameters costs a full corpus pass.

    All outputs are exact integers (milli-scaled estimates, counts):
    ``err_bucket = floor((est_milli - exact_milli)/100)`` groups pairs
    into 0.1-wide error bands; per band the report carries pair count,
    integer sums of both estimates, and the error extremes. No float
    aggregate anywhere — hash-stable in any engine.

    Scale: identical machinery to :func:`minhash_lsh_pairs` (the O(docs×
    bands) band shuffle + broadcast-candidate verification) plus two
    broadcast-candidate probes into the signature frame; the final
    report is O(error buckets) rows."""
    rows = n_perm // bands
    sh = shingles(df, n=shingle_n, text_col=text_col, id_col=id_col,
                  hashed=True, hash_family=hash_family).persist()
    aggs = [
        F.expr(f"min({_minhash_perm_sql('shingle', i, hash_family)})")
        .alias(f"h{i}")
        for i in range(n_perm)
    ]
    sig = sh.groupBy(id_col).agg(*aggs).persist()
    band_cols = [
        F.xxhash64(F.lit(b), *[F.col(f"h{b * rows + r}") for r in range(rows)])
        for b in range(bands)
    ]
    bucket = sig.select(
        F.col(id_col),
        F.explode(F.array(*band_cols)).alias("bucket"),
    ).dropDuplicates()
    a, b = bucket.alias("a"), bucket.alias("b")
    cand = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("d1"),
                F.col(f"b.{id_col}").alias("d2"))
        .dropDuplicates()
        .persist()
    )
    # signature agreement: candidate-broadcast probes, slot-wise equality
    s1 = sig.select(F.col(id_col).alias("d1"),
                    *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_perm)])
    s2 = sig.select(F.col(id_col).alias("d2"),
                    *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_perm)])
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                for i in range(n_perm))
    est = (F.broadcast(cand).join(s1, "d1").join(s2, "d2")
           .select("d1", "d2", agree.alias("agree")))
    # exact shingle Jaccard for the same pairs (the q45 verify step)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    p1 = sh.select(F.col(id_col).alias("d1"), "shingle")
    p2 = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        p1.join(F.broadcast(cand), "d1")
        .join(p2, ["d2", "shingle"])
        .groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("inter"))
    )
    # LEFT join: a candidate pair with ZERO shared shingles (a pure LSH
    # false positive — the most informative calibration row) has no
    # `inter` row; keep it with inter=0
    pair = (
        est.join(inter, ["d1", "d2"], "left")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
        .join(F.broadcast(counts.select(F.col(id_col).alias("d1"),
                                        F.col("n_sh").alias("n1"))), "d1")
        .join(F.broadcast(counts.select(F.col(id_col).alias("d2"),
                                        F.col("n_sh").alias("n2"))), "d2")
        .select(
            F.floor(F.col("agree") * F.lit(1000.0) / F.lit(float(n_perm))
                    + F.lit(0.5)).cast("long").alias("est_milli"),
            F.floor(F.col("inter") * F.lit(1000.0)
                    / (F.col("n1") + F.col("n2") - F.col("inter"))
                    + F.lit(0.5)).cast("long").alias("exact_milli"),
        )
        .withColumn("err", F.col("est_milli") - F.col("exact_milli"))
    )
    out = (
        pair.groupBy(F.floor(F.col("err").cast("double") / F.lit(100.0))
                     .cast("int").alias("err_bucket"))
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum("est_milli").alias("sum_est_milli"),
             F.sum("exact_milli").alias("sum_exact_milli"),
             F.min("err").alias("min_err_milli"),
             F.max("err").alias("max_err_milli"))
    )
    return _materialize_and_release(out, [sh, sig, cand])


def lsh_plan(n_perm: int, threshold: float,
             min_rows: int = 1) -> dict:
    """Banded-LSH parameter planner: choose (bands, rows) for a MinHash
    signature of ``n_perm`` permutations so the S-curve's critical
    similarity ``(1/b)^(1/r)`` sits closest to the target Jaccard
    ``threshold`` — the standard tuning rule (Leskovec/Rajaraman/Ullman,
    "Mining of Massive Datasets" §3.4.3: candidate probability at
    similarity s is ``1 - (1 - s^r)^b``).

    Pure driver-side arithmetic over the divisors of ``n_perm`` — no
    data touched. Returns the chosen plan plus its predicted
    candidate-recall at the threshold and at ±0.1 around it, so a
    pipeline can assert its dial BEFORE paying for a corpus pass, and
    :func:`minhash_calibration` (q122) can then VERIFY the prediction
    empirically on a sample. Keys: bands, rows, critical_similarity,
    p_at_threshold, p_below (t-0.1), p_above (t+0.1)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    cands = [(b, n_perm // b) for b in range(1, n_perm + 1)
             if n_perm % b == 0 and n_perm // b >= min_rows]
    if not cands:
        raise ValueError(f"no (bands, rows) split of {n_perm} with "
                         f"rows >= {min_rows}")

    def crit(b, r):
        return (1.0 / b) ** (1.0 / r)

    def p_cand(s, b, r):
        return 1.0 - (1.0 - s ** r) ** b

    b, r = min(cands, key=lambda br: abs(crit(*br) - threshold))
    return {
        "bands": b,
        "rows": r,
        "critical_similarity": round(crit(b, r), 4),
        "p_at_threshold": round(p_cand(threshold, b, r), 4),
        "p_below": round(p_cand(max(threshold - 0.1, 0.0), b, r), 4),
        "p_above": round(p_cand(min(threshold + 0.1, 1.0), b, r), 4),
    }


def dedup_funnel(
    df: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    max_shingle_freq: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Staged dedup funnel with per-document attribution: run the three
    standard passes in escalating cost order — exact digest, Unicode-
    canonical (NFC) digest, n-gram-Jaccard near-dup — each over the
    previous stage's survivors, and report for every document WHICH
    stage removed it (``stage`` ∈ 'exact' | 'nfc' | 'near' | 'kept').
    This is the audit every production dedup pipeline needs before the
    destructive apply: how much each pass pays for, and whether the
    expensive near-dup stage is still earning its quadratic candidate
    step after the cheap digest passes (Lee et al. 2022 report exactly
    this staging for C4/MassiveText-scale corpora).

    Stage rules are integer/digest-deterministic so the whole funnel
    replays in SQL: exact and NFC stages keep each group's minimum id;
    the near stage applies the greedy first-wins rule — a document is
    removed iff it pairs (jaccard >= threshold) with ANY smaller
    surviving id — the order-free approximation of cluster-keep-one
    (the cluster-exact variant is :func:`dedup_keep_best`).

    Scale: stage 1/2 shuffle 16-byte digests; stage 3 is the capped
    posting-list join over an already-thinned corpus — the funnel
    ordering exists precisely so the quadratic stage sees the fewest
    documents. Null-text documents are excluded (no stage applies).
    """
    from tantalus_spark.datapipe.textstats import normalize_nfc

    base = df.filter(F.col(text_col).isNotNull()) \
             .select(F.col(id_col), F.col(text_col))
    # ONE text pass computes BOTH digests (exact md5 + the Arrow NFC
    # digest): a digest is a function of the text alone, so stage 2's
    # restriction to stage-1 survivors only changes the GROUPING
    # population, never the digest — fusing the two scans is exact.
    # The narrow (id, dg, nd) frame is PERSISTED: it feeds stage 1,
    # stage 2 (survivors), and the attribution join; O(rows × two
    # 16-byte digests), never the text. Released on return, as are the
    # per-stage boolean flag frames (each read twice: the next stage's
    # survivor filter + the attribution join).
    digests = (normalize_nfc(
                   base, text_col=text_col, id_col=id_col,
                   extra_exprs={"_dg": F.md5(F.col(text_col))})
               .select(F.col(id_col),
                       F.col("norm_digest").alias("_nd"), "_dg")
               .persist())
    canon1 = digests.groupBy("_dg").agg(F.min(id_col).alias("_c1"))
    s1f = (digests.join(canon1, "_dg")
                  .select(F.col(id_col),
                          (F.col(id_col) != F.col("_c1")).alias("_rm1"))
                  .persist())
    # stage 2: NFC-canonical digest over stage-1 survivors
    nn = digests.join(s1f.filter(~F.col("_rm1")).select(id_col), id_col)
    canon2 = nn.groupBy("_nd").agg(F.min(id_col).alias("_c2"))
    s2f = (nn.join(canon2, "_nd")
             .select(F.col(id_col),
                     (F.col(id_col) != F.col("_c2")).alias("_rm2"))
             .persist())
    surv2 = base.join(s2f.filter(~F.col("_rm2")).select(id_col), id_col)
    # stage 3: near-dup pairs over stage-2 survivors; greedy first-wins
    pairs = ngram_jaccard_pairs(surv2, n=n, threshold=threshold,
                                text_col=text_col, id_col=id_col,
                                max_shingle_freq=max_shingle_freq)
    near_rm = pairs.select(F.col("d2").alias(id_col)).distinct()
    out = (
        base.select(id_col)
            .join(s1f, id_col)
            .join(s2f, id_col, "left")
            .join(near_rm.withColumn("_rm3", F.lit(True)), id_col, "left")
            .select(
                F.col(id_col),
                F.when(F.col("_rm1"), F.lit("exact"))
                 .when(F.coalesce(F.col("_rm2"), F.lit(False)),
                       F.lit("nfc"))
                 .when(F.coalesce(F.col("_rm3"), F.lit(False)),
                       F.lit("near"))
                 .otherwise(F.lit("kept")).alias("stage"))
    )
    return _materialize_and_release(out, [pairs, s1f, s2f, digests])
