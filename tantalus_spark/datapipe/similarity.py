"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k: one broadcast of the query
  vector, one map stage, one top-k reduction. The always-correct baseline.
- :func:`ivf_topk` — IVF-style approximate top-k: k-means-lite centroid
  assignment (here: provided cluster labels or hashed buckets), probe only
  ``nprobe`` nearest buckets. At 100 TB this turns a full scan into a scan
  of nprobe/nlist of the data; the bucket assignment is a one-off batch job.

All vector math uses built-in higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, no Python in the scan.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_dbl(v: float) -> str:
    """Render a finite double as a Spark SQL literal that parses back to
    the EXACT same IEEE value F.lit(float(v)) would carry: Python repr
    is the shortest round-trip decimal and Spark's parser (Java
    Double.parseDouble) is correctly rounded, so the two agree bit for
    bit. Raises on non-finite values — callers fall back to the
    Column-object builder there."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"non-finite literal: {v!r}")
    return repr(f) + "D"


def _cos_sims_literal_sql(vec_col: str, centroids) -> "Column | None":
    """The ivf_assign similarity array — COALESCE(NANVL(cos(v, c), -2),
    -2) per centroid — built as ONE SQL string handed to F.expr instead
    of ~4k nested py4j Column calls (8 centroids x 64 dims built
    object-by-object cost 4.7 s of pure driver time PER CALL; the
    parsed string is 0.17 s, A/B'd bit-identical on the full
    embeddings table via exceptAll both ways). The rendered text is the
    exact same expression tree — same casts, same left-to-right
    aggregate folds, same NANVL/COALESCE pinning — so plan semantics
    and float results are unchanged; only the construction path
    differs. Returns None when a centroid value is non-finite (the
    caller keeps the Column-object form for that rare case)."""
    try:
        norm_a = (f"SQRT(aggregate(transform(`{vec_col}`, x -> "
                  f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, "
                  f"(acc, x) -> acc + x))")
        sims = []
        for c in centroids:
            arr = "array(" + ", ".join(_sql_dbl(v) for v in c) + ")"
            dot = (f"aggregate(zip_with(`{vec_col}`, {arr}, (x, y) -> "
                   f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
                   f"(acc, x) -> acc + x)")
            norm_b = (f"SQRT(aggregate(transform({arr}, x -> "
                      f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, "
                      f"(acc, x) -> acc + x))")
            sims.append(f"COALESCE(NANVL({dot} / ({norm_a} * {norm_b}), "
                        f"-2.0D), -2.0D)")
        return F.expr("array(" + ", ".join(sims) + ")")
    except ValueError:
        return None


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _first_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimension from the first non-null row (the
    train_pq_codebooks precedent); 1 on an empty frame so downstream
    expressions stay well-formed (no rows ever evaluate them)."""
    row = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    return len(row[0]) if row is not None else 1


def _eval_coeff_literals(spark, coeff, plane_seeds, dim: int) -> dict:
    """Evaluate the per-(plane, dim) hyperplane coefficients ONCE on a
    1-row frame — the exact same Spark expressions the per-row plan used
    to recompute per element, so the values are engine-identical — and
    return {seed: [c_1..c_dim]} for literal folding."""
    seeds = list(plane_seeds)
    # dim ROWS x planes small columns — NOT one giant planes*dim literal
    # expression, whose one-off Janino compile alone costs ~7 s per
    # session. The dim index is cast to INT to match the original
    # sequence(1, size(v)) element type (xxhash64 is type-sensitive).
    idx = F.col("id").cast("int")
    rows = (spark.range(1, dim + 1)
            .select(F.col("id"),
                    *[coeff(idx, s).alias(f"p{si}")
                      for si, s in enumerate(seeds)])
            .orderBy("id")
            .collect())
    return {s: [float(r[f"p{si}"]) for r in rows]
            for si, s in enumerate(seeds)}


def _dot_literal(vec: Column, coeffs: list[float]) -> Column:
    """Codegen'd dot of a vector column with a literal coefficient list:
    a LEFT-TO-RIGHT multiply-add chain, bit-identical to the
    F.aggregate fold (and the oracles' list_reduce) it replaces —
    float addition order is part of the contract because a dot within
    1 ulp of 0 decides an LSH bucket sign."""
    acc = F.lit(0.0)
    for i, c in enumerate(coeffs, start=1):
        acc = acc + F.element_at(vec, i).cast("double") * F.lit(float(c))
    return acc


def _dim_guard(vec: Column, dim: int, where: str) -> Column:
    """Loud per-row dimension assert for the literal-folded dot paths
    (the affinity_expr rule): ``_dot_literal`` fixes the dimension from
    the first non-null row, so under the session's ANSI default a
    SHORTER vector would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    mid-query with no context, and a LONGER one would be silently
    truncated to the first row's dim — a mixed-dimension corpus must
    fail loudly, not change LSH bucket membership. NULL on success, so
    callers fold it in with ``F.coalesce(guard.cast(...), value)``."""
    return F.assert_true(
        F.size(vec) == F.lit(dim),
        F.concat(F.lit(f"{where}: vector dimension != hyperplane "
                       f"dimension {dim}; got "),
                 F.size(vec).cast("string")))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity against one query vector.

    The query is a literal array folded into the plan (broadcast by value);
    ranking is deterministic (similarity desc, id asc).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 4).alias("cosine"),
        cosine_similarity(F.col(vec_col), q).alias("_exact"),
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(exclude_ids))
    return (
        scored.orderBy(F.col("_exact").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cosine")
    )


def brute_force_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs kNN join (left probe set × right corpus) — use only when the
    probe set is small enough to broadcast; otherwise go through ivf_topk."""
    from pyspark.sql import Window as W

    l = left.select(F.col(left_id).alias("probe_id"),
                    F.col(vec_col).alias("probe_vec"))
    r = right.select(F.col(right_id).alias("cand_id"),
                     F.col(vec_col).alias("cand_vec"))
    pairs = F.broadcast(l).crossJoin(r).select(
        "probe_id", "cand_id",
        cosine_similarity(F.col("probe_vec"), F.col("cand_vec")).alias("_sim"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("_sim").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", F.round("_sim", 4).alias("cosine"), "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_hyperplanes: int = 0,
    n_blocks: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold.

    ``n_hyperplanes=0`` is the exact all-pairs path (self-join) — quadratic,
    for modest corpora or as the verifier. With ``n_hyperplanes>0`` the
    self-join is restricted to random-hyperplane LSH buckets (sign of the
    dot product with seeded deterministic hyperplanes): candidates must
    agree on all signs, shrinking the join ~2^n_hyperplanes-fold at some
    recall cost — the 100 TB path.

    The exact path is a **block matmul**: rows are hashed into ``n_blocks``
    buckets, each row is replicated to every block-pair it participates in
    (O(n × n_blocks) rows — NOT O(n²) pairs), and each block-pair group
    computes one BLAS gemm inside ``cogroup.applyInPandas``. Arrow transfer
    and shuffle scale linearly with the corpus; only the *flops* are
    quadratic, and they run at matrix-multiply speed. At 100 TB the same
    plan holds with n_blocks sized so a block fits executor memory — or the
    LSH path prunes first.
    """
    import numpy as np

    @F.pandas_udf("double")
    def _cos_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(np.where(den > 0, num / den, 0.0))

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_hyperplanes > 0:
        # deterministic pseudo-random hyperplanes: sign of sum_i v[i]*h(seed,i).
        # hash_family="md5" derives the per-dimension coefficient from
        # md5("seed_dim") — bit-reproducible in external SQL engines, so the
        # LSH bucket membership itself has a full oracle (the xxhash64
        # default is the faster JVM path). The *bucket id* below stays
        # xxhash64 in both families: it is pure equality partitioning on the
        # sign vector and never reaches the output.
        #
        # Oracle exactness (r4, closes the r3 ADVICE caveat): the
        # COEFFICIENTS replay bit-for-bit AND the q69 oracle folds the
        # dot in list order (DuckDB list_reduce over the ordered element
        # list), matching this left-to-right addition chain addition-
        # for-addition — so even a dot within 1 ulp of 0 gets the same
        # sign in both engines and bucket membership is deterministic.
        #
        # The coefficients depend only on (plane seed, dim index): they
        # are evaluated ONCE on a 1-row frame (engine-exact — the same
        # md5/xxhash64 expressions, just not per data row) and folded
        # into the plan as literals, and the dot is a codegen'd
        # element_at multiply-add chain. The previous per-row zip_with
        # recomputed md5 per ELEMENT per row INTERPRETED (higher-order
        # functions never enter whole-stage codegen): 124 s at sf1 for
        # the q69 gate vs ~2 s for this form.
        def coeff(i, s):
            if hash_family == "md5":
                h = F.conv(
                    F.substring(
                        F.md5(F.concat_ws("_", F.lit(str(s)), i.cast("string"))),
                        1, 15),
                    16, 10,
                ).cast("long")
            else:
                h = F.xxhash64(i, F.lit(s))
            return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0

        dim = _first_dim(df, vec_col)
        coeffs = _eval_coeff_literals(
            df.sparkSession, coeff, range(n_hyperplanes), dim)

        def dot_with_plane(s):
            return _dot_literal(F.col("v"), coeffs[s])

        sig = F.array(*[
            (dot_with_plane(s) > 0).cast("int") for s in range(n_hyperplanes)
        ])
        base = base.withColumn("bucket", F.coalesce(
            _dim_guard(F.col("v"), dim,
                       "embedding_near_dup_pairs").cast("long"),
            F.xxhash64(sig.cast("string"))))
        join_cond = (F.col("a.bucket") == F.col("b.bucket")) & (
            F.col("a.id") < F.col("b.id"))
        base = base.persist()
        a, b = base.alias("a"), base.alias("b")
        out = (
            a.join(b, join_cond)
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                _cos_batch(F.col("a.v"), F.col("b.v")).alias("_cos"),
            )
            .filter(F.col("_cos") >= threshold)
            .select("id_a", "id_b", F.round("_cos", 4).alias("cosine"))
        )
        from tantalus_spark.datapipe.dedup import _materialize_and_release
        return _materialize_and_release(out, [base])
    return _block_matmul_pairs(base, threshold, n_blocks)


def _block_matmul_pairs(base: DataFrame, threshold: float,
                        n_blocks: int) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-pair gemm.

    Row with block i is sent to groups (i, j) for j >= i as side A and to
    groups (i', i) for i' <= i as side B; each (i, j) group multiplies its
    A-block against its B-block. Replication is n_blocks× per side — linear,
    tunable — while the quadratic work happens inside BLAS.
    """
    import numpy as np

    nb = n_blocks
    blk = F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int")
    e = base.withColumn("_blk", blk)
    # one tagged union instead of a cogroup: rows of block i fan out as
    # side 0 to groups (i, j>=i) and as side 1 to groups (i'<=i, i)
    side_a = e.select(
        "id", "v",
        F.col("_blk").alias("gi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(nb - 1))).alias("gj"),
        F.lit(0).alias("side"),
    )
    side_b = e.select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("gi"),
        F.col("_blk").alias("gj"),
        F.lit(1).alias("side"),
    )

    thr = float(threshold)

    def gemm(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")})
        left_pdf = pdf[pdf["side"] == 0]
        right_pdf = pdf[pdf["side"] == 1]
        if left_pdf.empty or right_pdf.empty:
            return empty
        A = np.stack(left_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(right_pdf["v"].to_numpy()).astype(np.float64)
        An = np.linalg.norm(A, axis=1)
        Bn = np.linalg.norm(B, axis=1)
        An[An == 0] = 1.0
        Bn[Bn == 0] = 1.0
        # dot first, ONE division after — mirrors dot(a,b)/(|a||b|) so the
        # rounding path matches scalar cosine implementations
        S = (A @ B.T) / np.outer(An, Bn)
        ia = left_pdf["id"].to_numpy()
        ib = right_pdf["id"].to_numpy()
        gi, gj = key
        if gi == gj:
            # diagonal block: both sides hold the same rows, each unordered
            # pair appears twice — keep the ordered half
            ra, rb = np.where((S >= thr) & (ia[:, None] < ib[None, :]))
            id_a, id_b = ia[ra], ib[rb]
        else:
            # off-diagonal: blocks are disjoint, every pair appears exactly
            # once — keep all, canonicalize to (min, max)
            ra, rb = np.where(S >= thr)
            id_a = np.minimum(ia[ra], ib[rb])
            id_b = np.maximum(ia[ra], ib[rb])
        return pd.DataFrame({
            "id_a": id_a, "id_b": id_b,
            "cosine": np.round(S[ra, rb], 4),
        })

    return (
        side_a.unionByName(side_b)
        .groupBy("gi", "gj")
        .applyInPandas(gemm, schema="id_a long, id_b long, cosine double")
    )


def train_ivf_centroids(
    df: DataFrame,
    n_lists: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Train IVF centroids with MLlib KMeans (seeded, k-means|| init) —
    the one-off batch job that builds the index; assignment and probing
    stay in `ivf_assign`/`ivf_topk`. At 100 TB train on a sample
    (`df.sample(...)`) — centroid quality converges long before full-data
    passes pay off."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(
        F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine for centroid/probe ranking — ONE copy of the
    convention (zero-norm -> 0.0) shared by every IVF probe selector
    (ivf_topk, ivf_pq_topk, ivf_pq_topk_batch, _ivf_probe_setup); the
    r9 review found four drifting copies. Executor-side assignment uses
    ivf_assign's nanvl(-2.0) convention instead — a zero-norm VECTOR
    deterministically takes list 0 there; here a zero-norm CENTROID
    ranks neutrally at 0.0 (the SQL oracles mirror this with
    CASE WHEN isnan THEN 0.0 in their probe-ranking CTEs)."""
    import math

    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na and nb else 0.0


def _adc_dot_rows(codebooks, queries):
    """Broadcastable (query_id, j, c, dot) ADC table rows — the
    driver-side query-x-codebook dot products shared by pq_topk_batch
    and ivf_pq_topk_batch (exact integers when vectors are
    integerized)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    return [
        (int(qid), j, c,
         float(sum(qv[j * sub + i] * codebooks[j][c][i]
                   for i in range(sub))))
        for qid, qv in queries
        for j in range(m)
        for c in range(len(codebooks[j]))
    ]


def _per_query_adc_topk(scored: DataFrame, k: int,
                        id_col: str) -> DataFrame:
    """Shared (query_id, id, adc_dot) tail of the batch ADC servers:
    per-query rank window over the summed dots, (score desc, id asc)
    total order, round to 4."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("_adc").desc(),
                                          F.col(id_col).asc())
    return (scored.withColumn("_rk", F.row_number().over(w))
                  .filter(F.col("_rk") <= int(k))
                  .select("query_id", id_col,
                          F.round("_adc", 4).alias("adc_dot")))


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF list). Centroids are a
    plan literal — at realistic nlist (≤ 65k) this stays broadcast-sized.

    The argmax is array-based (similarity array → array_max →
    array_position), NOT an iterative ``when(sim > best, …)`` fold: in
    that form every reference to the running best DUPLICATES the whole
    comparison subtree, so the plan evaluates O(2^nlist) interpreted
    zip_with cosines per row — measured as one task pinning a core for
    20+ minutes on 60k vectors at nlist=8 before this rewrite. The array
    form evaluates each cosine once per reference (2 references), and
    ties keep the first index exactly like the strict-``>`` fold did.
    """
    # nanvl/coalesce: a zero vector yields NaN cosines (IEEE 0/0), and
    # array_position's equality would never match NaN — pin degenerate
    # rows to -2 (below any real cosine) so they deterministically take
    # list 0, as the old strict-> fold did. Built as one parsed SQL
    # string (_cos_sims_literal_sql): object-by-object construction of
    # nlist x dim literal trees cost ~4.7 s of py4j round trips per
    # call — pure DRIVER time paid on every maintainer commit — and
    # the parsed form is the identical tree (bit-identical A/B).
    sims = _cos_sims_literal_sql(vec_col, centroids)
    if sims is None:  # non-finite centroid value: rare, keep old path
        sims = F.array(*[
            F.coalesce(
                F.nanvl(
                    cosine_similarity(F.col(vec_col),
                                      F.array(*[F.lit(float(v))
                                                for v in c])),
                    F.lit(-2.0)),
                F.lit(-2.0))
            for c in centroids
        ])
    idx = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    return df.select(F.col(id_col), F.col(vec_col), idx.alias("ivf_list"))


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score centroids driver-side, scan only the nprobe
    best IVF lists. Partition-prune-friendly when the table is written
    partitioned by ``ivf_list``."""
    ranked = sorted(range(len(centroids)),
                    key=lambda i: -_cos_py(centroids[i], query_vec))
    probe = ranked[:nprobe]
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = (
        assigned.filter(F.col("ivf_list").isin(probe))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), q).alias("_sim"),
        )
    )
    return (
        scored.orderBy(F.col("_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("_sim", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Product quantization — the memory-side scale lever for ANN
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jegou et al., TPAMI'11): the
    vector splits into ``m`` subspaces, each clustered independently with
    MLlib KMeans into ``k`` centroids. Returns ``codebooks[j][c]``.

    PQ is the 100 TB memory lever IVF alone lacks: a d-dim float vector
    (4d bytes) compresses to m code bytes (m=8, k<=256 -> 8 bytes per
    vector, ~32x for d=64), so a billion-vector index fits executor
    memory and the ADC scan reads codes, not vectors. Compose with IVF
    (partition by list, PQ-scan inside probed lists) for both levers.
    Train on a sample at scale — codebook quality converges long before
    full passes pay off.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = len(df.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m

    def fit(j: int) -> list[list[float]]:
        feats = df.select(array_to_vector(
            F.slice(F.col(vec_col).cast("array<double>"),
                    j * sub + 1, sub)).alias("features"))
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(feats)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # the m subspace fits are independent MLlib jobs whose cost is
    # mostly fixed scheduler overhead at training-sample sizes — submit
    # them concurrently (Spark's scheduler interleaves jobs; results
    # keep subspace order)
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(fit, range(m)))


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_code array<int>): nearest-centroid code per subspace via an
    Arrow-vectorized pandas_udf — one einsum per subspace per batch, no
    per-row Python. The output is the compact index representation; the
    original vector column is dropped on purpose (that is the point)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    d = m * sub

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        lens = vecs.map(len)
        if (lens != d).any():
            bad = sorted(set(lens[lens != d].tolist()))[:5]
            raise ValueError(
                f"pq_encode: embedding length(s) {bad} != codebook dim "
                f"{d} (m={m} x sub={sub}) — ragged or truncated vectors "
                f"in this batch")
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * sub:(j + 1) * sub]          # (n, sub)
            B = books[j]                             # (k, sub)
            # ||s - b||^2 = ||s||^2 - 2 s.b + ||b||^2 ; ||s||^2 constant
            # per row for the argmin
            d2 = -2.0 * S @ B.T + (B * B).sum(axis=1)[None, :]
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    # null vectors are dropped before the Arrow transfer (mirrors
    # simhash_signatures' null text handling); WRONG-LENGTH vectors raise
    # a clear ValueError inside the batch instead of an opaque np.stack
    # task failure — a ragged embedding column is corruption worth a loud
    # stop, a null is ordinary missing data
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), encode(F.col(vec_col)).alias("pq_code"))
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): the
    query's dot product with each centroid of each subspace is a tiny
    driver-side table (m x k doubles) shipped as a plan literal; each
    code row then scores as sum_j table[j][code[j]] — two cheap
    higher-order passes over an m-element array, no vector column read
    at all. Ranking matches cosine when the indexed vectors were
    L2-normalized before encoding (the standard PQ-for-cosine setup).
    Ties break on id for cluster-deterministic output."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    table = [
        [sum(query_vec[j * sub + i] * c[i] for i in range(sub))
         for c in codebooks[j]]
        for j in range(m)
    ]
    t_lit = F.array(*[
        F.array(*[F.lit(float(v)) for v in row]) for row in table
    ])
    contrib = F.zip_with(
        F.col("pq_code"), t_lit,
        lambda c, row: F.element_at(row, c + F.lit(1)),
    )
    score = F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)
    return (
        encoded.select(F.col(id_col), score.alias("_adc"))
        .orderBy(F.col("_adc").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("_adc", 4).alias("adc_dot"))
    )


def ivf_pq_topk(
    assigned_codes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN layout (FAISS
    IVFPQ): coarse quantizer prunes to ``nprobe`` lists (partition
    pruning when the table is written partitioned by ``ivf_list``), then
    the ADC scan scores 8-byte codes inside the probed lists only. Input
    is ``ivf_assign(...)`` joined with ``pq_encode(...)``: one narrow
    (id, ivf_list, pq_code) table, no float vectors anywhere in the
    serving path."""
    ranked = sorted(range(len(centroids)),
                    key=lambda i: -_cos_py(centroids[i], query_vec))
    probe = ranked[:nprobe]
    return pq_topk(
        assigned_codes.filter(F.col("ivf_list").isin(probe)),
        codebooks, query_vec, k=k, id_col=id_col)


def _probe_lists_df(queries: DataFrame, centroids: list[list[float]],
                    nprobe: int, vec_col: str) -> DataFrame:
    """(query_id, ivf_list) probe map as ONE expression over the
    centroid literals — the DataFrame-input twin of the driver-side
    ``sorted(..., key=-_cos_py)`` ranking, bit-identical by
    construction: the cosine is the same left-to-right
    zip_with/aggregate fold :func:`_cos_py` runs in Python (identical
    IEEE op sequence, products/division commute bitwise), a zero-norm
    side pins to 0.0 via nanvl (the `_cos_py` convention), and
    sort_array's struct order (cos desc, -cid desc) reproduces Python
    ``sorted``'s stable cid-ascending tie-break."""
    structs = [
        F.struct(
            F.nanvl(cosine_similarity(
                F.col(vec_col),
                F.array(*[F.lit(float(v)) for v in c])), F.lit(0.0))
            .alias("s"),
            F.lit(-i).alias("nc"))
        for i, c in enumerate(centroids)
    ]
    ranked = F.sort_array(F.array(*structs), asc=False)
    lists = F.transform(F.slice(ranked, 1, int(nprobe)),
                        lambda st: (-st["nc"]).cast("int"))
    return queries.select("query_id",
                          F.explode(lists).alias("ivf_list"))


def _ivf_pq_topk_batch_df(
    assigned_codes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """DataFrame-input leg of :func:`ivf_pq_topk_batch` — the offline
    100k-query eval shape: queries never materialize on the driver.
    Probe ranking is :func:`_probe_lists_df`'s expression over the
    centroid literals; the ADC dot is computed INLINE after the query
    join (no per-query ADC literal table — at large |queries| that
    table is itself corpus-sized), folding the m subspace terms
    LEFT-TO-RIGHT exactly like scalar
    :func:`ivf_pq_topk`/:func:`pq_topk`, so this leg is bit-identical
    to the scalar server even on raw-float corpora (the list-input
    leg's order-free SUM matches only under the integerized-vector
    convention — see the caller's docstring). Only the distinct probed
    lists (≤ nlist ints) and the duplicate-id guard ever reach the
    driver — collected together in ONE job. The (query_id, ivf_list)
    probe map is broadcast (≤ |queries|·nprobe ints); the VECTOR
    table joins without a hint, so Catalyst/AQE broadcasts it when it
    fits and falls back to a shuffle join when a 100k×high-dim eval
    batch would OOM the driver as a forced broadcast."""
    qdf = queries.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col(vec_col).alias("_qv"))
    probes = _probe_lists_df(qdf, centroids, nprobe, "_qv")
    # ONE driver job for both driver-side facts: the distinct probed
    # lists (≤ nlist ints — the code scan's STATIC IN filter, partition
    # pruning on the partitionBy("ivf_list") layouts, batch or
    # streamed) and the duplicate-query-id guard, tag-unioned so the
    # micro-batch serving path pays one scheduling round trip
    meta = (probes.select(F.col("ivf_list").cast("long").alias("x"),
                          F.lit("list").alias("what")).distinct()
            .unionByName(
                qdf.groupBy("query_id")
                   .agg(F.count(F.lit(1)).alias("n"))
                   .filter(F.col("n") > 1).limit(1)
                   .select(F.lit(-1).cast("long").alias("x"),
                           F.lit("dup").alias("what"))))
    rows = meta.collect()
    if any(r["what"] == "dup" for r in rows):
        raise ValueError("ivf_pq_topk_batch: duplicate query ids")
    all_lists = sorted(int(r["x"]) for r in rows
                       if r["what"] == "list")
    pruned = (assigned_codes.filter(F.col("ivf_list").isin(all_lists))
              if all_lists else assigned_codes.filter(F.lit(False)))
    sub = len(codebooks[0][0])
    # literal nested array: constant-folded to ONE ArrayData, not a
    # per-element expression tree (no Janino blowup)
    cb_lit = F.array(*[
        F.array(*[F.array(*[F.lit(float(x)) for x in cent])
                  for cent in book])
        for book in codebooks])
    contrib = F.transform(
        F.col("pq_code"),
        lambda c, j: F.aggregate(
            F.zip_with(
                F.slice(F.col("_qv"), j * F.lit(sub) + F.lit(1),
                        F.lit(sub)),
                F.element_at(F.element_at(cb_lit, j + F.lit(1)),
                             c + F.lit(1)),
                lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, x: a + x))
    score = F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)
    # probes: int pairs, always broadcastable. qdf carries the query
    # VECTORS — no hint: AQE broadcasts a small eval batch and shuffle-
    # joins a 100k×high-dim one instead of OOMing the driver.
    scored = (pruned.join(F.broadcast(probes), "ivf_list")
                    .join(qdf, "query_id")
                    .select("query_id", F.col(id_col),
                            score.alias("_adc")))
    return _per_query_adc_topk(scored, k, id_col)


def ivf_pq_topk_batch(
    assigned_codes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: "list[tuple[int, list[float]]] | DataFrame",
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched IVFPQ serving: score a SET of queries against the
    (id, ivf_list, pq_code) table in ONE distributed job — the ANN twin
    of :func:`~tantalus_spark.datapipe.textstats.hybrid_serve_topk_batch`
    (:func:`ivf_pq_topk` plans one job per query; a serving tier
    batches). Per query, the coarse quantizer ranks driver-side and the
    ``nprobe`` probed lists become rows of a broadcast
    (query_id, ivf_list) table; the code scan is pruned ONCE to the
    union of all probed lists (partition pruning on the
    ``partitionBy("ivf_list")`` warehouse layout), each code row fans
    only to the queries that probed its list, the ADC dot table is the
    broadcast (query_id, j, c, dot) literal set, and one
    (query_id, id) sum + per-query rank window yields every query's
    top-k. No float vector is read anywhere.

    Per query BIT-IDENTICAL to :func:`ivf_pq_topk` on the same
    artifacts (differential test): same probe ranking (cosine desc,
    cid asc), same ADC table, same (score desc, id asc) total order.
    Exactness caveat shared with :func:`pq_topk_batch`: the scalar
    path folds the m ADC terms left-to-right while the batch SUM is
    order-free, so the guarantee is bit-exact when the indexed vectors
    are integerized (the q74/q138 convention — every ADC term is then
    an integer-valued double and addition is exact); raw-float corpora
    agree up to last-ulp summation order. Duplicate query ids are
    rejected loudly (output is keyed by query_id). Returns
    (query_id, id, adc_dot).

    ``queries`` may also be a DataFrame with (query_id, ``vec_col``)
    columns — the offline-eval shape where a 100k-query batch must not
    materialize on the driver: probe ranking becomes an expression
    over the centroid literals and ADC dots are computed inline after
    the query join, which carries no broadcast hint so AQE can
    shuffle-join an eval batch too big to broadcast
    (:func:`_ivf_pq_topk_batch_df`; per-query bit-parity with this
    list path is differential-tested on integerized vectors)."""
    if isinstance(queries, DataFrame):
        return _ivf_pq_topk_batch_df(assigned_codes, centroids,
                                     codebooks, queries, k, nprobe,
                                     id_col, vec_col)
    if len({qid for qid, _ in queries}) != len(queries):
        raise ValueError("ivf_pq_topk_batch: duplicate query ids")

    spark = assigned_codes.sparkSession
    probe_rows = [
        (int(qid), int(p))
        for qid, qv in queries
        for p in sorted(range(len(centroids)),
                        key=lambda i, q=qv: -_cos_py(centroids[i], q)
                        )[:nprobe]
    ]
    probes = spark.createDataFrame(probe_rows,
                                   "query_id long, ivf_list int")
    adc = spark.createDataFrame(
        _adc_dot_rows(codebooks, queries),
        "query_id long, j int, c int, dot double")
    all_lists = sorted({p for _, p in probe_rows})
    codes = (assigned_codes.filter(F.col("ivf_list").isin(all_lists))
             .select(F.col(id_col), F.col("ivf_list"),
                     F.posexplode("pq_code").alias("j", "c")))
    scored = (codes.join(F.broadcast(probes), "ivf_list")
                   .join(F.broadcast(adc), ["query_id", "j", "c"])
                   .groupBy("query_id", id_col)
                   .agg(F.sum("dot").alias("_adc")))
    return _per_query_adc_topk(scored, k, id_col)


def merge_ann_index(
    codes: DataFrame,
    new_vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Insert-side maintenance for the IVFPQ ANN warehouse layout — the
    third index family's :func:`~tantalus_spark.datapipe.textstats.
    merge_term_index` twin (BM25 postings and the dense-hash legs got
    theirs in r8): fold a batch of NEW vectors into an existing
    (id, ivf_list, pq_code) code table by running :func:`ivf_assign` +
    :func:`pq_encode` over the DELTA ONLY with the FROZEN coarse
    quantizer and codebooks, then one union. Per-vector independence
    makes the merge bit-identical to a rebuild over the union with the
    same frozen artifacts (differential test); new ids must be disjoint
    from the indexed ones (caller dedups, the standard contract).

    Scale: O(batch) assign+encode (centroids/codebooks are plan
    literals / broadcast Arrow state); the corpus-scale code table is
    never read or shuffled. On the ``partitionBy("ivf_list")`` warehouse
    layout (q138's plan-contract-tested shape) the delta appends only
    to the lists it lands in. FROZEN means frozen: quantizer drift under
    inserts is exactly what :func:`ivf_index_health`'s imbalance/recall
    report detects — retraining is a rebuild decision, not a merge."""
    delta = (ivf_assign(new_vectors, centroids, id_col=id_col,
                        vec_col=vec_col)
             .select(F.col(id_col), F.col("ivf_list"))
             .join(pq_encode(new_vectors, codebooks, id_col=id_col,
                             vec_col=vec_col), id_col))
    return codes.unionByName(delta.select(*codes.columns))


def prune_ann_index(
    codes: DataFrame,
    removed_ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Delete-side maintenance for the IVFPQ code table — the
    :func:`~tantalus_spark.datapipe.textstats.prune_hashed_index` twin:
    drop tombstoned vectors with ONE broadcast anti-join (per-vector
    independence, no stats to downdate; the imbalance/recall health
    report reads the surviving population directly). The corpus-scale
    code table never shuffles; on the partitioned layout only the
    affected lists' files rewrite (dynamic partition overwrite).
    Bit-identical to a rebuild over the survivors with the same frozen
    artifacts (differential test)."""
    rem = removed_ids.select(
        F.col(removed_ids.columns[0]).alias(id_col)).distinct()
    return (codes.join(F.broadcast(rem), id_col, "left_anti")
                 .select(*codes.columns))


def l2_normalize(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, unit-norm vector). The norm is materialized in its OWN
    projection before the per-element divide: embedding the aggregate
    inside the transform lambda would re-evaluate the full O(d) dot
    product once per element (O(d^2) per row — higher-order lambdas are
    interpreted with no subexpression elimination; same trap as the
    winnowing inferred filter). Zero vectors pass through unchanged; null
    vectors are dropped (same policy as pq_encode/simhash)."""
    df = df.filter(F.col(vec_col).isNotNull())
    with_norm = df.select(
        F.col(id_col), F.col(vec_col),
        F.sqrt(F.aggregate(
            F.zip_with(vec_col, vec_col, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)).alias("_norm"),
    )
    return with_norm.select(
        F.col(id_col),
        F.when(F.col("_norm") > 0, F.transform(
            vec_col, lambda x: x / F.col("_norm")))
        .otherwise(F.col(vec_col).cast("array<double>")).alias(vec_col),
    )


def knn_graph(
    df: DataFrame,
    k: int = 5,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH over the whole corpus (every vector
    queries every other): the building block for embedding-space dedup
    clusters, diversity sampling, and graph-based ANN indexes (HNSW-style
    construction starts from exactly this).

    Same block-pair gemm layout as :func:`embedding_near_dup_pairs`
    (rows replicate n_blocks x — linear — while the quadratic flops run
    in BLAS inside one ``applyInPandas``), but each block-pair emits only
    its PARTIAL top-k per query row, so the shuffle after the gemm
    carries O(n x k x n_blocks) candidate rows, never O(n^2) scores. A
    final window keeps the global k by (cosine desc, neighbor id asc) —
    a total order, so results are deterministic. At 10^9 vectors the
    knob is n_blocks (one block-pair's two slabs must fit an executor);
    the LSH/IVF paths remain the sub-quadratic alternatives when
    exactness isn't required.

    Returns (id, nb_id, cosine rounded 4dp, rank 1..k). Zero-norm
    vectors score 0 against everything (same guard as the near-dup
    gemm). Rounding happens JVM-side AFTER ranking, so ranks follow the
    unrounded scores.
    """
    import numpy as np

    nb = n_blocks
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    blk = F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int")
    e = base.withColumn("_blk", blk)
    side_a = e.select(
        "id", "v",
        F.col("_blk").alias("gi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(nb - 1))).alias("gj"),
        F.lit(0).alias("side"),
    )
    side_b = e.select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("gi"),
        F.col("_blk").alias("gj"),
        F.lit(1).alias("side"),
    )
    kk = int(k)

    def partial_topk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"qid": pd.Series(dtype="int64"),
             "nb_id": pd.Series(dtype="int64"),
             "c": pd.Series(dtype="float64")})
        left_pdf = pdf[pdf["side"] == 0]
        right_pdf = pdf[pdf["side"] == 1]
        if left_pdf.empty or right_pdf.empty:
            return empty
        A = np.stack(left_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(right_pdf["v"].to_numpy()).astype(np.float64)
        An = np.linalg.norm(A, axis=1)
        Bn = np.linalg.norm(B, axis=1)
        An[An == 0] = 1.0
        Bn[Bn == 0] = 1.0
        S = (A @ B.T) / np.outer(An, Bn)
        ia = left_pdf["id"].to_numpy()
        ib = right_pdf["id"].to_numpy()
        gi, gj = key
        outs = []

        def emit(qids, nbids, scores):
            # per-group partial top-k must use the SAME total order as the
            # global window (score desc, nb id asc): anything it discards
            # is dominated by k kept rows from the same group, so the
            # global merge over all groups' partials is exact. Columns are
            # nb_id-ascending first, so a STABLE argsort on -score breaks
            # ties by neighbor id — all vectorized, no per-row loop.
            order = np.argsort(nbids, kind="stable")
            nbs = nbids[order]
            Ss = scores[:, order]
            top = np.argsort(-Ss, axis=1, kind="stable")[:, :kk]
            nq, nk = top.shape
            rows = np.repeat(np.arange(nq), nk)
            outs.append(pd.DataFrame(
                {"qid": np.repeat(qids, nk),
                 "nb_id": nbs[top.ravel()],
                 "c": Ss[rows, top.ravel()]}))

        if gi == gj:
            # diagonal: both sides hold the same rows; mask self-pairs and
            # emit once (A-perspective covers every row)
            S = S.copy()
            S[ia[:, None] == ib[None, :]] = -np.inf
            emit(ia, ib, S)
        else:
            emit(ia, ib, S)            # A rows query B block
            emit(ib, ia, S.T.copy())   # B rows query A block
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    cands = (
        side_a.unionByName(side_b)
        .groupBy("gi", "gj")
        .applyInPandas(partial_topk, schema="qid long, nb_id long, c double")
        # masked diagonal self-scores (-inf) can only reach a partial
        # top-k when a block has < k real neighbors; drop them here
        .filter(F.col("c") >= F.lit(-1.0001))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nb_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select(
            F.col("qid").alias(id_col),
            "nb_id",
            F.round("c", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def semantic_dup_clusters(
    df: DataFrame,
    threshold: float = 0.9,
    k: int = 5,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str | None = None,
    n_tables: int = 4,
    n_hyperplanes: int = 8,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    documents whose EMBEDDINGS are near-identical — catches paraphrases
    and re-crawls that n-gram dedup misses. Returns (id, cluster_id) for
    every vector in some duplicate group, cluster_id = the group's min
    id (keep-one policy: keep the canonical id, drop the rest).

    Edges are the :func:`knn_graph` rows at ``cosine >= threshold``;
    min-label propagation (:func:`~tantalus_spark.datapipe.dedup.
    connected_components`) merges them into groups. The k-bound is the
    scale lever AND a semantic choice: a duplicate group chains together
    as long as each member is within the threshold of at least one
    top-k neighbor — at SemDeDup-grade thresholds (~0.9) true duplicate
    groups are small and dense, so tiny k suffices while the candidate
    volume stays O(n x k).

    ``method`` is REQUIRED — the caller must state which cost regime
    it wants (the same explicit-choice pattern as ``vacuum_index``'s
    ``keep_versions`` and ``novel_documents``' ``index_layout``):
    ``method="exact"`` builds edges from the exact graph — O(n²) BLAS
    flops inside the block-GEMM (shuffle stays O(n·k·blocks) rows, but
    the FLOP bill is quadratic) — the gated verifier for bounded
    populations; ``method="lsh"`` swaps in :func:`knn_graph_lsh` — the
    sub-quadratic corpus-scale path, losing only edges LSH retrieval
    misses (recall-tested; at dup-grade thresholds collisions are near
    certain since near-identical vectors agree on almost every
    hyperplane sign). A silent default here would hand a corpus-scale
    caller the quadratic verifier leg.
    """
    from tantalus_spark.datapipe.dedup import connected_components

    if method is None:
        raise ValueError(
            "semantic_dup_clusters: method is required — pass "
            "method='exact' (the O(n^2)-FLOP verifier, for bounded "
            "populations) or method='lsh' (the sub-quadratic "
            "corpus-scale path)")
    if method == "lsh":
        graph = knn_graph_lsh(df, k=k, n_tables=n_tables,
                              n_hyperplanes=n_hyperplanes,
                              id_col=id_col, vec_col=vec_col)
    elif method == "exact":
        graph = knn_graph(df, k=k, n_blocks=n_blocks,
                          id_col=id_col, vec_col=vec_col)
    else:
        raise ValueError(f"unknown method {method!r}: use 'exact' or 'lsh'")
    edges = (
        graph
        .filter(F.col("cosine") >= float(threshold))
        .select(F.col(id_col).alias("d1"), F.col("nb_id").alias("d2"))
    )
    cc = connected_components(edges)
    return cc.select(F.col("v").alias(id_col),
                     F.col("component").alias("cluster_id"))


def knn_graph_lsh(
    df: DataFrame,
    k: int = 5,
    n_hyperplanes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate kNN graph — the sub-quadratic scale path to
    :func:`knn_graph`'s exact verifier (the q51/q69 division of labor,
    applied to graph construction).

    Multi-table random-hyperplane LSH: each vector lands in one bucket
    per table (``n_tables`` independent seeded hyperplane sets);
    candidate pairs are vectors sharing a bucket in ANY table, scored
    exactly and ranked per query under the same total order as the
    exact graph. Shuffle volume is O(n x tables) bucket rows plus the
    candidate pairs; nothing quadratic is materialized. Recall rises
    with ``n_tables`` (union of independent buckets) and selectivity
    with ``n_hyperplanes`` (~2^-n per-table collision rate) — the same
    two dials every production LSH index exposes. Vectors ride along
    the bucket join once; only id pairs are deduplicated.

    Returns (id, nb_id, cosine, rank<=k) among retrieved candidates —
    a vector with no collisions in any table is absent (its emission
    would require the quadratic scan this path exists to avoid).
    """
    import numpy as np

    @F.pandas_udf("double")
    def _cos_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(np.where(den > 0, num / den, 0.0))

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def coeff(i, s):
        h = F.xxhash64(i, F.lit(s))
        return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0

    # literal-folded coefficients + codegen'd multiply-add dots (see
    # embedding_near_dup_pairs — the per-row zip_with form is interpreted
    # and was the whole cost of the LSH stage)
    dim = _first_dim(df, vec_col)
    coeffs = _eval_coeff_literals(
        df.sparkSession, coeff, range(n_tables * n_hyperplanes), dim)

    def dot_with_plane(s):
        return _dot_literal(F.col("v"), coeffs[s])

    tables = []
    for t in range(n_tables):
        sig = F.array(*[
            (dot_with_plane(t * n_hyperplanes + s) > 0).cast("int")
            for s in range(n_hyperplanes)
        ])
        tables.append(F.xxhash64(F.lit(t), sig.cast("string")))
    # one guard covers all tables: every table expression reads the
    # same row's vector
    tables[0] = F.coalesce(
        _dim_guard(F.col("v"), dim, "knn_graph_lsh").cast("long"),
        tables[0])
    bucketed = base.select(
        "id", "v", F.explode(F.array(*tables)).alias("bucket")).persist()
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") != F.col("b.id")))
        .select(F.col("a.id").alias("qid"), F.col("b.id").alias("nb_id"),
                F.col("a.v").alias("va"), F.col("b.v").alias("vb"))
        .dropDuplicates(["qid", "nb_id"])
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nb_id").asc())
    out = (
        cand.withColumn("c", _cos_batch(F.col("va"), F.col("vb")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(F.col("qid").alias(id_col), "nb_id",
                F.round("c", 4).alias("cosine"),
                F.col("rank").cast("int").alias("rank"))
    )
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [bucketed])


def centroid_affinity(
    df: DataFrame,
    target_cond,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Target-centroid affinity scoring — the embedding-space analog of
    DSIR: score every vector by its inner product with the aggregate
    (sum) vector of a curated *target* slice. This is the model-based
    quality-filter shape used by embedding-curated corpora (classifier-
    lite selection; same family as SemDeDup's centroid geometry):
    vectors aligned with the curated centroid rank high and are kept
    preferentially downstream (:func:`~tantalus_spark.datapipe.scoring.
    dsir_select` gives the exact top-k admission step).

    Engine-exact: components are quantized ONCE to integer micro-units
    (``floor(x * 1e6)`` on the exact float→double widening) and every
    cross-row reduction is a BIGINT sum, so the score is independent of
    partition/fold order and a SQL oracle replays it bit-for-bit (the
    repo's millibit pattern).

    Scale shape: the target sum-vector is a d-row aggregate (posexplode
    of the target slice only → per-position integer sums → d collected
    values folded into the plan as a literal — O(d) driver state, the
    IVF-centroid precedent); the scoring pass is then one map-side
    zip_with/aggregate projection over the full table, ZERO shuffles.
    Production note: at ~1e9 target rows the integer dot product
    approaches 2^63 — divide the sum-vector by n_target first (mean
    centroid) or score in doubles; the gate keeps the exact form.
    """
    quant = _quantize_expr(vec_col, scale)
    base = (df.filter(F.col(vec_col).isNotNull())
              .select(F.col(id_col), quant.alias("_qv"),
                      target_cond.cast("int").alias("_it")))
    centroid = train_quantized_centroid(df, target_cond, vec_col=vec_col,
                                        scale=scale)
    score = affinity_expr("_qv", centroid)
    return base.select(
        F.col(id_col),
        score.alias("affinity_q"),
        F.col("_it").alias("in_target"),
    )


def _quantize_expr(vec_col: str, scale: int) -> Column:
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)))
        .cast("long"))


def affinity_expr(qvec_col: str, centroid: list[int]) -> Column:
    """BIGINT dot product of a quantized vector column with a frozen
    centroid folded into the plan as a literal array — map-side only.

    Dimension-guarded: ``zip_with`` null-pads the shorter side, and one
    null element would poison the whole fold (a ragged or empty vector
    silently scoring NULL). A vector whose size differs from the
    centroid's raises via ``assert_true`` instead — a loud per-row error
    beats a silent NULL affinity at 100 TB."""
    cvec = F.array(*[F.lit(int(v)).cast("long") for v in centroid])
    dim_ok = F.assert_true(
        F.size(F.col(qvec_col)) == F.lit(len(centroid)),
        F.concat(F.lit(f"affinity_expr: vector dimension != centroid "
                       f"dimension {len(centroid)}; got "),
                 F.size(F.col(qvec_col)).cast("string")))
    dot = F.aggregate(
        F.zip_with(F.col(qvec_col), cvec, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # assert_true returns NULL on success; coalesce keeps the dot value
    return F.coalesce(dim_ok.cast("long"), dot)


def train_quantized_centroid(
    df: DataFrame,
    target_cond,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> list[int]:
    """The offline training step for affinity scoring: the integer sum
    vector of the target slice, as a d-element Python list (O(d) driver
    state — the IVF-centroid precedent). Freeze and version it to score
    arriving vectors against the same centroid."""
    rows = (df.filter(F.col(vec_col).isNotNull())
              .filter(target_cond)
              .select(F.posexplode(_quantize_expr(vec_col, scale))
                      .alias("pos", "v"))
              .groupBy("pos").agg(F.sum("v").alias("cv"))
              .orderBy("pos").collect())
    if not rows:
        raise ValueError("target slice is empty: no centroid to score against")
    return [int(r["cv"]) for r in rows]


def sq8_train_stats(
    df: DataFrame,
    vec_col: str = "embedding",
) -> list[tuple[float, float]]:
    """Offline SQ8 training: per-dimension (min, max) over the corpus
    (FAISS ScalarQuantizer QT_8bit shape, Jegou et al. infra). One
    posexplode + a dim-keyed aggregate whose result is O(d) driver
    state — the IVF-centroid / train_quantized_centroid precedent.
    float32 min/max are exact, so the returned Python doubles are
    bit-identical to what any engine derives from the same column."""
    rows = (df.filter(F.col(vec_col).isNotNull())
              .select(F.posexplode(vec_col).alias("pos", "v"))
              .groupBy("pos")
              .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
              .orderBy("pos").collect())
    return [(float(r["lo"]), float(r["hi"])) for r in rows]


def sq8_reconstruction(
    df: DataFrame,
    stats: list[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8-encode each vector against frozen per-dim (min, max) stats
    and report exact reconstruction-error diagnostics — the
    compression-loss audit run before swapping an ANN index from
    float32 to int8 codes (4x memory, same recall question).

    Per dim i: ``code = clamp(floor((x-lo)/(hi-lo)*255 + 0.5), 0, 255)``
    and ``recon = lo + code*(hi-lo)/255``. The per-row outputs are
    ORDER-FREE exact integers (the scoring.py integer-millibit trick):
    ``code_sum`` is the plain code checksum, ``err2_pico`` sums
    ``floor(err^2 * 1e12 + 0.5)`` per dim, and ``rmse_micro`` derives
    from that single exact integer — so the gate hash cannot drift on
    float summation order, and DuckDB replays it bit-identically.

    Scale: stats are literals folded into one codegen'd projection
    (the _dot_literal / hyperplane-coefficient precedent — no
    interpreted HOF in the hot path, no second shuffle, no join);
    the scan streams map-only at any corpus size. The literal chain is
    O(d) expression nodes — fine through ~1k dims (Spark auto-splits
    codegen methods); for multi-k dims prefer a posexplode + broadcast
    dim-stats join so the plan stays constant-size.
    """
    d = len(stats)
    vec = F.col(vec_col)
    x_of = {}
    code_of = {}
    code_sum = F.lit(0).cast("long")
    err_sum = F.lit(0).cast("long")
    for i, (lo, hi) in enumerate(stats, start=1):
        x = F.element_at(vec, i).cast("double")
        scale = hi - lo
        if scale == 0.0:
            code = F.lit(0).cast("long")
            recon = F.lit(lo)
        else:
            t = (x - F.lit(lo)) / F.lit(scale) * F.lit(255.0)
            code = F.least(
                F.greatest(F.floor(t + F.lit(0.5)), F.lit(0).cast("long")),
                F.lit(255).cast("long"))
            recon = F.lit(lo) + code.cast("double") * F.lit(scale) / F.lit(255.0)
        err = x - recon
        err2n = F.floor(err * err * F.lit(1e12) + F.lit(0.5)).cast("long")
        x_of[i], code_of[i] = x, code
        code_sum = code_sum + code
        err_sum = err_sum + err2n
    return (
        df.filter(F.col(vec_col).isNotNull())
          .filter(F.size(vec) == d)  # affinity_expr dimension-guard rule
          .select(
              F.col(id_col),
              code_sum.alias("code_sum"),
              err_sum.alias("err2_pico"),
              F.floor(
                  F.sqrt(err_sum.cast("double") / F.lit(1e12) / F.lit(float(d)))
                  * F.lit(1e6) + F.lit(0.5)
              ).cast("long").alias("rmse_micro"),
          )
    )


def hard_negatives(
    df: DataFrame,
    k: int = 5,
    anchor_cond=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    ``k`` most cosine-similar vectors carrying a DIFFERENT label — the
    training-pair construction step for contrastive/embedding-model
    fine-tuning (a random negative is trivially separable; the
    highest-similarity cross-label neighbors are the examples that
    actually move the loss).

    ``anchor_cond`` restricts which rows act as anchors (default: every
    row); candidates are always the full cross-label complement.
    Returns (id, neg_id, neg_label, cosine, rank<=k) under the
    deterministic total order (similarity desc, neg_id asc).

    Plan shape (the _block_matmul_pairs pattern, adapted to a cross
    top-k): materializing anchor×candidate PAIRS is the trap — a
    ``label != label`` join is nested-loop, a per-pair HOF cosine is
    interpreted (the q46/q52/q69 cliff class, measured 12 s at sf0.1
    for the first cut), and even Arrow-batched per-pair scoring ships
    every vector once PER PAIR. Instead anchors hash into ``a_blocks``
    and candidates into ``c_blocks``; each side replicates only
    block-count times (linear volume), every (anchor-block,
    cand-block) group runs ONE BLAS gemm with same-label pairs masked
    out and keeps its per-anchor top-k, and a final rank window merges
    the c_blocks×k partials per anchor. Quadratic FLOPs happen inside
    the gemm at matrix speed; nothing quadratic shuffles.

    Scale shape: this exact form is the verifier. At corpus scale,
    mine from :func:`knn_graph_lsh`'s bucketed candidates filtered to
    cross-label pairs instead; the ranking total order (similarity
    desc, neg_id asc) is identical, so the two paths grade against
    each other the same way q51 grades q69."""
    import numpy as np

    from pyspark.sql import Window as W

    # Output id/label dtypes follow the INPUT schema (the ADVICE r6
    # fix: hard-coded int64/int32 crashed inside the UDF for string
    # ids/labels). Map the Spark type to the matching Arrow-compatible
    # pandas dtype; anything outside the supported set fails fast here
    # with a clear message instead of deep inside the worker.
    _dtype_map = {
        "bigint": "int64", "int": "int32", "smallint": "int16",
        "tinyint": "int8", "double": "float64", "float": "float32",
        "string": "object",
    }
    id_sql = df.schema[id_col].dataType.simpleString()
    lbl_sql = df.schema[label_col].dataType.simpleString()
    for name, sql in ((id_col, id_sql), (label_col, lbl_sql)):
        if sql not in _dtype_map:
            raise TypeError(
                f"hard_negatives: unsupported {name!r} type {sql}; "
                f"supported: {sorted(_dtype_map)}")
    id_pd, lbl_pd = _dtype_map[id_sql], _dtype_map[lbl_sql]

    a_blocks, c_blocks = 8, 4
    base = df.filter(F.col(vec_col).isNotNull())
    a = base if anchor_cond is None else base.filter(anchor_cond)
    side_a = a.select(
        F.lit(0).alias("side"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lbl"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(a_blocks)).cast("int")
         .alias("gi"),
        F.explode(F.sequence(F.lit(0), F.lit(c_blocks - 1))).alias("gj"),
    )
    side_c = base.select(
        F.lit(1).alias("side"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lbl"),
        F.explode(F.sequence(F.lit(0), F.lit(a_blocks - 1))).alias("gi"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(c_blocks)).cast("int")
         .alias("gj"),
    )
    kk = int(k)

    def gemm_topk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame(
            {"id": pd.Series(dtype=id_pd),
             "neg_id": pd.Series(dtype=id_pd),
             "neg_label": pd.Series(dtype=lbl_pd),
             "_sim": pd.Series(dtype="float64")})
        ap = pdf[pdf["side"] == 0]
        cp = pdf[pdf["side"] == 1]
        if ap.empty or cp.empty:
            return empty
        A = np.stack(ap["v"].to_numpy()).astype(np.float64)
        B = np.stack(cp["v"].to_numpy()).astype(np.float64)
        An = np.linalg.norm(A, axis=1)
        Bn = np.linalg.norm(B, axis=1)
        An[An == 0] = 1.0
        Bn[Bn == 0] = 1.0
        S = (A @ B.T) / np.outer(An, Bn)
        la = ap["lbl"].to_numpy()
        lb = cp["lbl"].to_numpy()
        S[la[:, None] == lb[None, :]] = -np.inf   # same-label masked out
        ib = cp["id"].to_numpy()
        lbv = cp["lbl"].to_numpy()
        rows = {"id": [], "neg_id": [], "neg_label": [], "_sim": []}
        for r in range(S.shape[0]):
            # per-anchor top-k under (sim desc, neg_id asc): lexsort is
            # stable, last key is primary
            order = np.lexsort((ib, -S[r]))[:kk]
            keep = order[np.isfinite(S[r][order])]
            rows["id"].extend([ap["id"].iloc[r]] * len(keep))
            rows["neg_id"].extend(ib[keep])
            rows["neg_label"].extend(lbv[keep])
            rows["_sim"].extend(S[r][keep])
        out = pd.DataFrame(rows)
        return out.astype({"id": id_pd, "neg_id": id_pd,
                           "neg_label": lbl_pd, "_sim": "float64"}) \
            if len(out) else empty

    partials = (
        side_a.unionByName(side_c)
        .groupBy("gi", "gj")
        .applyInPandas(
            gemm_topk,
            f"id {id_sql}, neg_id {id_sql}, neg_label {lbl_sql}, "
            f"_sim double")
    )
    w = W.partitionBy("id").orderBy(F.col("_sim").desc(),
                                    F.col("neg_id").asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= kk)
                .select(F.col("id").alias(id_col), "neg_id", "neg_label",
                        F.round(F.col("_sim"), 4).alias("cosine"),
                        F.col("rank").cast("int").alias("rank"))
    )


def retrieval_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    ks: tuple[int, ...] = (1, 5, 10),
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Offline retrieval-quality evaluation of ONE ranked result list
    against a relevance set: per cutoff k — hits@k, precision@k,
    recall@k, MRR@k, nDCG@k.  The eval harness counterpart of the
    BM25/ANN serving stack: every retrieval change ships with these
    numbers.

    ``ranked``: (id, rank) with rank 1-based and total (ties broken
    upstream); ``relevant``: one id per relevant document (the ground
    truth, corpus-wide).  R = |relevant| is taken from the relevance
    frame (one bounded action) so recall and ideal-DCG use the true
    denominator even when a relevant doc was not retrieved at all.

    Exactness: hit counts are integer sums; DCG quantizes each
    ``1/log2(rank+1)`` contribution to an exact nano-integer BEFORE the
    sum (fold-order-free, the repo's nano-BIGINT rule) and iDCG is the
    same quantized sum computed driver-side (R is known), so nDCG is a
    ratio of two exact integers; MRR is a MAX (order-free).  One small
    join + one groupBy on k; nothing corpus-sized moves — ``ranked``
    is already a top-N result.

    Returns one row per k: (k, n_relevant, hits, precision, recall,
    mrr, ndcg), doubles rounded to 4."""
    import math

    r_total = relevant.distinct().count()
    rel = relevant.select(F.col(id_col)).distinct() \
                  .withColumn("_rel", F.lit(1))
    base = (ranked.select(F.col(id_col), F.col(rank_col).alias("_rank"))
                  .join(rel, id_col, "left")
                  .withColumn("_rel", F.coalesce("_rel", F.lit(0))))
    kdf = F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k")
    exp = base.select("*", kdf).filter(F.col("_rank") <= F.col("k"))
    # DCG contribution as an exact nano-integer per row: the sum is then
    # fold-order-free in any engine
    dcg_nano = (F.col("_rel").cast("long")
                * F.floor(F.lit(1e9) / F.log2(F.col("_rank") + F.lit(1.0))
                          + F.lit(0.5)).cast("long"))
    rr = F.when(F.col("_rel") == 1, F.lit(1.0) / F.col("_rank"))
    agg = (exp.groupBy("k")
              .agg(F.sum("_rel").cast("long").alias("hits"),
                   F.sum(dcg_nano).alias("_dcg_nano"),
                   # reciprocal rank of the FIRST relevant hit: 1/rank
                   # is monotone decreasing in rank, so max = earliest
                   F.max(rr).alias("_best_rr")))
    # ideal DCG: all R relevant docs ranked first — the SAME quantized
    # sum computed driver-side (R is one bounded count)
    idcg_nano = {k: sum(math.floor(1e9 / math.log2(i + 1) + 0.5)
                        for i in range(1, min(int(k), r_total) + 1)) or 1
                 for k in ks}
    idcg_expr = None
    for k in ks:
        lit = F.lit(int(idcg_nano[k])).cast("long")
        idcg_expr = (F.when(F.col("k") == int(k), lit)
                     if idcg_expr is None
                     else idcg_expr.when(F.col("k") == int(k), lit))
    return (
        agg.select(
            F.col("k").cast("int").alias("k"),
            F.lit(int(r_total)).alias("n_relevant"),
            F.col("hits"),
            # "precision" is a reserved word in ANSI SQL — suffix both
            # ratio columns so the oracle can alias them identically
            F.round(F.col("hits") / F.col("k"), 4).alias("precision_k"),
            F.round(F.col("hits") / F.lit(max(r_total, 1)), 4)
             .alias("recall_k"),
            F.round(F.coalesce(F.col("_best_rr"), F.lit(0.0)), 4)
             .alias("mrr"),
            F.round(F.col("_dcg_nano").cast("double")
                    / idcg_expr.cast("double"), 4).alias("ndcg"),
        )
    )


def _jl_sign_matrix(spark, out_dim: int, in_dim: int) -> DataFrame:
    """The ±1 Achlioptas/JL projection matrix as a (j, i, sgn) frame —
    k·d rows, data-independent and md5-derived, so any engine (and any
    later run) regenerates the identical matrix from (out_dim, in_dim)
    alone: no trained state to ship. Broadcast-sized by construction
    (out_dim·in_dim, e.g. 16·64 = 1024 rows)."""
    j = spark.range(int(out_dim)).select(F.col("id").cast("int").alias("j"))
    i = spark.range(int(in_dim)).select(F.col("id").cast("int").alias("i"))
    key = F.concat_ws("_", F.col("j"), F.col("i"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return j.crossJoin(i).select(
        "j", "i",
        (F.lit(1) - F.lit(2) * F.pmod(h, F.lit(2))).cast("int")
        .alias("sgn"))


def jl_project(
    df: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas, JCSS 2003): reduce ``array<float>`` embeddings to
    ``out_dim`` integer components ``y_j = Σ_i sgn(j,i)·x_i`` — the
    standard pre-clustering/pre-ANN dimensionality cut at corpus scale
    (JL lemma: pairwise angles survive within ε for
    out_dim = O(log n / ε²); the 1/√k normalization cancels in cosine,
    so it is omitted and the components stay exact integers).

    Exactness: components are micro-quantized (floor(x·1e6 + 0.5)) into
    BIGINTs BEFORE the sign-sum, so the projection — and every cosine
    computed from it downstream — is exact integer math any engine
    replays bit-identically.

    Scale shape: one posexplode (rows·d — the unavoidable JL read), a
    broadcast join against the fixed k·d sign matrix, and one (id, j)
    integer groupBy producing rows·k cells; assembly back to a dense
    array is map_from_arrays (the :func:`~.textstats.hashed_vectors`
    pattern). Returns (id, proj array<long>[out_dim])."""
    spark = df.sparkSession
    in_dim = _first_dim(df, vec_col)
    signs = _jl_sign_matrix(spark, out_dim, in_dim)
    comps = (df.filter(F.col(vec_col).isNotNull())
               .select(F.col(id_col),
                       F.posexplode(F.col(vec_col))
                       .alias("i", "x"))
               .select(F.col(id_col), F.col("i").cast("int").alias("i"),
                       F.floor(F.col("x").cast("double") * F.lit(1e6)
                               + F.lit(0.5)).cast("long")
                       .alias("x_micro")))
    cells = (comps.join(F.broadcast(signs), "i")
                  .groupBy(id_col, "j")
                  .agg(F.sum(F.col("sgn") * F.col("x_micro"))
                       .alias("y")))
    m = F.map_from_arrays(F.collect_list("j"), F.collect_list("y"))
    return (cells.groupBy(id_col)
                 .agg(m.alias("_m"))
                 .select(
                     F.col(id_col),
                     F.transform(
                         F.sequence(F.lit(0), F.lit(int(out_dim) - 1)),
                         lambda jj: F.coalesce(
                             F.element_at(F.col("_m"), jj.cast("int")),
                             F.lit(0).cast("long")),
                     ).alias("proj")))


def jl_distortion_pairs(
    df: DataFrame,
    out_dim: int = 16,
    n_probes: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """JL quality audit: for a bounded probe set (the ``n_probes``
    lowest ids — deterministic), every pair's cosine in the ORIGINAL
    space vs the :func:`jl_project` space and the absolute error — the
    measurement that tells a pipeline whether ``out_dim`` is safe
    before the cheap projected vectors replace the originals in
    clustering/near-dup (the JL lemma bounds the tail of exactly this
    distribution).

    Both cosines divide exact BIGINT dot products by exact BIGINT
    norms (original components micro-quantized once, projected
    components already integer), so the full frame replays in SQL.

    Scale: probes are top-``n_probes`` by id (TakeOrderedAndProject),
    so every frame after the initial scan is O(n_probes²) — the audit
    runs at any corpus size; the corpus-wide projection itself is
    :func:`jl_project` (audited here, applied there)."""
    probes = (df.filter(F.col(vec_col).isNotNull())
                .orderBy(F.col(id_col).asc()).limit(int(n_probes))
                .persist())
    comps = probes.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("i", "x")
    ).select(F.col(id_col), "i",
             F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5))
             .cast("long").alias("xm"))
    proj = (jl_project(probes, out_dim=out_dim, vec_col=vec_col,
                       id_col=id_col)
            .select(F.col(id_col),
                    F.posexplode(F.col("proj")).alias("j", "y")))

    def _pair_dots(frame: DataFrame, dim_key: str, val: str,
                   out: str) -> DataFrame:
        a, b = frame.alias("a"), frame.alias("b")
        return (a.join(b, (F.col(f"a.{dim_key}") == F.col(f"b.{dim_key}"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                 .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                          F.col(f"b.{id_col}").alias("id_b"))
                 .agg(F.sum(F.col(f"a.{val}") * F.col(f"b.{val}"))
                      .alias(out)))

    def _norms(frame: DataFrame, val: str, out: str) -> DataFrame:
        return frame.groupBy(id_col).agg(
            F.sum(F.col(val) * F.col(val)).alias(out))

    d_o = _pair_dots(comps, "i", "xm", "dot_o")
    d_p = _pair_dots(proj, "j", "y", "dot_p")
    n_o, n_p = _norms(comps, "xm", "no"), _norms(proj, "y", "np")
    cos_o = (F.col("dot_o").cast("double")
             / F.sqrt(F.col("na_o").cast("double")
                      * F.col("nb_o").cast("double")))
    cos_p = (F.col("dot_p").cast("double")
             / F.sqrt(F.col("na_p").cast("double")
                      * F.col("nb_p").cast("double")))
    out = (
        d_o.join(d_p, ["id_a", "id_b"])
           .join(n_o.select(F.col(id_col).alias("id_a"),
                            F.col("no").alias("na_o")), "id_a")
           .join(n_o.select(F.col(id_col).alias("id_b"),
                            F.col("no").alias("nb_o")), "id_b")
           .join(n_p.select(F.col(id_col).alias("id_a"),
                            F.col("np").alias("na_p")), "id_a")
           .join(n_p.select(F.col(id_col).alias("id_b"),
                            F.col("np").alias("nb_p")), "id_b")
           .filter((F.col("na_o") > 0) & (F.col("nb_o") > 0)
                   & (F.col("na_p") > 0) & (F.col("nb_p") > 0))
           .select("id_a", "id_b",
                   F.round(cos_o, 4).alias("cos_orig"),
                   F.round(cos_p, 4).alias("cos_proj"),
                   F.round(F.abs(cos_o - cos_p), 4).alias("abs_err"))
    )
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [probes])


def ivf_recall(
    df: DataFrame,
    n_centroids: int = 8,
    k: int = 10,
    nprobe: int = 2,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k audit of the IVF scale path against exact brute force —
    the measurement that chooses ``nprobe`` before an ANN index serves
    production traffic (FAISS ships exactly this evaluation loop): for
    each probe query, how many of the true top-k survive probing only
    ``nprobe`` of ``n_centroids`` inverted lists.

    Deterministic and engine-replayable: centroids are the embeddings
    of the first ``n_centroids`` ids, queries the first ``n_queries``
    ids (both bounded collects); assignment is :func:`ivf_assign`'s
    first-max argmax; both legs rank under the total order
    (cosine desc, id asc). Returns (query_id, n_hits, recall) with
    recall = |ivf top-k ∩ exact top-k| / k.

    Scale: ONE corpus pass assigns lists (persisted as (id, list) +
    vector — the audit's working set); the query set is a broadcast;
    the exact leg is the verifier-role brute force (queries × corpus,
    bounded by n_queries); the IVF leg scans only probed lists. At
    production scale you run this on a sample, never the full corpus —
    the operator is sample-in, sample-out by construction."""
    centroids, qdf = _ivf_probe_setup(df, n_centroids, n_queries,
                                      nprobe, id_col, vec_col,
                                      caller="ivf_recall")

    # null embeddings carry nothing rankable (the DuckDB oracle excludes
    # them too), and a zero-norm vector's cosine is NaN — which Spark's
    # DESCENDING sort ranks FIRST, so an unguarded degenerate row would
    # displace true neighbors from the top-k of BOTH legs
    assigned = ivf_assign(df.filter(F.col(vec_col).isNotNull()),
                          centroids, id_col=id_col,
                          vec_col=vec_col).persist()
    hits = _ivf_recall_hits(assigned, qdf, k, id_col, vec_col)
    out = hits.select("query_id", "n_hits",
                      F.round(F.col("n_hits") / F.lit(float(k)), 4)
                      .alias("recall"))
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [assigned])


def _ivf_probe_setup(df: DataFrame, n_centroids: int, n_queries: int,
                     nprobe: int, id_col: str, vec_col: str,
                     caller: str):
    """The deterministic centroid/query/probe-selection contract shared
    by :func:`ivf_recall` and :func:`ivf_index_health` (one copy so a
    convention fix can never diverge them): centroids = embeddings of
    the first ``n_centroids`` ids, probe queries = the first
    ``n_queries`` ids (bounded collects, loud ValueError on a missing
    or null-vector head id); per query, probes = the ``nprobe``
    centroids ranked by (cosine desc, cid asc). Returns
    (centroids, qdf[query_id, qvec, probes])."""
    head = (df.filter(F.col(vec_col).isNotNull())
              .filter(F.col(id_col) < max(n_centroids, n_queries))
              .orderBy(id_col).collect())
    by_id = {r[id_col]: [float(x) for x in r[vec_col]] for r in head}
    missing = [i for i in range(max(n_centroids, n_queries))
               if i not in by_id]
    if missing:
        raise ValueError(
            f"{caller}: ids {missing[:5]} absent (or null-vector) — "
            f"centroids/queries are the first "
            f"{max(n_centroids, n_queries)} ids by contract")
    centroids = [by_id[i] for i in range(n_centroids)]

    qrows = []
    for qid in range(n_queries):
        qv = by_id[qid]
        ranked = sorted(range(n_centroids),
                        key=lambda i: -_cos_py(centroids[i], qv))
        qrows.append((qid, qv, ranked[:nprobe]))
    qdf = df.sparkSession.createDataFrame(
        qrows, "query_id long, qvec array<double>, probes array<int>")
    return centroids, qdf


def _ivf_recall_hits(assigned: DataFrame, qdf: DataFrame, k: int,
                     id_col: str, vec_col: str) -> DataFrame:
    """(query_id, n_hits) = |exact top-k ∩ probed top-k| per probe
    query over a (persisted) :func:`ivf_assign` frame — the shared
    recall legs of :func:`ivf_recall` and :func:`ivf_index_health`.
    ``qdf`` carries (query_id, qvec, probes); queries with no hits
    report 0 (left join + coalesce)."""
    from pyspark.sql import Window as W

    sim = F.nanvl(cosine_similarity(F.col(vec_col), F.col("qvec")),
                  F.lit(-2.0))
    w = W.partitionBy("query_id").orderBy(F.desc("_sim"),
                                          F.col(id_col).asc())
    exact = (assigned.crossJoin(F.broadcast(qdf.select("query_id",
                                                       "qvec")))
             .select("query_id", F.col(id_col), sim.alias("_sim"))
             .withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") <= k)
             .select("query_id", id_col))
    approx = (assigned.crossJoin(F.broadcast(qdf))
              .filter(F.expr("array_contains(probes, ivf_list)"))
              .select("query_id", F.col(id_col), sim.alias("_sim"))
              .withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") <= k)
              .select("query_id", id_col))
    hits = (exact.join(approx, ["query_id", id_col])
                 .groupBy("query_id")
                 .agg(F.count(F.lit(1)).cast("int").alias("n_hits")))
    return (qdf.select("query_id")
               .join(hits, "query_id", "left")
               .select("query_id",
                       F.coalesce("n_hits", F.lit(0)).cast("int")
                       .alias("n_hits")))


def ivf_list_balance(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted-list balance audit for an IVF index — the operational
    stat that decides when centroids need retraining and what nprobe
    really buys (FAISS's imbalance factor): per list, its vector count
    and share, plus the global ``imbalance = nlist · Σ nᵢ² / N²``
    (1.0 = perfectly even; k = probing one list costs ~k× the even
    split's work on average). EMPTY lists appear with n_vecs 0 — dead
    centroids are exactly the signal (the grid densifies over all
    nlist lists, not just populated ones).

    Scale: one :func:`ivf_assign` map pass (centroids are plan
    literals), one nlist-sized integer groupBy, and the (N, Σn²)
    scalars fold in from a 1-row broadcast — exact integer arithmetic
    until the two display divisions, full oracle."""
    spark = df.sparkSession
    assigned = ivf_assign(df.filter(F.col(vec_col).isNotNull()),
                          centroids, id_col=id_col, vec_col=vec_col)
    counts = assigned.groupBy("ivf_list").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"))
    grid = spark.range(len(centroids)).select(
        F.col("id").cast("int").alias("ivf_list"))
    dense = (grid.join(counts, "ivf_list", "left")
                 .select("ivf_list",
                         F.coalesce("n_vecs", F.lit(0)).cast("long")
                         .alias("n_vecs")))
    tot = dense.agg(F.sum("n_vecs").alias("_n"),
                    F.sum(F.col("n_vecs") * F.col("n_vecs"))
                    .alias("_s2"))
    nlist = float(len(centroids))
    return (dense.crossJoin(F.broadcast(tot))
                 .select("ivf_list", "n_vecs",
                         F.round(F.col("n_vecs").cast("double")
                                 / F.col("_n").cast("double"), 4)
                         .alias("share"),
                         F.round(F.lit(nlist)
                                 * F.col("_s2").cast("double")
                                 / (F.col("_n").cast("double")
                                    * F.col("_n").cast("double")), 4)
                         .alias("imbalance")))


def ivf_index_health(
    df: DataFrame,
    n_centroids: int = 8,
    k: int = 10,
    nprobe: int = 2,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-job IVF index health report — the operational composition of
    :func:`ivf_list_balance` (retrain signal) and :func:`ivf_recall`
    (nprobe signal): per inverted list its population and share, the
    global FAISS imbalance factor, and the sampled recall@k at the
    given ``nprobe`` — every input the retrain/re-probe decision needs,
    from ONE :func:`ivf_assign` corpus pass shared by both audits (run
    separately they each pay their own assign pass; the report
    persists one).

    Same determinism contract as both parents: centroids are the
    embeddings of the first ``n_centroids`` ids, probe queries the
    first ``n_queries`` ids, assignment first-max argmax, both recall
    legs ranked under the total order — fully SQL-replayable. Returns
    (ivf_list, n_vecs, share, imbalance, mean_recall, min_recall);
    the recall columns are query-sample globals repeated per list row
    (a report, not a join key). Dead lists appear with n_vecs 0.

    Scale: the assign pass is the only corpus-sized work (centroids
    are plan literals); balance is an nlist-row groupBy; the exact
    recall leg is the bounded-query brute-force verifier —
    sample-in/sample-out at production scale, like :func:`ivf_recall`.
    """
    spark = df.sparkSession
    centroids, qdf = _ivf_probe_setup(df, n_centroids, n_queries,
                                      nprobe, id_col, vec_col,
                                      caller="ivf_index_health")

    assigned = ivf_assign(df.filter(F.col(vec_col).isNotNull()),
                          centroids, id_col=id_col,
                          vec_col=vec_col).persist()
    # balance legs (the q146 expression tree) over the shared assign
    counts = assigned.groupBy("ivf_list").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"))
    grid = spark.range(n_centroids).select(
        F.col("id").cast("int").alias("ivf_list"))
    dense = (grid.join(counts, "ivf_list", "left")
                 .select("ivf_list",
                         F.coalesce("n_vecs", F.lit(0)).cast("long")
                         .alias("n_vecs")))
    tot = dense.agg(F.sum("n_vecs").alias("_n"),
                    F.sum(F.col("n_vecs") * F.col("n_vecs"))
                    .alias("_s2"))
    # recall legs (the q136 expression tree) over the SAME assign
    hits = _ivf_recall_hits(assigned, qdf, k, id_col, vec_col)
    health = hits.agg(F.sum("n_hits").alias("_sh"),
                      F.min("n_hits").alias("_mh"))
    nlist = float(n_centroids)
    out = (dense.crossJoin(F.broadcast(tot))
                .crossJoin(F.broadcast(health))
                .select("ivf_list", "n_vecs",
                        F.round(F.col("n_vecs").cast("double")
                                / F.col("_n").cast("double"), 4)
                        .alias("share"),
                        F.round(F.lit(nlist)
                                * F.col("_s2").cast("double")
                                / (F.col("_n").cast("double")
                                   * F.col("_n").cast("double")), 4)
                        .alias("imbalance"),
                        F.round(F.col("_sh").cast("double")
                                / F.lit(float(n_queries * k)), 4)
                        .alias("mean_recall"),
                        F.round(F.col("_mh").cast("double")
                                / F.lit(float(k)), 4)
                        .alias("min_recall")))
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [assigned])


def pq_topk_batch(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch ADC serving: score a SET of queries against the PQ code
    table in one distributed job — the production shape
    (:func:`pq_topk` serves one query per plan; a serving tier batches).
    The per-(query, subspace, centroid) dot table is |queries|·m·k
    rows, broadcast; codes posexplode to (id, j, c), join the broadcast
    on (j, c), and one (query, id) sum + per-query rank window yields
    every query's top-k. No float vector is read anywhere.

    Scale: the joined stream is rows·m·|queries| narrow integers per
    probe batch — linear in both, partitioned by the corpus; the rank
    window partitions by query (bounded depth after the candidate
    aggregate). Returns (query_id, id, adc_dot) — bit-identical to
    per-query :func:`pq_topk` (differential test)."""
    if len({qid for qid, _ in queries}) != len(queries):
        # output is keyed by query_id: a duplicate would merge two
        # requests' ADC tables into one garbled sum (the r9 review's
        # shared-invariant finding — same guard as the other batch
        # servers)
        raise ValueError("pq_topk_batch: duplicate query ids")
    spark = encoded.sparkSession
    adc = spark.createDataFrame(
        _adc_dot_rows(codebooks, queries),
        "query_id long, j int, c int, dot double")
    codes = encoded.select(
        F.col(id_col), F.posexplode("pq_code").alias("j", "c"))
    scored = (codes.join(F.broadcast(adc), ["j", "c"])
                   .groupBy("query_id", id_col)
                   .agg(F.sum("dot").alias("_adc")))
    return _per_query_adc_topk(scored, k, id_col)


def pq_recall(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    k: int = 10,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k audit of the PQ/ADC path against the exact dot-product
    ranking — the quantization-loss measurement that sizes (m, k*) for
    a PQ index before it serves (the :func:`ivf_recall` twin for the
    memory-side lever; FAISS evaluates exactly this). Uses the q74
    exactness convention: vectors integerized floor(x·32) so every
    distance/dot is exact integer arithmetic in float64, codebook c of
    subspace j = the subspace-j slice of vec id c+1, queries the first
    ``n_queries`` ids — the whole audit replays in SQL bit-for-bit.

    Scale: one :func:`pq_encode` pass (persisted narrow codes), one
    :func:`pq_topk_batch` job for all queries, and the exact leg is
    the bounded-query brute-force verifier — sample-in/sample-out at
    production scale like :func:`ivf_recall`."""
    from pyspark.sql import Window as W

    sub_d = _first_dim(df, vec_col)
    if sub_d % m:
        raise ValueError(f"pq_recall: dim {sub_d} not divisible by m={m}")
    sub = sub_d // m
    iv = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.transform(vec_col,
                    lambda x: F.floor(x.cast("double") * F.lit(32.0))
                    .cast("double")).alias(vec_col))
    head = (iv.filter(F.col(id_col) <= max(n_codes, n_queries - 1))
              .orderBy(id_col).collect())
    by_id = {r[id_col]: [float(x) for x in r[vec_col]] for r in head}
    missing = [i for i in range(max(n_codes + 1, n_queries))
               if i not in by_id]
    if missing:
        raise ValueError(
            f"pq_recall: ids {missing[:5]} absent (or null-vector) — "
            f"codebooks are slices of ids 1..{n_codes} and queries ids "
            f"0..{n_queries - 1} by contract")
    books = [
        [by_id[c + 1][j * sub:(j + 1) * sub] for c in range(n_codes)]
        for j in range(m)
    ]
    queries = [(i, by_id[i]) for i in range(n_queries)]

    enc = pq_encode(iv, books, id_col=id_col,
                    vec_col=vec_col).persist()
    approx = pq_topk_batch(enc, books, queries, k=k, id_col=id_col) \
        .select("query_id", id_col)
    spark = df.sparkSession
    qdf = spark.createDataFrame(queries,
                                f"query_id long, qvec array<double>")
    w = W.partitionBy("query_id").orderBy(F.col("_s").desc(),
                                          F.col(id_col).asc())
    exact = (iv.crossJoin(F.broadcast(qdf))
               .select("query_id", F.col(id_col),
                       _dot(F.col(vec_col), F.col("qvec")).alias("_s"))
               .withColumn("_rk", F.row_number().over(w))
               .filter(F.col("_rk") <= int(k))
               .select("query_id", id_col))
    hits = (exact.join(approx, ["query_id", id_col])
                 .groupBy("query_id")
                 .agg(F.count(F.lit(1)).cast("int").alias("n_hits")))
    out = (qdf.select("query_id")
              .join(hits, "query_id", "left")
              .select("query_id",
                      F.coalesce("n_hits", F.lit(0)).cast("int")
                      .alias("n_hits"),
                      F.round(F.coalesce("n_hits", F.lit(0))
                              / F.lit(float(k)), 4).alias("recall")))
    from tantalus_spark.datapipe.dedup import _materialize_and_release
    return _materialize_and_release(out, [enc])
