"""Similarity-search quality + physical-layout tests: IVF recall against
the exact baseline, and partition pruning when the corpus is written
partitioned by IVF list (the 100 TB probe path)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tantalus_spark.catalog.loader import read_parquet
from tantalus_spark.datapipe import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_parquet(spark, f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def centroids(emb):
    rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id") \
        .select("embedding").collect()
    return [[float(x) for x in r[0]] for r in rows]


def test_ivf_assignment_total(emb, centroids):
    assigned = sim.ivf_assign(emb, centroids)
    assert assigned.count() == emb.count()
    n_lists = assigned.select("ivf_list").distinct().count()
    assert 2 <= n_lists <= 8


def test_ivf_recall_vs_exact(emb, centroids):
    qvec = centroids[3]
    exact = [r["vec_id"] for r in
             sim.cosine_topk(emb, qvec, k=10).collect()]
    assigned = sim.ivf_assign(emb, centroids)
    approx = [r["vec_id"] for r in
              sim.ivf_topk(assigned, centroids, qvec, k=10, nprobe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5  # probing half the lists must recover most of top-10


def test_ivf_partitioned_layout_prunes(spark, emb, centroids, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_layout"))
    sim.ivf_assign(emb, centroids).write.mode("overwrite") \
        .partitionBy("ivf_list").parquet(path)
    back = spark.read.parquet(path)
    probed = back.filter(F.col("ivf_list").isin([0, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "ivf_list" in plan.split("PartitionFilters:")[1][:200]
    # pruning is semantic too: only the probed lists' rows are read
    lists = {r["ivf_list"] for r in probed.select("ivf_list").distinct().collect()}
    assert lists <= {0, 3}


def test_brute_force_knn_join(emb):
    probes = emb.filter(F.col("vec_id") < 3)
    out = sim.brute_force_knn_join(probes, emb, k=4)
    rows = out.collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert set(by_probe) == {0, 1, 2}
    for pid, rs in by_probe.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3, 4]
        # self-match ranks first with cosine ~1
        top = min(rs, key=lambda r: r["rank"])
        assert top["cand_id"] == pid and top["cosine"] >= 0.999


def test_trained_centroids_improve_recall(spark, emb, centroids):
    trained = sim.train_ivf_centroids(emb, n_lists=8)
    assert len(trained) == 8 and len(trained[0]) == 64
    qvec = centroids[3]
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, qvec, k=10).collect()]

    def recall(cents, nprobe):
        assigned = sim.ivf_assign(emb, cents)
        got = [r["vec_id"] for r in
               sim.ivf_topk(assigned, cents, qvec, k=10,
                            nprobe=nprobe).collect()]
        return len(set(exact) & set(got)) / 10

    # recall grows monotonically with probe budget; full probe = exact
    r2, r4, r8 = (recall(trained, p) for p in (2, 4, 8))
    assert r2 <= r4 <= r8
    assert r8 == 1.0                   # probing every list = exact
    assert r2 > 0                      # nearest list holds some of top-10


def test_pq_exact_on_prototype_vectors(spark):
    """On a corpus whose subvectors come from a tiny prototype set, PQ
    with k >= #prototypes reconstructs losslessly: ADC scores equal the
    exact dot products and top-k matches brute force exactly."""
    import itertools
    import random

    rng = random.Random(7)
    protos = [[float(rng.randint(-3, 3)) for _ in range(4)]
              for _ in range(4)]                 # 4 prototypes, dim 4
    rows = []
    for i, picks in enumerate(
            itertools.islice(itertools.product(range(4), repeat=2), 16)):
        vec = protos[picks[0]] + protos[picks[1]]   # m=2 subspaces, d=8
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = sim.train_pq_codebooks(df, m=2, k=4, max_iter=20)
    enc = sim.pq_encode(df, books)
    q = [0.5] * 8
    got = sim.pq_topk(enc, books, q, k=5).collect()
    exact = (
        df.select("vec_id",
                  F.aggregate(F.zip_with("embedding",
                                         F.array(*[F.lit(v) for v in q]),
                                         lambda a, b: a * b),
                              F.lit(0.0), lambda a, x: a + x).alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("vec_id").asc()).limit(5)
        .collect()
    )
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]
    for g, e in zip(got, exact):
        assert abs(g["adc_dot"] - e["dot"]) < 1e-6


def test_pq_recall_vs_exact(emb):
    """32x-compressed codes (64 floats -> 8 bytes) must still retrieve a
    useful share of the true cosine top-10 on the real embedding table."""
    norm = sim.l2_normalize(emb)
    books = sim.train_pq_codebooks(norm, m=8, k=16)
    enc = sim.pq_encode(norm, books).persist()
    qrow = norm.filter(F.col("vec_id") == 1).first()
    q = [float(x) for x in qrow["embedding"]]
    approx = {r["vec_id"] for r in sim.pq_topk(enc, books, q, k=10).collect()}
    exact = {r["vec_id"]
             for r in sim.cosine_topk(emb, q, k=10).collect()}
    recall = len(approx & exact) / 10
    assert recall >= 0.4, f"PQ recall@10 {recall}"
    enc.unpersist()


def test_ivf_pq_composed(emb, centroids):
    """IVFPQ serving path: coarse-prune to nprobe lists, ADC-score codes
    only — top-k from the composed index must overlap the exact top-k
    and never score a vector outside the probed lists."""
    norm = sim.l2_normalize(emb)
    books = sim.train_pq_codebooks(norm, m=8, k=16)
    table = (
        sim.ivf_assign(norm, centroids).select("vec_id", "ivf_list")
        .join(sim.pq_encode(norm, books), "vec_id")
    ).persist()
    qrow = norm.filter(F.col("vec_id") == 1).first()
    q = [float(x) for x in qrow["embedding"]]
    got = sim.ivf_pq_topk(table, centroids, books, q, k=10, nprobe=4)
    ids = [r["vec_id"] for r in got.collect()]
    assert len(ids) == 10
    probed = {r["ivf_list"] for r in
              table.filter(F.col("vec_id").isin(ids)).collect()}
    assert len(probed) <= 4                         # only probed lists
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, q, k=10).collect()}
    assert len(set(ids) & exact) / 10 >= 0.3        # useful overlap
    table.unpersist()


def test_pq_encode_null_and_ragged_vectors(spark):
    """Null embeddings are dropped before the Arrow transfer; a
    wrong-length vector fails LOUDLY with a diagnosable message instead
    of an opaque np.stack executor error (r3 ADVICE)."""
    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]  # d=4
    ok = spark.createDataFrame(
        [(1, [1.0, 1.0, 2.0, 2.0]), (2, None), (3, [0.1] * 4)],
        "vec_id long, embedding array<double>")
    got = sim.pq_encode(ok, books).collect()
    assert sorted(r["vec_id"] for r in got) == [1, 3]

    ragged = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [1.0] * 3)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="pq_encode.*length"):
        sim.pq_encode(ragged, books).collect()


def test_l2_normalize_drops_null_keeps_zero(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["embedding"] for r in
           sim.l2_normalize(df).collect()}
    assert sorted(got) == [1, 3]
    assert got[1] == [0.6, 0.8]
    assert got[3] == [0.0, 0.0]


def test_knn_graph_matches_numpy_brute_force(spark):
    """knn_graph (block-gemm partial top-k + global window) must equal a
    straight numpy all-pairs top-k under the same total order, across
    block boundaries and with ties present."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, d, k = 57, 8, 4
    V = rng.integers(-3, 4, size=(n, d)).astype(float)   # integer-valued:
    V[7] = V[31]                                         # exact ties
    V[12] = 0.0                                          # zero-norm row
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        ["vec_id", "embedding"])
    got = {
        (r.vec_id, r.rank): (r.nb_id, r.cosine)
        for r in sim.knn_graph(df, k=k, n_blocks=3).collect()
    }
    nrm = np.linalg.norm(V, axis=1)
    nrm[nrm == 0] = 1.0
    S = (V @ V.T) / np.outer(nrm, nrm)
    np.fill_diagonal(S, -np.inf)
    for q in range(n):
        # stable sort over nb-ascending columns = (score desc, nb asc)
        order = np.argsort(-S[q], kind="stable")[:k]
        for rk, nb in enumerate(order, start=1):
            nb_got, c_got = got[(q, rk)]
            assert nb_got == nb, (q, rk, nb_got, nb)
            assert c_got == pytest.approx(round(float(S[q, nb]), 4))


def test_knn_graph_small_corpus_fewer_than_k(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        ["vec_id", "embedding"])
    rows = sim.knn_graph(df, k=10, n_blocks=2).collect()
    per = {}
    for r in rows:
        per.setdefault(r.vec_id, []).append(r)
    # only 2 real neighbors exist per vector; no -inf self rows leak
    assert all(len(v) == 2 for v in per.values())
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)


def test_semantic_dup_clusters_known_groups(spark):
    """Two planted duplicate groups (near-identical vectors) plus noise:
    clusters must recover exactly the planted groups with min-id
    canonical labels, and noise vectors must not appear."""
    import numpy as np

    rng = np.random.default_rng(5)
    base1 = rng.normal(size=16)
    base2 = rng.normal(size=16)
    rows = []
    for i, b in [(1, base1), (2, base1), (3, base1),      # group A
                 (10, base2), (11, base2)]:               # group B
        rows.append((i, [float(x) for x in b + rng.normal(scale=1e-3,
                                                          size=16)]))
    for i in range(20, 40):                               # noise
        rows.append((i, [float(x) for x in rng.normal(size=16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: r.cluster_id
           for r in sim.semantic_dup_clusters(
               df, threshold=0.99, k=3, n_blocks=3,
               method="exact").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # method is an explicit cost-regime choice — no silent quadratic
    with pytest.raises(ValueError, match="method is required"):
        sim.semantic_dup_clusters(df, threshold=0.99, k=3)


def test_knn_graph_lsh_recall_and_exactness_of_scores(spark):
    """The LSH graph must (a) only ever return true cosines at correct
    local ranks (scores are exact — only RETRIEVAL is approximate), and
    (b) recall a decent fraction of the exact top-k, improving with
    more tables (the n_tables dial)."""
    import numpy as np

    rng = np.random.default_rng(23)
    n, d, k = 80, 16, 3
    # clustered data so near neighbors exist to find
    centers = rng.normal(size=(8, d))
    V = np.vstack([c + rng.normal(scale=0.3, size=(10, d))
                   for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        ["vec_id", "embedding"])
    exact = {(r.vec_id, r.nb_id)
             for r in sim.knn_graph(df, k=k, n_blocks=3).collect()}

    def recall(n_tables):
        got = sim.knn_graph_lsh(df, k=k, n_hyperplanes=6,
                                n_tables=n_tables).collect()
        pairs = {(r.vec_id, r.nb_id) for r in got}
        # exact-score check: every returned cosine is the true cosine
        for r in got[:40]:
            a, b = V[r.vec_id], V[r.nb_id]
            true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert r.cosine == pytest.approx(round(true, 4), abs=1e-4)
        return len(pairs & exact) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1 - 1e-9          # more tables never hurt (on average)
    assert r4 >= 0.6, f"recall@{k} too low: {r4}"


def test_semantic_dup_clusters_lsh_method(spark):
    """method='lsh' must recover the same planted duplicate groups:
    near-identical vectors agree on every hyperplane sign, so LSH
    retrieval cannot miss dup-grade edges."""
    import numpy as np

    rng = np.random.default_rng(5)
    base1 = rng.normal(size=16)
    base2 = rng.normal(size=16)
    rows = []
    for i, b in [(1, base1), (2, base1), (3, base1),
                 (10, base2), (11, base2)]:
        rows.append((i, [float(x) for x in b + rng.normal(scale=1e-3,
                                                          size=16)]))
    for i in range(20, 40):
        rows.append((i, [float(x) for x in rng.normal(size=16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: r.cluster_id
           for r in sim.semantic_dup_clusters(
               df, threshold=0.99, k=3, method="lsh",
               n_tables=4, n_hyperplanes=6).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    with pytest.raises(ValueError):
        sim.semantic_dup_clusters(df, method="bogus")


def test_centroid_affinity_matches_numpy(spark):
    import numpy as np
    from tantalus_spark.datapipe.similarity import centroid_affinity
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-0.5, 0.5, size=(20, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], i % 4) for i in range(20)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in
           centroid_affinity(df, F.col("label") == 0).collect()}
    q = np.floor(vecs.astype("float64") * 1_000_000).astype("int64")
    cvec = q[[i for i in range(20) if i % 4 == 0]].sum(axis=0)
    for i in range(20):
        assert out[i]["affinity_q"] == int(q[i] @ cvec)
        assert out[i]["in_target"] == (1 if i % 4 == 0 else 0)


def test_centroid_affinity_ragged_vector_raises(spark):
    """zip_with null-pads a short vector and the fold would return a
    silent NULL affinity; the dimension guard must raise loudly instead
    (ADVICE r4)."""
    from pyspark.sql import functions as F
    from tantalus_spark.datapipe.similarity import centroid_affinity

    rows = [
        (1, [0.1, 0.2, 0.3], 0),
        (2, [0.2, 0.1, 0.4], 1),
        (3, [0.5, 0.5], 1),          # ragged: 2-dim vs 3-dim centroid
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    with pytest.raises(Exception, match="dimension"):
        centroid_affinity(df, F.col("label") == 0).collect()


def test_centroid_affinity_target_scores_high(spark):
    # two tight clusters far apart: target-cluster members must outscore
    # the off-cluster ones against the target centroid
    from tantalus_spark.datapipe.similarity import centroid_affinity
    from pyspark.sql import functions as F

    rows = []
    for i in range(10):
        eps = (i % 3) * 0.01
        rows.append((i, [0.4 + eps, 0.4, 0.0, 0.0], 1))        # target
        rows.append((100 + i, [-0.4 - eps, 0.1, 0.0, 0.0], 2))  # other
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>, label int")
    out = centroid_affinity(df, F.col("label") == 1).collect()
    tgt = [r["affinity_q"] for r in out if r["in_target"] == 1]
    rest = [r["affinity_q"] for r in out if r["in_target"] == 0]
    assert min(tgt) > max(rest)


def test_centroid_affinity_skips_null_vectors_and_empty_target_raises(spark):
    import pytest as _pytest
    from tantalus_spark.datapipe.similarity import centroid_affinity
    from pyspark.sql import functions as F

    rows = [(1, [0.1, 0.2], 1), (2, None, 1), (3, [0.3, 0.1], 2)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>, label int")
    out = centroid_affinity(df, F.col("label") == 1).collect()
    assert {r["vec_id"] for r in out} == {1, 3}
    with _pytest.raises(ValueError, match="target slice is empty"):
        centroid_affinity(df, F.col("label") == 99)


def test_affinity_score_stream_matches_batch(spark, tmp_path):
    """Affinity scoring against a frozen quantized centroid is a
    stateless projection (quantize + integer dot, no state, no
    watermark), so the same expressions run directly on a stream in
    append mode and are bit-identical to the batch scorer."""
    import numpy as np
    from tantalus_spark.datapipe.similarity import (
        _quantize_expr, affinity_expr, centroid_affinity,
        train_quantized_centroid)

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-0.5, 0.5, size=(30, 6)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], i % 3) for i in range(30)]
    schema = "vec_id long, embedding array<float>, label int"
    batch = spark.createDataFrame(rows, schema)
    centroid = train_quantized_centroid(batch, F.col("label") == 0)

    src = str(tmp_path / "vecs")
    batch.repartition(2).write.parquet(src)
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 1).load(src))
    scored = (stream.select("vec_id", _quantize_expr("embedding", 1_000_000)
                            .alias("_qv"))
              .select("vec_id", affinity_expr("_qv", centroid)
                      .alias("affinity_q")))
    q = (scored.writeStream.format("memory").queryName("affinity_scores")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r["vec_id"]: r["affinity_q"]
           for r in spark.sql("SELECT * FROM affinity_scores").collect()}
    want = {r["vec_id"]: r["affinity_q"]
            for r in centroid_affinity(batch, F.col("label") == 0).collect()}
    assert got == want and len(got) == 30


def test_sq8_reconstruction_exact_integer_diagnostics(spark):
    from tantalus_spark.datapipe.similarity import (
        sq8_reconstruction, sq8_train_stats)

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 7.5]), (2, [1.0, 10.0, 7.5]),
         (3, [0.5, 5.0, 7.5]), (4, None), (5, [1.0, 2.0])],
        "vec_id long, embedding array<float>")
    stats = sq8_train_stats(df)
    assert stats == [(0.0, 1.0), (0.0, 10.0), (7.5, 7.5)]
    out = {r["vec_id"]: r for r in
           sq8_reconstruction(df, stats).collect()}
    # null and ragged vectors are filtered by the dimension guard
    assert set(out) == {1, 2, 3}
    # exact endpoints: codes 0 and 255, zero reconstruction error;
    # the constant dim (scale 0) contributes code 0 / error 0
    assert out[1]["code_sum"] == 0 and out[1]["err2_pico"] == 0
    assert out[2]["code_sum"] == 510 and out[2]["err2_pico"] == 0
    assert out[1]["rmse_micro"] == 0 and out[2]["rmse_micro"] == 0
    # interior point: Python mirror of the exact integer pipeline
    import math
    exp_code_sum, exp_err = 0, 0
    for x, (lo, hi) in zip([0.5, 5.0, 7.5], stats):
        scale = hi - lo
        if scale == 0.0:
            continue
        code = min(max(math.floor((x - lo) / scale * 255.0 + 0.5), 0), 255)
        e = x - (lo + code * scale / 255.0)
        exp_code_sum += code
        exp_err += math.floor(e * e * 1e12 + 0.5)
    assert out[3]["code_sum"] == exp_code_sum
    assert out[3]["err2_pico"] == exp_err
    assert out[3]["rmse_micro"] == math.floor(
        math.sqrt(exp_err / 1e12 / 3.0) * 1e6 + 0.5)


def test_lsh_paths_ragged_vector_raises(spark):
    """_dot_literal fixes the hyperplane dimension from the first
    non-null row; a mixed-dimension corpus must fail loudly instead of
    truncating longer vectors / ANSI-throwing a contextless
    element_at error on shorter ones (ADVICE r5)."""
    from tantalus_spark.datapipe.similarity import (
        embedding_near_dup_pairs, knn_graph_lsh)

    rows = [(1, [0.1, 0.2, 0.3]), (2, [0.2, 0.1, 0.4]),
            (3, [0.5, 0.5])]     # ragged: 2-dim vs 3-dim corpus
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dimension"):
        embedding_near_dup_pairs(df, n_hyperplanes=4).collect()
    with pytest.raises(Exception, match="dimension"):
        knn_graph_lsh(df, k=2).collect()


def test_length_outliers_rejects_fractional_z():
    """z² folds into the exact DECIMAL(38,0) algebra; a fractional z²
    would be silently truncated by the cast (ADVICE r5)."""
    from tantalus_spark.datapipe.textstats import length_outliers

    with pytest.raises(ValueError, match="integer z"):
        length_outliers(None, z=1.5)


def test_hard_negatives_known_geometry(spark):
    """Anchors must rank cross-label vectors by true cosine: with
    orthogonal-ish axes the nearest different-label vector is the one
    sharing the anchor's direction."""
    rows = [
        (1, [1.0, 0.0, 0.0], 1),
        (2, [0.9, 0.1, 0.0], 0),   # closest to anchor 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 1),
        (5, [0.1, 0.0, 0.9], 0),   # closest to anchor 4
    ]
    from pyspark.sql import functions as F
    from tantalus_spark.datapipe.similarity import hard_negatives

    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(df, k=1, anchor_cond=F.col("label") == 1)
    got = {r["vec_id"]: r["neg_id"] for r in out.collect()}
    assert got == {1: 2, 4: 5}
    # negatives never share the anchor's label
    assert all(r["neg_label"] == 0 for r in out.collect())


def test_hard_negatives_string_ids_and_labels(spark):
    """Output id/label dtypes must follow the input schema — string
    ids/labels crashed inside the UDF when int64/int32 were hard-coded
    (ADVICE r6). Same geometry as the known-geometry test, re-keyed."""
    rows = [
        ("a1", [1.0, 0.0, 0.0], "pos"),
        ("c2", [0.9, 0.1, 0.0], "neg"),   # closest to anchor a1
        ("c3", [0.0, 1.0, 0.0], "neg"),
        ("a4", [0.0, 0.0, 1.0], "pos"),
        ("c5", [0.1, 0.0, 0.9], "neg"),   # closest to anchor a4
    ]
    from pyspark.sql import functions as F
    from tantalus_spark.datapipe.similarity import hard_negatives

    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, label string")
    out = hard_negatives(df, k=1, anchor_cond=F.col("label") == "pos")
    assert dict(out.dtypes)["vec_id"] == "string"
    assert dict(out.dtypes)["neg_label"] == "string"
    got = {r["vec_id"]: r["neg_id"] for r in out.collect()}
    assert got == {"a1": "c2", "a4": "c5"}

    # unsupported id type fails fast with a clear message
    bad = spark.createDataFrame(
        [([1], [1.0], 0)],
        "vec_id array<int>, embedding array<float>, label int")
    with pytest.raises(TypeError, match="unsupported 'vec_id'"):
        hard_negatives(bad, k=1)


def test_retrieval_metrics_hand_computed(spark):
    """Five ranked docs, relevant = {d1, d3, d9} (d9 never retrieved):
    metrics at k=1 and k=5 against hand-computed values."""
    import math

    from tantalus_spark.datapipe.similarity import retrieval_metrics

    ranked = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)], "doc_id long, rank int")
    relevant = spark.createDataFrame([(1,), (3,), (9,)], "doc_id long")
    out = {r["k"]: r for r in
           retrieval_metrics(ranked, relevant, ks=(1, 5)).collect()}
    r1, r5 = out[1], out[5]
    assert r1["hits"] == 1 and r1["precision_k"] == 1.0
    assert r1["recall_k"] == round(1 / 3, 4) and r1["mrr"] == 1.0
    assert r1["ndcg"] == 1.0          # best possible single hit
    assert r5["hits"] == 2 and r5["precision_k"] == 0.4
    assert r5["recall_k"] == round(2 / 3, 4) and r5["mrr"] == 1.0
    dcg = (math.floor(1e9 / math.log2(2) + 0.5)
           + math.floor(1e9 / math.log2(4) + 0.5))
    idcg = sum(math.floor(1e9 / math.log2(i + 1) + 0.5)
               for i in (1, 2, 3))
    assert r5["ndcg"] == round(dcg / idcg, 4)


def test_jl_project_matches_numpy_reference(spark):
    """The Spark projection equals a pure-Python rebuild from the same
    md5 sign matrix and micro-quantized components — exact integers."""
    import hashlib
    import math

    from tantalus_spark.datapipe.similarity import jl_project

    vecs = [(1, [0.5, -0.25, 0.125, 1.0]),
            (2, [-1.0, 0.0, 0.75, -0.5])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: list(r["proj"])
           for r in jl_project(df, out_dim=3).collect()}

    def sgn(j, i):
        h = int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:15], 16)
        return 1 - 2 * (h % 2)

    for vid, v in vecs:
        xm = [math.floor(x * 1e6 + 0.5) for x in v]
        want = [sum(sgn(j, i) * xm[i] for i in range(4)) for j in range(3)]
        assert got[vid] == want, (vid, got[vid], want)


def test_jl_distortion_identical_vectors_have_zero_error(spark):
    """Two identical embeddings have cosine 1 in BOTH spaces — the
    projection is a linear map, so exact duplicates stay exact."""
    from tantalus_spark.datapipe.similarity import jl_distortion_pairs

    v = [float(k % 7) / 7.0 - 0.4 for k in range(16)]
    w = [float((k * 3) % 5) / 5.0 - 0.3 for k in range(16)]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, w)], "vec_id long, embedding array<float>")
    out = jl_distortion_pairs(df, out_dim=4, n_probes=3)
    rows = {(r["id_a"], r["id_b"]): r.asDict() for r in out.collect()}
    out.unpersist()
    assert rows[(1, 2)]["cos_orig"] == 1.0
    assert rows[(1, 2)]["cos_proj"] == 1.0
    assert rows[(1, 2)]["abs_err"] == 0.0
    assert len(rows) == 3


def test_ivf_recall_full_probe_is_exact(spark):
    """Probing every list IS brute force: recall@k must be exactly 1.0
    for all queries; with fewer probes recall stays in [0, 1]."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import ivf_recall

    emb = read_parquet(spark,
                       "/root/testdata/sf0.001/embeddings.parquet")
    full = ivf_recall(emb, n_centroids=4, k=5, nprobe=4, n_queries=5)
    rows = full.collect()
    full.unpersist()
    assert len(rows) == 5
    assert all(r["recall"] == 1.0 and r["n_hits"] == 5 for r in rows)
    part = ivf_recall(emb, n_centroids=4, k=5, nprobe=1, n_queries=5)
    prows = part.collect()
    part.unpersist()
    assert all(0.0 <= r["recall"] <= 1.0 for r in prows)
    # the query's own vector is in its probed list: recall never 0
    assert all(r["n_hits"] >= 1 for r in prows)


def test_ivf_recall_rejects_missing_head_ids(spark):
    from tantalus_spark.datapipe.similarity import ivf_recall

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (5, [1.0, 1.0])],
        "vec_id long, embedding array<float>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="absent"):
        ivf_recall(emb, n_centroids=2, k=2, nprobe=1, n_queries=2)


def test_pq_topk_batch_matches_per_query(spark):
    """Batch ADC must be bit-identical to per-query pq_topk for every
    query in the batch — same codes, same dot tables, same ranking."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe import similarity as sim
    from pyspark.sql import functions as F

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    iv = emb.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * F.lit(32.0))
                    .cast("double")).alias("embedding"))
    head = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in iv.filter(F.col("vec_id") <= 8)
                       .orderBy("vec_id").collect()}
    books = [[head[c + 1][j * 16:(j + 1) * 16] for c in range(4)]
             for j in range(4)]
    queries = [(i, head[i]) for i in range(3)]
    enc = sim.pq_encode(iv, books).persist()
    batch = {(r["query_id"], r["vec_id"]): r["adc_dot"]
             for r in sim.pq_topk_batch(enc, books, queries, k=5)
                         .collect()}
    for qid, qv in queries:
        single = sim.pq_topk(enc, books, qv, k=5).collect()
        for r in single:
            assert batch[(qid, r["vec_id"])] == r["adc_dot"], (qid, r)
    assert len(batch) == 15
    enc.unpersist()


def test_pq_recall_bounds_and_self_hit(spark):
    """Recall in [0,1] for every query; identity queries (query vector
    IS an indexed vector) keep their own id in the ADC top-k for this
    well-separated integerized data, so n_hits >= 1."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import pq_recall

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    out = pq_recall(emb, m=8, n_codes=16, k=10, n_queries=5)
    rows = out.collect()
    out.unpersist()
    assert len(rows) == 5
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)


def test_ivf_index_health_matches_standalone_audits(spark):
    """The one-pass health report's balance columns equal
    ivf_list_balance and its recall aggregates equal ivf_recall's
    per-query rows aggregated — the composition changes the number of
    assign passes, never a value."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import (
        ivf_index_health, ivf_list_balance, ivf_recall)

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    health = ivf_index_health(emb, n_centroids=8, k=10, nprobe=2,
                              n_queries=10)
    hrows = {r["ivf_list"]: r.asDict() for r in health.collect()}
    health.unpersist()
    assert len(hrows) == 8

    head = (emb.filter("embedding is not null and vec_id < 8")
               .orderBy("vec_id").collect())
    cents = [[float(x) for x in r["embedding"]] for r in head]
    brows = {r["ivf_list"]: r.asDict()
             for r in ivf_list_balance(emb, cents).collect()}
    for lst, b in brows.items():
        h = hrows[lst]
        assert (h["n_vecs"], h["share"], h["imbalance"]) == \
            (b["n_vecs"], b["share"], b["imbalance"]), (lst, h, b)

    rec = ivf_recall(emb, n_centroids=8, k=10, nprobe=2, n_queries=10)
    rrows = [r["n_hits"] for r in rec.collect()]
    rec.unpersist()
    mean_recall = round(sum(rrows) / 100.0, 4)
    min_recall = round(min(rrows) / 10.0, 4)
    for h in hrows.values():
        assert h["mean_recall"] == mean_recall, (h, mean_recall)
        assert h["min_recall"] == min_recall, (h, min_recall)


def test_ann_index_maintenance_rebuild_equal(spark):
    """merge_ann_index / prune_ann_index over the frozen quantizer +
    codebooks are bit-identical to a rebuild over the maintained
    population — per-vector independence, the third index family's
    lifecycle contract (postings and dense-hash have theirs in
    test_textstats)."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import (
        ivf_assign, merge_ann_index, pq_encode, prune_ann_index)
    from pyspark.sql import functions as F

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    iv = (emb.filter("embedding is not null")
             .select("vec_id",
                     F.transform("embedding",
                                 lambda x: F.floor(x.cast("double")
                                                   * F.lit(32.0))
                                 .cast("double")).alias("embedding")))
    head = iv.filter("vec_id <= 16").orderBy("vec_id").collect()
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in head}
    cents = [by_id[i] for i in range(8)]
    books = [[by_id[c + 1][j * 8:(j + 1) * 8] for c in range(16)]
             for j in range(8)]

    def build(pop):
        return (ivf_assign(pop, cents).select("vec_id", "ivf_list")
                .join(pq_encode(pop, books), "vec_id"))

    old = iv.filter("vec_id < 300")
    new = iv.filter("vec_id >= 300")
    maintained = merge_ann_index(
        prune_ann_index(build(old),
                        old.filter("vec_id % 7 = 0").select("vec_id")),
        new, cents, books)
    survivors = iv.filter(
        "(vec_id < 300 and vec_id % 7 <> 0) or vec_id >= 300")
    want = build(survivors)
    norm = lambda df: sorted(
        (r["vec_id"], r["ivf_list"], tuple(r["pq_code"]))
        for r in df.collect())
    assert norm(maintained) == norm(want)
    # a tombstone for a never-indexed id is a no-op
    assert norm(prune_ann_index(
        maintained,
        spark.createDataFrame([(999999,)], "vec_id long"))) == norm(want)


def test_ivf_pq_topk_batch_matches_per_query(spark):
    """The batched ANN server (one job per query set) is per-query
    identical to ivf_pq_topk on the same frozen artifacts — same probe
    ranking, same ADC table, same total order; exact on integerized
    vectors. Duplicate query ids are rejected loudly."""
    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import (
        ivf_assign, ivf_pq_topk, ivf_pq_topk_batch, pq_encode)

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    iv = (emb.filter("embedding is not null")
             .select("vec_id",
                     F.transform("embedding",
                                 lambda x: F.floor(x.cast("double")
                                                   * F.lit(32.0))
                                 .cast("double")).alias("embedding")))
    head = iv.filter("vec_id <= 16").orderBy("vec_id").collect()
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in head}
    cents = [by_id[i] for i in range(8)]
    books = [[by_id[c + 1][j * 8:(j + 1) * 8] for c in range(16)]
             for j in range(8)]
    codes = (ivf_assign(iv, cents).select("vec_id", "ivf_list")
             .join(pq_encode(iv, books), "vec_id")).persist()
    codes.count()

    queries = [(0, by_id[0]), (5, by_id[5]), (9, by_id[9])]
    batched = ivf_pq_topk_batch(codes, cents, books, queries,
                                k=7, nprobe=2)
    got = [r.asDict() for r in batched.collect()]
    for qid, qv in queries:
        want = sorted((r["vec_id"], r["adc_dot"]) for r in
                      ivf_pq_topk(codes, cents, books, qv, k=7,
                                  nprobe=2).collect())
        have = sorted((r["vec_id"], r["adc_dot"])
                      for r in got if r["query_id"] == qid)
        assert have == want and len(have) == 7, (qid, have, want)
    with pytest.raises(ValueError, match="duplicate query ids"):
        ivf_pq_topk_batch(codes, cents, books,
                          [(1, by_id[0]), (1, by_id[5])])
    codes.unpersist()


def test_ivf_pq_topk_batch_dataframe_queries_bit_parity(spark):
    """The offline-eval input shape: ivf_pq_topk_batch with a
    (query_id, embedding) DataFrame must be per-query bit-identical to
    both the list input AND the scalar server on integerized vectors —
    probe ranking moves to an expression over the centroid literals
    (same IEEE fold as _cos_py, same cid-asc tie-break) and the ADC
    dot is computed inline with the scalar path's left-to-right
    subspace fold."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import (
        ivf_assign, ivf_pq_topk, ivf_pq_topk_batch, pq_encode)

    emb = read_parquet(spark,
                       "/root/testdata/sf0.001/embeddings.parquet")
    iv = (emb.filter("embedding is not null")
             .select("vec_id",
                     F.transform("embedding",
                                 lambda x: F.floor(x.cast("double")
                                                   * F.lit(32.0))
                                 .cast("double")).alias("embedding")))
    head = iv.filter("vec_id <= 16").orderBy("vec_id").collect()
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in head}
    cents = [by_id[i] for i in range(8)]
    books = [[by_id[c + 1][j * 8:(j + 1) * 8] for c in range(16)]
             for j in range(8)]
    codes = (ivf_assign(iv, cents).select("vec_id", "ivf_list")
             .join(pq_encode(iv, books), "vec_id"))

    queries = [(1, by_id[3]), (2, by_id[9]), (3, by_id[11])]
    lst = ivf_pq_topk_batch(codes, cents, books, queries, k=5,
                            nprobe=2)
    qdf = spark.createDataFrame(queries,
                                "query_id long, embedding array<double>")
    dfp = ivf_pq_topk_batch(codes, cents, books, qdf, k=5, nprobe=2)
    a = sorted(map(tuple, lst.collect()))
    b = sorted(map(tuple, dfp.collect()))
    assert a == b and len(a) == 15
    for qid, qv in queries:
        s = sorted(map(tuple,
                       ivf_pq_topk(codes, cents, books, qv, k=5,
                                   nprobe=2).collect()))
        d = sorted((r[1], r[2]) for r in b if r[0] == qid)
        assert s == d, qid
    import pytest as _pytest

    dup = spark.createDataFrame([(1, by_id[3]), (1, by_id[9])],
                                "query_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="duplicate query ids"):
        ivf_pq_topk_batch(codes, cents, books, dup, k=5, nprobe=2)
