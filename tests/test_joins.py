"""Join-key and similarity-join helpers: ``epoch_expr`` (the event-time
key q50 sessionizes on) and the embedding near-dup pair self-join with
its LSH-banded form."""

from __future__ import annotations


def test_embedding_lsh_near_dup_subset_of_exact(spark):
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.similarity import embedding_near_dup_pairs

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_near_dup_pairs(emb, 0.45).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_near_dup_pairs(
               emb, 0.45, n_hyperplanes=2).collect()}
    assert lsh.keys() <= exact.keys()     # LSH never invents pairs
    assert len(exact) > 0 and lsh
    # the pairs LSH keeps carry the exact verifier's cosine values
    assert all(cos == exact[pair] for pair, cos in lsh.items())
    # with 2 hyperplanes recall should be well above random (1/4 of pairs
    # survive bucketing at random; similar pairs survive far more often)
    assert len(lsh) >= len(exact) // 4


def test_epoch_expr_all_type_branches(spark):
    """epoch_expr dispatches by schema type: TIMESTAMP, TIMESTAMP_NTZ,
    DATE, and numeric columns all yield the same epoch seconds for the
    same instant (UTC session pinned by get_spark)."""
    from tantalus_spark.functions.times import epoch_expr

    df = spark.sql("""
        SELECT timestamp'2024-03-05 06:07:08' AS ts,
               timestamp_ntz'2024-03-05 06:07:08' AS ntz,
               date'2024-03-05' AS d,
               1709618828.5 AS n
    """)
    row = df.select(
        epoch_expr(df, "ts").alias("e_ts"),
        epoch_expr(df, "ntz").alias("e_ntz"),
        epoch_expr(df, "d").alias("e_d"),
        epoch_expr(df, "n").alias("e_n"),
    ).first()
    assert row["e_ts"] == row["e_ntz"] == 1709618828.0
    assert row["e_d"] == 1709596800.0            # midnight UTC
    assert row["e_n"] == 1709618828.5            # numeric passthrough
