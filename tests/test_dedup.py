

def test_dedup_funnel_stage_attribution(spark):
    """Each stage catches exactly its own class: byte-identical copies
    at 'exact', NFC/whitespace variants at 'nfc', high-Jaccard
    near-dups at 'near'; unique docs and all canonical (min-id) group
    representatives are 'kept'. Null text is excluded."""
    from tantalus_spark.datapipe.dedup import dedup_funnel

    shared = ("the quick brown fox jumps over the lazy dog while "
              "seventeen astronomers measure parallax angles at dawn")
    rows = [
        (1, shared),                         # canonical of 1/2/3/4
        (2, shared),                         # exact dup of 1
        (3, shared + "  "),                  # whitespace variant -> nfc
        (4, shared + " tonight"),            # near-dup of 1
        (5, "completely different text about catalyst optimizer "
            "rules and adaptive query execution in modern engines"),
        (6, None),                           # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_funnel(df, threshold=0.2, n=3, max_shingle_freq=None)
    got = {r["doc_id"]: r["stage"] for r in out.collect()}
    out.unpersist()
    assert got == {1: "kept", 2: "exact", 3: "nfc", 4: "near",
                   5: "kept"}, got


def test_band_index_maintenance_rebuild_equal(spark):
    """merge_band_index / prune_band_index are bit-identical to
    re-banding the maintained population (per-doc independence), and a
    pruned doc stops blocking novelty for its near-twins — the
    right-to-be-forgotten property of the dedup state."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.dedup import (
        merge_band_index, minhash_bands, novel_documents,
        prune_band_index)

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    idx = minhash_bands(docs.filter("doc_id % 2 = 0"), hash_family="md5")
    maintained = merge_band_index(
        prune_band_index(idx,
                         docs.filter("doc_id % 10 = 0").select("doc_id")),
        docs.filter("doc_id % 4 = 1"), hash_family="md5")
    survivors = docs.filter(
        "(doc_id % 2 = 0 and doc_id % 10 <> 0) or doc_id % 4 = 1")
    want = minhash_bands(survivors, hash_family="md5")
    norm = lambda df: sorted((r["doc_id"], tuple(r["bands"]))
                             for r in df.collect())
    assert norm(maintained) == norm(want)

    # right-to-be-forgotten: doc X is indexed, its exact twin probes as
    # NOT novel; after pruning X the same probe is novel
    twin_src = docs.filter("doc_id = 2").select(
        F.lit(100001).cast("long").alias("doc_id"), "text")
    idx2 = minhash_bands(docs.filter("doc_id = 2"), hash_family="md5")
    before = novel_documents(twin_src, idx2, hash_family="md5").collect()
    assert before[0]["is_novel"] is False
    idx3 = prune_band_index(
        idx2, spark.createDataFrame([(2,)], "doc_id long"))
    after = novel_documents(twin_src, idx3, hash_family="md5").collect()
    assert after[0]["is_novel"] is True
