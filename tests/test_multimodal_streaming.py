"""Incremental near-dup and decontamination over a document stream,
built from the batch operators a ``foreachBatch`` sink calls: each
micro-batch is probed with ``novel_documents`` against the band index of
the batches before it, or run through ``decontaminate``, and the stream's
answer must equal the batch operator's on the whole corpus."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tantalus_spark.catalog.loader import read_parquet
from tantalus_spark.datapipe.dedup import (
    decontaminate,
    minhash_bands,
    minhash_lsh_pairs,
    novel_documents,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_incremental_lsh_stream_matches_batch(spark, tmp_path,
                                              replay_stream):
    """Replaying the corpus as a three-file stream, a doc is flagged
    non-novel exactly when the batch (band, bucket) self-join pairs it
    with a doc of an EARLIER micro-batch, and every batch-VERIFIED
    near-dup pair that spans two micro-batches flags its later doc."""
    docs = read_parquet(spark, DOCS).select("doc_id", "text")
    # batch truth: same row-local band hashes, (band, bucket) self-join
    b = minhash_bands(docs).select(
        "doc_id", F.posexplode("bands").alias("band", "bucket"))
    x, y = b.alias("x"), b.alias("y")
    band_pairs = [
        (r["d1"], r["d2"])
        for r in x.join(y, (F.col("x.band") == F.col("y.band"))
                        & (F.col("x.bucket") == F.col("y.bucket"))
                        & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct().collect()
    ]

    index = str(tmp_path / "band_index")
    batch_of, flags = {}, {}

    def on_batch(batch_df, batch_id):
        ids = [r["doc_id"] for r in batch_df.select("doc_id").collect()]
        batch_of.update(dict.fromkeys(ids, batch_id))
        if os.path.exists(index):
            probe = novel_documents(batch_df, spark.read.parquet(index))
            flags.update((r["doc_id"], r["is_novel"])
                         for r in probe.collect())
        else:                                   # nothing indexed yet
            flags.update(dict.fromkeys(ids, True))
        minhash_bands(batch_df).write.mode("append").parquet(index)

    replay_stream([docs.filter(F.col("doc_id") % 3 == k) for k in range(3)],
                  on_batch)

    assert len(set(batch_of.values())) == 3
    assert set(flags) == set(batch_of)
    hit = set()
    for d1, d2 in band_pairs:
        if batch_of[d1] != batch_of[d2]:
            hit.add(d1 if batch_of[d1] > batch_of[d2] else d2)
    assert flags == {d: d not in hit for d in batch_of}
    assert hit, "fixture must have near-dups across micro-batches"
    # candidate recall vs the full batch operator's verified output
    verified = [(r["d1"], r["d2"])
                for r in minhash_lsh_pairs(docs, threshold=0.2).collect()]
    for d1, d2 in verified:
        if batch_of[d1] != batch_of[d2]:
            later = d1 if batch_of[d1] > batch_of[d2] else d2
            assert not flags[later], (d1, d2)


def test_decontaminate_stream_matches_batch(spark, replay_stream):
    """Decontamination is per document: running ``decontaminate`` on each
    micro-batch of a two-file corpus stream flags exactly the batch
    run's docs with the same shared-13-gram counts, and the clean sets
    agree."""
    docs = read_parquet(spark, DOCS).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    _, hits = decontaminate(corpus, bench, n=13)
    batch_hits = {r["doc_id"]: r["n_hits"] for r in hits.collect()}
    assert batch_hits, "fixture must contain contamination"

    stream_hits, n_clean = {}, []

    def on_batch(batch_df, batch_id):
        clean, hits = decontaminate(batch_df, bench, n=13)
        for r in hits.collect():
            assert r["doc_id"] not in stream_hits
            stream_hits[r["doc_id"]] = r["n_hits"]
        n_clean.append(clean.count())

    replay_stream([corpus.filter(F.col("doc_id") % 2 == k) for k in (0, 1)],
                  on_batch)
    assert len(n_clean) == 2
    assert stream_hits == batch_hits
    assert sum(n_clean) == corpus.count() - len(batch_hits)


def test_novel_documents_is_the_batch_twin_of_the_stream_index(spark):
    """Batch novel_documents must agree with the state an incremental
    band index keeps, the set of (band, bucket) pairs of every indexed
    doc, here collected from the corpus's minhash_bands rows: a new doc
    is non-novel exactly when one of its pairs is in that set; a doc
    too short to band has no row and is novel."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.dedup import minhash_bands, novel_documents

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    flags = {r["doc_id"]: r["is_novel"]
             for r in novel_documents(new, minhash_bands(corpus)).collect()}

    indexed = {(band, h) for r in minhash_bands(corpus).collect()
               for band, h in enumerate(r["bands"])}
    new_bands = {r["doc_id"]: r["bands"]
                 for r in minhash_bands(new).collect()}
    expected = {
        d: not any((band, h) in indexed
                   for band, h in enumerate(new_bands.get(d, [])))
        for d in (r["doc_id"] for r in new.select("doc_id").collect())
    }
    assert flags == expected
    assert any(not v for v in flags.values())     # fixture has real dups


def test_novel_documents_from_persisted_index(spark, tmp_path_factory):
    """The docstring's claimed workflow end to end: band the corpus,
    PERSIST the index as parquet, reload in a fresh frame, and probe a
    new batch against it — flags must match the in-memory path."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.dedup import minhash_bands, novel_documents

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    want = {r["doc_id"]: r["is_novel"]
            for r in novel_documents(new, minhash_bands(corpus)).collect()}

    idx_path = str(tmp_path_factory.mktemp("bandidx") / "index.parquet")
    minhash_bands(corpus).write.mode("overwrite").parquet(idx_path)
    reloaded = spark.read.parquet(idx_path)
    got = {r["doc_id"]: r["is_novel"]
           for r in novel_documents(new, reloaded).collect()}
    assert got == want and any(not v for v in got.values())
