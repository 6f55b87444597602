"""Streaming snapshot ingest end to end: a raw corpus file stream is
cleaned per micro-batch by ``clean_corpus`` and each batch MERGEs into a
hive-partitioned parquet snapshot through ``merge_into_snapshot`` from a
``foreachBatch`` writer. Covers bootstrap, incremental merge across
restarts (same checkpoint), batch-parity of the final snapshot, and
replay idempotence."""

from __future__ import annotations

import datetime as dt
import os

from tantalus_spark.datapipe.pipeline import clean_corpus
from tantalus_spark.sources.sink import merge_into_snapshot

GOOD = ("this is a perfectly ordinary english document with the usual "
        "words and a measured amount of prose to pass the gates")
SPAM = "x" * 40                                  # fails alpha/token gates
GATES = dict(min_tokens=5, max_tokens=1000, min_alpha_ratio=0.5,
             langs=("en",))


def _rows(ids, text=GOOD):
    base = dt.datetime(2024, 1, 1, 12, 0)
    return [(i, f"{text} marker{i}", base + dt.timedelta(minutes=i))
            for i in ids]


SCHEMA = "doc_id long, text string, ts timestamp"


def _snapshot_writer(snap):
    """foreachBatch sink: the first non-empty batch creates the snapshot
    layout, every later one is an idempotent upsert keyed on doc_id."""
    def write_batch(batch_df, batch_id):
        cleaned = clean_corpus(batch_df, **GATES)
        if cleaned.isEmpty():
            return
        if not os.path.exists(snap):
            (cleaned.write.mode("overwrite")
             .partitionBy("lang_pred").parquet(snap))
            return
        merge_into_snapshot(batch_df.sparkSession, snap, upserts=cleaned,
                            key_cols=["doc_id"], partition_col="lang_pred")

    return write_batch


def test_stream_snapshot_bootstrap_parity_and_restart(
        spark, tmp_path, replay_stream):
    snap = str(tmp_path / "snap")
    first = _rows(range(10)) + [(50, SPAM, dt.datetime(2024, 1, 1))]
    df1 = spark.createDataFrame(first, SCHEMA)
    halves = [df1.filter("doc_id < 5 OR doc_id = 50"),
              df1.filter("doc_id >= 5 AND doc_id < 50")]
    replay_stream(halves, _snapshot_writer(snap), name="ingest")

    got = spark.read.parquet(snap)
    want = {r.doc_id for r in clean_corpus(df1, **GATES).collect()}
    assert {r.doc_id for r in got.collect()} == want == set(range(10))
    assert "lang_pred" in got.columns             # partition column kept
    assert 50 not in want                         # gate actually fired

    # restart with the SAME checkpoint: only new files process, and the
    # merge upserts into the existing snapshot without touching doc 0-9
    seen = []

    def tracking_writer(batch_df, batch_id):
        seen.extend(r.doc_id for r in batch_df.select("doc_id").collect())
        _snapshot_writer(snap)(batch_df, batch_id)

    more = spark.createDataFrame(_rows(range(10, 16)), SCHEMA)
    replay_stream([more], tracking_writer, name="ingest")
    assert sorted(seen) == list(range(10, 16))
    after = {r.doc_id for r in spark.read.parquet(snap).collect()}
    assert after == set(range(16))


def test_merge_batch_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (crash between sink write and checkpoint
    advance) must rewrite the same rows, not duplicate them."""
    from tantalus_spark.sources.sink import merge_into_snapshot

    snap = str(tmp_path / "snap")
    batch = clean_corpus(
        spark.createDataFrame(_rows(range(6)), SCHEMA),
        min_tokens=5, max_tokens=1000, min_alpha_ratio=0.5, langs=("en",))
    batch.write.mode("overwrite").partitionBy("lang_pred").parquet(snap)
    for _ in range(2):                            # replay twice more
        merge_into_snapshot(spark, snap, upserts=batch,
                            key_cols=["doc_id"], partition_col="lang_pred")
    rows = spark.read.parquet(snap).collect()
    assert sorted(r.doc_id for r in rows) == list(range(6))
