"""The full user journey, one test: raw JSONL crawl shards (with corrupt
lines and HTML tag soup) → quarantine → markup strip → quality/language/
dedup gates → cross-doc boilerplate line removal → corpus report →
partitioned parquet snapshot. Every stage is the public operator a user
composes; the assertions pin what survives and why."""

from __future__ import annotations

import gzip
import json

import pytest

from pyspark.sql import functions as F

from tantalus_spark.datapipe.dedup import dedup_lines
from tantalus_spark.datapipe.pipeline import clean_corpus, corpus_report
from tantalus_spark.datapipe.textstats import strip_markup
from tantalus_spark.sources.jsonl import (
    DOCUMENT_SCHEMA, read_jsonl, split_corrupt,
)

BOILER = "Subscribe to our newsletter"
GOOD = ("this is a perfectly ordinary english document with the usual "
        "words and enough measured prose to pass every quality gate")


def _shards(tmp_path):
    d = tmp_path / "crawl"
    d.mkdir()
    docs = []
    for i in range(8):
        docs.append({"doc_id": i, "source": "web", "lang": "en",
                     "text": f"<p>{GOOD} marker{i}</p>\n{BOILER}"})
    docs.append({"doc_id": 100, "source": "web", "lang": "en",
                 "text": docs[0]["text"]})               # exact dup of 0
    docs.append({"doc_id": 101, "source": "web", "lang": "en",
                 "text": "<div>xxxxxx</div>"})           # fails gates
    lines = [json.dumps(x) for x in docs]
    lines.insert(3, '{"doc_id": 999, "text": "trunc')    # corrupt line
    (d / "shard-0.jsonl").write_text("\n".join(lines[:6]) + "\n")
    with gzip.open(d / "shard-1.jsonl.gz", "wt") as f:
        f.write("\n".join(lines[6:]) + "\n")
    return str(d)


def test_end_to_end_crawl_to_snapshot(spark, tmp_path):
    raw = read_jsonl(spark, _shards(tmp_path), DOCUMENT_SCHEMA)
    clean_rows, quarantined = split_corrupt(raw)
    assert quarantined.count() == 1

    stripped = strip_markup(clean_rows)
    # markup gone before any token statistic sees the text
    assert stripped.filter(F.col("text").contains("<")).count() == 0

    survivors = clean_corpus(
        stripped, min_tokens=5, max_tokens=1000,
        min_alpha_ratio=0.5, langs=("en",))
    ids = {r.doc_id for r in survivors.collect()}
    # 8 originals survive; the exact dup kept min-id 0 (100 dropped);
    # the gibberish doc failed the gates
    assert ids == set(range(8))

    deduped = dedup_lines(
        stripped.join(survivors.select("doc_id"), "doc_id"), min_docs=2)
    rows = {r.doc_id: r for r in deduped.collect()}
    assert all(BOILER not in r.clean_text for r in rows.values())
    assert all(f"marker{i}" in rows[i].clean_text for i in range(8))

    report = corpus_report(
        deduped.select("doc_id", F.col("clean_text").alias("text"))).first()
    assert report.n_docs == 8 and report.dup_ratio == 0.0
    assert report.n_en == 8

    out = str(tmp_path / "snapshot")
    final = deduped.join(
        survivors.select("doc_id", "lang_pred"), "doc_id")
    final.write.partitionBy("lang_pred").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 8
    assert {r.lang_pred for r in back.select("lang_pred").collect()} == {"en"}


def test_journey_curated_corpus_to_training_order(spark):
    """Stage 2 of the journey: a cleaned corpus → LM quality filter
    (drop the tail tercile) → leak-free hash split → deterministic epoch
    order. Every stage is the public operator a
    training-data pipeline composes after cleaning."""
    from tantalus_spark.datapipe.scoring import (
        corpus_shuffle, perplexity_labels)
    from tantalus_spark.datapipe.sampling import hash_split

    rows = [(i, f"{GOOD} marker{i}") for i in range(20)]
    rows += [(100 + i, f"qzx{i}v wplk{i} mnvb{i}x zzq{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    labeled = perplexity_labels(docs)
    kept = docs.join(
        labeled.filter(F.col("bucket") != "tail").select("doc_id"), "doc_id")
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # the gibberish block is costlier than every ordinary doc; the tail
    # tercile of 30 docs is exactly the 10 gibberish ones
    assert kept_ids == set(range(20))

    split = hash_split(kept, {"train": 0.8, "val": 0.1, "test": 0.1})
    by_split = {r.doc_id: r.split for r in split.collect()}
    assert set(by_split) == kept_ids

    train = split.filter(F.col("split") == "train")
    order = corpus_shuffle(train, seed="epoch0", n_shards=4)
    got = order.collect()
    assert {r.doc_id for r in got} == {
        d for d, s in by_split.items() if s == "train"}
    for shard, n in [(r.shard, r.position) for r in got]:
        assert n >= 1


def test_journey_build_corpus_to_packed_sequences(spark):
    """Stage 3: the one-job corpus build (gates + decontamination + LM
    terciles, q108) feeding the packing writer — the complete raw-corpus
    → training-sequences path. Asserts the build's per-source token
    accounting agrees with what the packer actually packs."""
    from tantalus_spark.datapipe.pipeline import build_corpus
    from tantalus_spark.datapipe.scoring import perplexity_labels
    from tantalus_spark.datapipe.dedup import decontaminate
    from tantalus_spark.datapipe.pipeline import clean_corpus
    from tantalus_spark.datapipe.textstats import pack_sequences

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, bench_text, "bench")]
    rows += [(100 + i, f"{GOOD} marker{i} extra{i}", "web") for i in range(6)]
    rows += [(200 + i, f"qzx{i}v wplk{i} mnvb{i}x zzq{i} qq{i} ww{i} "
              f"ee{i} rr{i} tt{i} yy{i}", "crawl") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    report = build_corpus(docs, F.col("doc_id") < 100, shingle_n=5)
    by_src = {r["source"]: r for r in report.collect()}
    # the gibberish crawl block lands in the cost tail and is dropped
    assert "crawl" not in by_src and "bench" not in by_src
    kept_tokens = by_src["web"]["n_tokens"]
    assert by_src["web"]["n_docs"] == 6 and kept_tokens > 0

    # reproduce the kept set through the same public stages, then pack it
    corpus = docs.filter(F.col("doc_id") >= 100)
    cleaned = clean_corpus(corpus)
    _, hits = decontaminate(corpus, docs.filter(F.col("doc_id") < 100)
                            .select("text"), n=5)
    surv = cleaned.select("doc_id").join(hits.select("doc_id"),
                                         "doc_id", "left_anti")
    sdocs = corpus.join(surv, "doc_id", "left_semi")
    labeled = perplexity_labels(sdocs)
    kept = sdocs.join(labeled.filter(F.col("bucket") != "tail")
                      .select("doc_id"), "doc_id", "left_semi")

    # per-doc packing plan: token conservation — the packer accounts for
    # exactly the tokens the build report claimed
    plan = pack_sequences(kept, seq_len=16, n_shards=2).collect()
    assert sum(r["n_tokens"] for r in plan) == kept_tokens

    # writer half: actual sequences are exactly seq_len except each
    # shard's final partial, and conserve tokens too
    from tantalus_spark.datapipe.textstats import assemble_packed_sequences
    seqs = assemble_packed_sequences(kept, seq_len=16, n_shards=2).collect()
    assert sum(r["n_tokens"] for r in seqs) == kept_tokens
    per_shard_last = {}
    for r in seqs:
        per_shard_last[r["shard"]] = max(
            per_shard_last.get(r["shard"], -1), r["seq_id"])
    for r in seqs:
        if r["seq_id"] != per_shard_last[r["shard"]]:
            assert r["n_tokens"] == 16
