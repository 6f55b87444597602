"""The ``corpus_pipeline`` workload: one driver running repeated passes of
the document pipeline over a seeded corpus.

The corpus has the shape of the engine's ``documents`` test table
(doc_id, text, lang, source, n_chars): short technical texts over a small
vocabulary, mostly English with some Spanish, French, German and
untagged texts, a few very short or mostly numeric ones, exact copies and
near copies. Each pass runs:

1. ``pipeline.clean_corpus``;
2. ``dedup.minhash_lsh_pairs`` with xxhash64;
3. ``textstats.build_term_index`` and ``bm25_rank_indexed``;
4. three CDC commits through ``maintenance.index_refresh_batches`` into a
   fresh segmented store with ``max_segments=2`` (adds; adds with deletes
   and re-adds; adds that force a compaction fold), then
   ``load_term_index`` and a BM25 serve off the live store.

Every pass's results are digested. The first pass is the untimed
reference: its results are checked against the engine's DuckDB oracle
queries for the same steps, and every timed pass must reproduce its
digests.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np

QUERY_TERMS = ["customer", "merge", "sort"]
TOP_K = 15

WORDS = ("batch part spark line column order small sort value scan hash slow "
         "fast group agg filter query big key window row table stream merge "
         "data vector join index shuffle plan cache node task stage file "
         "customer record schema page commit").split()
STOPWORDS = {"en": ["the", "and", "of", "a"], "es": ["el", "la", "los", "de"],
             "fr": ["le", "la", "les", "des"], "de": ["der", "die", "das", "und"],
             "zh": []}


def generate_documents(seed: int, n_docs: int) -> dict[str, list]:
    rng = np.random.default_rng([seed, 3])
    langs = rng.choice(list(STOPWORDS), size=n_docs, p=[0.7, 0.08, 0.08, 0.08, 0.06])
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < 0.03:                       # exact copy
            texts.append(texts[int(rng.integers(i))])
            continue
        if i > 10 and roll < 0.08:                       # near copy
            toks = texts[int(rng.integers(i))].split()
            for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[j] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(toks))
            continue
        n = int(rng.integers(4, 12)) if roll < 0.12 else int(rng.integers(20, 110))
        if roll > 0.97:                                  # mostly numeric
            toks = [str(int(x)) for x in rng.integers(0, 10**6, n)]
        else:
            toks = [WORDS[int(k)] for k in rng.zipf(1.3, n) % len(WORDS)]
        stops = STOPWORDS[str(langs[i])]
        for j in range(0, n, 6):
            if stops:
                toks[j] = stops[int(rng.integers(len(stops)))]
        texts.append(" ".join(toks))
    return {"doc_id": list(range(n_docs)), "text": texts,
            "lang": [str(x) for x in langs],
            "source": [f"src{int(x)}" for x in rng.integers(0, 5, n_docs)],
            "n_chars": [len(t) for t in texts]}


def write_documents(docs: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"doc_id": pa.array(docs["doc_id"], pa.int64()),
                      "text": docs["text"], "lang": docs["lang"],
                      "source": docs["source"],
                      "n_chars": pa.array(docs["n_chars"], pa.int64())})
    # several row groups so the scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, len(docs["doc_id"]) // 16))


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_pass(spark, docs, store_dir: str, span=None, parallel: bool = False) -> dict:
    """One full pass; returns the result rows of every step, the store's
    bytes written and its live segment count. The four independent parts
    (cleaning, dedup, indexing and the store) run one after another, or
    on four threads with *parallel*, which shortens the cold first pass
    that warms the engine up."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe import dedup, pipeline, textstats
    from tantalus_spark.streaming import maintenance

    span = span or (lambda name: contextlib.nullcontext())
    out = {}

    def clean():
        with span("pipeline.clean_corpus"):
            out["clean"] = pipeline.clean_corpus(docs).collect()

    def pairs():
        with span("dedup.minhash_lsh"):
            out["pairs"] = dedup.minhash_lsh_pairs(
                docs, n_perm=16, bands=4, threshold=0.2,
                hash_family="xxhash64").collect()

    def index():
        with span("textstats.index_build"):
            idx, (n, avgdl) = textstats.build_term_index(docs, with_stats=True)
        with span("textstats.bm25_serve"):
            out["bm25"] = textstats.bm25_rank_indexed(
                idx, QUERY_TERMS, k=TOP_K, n_docs=n, avgdl=avgdl).collect()

    def store():
        shutil.rmtree(store_dir, ignore_errors=True)
        text = docs.select("doc_id", "text")
        add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
        dels = (text.filter(F.col("doc_id") % 21 == 0)
                .select("doc_id", F.lit(None).cast("string").alias("text"))
                .withColumn("op", F.lit("delete")))
        refresh = maintenance.index_refresh_batches(store_dir, op_col="op",
                                                    max_segments=2)
        with span("maintenance.commit"):
            refresh(add(text.filter(F.col("doc_id") % 3 == 0)), 0)
        with span("maintenance.commit"):
            refresh(add(text.filter(F.col("doc_id") % 3 == 1)).unionByName(dels)
                    .unionByName(add(text.filter(F.col("doc_id") % 42 == 0))), 1)
        with span("maintenance.fold"):
            refresh(add(text.filter(F.col("doc_id") % 3 == 2)), 2)
        out["store_bytes"] = _dir_bytes(store_dir)
        with span("maintenance.load"):
            postings, (n2, avgdl2) = maintenance.load_term_index(spark, store_dir)
        with span("textstats.bm25_serve"):
            out["served"] = textstats.bm25_rank_indexed(
                postings, QUERY_TERMS, k=TOP_K, n_docs=n2, avgdl=avgdl2).collect()
        out["segments"] = _live_segments(store_dir)

    parts = (clean, pairs, index, store)
    if parallel:
        with ThreadPoolExecutor(len(parts)) as pool:
            for f in [pool.submit(p) for p in parts]:
                f.result()
    else:
        for p in parts:
            p()
    return out


def _live_segments(store_dir: str) -> int:
    """Segments in the current manifest, read from the store's files."""
    import json

    from tantalus_spark.streaming.maintenance import index_versions

    current = [v["version"] for v in index_versions(store_dir) if v["current"]]
    with open(os.path.join(store_dir, current[0], "manifest.json")) as fh:
        return len(json.load(fh)["segments"])


def digests(result: dict) -> dict[str, str]:
    return {k: _digest(result[k]) for k in ("clean", "pairs", "bm25", "served")}


# ------------------------------------------------------------- reference

def reference_check(docs_path: str, result: dict) -> list[str]:
    """Check the reference pass against DuckDB: the engine's oracle SQL
    for corpus cleaning, indexed BM25 and the segmented-store serve, and
    an exact shingle Jaccard for every near-duplicate pair reported."""
    import duckdb

    from tantalus_spark.inventory import ORACLES

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    bad = []

    def rows(sql):
        return sorted(tuple(r) for r in con.sql(sql).fetchall())

    want = rows(ORACLES["58_clean_corpus"])
    got = sorted(tuple(r) for r in result["clean"])
    if got != want:
        bad.append(f"clean_corpus: {len(got)} rows vs oracle {len(want)}")
    for key, name in (("bm25", "123_bm25_indexed"),
                      ("served", "152_segmented_store_serve")):
        want = rows(ORACLES[name])
        got = sorted((r["doc_id"], r["score_nano"], r["n_terms_hit"], r["bm25"])
                     for r in result[key])
        if got != want:
            bad.append(f"{key}: {got[:3]} vs oracle {want[:3]}")
    pairs = [(r["d1"], r["d2"], r["jaccard"]) for r in result["pairs"]]
    if not pairs:
        bad.append("minhash: no near-duplicate pairs found")
    if pairs:
        con.sql("CREATE TABLE p (d1 BIGINT, d2 BIGINT)")
        con.executemany("INSERT INTO p VALUES (?, ?)", [(a, b) for a, b, _ in pairs])
        exact = {(a, b): j for a, b, j in con.sql("""
            WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') t
                         FROM documents),
            sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] g
                   FROM tok, UNNEST(range(1, greatest(len(t)-1, 1))) u(i)),
            n AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id),
            i AS (SELECT p.d1, p.d2, count(*) k FROM p
                  JOIN sh a ON a.doc_id = p.d1 JOIN sh b ON b.doc_id = p.d2 AND a.g = b.g
                  GROUP BY ALL)
            SELECT i.d1, i.d2, k / (n1.c + n2.c - k) FROM i
            JOIN n n1 ON n1.doc_id = i.d1 JOIN n n2 ON n2.doc_id = i.d2
        """).fetchall()}
        for a, b, j in pairs:
            # the engine reports jaccard rounded half-up to 4 places
            if j < 0.2 or abs(exact.get((a, b), -1.0) - j) > 0.5e-4 + 1e-12:
                bad.append(f"minhash pair ({a}, {b}) jaccard {j} vs exact "
                           f"{exact.get((a, b))}")
                break
    con.close()
    return bad
