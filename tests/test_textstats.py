"""Text-analysis operator tests beyond the oracle gate."""

from __future__ import annotations

import pytest

from tantalus_spark.datapipe.textstats import winnowing_fingerprints


@pytest.fixture(scope="module")
def docs(spark):
    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, f"PREFIX words here {shared} SUFFIX tail"),
        (2, f"totally different opening {shared} and another ending"),
        (3, "unrelated content about spark catalyst optimizer internals "
            "and shuffle partitioning strategies for large clusters"),
        (4, "too short"),                    # < k tokens -> no fingerprints
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_run_shares_fingerprints(docs):
    fps = winnowing_fingerprints(docs, k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # docs 1 and 2 share a 10-token run >= k + window - 1 = 8 tokens
    assert by_doc[1] & by_doc[2]
    # doc 3 shares nothing with them
    assert not (by_doc[3] & by_doc[1]) and not (by_doc[3] & by_doc[2])
    # short and null docs produce no fingerprints
    assert 4 not in by_doc and 5 not in by_doc


def test_fingerprints_deterministic(docs):
    a = {(r["doc_id"], r["fp"]) for r in
         winnowing_fingerprints(docs, k=5, window=4).collect()}
    b = {(r["doc_id"], r["fp"]) for r in
         winnowing_fingerprints(docs, k=5, window=4).collect()}
    assert a == b and len(a) > 0


def test_hash_families_equivalent_detection(docs):
    """Fingerprint VALUES differ between the xxhash64 production family
    and the md5 oracle family, but detection semantics must not: same
    per-doc fingerprint counts (positional structure) and the same
    shared-run guarantee between docs 1 and 2."""
    fam = {}
    for hf in ("xxhash64", "md5"):
        by_doc = {}
        fps = winnowing_fingerprints(docs, k=5, window=4, hash_family=hf)
        for r in fps.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        assert by_doc[1] & by_doc[2], hf
        fam[hf] = by_doc
    assert set(fam["xxhash64"]) == set(fam["md5"])  # same docs fingerprinted


def test_hash_split_stable_and_partition_invariant(spark):
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.sampling import hash_split, stratified_sample

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    a = {(r["doc_id"], r["split"]) for r in
         hash_split(docs, {"train": .8, "val": .1, "test": .1})
         .select("doc_id", "split").collect()}
    b = {(r["doc_id"], r["split"]) for r in
         hash_split(docs.repartition(7), {"train": .8, "val": .1, "test": .1})
         .select("doc_id", "split").collect()}
    assert a == b                      # invariant under repartitioning
    frac = {}
    for _, s in a:
        frac[s] = frac.get(s, 0) + 1
    assert 0.7 < frac["train"] / len(a) < 0.9
    # stratified sampling: deterministic under seed
    s1 = stratified_sample(docs, "lang", {"en": 0.5}, seed=7).count()
    s2 = stratified_sample(docs, "lang", {"en": 0.5}, seed=7).count()
    assert s1 == s2


def test_connected_components_known_graph(spark):
    from tantalus_spark.datapipe.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], "d1 long, d2 long")
    out = {r["v"]: r["component"]
           for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_long_chain(spark):
    from tantalus_spark.datapipe.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "d1 long, d2 long")
    out = {r["v"]: r["component"]
           for r in connected_components(edges).collect()}
    assert set(out.values()) == {0} and len(out) == 13


def test_bpe_token_count_known_values(spark):
    from tantalus_spark.datapipe.textstats import bpe_token_count

    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times"), (2, "abc")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in bpe_token_count(df).collect()}
    # "Hello" "," "world" "!" "42" "times" -> 6 BPE pieces, 4 ws tokens
    assert out[1]["n_ws_tokens"] == 4 and out[1]["n_bpe_tokens"] == 6
    assert out[2]["n_ws_tokens"] == 1 and out[2]["n_bpe_tokens"] == 1
    assert out[2]["chars_per_token"] == 3.0


def test_simhash_full_recall_vs_bruteforce(spark):
    """Pigeonhole chunking must find EVERY pair within the hamming bound —
    the round-1 4-chunk scheme silently dropped pairs with 4..16 differing
    bits; this brute-forces popcount over all pairs as ground truth."""
    from itertools import combinations

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe import dedup

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(docs).collect()}
    for bound in (3, 8):
        truth = {
            (a, b)
            for a, b in combinations(sorted(sigs), 2)
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= bound
        }
        got = {
            (r["d1"], r["d2"])
            for r in dedup.simhash_near_pairs(docs, max_hamming=bound).collect()
        }
        assert got == truth, (
            f"bound {bound}: missed {truth - got}, spurious {got - truth}")


def test_simhash_rejects_unbucketable_bound(spark):
    import pytest as _pytest

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe import dedup

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    with _pytest.raises(ValueError):
        dedup.simhash_near_pairs(docs, max_hamming=32)


def test_decontaminate_flags_ngram_overlap(spark):
    from tantalus_spark.datapipe.dedup import decontaminate

    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog every day"),
        (2, "completely unrelated content about spark physical plans"),
        (3, "we observe the quick brown fox jumps over the lazy dog too"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([
        ("what does the quick brown fox jumps over the lazy dog mean",),
    ], "text string")
    clean, hits = decontaminate(docs, bench, n=9)
    assert {r["doc_id"] for r in hits.collect()} == {1, 3}
    assert {r["doc_id"] for r in clean.collect()} == {2}
    # no overlap at a longer n than any shared run
    clean13, hits13 = decontaminate(docs, bench, n=11)
    assert hits13.count() == 0 and clean13.count() == 3


def test_weighted_mix_deterministic_and_proportional(spark):
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.sampling import weighted_mix

    docs = read_parquet(spark, "/root/testdata/sf0.01/documents.parquet") \
        .select("doc_id", "text")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    mix = weighted_mix({"web": a, "code": b}, {"web": 0.6, "code": 0.2})
    counts = {r["source"]: r["n"] for r in
              mix.groupBy("source").count().withColumnRenamed("count", "n")
              .collect()}
    na, nb = a.count(), b.count()
    assert abs(counts["web"] / na - 0.6) < 0.08
    assert abs(counts["code"] / nb - 0.2) < 0.08
    # deterministic: same rows on a re-run, stable under repartition
    again = weighted_mix({"web": a.repartition(7), "code": b},
                         {"web": 0.6, "code": 0.2})
    assert sorted(r["doc_id"] for r in mix.collect()) == \
        sorted(r["doc_id"] for r in again.collect())
    # per-source selection is salted by source name: two sources sharing
    # the SAME ids must draw ~independent subsets, not nested ones (the
    # 0.2 picks would be a strict subset of the 0.6 picks unsalted)
    shared = weighted_mix({"s6": a, "s2": a}, {"s6": 0.6, "s2": 0.2})
    picks = {name: {r["doc_id"] for r in rows.collect()}
             for name, rows in (
                 ("s6", shared.filter("source = 's6'")),
                 ("s2", shared.filter("source = 's2'")))}
    overlap = len(picks["s2"] & picks["s6"]) / max(len(picks["s2"]), 1)
    assert not picks["s2"] <= picks["s6"]
    assert abs(overlap - 0.6) < 0.1  # ~independent: P(in s6 | in s2) ~ 0.6


def test_chunk_documents_overlap_and_coverage(spark):
    from tantalus_spark.datapipe.textstats import chunk_documents

    toks = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(1, toks), (2, "solo")],
                                 "doc_id long, text string")
    out = {(r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
           for r in chunk_documents(docs, max_tokens=4, overlap=1).collect()}
    # stride 3: starts 1,4,7 — a start at 10 would yield chunk ["w9"],
    # a strict suffix of chunk [w6..w9], so it is not emitted
    assert out[(1, 0)] == (4, "w0 w1 w2 w3")
    assert out[(1, 1)][1].startswith("w3")     # 1-token overlap
    assert out[(1, 2)] == (4, "w6 w7 w8 w9")
    assert (1, 3) not in out
    assert out[(2, 0)] == (1, "solo")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_repetition_ratios_known_values(spark):
    from tantalus_spark.datapipe.textstats import repetition_ratios

    docs = spark.createDataFrame([
        (1, "a b\na b\nc d"),          # 3 lines, 2 distinct; 6 toks, 4 distinct
        (2, "x y z"),                   # no repetition
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["dup_line_ratio"], r["dup_token_ratio"])
           for r in repetition_ratios(docs).collect()}
    assert got[1] == (round(1 - 2 / 3, 4), round(1 - 4 / 6, 4))
    assert got[2] == (0.0, 0.0)


def test_simhash_zero_hamming_bound(spark):
    """max_hamming=0 (exact signature match) must work — the full-width
    chunk previously overflowed LongType with a (1<<64)-1 mask."""
    from tantalus_spark.datapipe import dedup

    docs = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different")],
        "doc_id long, text string")
    got = {(r["d1"], r["d2"]) for r in
           dedup.simhash_near_pairs(docs, max_hamming=0).collect()}
    assert got == {(1, 2)}


def _md5_bucket(i, n=8, salt=None):
    import hashlib

    key = f"{salt}_{i}" if salt is not None else str(i)
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % n


def test_pack_sequences_matches_python_prefix_sum(spark):
    from tantalus_spark.datapipe.textstats import pack_sequences

    rows = [(i, " ".join(f"t{j}" for j in range(1 + (i * 7) % 13)))
            for i in range(40)]
    rows.append((100, None))            # null text -> dropped
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in pack_sequences(docs, seq_len=16, n_shards=4).collect()}
    assert 100 not in got
    # python reference: per-shard prefix sum in doc_id order
    by_shard = {}
    for i, text in rows[:-1]:
        by_shard.setdefault(_md5_bucket(i, 4), []).append(
            (i, len(text.split(" "))))
    for shard, docs_in in by_shard.items():
        cum = 0
        for i, n in sorted(docs_in):
            r = got[i]
            assert r["shard"] == shard and r["n_tokens"] == n
            assert r["seq_first"] == cum // 16
            assert r["seq_last"] == (cum + n - 1) // 16
            assert r["offset"] == cum % 16
            cum += n


def test_pack_sequences_single_shard_is_global_stream(spark):
    from tantalus_spark.datapipe.textstats import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pack_sequences(docs, seq_len=4, n_shards=1).collect()}
    # tokens laid end to end: doc1 [0,3), doc2 [3,5), doc3 [5,9)
    assert (got[1]["seq_first"], got[1]["seq_last"], got[1]["offset"]) == (0, 0, 0)
    assert (got[2]["seq_first"], got[2]["seq_last"], got[2]["offset"]) == (0, 1, 3)
    assert (got[3]["seq_first"], got[3]["seq_last"], got[3]["offset"]) == (1, 2, 1)
    with pytest.raises(ValueError):
        pack_sequences(docs, seq_len=0)


def test_exact_stratified_sample_sizes_and_determinism(spark):
    from tantalus_spark.datapipe.sampling import exact_stratified_sample

    rows = ([(i, "a") for i in range(10)]
            + [(100 + i, "b") for i in range(7)]
            + [(200 + i, "c") for i in range(3)])
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = exact_stratified_sample(df, "stratum", {"a": 0.5, "b": 0.25})
    got = sorted((r["stratum"], r["doc_id"]) for r in out.collect())
    per = {"a": 0, "b": 0, "c": 0}
    for s, _ in got:
        per[s] += 1
    assert per == {"a": 5, "b": 2, "c": 0}      # ceil(.5*10), ceil(.25*7), dropped
    assert set(got) <= {(s, i) for i, s in rows}
    # deterministic under re-run and repartitioning
    again = sorted((r["stratum"], r["doc_id"]) for r in
                   exact_stratified_sample(df.repartition(7), "stratum",
                                           {"a": 0.5, "b": 0.25}).collect())
    assert again == got


def test_novel_documents_flags_index_collisions(spark):
    from tantalus_spark.datapipe.dedup import minhash_bands, novel_documents

    corpus = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight again"),
        (2, "completely unrelated text about catalyst optimizer shuffles"),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        # near-exact copy of indexed doc 1 -> bucket collision -> not novel
        (10, "the quick brown fox jumps over the lazy dog tonight again ok"),
        (11, "fresh never indexed content with many distinct words inside"),
        (12, "too short"),                    # < shingle_n tokens -> vacuously novel
    ], "doc_id long, text string")
    idx = minhash_bands(corpus)
    got = {r["doc_id"]: r["is_novel"]
           for r in novel_documents(new, idx).collect()}
    assert got == {10: False, 11: True, 12: True}


def test_rare_token_stats_known_values(spark):
    from tantalus_spark.datapipe.textstats import rare_token_stats

    docs = spark.createDataFrame([
        (1, "common common unique1 unique2"),   # 4 toks, 2 hapax
        (2, "common other other"),              # 'other' tf=2 > rare_max
        (3, "zzz"),                             # hapax-only doc
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_ratio"])
           for r in rare_token_stats(docs, rare_max=1).collect()}
    assert got[1] == (4, 2, 0.5)
    assert got[2] == (3, 0, 0.0)
    assert got[3] == (1, 1, 1.0)
    # raising rare_max pulls tf=2 tokens in
    got2 = {r["doc_id"]: r["n_rare"]
            for r in rare_token_stats(docs, rare_max=2).collect()}
    assert got2[2] == 2


def test_url_and_domain_stats(spark):
    from tantalus_spark.datapipe.textstats import domain_counts, url_stats

    docs = spark.createDataFrame([
        (1, "intro https://a.org/x more http://b.com/y?q=1 and https://a.org/z"),
        (2, "no links at all"),
        (3, "edge https://a.org trailing"),
    ], "doc_id long, text string")
    us = {r["doc_id"]: (r["n_urls"], r["n_domains"])
          for r in url_stats(docs).collect()}
    assert us[1] == (3, 2)      # a.org twice (distinct once) + b.com
    assert us[2] == (0, 0)
    assert us[3] == (1, 1)
    dc = {r["domain"]: r["n_docs"] for r in domain_counts(docs).collect()}
    assert dc == {"a.org": 2, "b.com": 1}


def test_duplicated_spans_known_values(spark):
    from tantalus_spark.datapipe.dedup import duplicated_spans

    shared = "alpha beta gamma delta"          # one shared 4-gram span
    docs = spark.createDataFrame([
        (1, f"{shared} ending one two"),
        (2, f"start here {shared} closing words"),
        (3, "entirely different content with no overlap at all here"),
        (4, "tiny"),                            # < n tokens -> absent
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
           for r in duplicated_spans(docs, n=4, min_docs=2).collect()}
    # doc1: 7 toks -> 4 spans, 1 duplicated (the shared 4-gram)
    assert got[1] == (4, 1, 0.25)
    # doc2: 8 toks -> 5 spans, 1 duplicated
    assert got[2] == (5, 1, 0.2)
    assert got[3][1] == 0 and got[3][2] == 0.0
    assert 4 not in got


def test_assemble_packed_sequences_roundtrip(spark):
    from tantalus_spark.datapipe.textstats import assemble_packed_sequences

    rows = [(i, " ".join(f"d{i}w{j}" for j in range(1 + (i * 5) % 9)))
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = assemble_packed_sequences(docs, seq_len=8, n_shards=4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    # reference: per-shard concatenation of doc tokens in doc_id order
    want = {}
    for i, text in rows:
        want.setdefault(_md5_bucket(i, 4), []).append((i, text))
    for shard, seqs in by_shard.items():
        seqs.sort(key=lambda r: r["seq_id"])
        # contiguous seq ids from 0; all full except the last
        assert [r["seq_id"] for r in seqs] == list(range(len(seqs)))
        assert all(r["n_tokens"] == 8 for r in seqs[:-1])
        assert 1 <= seqs[-1]["n_tokens"] <= 8
        stream = " ".join(r["seq_text"] for r in seqs)
        expect = " ".join(t for _, t in sorted(want[shard]))
        assert stream == expect      # lossless round-trip, order preserved


def test_containment_catches_embedded_quote(spark):
    from tantalus_spark.datapipe.dedup import (containment_pairs,
                                               ngram_jaccard_pairs)

    quote = "to be or not to be that is the question"
    long_doc = ("a very long surrounding document " * 8) + quote + \
        (" trailing context words continue onward here " * 8)
    docs = spark.createDataFrame([
        (1, quote),
        (2, long_doc),
        (3, "completely unrelated text about something else entirely"),
    ], "doc_id long, text string")
    cont = {(r["d1"], r["d2"]): r["containment"]
            for r in containment_pairs(docs, threshold=0.5).collect()}
    assert cont.get((1, 2)) == 1.0      # short doc fully contained
    assert (1, 3) not in cont and (2, 3) not in cont
    # symmetric Jaccard misses the same pair at the same threshold
    jac = {(r["d1"], r["d2"])
           for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) not in jac


def test_vocab_coverage_known_values(spark):
    from tantalus_spark.datapipe.textstats import vocab_coverage

    # tf: a=4, b=2, c=1, d=1  (total 8; ties c/d break lexically)
    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a a b d")], "doc_id long, text string")
    got = {r["k"]: (r["vocab_used"], r["coverage"])
           for r in vocab_coverage(docs, ks=(1, 2, 3, 100)).collect()}
    assert got[1] == (1, 0.5)          # 'a' alone covers 4/8
    assert got[2] == (2, 0.75)         # +b -> 6/8
    assert got[3] == (3, 0.875)        # +c -> 7/8
    assert got[100] == (4, 1.0)        # whole vocab (k capped at |V|)


def test_dedup_keep_best_picks_longest_per_cluster(spark):
    from tantalus_spark.datapipe.dedup import dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame([
        (1, base),
        (2, base + " with a couple extra trailing tokens"),  # longest dup
        (3, "an unrelated singleton document about something different"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["cluster_id"], r["kept"])
           for r in dedup_keep_best(docs, threshold=0.2).collect()}
    assert got[1] == (1, False)        # same cluster, shorter -> dropped
    assert got[2] == (1, True)         # longest wins
    assert got[3] == (3, True)         # singleton keeps itself


def test_paragraph_dedup_unit(spark):
    from tantalus_spark.datapipe.dedup import dedup_lines

    footer = "subscribe to our newsletter"
    docs = spark.createDataFrame([
        (1, f"real first paragraph\n\n{footer}"),
        (2, f"other unique content here\n\n\n{footer}"),  # 3 blank-run
        (3, "standalone doc with no footer at all"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup_lines(docs, split_re=r"\n{2,}",
                       join_str="\n\n").collect()}
    assert got[1]["clean_text"] == "real first paragraph"
    assert got[2]["clean_text"] == "other unique content here"
    assert got[1]["n_lines_dropped"] == 1
    assert got[3]["clean_text"] == "standalone doc with no footer at all"
    assert got[3]["n_lines_dropped"] == 0


def test_split_leakage_flags_cross_split_twins(spark):
    from tantalus_spark.datapipe.dedup import split_leakage
    from tantalus_spark.datapipe.sampling import hash_split

    base = "the quick brown fox jumps over the lazy dog before midnight"
    # find two ids that hash to different splits under the 50/50 rule
    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    sp = {r["doc_id"]: r["split"]
          for r in hash_split(ids, {"a": 0.5, "b": 0.5}).collect()}
    ia = next(i for i in sp if sp[i] == "a")
    ib = next(i for i in sp if sp[i] == "b")
    isame = next(i for i in sp if sp[i] == "a" and i != ia)
    docs = spark.createDataFrame([
        (ia, base),
        (ib, base + " extra"),                   # near-dup across splits
        (isame, base + " extra padding"),        # near-dup within split a
        (99_000, "completely unrelated content about other things"),
    ], "doc_id long, text string")
    got = {(r["d1"], r["d2"]): (r["split1"], r["split2"])
           for r in split_leakage(docs, {"a": 0.5, "b": 0.5}).collect()}
    lo, hi = min(ia, ib), max(ia, ib)
    assert (lo, hi) in got and set(got[(lo, hi)]) == {"a", "b"}
    within = (min(ia, isame), max(ia, isame))
    assert within not in got                     # same-split pair filtered


def test_group_split_with_cluster_map_closes_measured_leakage(spark):
    """The measure-then-fix loop end to end: split_leakage flags the
    near-dup twin pair a naive hash split separates (measured above);
    auditing the SAME corpus under group_split with the dup-cluster
    family map reports ZERO leakage — near-dup twins now move as one
    family."""
    from tantalus_spark.datapipe.dedup import (dup_clusters,
                                               split_leakage)
    from tantalus_spark.datapipe.sampling import group_split, hash_split

    base = "the quick brown fox jumps over the lazy dog before midnight"
    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    sp = {r["doc_id"]: r["split"]
          for r in hash_split(ids, {"a": 0.5, "b": 0.5}).collect()}
    ia = next(i for i in sp if sp[i] == "a")
    ib = next(i for i in sp if sp[i] == "b")
    docs = spark.createDataFrame([
        (ia, base),
        (ib, base + " extra"),                   # near-dup across splits
        (99_000, "completely unrelated content about other things"),
    ], "doc_id long, text string")
    # the naive split leaks (same construction as the test above)
    leaks = split_leakage(docs, {"a": 0.5, "b": 0.5}).count()
    assert leaks >= 1
    # fix: family map from the iterative near-dup clustering, split on
    # families, audit THAT assignment — zero cross-split near-dup pairs
    cmap = dup_clusters(docs).select("doc_id", "cluster_id")
    fixed = group_split(docs, {"a": 0.5, "b": 0.5}, cluster_map=cmap)
    assert split_leakage(docs, {"a": 0.5, "b": 0.5},
                         splits=fixed.select("doc_id", "split")
                         ).count() == 0


def test_score_calibration_bins_and_rates(spark):
    """The reliability diagram's bins, counts, pass rates, and exact
    micro-integer mean logits match a pure-Python recomputation of the
    same features over a corpus crafted to span several probability
    bins and both label outcomes."""
    import math

    from tantalus_spark.datapipe.textstats import (
        QUALITY_BIAS, QUALITY_WEIGHTS, score_calibration)

    good = ("This is a well formed sentence with plenty of words here."
            "\nAnother proper line that also ends with punctuation!"
            "\nA third sentence keeps the C4 gate happy.")
    rows = [(1, good),
            (2, good + "\nMore good text ends right here."),
            (3, "short no punct"),
            (4, "{ code block } lorem ipsum\n" + good),  # gated out
            (5, "x\nx\nx\nx"),                           # dup lines
            (6, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["bin"]: (r["n_docs"], r["n_pass"], r["pass_rate"],
                      r["mean_logit"])
           for r in score_calibration(df, n_bins=10).collect()}

    def logit(t):
        toks = [x for x in t.strip().split() if x]
        n = len(t)
        lines = t.split("\n")
        feats = {
            "log_tokens": math.log(len(toks) + 1.0),
            "alpha_ratio": sum(c.isalpha() and c.isascii()
                               for c in t) / n,
            "space_ratio": sum(c.isspace() for c in t) / n,
            "dup_line_ratio": 1.0 - len(set(lines)) / len(lines),
        }
        return QUALITY_BIAS + sum(QUALITY_WEIGHTS[k] * v
                                  for k, v in feats.items())

    def c4_keep(t):
        kept = [ln for ln in t.split("\n")
                if ln.rstrip() and ln.rstrip()[-1] in '.!?"'
                and len(ln.split()) >= 3 and "javascript" not in ln.lower()]
        cl = "\n".join(kept)
        n_sent = sum(cl.count(p) for p in ".!?")
        return (n_sent >= 3 and "{" not in t
                and "lorem ipsum" not in t.lower() and len(kept) > 0)

    cuts = [math.log((k / 10) / (1.0 - k / 10)) for k in range(1, 10)]
    want: dict[int, list] = {}
    for _id, t in rows:
        if t is None:
            continue
        z = logit(t)
        b = sum(z >= c for c in cuts)
        want.setdefault(b, []).append(
            (math.floor(z * 1e6 + 0.5), c4_keep(t)))
    assert set(got) == set(want) and len(got) >= 2
    for b, members in want.items():
        n = len(members)
        n_pass = sum(1 for _, kp in members if kp)
        zsum = sum(zm for zm, _ in members)
        assert got[b][0] == n and got[b][1] == n_pass
        assert abs(got[b][2] - round(n_pass / n, 4)) < 1e-9
        assert abs(got[b][3] - round(zsum / 1e6 / n, 4)) < 1e-9


def test_length_outliers_exact_integer_predicate(spark):
    import statistics
    from tantalus_spark.datapipe.textstats import length_outliers

    # group A: nine 10-token docs + one 100-token doc (clear outlier);
    # group B: two equal docs (variance 0 -> no outliers);
    # group C: singleton (n<2 -> emits nothing)
    rows = []
    for i in range(9):
        rows.append((i, " ".join(["w"] * 10), "A"))
    rows.append((9, " ".join(["w"] * 100), "A"))
    rows.append((10, " ".join(["w"] * 7), "B"))
    rows.append((11, " ".join(["w"] * 7), "B"))
    rows.append((12, " ".join(["w"] * 999), "C"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["doc_id"], r["source"], r["n_tokens"])
           for r in length_outliers(df, z=2).collect()}
    assert out == {(9, "A", 100)}
    # the integer predicate agrees with the float z-score definition
    xs = [10] * 9 + [100]
    mean, sd = statistics.mean(xs), statistics.stdev(xs)
    assert abs(100 - mean) > 2 * sd
    assert all(abs(x - mean) <= 2 * sd for x in xs[:9])


def test_length_outliers_no_int64_overflow_at_scale(spark):
    """r4 verdict "What's wrong #2": the cleared-division products
    (n-1)(nx-S)^2 and z^2*n*(nQ-S^2) overflow int64 for ~1e6-doc groups
    and Spark's non-ANSI long multiply wraps SILENTLY. With these values
    the wrapped-int64 predicate mis-flags every one of the million
    normal docs (verified below); the DECIMAL(38,0) implementation must
    match exact Python-int arithmetic instead."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import length_outliers

    n_big, a, b, z = 1_000_000, 1_000_000, 2_000_000, 2
    s, q, n = n_big * a + b, n_big * a * a + b * b, n_big + 1

    def exact(x):
        dev = n * x - s
        return (n - 1) * dev * dev > z * z * n * (n * q - s * s)

    m = 1 << 64

    def wrap(v):
        v %= m
        return v - m if v >= 1 << 63 else v

    def wrapped(x):
        dev = wrap(n * x - s)
        lhs = wrap(wrap(n - 1) * wrap(dev * dev))
        rhs = wrap(z * z * wrap(n * wrap(wrap(n * q) - wrap(s * s))))
        return lhs > rhs

    assert exact(b) and not exact(a)
    assert wrapped(a) != exact(a)        # int64 algebra would be WRONG
    # and the products stay exact in DECIMAL(38,0) / HUGEINT
    assert (n - 1) * (n * b - s) ** 2 < 10 ** 38

    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("big").alias("source"),
        F.when(F.col("id") == 0, b).otherwise(a).cast("long").alias("x"),
    )
    got = length_outliers(df, z=z, length_col="x").collect()
    assert {(r["doc_id"], r["n_tokens"]) for r in got} == {(0, b)}


def test_fuzzy_pairs_blocking_and_distance(spark):
    from tantalus_spark.datapipe.dedup import fuzzy_pairs

    prefix = "shared prefix here "
    rows = [
        (1, prefix + "the quick brown fox jumps over the dog"),
        (2, prefix + "the quick brown fox jumped over the dog"),   # 2 edits
        (3, prefix + "completely different tail content that is far away"),
        (4, "other block entirely with its own text body"),
    ]
    # a hot block: many docs sharing a boilerplate prefix must be dropped
    rows += [(100 + i, "boilerplate terms of service page " + str(i))
             for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fuzzy_pairs(df, max_dist=5, block_chars=12, window=200,
                      max_block=10)
    pairs = {(r["id_a"], r["id_b"]): r["edit_dist"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 2
    # doc 3 shares the block but exceeds the distance cap
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # the 12-doc hot block contributed nothing
    assert all(a < 100 and b < 100 for (a, b) in pairs)


def test_source_overlap_matrix_planted_cross_source_dups(spark):
    from tantalus_spark.datapipe.dedup import source_overlap_matrix

    near = ("the quick brown fox jumps over the lazy dog near the old "
            "barn by the river where the children play every day")
    rows = [
        (1, near, "web"),
        (2, near + " extra tail words here", "scrape"),   # near-dup of 1
        (3, near, "scrape"),                              # exact dup of 1
        (4, "completely unrelated text about cooking pasta with garlic "
            "and olive oil in a large pan over medium heat", "web"),
        (5, "another unrelated piece concerning the weather forecast "
            "for the coming week in the northern region", "books"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["src_a"], r["src_b"]): r
           for r in source_overlap_matrix(
               df, threshold=0.2, hash_family="md5").collect()}
    # cross-source duplication detected, alphabetically normalized
    assert ("scrape", "web") in out
    assert out[("scrape", "web")]["n_pairs"] >= 2   # (1,2) and (1,3)
    assert out[("scrape", "web")]["max_jaccard"] == 1.0  # the exact dup
    # unrelated docs contribute nothing
    assert ("books", "web") not in out


def test_encoding_noise_planted(spark):
    from tantalus_spark.datapipe.textstats import encoding_noise

    rows = [
        (1, "perfectly clean ascii text here"),
        (2, "cafÃ© double-decoded and â€™ quote"),
        (3, "lost bytes �� here"),
        (4, "ctrl\x01char"),
        (5, "légitime français — non-ascii, not noisy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in encoding_noise(df).collect()}
    assert not out[1]["is_noisy"] and out[1]["n_non_ascii"] == 0
    # one mojibake'd e-acute + one mojibake'd right quote
    assert out[2]["is_noisy"] and out[2]["n_mojibake"] == 2
    assert out[3]["is_noisy"] and out[3]["n_replacement"] == 2
    assert out[4]["is_noisy"] and out[4]["n_control"] == 1
    # genuine non-ASCII text is NOT flagged — accents are language,
    # not extraction bugs
    assert not out[5]["is_noisy"] and out[5]["n_non_ascii"] > 0


def test_gopher_rules_each_rule_fires(spark):
    """One crafted doc per Gopher rule (Rae et al. 2021 A1.1) that
    fails exactly that rule, plus one passing doc."""
    from tantalus_spark.datapipe.textstats import gopher_rules

    good = ("the quick brown fox jumps over the lazy dog and then "
            "rests with some friends that have come to visit be of "
            "good cheer ") * 5                     # ~60 clean words
    rows = [
        (1, good),
        (2, "the of and short"),                   # too few words
        (3, " ".join(["a"] * 60) + " the of"),     # mean word len < 3
        (4, good + " " + "# " * 20),               # symbol ratio > 0.1
        (5, "\n".join(["- " + good[:40]] * 10)),   # 100% bullet lines
        (6, " ".join(["12345"] * 60) + " the of"), # alpha ratio < 0.8
        (7, " ".join(["zq" + str(i) for i in range(60)])),  # no stop words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"] is True
    for d in (2, 3, 4, 5, 6, 7):
        assert out[d]["keep"] is False, d
    assert out[2]["n_words"] < 50
    assert out[3]["mean_word_len"] < 3
    assert out[4]["symbol_ratio"] > 0.1
    assert out[5]["bullet_line_ratio"] >= 0.9
    assert out[6]["alpha_word_ratio"] < 0.8
    assert out[7]["n_stop_words"] < 2


def test_c4_filters_line_and_doc_gates(spark):
    """C4 (Raffel et al. 2020 sec 2.2): line keep/drop decisions and the
    brace / lorem-ipsum / sentence-count document gates."""
    from tantalus_spark.datapipe.textstats import c4_filters

    rows = [
        (1, "This is a sentence.\nAnother good line here!\n"
            "Is this kept too?\nno punct line\nshort.\n"
            "Enable javascript to view this."),
        (2, "function f() { return 1; } This is prose."),   # brace
        (3, "Lorem ipsum dolor sit amet consectetur."),      # lorem
        (4, "One sentence only here."),                      # < 3 sentences
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_filters(df).collect()}
    r1 = out[1]
    assert r1["n_lines"] == 6
    # kept: the 3 punctuated >=3-word lines; dropped: no-punct, 1-word,
    # and the javascript line
    assert r1["n_kept_lines"] == 3
    assert r1["keep"] is True
    assert "javascript" not in r1["clean_text"]
    assert "no punct line" not in r1["clean_text"]
    assert out[2]["has_brace"] is True and out[2]["keep"] is False
    assert out[3]["has_lorem"] is True and out[3]["keep"] is False
    assert out[4]["n_sentences"] < 3 and out[4]["keep"] is False


def test_filter_rules_stream_matches_batch(spark, tmp_path):
    """gopher_rules and c4_filters are stateless projections, so they
    must run unchanged on a stream and emit exactly the batch rows —
    the streaming-twin guarantee for the published-filter gates."""
    from tantalus_spark.datapipe.textstats import c4_filters, gopher_rules

    rows = [(i, ("the quick brown fox jumps over the lazy dog and that "
                 "should be of help with everything here. ") * (1 + i % 3))
            for i in range(8)]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(rows, schema)
    batch.repartition(2).write.parquet(src)
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 1).load(src))
    from tantalus_spark.datapipe.textstats import normalize_nfc

    for name, op in (("gopher_stream", gopher_rules),
                     ("c4_stream", c4_filters),
                     ("nfc_stream", normalize_nfc)):
        q = (op(stream).writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.table(name).collect()}
        want = {tuple(r) for r in op(batch).collect()}
        assert got == want, name


def test_simhash_production_family_detects_exact_dups(spark):
    """The xxhash64 production family (bench path) must share the md5
    family's detection semantics: identical texts collide at hamming 0
    and unrelated texts do not, for both families."""
    from tantalus_spark.datapipe import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different content about catalyst optimizer"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("md5", "xxhash64"):
        got = {(r["d1"], r["d2"])
               for r in dedup.simhash_near_pairs(
                   df, max_hamming=0, hash_family=fam).collect()}
        assert got == {(1, 2)}, fam


def test_zipf_fit_slope_near_minus_one_on_zipfian_counts(spark):
    from tantalus_spark.datapipe.textstats import zipf_fit

    # source "z": term_r repeated floor(240/r) times -> counts follow c/r
    words = []
    for r in range(1, 13):
        words += [f"t{r:02d}"] * (240 // r)
    # source "u": uniform counts -> flat curve, slope 0
    uwords = [f"w{i}" for i in range(8)] * 5
    df = spark.createDataFrame(
        [(1, "z", " ".join(words)), (2, "u", " ".join(uwords))],
        "doc_id long, source string, text string")
    out = {r["source"]: r for r in zipf_fit(df).collect()}
    z = out["z"]
    assert z["n_types"] == 12 and z["n_tokens"] == sum(240 // r
                                                      for r in range(1, 13))
    assert -1.15 <= z["zipf_slope"] <= -0.85
    assert z["r2"] > 0.95
    u = out["u"]
    assert u["zipf_slope"] == 0.0  # constant ln(cnt) -> zero covariance


def test_bm25_rank_idf_and_length_normalization(spark):
    from tantalus_spark.datapipe.textstats import bm25_rank

    filler = " ".join(["filler"] * 40)
    df = spark.createDataFrame(
        [
            (1, "apple apple apple pie"),            # dense, short
            (2, f"apple {filler}"),                   # sparse, long
            (3, f"banana {filler}"),                  # rare term, long
            (4, filler),                              # no query terms
            (5, "apple banana split"),                # both terms
        ],
        "doc_id long, text string")
    out = bm25_rank(df, ["apple", "banana"], k=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 4 not in rows                     # no-hit docs never surface
    assert rows[5]["n_terms_hit"] == 2
    assert rows[1]["n_terms_hit"] == 1
    # tf saturation + length norm: dense short doc beats sparse long doc
    assert rows[1]["score_nano"] > rows[2]["score_nano"]
    # banana (df=2) is rarer than apple (df=3): same tf=1 and same dl
    # (docs 2 and 3 are the same length) -> higher idf wins
    assert rows[3]["score_nano"] > rows[2]["score_nano"]
    # both-terms doc outranks every single-term doc
    top = out.first()
    assert top["doc_id"] == 5
    assert abs(top["bm25"] - top["score_nano"] / 1e9) < 1e-4


def test_minhash_calibration_exact_dup_and_false_positive_buckets(spark):
    from tantalus_spark.datapipe.dedup import minhash_calibration

    twin = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")
    df = spark.createDataFrame(
        [(1, twin), (2, twin), (3, other)],
        "doc_id long, text string")
    rows = minhash_calibration(df, n_perm=16, bands=4).collect()
    by_bucket = {r["err_bucket"]: r for r in rows}
    # the identical pair: every slot agrees (est 1000) and exact Jaccard
    # is 1.0 (exact 1000) -> err 0, bucket 0
    assert 0 in by_bucket
    z = by_bucket[0]
    assert z["n_pairs"] >= 1
    assert z["sum_est_milli"] >= 1000 and z["sum_exact_milli"] >= 1000
    assert z["min_err_milli"] <= 0 <= z["max_err_milli"]
    # totals are conserved: every candidate pair lands in exactly one bucket
    assert sum(r["n_pairs"] for r in rows) >= 1
    # doc 3 shares no shingles with the twins: if it ever surfaces as an
    # LSH false positive, its exact_milli must be 0 (left-join inter=0)
    for r in rows:
        if r["err_bucket"] >= 9:
            assert r["sum_exact_milli"] == 0


def test_bm25_indexed_matches_scan_path(spark):
    from tantalus_spark.datapipe.textstats import (
        bm25_rank, bm25_rank_indexed, build_term_index)

    filler = " ".join(["pad"] * 25)
    df = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "apple " * (i % 4))
         for i in range(1, 11)] + [(11, "banana cherry " + filler)],
        "doc_id long, text string")
    terms = ["apple", "banana", "cherry"]
    scan = [r.asDict() for r in bm25_rank(df, terms, k=8).collect()]
    idx = build_term_index(df)
    served = [r.asDict() for r in
              bm25_rank_indexed(idx, terms, k=8).collect()]
    assert scan == served  # bit-identical: same scorer, same stats
    # the index round-trips through parquet (the real serving layout)
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        idx.write.mode("overwrite").parquet(d + "/ix")
        reread = spark.read.parquet(d + "/ix")
        again = [r.asDict() for r in
                 bm25_rank_indexed(reread, terms, k=8).collect()]
    assert scan == again


def test_bm25_serve_stream_matches_indexed_batch(spark, replay_stream):
    """Serving a query stream from foreachBatch against the FROZEN
    postings index + build-time corpus stats gives, per query, exactly
    the scan path's scores over the raw corpus (shared nano-integer
    scorer): no query's scores depend on the micro-batch that carried
    it, and a query matching nothing serves an empty result."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank, bm25_rank_indexed, build_term_index)

    filler = " ".join(["pad"] * 25)
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "apple " * (i % 4))
         for i in range(1, 11)] + [(11, "banana cherry " + filler)],
        "doc_id long, text string")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    queries = [(7, ["Apple", "banana", "cherry"]), (8, ["cherry"]),
               (9, ["zzz"])]

    def table(df):
        return {r["doc_id"]: (r["score_nano"], r["n_terms_hit"], r["bm25"])
                for r in df.collect()}

    served = {}

    def on_batch(batch_df, batch_id):
        for q in batch_df.collect():
            served[q["query_id"]] = table(bm25_rank_indexed(
                idx, list(q["terms"]), k=100, n_docs=n_docs, avgdl=avgdl))

    qschema = "query_id long, terms array<string>"
    replay_stream([spark.createDataFrame([q], qschema) for q in queries],
                  on_batch)
    assert set(served) == {7, 8, 9}
    for qid, terms in queries:
        # k large enough to return every matched doc
        assert served[qid] == table(bm25_rank(docs, terms, k=100)), qid
    assert len(served[7]) == 11 and len(served[8]) == 1
    assert served[9] == {}


def test_tfidf_cosine_pairs_identical_docs_score_one(spark):
    """Two identical documents share every term with equal weights:
    cosine must be exactly 1.0; a disjoint doc must produce no pair.
    min_df=2 drops terms appearing in one doc only."""
    from tantalus_spark.datapipe.textstats import tfidf_cosine_pairs

    rows = [
        (1, "alpha beta gamma delta alpha"),
        (2, "alpha beta gamma delta alpha"),
        (3, "zeta eta theta iota kappa"),
        (4, "zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_cosine_pairs(df, threshold=0.0, min_df=2,
                             max_df_frac=0.9)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    out.unpersist()
    assert got[(1, 2)] == 1.0 and got[(3, 4)] == 1.0
    # cross-group pairs share zero kept terms -> no row at all
    assert (1, 3) not in got and (2, 4) not in got and len(got) == 2


def test_budget_select_is_takewhile_prefix(spark):
    """budget_select's two-phase histogram plan must equal the one-line
    spec: the maximal prefix of (score desc, md5(id), id) whose running
    token total stays within budget."""
    import hashlib

    from pyspark.sql import functions as F
    from tantalus_spark.datapipe.scoring import budget_select

    rows = [(i, "tok " * (5 + i % 7), (i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q int") \
              .withColumn("q", F.col("q").cast("long"))
    budget = 120
    out = budget_select(df, budget_tokens=budget, score_col="q")
    got = sorted(r["doc_id"] for r in out.collect())
    out.unpersist()
    # brute-force spec
    docs = [(i, len(("tok " * (5 + i % 7)).split()), i % 4)
            for i in range(40)]
    order = sorted(docs, key=lambda d: (
        -d[2], hashlib.md5(str(d[0]).encode()).hexdigest(), d[0]))
    want, cum = [], 0
    for i, ntok, _q in order:
        if cum + ntok > budget:
            break
        cum += ntok
        want.append(i)
    assert got == sorted(want) and 0 < len(got) < 40


def test_budget_select_excludes_nan_and_null_scores(spark):
    """Spark orders NaN greater than every double, so an unguarded
    NaN score would pass `score > T` and be admitted as top-quality
    (ADVICE r6). NaN- and NULL-scored rows must never be admitted and
    must not consume budget."""
    from pyspark.sql import functions as F
    from tantalus_spark.datapipe.scoring import budget_select

    rows = [(1, "tok " * 10, 5.0), (2, "tok " * 10, 3.0),
            (3, "tok " * 10, float("nan")), (4, "tok " * 10, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    out = budget_select(df, budget_tokens=20, score_col="q")
    got = sorted(r["doc_id"] for r in out.collect())
    out.unpersist()
    assert got == [1, 2]   # NaN (3) and NULL (4) excluded, budget full


def test_normalized_dedup_collapses_nfc_nfd_variants(spark):
    """An NFD-encoded twin ('e' + COMBINING ACUTE) and extra whitespace
    must land in the SAME group as the NFC original; distinct content
    must not."""
    nfc = "résumé writing guide"          # precomposed é
    nfd = "résumé   writing  guide"     # decomposed + spaces
    rows = [(1, nfc), (2, nfd), (3, "unrelated text")]
    from tantalus_spark.datapipe.textstats import normalized_dup_groups

    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {r["canonical_id"]: r["n_docs"]
              for r in normalized_dup_groups(df).collect()}
    assert groups == {1: 2, 3: 1}


def test_lsh_plan_matches_s_curve_math():
    """The planner must pick the divisor split whose critical
    similarity is closest to the target, and its probabilities must
    follow the published S-curve formula."""
    from tantalus_spark.datapipe.dedup import lsh_plan

    plan = lsh_plan(16, threshold=0.2)
    assert plan["bands"] * plan["rows"] == 16
    # s-curve sanity: steeply more likely above the threshold
    assert plan["p_above"] > plan["p_at_threshold"] > plan["p_below"]
    # the q45 production dial (bands=4, rows=4 -> crit ~ 0.707) is what
    # the planner picks for a HIGH threshold:
    high = lsh_plan(16, threshold=0.7)
    assert (high["bands"], high["rows"]) == (4, 4)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        lsh_plan(16, threshold=1.5)


def test_hashed_vectors_feed_cosine_topk(spark):
    """The hashing-trick bridge: dense hashed vectors must be valid
    input for the embedding-side stack, identical documents must get
    identical vectors, and a shared-token document must be more similar
    to its near-twin than to unrelated content."""
    from tantalus_spark.datapipe.similarity import cosine_topk
    from tantalus_spark.datapipe.textstats import hashed_vectors

    rows = [
        (1, "spark catalyst optimizer shuffles partitions and joins"),
        (2, "spark catalyst optimizer shuffles partitions and joins"),
        (3, "spark catalyst optimizer shuffles partitions and tables"),
        (4, "completely different words about cooking pasta tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = hashed_vectors(df, dim=64)
    got = {r["doc_id"]: r["vector"] for r in vecs.collect()}
    assert got[1] == got[2] and len(got[1]) == 64
    q = got[1]
    top = cosine_topk(vecs.filter("doc_id != 1"), q, k=3,
                      id_col="doc_id", vec_col="vector").collect()
    order = [r["doc_id"] for r in top]
    assert order[0] == 2 and top[0]["cosine"] == 1.0
    assert order[1] == 3          # near-twin beats unrelated
    assert top[1]["cosine"] > top[2]["cosine"]


def test_hashed_features_sign_cancellation_is_deterministic(spark):
    """Repeated tokens accumulate: 'a a a' gives one bucket with |feat|
    = 3; determinism under repartitioning."""
    from tantalus_spark.datapipe.textstats import hashed_features

    df = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
    rows = hashed_features(df, dim=16).collect()
    assert len(rows) == 1 and abs(rows[0]["feat"]) == 3
    df7 = spark.createDataFrame(
        [(i, "x y z w " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string")
    a = sorted(map(tuple, hashed_features(df7, dim=8).collect()))
    b = sorted(map(tuple,
                   hashed_features(df7.repartition(5), dim=8).collect()))
    assert a == b


def test_merge_term_index_equals_full_rebuild(spark):
    """Incremental index + stats merge must be bit-identical to a full
    rebuild over the union — same postings multiset, same (N, avgdl),
    same BM25 serving results."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index, merge_term_index)

    filler = " ".join(["pad"] * 20)
    old = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "apple " * (i % 3))
         for i in range(1, 8)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "banana cherry " + filler),
         (11, "cherry cherry apple " + filler)],
        "doc_id long, text string")
    idx_old, stats_old = build_term_index(old, with_stats=True)
    idx_m, (n_m, avg_m) = merge_term_index(idx_old, stats_old, new)
    idx_f, (n_f, avg_f) = build_term_index(old.unionByName(new),
                                           with_stats=True)
    # BIT-identical, not merely close: serving floors scores at 1e-9,
    # so a 1-ulp avgdl drift could flip a boundary (integer dl-sum
    # recovery via round(N*avgdl))
    assert n_m == n_f and avg_m == avg_f
    pm = sorted(map(tuple, idx_m.collect()))
    pf = sorted(map(tuple, idx_f.collect()))
    assert pm == pf
    terms = ["apple", "cherry"]
    served_m = [r.asDict() for r in bm25_rank_indexed(
        idx_m, terms, k=20, n_docs=n_m, avgdl=avg_m).collect()]
    served_f = [r.asDict() for r in bm25_rank_indexed(
        idx_f, terms, k=20, n_docs=n_f, avgdl=avg_f).collect()]
    assert served_m == served_f


def test_term_index_empty_corpus_and_empty_delta(spark):
    """Empty or all-null-text corpora: build_term_index(with_stats)
    must return (0, 0.0) instead of crashing on SUM()=NULL / n=0, and
    merge_term_index with an empty delta must return the index and
    stats unchanged (ADVICE r6)."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, merge_term_index)

    empty = spark.createDataFrame(
        [(1, None)], "doc_id long, text string")
    idx0, stats0 = build_term_index(empty, with_stats=True)
    assert idx0.count() == 0 and stats0 == (0, 0.0)

    old = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry")],
        "doc_id long, text string")
    idx, stats = build_term_index(old, with_stats=True)
    idx_m, stats_m = merge_term_index(idx, stats, empty)
    assert stats_m == stats
    assert sorted(map(tuple, idx_m.collect())) == \
        sorted(map(tuple, idx.collect()))
    # empty-into-empty must not divide by zero either
    idx_e, stats_e = merge_term_index(idx0, stats0, empty)
    assert stats_e == (0, 0.0) and idx_e.count() == 0


def test_prune_term_index_equals_rebuild_over_survivors(spark):
    """Delete-side maintenance must be bit-identical to a full rebuild
    over the surviving corpus — same postings multiset, same (N, avgdl),
    same BM25 serving results — including a token-less removed doc
    (counted in N, dl 0, no postings) and the everything-removed /
    nothing-removed edges."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index, prune_term_index)

    filler = " ".join(["pad"] * 15)
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "apple " * (i % 3))
         for i in range(1, 8)] + [(8, "   ")],  # 8: token-less, dl 0
        "doc_id long, text string")
    idx, stats = build_term_index(docs, with_stats=True)
    removed = spark.createDataFrame([(2,), (5,), (8,)], "doc_id long")
    idx_p, (n_p, avg_p) = prune_term_index(idx, stats, removed)
    idx_f, (n_f, avg_f) = build_term_index(
        docs.filter(~F.col("doc_id").isin(2, 5, 8)), with_stats=True)
    assert n_p == n_f and avg_p == avg_f  # bit-identical (see merge)
    assert sorted(map(tuple, idx_p.collect())) == \
        sorted(map(tuple, idx_f.collect()))
    served_p = [r.asDict() for r in bm25_rank_indexed(
        idx_p, ["apple"], k=20, n_docs=n_p, avgdl=avg_p).collect()]
    served_f = [r.asDict() for r in bm25_rank_indexed(
        idx_f, ["apple"], k=20, n_docs=n_f, avgdl=avg_f).collect()]
    assert served_p == served_f
    # nothing removed: unchanged
    none = spark.createDataFrame([], "doc_id long")
    idx_0, stats_0 = prune_term_index(idx, stats, none)
    assert stats_0 == stats
    # everything removed: empty index, empty-corpus stats
    all_ids = docs.select("doc_id")
    idx_e, stats_e = prune_term_index(idx, stats, all_ids)
    assert stats_e == (0, 0.0) and idx_e.count() == 0


def test_merge_hashed_index_equals_full_rebuild(spark):
    """Dense-leg insert maintenance: merged (feats, norms) equal a full
    rebuild over the union bit-for-bit, and hybrid serving over the
    merged artifacts equals serving over the rebuilt ones."""
    from tantalus_spark.datapipe.textstats import (
        hashed_features, hashed_norms, merge_hashed_index)

    filler = " ".join(f"pad{i}" for i in range(10))
    old = spark.createDataFrame(
        [(i, f"apple banana {filler}") for i in range(1, 6)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, f"cherry date {filler}"), (11, "cherry cherry")],
        "doc_id long, text string")
    feats_old = hashed_features(old, dim=16)
    norms_old = hashed_norms(feats_old)
    feats_m, norms_m = merge_hashed_index(feats_old, norms_old, new,
                                          dim=16)
    both = old.unionByName(new)
    feats_f = hashed_features(both, dim=16)
    assert sorted(map(tuple, feats_m.collect())) == \
        sorted(map(tuple, feats_f.collect()))
    assert sorted(map(tuple, norms_m.collect())) == \
        sorted(map(tuple, hashed_norms(feats_f).collect()))
    # ENRICHED layout merges too: the delta is enriched with its own
    # O(batch) norms before the union
    enr_old = feats_old.join(norms_old, "doc_id")
    enr_m, _ = merge_hashed_index(enr_old, norms_old, new, dim=16)
    enr_f = feats_f.join(hashed_norms(feats_f), "doc_id")
    assert sorted(map(tuple, enr_m.select("doc_id", "bucket", "feat",
                                          "norm").collect())) == \
        sorted(map(tuple, enr_f.select("doc_id", "bucket", "feat",
                                       "norm").collect()))
    # delete side: pruning tombstoned ids equals a rebuild over the
    # survivors (both layouts share the same two anti-joins)
    from tantalus_spark.datapipe.textstats import prune_hashed_index

    removed = spark.createDataFrame([(2,), (10,)], "doc_id long")
    pf, pn = prune_hashed_index(feats_m, norms_m, removed)
    surv = both.filter("doc_id NOT IN (2, 10)")
    sf = hashed_features(surv, dim=16)
    assert sorted(map(tuple, pf.collect())) == \
        sorted(map(tuple, sf.collect()))
    assert sorted(map(tuple, pn.collect())) == \
        sorted(map(tuple, hashed_norms(sf).collect()))


def test_index_lifecycle_rebuild_equal_on_random_corpora(spark):
    """Seeded randomized rebuild-equality for the full lifecycle:
    build → merge a random delta → prune a random tombstone set must
    equal a clean build over (old ∪ new) − removed, bit-for-bit —
    postings, stats, and served scores — across corpora that mix
    unicode, empty/whitespace-only docs, and repeated tokens."""
    import random

    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index, merge_term_index,
        prune_term_index)

    vocab = ["alpha", "beta", "γάμμα", "delta", "éclair",
             "zeta", "The", "the", "x"]
    for seed in (7, 23, 91):
        rng = random.Random(seed)

        def doc(i):
            if rng.random() < 0.1:
                return (i, "   ")  # whitespace-only: dl 0, no postings
            n = rng.randint(1, 12)
            return (i, " ".join(rng.choice(vocab) for _ in range(n)))

        old = spark.createDataFrame([doc(i) for i in range(20)],
                                    "doc_id long, text string")
        new = spark.createDataFrame([doc(i) for i in range(100, 108)],
                                    "doc_id long, text string")
        removed_ids = rng.sample(list(range(20)) + list(range(100, 108)),
                                 6)
        removed = spark.createDataFrame([(i,) for i in removed_ids],
                                        "doc_id long")

        idx0, st0 = build_term_index(old, with_stats=True)
        idx1, st1 = merge_term_index(idx0, st0, new)
        idx2, (n2, avg2) = prune_term_index(idx1, st1, removed)

        survivors = old.unionByName(new).filter(
            ~F.col("doc_id").isin(removed_ids))
        want, (wn, wavg) = build_term_index(survivors, with_stats=True)
        assert (n2, avg2) == (wn, wavg), seed
        assert sorted(map(tuple, idx2.collect())) == \
            sorted(map(tuple, want.collect())), seed
        got_s = [r.asDict() for r in bm25_rank_indexed(
            idx2, ["alpha", "the"], k=30, n_docs=n2,
            avgdl=avg2).collect()]
        want_s = [r.asDict() for r in bm25_rank_indexed(
            want, ["alpha", "the"], k=30, n_docs=wn,
            avgdl=wavg).collect()]
        assert got_s == want_s, seed


def test_tfidf_cosine_zero_norm_docs_never_pair(spark):
    """max_df_frac=1.0 keeps a universal term with idf 0; docs whose
    only kept term is that one have zero norm — the NaN cosine must not
    leak through the threshold (Spark compares NaN as greatest)."""
    from tantalus_spark.datapipe.textstats import tfidf_cosine_pairs

    rows = [(1, "the alpha"), (2, "the beta"),
            (3, "the"), (4, "the")]        # docs 3/4: only the idf-0 term
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_cosine_pairs(df, threshold=0.0, min_df=2,
                             max_df_frac=1.0, max_df=500)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    out.unpersist()
    assert not any(3 in p or 4 in p for p in got), got


def test_hybrid_rrf_overlapped_legs_release_their_caches(spark):
    """The scan path materializes its two legs concurrently; its
    internal caches (the one-shot feats build, the persisted dense
    top-depth, the lexical top-depth) must all be released on return —
    only the returned frame may stay cached, or a long-lived session
    accumulates corpus-sized storage per call."""
    from tantalus_spark.datapipe.textstats import hybrid_rank_rrf

    filler = " ".join(f"pad{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler}") for i in range(6)],
        "doc_id long, text string")
    # order-robustness: the assertions below reason about the WHOLE
    # CacheManager, so start from a known-empty one (recomputation is
    # correct for any frame another test left cached — caches are a
    # performance artifact, never a correctness dependency here)
    spark.catalog.clearCache()
    out = hybrid_rank_rrf(docs, ["apple", "banana"], k=3, depth=4,
                          dim=16)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty(), "the returned frame stays cached"
    out.unpersist()
    assert cm.isEmpty(), \
        "hybrid_rank_rrf leaked an internal cache (feats/scored/sparse)"


def test_hybrid_rrf_fuses_both_legs(spark):
    """A doc ranked well by BOTH legs must outscore a doc seen by only
    one leg at the same per-leg rank, the rank sentinel for a missing
    leg is 0, and the driver-side query hashing twin matches the
    Spark-side md5 exactly (same buckets, same signs)."""
    from tantalus_spark.datapipe.textstats import (
        _query_hashed_features, hashed_features, hybrid_rank_rrf)

    filler = " ".join(f"pad{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, f"apple banana {filler}"),      # both legs
         (2, f"apple apple {filler}"),       # lexical-heavy
         (3, f"banana banana {filler}"),
         (4, filler)],                       # neither query term
        "doc_id long, text string")
    out = hybrid_rank_rrf(docs, ["apple", "banana"], k=4, depth=4,
                          dim=16)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    out.unpersist()
    # doc 1 contains both terms: top fused rank
    top = max(rows.values(), key=lambda r: r["rrf"])
    assert top["doc_id"] == 1
    # every returned row carries ranks; 0 means "not in that leg"
    assert all(r["rank_bm25"] >= 0 and r["rank_dense"] >= 0
               for r in rows.values())
    # rrf equals the closed form from the reported ranks
    for r in rows.values():
        want = (1.0 / (60 + r["rank_bm25"]) if r["rank_bm25"] else 0.0) \
            + (1.0 / (60 + r["rank_dense"]) if r["rank_dense"] else 0.0)
        assert abs(r["rrf"] - round(want, 6)) < 1e-9
    # driver-side query twin == Spark-side hashing of the same terms
    qf = _query_hashed_features(["apple", "banana"], 16)
    qdf = spark.createDataFrame([(0, "apple banana")],
                                "doc_id long, text string")
    spark_feats = {r["bucket"]: r["feat"]
                   for r in hashed_features(qdf, dim=16).collect()
                   if r["feat"] != 0}
    assert qf == spark_feats


def test_source_js_divergence_bounds_and_symmetry(spark):
    """JS is 0 for identically-distributed slices, 1 bit for disjoint
    vocabularies, and the pair grid covers each unordered pair once."""
    from tantalus_spark.datapipe.textstats import source_js_divergence

    same = [(i, "alpha beta gamma", "s1") for i in range(5)] + \
           [(100 + i, "alpha beta gamma", "s2") for i in range(5)]
    disj = [(200 + i, "zzz qqq", "s3") for i in range(5)]
    df = spark.createDataFrame(same + disj,
                               "doc_id long, text string, source string")
    res = source_js_divergence(df, n_buckets=32)
    out = {(r["source_a"], r["source_b"]): r["js_bits"]
           for r in res.collect()}
    res.unpersist()
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    assert out[("s1", "s2")] == 0.0
    assert abs(out[("s1", "s3")] - 1.0) < 1e-6
    assert abs(out[("s2", "s3")] - 1.0) < 1e-6


def test_dense_serve_stream_matches_batch_dense_leg(spark, replay_stream):
    """Serving a query stream from foreachBatch through the batch dense
    leg of the q131/q141 hybrids (_dense_leg_scored) against the FROZEN
    hashed-feature table gives, per query, the driver-side reference:
    every doc with a feature row in one of the query's nonzero buckets,
    net-dot-0 docs included (they score cos_nano 0 and can occupy
    within-depth rank slots), with its exact nano-cosine."""
    import math

    from tantalus_spark.datapipe.textstats import (
        _dense_leg_scored, _query_hashed_features, hashed_features)

    filler = " ".join(f"pad{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "cherry " * (i % 3))
         for i in range(1, 9)],
        "doc_id long, text string")
    dim = 16
    feats = hashed_features(docs, dim=dim).persist()
    doc_feats, norm = {}, {}
    for r in feats.collect():
        doc_feats.setdefault(r["doc_id"], {})[r["bucket"]] = r["feat"]
        norm[r["doc_id"]] = norm.get(r["doc_id"], 0) + r["feat"] ** 2

    def reference(qf):
        qnorm = float(sum(v * v for v in qf.values()))
        out = {}
        for d, fb in doc_feats.items():
            hit = [bk for bk in fb if bk in qf]
            if hit and norm[d] > 0:
                dot = sum(fb[bk] * qf[bk] for bk in hit)
                cos = float(dot) / math.sqrt(float(norm[d]) * qnorm)
                out[d] = math.floor(cos * 1e9 + 0.5)
        return out

    queries = [(7, ["Apple", "banana", "cherry"]), (8, ["cherry", "pad3"])]
    served = {}

    def on_batch(batch_df, batch_id):
        for q in batch_df.collect():
            qf = _query_hashed_features([t.lower() for t in q["terms"]],
                                        dim)
            served[q["query_id"]] = (qf, {
                r["doc_id"]: r["cos_nano"]
                for r in _dense_leg_scored(feats, qf, depth=100,
                                           id_col="doc_id",
                                           norms=None).collect()})

    qschema = "query_id long, terms array<string>"
    replay_stream([spark.createDataFrame([q], qschema) for q in queries],
                  on_batch)
    feats.unpersist()
    assert set(served) == {7, 8}
    for qid, (qf, got) in served.items():
        assert got == reference(qf) and len(got) >= 4, (qid, got)


def test_hybrid_serve_batches_matches_batch_operator(spark, replay_stream):
    """Each micro-batch of a query stream, handed as a DataFrame to
    hybrid_serve_topk_batch from foreachBatch (both legs off the frozen
    build artifacts), serves every query bit-identically to
    hybrid_serve_indexed run directly on the same artifacts."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_indexed, hybrid_serve_topk_batch)

    filler = " ".join(f"pad{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "cherry " * (i % 3))
         for i in range(1, 9)],
        "doc_id long, text string")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx = idx.persist()
    feats = hashed_features(docs, dim=16).persist()
    norms = hashed_norms(feats).persist()
    norms.count()

    got: list[dict] = []

    def on_batch(batch_df, batch_id):
        served = hybrid_serve_topk_batch(
            idx, batch_df, feats, k=5, depth=8, dim=16,
            n_docs=n_docs, avgdl=avgdl, norms=norms)
        got.extend(r.asDict() for r in served.collect())

    queries = [(1, ["apple", "cherry"]), (2, ["banana"])]
    qschema = "query_id long, terms array<string>"
    replay_stream([spark.createDataFrame([q], qschema) for q in queries],
                  on_batch)

    for qid, terms in queries:
        want = sorted(
            (r["doc_id"], r["rank_bm25"], r["rank_dense"], r["rrf"])
            for r in hybrid_serve_indexed(
                idx, terms, feats, k=5, depth=8, dim=16,
                n_docs=n_docs, avgdl=avgdl, norms=norms).collect())
        have = sorted(
            (r["doc_id"], r["rank_bm25"], r["rank_dense"], r["rrf"])
            for r in got if r["query_id"] == qid)
        assert have == want and len(have) == 5, (qid, have, want)
    for df in (idx, feats, norms):
        df.unpersist()


def test_index_refresh_batches_rebuild_equal_with_version_swap(
        spark, tmp_path):
    """Streaming index maintenance end to end: after N micro-batches
    the CURRENT version is bit-identical to a full rebuild over every
    document seen (postings multiset, stats, and served BM25 scores),
    each refresh was O(batch) merge + atomic pointer swap, the version
    history is immutable, and a duplicate-id batch is dropped by the
    dedup_against_current semi-join instead of doubling postings."""
    import datetime as dt
    import os
    import time

    from tantalus_spark.datapipe.textstats import (bm25_rank_indexed,
                                                   build_term_index)
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    filler = " ".join(f"pad{i}" for i in range(15))
    b1 = [(i, f"apple banana {filler}") for i in range(1, 5)]
    b2 = [(10, f"cherry apple {filler}"), (11, "banana banana")]
    b3 = [(10, f"cherry apple {filler}")]  # duplicate id: must be dropped
    schema = "doc_id long, text string, ts timestamp"
    base = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "docs_stream")
    for batch in (b1, b2, b3):
        spark.createDataFrame([(i, t, base) for i, t in batch], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    ix_dir = str(tmp_path / "ix")
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 1).load(src))
    q = (stream.select("doc_id", "text").writeStream
         .foreachBatch(index_refresh_batches(
             ix_dir, dedup_against_current=True))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    q.awaitTermination(120)

    postings, (n, avgdl) = load_term_index(spark, ix_dir)
    all_docs = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    want_p, (wn, wavg) = build_term_index(all_docs, with_stats=True)
    assert (n, avgdl) == (wn, wavg)  # bit-identical stats
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want_p.collect()))
    served = [r.asDict() for r in bm25_rank_indexed(
        postings, ["apple", "banana"], k=10, n_docs=n,
        avgdl=avgdl).collect()]
    want_s = [r.asDict() for r in bm25_rank_indexed(
        want_p, ["apple", "banana"], k=10, n_docs=wn,
        avgdl=wavg).collect()]
    assert served == want_s
    # immutable version history: one directory per non-empty refresh
    versions = sorted(d for d in os.listdir(ix_dir) if d.startswith("v"))
    assert len(versions) == 2  # batch 3 was all-duplicate -> no commit


def test_index_refresh_cdc_adds_and_deletes(spark, tmp_path):
    """CDC maintenance: one op-column stream drives both index sides —
    adds merge, deletes prune, a re-indexed doc (delete+add in one
    batch) lands with its NEW postings only, a tombstone for a
    never-indexed id is ignored (stats guard), and the final CURRENT
    equals a clean rebuild over the surviving documents bit-for-bit."""
    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op")
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add"),
         (3, "cherry cherry apple", "add")], schema), 0)
    cb(spark.createDataFrame(
        [(2, None, "delete"),                  # plain tombstone
         (3, None, "delete"), (3, "apple apple rewritten", "add"),
         (99, None, "delete"),                 # never indexed: ignored
         (4, "banana date", "add")], schema), 1)

    postings, (n, avgdl) = load_term_index(spark, ix)
    survivors = spark.createDataFrame(
        [(1, "apple banana"), (3, "apple apple rewritten"),
         (4, "banana date")], "doc_id long, text string")
    want, (wn, wavg) = build_term_index(survivors, with_stats=True)
    assert (n, avgdl) == (wn, wavg)
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want.collect()))


def test_index_refresh_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a committed batch id
    must be a no-op (the naive re-merge would DOUBLE that batch's
    postings). Also: a replayed batch id below the pointer is skipped
    even when its dataframe differs (the commit, not the data, is the
    unit of idempotence)."""
    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix)
    b0 = spark.createDataFrame([(1, "apple banana"), (2, "banana")],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(10, "cherry apple")],
                               "doc_id long, text string")
    cb(b0, 0)
    cb(b1, 1)
    want_p, want_stats = load_term_index(spark, ix)
    want = sorted(map(tuple, want_p.collect()))
    # replay both batches (same ids): nothing may change
    cb(b0, 0)
    cb(b1, 1)
    got_p, got_stats = load_term_index(spark, ix)
    assert got_stats == want_stats
    assert sorted(map(tuple, got_p.collect())) == want
    # and the final state equals a clean build over both batches
    ref, ref_stats = build_term_index(b0.unionByName(b1),
                                      with_stats=True)
    assert got_stats == ref_stats
    assert sorted(map(tuple, got_p.collect())) == \
        sorted(map(tuple, ref.collect()))


def _tree_bytes(root):
    import os
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _tree_files(root):
    import os
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            out.add(os.path.relpath(os.path.join(dirpath, f), root))
    return out


def test_index_refresh_commit_writes_o_batch_bytes(spark, tmp_path):
    """The segmented store's load-bearing scale property: folding a
    SMALL batch into a LARGE index writes only that batch's delta
    segment + manifest — never a copy of the index (the r8 design flaw:
    every commit rewrote the full unioned postings parquet). Measured
    on bytes actually written: the small commit's new files must be a
    small fraction of the large segment, and every pre-existing file
    must be untouched (immutable segments shared across versions)."""
    import os

    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix)
    big = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(40)))
         for i in range(2000)], "doc_id long, text string")
    cb(big, 0)
    before_files = _tree_files(ix)
    seg0_bytes = _tree_bytes(os.path.join(ix, "seg-00000000"))

    small = spark.createDataFrame(
        [(100000 + i, f"delta doc {i} alpha beta") for i in range(5)],
        "doc_id long, text string")
    cb(small, 1)
    new_files = _tree_files(ix) - before_files
    # every new byte belongs to the batch's own segment or a manifest /
    # pointer — nothing under seg-00000000 was rewritten
    assert new_files, "second commit wrote nothing"
    assert all(f.startswith(("seg-00000001", "v00000001", "CURRENT"))
               for f in new_files), sorted(new_files)
    new_bytes = sum(_tree_bytes(os.path.join(ix, d))
                    for d in ("seg-00000001", "v00000001"))
    assert new_bytes < 0.2 * seg0_bytes, (new_bytes, seg0_bytes)
    # and the served view still covers both batches
    postings, (n, _avg) = load_term_index(spark, ix)
    assert n == 2005
    assert postings.select("doc_id").distinct().count() == 2005


def test_index_refresh_compaction_and_gc(spark, tmp_path):
    """Crossing ``max_segments`` folds the manifest into ONE compacted
    segment with tombstones cleared (physically applied), stays
    rebuild-equal through the fold, and GC drops superseded manifests
    and unreferenced segments so storage stays bounded."""
    import json
    import os

    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=2)
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add")],
        schema), 0)
    cb(spark.createDataFrame(
        [(2, None, "delete"), (3, "cherry date", "add")], schema), 1)
    # third segment crosses max_segments=2 -> compaction in this commit
    cb(spark.createDataFrame(
        [(4, "elder fig", "add")], schema), 2)

    cur = open(os.path.join(ix, "CURRENT")).read().strip()
    with open(os.path.join(ix, cur, "manifest.json")) as f:
        m = json.load(f)
    assert len(m["segments"]) == 1, m
    assert m["segments"][0]["name"].endswith("c")
    assert m["tombstones"] == []
    # rebuild-equal through compaction (doc 2's delete applied
    # physically)
    postings, (n, avgdl) = load_term_index(spark, ix)
    survivors = spark.createDataFrame(
        [(1, "apple banana"), (3, "cherry date"), (4, "elder fig")],
        "doc_id long, text string")
    want, (wn, wavg) = build_term_index(survivors, with_stats=True)
    assert (n, avgdl) == (wn, wavg)
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want.collect()))
    # GC: only keep_versions manifests survive, and no segment outside
    # the kept manifests' reference set remains on disk
    dirs = set(os.listdir(ix))
    versions = sorted(d for d in dirs if d.startswith("v"))
    assert versions == ["v00000001", "v00000002"]
    segs = {d for d in dirs if d.startswith(("seg-", "ts-"))}
    referenced = set()
    for v in versions:
        with open(os.path.join(ix, v, "manifest.json")) as f:
            mv = json.load(f)
        referenced |= {s["name"] for s in mv["segments"]}
        referenced |= {t["name"] for t in mv["tombstones"]}
    assert segs == referenced, (segs, referenced)


def test_drift_monitor_foreachbatch_matches_batch_operator(spark,
                                                           replay_stream):
    """js_against_baseline as a foreachBatch drift monitor: each
    micro-batch's drift rows equal the operator run on that slice's rows
    as a static frame, a slice identical to the baseline mix scores 0
    bits and a disjoint-vocabulary slice 1 bit."""
    from tantalus_spark.datapipe.textstats import (
        js_against_baseline, token_bucket_counts)

    ref_rows = [(i, "alpha beta gamma delta epsilon", "ok") for i in range(8)]
    ref = spark.createDataFrame(ref_rows,
                                "doc_id long, text string, source string")
    baseline = token_bucket_counts(ref, n_buckets=32).persist()
    baseline.count()

    b1 = [(100 + i, "alpha beta gamma delta epsilon", "same")
          for i in range(4)]
    b2 = [(200 + i, "zz qq ww ee rr", "drifted") for i in range(4)]
    schema = "doc_id long, text string, source string"

    emitted: list[list[dict]] = []

    def on_batch(batch_df, batch_id):
        scored = js_against_baseline(batch_df, baseline, n_buckets=32)
        emitted.append([r.asDict() for r in scored.collect()])
        scored.unpersist()

    replay_stream([spark.createDataFrame(rows, schema) for rows in (b1, b2)],
                  on_batch)
    assert len(emitted) == 2

    got = {r["source"]: (r["js_bits"], r["n_tokens"])
           for batch in emitted for r in batch}
    assert set(got) == {"same", "drifted"}
    # batch-operator parity on each slice
    for rows in (b1, b2):
        bdf = spark.createDataFrame(rows, schema)
        out = js_against_baseline(bdf, baseline, n_buckets=32)
        for r in out.collect():
            assert got[r["source"]] == (r["js_bits"], r["n_tokens"])
        out.unpersist()
    # identical mix ~0 drift; disjoint vocabulary ~1 bit
    assert got["same"][0] == 0.0
    assert abs(got["drifted"][0] - 1.0) < 1e-6
    baseline.unpersist()


def test_js_against_baseline_rejects_empty_baseline(spark):
    from tantalus_spark.datapipe.textstats import (
        js_against_baseline, token_bucket_counts)

    docs = spark.createDataFrame([(1, "a b c", "s")],
                                 "doc_id long, text string, source string")
    empty = token_bucket_counts(
        spark.createDataFrame([], "doc_id long, text string"),
        n_buckets=8)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty baseline"):
        js_against_baseline(docs, empty, n_buckets=8)


def test_js_against_baseline_rejects_bucket_mismatch(spark):
    """A baseline built with a larger n_buckets would silently lose its
    out-of-range buckets in the dense join while the total still
    counted them — fail fast instead."""
    from tantalus_spark.datapipe.textstats import (
        js_against_baseline, token_bucket_counts)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "s")],
        "doc_id long, text string, source string")
    big = token_bucket_counts(docs, n_buckets=256)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_buckets"):
        js_against_baseline(docs, big, n_buckets=8)


def test_lang_confusion_cells_and_shares(spark):
    """Marker-heavy docs land on their language's diagonal; a label
    with no marker set (zh-like text) shows up as 'unknown' — the
    blindness is visible, not silent; shares sum to 1 per label."""
    from tantalus_spark.datapipe.textstats import lang_confusion

    rows = [
        (1, "the cat and the dog of a house", "en"),
        (2, "the quick fox and a bird of prey", "en"),
        (3, "el perro la casa los gatos de madrid", "es"),
        (4, "xyzzy plugh qqqq", "zh"),
        (5, None, "en"),                     # excluded (null text)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = lang_confusion(df)
    cells = {(r["label"], r["pred"]): (r["n_docs"], r["share"])
             for r in out.collect()}
    assert cells[("en", "en")] == (2, 1.0)
    assert cells[("es", "es")] == (1, 1.0)
    assert cells[("zh", "unknown")] == (1, 1.0)
    assert ("en", "unknown") not in cells   # null text excluded


def test_bm25_rank_empty_corpus_returns_empty_frame(spark):
    """Empty or all-null-text corpus: bm25_rank returns the empty
    result with the correct schema (id dtype follows the input),
    instead of crashing on 0/0 avgdl — the build_term_index
    empty-corpus contract."""
    from tantalus_spark.datapipe.textstats import bm25_rank

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_rank(empty, ["apple"], k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "score_nano", "n_terms_hit", "bm25"]
    allnull = spark.createDataFrame([(1, None)],
                                    "doc_id string, text string")
    out2 = bm25_rank(allnull, ["apple"], k=5)
    assert out2.count() == 0
    assert out2.schema["doc_id"].dataType.simpleString() == "string"


def test_hybrid_rrf_prebuilt_feats_serving_path(spark):
    """The serving path (prebuilt hashed-feature table) returns exactly
    the scan path's fusion, and the caller-owned table stays cached —
    hybrid never releases what it did not build."""
    from tantalus_spark.datapipe.textstats import (
        hashed_features, hybrid_rank_rrf)

    filler = " ".join(f"pad{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "cherry " * (i % 3))
         for i in range(1, 9)],
        "doc_id long, text string")
    feats = hashed_features(docs, dim=16).persist()
    feats.count()
    served = hybrid_rank_rrf(docs, ["apple", "cherry"], k=5, depth=8,
                             dim=16, feats=feats)
    b = sorted(map(tuple, served.collect()))
    served.unpersist()
    # the served call must NOT release the caller-owned table (assert
    # BEFORE the scan-path call below: that one builds — and releases —
    # an identical hashed_features plan, and Spark's CacheManager keys
    # caches by analyzed plan, so it would drop this shared entry too)
    assert feats.storageLevel.useMemory
    scan = hybrid_rank_rrf(docs, ["apple", "cherry"], k=5, depth=8,
                           dim=16)
    a = sorted(map(tuple, scan.collect()))
    scan.unpersist()
    assert a == b and len(a) == 5
    feats.unpersist()


def test_hybrid_serve_indexed_matches_scan_path(spark):
    """The fully index-served hybrid (q141: postings + stats + feats +
    norms, zero raw-text scans) returns EXACTLY the scan path's fusion
    (q131) — legs and fusion share one expression tree, so parity is
    bit-exact, not approximate."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_rank_rrf, hybrid_serve_indexed)

    filler = " ".join(f"pad{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "cherry " * (i % 4))
         for i in range(1, 12)],
        "doc_id long, text string")
    scan = hybrid_rank_rrf(docs, ["apple", "cherry"], k=6, depth=8,
                           dim=16)
    a = sorted(map(tuple, scan.collect()))
    scan.unpersist()

    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    feats = hashed_features(docs, dim=16).persist()
    norms = hashed_norms(feats).persist()
    norms.count()
    served = hybrid_serve_indexed(idx, ["apple", "cherry"], feats,
                                  k=6, depth=8, dim=16,
                                  n_docs=n_docs, avgdl=avgdl,
                                  norms=norms)
    b = sorted(map(tuple, served.collect()))
    assert a == b and len(a) == 6
    # self-contained fallback (no stats / no norms) is also identical
    served2 = hybrid_serve_indexed(idx, ["apple", "cherry"], feats,
                                   k=6, depth=8, dim=16)
    assert sorted(map(tuple, served2.collect())) == a
    # ENRICHED layout (norm column pre-joined at build): identical too,
    # with zero norm joins
    enriched = feats.join(norms, "doc_id")
    served3 = hybrid_serve_indexed(idx, ["apple", "cherry"], enriched,
                                   k=6, depth=8, dim=16,
                                   n_docs=n_docs, avgdl=avgdl)
    assert sorted(map(tuple, served3.collect())) == a
    feats.unpersist()
    norms.unpersist()


def test_hybrid_serve_topk_batch_matches_per_query(spark):
    """The batched hybrid server (one job for the whole query set) is
    per-query BIT-IDENTICAL to hybrid_serve_indexed on the same frozen
    artifacts — for overlapping term sets, disjoint term sets, a query
    with zero lexical hits, on BOTH feature layouts (norms sidecar and
    ENRICHED norm column)."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_indexed, hybrid_serve_topk_batch)

    filler = " ".join(f"pad{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(i, f"apple banana {filler} " + "cherry " * (i % 4)
          + ("date fig " if i % 5 == 0 else ""))
         for i in range(1, 14)],
        "doc_id long, text string")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx = idx.persist()
    feats = hashed_features(docs, dim=16).persist()
    norms = hashed_norms(feats).persist()
    norms.count()

    queries = [(1, ["apple", "cherry"]), (2, ["banana"]),
               (3, ["date", "fig"]),
               (4, ["zzz_absent_term"])]  # no lexical hits anywhere
    batched = hybrid_serve_topk_batch(
        idx, queries, feats, k=5, depth=8, dim=16,
        n_docs=n_docs, avgdl=avgdl, norms=norms)
    got = [r.asDict() for r in batched.collect()]
    for qid, terms in queries:
        want = sorted(
            (r["doc_id"], r["rank_bm25"], r["rank_dense"], r["rrf"])
            for r in hybrid_serve_indexed(
                idx, terms, feats, k=5, depth=8, dim=16,
                n_docs=n_docs, avgdl=avgdl, norms=norms).collect())
        have = sorted(
            (r["doc_id"], r["rank_bm25"], r["rank_dense"], r["rrf"])
            for r in got if r["query_id"] == qid)
        assert have == want, (qid, have, want)

    # ENRICHED layout: identical output, zero norm joins in the plan
    enriched = feats.join(norms, "doc_id")
    b2 = hybrid_serve_topk_batch(
        idx, queries, enriched, k=5, depth=8, dim=16,
        n_docs=n_docs, avgdl=avgdl)
    assert sorted(map(tuple, b2.collect())) == \
        sorted(map(tuple, batched.collect()))
    for df in (idx, feats, norms):
        df.unpersist()


def test_group_split_cluster_map_joins_near_dup_twins(spark):
    """With a frozen cluster map, near-dup twins that are NOT byte- or
    NFC-equal land in ONE split; docs NFC-equal to a clustered member
    inherit the cluster family (the lift to the NFC-family level); and
    unmapped singletons reproduce the base tier exactly."""
    from tantalus_spark.datapipe.sampling import group_split

    base = "shared near duplicate body with plenty of words here"
    rows = ([(i, f"unique doc {i} body") for i in range(20)]
            + [(100, base + " variant one"),
               (101, base + " variant two"),     # near-dup of 100
               (102, base + " variant  one")])   # NFC/ws-equal to 100
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # frozen family map (as dup_clusters would emit): 100 and 101 are
    # one cluster; 102 is NOT in the map (only NFC-linked to 100)
    cmap = spark.createDataFrame([(100, 100), (101, 100)],
                                 "doc_id long, cluster_id long")
    out = group_split(df, {"train": .8, "val": .1, "test": .1},
                      cluster_map=cmap)
    got = {r["doc_id"]: (r["canonical_id"], r["split"])
           for r in out.collect()}
    # 100 and 101 (near-dups, different NFC digests) share the family
    assert got[100] == got[101]
    # 102 is NFC-equal to 100, so the lift pulls it into the same family
    assert got[102] == got[100]
    # unmapped singletons: identical to the base (no-map) tier
    plain = group_split(df, {"train": .8, "val": .1, "test": .1})
    want = {r["doc_id"]: (r["canonical_id"], r["split"])
            for r in plain.collect()}
    for i in range(20):
        assert got[i] == want[i]


def test_group_split_families_never_straddle(spark):
    """Exact and NFC-variant duplicates always land in the SAME split
    (they hash their canonical id); singleton corpora reproduce
    hash_split on raw ids exactly; null text excluded."""
    from tantalus_spark.datapipe.sampling import group_split, hash_split

    base = "some reusable document body with enough words to be real"
    rows = ([(i, f"unique doc {i} " + base, ) for i in range(50)]
            + [(100, base), (101, base), (102, base + "  ")]  # one family
            + [(103, None)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = group_split(df, {"train": .8, "val": .1, "test": .1})
    got = {r["doc_id"]: (r["canonical_id"], r["split"])
           for r in out.collect()}
    assert 103 not in got
    # the 100/101/102 family shares a canonical id and one split
    fam = {got[i] for i in (100, 101, 102)}
    assert len(fam) == 1 and fam.pop()[0] == 100
    # singletons: canonical == own id, split == hash_split on raw id
    solo = hash_split(df.filter("doc_id < 50"),
                      {"train": .8, "val": .1, "test": .1})
    want = {r["doc_id"]: r["split"] for r in solo.collect()}
    for i in range(50):
        assert got[i] == (i, want[i])


def test_merge_canonical_map_matches_rebuild_on_ascending_ids(spark):
    """Append-only ingest (ascending ids): the incremental map equals a
    full rebuild bit-for-bit; an out-of-order smaller id keeps the
    FIRST-SEEN canonical (stability contract) instead of stealing it."""
    from tantalus_spark.datapipe.textstats import (
        merge_canonical_map, normalized_dup_groups)

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "alpha  beta"), (11, "epsilon zeta")],
        "doc_id long, text string")
    cmap = normalized_dup_groups(old)
    merged = {r["norm_digest"]: (r["n_docs"], r["canonical_id"])
              for r in merge_canonical_map(cmap, new).collect()}
    rebuilt = {r["norm_digest"]: (r["n_docs"], r["canonical_id"])
               for r in normalized_dup_groups(
                   old.unionByName(new)).collect()}
    assert merged == rebuilt
    # out-of-order: id 0 duplicates group canonical=1; merge keeps 1
    late = spark.createDataFrame([(0, "alpha beta")],
                                 "doc_id long, text string")
    kept = {r["norm_digest"]: r["canonical_id"]
            for r in merge_canonical_map(cmap, late).collect()}
    dg = [d for d, (n, c) in
          {r["norm_digest"]: (r["n_docs"], r["canonical_id"])
           for r in cmap.collect()}.items() if c == 1][0]
    assert kept[dg] == 1   # stability: first-seen canonical survives


def test_feats_refresh_batches_rebuild_equal_and_serves(spark, tmp_path):
    """Streaming dense-feature maintenance on the segmented store: CDC
    adds/deletes/delete+re-add land an ENRICHED feats view bit-identical
    to a rebuild over the survivors, a replayed batch id is a no-op,
    and the maintained view serves the dense leg with zero norm joins
    — identical ranks to serving from a fresh build."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import (
        _dense_leg_scored, _query_hashed_features, hashed_features,
        hashed_norms)
    from tantalus_spark.streaming.maintenance import (
        feats_refresh_batches, load_feats_index)

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    ix = str(tmp_path / "feats")
    cb = feats_refresh_batches(ix, dim=32, op_col="op")
    b0 = (docs.filter("doc_id < 200").select("doc_id", "text")
              .withColumn("op", F.lit("add")))
    readd = (docs.filter("doc_id = 300")
                 .select(F.lit(10).cast("long").alias("doc_id"), "text")
                 .withColumn("op", F.lit("add")))
    dels = spark.createDataFrame(
        [(3, None, "delete"), (10, None, "delete")],
        "doc_id long, text string, op string")
    b1 = (docs.filter("doc_id >= 200 and doc_id < 260")
              .select("doc_id", "text")
              .withColumn("op", F.lit("add"))
              .unionByName(dels.select("doc_id", "text", "op"))
              .unionByName(readd))
    cb(b0.select("doc_id", "text", "op"), 0)
    cb(b1.select("doc_id", "text", "op"), 1)
    cb(b1.select("doc_id", "text", "op"), 1)  # replay: no-op

    got = load_feats_index(spark, ix)
    assert "norm" in got.columns  # ENRICHED layout
    survivors = (docs.filter(
        "doc_id < 260 and doc_id not in (3, 10)").select("doc_id", "text")
        .unionByName(readd.drop("op")))
    wf = hashed_features(survivors, dim=32)
    want = wf.join(hashed_norms(wf), "doc_id")
    norm = lambda df: sorted(map(tuple, df.select(
        "doc_id", "bucket", "feat", "norm").collect()))
    assert norm(got) == norm(want)

    # the maintained view serves the dense leg identically to a build
    qf = _query_hashed_features(["customer", "hash"], 32)
    serve_got = _dense_leg_scored(got, qf, depth=10, id_col="doc_id",
                                  norms=None)
    serve_want = _dense_leg_scored(want, qf, depth=10, id_col="doc_id",
                                   norms=None)
    assert sorted(map(tuple, serve_got.collect())) == \
        sorted(map(tuple, serve_want.collect()))


def test_index_refresh_cdc_readd_survives_dedup_guard(spark, tmp_path):
    """Regression (r9 review): with dedup_against_current=True, a CDC
    delete+re-add in ONE batch must land the document's NEW postings —
    the 'already indexed' guard must exclude ids the batch itself
    tombstoned, or the delete downdates the stats and the re-add gets
    anti-joined away (document silently lost)."""
    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op",
                               dedup_against_current=True)
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add")],
        schema), 0)
    cb(spark.createDataFrame(
        [(2, None, "delete"), (2, "rewritten text entirely", "add"),
         (1, "apple banana", "add")],  # true duplicate: must be dropped
        schema), 1)
    postings, (n, avgdl) = load_term_index(spark, ix)
    survivors = spark.createDataFrame(
        [(1, "apple banana"), (2, "rewritten text entirely")],
        "doc_id long, text string")
    want, (wn, wavg) = build_term_index(survivors, with_stats=True)
    assert (n, avgdl) == (wn, wavg)
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want.collect()))


def test_hybrid_serve_topk_batch_rejects_duplicate_qids(spark):
    """Output rows are keyed by query_id: duplicates must fail loudly,
    not merge two requests into one garbled union query."""
    import pytest

    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hybrid_serve_topk_batch)

    docs = spark.createDataFrame([(1, "apple banana")],
                                 "doc_id long, text string")
    idx, (n, avg) = build_term_index(docs, with_stats=True)
    feats = hashed_features(docs, dim=16)
    with pytest.raises(ValueError, match="duplicate query ids"):
        hybrid_serve_topk_batch(idx, [(7, ["apple"]), (7, ["banana"])],
                                feats, dim=16, n_docs=n, avgdl=avg)


def test_gc_enforces_keep_versions_floor(spark, tmp_path):
    """Regression (r9 advice): keep_versions=1 would rmtree the
    just-superseded version right after the pointer swap (a pinned
    serving session gets FileNotFound mid-query) and keep_versions=0
    silently kept everything (versions[-0:]). _gc_versions clamps to
    the documented >= 2 floor."""
    import os

    from tantalus_spark.streaming.maintenance import index_refresh_batches

    for kv in (0, 1):
        ix = str(tmp_path / f"ix_kv{kv}")
        cb = index_refresh_batches(ix, keep_versions=kv)
        for b in range(3):
            cb(spark.createDataFrame(
                [(100 * b + i, f"tok{b} alpha beta {i}")
                 for i in range(3)], "doc_id long, text string"), b)
        versions = sorted(d for d in os.listdir(ix)
                          if d.startswith("v"))
        assert versions == ["v00000001", "v00000002"], (kv, versions)


def test_gc_repairs_deferred_cleanup_on_replay(spark, tmp_path):
    """Regression (r9 advice): a crash between _commit_version and
    _gc_versions used to defer that commit's GC forever — the replay
    guard returned before GC, so superseded manifests/segments
    lingered until the NEXT committed batch. GC now runs before the
    replay check, so even a no-op replayed batch reclaims them."""
    import os

    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, keep_versions=2)
    for b in range(3):
        cb(spark.createDataFrame(
            [(100 * b + i, f"tok{b} alpha beta {i}") for i in range(3)],
            "doc_id long, text string"), b)
    # simulate the crash's leftovers: a superseded manifest dir and an
    # orphaned segment that the (skipped) GC would have removed
    os.makedirs(os.path.join(ix, "v00000000"), exist_ok=True)
    with open(os.path.join(ix, "v00000000", "manifest.json"), "w") as f:
        f.write('{"segments": [], "tombstones": [], "n_docs": 0, '
                '"dl_sum": 0, "id_col": "doc_id"}')
    orphan = os.path.join(ix, "seg-99999990")
    os.makedirs(os.path.join(orphan, "postings"), exist_ok=True)
    with open(os.path.join(orphan, "postings", "junk"), "w") as f:
        f.write("x")

    # replay the already-committed batch 2: the guard makes the commit
    # a no-op, but GC must still run and reclaim the leftovers
    cb(spark.createDataFrame([(999, "noop")],
                             "doc_id long, text string"), 2)
    dirs = set(os.listdir(ix))
    assert "v00000000" not in dirs
    assert "seg-99999990" not in dirs
    # and the live view is untouched
    _postings, (n, _avg) = load_term_index(spark, ix)
    assert n == 9


def test_hybrid_serve_topk_batch_dataframe_queries_bit_parity(spark):
    """The offline-eval input shape: hybrid_serve_topk_batch with a
    (query_id, terms) DataFrame must be per-query bit-identical to the
    list input — term normalization and query hashing move into
    expressions (F.md5 == hashlib.md5 byte-for-byte), only the batch
    vocabulary is collected for the IN pruning. Includes a mixed-case
    + duplicate-term query to exercise the expression-side
    lower/distinct normalization."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_topk_batch)

    docs = read_parquet(spark,
                        "/root/testdata/sf0.001/documents.parquet")
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    feats = hashed_features(docs, dim=64)
    enriched = feats.join(hashed_norms(feats), "doc_id")

    queries = [(1, ["Hash", "merge", "hash"]), (2, ["sort", "join"]),
               (3, ["customer"])]
    lst = hybrid_serve_topk_batch(idx, queries, enriched, k=5,
                                  depth=10, dim=64, n_docs=n_docs,
                                  avgdl=avgdl)
    qdf = spark.createDataFrame(queries,
                                "query_id long, terms array<string>")
    dfp = hybrid_serve_topk_batch(idx, qdf, enriched, k=5, depth=10,
                                  dim=64, n_docs=n_docs, avgdl=avgdl)
    a = sorted(map(tuple, lst.collect()))
    b = sorted(map(tuple, dfp.collect()))
    assert a == b and len(a) > 0
    # duplicate ids still rejected loudly on the DataFrame path
    import pytest as _pytest

    dup = spark.createDataFrame([(1, ["a"]), (1, ["b"])],
                                "query_id long, terms array<string>")
    with _pytest.raises(ValueError, match="duplicate query ids"):
        hybrid_serve_topk_batch(idx, dup, enriched, dim=64,
                                n_docs=n_docs, avgdl=avgdl)


def test_select_fold_policy_unit():
    """Size-tiered selection invariants: minimum set to get back under
    the cap, greedy extension only while the next segment is no larger
    than the bytes already rewritten, full fold when everything is
    same-sized, and the big segment left alone when it dominates."""
    from tantalus_spark.streaming.maintenance import _select_fold

    seg = lambda n, q, b: {"name": n, "seq": q, "bytes": b}
    # under the cap: nothing to fold
    fold, keep = _select_fold([seg("a", 0, 10), seg("b", 1, 10)], 2)
    assert fold == [] and len(keep) == 2
    # equal sizes: greedy extension folds EVERYTHING (a full fold)
    segs = [seg(f"s{i}", i, 100) for i in range(4)]
    fold, keep = _select_fold(segs, 3)
    assert len(fold) == 4 and keep == []
    # one dominating segment: folded set excludes it
    segs = [seg("big", 0, 10_000), seg("m", 1, 120), seg("s1", 2, 100),
            seg("s2", 3, 100)]
    fold, keep = _select_fold(segs, 3)
    assert {x["name"] for x in fold} == {"m", "s1", "s2"}
    assert keep[0]["name"] == "big"
    # manifest order preserved in both halves
    segs = [seg("big", 0, 10_000), seg("s1", 1, 10), seg("mid", 2, 500),
            seg("s2", 3, 10)]
    fold, keep = _select_fold(segs, 3)
    assert [x["name"] for x in fold] == ["s1", "s2"]
    assert [x["name"] for x in keep] == ["big", "mid"]


def test_tiered_compaction_never_rewrites_dominant_segment(
        spark, tmp_path):
    """The r10 LSM upgrade: compaction folds only the size-tiered
    smallest segments — across a long batch sequence the dominant
    segment's files are NEVER rewritten (full-fold rewrote the whole
    index every max_segments batches), partial folds RETAIN the
    tombstones the kept segments still need (a delete out of the big
    segment stays masked), and the final view is rebuild-equal."""
    import os

    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=2)
    schema = "doc_id long, text string, op string"
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"alpha beta doc{i} " + " ".join(
            f"tok{i}_{j}" for j in range(30)), "add")
         for i in range(lo, hi)], schema)
    cb(mk(0, 1500), 0)                      # the dominant segment
    big_dir = os.path.join(ix, "seg-00000000")
    big_files = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(big_dir) for f in fs}

    # batch 1 deletes doc 3 out of the BIG segment and adds a sliver;
    # batches 2..5 add slivers — several partial folds fire
    dels = spark.createDataFrame([(3, None, "delete")], schema)
    cb(mk(2000, 2010).unionByName(dels), 1)
    for b in range(2, 6):
        cb(mk(2000 + b * 10, 2010 + b * 10), b)

    import json
    cur = open(os.path.join(ix, "CURRENT")).read().strip()
    m = json.load(open(os.path.join(ix, cur, "manifest.json")))
    # the dominant segment survives untouched in the manifest...
    assert any(s["name"] == "seg-00000000" for s in m["segments"]), m
    assert len(m["segments"]) <= 2
    # ...its files were never rewritten...
    now_files = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(big_dir) for f in fs}
    assert now_files == big_files
    # ...and the doc-3 tombstone is still in the manifest (partial
    # folds keep it for the big segment) and still masks at serve time
    assert len(m["tombstones"]) == 1, m["tombstones"]
    postings, (n, avgdl) = load_term_index(spark, ix)
    assert postings.filter("doc_id = 3").count() == 0
    survivors = spark.createDataFrame(
        [(i, f"alpha beta doc{i} " + " ".join(
            f"tok{i}_{j}" for j in range(30)))
         for i in range(0, 1500) if i != 3] +
        [(i, f"alpha beta doc{i} " + " ".join(
            f"tok{i}_{j}" for j in range(30)))
         for b in range(1, 6)
         for i in range(2000 + b * 10 if b > 1 else 2000,
                        2010 + b * 10 if b > 1 else 2010)],
        "doc_id long, text string")
    want, (wn, wavg) = build_term_index(survivors, with_stats=True)
    assert (n, avgdl) == (wn, wavg)
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want.collect()))


def test_commit_version_rejects_non_monotone_pointer(spark, tmp_path):
    """The single-writer contract made loud: committing a version at
    or below CURRENT (what a second concurrent maintainer racing the
    pointer would do) must raise a REAL exception — RuntimeError, not
    assert, which vanishes under python -O — never silently regress
    the pointer. The replay guard means a well-behaved maintainer
    never reaches the commit with a stale id — only a racing writer
    does."""
    import pytest as _pytest

    from tantalus_spark.streaming.maintenance import (
        _commit_version, index_refresh_batches)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix)
    cb(spark.createDataFrame([(1, "alpha beta")],
                             "doc_id long, text string"), 5)
    # same version and an older version both refuse
    for bad in ("v00000005", "v00000003"):
        with _pytest.raises(RuntimeError, match="non-monotone"):
            _commit_version(ix, bad, {"segments": [], "tombstones": [],
                                      "id_col": "doc_id"})
    # a newer version is fine
    _commit_version(ix, "v00000006", {"segments": [], "tombstones": [],
                                      "id_col": "doc_id"})


def test_select_fold_invariants_property():
    """Property test over arbitrary size profiles: the fold plus keep
    partition the manifest exactly; a fold happens iff the count is
    over the cap; the post-fold count is back under the cap; and the
    fold is downward-closed in size (nothing kept is smaller than a
    folded segment under the deterministic (bytes, seq, name) order)."""
    from hypothesis import given, strategies as st

    from tantalus_spark.streaming.maintenance import _select_fold

    @given(st.lists(st.integers(min_value=0, max_value=10**12),
                    min_size=0, max_size=20),
           st.integers(min_value=1, max_value=12))
    def check(sizes, cap):
        segs = [{"name": f"s{i}", "seq": i, "bytes": b}
                for i, b in enumerate(sizes)]
        fold, keep = _select_fold(segs, cap)
        assert sorted(x["name"] for x in fold + keep) == \
            sorted(x["name"] for x in segs)
        if len(segs) <= cap:
            assert fold == []
        else:
            assert len(fold) >= len(segs) - cap + 1
            assert len(keep) + 1 <= cap  # post-fold count under cap
            key = lambda s: (s["bytes"], s["seq"], s["name"])
            if fold and keep:
                assert max(key(x) for x in fold) <= \
                    min(key(x) for x in keep)

    check()


def test_time_travel_reads_match_rebuild_as_of_each_batch(
        spark, tmp_path):
    """as_of reads reproduce the store's state after EACH retained
    commit: the postings view AND the manifest stats at as_of=b equal
    a clean rebuild over exactly the documents that survived batches
    0..b — through adds, a delete, a same-batch delete/re-add, and a
    compaction fold (keep_versions=4 retains the whole history;
    segments are shared across manifests, so history costs deltas)."""
    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, index_versions, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=4)
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add")],
        schema), 0)
    cb(spark.createDataFrame(
        [(2, None, "delete"), (3, "cherry date", "add"),
         (1, None, "delete"), (1, "apple rewritten", "add")],
        schema), 1)
    cb(spark.createDataFrame(
        [(4, "date elder apple", "add")], schema), 2)  # triggers fold

    state = {
        0: [(1, "apple banana"), (2, "banana cherry")],
        1: [(1, "apple rewritten"), (3, "cherry date")],
        2: [(1, "apple rewritten"), (3, "cherry date"),
            (4, "date elder apple")],
    }
    for b, docs in state.items():
        postings, stats = load_term_index(spark, ix, as_of=b)
        want, wstats = build_term_index(
            spark.createDataFrame(docs, "doc_id long, text string"),
            with_stats=True)
        assert stats == wstats, f"as_of={b}"
        assert sorted(map(tuple, postings.collect())) == \
            sorted(map(tuple, want.collect())), f"as_of={b}"
    # CURRENT (as_of=None) is the newest state
    cur, cur_stats = load_term_index(spark, ix)
    want2, _ = load_term_index(spark, ix, as_of=2)
    assert sorted(map(tuple, cur.collect())) == \
        sorted(map(tuple, want2.collect()))
    hist = index_versions(ix)
    assert [v["batch_id"] for v in hist] == [0, 1, 2]
    assert [v["current"] for v in hist] == [False, False, True]


def test_as_of_floor_resolution_and_retention_errors(spark, tmp_path):
    """as_of uses FLOOR resolution over the retained manifests (a
    quiet batch commits no version, so the view 'as of batch 3' lives
    in the batch-0 manifest), beyond-retention and pre-history reads
    raise loudly instead of silently serving CURRENT, and GC keeps
    exactly keep_versions manifests resolvable."""
    import pytest

    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, index_versions, load_term_index)

    ix = str(tmp_path / "ix")
    with pytest.raises(ValueError, match="no committed version"):
        from tantalus_spark.streaming.maintenance import common_batch_id
        common_batch_id(ix)
    cb = index_refresh_batches(ix, keep_versions=2)
    sch = "doc_id long, text string"
    cb(spark.createDataFrame([(1, "apple")], sch), 0)
    cb(spark.createDataFrame([(2, "banana")], sch), 5)
    # floor: as_of=3 resolves to the batch-0 manifest
    p3, (n3, _a) = load_term_index(spark, ix, as_of=3)
    assert n3 == 1
    assert sorted(r["doc_id"] for r in
                  p3.select("doc_id").distinct().collect()) == [1]
    # as_of before any commit: loud error
    with pytest.raises(ValueError, match="predates"):
        load_term_index(spark, ix, as_of=-1)
    # push batch 0 out of the keep_versions=2 window
    cb(spark.createDataFrame([(3, "cherry")], sch), 7)
    assert [v["batch_id"] for v in index_versions(ix)] == [5, 7]
    with pytest.raises(ValueError, match="predates"):
        load_term_index(spark, ix, as_of=0)
    # retained points still resolve, with their own stats
    _p, (n5, _a5) = load_term_index(spark, ix, as_of=5)
    assert n5 == 2


def test_common_batch_id_consistent_cross_store_serve(spark, tmp_path):
    """Cross-store snapshot isolation: when the postings store runs a
    batch AHEAD of the feats store (maintainer lag / crash between the
    two commits), serving both at as_of=common_batch_id pins ONE
    corpus state — the hybrid result equals a rebuild over exactly
    the common prefix's survivors, and mixing CURRENTs would not."""
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_topk_batch)
    from tantalus_spark.streaming.maintenance import (
        common_batch_id, feats_refresh_batches, index_refresh_batches,
        load_feats_index, load_term_index)

    ix = str(tmp_path / "ix")
    ft = str(tmp_path / "feats")
    cb_ix = index_refresh_batches(ix, op_col="op", keep_versions=4)
    cb_ft = feats_refresh_batches(ft, dim=16, op_col="op",
                                  keep_versions=4)
    schema = "doc_id long, text string, op string"
    b0 = spark.createDataFrame(
        [(1, "apple banana sort", "add"),
         (2, "banana merge hash", "add")], schema)
    b1 = spark.createDataFrame(
        [(1, None, "delete"), (3, "sort hash apple", "add")], schema)
    b2 = spark.createDataFrame([(4, "merge sort", "add")], schema)
    cb_ix(b0, 0); cb_ft(b0, 0)
    cb_ix(b1, 1); cb_ft(b1, 1)
    cb_ix(b2, 2)  # postings store commits batch 2; feats store crashed
    assert common_batch_id(ix, ft) == 1

    b = common_batch_id(ix, ft)
    postings, (n, avgdl) = load_term_index(spark, ix, as_of=b)
    feats = load_feats_index(spark, ft, as_of=b)
    queries = [(7, ["sort", "hash"]), (8, ["merge"])]
    got = hybrid_serve_topk_batch(postings, queries, feats, k=5,
                                  depth=5, dim=16, n_docs=n,
                                  avgdl=avgdl)

    survivors = spark.createDataFrame(
        [(2, "banana merge hash"), (3, "sort hash apple")],
        "doc_id long, text string")
    widx, (wn, wavg) = build_term_index(survivors, with_stats=True)
    wf = hashed_features(survivors, dim=16)
    wfe = wf.join(hashed_norms(wf), "doc_id")
    want = hybrid_serve_topk_batch(widx, queries, wfe, k=5, depth=5,
                                   dim=16, n_docs=wn, avgdl=wavg)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # and the snapshot really differs from the mixed-CURRENT serve:
    # doc 4 exists only in the postings store's CURRENT
    cur_p, (cn, ca) = load_term_index(spark, ix)
    assert cn == n + 1


def test_partial_fold_prunes_dead_tombstones(spark, tmp_path):
    """Commit-time tombstone pruning: when a partial fold rewrites
    every segment OLDER than a tombstone (here: the tiny seg-0 the
    delete targeted folds away, the big seg-1 stays), the tombstone
    masks nothing anymore and must leave the manifest — the deletion
    stays applied physically in the compacted segment, and the serve
    plan carries no dead broadcast mask."""
    import json
    import os

    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=2)
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add")],
        schema), 0)                        # tiny seg-0
    big = spark.createDataFrame(
        [(100 + i, "bulk " + " ".join(f"tok{i}_{j}" for j in range(40)),
          "add") for i in range(300)]
        + [(2, None, "delete")], schema)   # big seg-1 + doc-2 tombstone
    cb(big, 1)
    cb(spark.createDataFrame(
        [(3, "cherry date", "add")], schema), 2)  # tiny seg-2 -> fold

    cur = open(os.path.join(ix, "CURRENT")).read().strip()
    m = json.load(open(os.path.join(ix, cur, "manifest.json")))
    # size-tiered fold took the two tiny segments, kept the big one
    names = {s["name"] for s in m["segments"]}
    assert "seg-00000001" in names and any(n.endswith("c")
                                           for n in names), m
    # the doc-2 tombstone (seq 1) has no kept segment older than it
    # left to mask — pruned at commit
    assert m["tombstones"] == [], m
    # and the delete is still applied, rebuild-equal
    postings, (n, avgdl) = load_term_index(spark, ix)
    assert postings.filter("doc_id = 2").count() == 0
    survivors = spark.createDataFrame(
        [(1, "apple banana"), (3, "cherry date")]
        + [(100 + i, "bulk " + " ".join(f"tok{i}_{j}"
                                        for j in range(40)))
           for i in range(300)], "doc_id long, text string")
    want, wstats = build_term_index(survivors, with_stats=True)
    assert (n, avgdl) == wstats
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want.collect()))


def test_torn_commit_orphan_is_not_history_and_replay_recovers(
        spark, tmp_path):
    """Crash window between the manifest write and the pointer rename:
    the orphaned (here: TRUNCATED) v-dir ahead of CURRENT is not
    history — index_versions skips it, as_of floor-resolves past it
    instead of dying on the torn JSON, the every-callback GC survives
    it (no crash-loop on the exact crash it exists to repair), and the
    replayed batch re-commits cleanly over the wreckage."""
    import json
    import os

    from tantalus_spark.datapipe.textstats import build_term_index
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, index_versions, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, keep_versions=3)
    sch = "doc_id long, text string"
    cb(spark.createDataFrame([(1, "apple banana")], sch), 0)
    b1 = spark.createDataFrame([(2, "banana cherry")], sch)
    cb(b1, 1)
    # simulate the torn batch-2 commit: segment + truncated manifest
    # written, pointer NOT swapped (still v00000001)
    os.makedirs(os.path.join(ix, "seg-00000002"))
    os.makedirs(os.path.join(ix, "v00000002"))
    with open(os.path.join(ix, "v00000002", "manifest.json"), "w") as f:
        f.write('{"segments": [{"name": "seg-')  # torn mid-write
    assert open(os.path.join(ix, "CURRENT")).read().strip() == \
        "v00000001"

    # the orphan is invisible to history readers
    assert [v["batch_id"] for v in index_versions(ix)] == [0, 1]
    p2, (n2, _a) = load_term_index(spark, ix, as_of=2)  # floor -> v1
    assert n2 == 2
    # CURRENT read unaffected
    _p, (n_cur, _ac) = load_term_index(spark, ix)
    assert n_cur == 2

    # replaying batch 2 must not crash-loop in the pre-guard GC, and
    # must commit over the orphan
    b2 = spark.createDataFrame([(3, "cherry date")], sch)
    cb(b2, 2)
    assert open(os.path.join(ix, "CURRENT")).read().strip() == \
        "v00000002"
    m = json.load(open(os.path.join(ix, "v00000002",
                                    "manifest.json")))
    assert m["n_docs"] == 3
    postings, (n, avgdl) = load_term_index(spark, ix)
    want, wstats = build_term_index(
        spark.createDataFrame([(1, "apple banana"),
                               (2, "banana cherry"),
                               (3, "cherry date")], sch),
        with_stats=True)
    assert (n, avgdl) == wstats
    assert sorted(map(tuple, postings.collect())) == \
        sorted(map(tuple, want.collect()))


def test_audit_term_index_detects_stat_divergence(spark, tmp_path):
    """audit_term_index passes a healthy store (manifest integers ==
    live doclens recount, through CDC adds/deletes and a fold), audits
    pinned history versions via as_of, and flags a manifest whose
    stats were corrupted — without ever reading the postings."""
    import json
    import os

    import pytest

    from tantalus_spark.streaming.maintenance import (
        audit_term_index, index_refresh_batches)

    ix = str(tmp_path / "ix")
    with pytest.raises(ValueError, match="no committed version"):
        audit_term_index(spark, ix)
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=4)
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add")],
        schema), 0)
    cb(spark.createDataFrame(
        [(2, None, "delete"), (3, "cherry date", "add")], schema), 1)
    cb(spark.createDataFrame(
        [(4, "elder fig", "add")], schema), 2)  # fold

    row = audit_term_index(spark, ix).first()
    assert row["stats_consistent"] is True
    assert row["n_docs"] == row["live_n_docs"] == 3
    assert row["dl_sum"] == row["live_dl_sum"] == 6
    # pinned history audits too
    row1 = audit_term_index(spark, ix, as_of=1).first()
    assert row1["stats_consistent"] is True and row1["n_docs"] == 2

    # corrupt the CURRENT manifest's integers: audit must flag it
    cur = open(os.path.join(ix, "CURRENT")).read().strip()
    mpath = os.path.join(ix, cur, "manifest.json")
    m = json.load(open(mpath))
    m["n_docs"] += 1
    with open(mpath, "w") as f:
        json.dump(m, f)
    bad = audit_term_index(spark, ix).first()
    assert bad["stats_consistent"] is False
    assert bad["n_docs"] == 4 and bad["live_n_docs"] == 3


def test_export_term_snapshot_promotes_pins_and_guards(spark, tmp_path):
    """Snapshot promotion end to end: export of CURRENT folds the
    multi-segment masked view (tombstones applied physically) into one
    immutable artifact whose postings multiset, exact stats, and
    served BM25 scores are bit-identical to the live store's view; an
    as_of export promotes the pinned HISTORY version (pre-delete,
    pre-fold); and the guards hold — a tampered manifest blocks
    promotion (the audit gate), a non-empty dest is refused, and a
    torn export (no snapshot.json) is refused by the loader."""
    import json
    import os

    import pytest

    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        export_term_snapshot, index_refresh_batches, load_term_index,
        load_term_snapshot)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=4)
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add"),
         (3, "cherry cherry apple", "add")], schema), 0)
    cb(spark.createDataFrame(
        [(2, None, "delete"),
         (3, None, "delete"), (3, "apple apple rewritten", "add"),
         (4, "banana date", "add")], schema), 1)
    cb(spark.createDataFrame(
        [(5, "elder apple fig", "add")], schema), 2)  # fold fires

    snap = str(tmp_path / "snap")
    stats = export_term_snapshot(spark, ix, snap)
    assert stats["source_batch_id"] == 2 and not stats["empty"]
    sp, (sn, savg) = load_term_snapshot(spark, snap)
    lp, (ln, lavg) = load_term_index(spark, ix)
    assert (sn, savg) == (ln, lavg)
    assert sorted(map(tuple, sp.collect())) == \
        sorted(map(tuple, lp.collect()))
    served = [tuple(r) for r in bm25_rank_indexed(
        sp, ["apple", "banana"], k=10, n_docs=sn, avgdl=savg).collect()]
    want = [tuple(r) for r in bm25_rank_indexed(
        lp, ["apple", "banana"], k=10, n_docs=ln, avgdl=lavg).collect()]
    assert served == want
    # doclens sidecar rides along for downstream audits
    assert sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(snap, "doclens")).collect()
    ) == [(1, 2), (3, 3), (4, 2), (5, 3)]

    # as_of export promotes the pinned pre-delete / pre-fold view
    snap1 = str(tmp_path / "snap1")
    export_term_snapshot(spark, ix, snap1, as_of=1)
    p1, (n1, a1) = load_term_snapshot(spark, snap1)
    h1, (hn, ha) = load_term_index(spark, ix, as_of=1)
    assert (n1, a1) == (hn, ha)
    assert sorted(map(tuple, p1.collect())) == \
        sorted(map(tuple, h1.collect()))

    # immutability: a non-empty dest is refused — and a regular FILE
    # at dest gets the same friendly refusal, not a raw
    # FileExistsError out of os.makedirs
    with pytest.raises(ValueError, match="not an empty directory"):
        export_term_snapshot(spark, ix, snap)
    fdest = str(tmp_path / "snap_as_file")
    with open(fdest, "w") as f:
        f.write("occupied")
    with pytest.raises(ValueError, match="not an empty directory"):
        export_term_snapshot(spark, ix, fdest)
    # torn export: data without the committed stats file is refused
    os.remove(os.path.join(snap1, "snapshot.json"))
    with pytest.raises(ValueError, match="snapshot.json"):
        load_term_snapshot(spark, snap1)

    # audit gate: a manifest whose bookkeeping diverged must not ship
    cur = open(os.path.join(ix, "CURRENT")).read().strip()
    mpath = os.path.join(ix, cur, "manifest.json")
    m = json.load(open(mpath))
    m["dl_sum"] += 7
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(RuntimeError, match="refusing to promote"):
        export_term_snapshot(spark, ix, str(tmp_path / "snap2"))
    # verify=False is the explicit override (forensics / salvage)
    export_term_snapshot(spark, ix, str(tmp_path / "snap3"),
                         verify=False)


def test_export_term_snapshot_failure_cleanup_and_empty_guard(
        spark, tmp_path):
    """Two r11 export hardenings: (1) a failed export removes its
    partial data so dest stays reusable — no snapshot.json was
    committed, so nothing real is lost and the immutability guard
    does not wedge the path forever; (2) a diverged store (zero
    segments, non-zero manifest stats) is refused even under
    verify=False — that metadata-only check costs no Spark job and
    stops an empty=true snapshot from recording stats a load would
    contradict."""
    import json
    import os

    import pytest

    from tantalus_spark.streaming.maintenance import (
        export_term_snapshot, index_refresh_batches,
        load_term_snapshot)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op")
    schema = "doc_id long, text string, op string"
    cb(spark.createDataFrame(
        [(1, "apple banana", "add"), (2, "banana cherry", "add")],
        schema), 0)

    # (1) simulate a mid-export write failure: yank a referenced
    # segment's postings out from under the export (the GC-race shape
    # the docstring warns about — near-retention-edge version whose
    # files a concurrent maintainer GC'd). The export must fail
    # loudly AND leave dest reusable.
    cur = open(os.path.join(ix, "CURRENT")).read().strip()
    m = json.load(open(os.path.join(ix, cur, "manifest.json")))
    seg = m["segments"][0]["name"]
    post_dir = os.path.join(ix, seg, "postings")
    saved = str(tmp_path / "saved_postings")
    os.rename(post_dir, saved)
    dest = str(tmp_path / "snap")
    with pytest.raises(Exception):
        export_term_snapshot(spark, ix, dest, verify=False)
    assert (not os.path.exists(dest)) or os.listdir(dest) == []
    # restore and re-export into the SAME dest: must succeed now
    os.rename(saved, post_dir)
    stats = export_term_snapshot(spark, ix, dest)
    assert stats["n_docs"] == 2
    _, (n, avgdl) = load_term_snapshot(spark, dest)
    assert n == 2

    # (2) diverged store: manifest stats non-zero but no segments
    mpath = os.path.join(ix, cur, "manifest.json")
    m["segments"] = []
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(RuntimeError, match="lists no segments"):
        export_term_snapshot(spark, ix, str(tmp_path / "snap_div"),
                             verify=False)


def test_compaction_fold_writes_term_sorted_rowgroup_layout(
        spark, tmp_path):
    """r11: the compaction fold writes postings in SNAPSHOT layout —
    repartition(term) + sortWithinPartitions(term) — so a maintained-
    store serve's term IN-filter prunes parquet ROW GROUPS by min/max
    stats on the folded bulk (the layout export_term_snapshot always
    had). Asserts the enabling property directly off the files: every
    parquet file in the folded segment carries its term column in
    non-decreasing order (sorted file => consecutive, prunable
    row-group min/max ranges), and the fold still serves the exact
    rebuild-equal view."""
    import os

    import pyarrow.parquet as pq

    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, max_segments=2)
    schema = "doc_id long, text string"
    docs = [
        (1, "apple banana cherry"), (2, "banana cherry date"),
        (3, "cherry date elder"), (4, "date elder fig"),
        (5, "elder fig grape"), (6, "fig grape apple"),
    ]
    for b in range(3):  # 3 commits at max_segments=2 -> fold fires
        cb(spark.createDataFrame(docs[2 * b:2 * b + 2], schema), b)

    folded = [d for d in os.listdir(ix) if d.endswith("c")]
    assert folded, "expected a compacted segment"
    for seg in folded:
        pdir = os.path.join(ix, seg, "postings")
        files = [os.path.join(pdir, f) for f in os.listdir(pdir)
                 if f.endswith(".parquet")]
        assert files
        for fp in files:
            terms = pq.ParquetFile(fp).read(columns=["term"]) \
                      .column("term").to_pylist()
            assert terms == sorted(terms), f"unsorted fold file {fp}"

    # the sorted fold changed layout only: the served view still has
    # every surviving posting exactly once
    postings, (n, _) = load_term_index(spark, ix)
    assert n == 6
    got = sorted((r["term"], r["doc_id"]) for r in postings.collect())
    want = sorted((t, d) for d, txt in docs for t in set(txt.split()))
    assert got == want


def test_export_feats_snapshot_promotes_and_guards(spark, tmp_path):
    """r11 snapshot promotion for the dense-feature family: export of
    the maintained store's CURRENT folds the masked multi-segment view
    into one immutable bucket-partitioned ENRICHED artifact whose rows
    and served hybrid top-k are bit-identical to the live store's; the
    duplicate-(id,bucket) audit gate, immutability guard, and
    torn-export refusal hold."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hybrid_serve_topk_batch)
    from tantalus_spark.streaming.maintenance import (
        export_feats_snapshot, feats_refresh_batches,
        load_feats_index, load_feats_snapshot)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    ix = str(tmp_path / "feats")
    cb = feats_refresh_batches(ix, dim=64, op_col="op",
                               max_segments=2)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    dels = spark.createDataFrame(
        [(7, None, "delete"), (50, None, "delete")],
        "doc_id long, text string, op string")
    cb(add(docs.filter("doc_id < 150")), 0)
    cb(add(docs.filter("doc_id >= 150 and doc_id < 300"))
       .unionByName(dels), 1)
    cb(add(docs.filter("doc_id >= 300 and doc_id < 450")), 2)  # fold

    snap = str(tmp_path / "snap")
    stats = export_feats_snapshot(spark, ix, snap)
    assert stats["source_batch_id"] == 2 and not stats["empty"]
    norm = lambda df: sorted(map(tuple, df.select(  # noqa: E731
        "doc_id", "bucket", "feat", "norm").collect()))
    live = load_feats_index(spark, ix)
    promoted = load_feats_snapshot(spark, snap)
    assert norm(promoted) == norm(live)
    idx, (n_docs, avgdl) = build_term_index(
        docs.filter("doc_id < 450 and doc_id not in (7, 50)"),
        with_stats=True)
    qs = [(1, ["customer", "hash"]), (2, ["merge"])]
    served = [tuple(r) for r in hybrid_serve_topk_batch(
        idx, qs, promoted, k=5, depth=10, dim=64, n_docs=n_docs,
        avgdl=avgdl).collect()]
    want = [tuple(r) for r in hybrid_serve_topk_batch(
        idx, qs, live, k=5, depth=10, dim=64, n_docs=n_docs,
        avgdl=avgdl).collect()]
    assert served == want

    with pytest.raises(ValueError, match="not an empty directory"):
        export_feats_snapshot(spark, ix, snap)
    os.remove(os.path.join(snap, "snapshot.json"))
    with pytest.raises(ValueError, match="snapshot.json"):
        load_feats_snapshot(spark, snap)

    # duplicate-(id,bucket) audit gate: a double-add breaks the
    # disjoint-ids contract -> promotion refused
    cb(add(docs.filter("doc_id >= 100 and doc_id < 120")), 3)
    with pytest.raises(RuntimeError, match="disjoint-ids"):
        export_feats_snapshot(spark, ix, str(tmp_path / "snap_dup"))


def test_promote_pinned_version_after_later_folds(spark, tmp_path):
    """r11 (VERDICT #6): the q156 pin composed with the q159 export —
    commit FOUR batches (keep_versions=5 retains the whole window)
    with max_segments=2 so later commits FOLD the early delta
    segments away from CURRENT, then promote as_of batch 1 and serve
    off the snapshot: bit-identical to the batch-1 live serve (stats
    and ranked scores). Proves compaction does not destroy the
    promotability of retained history — the as-of manifest still
    names the pre-fold segments, GC keeps them, and the export folds
    THAT view, not CURRENT's."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        export_term_snapshot, index_refresh_batches, load_term_index,
        load_term_snapshot)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", max_segments=2,
                               keep_versions=5)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    cb(add(docs.filter("doc_id % 4 = 0")), 0)
    cb(add(docs.filter("doc_id % 4 = 1"))
       .unionByName(spark.createDataFrame(
           [(8, None, "delete")],
           "doc_id long, text string, op string")), 1)
    cb(add(docs.filter("doc_id % 4 = 2")), 2)  # fold fires
    cb(add(docs.filter("doc_id % 4 = 3")), 3)  # and may fold again

    snap = str(tmp_path / "snap")
    stats = export_term_snapshot(spark, ix, snap, as_of=1)
    assert stats["source_batch_id"] == 1
    sp, (sn, savg) = load_term_snapshot(spark, snap)
    lp, (ln, lavg) = load_term_index(spark, ix, as_of=1)
    assert (sn, savg) == (ln, lavg)
    assert sorted(map(tuple, sp.collect())) == \
        sorted(map(tuple, lp.collect()))
    qterms = ["customer", "hash", "merge"]
    got = [tuple(r) for r in bm25_rank_indexed(
        sp, qterms, k=10, n_docs=sn, avgdl=savg).collect()]
    want = [tuple(r) for r in bm25_rank_indexed(
        lp, qterms, k=10, n_docs=ln, avgdl=lavg).collect()]
    assert got == want and got


def test_vacuum_reclaims_torn_commit_debris(spark, tmp_path):
    """r11 (VERDICT #8): a crash can tear a commit at two points —
    after a segment/tombstone write but before the manifest commit,
    or after the manifest write but before the pointer rename. Both
    leave directories nothing references. vacuum_index (the same
    sweep the maintainers run every callback) reclaims all of it,
    keeps every directory the retained manifests name, and the store
    serves identically afterwards."""
    import os

    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index, vacuum_index)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op", keep_versions=2)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    cb(add(docs.filter("doc_id < 200")), 0)
    cb(add(docs.filter("doc_id >= 200 and doc_id < 400")), 1)
    before = sorted(map(tuple, load_term_index(spark, ix)[0].collect()))

    # torn commit #1: segment + tombstone written, no manifest
    os.makedirs(os.path.join(ix, "seg-00000099", "postings"))
    with open(os.path.join(ix, "seg-00000099", "postings", "junk"),
              "w") as f:
        f.write("torn")
    os.makedirs(os.path.join(ix, "ts-00000099"))
    # torn commit #2: manifest written, pointer never swapped
    os.makedirs(os.path.join(ix, "v00000099"))
    with open(os.path.join(ix, "v00000099", "manifest.json"), "w") as f:
        f.write('{"truncat')  # even torn JSON must not wedge the sweep

    removed = vacuum_index(ix, keep_versions=2)
    assert sorted(removed) == ["seg-00000099", "ts-00000099",
                               "v00000099"]
    for d in removed:
        assert not os.path.exists(os.path.join(ix, d))
    postings, (n, _) = load_term_index(spark, ix)
    assert sorted(map(tuple, postings.collect())) == before
    # idempotent: a second sweep finds nothing
    assert vacuum_index(ix, keep_versions=2) == []
    # keep_versions is an explicit retention statement: omitting it
    # names the requirement (ValueError, not a bare TypeError) and
    # sweeps nothing
    with pytest.raises(ValueError, match="keep_versions is required"):
        vacuum_index(ix)
    assert sorted(map(tuple,
                      load_term_index(spark, ix)[0].collect())) == before


def test_export_release_consistent_idempotent_and_torn(spark, tmp_path):
    """r11 capstone: export_release cuts ONE consistent, audited,
    immutable serving release across independently-maintained stores —
    pinned at common_batch_id (the lagging maintainer decides), each
    family exported with its own audit gate, release.json committed
    before the pointer swap. Covers: the consistency pin under
    maintainer lag, serve parity with the live as-of views, idempotent
    re-promotion, pointer monotonicity, torn-release sweep-and-retry,
    and as_of release loading after a newer release lands."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hybrid_serve_topk_batch)
    from tantalus_spark.streaming.maintenance import (
        export_release, feats_refresh_batches, index_refresh_batches,
        load_feats_index, load_release, load_term_index)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    root = str(tmp_path)
    cb_ix = index_refresh_batches(root + "/ix", op_col="op",
                                  keep_versions=4)
    cb_ft = feats_refresh_batches(root + "/feats", dim=64, op_col="op",
                                  keep_versions=4)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    b0 = add(docs.filter("doc_id < 200"))
    b1 = add(docs.filter("doc_id >= 200 and doc_id < 400"))
    b2 = add(docs.filter("doc_id >= 400 and doc_id < 450"))
    cb_ix(b0, 0); cb_ft(b0, 0)  # noqa: E702
    cb_ix(b1, 1); cb_ft(b1, 1)  # noqa: E702
    cb_ix(b2, 2)  # term store runs a batch AHEAD (maintainer lag)

    stores = {"postings": ("term", root + "/ix"),
              "dense": ("feats", root + "/feats")}
    rel_root = root + "/releases"
    rel = export_release(spark, stores, rel_root)
    assert rel["batch_id"] == 1  # the lagging maintainer pins it
    assert open(os.path.join(rel_root, "CURRENT")).read() == "v00000001"

    loaded = load_release(spark, rel_root)
    postings, (n, avgdl) = loaded["stores"]["postings"]
    feats = loaded["stores"]["dense"]
    qs = [(1, ["customer", "hash"]), (2, ["merge"])]
    got = [tuple(r) for r in hybrid_serve_topk_batch(
        postings, qs, feats, k=5, depth=10, dim=64, n_docs=n,
        avgdl=avgdl).collect()]
    lp, (ln, lavg) = load_term_index(spark, root + "/ix", as_of=1)
    lf = load_feats_index(spark, root + "/feats", as_of=1)
    want = [tuple(r) for r in hybrid_serve_topk_batch(
        lp, qs, lf, k=5, depth=10, dim=64, n_docs=ln,
        avgdl=lavg).collect()]
    assert got == want and got

    # re-promoting an already-released batch is IDEMPOTENT: the
    # committed release comes back, nothing is re-exported
    again = export_release(spark, stores, rel_root)
    assert again["batch_id"] == 1

    # feats catches up -> next release pins batch 2
    cb_ft(b2, 2)
    rel2 = export_release(spark, stores, rel_root)
    assert rel2["batch_id"] == 2
    assert open(os.path.join(rel_root, "CURRENT")).read() == "v00000002"
    # as_of floor still loads the retained v1 release
    old = load_release(spark, rel_root, as_of=1)
    assert old["batch_id"] == 1

    # torn release: strip v2's release.json + regress the pointer ->
    # the next export sweeps the debris and recommits cleanly
    os.remove(os.path.join(rel_root, "v00000002", "release.json"))
    with open(os.path.join(rel_root, "CURRENT"), "w") as f:
        f.write("v00000001")
    rel2b = export_release(spark, stores, rel_root)
    assert rel2b["batch_id"] == 2
    assert json.load(open(os.path.join(
        rel_root, "v00000002", "release.json")))["batch_id"] == 2
    assert open(os.path.join(rel_root, "CURRENT")).read() == "v00000002"

    # pointer monotonicity: with the committed release REMOVED (not a
    # torn export — a deleted one) and CURRENT already at its batch,
    # re-exporting must refuse rather than regress the pointer
    import shutil as _shutil
    _shutil.rmtree(os.path.join(rel_root, "v00000002"))
    with pytest.raises(RuntimeError, match="common batch"):
        export_release(spark, stores, rel_root)


def test_export_release_all_four_families(spark, tmp_path):
    """export_release dispatches every serving family: term postings,
    dense feats, IVFPQ codes, and LSH bands maintained to the same
    batch, released in one call, loaded back with each family's
    loader shape (term -> (postings, stats), rowwise -> DataFrame),
    each bit-identical to its live view."""
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming.maintenance import (
        ann_refresh_batches, band_refresh_batches, export_release,
        feats_refresh_batches, index_refresh_batches, load_ann_index,
        load_band_index, load_feats_index, load_release,
        load_term_index)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
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

    root = str(tmp_path)
    cbs = {
        "postings": index_refresh_batches(root + "/ix"),
        "dense": feats_refresh_batches(root + "/feats", dim=64),
        "codes": ann_refresh_batches(root + "/ann", cents, books),
        "bands": band_refresh_batches(root + "/bands"),
    }
    doc_batches = [docs.filter("doc_id < 200"),
                   docs.filter("doc_id >= 200 and doc_id < 400")]
    vec_batches = [iv.filter("vec_id < 150"),
                   iv.filter("vec_id >= 150 and vec_id < 300")]
    for i in range(2):
        for name, cb in cbs.items():
            cb(vec_batches[i] if name == "codes" else doc_batches[i], i)

    stores = {"postings": ("term", root + "/ix"),
              "dense": ("feats", root + "/feats"),
              "codes": ("ann", root + "/ann"),
              "bands": ("bands", root + "/bands")}
    rel = export_release(spark, stores, root + "/releases")
    assert rel["batch_id"] == 1
    loaded = load_release(spark, root + "/releases")["stores"]

    sp, (sn, savg) = loaded["postings"]
    lp, (ln, lavg) = load_term_index(spark, root + "/ix")
    assert (sn, savg) == (ln, lavg)
    assert sorted(map(tuple, sp.collect())) == \
        sorted(map(tuple, lp.collect()))
    for name, live in (
            ("dense", load_feats_index(spark, root + "/feats")),
            ("codes", load_ann_index(spark, root + "/ann")),
            ("bands", load_band_index(spark, root + "/bands"))):
        got = sorted(tuple(x if not isinstance(x, list) else tuple(x)
                           for x in r) for r in loaded[name].collect())
        want = sorted(tuple(x if not isinstance(x, list) else tuple(x)
                            for x in r)
                      for r in live.select(*loaded[name].columns)
                      .collect())
        assert got == want, name


def test_gc_releases_retires_old_keeps_window_and_torn_rules(
        spark, tmp_path):
    """gc_releases: keeps the newest keep_releases committed releases
    (floor 2), reclaims older ones and torn debris at/below CURRENT,
    leaves a torn directory AHEAD of CURRENT for the next export's
    sweep-and-retry, and the kept releases still load."""
    import os

    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming.maintenance import (
        export_release, gc_releases, index_refresh_batches,
        load_release)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    root = str(tmp_path)
    cb = index_refresh_batches(root + "/ix", op_col="op",
                               keep_versions=8)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    stores = {"postings": ("term", root + "/ix")}
    rel_root = root + "/releases"
    for i, lo in enumerate((0, 150, 300, 450)):
        cb(add(docs.filter(f"doc_id >= {lo} and doc_id < {lo + 150}")),
           i)
        export_release(spark, stores, rel_root)
    assert open(os.path.join(rel_root, "CURRENT")).read() == "v00000003"

    # torn debris: below CURRENT (reclaim) and ahead of it (leave)
    os.makedirs(os.path.join(rel_root, "v00000002", "half"),
                exist_ok=True)
    os.remove(os.path.join(rel_root, "v00000002", "release.json"))
    os.makedirs(os.path.join(rel_root, "v00000099"))

    removed = gc_releases(rel_root, keep_releases=2)
    # the keep window counts COMMITTED releases: v2 is torn (never
    # committed), so the newest two committed are {v1, v3} — readers
    # may legitimately have pinned v1. v0 retires, the torn v2
    # reclaims, v99 (ahead of CURRENT) is the next export's business.
    assert sorted(removed) == ["v00000000", "v00000002"]
    assert os.path.isdir(os.path.join(rel_root, "v00000099"))  # ahead
    assert load_release(spark, rel_root)["batch_id"] == 3
    assert load_release(spark, rel_root, as_of=1)["batch_id"] == 1
    assert load_release(spark, rel_root, as_of=99)["batch_id"] == 3
    assert gc_releases(rel_root, keep_releases=2) == []  # idempotent


def test_release_and_store_gc_skip_foreign_dirs(spark, tmp_path):
    """r12 hardening: only ^v\\d+$ names are version directories. A
    foreign directory an operator drops next to the store or release
    root (version_backup/) must be SKIPPED by every sweep — gc_releases
    used to ValueError on int('ersion_backup'), and store GC would
    have rmtree'd it."""
    import os

    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming.maintenance import (
        export_release, gc_releases, index_refresh_batches,
        vacuum_index)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    root = str(tmp_path)
    cb = index_refresh_batches(root + "/ix", op_col="op",
                               keep_versions=2)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    stores = {"postings": ("term", root + "/ix")}
    rel_root = root + "/releases"
    # foreign dirs planted BEFORE the first commit: the maintainer's
    # per-callback GC and the release sweeps must all step around them
    os.makedirs(os.path.join(root, "ix", "version_backup", "keep"))
    os.makedirs(rel_root)
    os.makedirs(os.path.join(rel_root, "version_backup", "keep"))
    for i, lo in enumerate((0, 150, 300, 450)):
        cb(add(docs.filter(f"doc_id >= {lo} and doc_id < {lo + 150}")),
           i)
        export_release(spark, stores, rel_root)
    removed = gc_releases(rel_root, keep_releases=2)
    assert sorted(removed) == ["v00000000", "v00000001"]
    assert os.path.isdir(os.path.join(rel_root, "version_backup",
                                      "keep"))
    # store-side sweeps too (per-callback GC already ran 4x above and
    # left it alone; the manual vacuum must as well)
    vacuum_index(root + "/ix", keep_versions=2)
    assert os.path.isdir(os.path.join(root, "ix", "version_backup",
                                      "keep"))


def test_export_release_refuses_mismatched_store_set(spark, tmp_path):
    """r12 (ADVICE): re-releasing an already-released batch with a
    DIFFERENT store set (store added, or family remapped) must raise,
    not silently return the committed release missing that store —
    load_release would serve a partial artifact set."""
    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming.maintenance import (
        export_release, feats_refresh_batches, index_refresh_batches)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter("doc_id < 200"))
    root = str(tmp_path)
    cb_ix = index_refresh_batches(root + "/ix", op_col="op")
    cb_ft = feats_refresh_batches(root + "/feats", dim=64, op_col="op")
    b0 = docs.withColumn("op", F.lit("add"))
    cb_ix(b0, 0)
    cb_ft(b0, 0)
    rel_root = root + "/releases"
    stores = {"postings": ("term", root + "/ix")}
    rel = export_release(spark, stores, rel_root)
    assert rel["stores"] == {"postings": "term"}
    # same store set: idempotent return
    assert export_release(spark, stores, rel_root)["batch_id"] == 0
    # added store at the same batch: refuse (immutable release)
    with pytest.raises(RuntimeError, match="already released"):
        export_release(
            spark,
            {"postings": ("term", root + "/ix"),
             "dense": ("feats", root + "/feats")},
            rel_root)
    # remapped family for an existing name: refuse too
    with pytest.raises(RuntimeError, match="already released"):
        export_release(spark, {"postings": ("feats", root + "/feats")},
                       rel_root)


def test_rowwise_snapshot_audit_refuses_null_keys(spark, tmp_path):
    """r12 (ADVICE): count_distinct drops NULL keys, so duplicate rows
    with a NULL id would evade the disjoint-ids promotion gate and
    double-score at serve time. The audit now refuses NULL keys
    outright (same single aggregate)."""
    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming.maintenance import (
        band_refresh_batches, export_band_snapshot)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter("doc_id < 100"))
    root = str(tmp_path)
    cb = band_refresh_batches(root + "/bands")
    # two NULL-id rows with distinct texts: disjoint-ids held under
    # count_distinct (2 rows, "1" distinct non-null key... actually 0)
    # only because NULLs vanished from the distinct count
    poisoned = docs.unionByName(
        docs.filter("doc_id in (2, 3)")
            .select(F.lit(None).cast("long").alias("doc_id"), "text"))
    cb(poisoned, 0)
    with pytest.raises(RuntimeError, match="NULL"):
        export_band_snapshot(spark, root + "/bands",
                             root + "/snap")
    # verify=False still exports (operator's explicit bypass)
    stats = export_band_snapshot(spark, root + "/bands",
                                 root + "/snap", verify=False)
    assert stats["empty"] is False


def test_snapshot_export_cleanup_covers_stats_commit(spark, tmp_path,
                                                     monkeypatch):
    """r12 (ADVICE): a failure in the snapshot.json tmp-write/rename
    (e.g. ENOSPC) must leave dest REUSABLE — previously the cleanup
    handler covered only the parquet writes, so a crash there left a
    torn non-empty dest the immutability guard refused forever."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.streaming import maintenance as M

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter("doc_id < 100"))
    root = str(tmp_path)
    cb_ix = M.index_refresh_batches(root + "/ix")
    cb_bd = M.band_refresh_batches(root + "/bands")
    cb_ix(docs, 0)
    cb_bd(docs, 0)

    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith("snapshot.json"):
            raise OSError(28, "No space left on device")
        return real_replace(src, dst)

    monkeypatch.setattr(M.os, "replace", boom)
    with pytest.raises(OSError):
        M.export_term_snapshot(spark, root + "/ix", root + "/snap_t")
    with pytest.raises(OSError):
        M.export_band_snapshot(spark, root + "/bands", root + "/snap_b")
    monkeypatch.setattr(M.os, "replace", real_replace)
    # dest was cleaned: the immutability guard accepts a retry
    assert not os.path.exists(root + "/snap_t")
    assert not os.path.exists(root + "/snap_b")
    assert M.export_term_snapshot(
        spark, root + "/ix", root + "/snap_t")["n_docs"] > 0
    assert M.export_band_snapshot(
        spark, root + "/bands", root + "/snap_b")["empty"] is False


def test_follow_releases_reloads_only_on_pointer_swap(spark, tmp_path):
    """r12: the serving fleet's read side of export_release. A
    follow_releases callback re-resolves CURRENT per micro-batch,
    reloads ONLY when the pointer moved (zero per-batch load cost on
    a stable pointer), serves each batch bit-identically to
    load_release + the same batch serve, and picks up a release
    swapped mid-stream on the next batch. Driven both directly (the
    maintainer-test pattern, deterministic mid-stream swap) and
    through a real foreachBatch stream."""
    import pytest
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        export_release, follow_releases, index_refresh_batches,
        load_release)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    root = str(tmp_path)
    cb_ix = index_refresh_batches(root + "/ix", op_col="op",
                                  keep_versions=4)
    add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731
    stores = {"postings": ("term", root + "/ix")}
    rel_root = root + "/releases"
    cb_ix(add(docs.filter("doc_id < 250")), 0)
    export_release(spark, stores, rel_root)

    terms = ["customer", "hash", "merge"]
    served = []

    def serve(release, batch_df, batch_id):
        postings, (n, avgdl) = release["stores"]["postings"]
        out = bm25_rank_indexed(postings, terms, k=5, n_docs=n,
                                avgdl=avgdl)
        served.append((batch_id, release["batch_id"],
                       [tuple(r) for r in out.collect()]))

    fol = follow_releases(rel_root, serve)
    qb = spark.createDataFrame([(t,) for t in terms], "term string")
    fol(qb, 0)
    fol(qb, 1)  # pointer unchanged: NO reload
    assert fol.state["reloads"] == 1 and fol.state["batch_id"] == 0

    # release swapped mid-stream: the next batch serves the new one
    cb_ix(add(docs.filter("doc_id >= 250 and doc_id < 400")), 1)
    export_release(spark, stores, rel_root)
    fol(qb, 2)
    assert fol.state["reloads"] == 2 and fol.state["batch_id"] == 1

    # every served batch is bit-identical to load_release + the same
    # batch serve at that release
    for _bid, rel_bid, rows in served:
        rel = load_release(spark, rel_root, as_of=rel_bid)
        postings, (n, avgdl) = rel["stores"]["postings"]
        want = [tuple(r) for r in bm25_rank_indexed(
            postings, terms, k=5, n_docs=n, avgdl=avgdl).collect()]
        assert rows == want
    assert served[0][1] == served[1][1] == 0 and served[2][1] == 1
    # the swap actually changed what serves (bigger corpus)
    assert served[0][2] != served[2][2]

    # a follower started before any release refuses loudly
    with pytest.raises(ValueError, match="no committed release"):
        follow_releases(root + "/nowhere", serve)(qb, 0)

    # real foreachBatch wiring: one file per trigger, same follower
    # object across two stream runs with a release swap in between
    src = root + "/qsrc"
    ckpt = root + "/ckpt"
    qb.coalesce(1).write.mode("append").parquet(src)
    served.clear()
    fol2 = follow_releases(rel_root, serve)

    def _run():
        stream = (spark.readStream.format("parquet")
                  .schema("term string")
                  .option("maxFilesPerTrigger", 1).load(src))
        q = (stream.writeStream.foreachBatch(fol2)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    _run()
    assert fol2.state["reloads"] == 1 and fol2.state["batch_id"] == 1
    cb_ix(add(docs.filter("doc_id >= 400")), 2)
    export_release(spark, stores, rel_root)
    qb.coalesce(1).write.mode("append").parquet(src)
    _run()  # restart from the checkpoint: only the new file serves
    assert fol2.state["reloads"] == 2 and fol2.state["batch_id"] == 2
    assert [s[1] for s in served] == [1, 2]
    rel2 = load_release(spark, rel_root, as_of=2)
    postings, (n, avgdl) = rel2["stores"]["postings"]
    want2 = [tuple(r) for r in bm25_rank_indexed(
        postings, terms, k=5, n_docs=n, avgdl=avgdl).collect()]
    assert served[-1][2] == want2


def test_sorted_folds_prune_row_groups(spark, tmp_path):
    """r12 (re-measure the sorted-fold trade): term-sorting the
    compaction fold buys parquet ROW-GROUP pruning on every
    maintained-store serve. Small-SF single-row-group files hide the
    effect, so this pins parquet.block.size tiny to get the
    many-row-groups-per-file layout a corpus-scale store has
    naturally, then checks the folded segment's term min/max stats:
    the sorted store's probe-overlapping fraction must be strictly
    smaller (measured at sf1/sf3: 57%/27% of row groups decoded vs
    100% unsorted, serve -14/-16%, fold cost in noise — SCALING.md
    'sorted folds'). Results are bit-identical either way; sort_folds
    exists for write-heavy/serve-light stores."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    docs = (read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    terms = ["customer", "merge", "sort"]
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hc.get("parquet.block.size")
    old_page = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 4 << 10)
    hc.setInt("parquet.page.size", 1 << 10)
    try:
        frac, served = {}, {}
        for label, flag in (("sorted", True), ("unsorted", False)):
            ix = str(tmp_path / label)
            cb = index_refresh_batches(ix, op_col="op",
                                       max_segments=2,
                                       sort_folds=flag)
            add = lambda df: df.withColumn("op", F.lit("add"))  # noqa: E731,E501
            cb(add(docs.filter("doc_id % 3 = 0")), 0)
            cb(add(docs.filter("doc_id % 3 = 1")), 1)
            cb(add(docs.filter("doc_id % 3 = 2")), 2)  # fold fires
            hit = total = 0
            for f in glob.glob(os.path.join(ix, "seg-*c", "postings",
                                            "*.parquet")):
                md = pq.ParquetFile(f).metadata
                names = md.schema.to_arrow_schema().names
                ci = names.index("term")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    total += 1
                    if (st is None or not st.has_min_max
                            or any(st.min <= t <= st.max
                                   for t in terms)):
                        hit += 1
            assert total > 10, (label, total)  # layout engaged
            frac[label] = hit / total
            postings, (n, avgdl) = load_term_index(spark, ix)
            served[label] = sorted(map(tuple, bm25_rank_indexed(
                postings, terms, k=15, n_docs=n,
                avgdl=avgdl).collect()))
        assert served["sorted"] == served["unsorted"]  # layout only
        assert frac["sorted"] < frac["unsorted"], frac
        assert frac["sorted"] < 0.8, frac  # real pruning, not a tie
    finally:
        for key, old in (("parquet.block.size", old_block),
                         ("parquet.page.size", old_page)):
            if old is None:
                hc.unset(key)
            else:
                hc.set(key, old)
