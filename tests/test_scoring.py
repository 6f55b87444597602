"""LM scoring, DSIR weighting, and deterministic shuffle tests beyond
the oracle gate."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tantalus_spark.datapipe.scoring import (
    corpus_shuffle,
    dsir_weights,
    unigram_lm_score,
)


@pytest.fixture(scope="module")
def docs(spark):
    common = "the cat sat on the mat and the dog sat on the rug"
    rows = [
        (1, common, "curated"),
        (2, common + " again " + common, "curated"),
        (3, "the cat and the dog sat on the mat", "curated"),
        (4, "zyx qwv plk mnb vcx asd qaz wsx edc rfv", "web"),  # gibberish
        (5, "the dog sat on the mat", "web"),
        (6, None, "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_lm_score_rare_tokens_cost_more(docs):
    out = {r["doc_id"]: r for r in unigram_lm_score(docs).collect()}
    # gibberish doc (all hapax tokens) must score far above common-word docs
    assert out[4]["mean_cost_millibits"] > out[1]["mean_cost_millibits"]
    assert out[4]["mean_cost_millibits"] > out[5]["mean_cost_millibits"]
    # null text drops out (no tokens)
    assert 6 not in out


def test_lm_score_matches_hand_computation(spark):
    # 2 docs, vocabulary {a, b}: counts a=3, b=1, N=4, V=2, alpha=1.
    rows = [(1, "a a b"), (2, "a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_lm_score(df).collect()}
    cost_a = math.floor(-math.log2((3 + 1) / (4 + 2)) * 1000 + 0.5)
    cost_b = math.floor(-math.log2((1 + 1) / (4 + 2)) * 1000 + 0.5)
    assert out[1]["total_millibits"] == 2 * cost_a + cost_b
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_cost_millibits"] == (2 * cost_a + cost_b) // 3
    assert out[2]["total_millibits"] == cost_a


def test_frozen_cost_table_charges_oov_tokens(spark):
    """A cost table trained on one corpus, frozen, scores NEW text:
    known tokens cost their trained millibits and every unseen token
    costs ``oov_cost_mb`` (score_with_cost_table's left-join branch,
    which unigram_lm_score never takes)."""
    from tantalus_spark.datapipe.scoring import (
        lm_cost_table, score_with_cost_table)

    # counts a=3, b=1, N=4, V=2, alpha=1
    train = spark.createDataFrame([(1, "a a b"), (2, "a")],
                                  "doc_id long, text string")
    cost, oov = lm_cost_table(train)

    def mb(c):
        return math.floor(-math.log2((c + 1) / (4 + 2)) * 1000 + 0.5)

    assert oov == mb(0)
    assert {r["term"]: r["cost_mb"] for r in cost.collect()} == {
        "a": mb(3), "b": mb(1)}

    new = spark.createDataFrame([(10, "A zz b zz"), (11, "qq")],
                                "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["total_millibits"],
                         r["mean_cost_millibits"])
           for r in score_with_cost_table(new, cost, oov).collect()}
    total = mb(3) + mb(1) + 2 * oov
    assert got == {10: (4, total, total // 4), 11: (1, oov, oov)}


def test_dsir_prefers_target_like_docs(docs):
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            docs, F.col("source") == "curated", n_buckets=64,
            hash_family="md5").collect()
    }
    # doc 5 is textually target-like (all its tokens dominate the curated
    # slice) even though it is NOT in the target; the gibberish doc 4 is not.
    assert out[5]["weight_millibits"] > out[4]["weight_millibits"]
    assert out[5]["in_target"] == 0 and out[1]["in_target"] == 1


def test_dsir_hash_families_agree_on_ranking(docs):
    cond = F.col("source") == "curated"
    a = {r["doc_id"]: r["weight_millibits"]
         for r in dsir_weights(docs, cond, n_buckets=64,
                               hash_family="md5").collect()}
    b = {r["doc_id"]: r["weight_millibits"]
         for r in dsir_weights(docs, cond, n_buckets=64,
                               hash_family="xxhash64").collect()}
    # different bucketings, same qualitative top/bottom split
    assert set(a) == set(b)
    assert (a[5] > a[4]) and (b[5] > b[4])


def test_perplexity_buckets_partition_the_corpus(spark):
    # doc i mixes a common phrase with i unique (hapax) tokens -> LM cost
    # rises smoothly with i, so the terciles split ~evenly
    rows = [
        (i, "the cat sat on the mat "
            + " ".join(f"u{i}x{j}" for j in range(i)))
        for i in range(45)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from tantalus_spark.datapipe.scoring import perplexity_buckets

    out = {r["bucket"]: r for r in perplexity_buckets(df).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert sum(r["n_docs"] for r in out.values()) == 45
    # buckets are ordered: head's max cost <= middle's min <= tail's min
    assert out["head"]["max_cost_millibits"] <= out["middle"]["min_cost_millibits"]
    assert out["middle"]["max_cost_millibits"] <= out["tail"]["min_cost_millibits"]
    # terciles of 45 smoothly-increasing scores split roughly evenly
    assert all(10 <= out[b]["n_docs"] <= 20 for b in out)


def test_corpus_shuffle_is_a_deterministic_permutation(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out1 = corpus_shuffle(df, seed="s", n_shards=8).collect()
    out2 = corpus_shuffle(df.repartition(13), seed="s", n_shards=8).collect()
    # permutation: every doc exactly once; positions 1..n per shard
    assert sorted(r["doc_id"] for r in out1) == list(range(500))
    per_shard = {}
    for r in out1:
        per_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic under re-run AND under different input partitioning
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["position"])
                              for r in rows)
    assert key(out1) == key(out2)


def test_lm_score_stream_matches_batch(spark, replay_stream):
    """Scoring against a FROZEN cost table is per document: a corpus
    replayed as a two-file stream and scored per micro-batch with
    score_with_cost_table is bit-identical to scoring it in one batch
    (shared cost table, shared integer-millibit reduction), and every
    document is charged for its unseen token."""
    from tantalus_spark.datapipe.scoring import (
        lm_cost_table, score_with_cost_table)

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(i, f"the cat sat on mat number {i} with oovtok{i}")
         for i in range(12)], schema)
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)], schema)
    cost, oov = lm_cost_table(train)

    def scores(df):
        return {r["doc_id"]: (r["n_tokens"], r["total_millibits"],
                              r["mean_cost_millibits"])
                for r in score_with_cost_table(df, cost, oov).collect()}

    got, batch_ids = {}, []

    def on_batch(batch_df, batch_id):
        part = scores(batch_df)
        assert not set(part) & set(got)
        got.update(part)
        batch_ids.append(batch_id)

    replay_stream([docs.filter(F.col("doc_id") < 6),
                   docs.filter(F.col("doc_id") >= 6)], on_batch)
    assert len(batch_ids) == 2
    assert got == scores(docs) and len(got) == 12
    # OOV tokens actually charged: every doc has one unseen token
    assert all(v[1] >= oov > 0 for v in got.values())


def test_temperature_mix_upweights_small_sources(spark):
    from tantalus_spark.datapipe.sampling import temperature_mix

    rows = [(i, "w " * 100, "big") for i in range(90)]
    rows += [(100 + i, "w " * 100, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in
           temperature_mix(df, alpha=0.7, token_budget=10_000).collect()}
    big, small = out["big"], out["small"]
    # alpha<1 compresses: small's sampled share exceeds its natural share
    natural_small = small["n_tokens"] / (small["n_tokens"] + big["n_tokens"])
    assert small["sample_rate"] > natural_small
    assert abs(big["sample_rate"] + small["sample_rate"] - 1.0) < 1e-5
    # budget shares sum to the budget (up to the two floors)
    assert 10_000 - 2 <= big["target_tokens"] + small["target_tokens"] <= 10_000
    # the upweighted small source needs repetition sooner than big does
    assert small["repeat_factor"] > big["repeat_factor"]


def test_temperature_mix_alpha_one_is_proportional(spark):
    from tantalus_spark.datapipe.sampling import temperature_mix

    rows = [(i, "a b c d", "x") for i in range(30)]
    rows += [(50 + i, "a b c d", "y") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in
           temperature_mix(df, alpha=1.0, token_budget=4000).collect()}
    assert abs(out["x"]["sample_rate"] - 0.75) < 1e-4
    assert abs(out["y"]["sample_rate"] - 0.25) < 1e-4


def test_corpus_shuffle_seed_changes_order(spark):
    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = {(r["doc_id"]): (r["shard"], r["position"])
         for r in corpus_shuffle(df, seed="epoch0", n_shards=4).collect()}
    b = {(r["doc_id"]): (r["shard"], r["position"])
         for r in corpus_shuffle(df, seed="epoch1", n_shards=4).collect()}
    assert a != b  # different epochs draw different permutations


def test_bigram_lm_hand_computation(spark):
    import math

    # corpus: "a b", "a b", "a c" -> c1: a=3, b=2, c=1 (V=3)
    # bigrams: (a,b)x2, (a,c)x1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string")
    from tantalus_spark.datapipe.scoring import bigram_lm_score

    out = {r["doc_id"]: r for r in bigram_lm_score(df).collect()}
    cost_ab = math.floor(-math.log2((2 + 1) / (3 + 3)) * 1000 + 0.5)
    cost_ac = math.floor(-math.log2((1 + 1) / (3 + 3)) * 1000 + 0.5)
    assert out[1]["total_millibits"] == cost_ab == out[2]["total_millibits"]
    assert out[3]["total_millibits"] == cost_ac
    assert out[1]["n_bigrams"] == 1
    # the common transition (a->b) is cheaper than the rare one (a->c)
    assert cost_ab < cost_ac


def test_bigram_lm_short_docs_drop(spark):
    from tantalus_spark.datapipe.scoring import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, None)],
        "doc_id long, text string")
    ids = {r["doc_id"] for r in bigram_lm_score(df).collect()}
    assert ids == {2}  # one-token and null docs have no bigrams


def test_gate_attribution_unique_and_overlapping_failures(spark):
    from tantalus_spark.datapipe.pipeline import gate_attribution

    good = ("this is a perfectly ordinary english document with the usual "
            "words and enough measured prose to pass every quality gate")
    rows = [
        (1, good), (2, good + " two"), (3, good + " three"),
        (4, "the a of and"),                 # 4 en tokens: fails length only
        (5, good),                           # dup of 1 -> fails dup only
        (6, "der die das und " * 5),         # fails lang only
        (7, "the 11111111"),                 # fails alpha AND length (en)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = gate_attribution(df, min_tokens=5).first()
    assert r["n_docs"] == 7 and r["n_pass"] == 3
    assert r["fail_length"] == 2 and r["only_length"] == 1   # 4 alone, 7 shared
    assert r["fail_dup"] == 1 and r["only_dup"] == 1
    assert r["fail_lang"] == 1 and r["only_lang"] == 1
    assert r["fail_alpha"] == 1 and r["only_alpha"] == 0     # 7 also fails length


def test_dsir_select_exact_topk(docs):
    from tantalus_spark.datapipe.scoring import dsir_select

    cond = F.col("source") == "curated"
    w = {r["doc_id"]: r["weight_millibits"]
         for r in dsir_weights(docs, cond, n_buckets=64,
                               hash_family="md5").collect()}
    # 5 scored docs (null text drops), keep_frac 0.4 -> k = 2
    kept = dsir_select(docs, cond, keep_frac=0.4, n_buckets=64,
                       hash_family="md5").collect()
    assert len(kept) == 2
    kept_ids = {r["doc_id"] for r in kept}
    # kept set == top-2 by (weight desc, md5 tie-break): every kept weight
    # must be >= every excluded weight
    excluded = [w[i] for i in w if i not in kept_ids]
    assert min(w[i] for i in kept_ids) >= max(excluded)
    # weights pass through unchanged from dsir_weights
    for r in kept:
        assert r["weight_millibits"] == w[r["doc_id"]]


def test_dsir_select_tie_break_is_deterministic(spark):
    from tantalus_spark.datapipe.scoring import dsir_select

    # all docs identical -> identical weights -> pure tie; admission must
    # be the md5(doc_id) order, stable across runs
    rows = [(i, "same text here", "web") for i in range(1, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    cond = F.lit(False)
    a = sorted(r["doc_id"] for r in
               dsir_select(df, cond, keep_frac=0.5, n_buckets=64,
                           hash_family="md5").collect())
    b = sorted(r["doc_id"] for r in
               dsir_select(df, cond, keep_frac=0.5, n_buckets=64,
                           hash_family="md5").collect())
    assert a == b and len(a) == 4
    import hashlib
    expect = sorted(
        sorted(range(1, 9),
               key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:4])
    assert a == expect


def test_dsir_select_zero_keep_is_empty(docs):
    from tantalus_spark.datapipe.scoring import dsir_select

    out = dsir_select(docs, F.col("source") == "curated",
                      keep_frac=0.0, n_buckets=64, hash_family="md5")
    assert out.count() == 0


def test_quota_select_per_group_sizes_and_order(spark):
    from tantalus_spark.datapipe.scoring import quota_select, unigram_lm_score

    rows = []
    # source A: 7 docs of mixed fluency; source B: 4 docs; source C: 1 doc
    common = "the cat sat on the mat and the dog sat on the rug"
    for i in range(5):
        rows.append((i, common + f" tail{i}", "A"))
    rows.append((5, "zzq wvx plk mnb qqa wsx", "A"))       # gibberish
    rows.append((6, "xjw qpe rrt uyy iop zzc", "A"))       # gibberish
    for i in range(4):
        rows.append((10 + i, common + f" b{i}", "B"))
    rows.append((20, common, "C"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = quota_select(df, keep_frac=0.5).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    # exact floor(n*frac) per source: A 7->3, B 4->2, C 1->0
    assert len(by_src["A"]) == 3 and len(by_src["B"]) == 2
    assert "C" not in by_src
    # the kept docs are the LOWEST-cost ones: no excluded doc in the same
    # source has a strictly lower cost than any kept doc
    scores = {r["doc_id"]: r["mean_cost_millibits"]
              for r in unigram_lm_score(df).collect()}
    for srcname, members in (("A", range(7)), ("B", range(10, 14))):
        kept_ids = {r["doc_id"] for r in by_src[srcname]}
        kmax = max(scores[i] for i in kept_ids)
        emin = min(scores[i] for i in members if i not in kept_ids)
        assert kmax <= emin
    # gibberish never survives over fluent docs
    assert 5 not in {r["doc_id"] for r in kept}
    assert 6 not in {r["doc_id"] for r in kept}


def test_dsir_select_differential_vs_bruteforce(spark):
    """Randomized differential: the histogram-threshold + tie-window
    selection must equal brute-force 'sort all by (weight desc, md5, id),
    take k' on the SAME weights, for several keep fractions."""
    import hashlib
    import random

    from tantalus_spark.datapipe.scoring import dsir_select

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "run", "jump", "x1", "xq"]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(3, 12))),
             rng.choice(["t", "w"])) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    cond = F.col("source") == "t"
    w = {r["doc_id"]: r["weight_millibits"]
         for r in dsir_weights(df, cond, n_buckets=64,
                               hash_family="md5").collect()}
    order = sorted(
        w, key=lambda i: (-w[i], hashlib.md5(str(i).encode()).hexdigest(), i))
    for frac in (0.1, 0.33, 0.5, 0.9):
        kept = sorted(r["doc_id"] for r in
                      dsir_select(df, cond, keep_frac=frac, n_buckets=64,
                                  hash_family="md5").collect())
        k = int(len(w) * frac)
        assert kept == sorted(order[:k]), f"frac={frac}"
