"""Persist-lifecycle policy gate (r4 verdict "What's wrong #3").

Policy: a function may return a CACHED frame (the caller owns releasing
it via ``.unpersist()``), but every cache a caller cannot see must be
released before the function returns (``_materialize_and_release`` or
``try/finally``). The r4 leak: ``temperature_mix`` pinned its stats
frame forever; this gate runs the leak-prone inventory queries end to
end and asserts that, once the caller releases the returned frame, the
session holds no new pinned blocks.
"""

from __future__ import annotations

import pytest

from tantalus_spark.inventory import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# every query family that persists internally: LM scoring, DSIR,
# perplexity, quota, temperature mix, posting-list dedup, LSH, fused
# corpus build
LEAK_PRONE = [
    "44_ngram_jaccard",
    "45_minhash_lsh",
    "97_lm_score",
    "98_dsir_weights",
    "101_perplexity_buckets",
    "103_temperature_mix",
    "104_bigram_lm",
    "106_dsir_select",
    "108_build_corpus",
    "113_quota_select",
    "121_bm25_rank",
    "122_minhash_calibration",
    # r7: every new operator that persists internally (legs/sketches/
    # flag caches/assignments) must release them before return
    "131_hybrid_rrf",
    "132_source_divergence",
    "133_jl_distortion",
    "134_dedup_funnel",
    "135_js_drift",
    "136_ivf_recall",
    # r8: the index-served hybrid (gate entry persists the built feats
    # and must release it) and the serve-side lifecycle entries
    "141_hybrid_serve",
    "143_pruned_index_serve",
    "144_merged_dense_serve",
    "145_score_calibration",
]


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("qname", LEAK_PRONE)
def test_no_pinned_blocks_after_query_release(spark, qname):
    before = _n_cached(spark)
    df = QUERIES[qname](spark, SF_DIR)
    df.collect()
    df.unpersist()          # caller releases the (possibly cached) result
    after = _n_cached(spark)
    assert after <= before, (
        f"{qname} leaked {after - before} pinned RDD(s): every internal "
        f"persist must be released before return (persist-lifecycle "
        f"policy)")


def test_repeated_calls_do_not_accumulate(spark):
    """The failure mode that matters in a long-lived session: every call
    pinning one more block. Three rounds of the r4 leaker must be flat."""
    counts = []
    for _ in range(3):
        df = QUERIES["103_temperature_mix"](spark, SF_DIR)
        df.collect()
        df.unpersist()
        counts.append(_n_cached(spark))
    assert counts[0] == counts[1] == counts[2], counts


# one query per operator family, weighted toward shuffle-heavy operators
HEADLINE = [
    "01_pricing_summary", "06_token_or_search", "07_region_revenue",
    "10_exists_same_child", "13_count_distinct", "15_cross_agg_eq",
    "17_window_lag", "18_topk_per_group", "30_window_frames",
    "68_range_join", "40_dedup_exact", "41_doc_profile",
    "44_ngram_jaccard", "45_minhash_lsh", "47_ann_cosine",
    "49_tumbling_window", "50_sessionization", "51_embedding_near_dup",
    "53_winnowing", "58_clean_corpus", "97_lm_score",
    "98_dsir_weights", "101_perplexity_buckets", "108_build_corpus",
    "46_simhash", "111_fuzzy_pairs", "113_quota_select",
    "116_encoding_noise", "120_zipf_fit", "121_bm25_rank",
    "123_bm25_indexed", "124_tfidf_cosine", "131_hybrid_rrf",
    "132_source_divergence", "134_dedup_funnel", "135_js_drift",
    "141_hybrid_serve",
    "142_group_split_clustered", "147_hybrid_serve_batch",
    "151_ann_serve_batch", "152_segmented_store_serve",
    "159_snapshot_promote_serve", "161_snapshot_ann_serve",
    "164_band_store_live_serve", "165_release_follow_serve",
]


@pytest.mark.slow
def test_no_pinned_blocks_between_headline_bench_queries(spark):
    """A persisted plan that survives between two queries makes the next
    identical plan a cache hit (``CacheManager: Asked to cache already
    cached data``), so a loop that times queries one after another times
    the cache, not the query. Run that loop shape over one query per
    operator family, releasing each returned frame, and assert the
    session holds ZERO new pinned blocks between consecutive queries,
    not just after the final release."""
    before = _n_cached(spark)
    for name in HEADLINE:
        df = QUERIES[name](spark, SF_DIR)
        df.count()
        df.unpersist()
        now = _n_cached(spark)
        assert now <= before, (
            f"{name} left {now - before} pinned block(s) after caller "
            f"release — the next query would be cache-assisted")
