"""Physical-plan assertions: the optimizations we rely on at scale must
actually appear in the executed plan — predicate pushdown into the parquet
scan, column pruning, broadcast joins for dimensions, top-k pagination.

Runs against real parquet (sf0.001) because createDataFrame plans have no
scan node to push into."""

from __future__ import annotations

import pytest

from tantalus_spark.inventory import QUERIES, db_for

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["04_range_in_filter"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "l_shipdate" in pushed
    assert "l_returnflag" in pushed


def test_column_pruning_reads_only_needed(spark):
    df = QUERIES["04_range_in_filter"](spark, SF)
    plan = _plan(df)
    # lineitem has 11 columns; the scan must read exactly the 2 used
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_shipdate" in read and "l_returnflag" in read
    assert "l_extendedprice" not in read and "l_quantity" not in read


def test_dimension_joins_broadcast(spark):
    df = QUERIES["07_region_revenue"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_compiler_fk_chain_broadcasts_dims(spark):
    db = db_for(spark, SF)
    df = db.query("orders").filter(
        customer__nation__region__r_name="ASIA").to_df()
    # dimension joins (customer->nation->region) should broadcast, and the
    # equality predicate must push down to the region scan
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,ASIA)" in plan or "r_name" in plan.split(
        "PushedFilters:")[-1][:200]


def test_pagination_small_offset_is_topk(spark):
    df = QUERIES["16_pagination"](spark, SF)
    # offset 100 + limit 20 over an ordered frame must run as a top-k
    # (TakeOrderedAndProject), not a global sort
    assert "TakeOrderedAndProject" in _plan(df)


def test_semi_join_no_fanout_dedup(spark):
    db = db_for(spark, SF)
    df = db.query("customer").filter(
        orders__o_orderpriority="1-URGENT").to_df()
    plan = _plan(df)
    assert "LeftSemi" in plan
    # the match-set dedup must NOT survive into the final plan as a
    # full-row dropDuplicates on the result
    assert plan.count("HashAggregate") <= 4


def test_exclude_is_anti_join(spark):
    db = db_for(spark, SF)
    df = db.query("customer").exclude(orders__o_orderstatus="F").to_df()
    assert "LeftAnti" in _plan(df)


def test_whole_stage_codegen_covers_scalar_query(spark):
    df = QUERIES["22_scalar_functions"](spark, SF)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in _plan(df)


def test_no_python_udf_in_parity_queries(spark):
    # SURVEY §2.10: parity needs zero Python UDFs — everything native
    for name in ("01_pricing_summary", "07_region_revenue", "15_cross_agg_eq",
                 "22_scalar_functions", "24_event_scalars"):
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_annotate_preagg_broadcasts_narrow_aggregate(spark):
    """q15's annotate plan: the child (lineitem) aggregates on its FK key
    BEFORE touching orders — orders itself must scan only its key column
    and never shuffle (the narrow per-key aggregate broadcasts onto it)."""
    plan = _plan(QUERIES["15_cross_agg_eq"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the root scan reads just the key: no first()-carry of orders columns
    orders_read = [
        seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]
        if "orders.parquet" in seg.split("ReadSchema:")[0][-400:] or
        "o_orderkey" in seg.splitlines()[0]
    ]
    assert any(read.count(":") == 1 and "o_orderkey" in read
               for read in orders_read), orders_read
    # exactly one shuffle: the child-side aggregate on l_orderkey
    assert plan.count("Exchange hashpartitioning") == 1


def test_multivalued_filter_matchset_is_childside(spark):
    """q10's match-set must come from the child subtree alone: two joins
    total (lineitem⋈part inside the match-set, then the semi join) — the
    old plan joined orders into the fan-out frame first (three joins)."""
    plan = _plan(QUERIES["10_exists_same_child"](spark, SF))
    assert "LeftSemi" in plan
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert n_joins == 2, f"expected child-side match-set (2 joins), got {n_joins}"


def test_expand_related_broadcasts_and_preaggregates(spark, tdb):
    """?expand= plan shape: single-valued hops broadcast the parent;
    fan-out hops aggregate the child side to one array row per key
    BEFORE joining, so the root never fans out."""
    from tantalus_spark.operators.serializers import expand_related

    df = expand_related(tdb, "sequence_dataset",
                        ["sample", "sequence_lanes"])
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan          # sample struct join
    # the collect_list aggregate sits BELOW the lanes join (child side
    # pre-aggregated), and the root row count is preserved
    assert "collect_list" in plan
    assert df.count() == tdb.table("sequence_dataset").count()


def test_pq_topk_reads_codes_not_vectors(spark, tmp_path_factory):
    """The ADC serving path must never read the float vector column —
    that is the entire point of the 32x code compression. Serve from a
    materialized code table (the real deployment shape) and assert the
    scan schema is codes-only."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe import similarity as sim

    emb = read_parquet(spark, f"{SF}/embeddings.parquet")
    books = sim.train_pq_codebooks(emb, m=8, k=4, max_iter=2)
    path = str(tmp_path_factory.mktemp("pq") / "codes")
    sim.pq_encode(emb, books).write.parquet(path)
    enc = spark.read.parquet(path)
    q = [1.0] * 64
    plan = _plan(sim.pq_topk(enc, books, q, k=5))
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_code" in scan_schema
    assert "embedding" not in scan_schema
    assert "TakeOrderedAndProject" in plan


def test_winnowing_single_exchange_reused(spark):
    """q53 plan contract: ONE exchange (on doc_id for the window-min);
    the distinct and the per-doc aggregate both reuse that partitioning,
    and no inferred size() filter reaches the scan (the quadratic trap)."""
    df = QUERIES["53_winnowing"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange") <= 2          # window + AQE final agg
    assert "Filter (size" not in plan
    scan = plan.split("FileScan")[1][:400]
    assert "md5" not in scan                    # no inlined expr filter


def test_line_dedup_shuffles_digests_not_text(spark):
    """q76 plan contract: the boilerplate-frequency aggregation must
    shuffle the 16-byte line digest, never the raw line text — at corpus
    scale the digest column is the only thing the count exchange may
    carry."""
    df = QUERIES["76_line_dedup"](spark, SF)
    opt = _optimized(df)
    # the count-distinct-docs aggregate keys on the md5 digest
    assert "md5" in opt
    plan = _plan(df)
    # frequency-count exchanges must hash-partition on the digest (lh),
    # not on any text column
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keycols = frag.split(")")[0]
        assert "line#" not in keycols or "lh" in keycols


def test_scrub_pii_is_single_map_stage(spark):
    """q79 plan contract: counting + redaction is one scan-projection
    with zero exchanges and no Python in the plan."""
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import scrub_pii

    docs = read_parquet(spark, f"{SF}/documents.parquet")
    plan = _plan(scrub_pii(docs))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_quality_classifier_is_single_map_stage(spark):
    from tantalus_spark.catalog.loader import read_parquet
    from tantalus_spark.datapipe.textstats import quality_classifier

    docs = read_parquet(spark, f"{SF}/documents.parquet")
    plan = _plan(quality_classifier(docs))
    assert "Exchange" not in plan
    assert plan.lstrip().startswith("*(1)")   # whole-stage codegen'd


def test_dsir_bucket_table_broadcasts(spark):
    """q98 plan contract: the fixed-size bucket table reaches the
    per-doc reduction via BroadcastHashJoin (it has n_buckets rows at
    ANY corpus size — a shuffle join here would be a scale bug), and the
    returned plan's ONLY hash exchange is the doc_id reduction: since
    the r5 persist-lifecycle refactor the bucket-stats aggregation runs
    once at weight-training time (localized, then broadcast as a local
    relation), so it no longer appears in the consuming plan at all."""
    df = QUERIES["98_dsir_weights"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    import re
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"doc_id"}, keys


def test_corpus_shuffle_no_global_sort(spark):
    """q99 plan contract: per-shard rank windows partition by shard —
    never a single-partition global window (Exchange SinglePartition),
    which would serialize the corpus through one task."""
    df = QUERIES["99_corpus_shuffle"](spark, SF)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_grouping_sets_single_scan_expand(spark):
    """q110 must compile to ONE lineitem scan + Expand + hash aggregate —
    not one scan per grouping set."""
    df = QUERIES["110_grouping_sets"](spark, SF)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    # q110 reads only the 3 needed columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read and "l_orderkey" not in read


def test_dsir_select_no_global_sort(spark):
    """q106's selection must not sort or rank the whole corpus: the only
    row_number window runs on the bounded tie set, after a literal
    threshold filter (no SortExec over the full weights frame feeding a
    global window)."""
    import re

    df = QUERIES["106_dsir_select"](spark, SF)
    plan = _plan(df)
    # the selection is threshold-based: a global-rank design would have NO
    # literal weight comparisons; ours must show the folded-in threshold
    # both as the clear-branch `>` filter and the tie-branch `=` filter,
    # so the only rank window runs on the bounded tie set
    assert re.search(r"weight_millibits#\d+L? > -?\d+", plan)
    assert re.search(r"weight_millibits#\d+L? = -?\d+", plan)


def test_centroid_affinity_zero_exchange(spark):
    """q107's scoring pass is map-side only: no Exchange in the plan."""
    df = QUERIES["107_centroid_affinity"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan


def test_fuzzy_pairs_self_join_never_broadcasts(spark):
    """r5 contract: the block self-join side is the whole corpus (id +
    text) and must shuffle on the block key, never broadcast — at mid
    sizes Catalyst's size estimate still cleared the 64 MiB threshold
    and the BroadcastHashJoin probe ran 2-3x slower than merge join
    (and a corpus broadcast cannot exist at 100 TB)."""
    df = QUERIES["111_fuzzy_pairs"](spark, SF)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    # the only allowed broadcast is the tiny block-size table
    import re
    bhj = re.findall(r"BroadcastHashJoin \[(\w+)#", plan)
    assert all(k == "_bk" for k in bhj), bhj


def test_simhash_signatures_are_jvm_side(spark):
    """r5 contract: no Python evaluation anywhere in the simhash plan —
    the signature is explode + built-in md5 hash + 64 integer bit-sums
    (the pandas_udf per-token loop was 90% of the query's cost)."""
    from tantalus_spark.datapipe.dedup import simhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash_signatures(docs, hash_hex_chars=15))
    assert "EvalPython" not in plan     # no BatchEvalPython/ArrowEvalPython
    assert "HashAggregate" in plan


def test_hyperplane_lsh_coeffs_are_literal_folded(spark):
    """r5 contract: the q69 bucket projection contains NO higher-order
    aggregate/zip_with and NO per-row md5 — coefficients are evaluated
    once driver-side and folded in as literals; the dot is a codegen'd
    element_at chain."""
    from tantalus_spark.datapipe import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def coeff(i, s):
        h = F.conv(
            F.substring(F.md5(F.concat_ws("_", F.lit(str(s)),
                                          i.cast("string"))), 1, 15),
            16, 10).cast("long")
        return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0

    coeffs = sim._eval_coeff_literals(spark, coeff, range(2), 4)
    assert set(coeffs) == {0, 1} and len(coeffs[0]) == 4
    dot = sim._dot_literal(F.col("embedding"), coeffs[0])
    plan = _plan(emb.select(dot.alias("d")))
    assert "aggregate(" not in plan and "zip_with" not in plan
    assert "md5" not in plan


def test_trained_ann_serves_from_materialized_index(spark):
    """r5 contract: q75's serving scan reads the cached (id, ivf_list,
    pq_code) index — InMemoryRelation in the plan — rather than pushing
    the nprobe filter back into the interpreted assignment expression."""
    df = QUERIES["75_ann_trained"](spark, SF)
    plan = _plan(df)
    assert "InMemory" in plan
    df.unpersist()


def test_sq8_encode_is_single_map_stage(spark):
    """q119's encode pass: literal-folded stats -> one projection over
    the scan, ZERO exchanges (training is a separate bounded job)."""
    from tantalus_spark.datapipe.similarity import sq8_reconstruction

    emb = db_for(spark, SF).table("embeddings")
    stats = [(0.0, 1.0)] * 64  # frozen stats: no training job in the plan
    plan = _plan(sq8_reconstruction(emb, stats))
    assert "Exchange" not in plan
    # per-dim work is codegen'd expression work, not an interpreted HOF
    assert "ArrayTransform" not in plan and "ArrayAggregate" not in plan


def test_bm25_filters_tokens_before_shuffle_and_takes_ordered_topk(spark):
    from tantalus_spark.datapipe.textstats import bm25_rank

    docs = db_for(spark, SF).table("documents")
    df = bm25_rank(docs, ["hash", "join", "window", "vector"], k=20)
    plan = _plan(df)
    # top-k must be TakeOrderedAndProject, never a global Sort+Limit
    assert "TakeOrderedAndProject" in plan
    # the term IN-filter must sit under the first aggregate, not after it
    assert "Filter" in plan
    agg_pos = plan.find("HashAggregate")
    assert plan.find("TakeOrderedAndProject") < agg_pos
    # df(t) is a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan


def test_zipf_windows_over_vocab_not_corpus(spark):
    from tantalus_spark.datapipe.textstats import zipf_fit

    docs = db_for(spark, SF).table("documents")
    plan = _plan(zipf_fit(docs))
    # rank window consumes the (source, term) AGGREGATE output: the
    # window's child exchange partitions by source only after the
    # map-side-combined term aggregate, never over raw exploded tokens
    assert plan.index("Window") < plan.index("Generate")
    assert "Sort" in plan  # the vocab-frame window sort (per source)


def test_bm25_index_serving_pushes_terms_into_index_scan(spark, tmp_path):
    """The serving path's whole point: a query must prune to its own
    terms' postings at the parquet scan, never rescan the corpus."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index)

    docs = db_for(spark, SF).table("documents")
    path = str(tmp_path / "ix")
    idx_df, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx_df.write.parquet(path)
    idx = spark.read.parquet(path)
    plan = _plan(bm25_rank_indexed(idx, ["hash", "merge"], k=5,
                                   n_docs=n_docs, avgdl=avgdl))
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "term" in pushed and "In(" in pushed
    # raw documents never appear: only the index parquet is scanned
    assert "documents.parquet" not in plan


def test_bm25_index_serving_never_aggregates_full_index(spark, tmp_path):
    """With build-time (n_docs, avgdl) supplied, the serving plan must
    touch ONLY the query's own postings: every scan of the index
    carries the term IN-filter, and no full-index distinct/aggregate
    (the fallback stats re-derivation) appears anywhere in the plan —
    at 100 TB the postings index is corpus-scale, so a per-query
    O(index) stats pass would erase the serving win."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index)

    docs = db_for(spark, SF).table("documents")
    path = str(tmp_path / "ix")
    idx_df, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx_df.write.parquet(path)
    idx = spark.read.parquet(path)
    plan = _plan(bm25_rank_indexed(idx, ["hash", "merge"], k=5,
                                   n_docs=n_docs, avgdl=avgdl))
    # every index scan in the plan is term-pruned: each PushedFilters
    # section must carry the In(term, ...) predicate
    chunks = plan.split("PushedFilters:")[1:]
    assert chunks, "no parquet scan in serving plan"
    for chunk in chunks:
        head = chunk.splitlines()[0]
        assert "In(term" in head, f"unfiltered index scan: {head}"
    # and the corpus scalars are plan literals — no stats aggregate
    # keyed on doc_id alone (the dropDuplicates(doc_id) fallback shape)
    import re
    assert not re.search(r"HashAggregate\(keys=\[doc_id[^,\]]*\],\s*functions=\[\]",
                         plan), "full-index distinct(doc_id) in serving plan"


def test_hybrid_serving_never_aggregates_feature_table(spark, tmp_path):
    """The fully-supplied hybrid serving path (postings index + stats,
    feats + norms) must be a pure lookup plan: every postings scan is
    term-pruned, the feature-table scan is bucket-pruned (the query
    vector is a driver-side literal, so the IN-filter pushes into the
    written table), and NO corpus-wide aggregate over the feature table
    appears — in particular no ``sum(feat * feat)`` norm re-derivation,
    the q123 defect class on the dense leg. Raw text is never
    scanned."""
    import re

    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_indexed)

    docs = db_for(spark, SF).table("documents")
    idx_df, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx_df.write.parquet(str(tmp_path / "ix"))
    feats_df = hashed_features(docs, dim=64)
    feats_df.write.parquet(str(tmp_path / "feats"))
    feats = spark.read.parquet(str(tmp_path / "feats"))
    hashed_norms(feats).write.parquet(str(tmp_path / "norms"))
    plan = _plan(hybrid_serve_indexed(
        spark.read.parquet(str(tmp_path / "ix")),
        ["hash", "merge"], feats, k=5, depth=10, dim=64,
        n_docs=n_docs, avgdl=avgdl,
        norms=spark.read.parquet(str(tmp_path / "norms"))))
    # raw documents never appear: only the prebuilt artifacts are read
    assert "documents.parquet" not in plan
    # every scan is pruned to the query: postings by term, feats by
    # bucket; the norms sidecar scan joins on the bucket-pruned dots
    # side (no static predicate to push — its chunk may be empty)
    chunks = [c.splitlines()[0] for c in plan.split("PushedFilters:")[1:]]
    assert chunks, "no parquet scan in serving plan"
    assert any("In(term" in c for c in chunks), chunks
    assert any("In(bucket" in c for c in chunks), chunks
    for c in chunks:
        ok = ("In(term" in c or "In(bucket" in c
              or "feat" not in c)  # norms/id-only scans push no literal
        assert ok, f"unpruned scan: {c}"
    # no corpus-wide norm aggregate: the only sum(feat*feat) shape
    # allowed is none at all when norms are supplied
    assert not re.search(r"sum\(\(?feat#\d+L?\s*\*\s*feat#\d+L?\)?\)",
                         plan), "per-query norm re-derivation in plan"
    # and no full-index distinct(doc_id) stats fallback either
    assert not re.search(
        r"HashAggregate\(keys=\[doc_id[^,\]]*\],\s*functions=\[\]",
        plan), "full-index distinct(doc_id) in serving plan"

    # ENRICHED layout (norm column written into the feature table, the
    # pre-join posture): the dense leg carries
    # first(norm) through the dots aggregate, so the serving plan has
    # exactly TWO parquet scans (postings + feats) and ZERO norm joins
    (feats_df.join(hashed_norms(feats), "doc_id")
     .write.parquet(str(tmp_path / "enriched")))
    plan2 = _plan(hybrid_serve_indexed(
        spark.read.parquet(str(tmp_path / "ix")),
        ["hash", "merge"], spark.read.parquet(str(tmp_path / "enriched")),
        k=5, depth=10, dim=64, n_docs=n_docs, avgdl=avgdl))
    chunks2 = [c.splitlines()[0]
               for c in plan2.split("PushedFilters:")[1:]]
    # two term-pruned index scans (tf + df sides of the BM25 leg), ONE
    # bucket-pruned feats scan, and nothing else — no norms scan at all
    assert sum("In(bucket" in c for c in chunks2) == 1, chunks2
    assert sum("In(term" in c for c in chunks2) == 2, chunks2
    assert len(chunks2) == 3, chunks2
    assert not re.search(r"sum\(\(?feat#\d+L?\s*\*\s*feat#\d+L?\)?\)",
                         plan2)


def test_hybrid_batch_serving_scans_index_once_per_batch(spark, tmp_path):
    """hybrid_serve_topk_batch's scale claim, plan-verified: serving N
    queries is ONE plan whose artifact scans are pruned to the UNION of
    the queries' terms/buckets — the index is scanned once per BATCH,
    not once per query. On the ENRICHED layout the whole plan has
    exactly THREE parquet scans (tf + df postings sides, one feats
    scan) regardless of |queries|, zero norm joins, and no corpus-wide
    aggregate."""
    import re

    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_topk_batch)

    docs = db_for(spark, SF).table("documents")
    idx_df, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx_df.write.parquet(str(tmp_path / "ix"))
    feats_df = hashed_features(docs, dim=64)
    (feats_df.join(hashed_norms(feats_df), "doc_id")
     .write.parquet(str(tmp_path / "enriched")))

    queries = [(1, ["hash", "merge"]), (2, ["sort", "join"]),
               (3, ["customer", "hash"])]
    plan = _plan(hybrid_serve_topk_batch(
        spark.read.parquet(str(tmp_path / "ix")), queries,
        spark.read.parquet(str(tmp_path / "enriched")),
        k=5, depth=10, dim=64, n_docs=n_docs, avgdl=avgdl))
    assert "documents.parquet" not in plan
    chunks = [c.splitlines()[0] for c in plan.split("PushedFilters:")[1:]]
    # 3 queries, still exactly three scans: 2 term-pruned postings
    # (tf + df) + 1 bucket-pruned feats — not 3 per query
    assert sum("In(term" in c for c in chunks) == 2, chunks
    assert sum("In(bucket" in c for c in chunks) == 1, chunks
    assert len(chunks) == 3, chunks
    # the term filter is the UNION of all queries' terms
    term_chunk = next(c for c in chunks if "In(term" in c)
    for t in ("hash", "merge", "sort", "join", "customer"):
        assert t in term_chunk, (t, term_chunk)
    # no per-query norm re-derivation, no full-index stats fallback
    assert not re.search(r"sum\(\(?feat#\d+L?\s*\*\s*feat#\d+L?\)?\)",
                         plan)
    assert not re.search(
        r"HashAggregate\(keys=\[doc_id[^,\]]*\],\s*functions=\[\]",
        plan), "full-index distinct(doc_id) in batched serving plan"


def test_ivfpq_serving_partition_prunes_written_index(spark, tmp_path):
    """The ANN warehouse layout (q138/q75 family): the (id, ivf_list,
    pq_code) table written ``partitionBy("ivf_list")`` must
    PARTITION-prune at serve time — ivf_pq_topk's probe filter is a
    static IN over the partition column, so the scan reads only the
    nprobe probed lists' files, never the whole index. This is the
    index-once/query-many posture for the ANN stack (FAISS IVFPQ's
    inverted-list layout expressed as hive partitioning)."""
    from tantalus_spark.datapipe.similarity import (
        ivf_assign, ivf_pq_topk, pq_encode, train_ivf_centroids,
        train_pq_codebooks)

    emb = db_for(spark, SF).table("embeddings")
    cents = train_ivf_centroids(emb, n_lists=4, seed=7)
    books = train_pq_codebooks(emb, m=4, k=16, seed=7)
    codes = (ivf_assign(emb, cents).select("vec_id", "ivf_list")
             .join(pq_encode(emb, books), "vec_id"))
    codes.write.partitionBy("ivf_list").parquet(str(tmp_path / "ann"))
    idx = spark.read.parquet(str(tmp_path / "ann"))

    q = [float(x) for x in
         emb.filter("vec_id = 3").first()["embedding"]]
    plan = _plan(ivf_pq_topk(idx, cents, books, q, k=5, nprobe=2))
    # the embeddings table is never read at serve time
    assert "embeddings.parquet" not in plan
    # the probe filter lands in PartitionFilters, and the scan's
    # partition count is the probed subset, not all 4 lists
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ivf_list" in pf, pf
    import re
    m = re.search(r"partitions read:\s*(\d+)", plan)
    if m:  # Spark prints the pruned count in the scan node
        assert int(m.group(1)) <= 2, plan[:2000]


def test_prune_term_index_never_shuffles_the_index(spark, tmp_path):
    """q143's scale claim, plan-verified: dropping tombstoned docs from
    a written postings index is a BROADCAST anti-join — the removed-id
    set broadcasts and the corpus-scale index never exchanges. A
    shuffled anti-join here would repartition the whole index per
    delete batch."""
    from tantalus_spark.datapipe.textstats import (build_term_index,
                                                   prune_term_index)

    docs = db_for(spark, SF).table("documents")
    idx_df, stats = build_term_index(docs, with_stats=True)
    idx_df.write.parquet(str(tmp_path / "ix"))
    idx = spark.read.parquet(str(tmp_path / "ix"))
    removed = docs.filter("doc_id % 7 = 0").select("doc_id")
    pruned, _ = prune_term_index(idx, stats, removed)
    plan = _plan(pruned)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    # at most one hash exchange, and it belongs to the SMALL side (the
    # removed-ids distinct) — the index parquet scan feeds the anti-join
    # directly, never through a repartition
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles <= 1, f"{shuffles} hash exchanges in prune plan"


def test_gopher_rules_tokenizes_at_most_twice(spark):
    """q117's plan contract (the interpreted-HOF rule): the tokenized
    word arrays are materialized once — original-case + lowered — so
    the plan carries at most TWO filter(split(...)) subtrees, not one
    per rule (the pre-r6 shape had ~12 with separate lambda IDs)."""
    from tantalus_spark.datapipe.textstats import gopher_rules

    docs = db_for(spark, SF).table("documents")
    plan = _optimized(gopher_rules(docs))
    n_tokenize = plan.count("filter(split(")
    assert n_tokenize <= 2, (
        f"{n_tokenize} filter(split( subtrees — the tokenize HOF is "
        "being re-evaluated per rule instead of materialized once")


def test_bm25_index_bucketed_table_prunes_term_buckets(spark):
    """The 100 TB serving layout the build_term_index docstring
    promises: the postings index written ``bucketBy(256, "term")`` into
    the warehouse must let a query read ONLY its own terms' buckets —
    the scan node reports SelectedBucketsCount well under 256 (bucket
    pruning on the IN-filter), so serving cost is O(query terms'
    postings), not O(index)."""
    from tantalus_spark.datapipe.textstats import (
        bm25_rank_indexed, build_term_index)

    docs = db_for(spark, SF).table("documents")
    table = "bm25_postings_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    idx_df, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    (idx_df.write.bucketBy(256, "term").sortBy("term")
           .format("parquet").saveAsTable(table))
    try:
        idx = spark.table(table)
        plan = _plan(bm25_rank_indexed(idx, ["hash", "merge"], k=5,
                                       n_docs=n_docs, avgdl=avgdl))
        assert "SelectedBucketsCount" in plan, plan[:2000]
        import re
        counts = [int(m.group(1)) for m in
                  re.finditer(r"SelectedBucketsCount: (\d+) out of 256",
                              plan)]
        assert counts, plan[:2000]
        # 2 query terms -> at most 2 of 256 buckets per scan
        assert all(c <= 2 for c in counts), counts
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_weighted_sample_is_topk_not_global_sort(spark):
    """q125's scale contract: the A-ES key top-k must be
    TakeOrderedAndProject (per-partition heap + driver merge of k rows),
    never a global Sort, and nothing corpus-sized may shuffle."""
    plan = _plan(QUERIES["125_weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_budget_select_has_no_corpus_wide_sort(spark):
    """q126's scale contract (the dsir_select shape): threshold filter +
    bounded tie window only — no corpus-wide global sort and no
    row_number over the full corpus. The only windows in the plan sit
    over the score histogram and the single tie bucket."""
    df = QUERIES["126_budget_select"](spark, SF)
    plan = _plan(df)
    # the clear set is a plain literal filter on score: it must appear
    assert "Filter" in plan
    # no corpus-wide Sort feeding a Window over everything: every Sort
    # in the plan belongs to a windowed frame that sits behind a Filter
    # on the threshold score (the bounded tie bucket) or the tiny
    # histogram — a global rangepartitioning Sort would show up as
    # 'Exchange rangepartitioning' with no preceding threshold filter
    assert plan.count("Exchange rangepartitioning") == 0


def test_tfidf_cosine_prunes_df_and_broadcasts_term_table(spark):
    """q124's scale contract: the [min_df, df_cap] prune happens
    BEFORE the posting self-join (the kept-terms table is filtered and
    broadcast into the weight projection), so the pair stage only ever
    sees capped posting lists."""
    df = QUERIES["124_tfidf_cosine"](spark, SF)
    plan = _plan(df)
    df.unpersist()
    assert "BroadcastHashJoin" in plan     # df table joins broadcast
    # the df-range filter exists in the plan (cap + min_df conjuncts)
    assert "df#" in plan and "Filter" in plan


def test_source_divergence_single_explode_fixed_grid(spark):
    """q132 contract: the corpus explode feeds ONE persisted
    (source, bucket) sketch, and all six downstream references (srcs,
    grid, totals — each on both pair-join sides) read that cache as
    InMemoryTableScans. Without the persist, Catalyst re-derives every
    reference from the raw corpus: six explode+aggregate passes (the
    bug this test caught on the first cut)."""
    from tantalus_spark.datapipe.textstats import source_js_divergence

    out = source_js_divergence(db_for(spark, SF).table("documents"),
                               n_buckets=32)
    plan = _plan(out)
    out.unpersist()
    # result cache at the root + >= 5 sketch reads behind it (the
    # expanded InMemoryRelation text repeats per reference)
    assert plan.count("InMemoryTableScan") >= 6, plan
    assert "BroadcastHashJoin" in plan  # totals + bucket grid sides


def test_jl_project_broadcasts_sign_matrix(spark):
    """q133 contract: the k·d sign matrix joins as a broadcast against
    the exploded components (the corpus side must never be the build
    side), and the projection is one posexplode + one keyed aggregate."""
    from tantalus_spark.datapipe.similarity import jl_project

    emb = db_for(spark, SF).table("embeddings")
    plan = _plan(jl_project(emb, out_dim=8))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Generate") == 1, plan


def test_bucketed_fact_join_is_shuffle_free(spark, tmp_path):
    """Deployment posture (SCALING.md shape #1): fact tables written
    bucketed on the join key co-locate — the orders⋈lineitem join over
    the bucketed warehouse tables must contain NO shuffle Exchange
    (bucket layout satisfies the join's distribution requirement).
    This is the layout the engine assumes for repeated fact-fact joins
    at 100 TB; unbucketed parquet pays two corpus shuffles per join."""
    db = db_for(spark, SF)
    lt, ot = "li_bucketed_test", "ord_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {lt}")
    spark.sql(f"DROP TABLE IF EXISTS {ot}")
    (db.table("lineitem").select("l_orderkey", "l_quantity")
       .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .format("parquet").saveAsTable(lt))
    (db.table("orders").select("o_orderkey", "o_totalprice")
       .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .format("parquet").saveAsTable(ot))
    try:
        li, orders = spark.table(lt), spark.table(ot)
        # merge-hint: at sf0.001 the planner would broadcast instead
        # (and skip bucketed reads entirely); at fact-fact scale SMJ is
        # what runs, and the bucket layout must feed it shuffle-free
        j = li.hint("merge").join(orders,
                                  li.l_orderkey == orders.o_orderkey)
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {ot}")


def test_segmented_store_serve_pushes_terms_into_every_segment(
        spark, tmp_path):
    """The L86 serve-path claim, plan-verified: a multi-segment
    manifest serves as a lazy UNION of per-segment parquet scans, and
    the query's term IN-filter pushes into EVERY segment scan — the
    segmented layout costs no pushdown. The tombstone mask is a
    broadcast join (no exchange of the index)."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        index_refresh_batches, load_term_index)

    docs = db_for(spark, SF).table("documents").select("doc_id", "text")
    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op")
    cb(docs.filter("doc_id < 150").withColumn("op", F.lit("add")), 0)
    b1 = (docs.filter("doc_id >= 150 and doc_id < 300")
              .withColumn("op", F.lit("add"))
              .unionByName(spark.createDataFrame(
                  [(3, None, "delete")],
                  "doc_id long, text string, op string")))
    cb(b1, 1)
    cb(docs.filter("doc_id >= 300 and doc_id < 450")
           .withColumn("op", F.lit("add")), 2)

    postings, (n, avgdl) = load_term_index(spark, ix)
    served = bm25_rank_indexed(postings, ["customer", "hash"], k=10,
                               n_docs=n, avgdl=avgdl)
    plan = _plan(served)
    chunks = [c.splitlines()[0] for c in plan.split("PushedFilters:")[1:]]
    # three segments, two scan legs each (tf + df sides of the BM25
    # scorer read the same union): every postings chunk term-pruned
    postings_chunks = [c for c in chunks if "In(term" in c]
    assert len(postings_chunks) == 6, (len(postings_chunks), chunks)
    # the tombstone mask broadcasts; the index side never exchanges
    # before the anti-join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    rows = served.collect()
    assert 0 < len(rows) <= 10


def test_maintained_ann_store_serve_partition_prunes(spark, tmp_path):
    """The r9 perf gap closed: segments written by the STREAMING ANN
    maintainer are hive-partitioned by ivf_list, so a maintained-store
    serve (load_ann_index -> ivf_pq_topk_batch) partition-prunes every
    segment scan to the probed lists' files — matching
    test_ivfpq_serving_partition_prunes_written_index's batch
    warehouse layout. Covers both segment kinds: the compacted fold
    and a later delta."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.similarity import ivf_pq_topk_batch
    from tantalus_spark.streaming.maintenance import (
        ann_refresh_batches, load_ann_index)

    emb = db_for(spark, SF).table("embeddings")
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

    ix = str(tmp_path / "ann")
    cb = ann_refresh_batches(ix, cents, books, max_segments=2,
                             keep_versions=2)
    cb(iv.filter("vec_id < 60"), 0)
    cb(iv.filter("vec_id >= 60 and vec_id < 120"), 1)
    # crosses max_segments=2 -> compacted (partitioned) segment
    cb(iv.filter("vec_id >= 120 and vec_id < 160"), 2)
    # one more delta so the manifest is [compacted, delta]
    cb(iv.filter("vec_id >= 160 and vec_id < 180"), 3)

    idx = load_ann_index(spark, ix)
    queries = [(1, by_id[3]), (2, by_id[9])]
    served = ivf_pq_topk_batch(idx, cents, books, queries, k=5,
                               nprobe=2)
    plan = _plan(served)
    # two segment scans, EACH partition-pruned on ivf_list
    chunks = plan.split("PartitionFilters:")[1:]
    pruned = [c.splitlines()[0] for c in chunks
              if "ivf_list" in c.splitlines()[0]]
    assert len(pruned) == 2, (len(pruned), plan[:3000])
    # and the pruned partition count is the probed union, never all 8
    import re
    counts = [int(m) for m in re.findall(r"partitions read:\s*(\d+)",
                                         plan)]
    if counts:
        assert all(n <= 4 for n in counts), counts
    rows = served.collect()
    assert 0 < len(rows) <= 10


def test_batch_servers_df_queries_keep_pruned_scans(spark, tmp_path):
    """The DataFrame-query input (offline-eval shape) must keep the
    list path's plan contract: hybrid serving still has exactly THREE
    pruned artifact scans (tf + df postings, bucket-pruned feats) and
    the IVFPQ code scan still partition-prunes to the probed union —
    queries never materialize on the driver, only the batch
    vocabulary / probed-list ints do."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.similarity import (
        ivf_assign, ivf_pq_topk_batch, pq_encode)
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hashed_features, hashed_norms,
        hybrid_serve_topk_batch)

    docs = db_for(spark, SF).table("documents")
    idx_df, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    idx_df.write.parquet(str(tmp_path / "ix"))
    feats_df = hashed_features(docs, dim=64)
    (feats_df.join(hashed_norms(feats_df), "doc_id")
     .write.parquet(str(tmp_path / "enriched")))

    qdf = spark.createDataFrame(
        [(1, ["hash", "merge"]), (2, ["sort", "join"]),
         (3, ["customer", "hash"])],
        "query_id long, terms array<string>")
    plan = _plan(hybrid_serve_topk_batch(
        spark.read.parquet(str(tmp_path / "ix")), qdf,
        spark.read.parquet(str(tmp_path / "enriched")),
        k=5, depth=10, dim=64, n_docs=n_docs, avgdl=avgdl))
    assert "documents.parquet" not in plan
    chunks = [c.splitlines()[0]
              for c in plan.split("PushedFilters:")[1:]]
    assert sum("In(term" in c for c in chunks) == 2, chunks
    assert sum("In(bucket" in c for c in chunks) == 1, chunks
    assert len(chunks) == 3, chunks

    # --- IVFPQ twin on the partitioned warehouse layout
    emb = db_for(spark, SF).table("embeddings")
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
    codes.write.partitionBy("ivf_list").parquet(str(tmp_path / "ann"))
    qvec = spark.createDataFrame(
        [(1, by_id[3]), (2, by_id[9])],
        "query_id long, embedding array<double>")
    plan2 = _plan(ivf_pq_topk_batch(
        spark.read.parquet(str(tmp_path / "ann")), cents, books, qvec,
        k=5, nprobe=2))
    assert "embeddings.parquet" not in plan2
    assert "PartitionFilters:" in plan2
    pf = plan2.split("PartitionFilters:")[1].splitlines()[0]
    assert "ivf_list" in pf, pf
    import re
    m = re.search(r"partitions read:\s*(\d+)", plan2)
    if m:
        assert int(m.group(1)) <= 4, plan2[:2000]


def test_maintained_feats_store_serve_partition_prunes(spark, tmp_path):
    """The dense twin of the maintained-ANN pruning test: feats
    segments written by the streaming maintainer are hive-partitioned
    by bucket, so a hybrid serve off load_feats_index reads only the
    query buckets' files in every segment scan."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import (
        build_term_index, hybrid_serve_topk_batch)
    from tantalus_spark.streaming.maintenance import (
        feats_refresh_batches, load_feats_index)

    docs = db_for(spark, SF).table("documents").select("doc_id", "text")
    ix = str(tmp_path / "feats")
    cb = feats_refresh_batches(ix, dim=64, max_segments=2)
    # sf0.001 documents has ~600 rows; keep every batch non-empty
    cb(docs.filter("doc_id < 150"), 0)
    cb(docs.filter("doc_id >= 150 and doc_id < 300"), 1)
    cb(docs.filter("doc_id >= 300 and doc_id < 450"), 2)  # compaction
    cb(docs.filter("doc_id >= 450 and doc_id < 480"), 3)  # delta

    feats = load_feats_index(spark, ix)
    assert "norm" in feats.columns  # ENRICHED layout round-trips
    idx, (n_docs, avgdl) = build_term_index(docs, with_stats=True)
    served = hybrid_serve_topk_batch(
        idx, [(1, ["customer", "hash"]), (2, ["merge"])], feats,
        k=5, depth=10, dim=64, n_docs=n_docs, avgdl=avgdl)
    plan = _plan(served)
    chunks = plan.split("PartitionFilters:")[1:]
    pruned = [c.splitlines()[0] for c in chunks
              if "bucket" in c.splitlines()[0]]
    # two feats segment scans (compacted + delta), both bucket-pruned
    assert len(pruned) == 2, (len(pruned), plan[:3000])
    rows = served.collect()
    assert 0 < len(rows) <= 10


def test_snapshot_serve_scans_one_artifact_no_mask_join(spark, tmp_path):
    """The promotion payoff, plan-verified: a serve off a PROMOTED
    snapshot (export_term_snapshot -> load_term_snapshot) reads ONE
    folded artifact — exactly one postings scan per BM25 leg (tf + df
    = two pushdown-pruned chunks, vs two PER SEGMENT on the live
    store) and NO tombstone anti-join anywhere in the plan: the
    export applied the mask physically, so the serving fleet never
    pays it."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import bm25_rank_indexed
    from tantalus_spark.streaming.maintenance import (
        export_term_snapshot, index_refresh_batches,
        load_term_snapshot)

    docs = db_for(spark, SF).table("documents").select("doc_id", "text")
    ix = str(tmp_path / "ix")
    cb = index_refresh_batches(ix, op_col="op")
    cb(docs.filter("doc_id < 150").withColumn("op", F.lit("add")), 0)
    cb(docs.filter("doc_id >= 150 and doc_id < 300")
           .withColumn("op", F.lit("add"))
           .unionByName(spark.createDataFrame(
               [(3, None, "delete")],
               "doc_id long, text string, op string")), 1)
    cb(docs.filter("doc_id >= 300 and doc_id < 450")
           .withColumn("op", F.lit("add")), 2)

    snap = str(tmp_path / "snap")
    export_term_snapshot(spark, ix, snap, partitions=4)
    postings, (n, avgdl) = load_term_snapshot(spark, snap)
    served = bm25_rank_indexed(postings, ["customer", "hash"], k=10,
                               n_docs=n, avgdl=avgdl)
    plan = _plan(served)
    chunks = [c.splitlines()[0] for c in plan.split("PushedFilters:")[1:]]
    postings_chunks = [c for c in chunks if "In(term" in c]
    assert len(postings_chunks) == 2, (len(postings_chunks), chunks)
    assert "LeftAnti" not in plan  # mask applied at export, not serve
    rows = served.collect()
    assert 0 < len(rows) <= 10


def test_rowwise_snapshot_serves_scan_one_artifact_no_mask_join(
        spark, tmp_path):
    """The r11 promotion payoff for the rowwise families,
    plan-verified: serves off PROMOTED ANN / feats snapshots read ONE
    folded hive-partitioned artifact — exactly one ivf_list-pruned
    scan (vs one per segment on the live store) for the IVFPQ serve,
    exactly one bucket-pruned scan for the hybrid dense leg — and NO
    tombstone anti-join anywhere: the export applied the mask
    physically."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.similarity import ivf_pq_topk_batch
    from tantalus_spark.datapipe.textstats import (
        build_term_index, hybrid_serve_topk_batch)
    from tantalus_spark.streaming.maintenance import (
        ann_refresh_batches, export_ann_snapshot,
        export_feats_snapshot, export_term_snapshot,
        feats_refresh_batches, index_refresh_batches,
        load_ann_snapshot, load_feats_snapshot, load_term_snapshot)

    # --- ANN: maintained store (with a delete -> live serve would
    # carry a mask join), promoted, served
    emb = db_for(spark, SF).table("embeddings")
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
    ann_ix = str(tmp_path / "ann")
    cb = ann_refresh_batches(ann_ix, cents, books, op_col="op",
                             max_segments=8)
    cb(iv.filter("vec_id < 120").withColumn("op", F.lit("add")), 0)
    cb(iv.filter("vec_id >= 120 and vec_id < 160")
         .withColumn("op", F.lit("add"))
         .unionByName(spark.createDataFrame(
             [(7, None, "delete")],
             "vec_id long, embedding array<double>, op string")), 1)
    ann_snap = str(tmp_path / "ann_snap")
    export_ann_snapshot(spark, ann_ix, ann_snap)
    served = ivf_pq_topk_batch(load_ann_snapshot(spark, ann_snap),
                               cents, books,
                               [(1, by_id[3]), (2, by_id[9])],
                               k=5, nprobe=2)
    plan = _plan(served)
    assert "LeftAnti" not in plan
    chunks = plan.split("PartitionFilters:")[1:]
    pruned = [c.splitlines()[0] for c in chunks
              if "ivf_list" in c.splitlines()[0]]
    assert len(pruned) == 1, (len(pruned), plan[:3000])
    assert 0 < len(served.collect()) <= 10

    # --- feats + term: both stores promoted, hybrid served off the
    # two snapshots — three pruned artifact scans, zero mask joins
    docs = db_for(spark, SF).table("documents").select("doc_id", "text")
    ft_ix, tm_ix = str(tmp_path / "feats"), str(tmp_path / "ix")
    cb_ft = feats_refresh_batches(ft_ix, dim=64, op_col="op",
                                  max_segments=8)
    cb_tm = index_refresh_batches(tm_ix, op_col="op", max_segments=8)
    dels = spark.createDataFrame([(3, None, "delete")],
                                 "doc_id long, text string, op string")
    for cb2 in (cb_ft, cb_tm):
        cb2(docs.filter("doc_id < 200")
                .withColumn("op", F.lit("add")), 0)
        cb2(docs.filter("doc_id >= 200 and doc_id < 400")
                .withColumn("op", F.lit("add")).unionByName(dels), 1)
    ft_snap, tm_snap = str(tmp_path / "ft_snap"), str(tmp_path / "tm_snap")
    export_feats_snapshot(spark, ft_ix, ft_snap)
    export_term_snapshot(spark, tm_ix, tm_snap, partitions=4)
    postings, (n, avgdl) = load_term_snapshot(spark, tm_snap)
    hybrid = hybrid_serve_topk_batch(
        postings, [(1, ["customer", "hash"]), (2, ["merge"])],
        load_feats_snapshot(spark, ft_snap),
        k=5, depth=10, dim=64, n_docs=n, avgdl=avgdl)
    plan2 = _plan(hybrid)
    assert "LeftAnti" not in plan2
    tchunks = [c.splitlines()[0]
               for c in plan2.split("PushedFilters:")[1:]]
    assert sum("In(term" in c for c in tchunks) == 2, tchunks
    bchunks = plan2.split("PartitionFilters:")[1:]
    bpruned = [c.splitlines()[0] for c in bchunks
               if "bucket" in c.splitlines()[0]]
    assert len(bpruned) == 1, (len(bpruned), plan2[:3000])
    assert 0 < len(hybrid.collect()) <= 10


def test_band_snapshot_postings_serve_has_no_index_side_shuffle(
        spark, tmp_path):
    """r11: novelty served off the band snapshot's pre-exploded
    DISTINCT postings leaf keeps the index side shuffle-free — exactly
    ONE Generate (the probe batch's posexplode; the index side is a
    plain scan) and no index-side dedup aggregate feeding the semi
    join, vs the live-store serve whose plan re-explodes and re-dedups
    the whole band table per query."""
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.dedup import novel_documents
    from tantalus_spark.streaming.maintenance import (
        band_refresh_batches, export_band_snapshot, load_band_index,
        load_band_snapshot)

    docs = db_for(spark, SF).table("documents").select("doc_id", "text")
    ix = str(tmp_path / "bands")
    cb = band_refresh_batches(ix)
    cb(docs.filter("doc_id % 2 = 0"), 0)
    snap = str(tmp_path / "snap")
    export_band_snapshot(spark, ix, snap)
    probe = docs.filter("doc_id % 4 = 3")

    served = novel_documents(
        probe, load_band_snapshot(spark, snap, layout="postings"))
    plan = _plan(served)
    assert plan.count("Generate") == 1, plan[:2500]  # probe side only
    live_bands_plan = _plan(novel_documents(probe,
                                            load_band_index(spark, ix)))
    # bands-layout live serve pays both explodes (probe + index)
    assert live_bands_plan.count("Generate") == 2
    # r12: the LIVE store now maintains the postings leaf incrementally
    # (O(batch) per commit), so a live postings-layout serve is as
    # shuffle-free on the index side as the snapshot serve — exactly
    # ONE Generate, no index-side dedup aggregate, between promotions
    live_served = novel_documents(
        probe, load_band_index(spark, ix, layout="postings"),
        index_layout="postings")
    live_plan = _plan(live_served)
    assert live_plan.count("Generate") == 1, live_plan[:2500]
    # r13: the EXPORT folds the stored postings leaf too (masked
    # union, like compaction) instead of re-exploding the bands table
    # — zero Generate in the export-side postings plan; the only
    # export-time shuffle left is the cross-segment DISTINCT
    from tantalus_spark.streaming.maintenance import (
        _current_version, _read_manifest, _snapshot_postings_view)
    export_view = _snapshot_postings_view(
        spark, ix, _read_manifest(ix, _current_version(ix)))
    export_plan = _plan(export_view)
    assert "Generate" not in export_plan, export_plan[:2500]
    rows = served.collect()
    assert rows and all(r["is_novel"] is not None for r in rows)
    assert sorted(map(tuple, live_served.collect())) == sorted(
        map(tuple, rows))
