"""Metric names and units; ``BENCHMARK.json`` lists the same names.

Every workload reports every metric. A per-layer metric of a layer that a
workload does not use reads 0.
"""

END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
    "write_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "catalog.load_ms": "ms",
    "api.overhead_ms": "ms",
    "api.serialize_ms": "ms",
    "compiler.compile_ms": "ms",
    "compiler.joins_per_request": "count",
    "pagination.count_ms": "ms",
    "pagination.page_ms": "ms",
    "pagination.rows_matched_per_row_returned": "ratio",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.jobs_per_pass": "count",
    "search.free_text_ms": "ms",
    "search.datatables_ms": "ms",
    "serializers.expand_ms": "ms",
    "serializers.csv_ms": "ms",
    "stats.dashboard_ms": "ms",
    "stats.library_ms": "ms",
    "mutations.post_ms": "ms",
    "mutations.put_ms": "ms",
    "mutations.delete_ms": "ms",
    "history.append_ms": "ms",
    "history.as_of_ms": "ms",
    "history.curation_changes_ms": "ms",
    "pipeline.clean_corpus_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.candidates_per_pair": "ratio",
    "textstats.index_build_s": "s",
    "textstats.bm25_serve_ms": "ms",
    "maintenance.commit_ms": "ms",
    "maintenance.fold_ms": "ms",
    "maintenance.load_ms": "ms",
    "maintenance.bytes_written_per_input_byte": "ratio",
    "maintenance.segments_live": "count",
    "trace.named_layer_share_pct": "%",
    "trace.unattributed_pct": "%",
    "trace.overhead_pct": "%",
}
