"""Metric names, units and directions the benchmark reports, mirrored in
BENCHMARK.json. ``END_TO_END`` is printed by untraced runs and
``LAYERS`` by traced runs; a layer a workload does not exercise reads 0."""

#: end-to-end metric → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
}

ALL = "every workload"
DASH = "dashboard_serving"
STORE = "store_maintenance"

#: per-layer metric → (unit, better, end-to-end metric it should move, on
#: which workload; ``failed`` is the run's failed-operation count, None
#: that no listed end-to-end metric covers the layer). The pipeline layers
#: run in dashboard_serving's build (its setup_s) and in every
#: elt_full_load operation; the corpus layers run in the build of a traced
#: store_maintenance run only, and in every corpus_curation operation.
LAYERS = {
    "session.get_spark_s": ("s", "lower", "setup_s", ALL),
    "setup.first_pass_s": ("s", "lower", "setup_s", ALL),
    "setup.build_s": ("s", "lower", "setup_s", ALL),
    "setup.warm_up_s": ("s", "lower", "setup_s", ALL),
    "peak_rss_mb": ("MB", "lower", "setup_s", ALL),
    "failed_op_ratio": ("ratio", "lower", "failed", ALL),
    "trace.overhead_ratio": ("ratio", "lower", "op_p50_ms", ALL),
    "trace.accounted_ratio": ("ratio", "higher", "op_p50_ms", ALL),
    "spark.jobs": ("1/op", "lower", "op_p50_ms", ALL),
    "spark.tasks": ("1/op", "lower", "op_p50_ms", ALL),
    "spark.executor_cpu_s": ("s/op", "lower", "op_p50_ms", ALL),
    "spark.driver_gap_s": ("s/op", "lower", "op_p50_ms", ALL),
    "spark.gc_s": ("s/op", "lower", "op_p50_ms", ALL),
    "spark.shuffle_write_mb": ("MB/op", "lower", "op_p50_ms", ALL),
    "spark.spill_mb": ("MB/op", "lower", "op_p50_ms", ALL),
    "elt.rows_per_s": ("1/s", "higher", "setup_s", DASH),
    "messy_csv.read_s": ("s", "lower", "setup_s", DASH),
    "messy_csv.unparsed_rows": ("count", "lower", "setup_s", DASH),
    "pipeline.stage_dedup_s": ("s", "lower", "setup_s", DASH),
    "pipeline.dedup_rows_removed": ("count", "higher", "setup_s", DASH),
    "pipeline.dims_s": ("s", "lower", "setup_s", DASH),
    "pipeline.fact_s": ("s", "lower", "setup_s", DASH),
    "pipeline.fact_shuffle_write_mb": ("MB", "lower", "setup_s", DASH),
    "pipeline.views_s": ("s", "lower", "setup_s", DASH),
    "pipeline.write_star_s": ("s", "lower", "setup_s", DASH),
    "pipeline.write_star_files": ("count", "lower", "setup_s", DASH),
    "pipeline.write_star_mb": ("MB", "lower", "setup_s", DASH),
    "dash.p50_ms": ("ms", "lower", "op_p50_ms", DASH),
    "dash.p90_ms": ("ms", "lower", "op_p50_ms", DASH),
    "dash.slice_p50_ms": ("ms", "lower", "op_p50_ms", DASH),
    "dash.view_p50_ms": ("ms", "lower", "op_p50_ms", DASH),
    "dash.sql_p50_ms": ("ms", "lower", "op_p50_ms", DASH),
    "dash.jobs_per_op": ("1/op", "lower", "op_p50_ms", DASH),
    "dash.driver_gap_ms_per_op": ("ms/op", "lower", "op_p50_ms", DASH),
    "dash.cache_served_ratio": ("ratio", "higher", "op_p50_ms", DASH),
    "corpus.docs_per_s": ("1/s", "higher", None, STORE),
    "corpus.near_dup_recall": ("ratio", "higher", None, STORE),
    "corpus.ann_recall_at_10": ("ratio", "higher", None, STORE),
    "corpus.ann_queries_per_s": ("1/s", "higher", None, STORE),
    "corpus.text_stats_s": ("s", "lower", None, STORE),
    "corpus.quality_gate_s": ("s", "lower", None, STORE),
    "corpus.exact_dedup_s": ("s", "lower", None, STORE),
    "corpus.near_dedup_s": ("s", "lower", None, STORE),
    "dedup.lsh_candidate_pairs": ("count", "lower", None, STORE),
    "dedup.lsh_pair_precision": ("ratio", "higher", None, STORE),
    "similarity.knn_ivf_s": ("s", "lower", None, STORE),
    "store.append_p50_s": ("s", "lower", "op_p50_ms", STORE),
    "store.erase_p50_s": ("s", "lower", "op_p50_ms", STORE),
    "store.read_p50_ms": ("ms", "lower", "op_p50_ms", STORE),
    "append.idempotent_append_s": ("s", "lower", "op_p50_ms", STORE),
    "scd2.apply_customer_delta_s": ("s", "lower", "op_p50_ms", STORE),
    "manifest.collect_file_stats_s": ("s", "lower", "op_p50_ms", STORE),
    "bloom.collect_batch_blooms_s": ("s", "lower", "op_p50_ms", STORE),
    "snapshots.commit_snapshot_s": ("s", "lower", "op_p50_ms", STORE),
    "retention.erase_rows_s": ("s", "lower", "op_p50_ms", STORE),
    "retention.batches_rewritten": ("count", "lower", "op_p50_ms", STORE),
    "retention.rewrite_precision": ("ratio", "higher", "op_p50_ms", STORE),
    "retention.rewritten_mb": ("MB", "lower", "op_p50_ms", STORE),
    "manifest.read_pruned_s": ("s", "lower", "op_p50_ms", STORE),
    "manifest.files_read_ratio": ("ratio", "lower", "op_p50_ms", STORE),
}
