"""Metric names, units and directions — the single list ``run.py``
prints and ``BENCHMARK.json`` declares (a test keeps the two equal)."""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
]

_SPARK = [
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.python_udf_s", "s", "lower"),
    ("spark.python_start_s", "s", "lower"),
    ("spark.python_bytes", "bytes", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
]

_CRAWL = [
    ("crawl.pages_per_s", "1/s", "higher"),
    ("crawl.wave_p50_s", "s", "lower"),
    ("crawl.wave_tail_s", "s", "lower"),
    ("crawl.wave_tail_pct", "%", "higher"),
    ("crawl.wave_n", "count", "higher"),
    ("durable.pages_per_s", "1/s", "higher"),
    ("durable.wave_p50_s", "s", "lower"),
    ("durable.resume_s", "s", "lower"),
    ("durable.disk_bytes_per_page", "bytes", "lower"),
    ("wave_loop.fetch_agg_s", "s", "lower"),
    ("wave_loop.refill_s", "s", "lower"),
    ("wave_loop.discover_s", "s", "lower"),
    ("wave_loop.checkpoint_s", "s", "lower"),
    ("wave_loop.ckpt_flush_s", "s", "lower"),
    ("wave_loop.ckpt_write_s", "s", "lower"),
    ("wave_loop.driver_gap_s", "s", "lower"),
    ("wave_loop.jobs_per_wave", "count", "lower"),
    ("wave_loop.waves", "count", "lower"),
    ("rate_control.pages_per_wave", "count", "higher"),
    ("fetch.run_fetch_s", "s", "lower"),
    ("fetch.boundary_s", "s", "lower"),
    ("stub_transport.kernel_s", "s", "lower"),
    ("assemble.results_s", "s", "lower"),
    ("multimodal.enrich_images_s", "s", "lower"),
    ("iceberg_lite.append_s", "s", "lower"),
    ("iceberg_lite.read_s", "s", "lower"),
    ("iceberg_lite.commits", "count", "lower"),
    ("iceberg_lite.bytes", "bytes", "lower"),
    ("ckpt.frontier_bytes", "bytes", "lower"),
    ("ckpt.seen_bytes", "bytes", "lower"),
]

_FRONTIER = [
    ("frontier.rows_per_s", "1/s", "higher"),
    ("politeness.admit_s", "s", "lower"),
    ("politeness.top_slice_s", "s", "lower"),
    ("urlnorm.build_s", "s", "lower"),
    ("frontier.remove_admitted_s", "s", "lower"),
    ("frontier.seeds_to_frontier_s", "s", "lower"),
    ("seen.insert_s", "s", "lower"),
    ("seen.probe_s", "s", "lower"),
    ("seen.cuckoo_insert_s", "s", "lower"),
    ("seen.cuckoo_probe_s", "s", "lower"),
    ("seen.kernel_s", "s", "lower"),
    ("seen.fp_rate", "ratio", "lower"),
    ("seen.blob_bytes", "bytes", "lower"),
]

QUERY_LEAVES = [
    "analysis_topk",
    "regex_overview",
    "barrier_pivot",
    "retry_priority_admission",
    "anti_join_seen",
    "sliding_failrate",
    "seen_cardinality",
    "dedup_exact",
    "quality_score",
    "doc_fingerprint",
    "neardup_jaccard",
    "embedding_topk",
]

_QUERY = [("query.suite_s", "s", "lower"), ("query.leaf_p50_s", "s", "lower"),
          ("query.cold_pass_s", "s", "lower")] + [
    (f"query.{leaf}_s", "s", "lower") for leaf in QUERY_LEAVES
]

PER_LAYER = (
    [("trace_overhead_frac", "ratio", "lower"), ("ops_failed_frac", "ratio", "lower"),
     ("peak_rss_mb", "MB", "lower")]
    + _SPARK + _CRAWL + _FRONTIER + _QUERY
)
