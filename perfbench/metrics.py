"""Metric tables: the names, units and directions ``BENCHMARK.json`` lists,
and the workload-specific report names."""

from curate import LEGS

# (name, unit, better) — identical for every workload; see README.md for
# what each means per workload
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput", "1/s", "higher"),
    ("op_wall_s", "s", "lower"),
    ("cold_pass_s", "s", "lower"),
    ("bytes_per_item", "B", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
PER_LAYER = [
    ("frontier.schedule_s", "s", "lower"),
    ("frontier.parse_s", "s", "lower"),
    ("frontier.writes_s", "s", "lower"),
    ("frontier.between_s", "s", "lower"),
    ("frontier.run_overhead_s", "s", "lower"),
    ("frontier.docs_per_parse_task", "docs/task", "higher"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.python_tasks_per_op", "count", "lower"),
    ("spark.shuffle_mb_per_op", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("sys.cpu_util", "ratio", "higher"),
    ("bloom.build_s", "s", "lower"),
    ("bloom.probe_s", "s", "lower"),
    ("bloom.filter_pass_ratio", "ratio", "higher"),
    ("robots.gate_s", "s", "lower"),
    ("canon.urls_per_s", "1/s", "higher"),
    ("frontier.global_sequence_s", "s", "lower"),
    ("frontier.schedule_generation_s", "s", "lower"),
    ("store.write_s.frontier", "s", "lower"),
    ("store.write_s.seen", "s", "lower"),
    ("store.write_s.fetch_log", "s", "lower"),
    ("store.read_s", "s", "lower"),
    ("store.commit_s", "s", "lower"),
    ("store.bytes_per_gen", "B", "lower"),
    ("extract.slim_s", "s", "lower"),
    ("extract.crawl_docs_per_s", "1/s", "higher"),
    ("extract.parse_errors", "count", "lower"),
    ("kernel.docs_per_s", "1/s", "higher"),
] + [(f"analytics.{leg}_s", "s", "lower") for leg in LEGS] + [
    ("trace.measured_s", "s", "lower"),
]

# the workload's own metrics, printed on the ``report`` line
REPORT = {
    "crawl_bulk": [("crawl_rate", "1/s"), ("gen_wall_s", "s"),
                   ("gen_wall_max_s", "s"), ("gen_wall_count", "count"),
                   ("resume_s", "s"), ("state_bytes_per_url", "B"),
                   ("setup_s", "s"), ("peak_rss_mb", "MB"),
                   ("failed_frac", "ratio"), ("measured_s", "s")],
    "batch_curate": [("extract_rate", "docs/s"), ("curate_s", "s"),
                     ("extract_passes", "count"), ("setup_s", "s"),
                     ("peak_rss_mb", "MB"), ("failed_frac", "ratio"),
                     ("measured_s", "s")],
}
