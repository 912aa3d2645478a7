"""Names and units of every metric the benchmark prints.

``END_TO_END`` is what an untraced run (``--trace 0``) reports for every
workload; ``PER_LAYER`` is what a traced run (``--trace 1``) reports.
``WORKLOAD_EXTRAS`` are the workload-specific end-to-end figures printed as
labelled lines before the result object (they are not in the result
object because every metric there must exist on every workload).
``BENCHMARK.json`` at the repository root lists the same names."""

END_TO_END = {
    "setup_s": "s",
    "round_s_p50": "s",
    "urls_per_s": "1/s",
    "peak_rss_mb": "MB",
}

WORKLOAD_EXTRAS = {
    "crawl": {
        "wave_s_p50": "s",
        "pages_per_s": "pages/s",
        "failed_frac": "ratio",
    },
    "frontier": {
        "schedule_s_p50": "s",
        "candidates_per_s": "URLs/s",
        "dequeue_s_p50": "s",
        "failed_frac": "ratio",
    },
}

PER_LAYER = {
    "crawler.wave_s": "s",
    "crawler.self_s": "s",
    "crawler.serial_s": "s",
    "crawler.jobs": "count",
    "crawler.tasks": "count",
    "crawler.failed_tasks": "count",
    "frontier.commit_s": "s",
    "frontier.commit_jobs": "count",
    "frontier.commit_serial_s": "s",
    "frontier.candidates": "count",
    "frontier.new_rows": "count",
    "frontier.new_ratio": "ratio",
    "frontier.dequeue_s": "s",
    "frontier.dequeue_rows": "count",
    "bloom.active": "bool",
    "bloom.flush_s": "s",
    "bloom.fill_max": "ratio",
    "bloom.fpp_max": "ratio",
    "robots.gate_s": "s",
    "robots.blocked_rows": "count",
    "fetch.fetch_s": "s",
    "fetch.rows": "count",
    "fetch.miss_rows": "count",
    "fetch.body_mb": "MB",
    "parse.parse_s": "s",
    "parse.us_per_doc": "us",
    "parse.docs": "count",
    "parse.spans": "count",
    "parse.discover_s": "s",
    "parse.links": "count",
    "catalog.write_s": "s",
    "catalog.commits": "count",
    "catalog.mb_written": "MB",
    "catalog.files_written": "count",
}
