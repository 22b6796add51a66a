"""The benchmark's metric catalogue.

``END_TO_END`` is what a user of the engine sees, measured with tracing
off. ``PER_LAYER`` is what the traced run reports; each entry names the
end-to-end metric the layer metric should move, and on which workload
("-" where it explains a run rather than predicting a change).
BENCHMARK.json lists the same names.
"""

from __future__ import annotations

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "first_wave_s": "s",
    "wave_p50_s": "s",
    "peak_rss_mb": "MB",
    "store_mb": "MB",
}

STORE_TABLES = ("wavestage", "frontier", "visited", "bloom", "fetchlog", "results")

# (name, unit, better, moves end-to-end metric, on workload)
PER_LAYER = [
    # plans.crawl
    ("crawl.run_setup_s", "s", "lower", "first_wave_s", "wave_bench"),
    ("crawl.wave_self_s", "s", "lower", "wave_p50_s", "crawl_small"),
    ("crawl.loop_wait_s", "s", "lower", "urls_per_s", "crawl_small"),
    # storage
    *(
        (f"storage.write_s.{t}", "s", "lower", "urls_per_s", "wave_bench")
        if t == "wavestage"
        else (f"storage.write_s.{t}", "s", "lower", "wave_p50_s", "crawl_small")
        for t in STORE_TABLES
    ),
    *((f"storage.mb.{t}", "MB", "lower", "store_mb", "both") for t in STORE_TABLES),
    ("storage.read_visited_s", "s", "lower", "first_wave_s", "wave_bench"),
    ("storage.clean_uncommitted_s", "s", "lower", "first_wave_s", "wave_bench"),
    ("storage.compact_s", "s", "lower", "wave_p50_s", "crawl_small"),
    ("storage.commit_s", "s", "lower", "wave_p50_s", "crawl_small"),
    # operators.seen (nothing on crawl_small, where Bloom stays off)
    ("seen.edges", "count", "higher", "-", "-"),
    ("seen.cached_ratio", "ratio", "higher", "-", "-"),
    ("seen.bloom_probes", "count", "lower", "urls_per_s", "wave_bench"),
    ("seen.bloom_maybe_ratio", "ratio", "lower", "urls_per_s", "wave_bench"),
    ("seen.bloom_fp_ratio", "ratio", "lower", "urls_per_s", "wave_bench"),
    ("seen.replay_s", "s", "lower", "urls_per_s", "wave_bench"),
    # operators.politeness and operators.filters
    ("politeness.units", "count", "higher", "-", "-"),
    ("politeness.deferred_ratio", "ratio", "lower", "-", "-"),
    ("politeness.robots_denied_ratio", "ratio", "lower", "-", "-"),
    ("politeness.top_host_share", "ratio", "lower", "urls_per_s", "wave_bench"),
    ("politeness.replay_s", "s", "lower", "urls_per_s", "wave_bench"),
    # functions.urls
    ("urls.normalized_rows", "count", "higher", "-", "-"),
    ("urls.malformed", "count", "lower", "-", "-"),
    ("urls.normalize_replay_s", "s", "lower", "urls_per_s", "wave_bench"),
    # functions.spans
    ("spans.parsed_pages", "count", "higher", "-", "-"),
    ("spans.new_links", "count", "higher", "-", "-"),
    ("spans.parse_replay_s", "s", "lower", "urls_per_s", "wave_bench"),
    # operators.redirects
    ("redirects.collapse_replay_s", "s", "lower", "first_wave_s", "wave_bench"),
    # fetch outcomes
    ("fetch.attempts", "count", "higher", "urls_per_s", "both"),
    ("fetch.ok_ratio", "ratio", "higher", "-", "-"),
    # Spark runtime, from the traced run's event log, over the whole run
    ("spark.jobs", "count", "lower", "wave_p50_s", "crawl_small"),
    ("spark.stages", "count", "lower", "wave_p50_s", "crawl_small"),
    ("spark.tasks", "count", "lower", "wave_p50_s", "crawl_small"),
    ("spark.executor_busy_s", "s", "lower", "urls_per_s", "wave_bench"),
    ("spark.shuffle_mb", "MB", "lower", "urls_per_s", "wave_bench"),
    ("spark.driver_gap_s", "s", "lower", "wave_p50_s", "crawl_small"),
    # ... and per span kind: run set-up, waves, and between waves
    ("spark.jobs.run_setup", "count", "lower", "first_wave_s", "wave_bench"),
    ("spark.executor_busy_s.run_setup", "s", "lower", "first_wave_s", "wave_bench"),
    ("spark.driver_gap_s.run_setup", "s", "lower", "first_wave_s", "both"),
    ("spark.jobs.wave", "count", "lower", "wave_p50_s", "crawl_small"),
    ("spark.executor_busy_s.wave", "s", "lower", "urls_per_s", "wave_bench"),
    ("spark.driver_gap_s.wave", "s", "lower", "wave_p50_s", "crawl_small"),
    ("spark.jobs.between", "count", "lower", "wave_p50_s", "crawl_small"),
    ("spark.executor_busy_s.between", "s", "lower", "wave_p50_s", "crawl_small"),
    ("spark.driver_gap_s.between", "s", "lower", "wave_p50_s", "crawl_small"),
    # the tracer itself
    ("trace.overhead_ratio", "ratio", "lower", "-", "-"),
    ("trace.bookkeeping_s", "s", "lower", "-", "-"),
]
