"""Metric registry: every end-to-end and per-layer metric the benchmark
reports, its unit, and (for layer metrics) which end-to-end metric it
should move on which workload. ``BENCHMARK.json`` lists the same names and
units; ``smoke.py`` checks that the two agree and that runs report them.
"""

from __future__ import annotations

from analytics import QUERIES

ALL = ("crawl_bulk", "crawl_polite", "analytics")
CRAWLS = ("crawl_bulk", "crawl_polite")

# name -> (unit, better)
END_TO_END = {
    # URLs fetched + deduped per second of run_batch wall on the crawls;
    # queries completed per second of pass wall on analytics
    "items_per_s": ("1/s", "higher"),
    # median wall of one operation: a run_batch call, or one query
    # (plan + noop write)
    "op_p50_s": ("s", "lower"),
    # session start + warm-up + the median of three workload set-ups
    "setup_s": ("s", "lower"),
    # peak RSS of the driver, JVM and Python-worker process tree
    "peak_rss_mb": ("MB", "lower"),
}


def _layer(unit, better, moves, on):
    return {"unit": unit, "better": better, "moves": moves, "on": on}


# name -> unit, better, the end-to-end metric it should move, on which
# workloads. Layers a workload does not load report 0 there.
PER_LAYER = {
    "session.start_s": _layer("s", "lower", "setup_s", ALL),
    "session.warmup_s": _layer("s", "lower", "setup_s", ALL),
    "frontier.prepare_s": _layer("s", "lower", "setup_s", CRAWLS),
    "frontier.init_s": _layer("s", "lower", "setup_s", CRAWLS),
    # per run_batch call, from the event log; move op_p50_s/items_per_s
    # mostly on crawl_polite, where they are nearly all of each batch
    "frontier.jobs_per_batch": _layer("count", "lower", "op_p50_s", ("crawl_polite",)),
    "frontier.stages_per_batch": _layer("count", "lower", "op_p50_s", ("crawl_polite",)),
    "frontier.tasks_per_batch": _layer("count", "lower", "op_p50_s", ("crawl_polite",)),
    "frontier.driver_serial_s": _layer("s", "lower", "op_p50_s", ("crawl_polite",)),
    "frontier.driver_serial_frac": _layer("ratio", "lower", "op_p50_s", ("crawl_polite",)),
    # task-busy seconds per batch in SQL executions writing results/,
    # pending*/, seen/ and bloom/
    "frontier.fetch_parse_s": _layer("s", "lower", "items_per_s", ("crawl_bulk",)),
    "frontier.dedup_enqueue_s": _layer("s", "lower", "items_per_s", ("crawl_bulk",)),
    "frontier.seen_write_s": _layer("s", "lower", "items_per_s", ("crawl_bulk",)),
    "frontier.bloom_write_s": _layer("s", "lower", "items_per_s", ("crawl_bulk",)),
    "frontier.phase_busy_frac": _layer("ratio", "higher", "items_per_s", CRAWLS),
    "frontier.decode_us_per_page": _layer("us", "lower", "items_per_s", ("crawl_bulk",)),
    "frontier.python_bytes_per_page": _layer("B", "lower", "items_per_s", ("crawl_bulk",)),
    "frontier.state_bytes_per_url": _layer("B", "lower", "items_per_s", CRAWLS),
    "seen.discovered": _layer("count", "higher", "items_per_s", ("crawl_bulk",)),
    "seen.new_urls": _layer("count", "higher", "items_per_s", ("crawl_bulk",)),
    "seen.dedup_ratio": _layer("ratio", "higher", "items_per_s", ("crawl_bulk",)),
    "seen.bloom_build_us_per_hash": _layer("us", "lower", "items_per_s", ("crawl_bulk",)),
    "seen.bloom_probe_us_per_hash": _layer("us", "lower", "items_per_s", ("crawl_bulk",)),
    # select_batch + a noop write at the crawl's largest batch: with the
    # crawl's own caps, and with crawl_polite's binding caps
    "politeness.select_s": _layer("s", "lower", "op_p50_s", ("crawl_polite",)),
    "politeness.capped_select_s": _layer("s", "lower", "op_p50_s", ("crawl_polite",)),
    # Spark execution per operation (one batch or one query), all workloads
    "exec.task_busy_s": _layer("s", "lower", "op_p50_s", ALL),
    "exec.gc_s": _layer("s", "lower", "op_p50_s", ALL),
    "exec.shuffle_write_mb": _layer("MB", "lower", "op_p50_s", ALL),
    "exec.shuffle_read_mb": _layer("MB", "lower", "op_p50_s", ALL),
    "exec.spill_mb": _layer("MB", "lower", "op_p50_s", ALL),
    "exec.output_mb": _layer("MB", "lower", "op_p50_s", CRAWLS),
    "exec.codegen_ms": _layer("ms", "lower", "op_p50_s", ALL),
    "exec.codegen_classes": _layer("count", "lower", "op_p50_s", ALL),
    # the traced run's own end-to-end numbers; against an untraced run of
    # the same seed they give the tracing overhead
    "traced.items_per_s": _layer("1/s", "higher", "items_per_s", ALL),
    "traced.op_p50_s": _layer("s", "lower", "op_p50_s", ALL),
}

for _q in QUERIES:
    PER_LAYER[f"q.{_q}.plan_s"] = _layer("s", "lower", "op_p50_s", ("analytics",))
    PER_LAYER[f"q.{_q}.exec_s"] = _layer("s", "lower", "op_p50_s", ("analytics",))
    # leaf parquet scans in the executed plan (duplicated subplans). A
    # query that localCheckpoints (ngram_jaccard) scans inside its callable:
    # that scan lands in plan_s and its plan reads from the checkpoint (0)
    PER_LAYER[f"q.{_q}.scans"] = _layer("count", "lower", "op_p50_s", ("analytics",))
    PER_LAYER[f"q.{_q}.shuffle_mb"] = _layer("MB", "lower", "op_p50_s", ("analytics",))
