"""The two crawl workloads: set up, warm up, time ``run_batch`` calls,
check every batch against the sequential reference crawler."""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from probes import Span, median
from worlds import CRAWL_WORLDS, CrawlWorld, crawl_pages

SETUP_REPS = 3
METRIC_KEYS = ("fetched", "parsed_ok", "text_match", "discovered", "new_urls", "deduped")


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n)) for r, _, names in os.walk(path) for n in names
    )


def _timed_reps(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def run(ctx, world: CrawlWorld, seed: int, seconds: float) -> dict:
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.sources.pages import (
        build_politeness,
        build_robots,
        page_url,
    )
    from openalex_collaboration_crawler_spark.streaming.frontier import CrawlEngine

    spark, spans = ctx.spark, ctx.spans
    pages = crawl_pages(spark, ctx.work, world)
    politeness = build_politeness(
        spark, default_per_batch=world.default_per_host, hot_per_batch=world.hot_per_batch
    )
    robots = build_robots(spark) if world.robots else None
    ids = random.Random(seed).sample(range(world.n_pages), world.n_seeds)
    seeds = spark.createDataFrame(
        [(i, world.n_seeds - k) for k, i in enumerate(ids)], "i long, priority int"
    ).select(page_url(F.col("i")).alias("url"), "priority")
    seed_rows = [(r["url"], r["priority"]) for r in seeds.collect()]
    state = os.path.join(ctx.work, "state", world.name)
    ctx.inputs_ready()

    # set-up, several times: every rep pays the page-table prepare (its
    # output is deleted first) and init_from_seeds on a fresh state dir
    setup, eng = [], None
    for _ in range(SETUP_REPS):
        for p in glob.glob(pages.rstrip("/") + "_prepared-*"):
            shutil.rmtree(p)
        if eng is not None:
            eng.close()
        eng = CrawlEngine(
            spark=spark,
            state_dir=state,
            pages_path=pages,
            politeness=politeness,
            robots=robots,
            batch_cap=world.batch_cap,
            default_per_host=world.default_per_host,
            bloom_min_seen=world.bloom_min_seen,
        )
        # _pages() is the engine's lazy one-time prepare; calling it here
        # moves that cost from the first batch into set-up, where it belongs
        setup.append(
            spans.timed("frontier.prepare", eng._pages)
            + spans.timed("frontier.init", eng.init_from_seeds, seeds)
        )

    ctx.log(f"set-up: {[round(s, 2) for s in setup]} s")

    batches: list[dict] = []
    op_failures = 0
    t0 = time.time()
    for _ in range(world.warmup_batches):
        batches.append(eng.run_batch(defer_state=True))
    ctx.log(f"warm-up batches: {time.time() - t0:.2f} s")
    cg0 = ctx.codegen_read()
    n_timed = min(world.max_timed, max(2, round(seconds / world.batch_s)))
    for _ in range(n_timed):
        pending_before = batches[-1].get("pending_rows") or 0
        t0 = time.time()
        try:
            m = eng.run_batch(defer_state=True)
        except Exception as e:  # noqa: BLE001 - a failed batch is counted, not fatal
            op_failures += 1
            ctx.log(f"run_batch failed: {e!r}")
            break
        t1 = time.time()
        if not m.get("fetched"):
            break  # drained: the world is too small for the window
        spans.spans.append(Span("frontier.run_batch", t0, t1, attrs=dict(m, pending_before=pending_before)))
        batches.append(m)
    close_s = spans.timed("frontier.close", eng.close)
    cg1 = ctx.codegen_read()
    ctx.log(f"timed batches: {[round(s, 2) for s in spans.durations('frontier.run_batch')]} s")

    timed = [s for s in spans.spans if s.name == "frontier.run_batch"]
    wall = sum(s.dur for s in timed) + close_s
    t0 = time.time()
    checks, seen = _check(ctx.root, eng, world, pages, politeness, robots, seed_rows, batches)
    ctx.log(f"output checks: {time.time() - t0:.2f} s")
    out = {
        "op_times": [s.dur for s in timed],
        "op_windows": [(s.start, s.end) for s in timed],
        "op_items": [s.attrs["fetched"] + s.attrs["deduped"] for s in timed],
        "wall": wall,
        "setup_reps": setup,
        "checks": checks,
        "ops_attempted": len(timed) + op_failures,
        "op_failures": op_failures + (0 if timed else 1),
        "codegen": (cg0, cg1),
        "layers": {},
    }
    if ctx.trace:
        out["layers"] = _layers(ctx, world, pages, politeness, robots, batches, timed, state, seen)
    return out


def _oracle_crawler(root: str):
    """``tests/oracle/crawler_oracle.OracleCrawler``, loaded by path so an
    unrelated installed ``tests`` package cannot shadow it."""
    path = os.path.join(root, "tests", "oracle", "crawler_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_crawler_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up there
    spec.loader.exec_module(mod)
    return mod.OracleCrawler


def _check(root, eng, world, pages, politeness, robots, seed_rows, batches):
    """Engine vs the sequential reference crawler on the same world and
    seeds, for every batch this run executed. Returns the checks and the
    engine's seen set."""
    OracleCrawler = _oracle_crawler(root)
    checks = []
    text_match, parsed_ok, fetched = (
        sum(b[k] for b in batches) for k in ("text_match", "parsed_ok", "fetched")
    )
    checks.append(
        ("text_match_equals_parsed_ok", text_match == parsed_ok, f"{text_match} vs {parsed_ok}")
    )

    rows = pq.read_table(pages, columns=["url", "warc_ts", "html", "text", "lang"]).to_pylist()
    oracle = OracleCrawler.from_rows(
        rows,
        [r.asDict() for r in politeness.collect()],
        [r.asDict() for r in robots.collect()] if robots is not None else None,
        default_per_host=world.default_per_host,
        batch_cap=world.batch_cap,
    )
    oracle.seed(seed_rows)
    for b in range(1, len(batches) + 1):
        oracle.run_batch(b)
    want = [{k: m[k] for k in METRIC_KEYS} for m in oracle.metrics]
    got = [{k: m[k] for k in METRIC_KEYS} for m in batches]
    checks.append(("batch_metrics_match_oracle", got == want, f"{got[:2]} vs {want[:2]}"))
    total = sum(m["fetched"] + m["deduped"] for m in got)
    want_total = sum(m["fetched"] + m["deduped"] for m in want)
    checks.append(("fetched_plus_deduped_match_oracle", total == want_total, f"{total} vs {want_total}"))
    order = eng.crawl_order()
    checks.append(("crawl_order_matches_oracle", order == oracle.order, f"{len(order)} vs {len(oracle.order)}"))
    # every fetched URL the world has parses; the rest (relative and
    # mailto: links) are fetched as misses
    misses = sum(1 for _, _, url in order if url not in oracle.pages)
    checks.append(
        (
            "parsed_ok_plus_misses_equals_fetched",
            parsed_ok + misses == fetched,
            f"{parsed_ok} + {misses} vs {fetched}",
        )
    )
    seen = eng.seen_hashes()
    checks.append(("seen_set_matches_oracle", seen == oracle.seen, f"{len(seen)} vs {len(oracle.seen)}"))
    return checks, seen


def _layers(ctx, world, pages, politeness, robots, batches, timed, state, seen) -> dict:
    """Per-layer numbers measured in-process (the event-log ones are added
    by the runner once the session has stopped)."""
    import pandas as pd

    from openalex_collaboration_crawler_spark.sources.pages import (
        build_politeness,
        build_zipf_frontier,
    )
    from openalex_collaboration_crawler_spark.streaming.frontier import decode_and_parse
    from openalex_collaboration_crawler_spark.streaming.politeness import select_batch
    from openalex_collaboration_crawler_spark.streaming.seen import (
        bloom_build_blob,
        bloom_probe_blob,
    )

    spark = ctx.spark
    disc = sum(s.attrs["discovered"] for s in timed)
    dedup = sum(s.attrs["deduped"] for s in timed)
    n = max(1, len(timed))
    urls_all = sum(b["fetched"] + b["deduped"] for b in batches)

    # the Python boundary alone: decode_and_parse on a sample of prepared pages
    prepared = glob.glob(pages.rstrip("/") + "_prepared-*")[0]
    sample = pq.read_table(prepared, columns=["canonical_url", "html", "text_md5", "lang", "url_hash"])
    sample = sample.slice(0, min(2000, sample.num_rows)).to_pandas()
    pdf = pd.DataFrame(
        {
            "seq": range(len(sample)),
            "url": sample["canonical_url"],
            "url_hash": sample["url_hash"],
            "host": "h",
            "depth": 1,
            "lang": sample["lang"],
            "html": sample["html"],
            "text_md5": sample["text_md5"],
        }
    )
    decode_s = _timed_reps(lambda: list(decode_and_parse(iter([pdf]))))

    hashes = np.fromiter(seen, dtype=np.int64)
    build_s = _timed_reps(lambda: bloom_build_blob(hashes))
    blob = bloom_build_blob(hashes)
    probe_s = _timed_reps(lambda: bloom_probe_blob(blob, hashes))

    # batch selection at this crawl's largest batch: with its own caps (on
    # crawl_bulk they cannot bind, so the capping window is skipped), and
    # with crawl_polite's binding caps, so the window is always measured
    est = int(max(s.attrs["pending_before"] for s in timed) if timed else world.n_seeds)
    cand = build_zipf_frontier(spark, n_rows=est, n_hosts=20)
    polite = CRAWL_WORLDS["crawl_polite"]
    binding = build_politeness(
        spark, default_per_batch=polite.default_per_host, hot_per_batch=polite.hot_per_batch
    )

    def select(caps, default_per_host, min_cap):
        def write():
            select_batch(
                cand,
                caps,
                robots,
                batch_cap=world.batch_cap,
                default_per_host=default_per_host,
                est_rows=est,
                skip_caps=min_cap >= est,
            ).write.format("noop").mode("overwrite").save()

        write()  # first call compiles
        return _timed_reps(write)

    select_s = select(politeness, world.default_per_host, min(world.default_per_host, world.hot_per_batch))
    capped_select_s = select(binding, polite.default_per_host, 0)

    return {
        "frontier.prepare_s": median(ctx.spans.durations("frontier.prepare")),
        "frontier.init_s": median(ctx.spans.durations("frontier.init")),
        "frontier.decode_us_per_page": decode_s / max(1, len(pdf)) * 1e6,
        "frontier.state_bytes_per_url": _du(state) / max(1, urls_all),
        "seen.discovered": disc / n,
        "seen.new_urls": sum(s.attrs["new_urls"] for s in timed) / n,
        "seen.dedup_ratio": dedup / max(1, disc),
        "seen.bloom_build_us_per_hash": build_s / max(1, len(hashes)) * 1e6,
        "seen.bloom_probe_us_per_hash": probe_s / max(1, len(hashes)) * 1e6,
        "politeness.select_s": select_s,
        "politeness.capped_select_s": capped_select_s,
        "fetched_pages": sum(s.attrs["fetched"] for s in timed),
    }
