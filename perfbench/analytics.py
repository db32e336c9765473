"""The analytics workload: registry queries written to the noop sink, each
checked once against its DuckDB oracle outside the timed passes."""

from __future__ import annotations

import os
import pickle
import random
import re
import sys
import time

from probes import Span, median
from worlds import analytics_tables

# bench.py's headline queries that fit the time budget, plus the targets of
# the duplicated-subplan and pair-generation work (topk_pivot, ngram_jaccard).
# Left out for run time: weighted_edges (degree_stats runs it as a subplan),
# minhash_candidates, simhash, simhash_neardup and community_stability
# (together ~6 s of a warm pass at this scale).
QUERIES = (
    "pairwise_edges",
    "degree_stats",
    "topk_parts_per_year",
    "sessionize",
    "text_stats",
    "dedup_exact",
    "ann_topk",
    "tpch_pricing_summary",
    "topk_pivot",
    "ngram_jaccard",
)
SETUP_REPS = 3
PASS_S = 8.0  # one warm pass over QUERIES on 4 cores, slow end
_SCAN = re.compile(r"\bFileScan parquet\b|\bScan parquet\b")


def _oracle(con, cache: str, name: str, sql: str):
    """DuckDB result for one query. The tables do not depend on the seed,
    so the result is cached next to them (a file this benchmark wrote)."""
    path = os.path.join(cache, f"{name}.pkl")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    with open(path, "wb") as f:
        pickle.dump(df, f)
    return df


def run(ctx, sf: float, seed: int, seconds: float) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from openalex_collaboration_crawler_spark.sources.tables import TABLES

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from check_correctness import compare

    spark, spans = ctx.spark, ctx.spans
    tables = analytics_tables(ctx.work, sf)
    cache = os.path.join(tables, "oracle")
    os.makedirs(cache, exist_ok=True)
    ctx.inputs_ready()

    # set-up: resolve every source table (file listing + parquet footers)
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.time()
        for t in TABLES:
            spark.read.parquet(os.path.join(tables, f"{t}.parquet")).schema
        spans.spans.append(Span("analytics.setup", t0, time.time()))
        setup.append(spans.spans[-1].dur)

    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    queries, oracle_sql = entry.queries(), entry.oracle_sql()

    # the check pass doubles as the cold pass: every plan and codegen unit
    # is built once before the timed passes
    t_check = time.time()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    checks = []
    for name in order:
        try:
            got = queries[name](spark, tables).toPandas()
            errs = compare(name, got, _oracle(con, cache, name, oracle_sql[name]))
        except Exception as e:  # noqa: BLE001 - a failing query is a failed check
            errs = [repr(e)]
        checks.append((f"{name}_matches_oracle", not errs, "; ".join(errs)[:300]))
    con.close()
    ctx.log(f"set-up: {[round(s, 2) for s in setup]} s, checked cold pass: {time.time() - t_check:.2f} s")

    # a fixed number of whole passes, sized so they last about ``seconds``:
    # a time-based window lets a fast run reach a further, warmer pass
    cg0 = ctx.codegen_read()
    plans: dict[str, str] = {}
    failures = attempted = 0
    for _ in range(max(1, round(seconds / PASS_S))):
        for name in order:
            attempted += 1
            t0 = time.time()
            try:
                df = queries[name](spark, tables)
                plan = df._jdf.queryExecution().executedPlan()
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - counted, the pass goes on
                failures += 1
                ctx.log(f"{name} failed: {e!r}")
                continue
            t2 = time.time()
            plans.setdefault(name, plan.toString())
            spans.spans.append(Span(f"q.{name}.plan", t0, t1, parent="analytics.query"))
            spans.spans.append(Span(f"q.{name}.exec", t1, t2, parent="analytics.query"))
            spans.spans.append(Span("analytics.query", t0, t2, attrs={"query": name}))
    cg1 = ctx.codegen_read()
    ctx.log(f"timed queries: {sum(spans.durations('analytics.query')):.2f} s")

    timed = [s for s in spans.spans if s.name == "analytics.query"]
    layers = {}
    if ctx.trace:
        for name in QUERIES:
            layers[f"q.{name}.plan_s"] = median(spans.durations(f"q.{name}.plan"))
            layers[f"q.{name}.exec_s"] = median(spans.durations(f"q.{name}.exec"))
            layers[f"q.{name}.scans"] = len(_SCAN.findall(plans.get(name, "")))
    return {
        "op_times": [s.dur for s in timed],
        "op_windows": [(s.start, s.end) for s in timed],
        "op_items": [1] * len(timed),
        "wall": sum(s.dur for s in timed),
        "setup_reps": setup,
        "checks": checks,
        "ops_attempted": attempted,
        "op_failures": failures,
        "codegen": (cg0, cg1),
        "layers": layers,
        "query_windows": {
            name: spans.windows(f"q.{name}.exec") for name in QUERIES
        },
    }
