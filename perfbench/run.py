"""Crawl/analytics benchmark of the engine, run from the repository root:

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Workloads: crawl_bulk and analytics are the registered set in
BENCHMARK.json; crawl_polite, the politeness-bound crawl, runs the same way
but is left out of that set because a run of it takes as long as the other
two together. The seed picks the crawl's seed URLs or the analytics query
order; the inputs themselves are generated once into
``.bench_build/perfbench``. Each run times a fixed amount of work sized to
last about ``--seconds`` on 4 cores. The run
pins its environment (cores, driver memory, Spark local dirs, PYTHONPATH),
prints every metric with its unit and sample count, and ends with one JSON
line: ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics read from
Spark's event log. It exits 1 when an output check fails, 2 when the
engine's sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_bulk", "crawl_polite", "analytics")
ANALYTICS_SF = {"full": 0.01, "toy": 0.001}
DRIVER_MEMORY = "2g"


@dataclass
class Context:
    root: str
    work: str
    trace: bool
    spark: object = None
    rss: object = None
    codegen: object = None
    spans: object = None

    def inputs_ready(self) -> None:
        """Inputs are built: memory from here on is the workload's."""
        self.rss.restart()

    def codegen_read(self) -> tuple[float, int]:
        return self.codegen.read() if self.codegen is not None else (0.0, 0)

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def jvm_options(tmp: str) -> str:
    """The session's own JVM flags plus a heap fixed at its maximum and
    touched at start: the JVM's resident size then does not depend on when
    G1 decides to grow the heap, which made peak RSS wander by a third
    between runs of the same work. Temporary files stay in the checkout."""
    return (
        "-XX:+UseG1GC -XX:MaxGCPauseMillis=400 "
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )


def pin_env(work: str) -> dict:
    """Environment the session and its Python workers start with."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from probes import process_tree

    procs = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def event_layers(log, res: dict, workload: str) -> dict:
    """Per-layer numbers read from the event log for the timed operations."""
    from probes import PHASES, median

    stats = [log.window(a, b) for a, b in res["op_windows"]]
    n = max(1, len(stats))

    def tot(k):
        return sum(s[k] for s in stats)

    (ms0, c0), (ms1, c1) = res["codegen"]
    out = {
        "exec.task_busy_s": tot("busy") / n,
        "exec.gc_s": tot("gc") / n,
        "exec.shuffle_write_mb": tot("shuffle_write") / 1e6 / n,
        "exec.shuffle_read_mb": tot("shuffle_read") / 1e6 / n,
        "exec.spill_mb": tot("spill") / 1e6 / n,
        "exec.output_mb": tot("output") / 1e6 / n,
        "exec.codegen_ms": (ms1 - ms0) / n,
        "exec.codegen_classes": (c1 - c0) / n,
    }
    if workload == "analytics":
        for q, wins in res["query_windows"].items():
            out[f"q.{q}.shuffle_mb"] = median([log.window(a, b)["shuffle_write"] / 1e6 for a, b in wins])
        return out
    wall = sum(b - a for a, b in res["op_windows"])
    named = 0.0
    for phase, _ in PHASES:
        busy = sum(s["busy_by_phase"].get(phase, 0.0) for s in stats)
        out[f"frontier.{phase}_s"] = busy / n
        named += busy
    out.update(
        {
            "frontier.jobs_per_batch": tot("jobs") / n,
            "frontier.stages_per_batch": tot("stages") / n,
            "frontier.tasks_per_batch": tot("tasks") / n,
            "frontier.driver_serial_s": median([s["serial"] for s in stats]),
            "frontier.driver_serial_frac": tot("serial") / max(wall, 1e-9),
            "frontier.phase_busy_frac": named / max(tot("busy"), 1e-9),
            "frontier.python_bytes_per_page": tot("python_bytes_fetch")
            / max(1, res["layers"].pop("fetched_pages", 0)),
        }
    )
    return out


def report(workload: str, env: dict, spark_version: str, e2e: dict, samples: dict, fail: tuple) -> None:
    from probes import high_percentile, median

    print(f"perfbench {workload}: spark {spark_version}, " + " ".join(f"{k}={v}" for k, v in env.items()))
    for name, (value, unit) in e2e.items():
        xs = samples.get(name, [])
        hp = high_percentile(xs)
        hp_s = f"{hp[0]}={hp[1]:.4g}" if hp else "p90=n/a(<100 samples)"
        print(f"  {name:<14} {unit:<4} value={value:.6g} median={median(xs):.6g} {hp_s} n={len(xs)}")
    print(f"  fail_frac      -    {fail[0]}/{fail[1]} = {fail[0] / max(1, fail[1]):.4g}")


def report_overhead(untraced_path: str, e2e: dict) -> None:
    """Tracing overhead: this traced run's end-to-end numbers against the
    untraced run of the same workload and seed, when one was made."""
    if not os.path.isfile(untraced_path):
        print("  tracing overhead: no untraced run of this seed to compare with")
        return
    with open(untraced_path) as f:
        base = json.load(f)["metrics"]
    for name, (value, unit) in e2e.items():
        b = base[name]["value"]
        print(f"  tracing overhead {name:<12} traced={value:.6g} untraced={b:.6g} {unit} ({value / b - 1:+.1%})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "openalex_collaboration_crawler_spark")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    env = pin_env(work)
    sys.path.insert(0, ROOT)

    import probes
    import worlds
    from metrics import END_TO_END, PER_LAYER

    from openalex_collaboration_crawler_spark.session import get_spark

    ctx = Context(root=ROOT, work=work, trace=bool(args.trace), spans=probes.Spans())
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_options(env["TMPDIR"]),
    }
    log_dir = os.path.join(work, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
    if ctx.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    with probes.PeakRss() as rss:
        ctx.rss = rss
        t0 = time.time()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        start_s = time.time() - t0
        ctx.spark = spark
        spark_version = spark.version
        t0 = time.time()
        spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
        warmup_s = time.time() - t0
        ctx.log(f"session start {start_s:.2f} s, warm-up {warmup_s:.2f} s")
        if ctx.trace:
            ctx.codegen = probes.Codegen(spark)
        try:
            if args.workload == "analytics":
                import analytics

                res = analytics.run(ctx, ANALYTICS_SF[args.size], args.seed, args.seconds)
            else:
                import crawl

                table = worlds.TOY_CRAWL_WORLDS if args.size == "toy" else worlds.CRAWL_WORLDS
                res = crawl.run(ctx, table[args.workload], args.seed, args.seconds)
        finally:
            stop_spark(spark)
        peak_mb = rss.peak / 1e6

    ops = res["op_times"]
    e2e = {
        "items_per_s": (sum(res["op_items"]) / max(res["wall"], 1e-9), END_TO_END["items_per_s"][0]),
        "op_p50_s": (probes.median(ops), "s"),
        "setup_s": (start_s + warmup_s + probes.median(res["setup_reps"]), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    samples = {
        "items_per_s": [i / t for i, t in zip(res["op_items"], ops)],
        "op_p50_s": ops,
        "setup_s": res["setup_reps"],
        "peak_rss_mb": [b / 1e6 for b in rss.samples],
    }
    failed_checks = [c for c in res["checks"] if not c[1]]
    for name, _, detail in failed_checks:
        print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    attempted = res["ops_attempted"] + len(res["checks"])
    failed = res["op_failures"] + len(failed_checks)
    report(args.workload, env, spark_version, e2e, samples, (failed, attempted))

    if ctx.trace:
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(res["layers"])
        layers.update(event_layers(probes.EventLog(probes.find_event_log(log_dir)), res, args.workload))
        layers.update(
            {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "traced.items_per_s": e2e["items_per_s"][0],
                "traced.op_p50_s": e2e["op_p50_s"][0],
            }
        )
        metrics = {k: {"value": float(layers[k]), "unit": PER_LAYER[k]["unit"]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}

    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spark_version": spark_version,
                "env": env,
                "metrics": metrics,
                "checks": res["checks"],
                "samples": samples,
            },
            f,
            indent=1,
        )
    if ctx.trace:
        ctx.spans.dump(stem + "-spans.json")
        report_overhead(stem.replace("-trace1", "-trace0") + ".json", e2e)
    result = {"correct": not failed, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
