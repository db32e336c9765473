"""Crawl-parity tests (north rule / FIXTURES.md F7).

Same seed list + politeness budget: the Spark CrawlEngine must
reproduce the sequential Python oracle's crawl ORDER, final SEEN
set, per-batch metrics, and byte-identical extracted text per url.
Also: kill-after-batch-k resume ≡ uninterrupted run.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

from openalex_collaboration_crawler_spark.sources.pages import (
    build_pages,
    build_politeness,
    build_robots,
    build_seeds,
)
from openalex_collaboration_crawler_spark.streaming.frontier import CrawlEngine
from tests.oracle.crawler_oracle import OracleCrawler

N_PAGES = 300


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl")
    pages_path = str(root / "pages")
    build_pages(spark, n_pages=N_PAGES).write.mode("overwrite").parquet(pages_path)
    politeness = build_politeness(spark, default_per_batch=6, hot_per_batch=3)
    robots = build_robots(spark)
    seeds = build_seeds(spark, n_pages=N_PAGES, n_seeds=5)
    return {
        "root": root,
        "pages_path": pages_path,
        "politeness": politeness,
        "robots": robots,
        "seeds": seeds,
    }


def _mk_engine(spark, world, name: str, **kw) -> CrawlEngine:
    return CrawlEngine(
        spark=spark,
        state_dir=str(world["root"] / name),
        pages_path=world["pages_path"],
        politeness=world["politeness"],
        robots=world["robots"],
        default_per_host=6,
        bloom_parts=4,
        **kw,
    )


def _mk_oracle(spark, world) -> OracleCrawler:
    page_rows = [r.asDict() for r in spark.read.parquet(world["pages_path"]).collect()]
    politeness_rows = [r.asDict() for r in world["politeness"].collect()]
    robots_rows = [r.asDict() for r in world["robots"].collect()]
    orc = OracleCrawler.from_rows(
        page_rows, politeness_rows, robots_rows, default_per_host=6
    )
    orc.seed([(r["url"], r["priority"]) for r in world["seeds"].collect()])
    return orc


@pytest.fixture(scope="module")
def oracle_run(spark, world):
    orc = _mk_oracle(spark, world)
    orc.run(max_batches=50)
    return orc


@pytest.fixture(scope="module")
def engine_run(spark, world):
    eng = _mk_engine(spark, world, "engine_full")
    eng.init_from_seeds(world["seeds"])
    metrics = eng.run(max_batches=50)
    return eng, metrics


def test_crawl_order_parity(engine_run, oracle_run):
    eng, _ = engine_run
    assert eng.crawl_order() == oracle_run.order


def test_seen_set_parity(engine_run, oracle_run):
    eng, _ = engine_run
    assert eng.seen_hashes() == oracle_run.seen


def test_metrics_parity(engine_run, oracle_run):
    _, metrics = engine_run
    got = [
        {k: m[k] for k in ("fetched", "parsed_ok", "text_match", "discovered", "new_urls", "deduped")}
        for m in metrics
        if m.get("fetched", 0) > 0
    ]
    want = [
        {k: m[k] for k in ("fetched", "parsed_ok", "text_match", "discovered", "new_urls", "deduped")}
        for m in oracle_run.metrics
    ]
    assert got == want


def test_text_byte_identity(engine_run, spark, world):
    """input_hint invariant: extracted text byte-identical per url.

    Two layers: (a) the engine's own per-row text_match metric (an
    md5 comparison against the prepared table's text_md5 — the hot
    path never ships the golden body); (b) a TRUE byte-identity check
    done here with a JVM-side join against the golden text itself, so
    a bug in the md5 plumbing (wrong column, wrong encoding, trivially
    true flag) cannot hide behind layer (a)."""
    from pyspark.sql import functions as F

    eng, metrics = engine_run
    res = eng.results()
    n = res.count()
    n_match = res.where("text_match").count()
    n_found = res.where("parse_ok").count()
    assert n_found == n_match  # every parsed page matched its golden md5
    assert n > 0

    # layer (b): independent golden join — raw pages table, canonical
    # dedup re-derived here, text compared as BYTES, not hashes
    from openalex_collaboration_crawler_spark.functions.url import canonicalize_url
    from pyspark.sql.window import Window

    raw = spark.read.parquet(world["pages_path"]).select(
        canonicalize_url("url").alias("curl"), "warc_ts", "html", F.col("text").alias("golden")
    )
    w = Window.partitionBy("curl").orderBy("warc_ts", "html")
    golden = (
        raw.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
        .select("curl", "golden")
    )
    joined = res.where("parse_ok").join(golden, res.url == F.col("curl"), "left")
    n_joined = joined.count()
    n_byte_equal = joined.where(
        F.col("golden").isNotNull()
        & (F.col("text").cast("binary") == F.col("golden").cast("binary"))
    ).count()
    assert n_joined == n_found
    assert n_byte_equal == n_found  # TRUE byte identity for every parsed row


def test_resume_equals_uninterrupted(spark, world, engine_run, oracle_run):
    """Kill after 2 batches; a fresh engine object resumes from the
    commit log and finishes identically (idempotent MERGE semantics)."""
    eng1 = _mk_engine(spark, world, "engine_resume")
    eng1.init_from_seeds(world["seeds"])
    for _ in range(2):
        eng1.run_batch()
    # simulate crash: drop the object, start over from disk
    eng2 = _mk_engine(spark, world, "engine_resume")
    assert eng2.last_version() == 2
    eng2.run(max_batches=50)
    assert eng2.crawl_order() == oracle_run.order
    assert eng2.seen_hashes() == oracle_run.seen


def test_bloom_off_same_result(spark, world, oracle_run):
    """The Bloom prefilter is a pure optimization — a bloom_min_seen no
    seen set reaches keeps every batch on the exact join, and must not
    change any observable output."""
    eng = _mk_engine(spark, world, "engine_nobloom", bloom_min_seen=1 << 62)
    eng.init_from_seeds(world["seeds"])
    metrics = eng.run(max_batches=50)
    assert not any(m.get("bloom_mode") for m in metrics)
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_bloom_forced_same_result(spark, world, oracle_run):
    """Force the Bloom path from batch 1 (bloom_min_seen=0) — the
    adaptive dedup strategy must be output-invariant."""
    eng = _mk_engine(spark, world, "engine_bloom_forced", bloom_min_seen=0)
    eng.init_from_seeds(world["seeds"])
    metrics = eng.run(max_batches=50)
    assert any(m.get("bloom_mode") for m in metrics if m.get("fetched"))
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def _old_words(hashes, n_parts: int, m_bits: int, k: int) -> list[tuple[int, list[int]]]:
    """``(part, words)`` rows of the fixed-size ``words`` layout, whose
    double hashing took h1 from the hash's low bits."""
    import numpy as np

    rows = []
    for part in range(n_parts):
        h = hashes[np.mod(hashes, n_parts) == part].view(np.uint64)
        m = np.uint64(m_bits)
        h1, h2 = h % m, (h >> np.uint64(17) | np.uint64(1)) % m
        pos = ((h1[:, None] + np.arange(k, dtype=np.uint64)[None, :] * h2[:, None]) % m).ravel()
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        rows.append((part, np.frombuffer(bits.tobytes(), dtype="<i8").tolist()))
    return rows


def test_legacy_bloom_format_rebuilt_on_resume(spark, world):
    """State written by earlier Bloom layouts: ``(part, blob)`` numpy
    blobs with no bloom_format in the commit; the fixed ``words`` table of
    2^20 bits and k = 5 per part (h1 from the low bits); and a ``words``
    table at the very (parts, m_bits, k) the engine sizes now, so only
    the layout tells it apart. Probed as the current format each would
    flag seen urls as new; the engine must rebuild the table from the
    seen union on resume, record the format its seen set sizes, and match
    the oracle for two more batches."""
    import numpy as np

    from openalex_collaboration_crawler_spark.streaming.seen import fixed_bloom_build_blob

    orc = _mk_oracle(spark, world)
    orc.run(max_batches=4)
    # name -> (schema, rows(hashes, parts, fmt now), recorded format(fmt now))
    legacy = {
        "blob": (
            "part int, blob binary",
            lambda h, parts, cur: [
                (p, fixed_bloom_build_blob(h[np.mod(h, parts) == p].view(np.uint64), 1 << 20, 5))
                for p in range(parts)
            ],
            lambda cur: None,
        ),
        "fixed_words": (
            "part int, words array<bigint>",
            lambda h, parts, cur: _old_words(h, parts, 1 << 20, 5),
            lambda cur: {"layout": "words", "parts": 4, "m_bits": 1 << 20, "k": 5},
        ),
        "sized_words": (
            "part int, words array<bigint>",
            lambda h, parts, cur: _old_words(h, parts, cur["m_bits"], cur["k"]),
            lambda cur: {**cur, "layout": "words"},
        ),
    }
    for name, (schema, rows, fmt) in legacy.items():
        state = f"engine_legacy_bloom_{name}"
        eng1 = _mk_engine(spark, world, state, bloom_min_seen=0)
        eng1.init_from_seeds(world["seeds"])
        for _ in range(2):
            eng1.run_batch()
        v = eng1.last_version()
        commit_path = os.path.join(eng1._commit_dir(), f"{v}.json")
        with open(commit_path) as f:
            payload = json.load(f)
        cur = eng1._bloom_format(payload["seen_rows"])
        assert payload["bloom_format"] == cur, name
        hashes = np.array(sorted(eng1.seen_hashes()), dtype=np.int64)
        spark.createDataFrame(rows(hashes, eng1.bloom_parts, cur), schema).write.mode(
            "overwrite"
        ).parquet(eng1._path("bloom", f"v{v}"))
        payload["bloom_format"] = fmt(cur)
        with open(commit_path, "w") as f:
            json.dump(payload, f)

        eng2 = _mk_engine(spark, world, state, bloom_min_seen=0)
        metrics = eng2.run(max_batches=2)
        keys = ("batch", "fetched", "discovered", "new_urls", "deduped")
        got = [{k: m[k] for k in keys} for m in metrics]
        assert got == [{k: m[k] for k in keys} for m in orc.metrics[2:]], name
        assert eng2.crawl_order() == orc.order, name
        assert eng2.seen_hashes() == orc.seen, name
        last = eng2._read_commit(4)
        assert last["bloom_format"] == eng2._bloom_format(last["seen_rows"]), name


def test_range_rank_path_same_result(spark, world, oracle_run, monkeypatch):
    """Force the two-phase parallel range rank (the 10^10-scale path;
    small batches normally take the single-partition window) through
    the whole crawl loop — the ranking strategy must be
    output-invariant at any batch size."""
    from openalex_collaboration_crawler_spark.streaming import politeness as pol

    monkeypatch.setattr(pol, "SMALL_BATCH_ROWS", -1)
    eng = _mk_engine(spark, world, "engine_rangerank")
    eng.init_from_seeds(world["seeds"])
    eng.run(max_batches=50)
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_survivor_shuffle_join_same_result(spark, world, oracle_run):
    """Force the shuffle fallback for the bloom-survivor exact check
    (survivor_broadcast_limit=0 + bloom from batch 1) — the scale-safe
    join strategy must be output-invariant."""
    eng = _mk_engine(
        spark, world, "engine_shuffle_surv", bloom_min_seen=0, survivor_broadcast_limit=0
    )
    eng.init_from_seeds(world["seeds"])
    metrics = eng.run(max_batches=50)
    assert any(m.get("bloom_mode") for m in metrics if m.get("fetched"))
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_unbounded_budget_skip_path(spark, world):
    """With budgets provably non-binding the engine skips the per-host
    capping window (the hot-host serial sort); the oracle still runs
    its caps — results must be identical because the caps can't bind."""
    big = (1 << 31) - 1
    politeness = build_politeness(spark, default_per_batch=big, hot_per_batch=big)
    eng = CrawlEngine(
        spark=spark,
        state_dir=str(world["root"] / "engine_nocap"),
        pages_path=world["pages_path"],
        politeness=politeness,
        robots=world["robots"],
        default_per_host=big,
        bloom_parts=4,
    )
    eng.init_from_seeds(world["seeds"])
    eng.run(max_batches=50)
    orc = OracleCrawler.from_rows(
        [r.asDict() for r in spark.read.parquet(world["pages_path"]).collect()],
        [r.asDict() for r in politeness.collect()],
        [r.asDict() for r in world["robots"].collect()],
        default_per_host=big,
    )
    orc.seed([(r["url"], r["priority"]) for r in world["seeds"].collect()])
    orc.run(max_batches=50)
    assert eng.crawl_order() == orc.order
    assert eng.seen_hashes() == orc.seen


def test_seen_compaction_same_result(spark, world, oracle_run):
    """Aggressive compaction (every 3 batches) must be output-invariant
    and must actually advance the compaction point."""
    eng = _mk_engine(spark, world, "engine_compact", compact_every=3)
    eng.init_from_seeds(world["seeds"])
    for _ in range(5):  # past the first compaction point...
        eng.run_batch()
    assert int(eng._read_commit(5).get("seen_base", 0)) > 0
    eng2 = _mk_engine(spark, world, "engine_compact", compact_every=3)
    eng2.run(max_batches=50)  # ...then resume ACROSS it from disk
    v = eng2.last_version()
    base = int(eng2._read_commit(v).get("seen_base", 0))
    assert base >= v - 3  # union reads stay O(compact_every) dirs
    assert eng2.crawl_order() == oracle_run.order
    assert eng2.seen_hashes() == oracle_run.seen


def test_robots_blocked_never_fetched(engine_run, spark):
    eng, _ = engine_run
    fetched_urls = [r["url"] for r in eng.results().select("url").collect()]
    assert all(not u.startswith("http://host1.example.org/page/1") for u in fetched_urls)
    # host1's other pages (not /page/1*) are still crawlable
    assert any(u.startswith("http://host1.example.org/") for u in fetched_urls)


def test_pending_delta_aggressive_compaction(spark, world, oracle_run):
    """Merge-on-read pending with a tiny compaction cadence (every 2
    batches) — the delta-chain/compaction cycling must be
    output-invariant, the base must actually advance, and a resume
    must land mid-chain and finish identically."""
    eng = _mk_engine(spark, world, "engine_pending_mor", compact_every=2)
    eng.init_from_seeds(world["seeds"])
    for _ in range(5):
        eng.run_batch()
    c5 = eng._read_commit(5)
    assert int(c5.get("pending_base", -1)) >= 2  # compaction advanced the base
    eng2 = _mk_engine(spark, world, "engine_pending_mor", compact_every=2)
    eng2.run(max_batches=50)  # resume from disk across the chain
    assert eng2.crawl_order() == oracle_run.order
    assert eng2.seen_hashes() == oracle_run.seen


def test_pending_compact_every_batch_same_result(spark, world, oracle_run):
    """pending_delta_max_dels=0 forces compaction (the full rewrite,
    i.e. the pre-MoR behavior) on every batch — both write modes must
    be observably identical."""
    eng = _mk_engine(
        spark, world, "engine_pending_full", pending_delta_max_dels=0
    )
    eng.init_from_seeds(world["seeds"])
    metrics = eng.run(max_batches=50)
    assert all(
        m.get("pending_dels", 0) == 0 for m in metrics if m.get("fetched")
    )  # every batch compacted
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_pending_delta_never_compacts_same_result(spark, world, oracle_run):
    """A huge cadence + delete bound keeps the whole crawl on one
    delta chain (the 10^10-frontier regime: O(new) writes per batch,
    deletes applied only at read time) — must be output-invariant."""
    eng = _mk_engine(
        spark,
        world,
        "engine_pending_chain",
        compact_every=10_000,
        pending_delta_max_dels=1 << 40,
    )
    eng.init_from_seeds(world["seeds"])
    metrics = eng.run(max_batches=50)
    done = [m for m in metrics if m.get("fetched")]
    assert int(done[-1].get("pending_base", -1)) == 0  # base never moved
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_overlap_off_same_result(spark, world, oracle_run):
    """Deferred state writes (run()'s defer_state=True) are a pure
    latency optimization — a crawl driven by bare run_batch() calls,
    each durable on return, must give identical outputs."""
    eng = _mk_engine(spark, world, "engine_no_overlap")
    eng.init_from_seeds(world["seeds"])
    for _ in range(50):
        m = eng.run_batch()
        assert eng._overlap is None  # nothing deferred past the call
        if m.get("done") or not m.get("fetched"):
            break
    assert m.get("done")
    eng.close()
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_overlap_interrupted_run_resumes(spark, world, oracle_run):
    """Kill a pipelined run() mid-crawl (max_batches cutoff flushes;
    this also exercises flush-at-entry): a fresh engine resumes to the
    oracle's exact order and seen set."""
    eng1 = _mk_engine(spark, world, "engine_overlap_resume")
    eng1.init_from_seeds(world["seeds"])
    eng1.run(max_batches=2)  # stops mid-crawl, flushes deferred state
    eng1.close()
    eng2 = _mk_engine(spark, world, "engine_overlap_resume")
    assert eng2.last_version() == 2  # both batches durable
    eng2.run(max_batches=50)
    assert eng2.crawl_order() == oracle_run.order
    assert eng2.seen_hashes() == oracle_run.seen


def test_resume_from_previous_commit_after_vacuum(spark, world):
    """Vacuum keeps the previous commit readable. With compaction every
    2 batches, commit 4 moves both log bases past commit 3's; after
    commit 4's marker is lost, a fresh engine resumes from commit 3 and
    redoes batch 4 exactly as the oracle does."""
    eng1 = _mk_engine(spark, world, "engine_vacuum_prev", compact_every=2)
    eng1.init_from_seeds(world["seeds"])
    eng1.run(max_batches=4)
    eng1.close()
    assert eng1._read_commit(4)["seen_base"] > eng1._read_commit(3)["seen_base"]
    os.remove(os.path.join(eng1._commit_dir(), "4.json"))
    eng2 = _mk_engine(spark, world, "engine_vacuum_prev", compact_every=2)
    assert eng2.last_version() == 3
    (m4,) = eng2.run(max_batches=1)
    eng2.close()
    orc = _mk_oracle(spark, world)
    orc.run(max_batches=4)
    assert eng2.crawl_order() == orc.order
    assert eng2.seen_hashes() == orc.seen
    assert {k: m4[k] for k in orc.metrics[3]} == orc.metrics[3]


@pytest.fixture(scope="module")
def short_crawl_state(spark, world):
    """State dir of a 3-batch crawl: both logs hold b0..b3 (no
    compaction yet) and results hold batch=1..3. Tests copy it."""
    eng = _mk_engine(spark, world, "engine_short")
    eng.init_from_seeds(world["seeds"])
    eng.run(max_batches=3)
    eng.close()
    assert eng.last_version() == 3
    return eng.state_dir


def _copy_state(world, src: str, name: str) -> str:
    dst = str(world["root"] / name)
    shutil.copytree(src, dst)
    return dst


@pytest.mark.parametrize("lost", ["seen/b2", "pending/b2", "results/batch=2"])
def test_lost_state_dir_fails_loudly(spark, world, short_crawl_state, lost):
    """Every log entry commit 3 reads is required: a missing mid-chain
    seen delta, pending delta or results file (pending's delete set)
    raises instead of silently reading a smaller set."""
    state = _copy_state(world, short_crawl_state, "lost_" + lost.replace("/", "_"))
    path = os.path.join(state, lost)
    shutil.rmtree(path)
    eng = _mk_engine(spark, world, os.path.basename(state))
    try:
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            eng.run_batch()
    finally:
        eng.close()


def test_old_state_format_refused(spark, world, short_crawl_state):
    """State whose last commit records another layout (here: none, as
    before the compacted-log layout) is refused with a re-seed hint."""
    state = _copy_state(world, short_crawl_state, "old_state_format")
    commit_path = os.path.join(state, "_commits", "3.json")
    with open(commit_path) as f:
        payload = json.load(f)
    del payload["state_format"]
    with open(commit_path, "w") as f:
        json.dump(payload, f)
    eng = _mk_engine(spark, world, "old_state_format")
    try:
        with pytest.raises(ValueError, match="init_from_seeds"):
            eng.run_batch()
    finally:
        eng.close()


def test_salted_caps_path_same_result(spark, world, oracle_run, monkeypatch):
    """Force the two-phase SALTED politeness capping (the hot-host
    skew path; engages automatically above SMALL_BATCH_ROWS) through
    the whole crawl loop — capping strategy must be output-invariant."""
    from openalex_collaboration_crawler_spark.streaming import politeness as pol

    monkeypatch.setattr(pol, "SMALL_BATCH_ROWS", -1)
    eng = _mk_engine(spark, world, "engine_saltedcaps")
    eng.init_from_seeds(world["seeds"])
    eng.run(max_batches=50)
    assert eng.crawl_order() == oracle_run.order
    assert eng.seen_hashes() == oracle_run.seen


def test_crawl_restores_session_conf(spark, world):
    """The loop turns AQE off and sizes the shuffle width per batch;
    both confs return to their pre-crawl values after run(), and after
    bare run_batch() calls once close() is called."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    # a width no batch-sized choice picks, so a missed restore shows
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        before = {k: spark.conf.get(k) for k in keys}
        eng = _mk_engine(spark, world, "engine_conf")
        eng.init_from_seeds(world["seeds"])
        eng.run(max_batches=2)
        assert {k: spark.conf.get(k) for k in keys} == before
        eng.run_batch()
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") != "7"
        eng.close()
        assert {k: spark.conf.get(k) for k in keys} == before
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_metrics_table_merge_on_read(spark, world, engine_run):
    """Per-partition lineage is derived on demand from the results
    store; its per-batch totals must agree with the batch metrics."""
    eng, metrics = engine_run
    mt = eng.metrics_table().groupBy("batch_id").sum("fetched").collect()
    got = {r["batch_id"]: r["sum(fetched)"] for r in mt}
    want = {m["batch"]: m["fetched"] for m in metrics if m.get("fetched")}
    assert got == want


def test_steady_state_batches_compile_nothing(spark, world, compiled_classes):
    """Steady-state batches run classes that are already compiled: the
    session's codegen cache holds a whole batch's working set, and no
    per-batch value reaches generated source (``seen.ref_lit``). Batch 1
    compiles the crawl's shapes and batch 2 its first-delta shapes; from
    batch 3 on nothing is new. Bloom dedup from batch 1, the path whose
    recompiles a 100-entry cache showed on every batch."""
    eng = _mk_engine(spark, world, "engine_codegen", bloom_min_seen=0)
    eng.init_from_seeds(world["seeds"])
    compiled = []
    for _ in range(4):
        c0 = compiled_classes()
        m = eng.run_batch()
        compiled.append(compiled_classes() - c0)
        assert m["fetched"] > 0 and m["bloom_mode"]
    eng.close()
    assert compiled[2:] == [0, 0], f"classes compiled per batch: {compiled}"


def test_ref_lit_int(spark, compiled_classes):
    """seen.ref_lit: exact value semantics AND codegen-source stability.

    The helper exists so per-batch values don't force a fresh Janino
    compile per batch (seen.ref_lit docstring): a new VALUE through the
    same plan shape must trigger ZERO new stage compiles, while a plain
    F.lit control shows the counter is live.

    The index column is Range's ``id``, which is not nullable: the
    case where Catalyst would fold ``id * 0`` to 0 and inline the value.

    Coupled to the Spark version (written against 4.1): the zero-compile
    result holds only while Catalyst has no ``x & 0`` simplification for
    non-foldable expressions. If an upgrade fails the ``c1 - c0 == 0``
    assert while the value check passes, that optimizer rule changed;
    values stay correct and only the per-batch recompiles come back."""
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.streaming.seen import ref_lit

    # exact value, row-invariant
    vals = (
        spark.range(5)
        .select(ref_lit(37, F.col("id")).cast("int").alias("b"))
        .collect()
    )
    assert [r.b for r in vals] == [37] * 5

    def run(col):
        spark.range(3).select(
            (F.col("id") + 1).alias("id2"), col.cast("int").alias("b")
        ).write.format("noop").mode("overwrite").save()

    run(ref_lit(100, F.col("id")))  # warm the shape (pays its one compile)
    run(F.lit(100))
    c0 = compiled_classes()
    run(ref_lit(101, F.col("id")))
    run(ref_lit(102, F.col("id")))
    c1 = compiled_classes()
    assert c1 - c0 == 0, "new ref_lit values must reuse the compiled stage"
    run(F.lit(101))
    c2 = compiled_classes()
    assert c2 - c1 > 0, "control: a new inlined literal must recompile"
