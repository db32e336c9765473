"""Plan hygiene across EVERY driver query: no accidental cartesian
products or nested-loop joins. Whitelists are intentional patterns:

- cartesian: null_model_stats generates the documented O(n²) Chung-Lu
  candidate pairs via an inequality self-join (fixture-scale path;
  the degree-class optimization is the documented scale swap).
- broadcast nested-loop: crossJoins of ONE-ROW aggregates (totals ×
  triangle counts × assortativity sums; NMI entropy terms; the
  percentile threshold; louvain's modularity invariant; the stability
  ensemble's n_runs column), broadcast query/centroid tables in the
  ANN operators, a constant-folded literal anti-join against the
  broadcast delete list, and null_model_degree_class's D×D
  degree-CLASS pair generator (d1<=d2 inequality join over the tiny
  distinct-degree table — the documented scale swap for the n²
  node-pair cartesian) — all have a tiny build side by construction.

Anything outside the whitelist failing here means a join lost its
equi-condition or a broadcast hint — the classic silent 100×
regression at scale.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from openalex_collaboration_crawler_spark.operators import dedup as DD
from openalex_collaboration_crawler_spark.operators import similarity as SIM

CARTESIAN_OK = {
    "null_model_stats",
    # D×D degree-CLASS pairs via the d1<=d2 inequality self-join over
    # the distinct-degree table (D ≪ n; the documented scale swap for
    # null_model_stats' n² node-pair cartesian)
    "null_model_degree_class",
}
BNLJ_OK = {
    "ann_topk",
    "ann_ivf_topk",
    "transitivity",
    "community_metrics",
    "nmi_nation_vs_region",
    "community_size_split",
    "structural_stats",
    "structural_stats_lcc",
    "null_model_stats",
    "null_model_degree_class",
    "community_topics",
    "community_stability",
    "louvain",
}


# Unpartitioned windows over provably-tiny PRE-AGGREGATED inputs.
# Anything NOT here with an empty partition spec moves the whole
# input to one task — the exact failure mode round-3's ivf_centroids
# shipped (global row_number over the full corpus, VERDICT r3 #2).
UNPART_WINDOW_OK = {
    # cumsum over the degree HISTOGRAM (rows = distinct degrees)
    "ccdf",
    # interval lead/lag over per-(interval, community) aggregates
    "community_overlap",
    "lost_authors",
    # two-phase politeness rank: phase 2 ranks BOUNDARIES (≤ #hosts
    # sampled splits), not rows — the small-batch path degenerates to
    # one global window over an already-capped batch
    "politeness_batch",
    "crawl_order_prefix",  # ordering contract over a ≤N-row prefix
}


def _unpartitioned_windows(jnode) -> list[str]:
    """All Window/WindowGroupLimit nodes with an EMPTY partition spec
    in the physical plan tree (descends into AQE's initial plan)."""
    hits, stack = [], [jnode]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.initialPlan())
            continue
        if cls in ("WindowExec", "WindowGroupLimitExec") and n.partitionSpec().isEmpty():
            hits.append(n.verboseString(1))
        cs = n.children()
        for i in range(cs.length()):
            stack.append(cs.apply(i))
    return hits


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_no_accidental_cartesian_or_nlj(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    cart = len(re.findall("CartesianProduct", plan))
    bnlj = len(re.findall("BroadcastNestedLoopJoin", plan))
    if name not in CARTESIAN_OK:
        assert cart == 0, f"{name}: unexpected CartesianProduct"
    if name not in BNLJ_OK:
        assert bnlj == 0, f"{name}: unexpected BroadcastNestedLoopJoin"
    if name not in UNPART_WINDOW_OK:
        hits = _unpartitioned_windows(df._jdf.queryExecution().executedPlan())
        assert not hits, f"{name}: unpartitioned Window (single-task sort): {hits}"


def test_gate_catches_planted_unpartitioned_window(spark, sf_dir):
    """The detector itself must fire on the pattern it polices."""
    from pyspark.sql import Window, functions as F

    from openalex_collaboration_crawler_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "orders").withColumn(
        "rk", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert _unpartitioned_windows(df._jdf.queryExecution().executedPlan())
    # and stays silent on a properly partitioned window
    ok = load_table(spark, sf_dir, "orders").withColumn(
        "rk", F.row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderkey"))
    )
    assert not _unpartitioned_windows(ok._jdf.queryExecution().executedPlan())


PYTHON_NODES = ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


def test_bloom_dedup_plans_stay_in_the_jvm(spark, tmp_path):
    """The crawl's Bloom probe (inside ``mark_new_against_seen``, both
    survivor-join strategies) and the Bloom merge are plain Spark SQL:
    no operator of either executed plan hands rows to a Python worker."""
    from pyspark.sql import functions as F

    from openalex_collaboration_crawler_spark.streaming.seen import (
        BLOOM_SCHEMA,
        build_bloom_table,
        mark_new_against_seen,
    )

    seen = spark.range(0, 500).select((F.col("id") * 7919).alias("url_hash"))
    bloom_path = str(tmp_path / "bloom")
    build_bloom_table(seen, n_parts=4).write.parquet(bloom_path)
    bloom = spark.read.schema(BLOOM_SCHEMA).parquet(bloom_path)
    cand = spark.range(0, 1000).select(
        (F.col("id") * 7919).alias("url_hash"), F.col("id").alias("payload")
    )
    plans = {
        join: mark_new_against_seen(cand, seen, bloom, n_parts=4, survivor_join=join)
        for join in ("broadcast", "shuffle")
    }
    plans["merge"] = build_bloom_table(cand.select("url_hash"), n_parts=4, prev=bloom)
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in PYTHON_NODES:
            assert node not in plan, f"{name}: {node} in the executed plan"


PAIR_OPERATORS = {
    "minhash_candidate_pairs": ("documents", DD.minhash_candidate_pairs),
    "ngram_jaccard_pairs": ("documents", DD.ngram_jaccard_pairs),
    "simhash_neardup_pairs": ("documents", DD.simhash_neardup_pairs),
    "embedding_neardup_pairs": ("embeddings", SIM.embedding_neardup_pairs),
}


@pytest.mark.parametrize("name", sorted(PAIR_OPERATORS))
def test_pair_operators_launch_no_jobs_and_pin_nothing(spark, sf_dir, name):
    """Building a near-duplicate pair operator is lazy: no Spark job runs
    before the caller's action (an eager ``localCheckpoint`` would be
    one), and the executed plan reads no pinned ``ExistingRDD``, whose
    blocks cannot be recomputed after an executor is lost."""
    from openalex_collaboration_crawler_spark.sources.tables import load_table

    table, op = PAIR_OPERATORS[name]
    src = load_table(spark, sf_dir, table)  # its schema-inference job is not counted
    sc = spark.sparkContext
    group = f"plan-hygiene-{name}"
    sc.setJobGroup(group, f"build {name}")
    try:
        df = op(src)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], f"{name}: {len(jobs)} job(s) launched while building the plan"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, f"{name}: pinned RDD scan in the executed plan"
