"""Round-2 operators: topic normalization (P11), structural stats
(A8), null-model ensemble (A13), community works/topics (J2/J3),
community labelling (script 10), plus the scale guards added this
round (hot-shingle cap, LSH bucket cap, CC non-convergence detection)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.operators import analytics as AN
from openalex_collaboration_crawler_spark.operators import dedup as DD
from openalex_collaboration_crawler_spark.operators import graphstats as GS
from openalex_collaboration_crawler_spark.operators import similarity as SIM
from openalex_collaboration_crawler_spark.operators import topics as TP


# ------------------------------------------------------- P11 topics


def _py_normalize(t: str) -> str:
    """Reference semantics (01_metadata_analysis.py:76-79, 262-268)."""
    if "(" in t and ")" in t:
        t = t[t.find("(") + 1 : t.find(")")].capitalize()
    return t.encode("ascii", "ignore").decode("ascii")


@pytest.mark.parametrize(
    "raw",
    [
        "Set (abstract data type)",
        "Crystal (programming language)",
        "Naïve Bayes",
        "Réseaux (computer network)",
        "plain topic",
        "Weird )( order",
        "Empty ()",
        "Ünïcode (ölçüm)",
    ],
)
def test_normalize_topic_label_matches_reference(spark, raw):
    got = (
        spark.createDataFrame([(raw,)], "t string")
        .select(TP.normalize_topic_label("t").alias("n"))
        .collect()[0]["n"]
    )
    assert got == _py_normalize(raw)


def test_topic_category_distribution_paths(spark):
    rows = [
        (2000, "Machine learning"),  # synonym filter → removed
        (2000, "Deep learning"),  # delete list → removed
        (2000, "Topology"),  # category map → Mathematics
        (2000, "Set (abstract data type)"),  # → Abstract data type → Programming language
        (2000, "Linguistics"),  # passthrough
        (2000, "Linguistics"),
    ]
    df = spark.createDataFrame(rows, "year long, topic string")
    out = {
        (r["category"]): (r["pct"], r["rank"])
        for r in TP.topic_category_distribution(df, k=10).collect()
    }
    # survivors: Mathematics 1, Programming language 1, Linguistics 2 → of 4
    assert out["Linguistics"] == (50.0, 1)
    assert out["Mathematics"][0] == 25.0
    assert out["Programming language"][0] == 25.0
    assert "Machine learning" not in out and "Deep learning" not in out


# -------------------------------------------------- A8 structural stats


def test_structural_stats_triangle_graph(spark):
    # triangle 1-2-3 (weights 1,2,3) + pendant 4
    rows = [(1, 2, 1), (2, 3, 2), (1, 3, 3), (3, 4, 1)]
    w = spark.createDataFrame(rows, "author1 long, author2 long, weight long")
    s = GS.structural_stats(w).collect()[0]
    assert s["n_nodes"] == 4 and s["n_edges"] == 4
    assert s["min_degree"] == 1 and s["max_degree"] == 3
    assert s["mean_degree"] == 2.0
    assert s["w_max_degree"] == 6  # node 3: 2+3+1
    assert s["density"] == round(4 / 6, 6)
    # clustering: nodes 1,2 → 1.0; node 3 → 2*1/(3*2)=1/3; node 4 → 0
    assert s["avg_clustering"] == round((1 + 1 + 1 / 3 + 0) / 4, 6)
    assert s["transitivity"] == round(3 * 1 / (1 + 1 + 3 + 0), 6)
    # assortativity matches the closed form over both edge orientations
    degs = {1: 2, 2: 2, 3: 3, 4: 1}
    xy = [(degs[a], degs[b]) for a, b, _ in [(1, 2, 0), (2, 3, 0), (1, 3, 0), (3, 4, 0)]]
    xs = [x for x, y in xy] + [y for x, y in xy]
    ys = [y for x, y in xy] + [x for x, y in xy]
    n = len(xs)
    mx = sum(xs) / n
    num = sum(x * y for x, y in zip(xs, ys)) / n - mx * mx
    den = sum(x * x for x in xs) / n - mx * mx
    assert s["assortativity"] == round(num / den, 6)


# -------------------------------------------------- A13 null model


def test_null_model_stats_deterministic_and_sane(spark):
    rows = [(i, i + 1, 1) for i in range(1, 20)] + [(1, 10, 2), (5, 15, 1)]
    w = spark.createDataFrame(rows, "author1 long, author2 long, weight long")
    a = GS.null_model_stats(w, n_runs=4, seed=7).collect()[0]
    b = GS.null_model_stats(w, n_runs=4, seed=7).collect()[0]
    assert a == b  # deterministic under the same seed
    c = GS.null_model_stats(w, n_runs=4, seed=8).collect()[0]
    assert a != c  # seed actually feeds the sampler
    assert a["n_runs"] == 4
    # expected edge count of Chung-Lu ≈ observed edge count (weak sanity)
    assert 0 < a["mean_n_edges"] < 3 * len(rows)
    assert a["var_n_edges"] >= 0


# ----------------------------------------- J2/J3 community works/topics


def test_community_works_and_topics(spark):
    edges = spark.createDataFrame(
        [
            (1, 100, 1, 2),  # both in community A → work 100
            (1, 101, 1, 3),  # cross-community → dropped
            (1, 102, 3, 4),  # both in community B → work 102
            (1, 103, 5, 5),  # self-pair → dropped
            (2, 104, 1, 2),  # other interval, community A → work 104
        ],
        "interval long, work_id long, a1 long, a2 long",
    )
    membership = spark.createDataFrame(
        [(1, "A", 1), (1, "A", 2), (1, "B", 3), (1, "B", 4), (1, "A", 5), (2, "A", 1), (2, "A", 2)],
        "interval long, community string, node long",
    )
    cw = {
        (r["interval"], r["community"], r["work_id"])
        for r in AN.community_works(edges, membership).collect()
    }
    assert cw == {(1, "A", 100), (1, "B", 102), (2, "A", 104)}

    topics = spark.createDataFrame(
        [(100, "Biology"), (100, "Computer science"), (102, "Chemistry"), (104, "Biology")],
        "work_id long, topic string",
    )
    ct = {
        (r["interval"], r["community"], r["topic"]): r["n"]
        for r in AN.community_topic_counts(edges, membership, topics).collect()
    }
    # 'Computer science' is on the default delete list
    assert ct == {(1, "A", "Biology"): 1, (1, "B", "Chemistry"): 1, (2, "A", "Biology"): 1}


# ------------------------------------------- script 10 community labels


def test_community_labels_ranks_by_centroid(spark):
    # community X: two near-identical topics + one orthogonal → the
    # near-identical pair dominates the centroid and wins ranks 1-2
    ct = spark.createDataFrame(
        [("X", "alpha"), ("X", "beta"), ("X", "gamma"), ("Y", "solo")],
        "community string, topic string",
    )
    te = spark.createDataFrame(
        [
            ("alpha", [1.0, 0.0, 0.01]),
            ("beta", [1.0, 0.01, 0.0]),
            ("gamma", [0.0, 1.0, 0.0]),
            ("solo", [0.5, 0.5, 0.5]),
        ],
        "topic string, embedding array<double>",
    )
    out = {r["community"]: r for r in SIM.community_labels(ct, te).collect()}
    assert out["X"]["top_topic"] in ("alpha", "beta")
    assert out["X"]["second_topic"] in ("alpha", "beta")
    assert out["X"]["label"] == f" ({out['X']['top_topic']}: {out['X']['second_topic']})"
    assert out["Y"]["label"] == " (solo)"  # single topic → 1-term format


# --------------------------------------------------- skew/scale guards


def test_ngram_hot_shingle_cap_bounds_pairs(spark):
    # 40 docs share ONE boilerplate sentence; pairwise that would be
    # 780 pairs — with the cap the boilerplate shingles are dropped
    # and only the two real dups remain
    boiler = "all rights reserved contact us for details"
    rows = [(i, f"unique text number {i} " + boiler) for i in range(40)]
    rows += [(100, "identical long document body here"), (101, "identical long document body here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=10).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(100, 101)}
    # uncapped, the boilerplate drives a quadratic candidate blowup
    uncapped = DD.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=10**9)
    assert uncapped.count() > 100


def test_lsh_bucket_cap_drops_mega_bucket(spark):
    import random

    rng = random.Random(1)
    # 50 identical vectors = one mega-bucket; 6 scattered others
    rows = [(i, [1.0] + [0.0] * 15) for i in range(50)]
    rows += [(100 + i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = SIM.embedding_neardup_pairs(emb, threshold=0.0, dim=16, max_bucket=10)
    # no pair may involve the mega-bucket members
    assert all(r["a"] >= 100 and r["b"] >= 100 for r in capped.collect())
    uncapped = SIM.embedding_neardup_pairs(emb, threshold=0.99, dim=16, max_bucket=10**9)
    assert uncapped.count() >= 50 * 49 / 2  # the blowup the cap prevents


def test_connected_components_raises_on_nonconvergence(spark):
    # a 12-node path has diameter 11 — min-label propagation cannot
    # finish in 3 passes and must refuse rather than return wrong labels
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "author1 long, author2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        GS.connected_components(path, max_iter=3)
    ok = GS.connected_components(path, max_iter=20)
    assert ok.select("component").distinct().count() == 1
