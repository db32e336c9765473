"""Operator semantics tests — reference parity traps (SURVEY §4.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.operators import analytics as AN
from openalex_collaboration_crawler_spark.operators import dedup as DD
from openalex_collaboration_crawler_spark.operators import edges as ED


def _authorships(spark, rows):
    return spark.createDataFrame(rows, "work_id string, author string, year int")


def test_pairwise_edges_counts(spark):
    """C(n,2) pairs per work; exactly-one-author → self-loop
    (reference graph.cpp:496-506)."""
    rows = (
        [("W1", f"A{i}", 2020) for i in range(4)]  # 4 authors → 6 pairs
        + [("W2", "A9", 2021)]  # solo → 1 self-loop
        + [("W3", "A1", 2022), ("W3", "A2", 2022)]  # 1 pair
    )
    edges = ED.pairwise_edges(_authorships(spark, rows)).collect()
    by_work = {}
    for r in edges:
        by_work.setdefault(r["work_id"], []).append((r["a1"], r["a2"], r["year"]))
    assert len(by_work["W1"]) == 6
    assert by_work["W2"] == [("A9", "A9", 2021)]  # self-loop preserved
    assert by_work["W3"] == [("A1", "A2", 2022)]
    assert all(a <= b for w in by_work.values() for a, b, _ in w)


def test_weighted_edges_canonicalization(spark):
    """(min,max) canonicalization at weighted stage (graph.cpp:208-210)."""
    edges = spark.createDataFrame(
        [(2020, "W1", "B", "A"), (2021, "W2", "A", "B"), (2021, "W3", "A", "A")],
        "year int, work_id string, a1 string, a2 string",
    )
    got = {(r["author1"], r["author2"]): r["weight"] for r in ED.weighted_edges(edges).collect()}
    assert got == {("A", "B"): 2, ("A", "A"): 1}


def test_first_interval_overlap_first_match(spark):
    """Overlapping intervals route to FIRST in list order
    (graph.cpp:513-522); open-ended bounds inclusive."""
    intervals = [(None, 1995), (1994, 1996), (1996, None)]
    df = spark.createDataFrame([(y,) for y in [1990, 1994, 1995, 1996, 2000]], ["year"])
    got = [
        r["iv"]
        for r in df.select(ED.first_interval(F.col("year"), intervals).alias("iv"))
        .orderBy("year")
        .collect()
    ]
    assert got == ["-1995", "-1995", "-1995", "1994-1996", "1996-"]


def test_first_interval_no_match_null(spark):
    intervals = [(2000, 2001)]
    df = spark.createDataFrame([(1990,)], ["year"])
    assert (
        df.select(ED.first_interval(F.col("year"), intervals).alias("iv")).collect()[0]["iv"]
        is None
    )


def test_work_metadata(spark):
    au = _authorships(spark, [("W1", "A1", 2020), ("W1", "A2", 2020), ("W2", "A3", 2021)])
    topics = spark.createDataFrame(
        [("W1", "ML"), ("W1", "DB"), ("W1", "ML")], "work_id string, topic string"
    )
    got = {r["work_id"]: r for r in ED.work_metadata(au, topics).collect()}
    assert got["W1"]["num_of_authors"] == 2
    assert got["W1"]["topics"] == "DB;ML"  # ';'-joined (graph.cpp:446-456), sorted
    assert got["W2"]["topics"] == ""  # empty topics → empty string


def test_degrees_self_loop_counts_once(spark):
    edges = spark.createDataFrame(
        [("A", "B", 1), ("A", "A", 1)], "author1 string, author2 string, weight long"
    )
    got = {r["node"]: r["degree"] for r in AN.degrees(edges).collect()}
    assert got == {"A": 2, "B": 1}


def test_topk_per_group_tie_break(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "y"), (1, "y"), (1, "z")], "g int, item string"
    )
    got = AN.topk_per_group(df, "g", "item", k=2).orderBy("rank").collect()
    # tie between x and y (2 each) broken by item asc → x first
    assert [(r["item"], r["rank"]) for r in got] == [("x", 1), ("y", 2)]


def test_first_seen(spark):
    df = spark.createDataFrame([("a", 3), ("a", 1), ("b", 2)], "k string, t int")
    got = {r["k"]: r["first_t"] for r in AN.first_seen(df, "k", "t").collect()}
    assert got == {"a": 1, "b": 2}


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello,  world!"), (3, "other text")],
        "doc_id long, text string",
    )
    groups = DD.exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["canonical_id"] == 1 and groups[0]["n_dups"] == 2


def test_minhash_finds_near_duplicates(spark):
    # jaccard(base, near) ≈ 0.95 → ≥1 of the 4 LSH bands collides for
    # this fixed hash family (verified offline; fully deterministic)
    base = "w " + " ".join(f"word{i}" for i in range(40))
    near = base.replace("word39", "changed")
    far = "completely different content about spark engines and parquet files " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["a"], r["b"]) for r in DD.minhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_value(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z z z z z")], "doc_id long, text string"
    )
    got = {(r["a"], r["b"]): r["jaccard"] for r in DD.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert got == {(1, 2): 1.0}


def test_simhash_identical_docs_same_hash(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x y z w")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert got[1] == got[2]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in DD.simhash_neardup_pairs(docs, 0).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
