"""Collaboration-edge operators (reference ``openalex_graph``).

Re-expresses generation/src/graph.cpp as declarative DataFrame ops:

- pairwise edge generation with the reference's quirks preserved
  (graph.cpp:493-506): unordered author pairs in *authorship order*
  i<j (NOT value-canonicalized at edge-gen time), plus a self-loop
  row when a work has exactly one author (graph.cpp:496-499).
- weighted mode (graph.cpp:139-257): canonicalize the pair
  (min,max) *here*, as the reference does (graph.cpp:208-210), then
  count per pair — Spark's partial+final hash aggregation replaces
  the per-thread map merge.
- interval routing (graph.cpp:278-329, 513-523): year → FIRST
  matching inclusive [start,end] interval in CLI order (overlaps
  allowed; SURVEY §4.3.7) — a `coalesce(when...)` chain against a
  tiny broadcast-sized interval list.

Scale notes: edges come from one grouped pipeline with one shuffle —
authorships group to a per-work author list (hash-agg with map-side
combine), then pairs stream out of a two-level Generate (see
``blocks.sorted_list_pairs``). A hot work (e.g. a 1000-author
consortium paper) keeps its pairs in one task, but no row holds more
than its k-author list. Weighted counting is a map-side-combinable
hash agg — the canonical (min,max) projection happens before the
shuffle so each pair shuffles once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.operators.blocks import sorted_list_pairs


def pairwise_edges(
    authorships: DataFrame,
    work_col: str = "work_id",
    author_col: str = "author",
    year_col: str = "year",
) -> DataFrame:
    """(work, author, year) → edge rows (year, work_id, a1, a2).

    Pairs are ordered a1 < a2 (authorship order in the reference is
    its input-array order; for a relational source we use the column's
    natural order, which the oracle reproduces). A single-author work
    yields one self-loop row (a, a) — reference graph.cpp:496-499.
    Duplicate authorship rows multiply pairs exactly like the
    reference's nested loop (and the oracle's self-join).

    ASSUMES year is functionally dependent on work_id (one year per
    work — true of OpenAlex works and of the oracle model); the group
    is on work_id ALONE with ``min(year)`` carried as an aggregate, so
    an input violating the dependency collapses to the min year here
    while the row-level SQL oracle fans pairs out per year variant —
    the gate diverges loudly instead of silently fragmenting author
    lists per year (round-3 ADVICE)."""
    grouped = authorships.groupBy(F.col(work_col).alias("work_id")).agg(
        F.collect_list(F.col(author_col)).alias("__as"),
        F.min(F.col(year_col)).alias("year"),
    )
    return pairwise_edges_grouped(grouped)


def pairwise_edges_grouped(grouped: DataFrame) -> DataFrame:
    """Pair generation from a pre-grouped (work_id, __as, year) frame.

    Split out of :func:`pairwise_edges` so callers that already hold a
    per-work author array (e.g. the fused collab_grouped source, which
    saves a whole exchange versus distinct-then-regroup) skip the
    groupBy. Pairs come from ``blocks.sorted_list_pairs`` over the
    sorted author list. A solo work's list becomes ``[a, a]``, so it
    emits its (a, a) self-loop exactly once; every other equal pair
    comes from a repeated author and is dropped, as the oracle's
    ``a.author < b.author`` self-join drops it. A work whose rows all
    name one repeated author thus emits nothing."""
    n = F.size("__as")
    solo = F.array(F.col("__as")[0], F.col("__as")[0])
    lists = grouped.select(
        "year",
        "work_id",
        n.alias("__n"),
        F.when(n == 1, solo).otherwise(F.sort_array("__as")).alias("__as"),
    )
    return (
        sorted_list_pairs(lists, "__as", keep=("year", "work_id", "__n"))
        .where((F.col("__x") < F.col("__y")) | (F.col("__n") == 1))
        .select("year", "work_id", F.col("__x").alias("a1"), F.col("__y").alias("a2"))
    )


PAIRWISE_EDGES_SQL_TEMPLATE = """
WITH au AS ({authorships})
SELECT a.year AS year, a.work_id AS work_id, a.author AS a1, b.author AS a2
FROM au a JOIN au b ON a.work_id = b.work_id AND a.author < b.author
UNION ALL
SELECT year, work_id, a AS a1, a AS a2 FROM (
  SELECT work_id, year, count(*) AS n, min(author) AS a
  FROM au GROUP BY work_id, year
) WHERE n = 1
"""


def weighted_edges(edges: DataFrame) -> DataFrame:
    """Edge rows → canonical-pair weights (reference graph.cpp:199-235).

    `least/greatest` canonicalization happens map-side (before the
    shuffle), so the groupBy enjoys partial aggregation: at 10^10
    edges each distinct pair crosses the wire once per map task, not
    once per row.
    """
    return (
        edges.select(
            F.least("a1", "a2").alias("author1"),
            F.greatest("a1", "a2").alias("author2"),
        )
        .groupBy("author1", "author2")
        .agg(F.count("*").alias("weight"))
    )


WEIGHTED_EDGES_SQL_TEMPLATE = """
SELECT least(a1, a2) AS author1, greatest(a1, a2) AS author2,
       count(*) AS weight
FROM ({edges}) GROUP BY 1, 2
"""


def first_interval(year: Column, intervals: Sequence[tuple[int | None, int | None]]) -> Column:
    """FIRST matching inclusive [start,end] interval label, in list
    order (overlaps allowed — reference graph.cpp:513-522 `break`s on
    first match). Open ends (None) mirror '-2000' / '2016-' formats
    (graph.cpp:282-303). Years matching no interval → NULL (the
    reference silently drops them)."""
    branches = []
    for start, end in intervals:
        lo = F.lit(True) if start is None else (year >= F.lit(start))
        hi = F.lit(True) if end is None else (year <= F.lit(end))
        branches.append(F.when(lo & hi, F.lit(_interval_label(start, end))))
    if not branches:
        return F.lit(None).cast("string")
    # coalesce of unmatched-→-NULL whens == first matching interval wins
    return F.coalesce(*branches) if len(branches) > 1 else branches[0]


def first_interval_sql(year_expr: str, intervals: Sequence[tuple[int | None, int | None]]) -> str:
    whens = []
    for start, end in intervals:
        conds = []
        if start is not None:
            conds.append(f"{year_expr} >= {start}")
        if end is not None:
            conds.append(f"{year_expr} <= {end}")
        cond = " AND ".join(conds) if conds else "TRUE"
        whens.append(f"WHEN {cond} THEN '{_interval_label(start, end)}'")
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def _interval_label(start: int | None, end: int | None) -> str:
    return f"{'' if start is None else start}-{'' if end is None else end}"


def route_to_intervals(
    edges: DataFrame, intervals: Sequence[tuple[int | None, int | None]]
) -> DataFrame:
    """Attach the first-matching interval label; drop unmatched rows
    (reference writes only to matching interval files)."""
    out = edges.withColumn("interval", first_interval(F.col("year"), intervals))
    return out.where(F.col("interval").isNotNull())


def work_metadata(
    authorships: DataFrame,
    topics: DataFrame | None = None,
    work_col: str = "work_id",
    author_col: str = "author",
    year_col: str = "year",
) -> DataFrame:
    """metadata_dataset.csv analogue (graph.cpp:389, 508-510):
    work_id, year, num_of_authors, topics (';'-joined, sorted for
    determinism; possibly empty string)."""
    base = authorships.groupBy(
        F.col(work_col).alias("work_id"), F.col(year_col).alias("year")
    ).agg(F.countDistinct(author_col).alias("num_of_authors"))
    if topics is None:
        return base.withColumn("topics", F.lit(""))
    t = topics.groupBy(F.col(work_col).alias("work_id")).agg(
        F.array_join(F.array_sort(F.collect_set("topic")), ";").alias("topics")
    )
    return base.join(t, "work_id", "left").na.fill({"topics": ""})
