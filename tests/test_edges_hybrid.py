"""pairwise_edges hybrid path: array pair-gen vs join fallback parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.operators.edges import pairwise_edges


def _authorships(spark):
    rows = []
    # works with 1..8 authors, plus one "mega" work with 20 authors,
    # plus duplicate authorship rows (multiplicity semantics)
    w = 0
    for k in (1, 2, 3, 8, 20):
        w += 1
        for a in range(k):
            rows.append((w, 100 + a, 1990 + w))
    rows.append((2, 100, 1992))  # duplicate authorship in work 2
    return spark.createDataFrame(rows, "work_id long, author long, year long")


def test_hybrid_cap_invariance(spark):
    """Output multiset must be identical whatever the cap routes
    through the array path vs the join fallback."""
    au = _authorships(spark)

    def multiset(cap):
        out = pairwise_edges(au, small_work_cap=cap).collect()
        ms = {}
        for r in out:
            key = (r["year"], r["work_id"], r["a1"], r["a2"])
            ms[key] = ms.get(key, 0) + 1
        return ms

    all_array = multiset(cap=1000)   # everything on the array path
    all_join = multiset(cap=0)       # everything on the join fallback
    mixed = multiset(cap=8)          # split routing
    assert all_array == all_join == mixed

    # semantics spot-checks: solo self-loop, strict a1<a2, duplicate
    # authorship multiplies pairs
    assert (1991, 1, 100, 100) in all_array            # solo work
    assert all(a1 <= a2 for (_, _, a1, a2) in all_array)
    assert all_array[(1992, 2, 100, 101)] == 2         # dup author ×2


def test_year_functional_dependency_collapses_to_min(spark):
    """pairwise_edges groups by work_id ALONE and carries min(year)
    (r4: reuses upstream hash(work_id) partitioning — same-session
    warm medians at sf0.1, 5 reps, from the r4 one-off A/B script,
    since retired (see CHANGES.md): r2 self-join 1.139s, r3
    (work_id,year) hybrid 0.911s, r4 work_id-only hybrid
    0.797s, sorted-prefix generator 1.008s; all-variant output hashes
    identical on 1,205,033 rows). A work violating the documented one-year-per-work
    dependency collapses to ONE author list at min(year) instead of
    silently fragmenting per year — and diverges loudly from the
    row-level SQL oracle, which is the intended failure mode."""
    au = spark.createDataFrame(
        [(1, 10, 2000), (1, 11, 2001)], "work_id long, author long, year long"
    )
    out = pairwise_edges(au).collect()
    assert [(r["year"], r["work_id"], r["a1"], r["a2"]) for r in out] == [
        (2000, 1, 10, 11)
    ]
