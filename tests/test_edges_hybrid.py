"""pairwise_edges: output multiset equals the SQL oracle's pair rule,
and the one-year-per-work dependency."""

from __future__ import annotations

from collections import Counter

from openalex_collaboration_crawler_spark.operators.edges import pairwise_edges


def _authorship_rows():
    rows = []
    # works with 1..8 authors, plus one "mega" work with 20 authors,
    # plus duplicate authorship rows (multiplicity semantics)
    w = 0
    for k in (1, 2, 3, 8, 20):
        w += 1
        for a in range(k):
            rows.append((w, 100 + a, 1990 + w))
    rows.append((2, 100, 1992))  # duplicate authorship in work 2
    rows += [(6, 300, 1996), (6, 300, 1996)]  # one author, listed twice
    return rows


def _oracle_pairs(rows):
    """PAIRWISE_EDGES_SQL_TEMPLATE in plain Python: a self-join on
    work_id with a.author < b.author, plus an (a, a) row for each work
    with exactly one authorship row."""
    by_work: dict[tuple[int, int], list[int]] = {}
    for w, a, y in rows:
        by_work.setdefault((w, y), []).append(a)
    ms: Counter = Counter()
    for (w, y), authors in by_work.items():
        for a in authors:
            for b in authors:
                if a < b:
                    ms[(y, w, a, b)] += 1
        if len(authors) == 1:
            ms[(y, w, authors[0], authors[0])] += 1
    return ms


def test_pairwise_edges_matches_self_join_reference(spark):
    rows = _authorship_rows()
    au = spark.createDataFrame(rows, "work_id long, author long, year long")
    got = Counter(
        (r["year"], r["work_id"], r["a1"], r["a2"]) for r in pairwise_edges(au).collect()
    )
    assert got == _oracle_pairs(rows)

    # semantics spot-checks: solo self-loop, strict a1<a2, duplicate
    # authorship multiplies pairs, a repeated lone author pairs with
    # nobody and gets no self-loop
    assert got[(1991, 1, 100, 100)] == 1  # solo work
    assert all(a1 < a2 for (_, w, a1, a2) in got if w != 1)
    assert got[(1992, 2, 100, 101)] == 2  # dup author ×2
    assert not any(w == 6 for (_, w, _, _) in got)


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
