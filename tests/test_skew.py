"""Hot-host salting in the crawl's politeness capping is
result-identical to the single per-host window."""

from __future__ import annotations


def test_salted_host_cap_preserves_crawl_order(spark):
    """Two-phase salted politeness capping (select_batch salt_caps=True)
    emits the IDENTICAL batch — same rows, same seq — as the single
    per-host window on a zipf-head frontier with binding caps."""
    from openalex_collaboration_crawler_spark.sources.pages import build_zipf_frontier
    from openalex_collaboration_crawler_spark.streaming.politeness import select_batch

    pending = build_zipf_frontier(spark, n_rows=60_000, n_hosts=50).cache()
    # hot host capped hard; tail hosts get a binding default too
    politeness = spark.createDataFrame(
        [("host0.example.org", 500)], "host string, max_per_batch int"
    )
    kw = dict(
        politeness=politeness, robots=None, default_per_host=40, est_rows=60_000
    )
    plain = select_batch(pending, salt_caps=False, **kw)
    salted = select_batch(pending, salt_caps=True, n_salts=16, **kw)
    cols = ["seq", "url", "url_hash", "host", "depth", "priority"]
    assert plain.select(cols).exceptAll(salted.select(cols)).count() == 0
    assert salted.select(cols).exceptAll(plain.select(cols)).count() == 0
    # the caps actually bound (otherwise the test proves nothing)
    n = plain.count()
    assert n < 60_000 and n > 0
    pending.unpersist()
