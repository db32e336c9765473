"""Property-based tests (SURVEY §5.5) — hypothesis drives the pure
python oracles and the numpy filter cores; Spark equivalents are
checked batch-wise (one job over many generated cases) to keep suite
time sane."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openalex_collaboration_crawler_spark.operators.edges import pairwise_edges
from openalex_collaboration_crawler_spark.streaming.seen import (
    CuckooFilter,
    bloom_build_blob,
    bloom_probe_blob,
)
from tests.oracle.crawler_oracle import canonicalize_url, portable_hash64

url_st = st.from_regex(
    r"https?://[A-Za-z][A-Za-z0-9.-]{0,20}(:[0-9]{1,4})?(/[A-Za-z0-9._~/-]{0,20})?"
    r"(\?[a-z]=[0-9](&[a-z]=[0-9]){0,3})?(#[A-Za-z0-9]{0,8})?",
    fullmatch=True,
)


@given(url_st)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(url):
    c = canonicalize_url(url)
    assert canonicalize_url(c) == c


@given(url_st)
@settings(max_examples=300, deadline=None)
def test_canonical_has_no_fragment_or_default_port(url):
    c = canonicalize_url(url)
    assert "#" not in c
    assert not c.startswith("http://") or ":80/" not in c.split("?")[0] + "/"


@given(st.lists(st.integers(min_value=0, max_value=2**60 - 1), max_size=500))
@settings(max_examples=50, deadline=None)
def test_bloom_never_false_negative(items):
    arr = np.array(items, dtype=np.uint64)
    blob = bloom_build_blob(arr)
    if len(arr):
        assert bloom_probe_blob(blob, arr).all()


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**60 - 1), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=30, deadline=None)
def test_cuckoo_membership_and_delete(items):
    arr = np.array(items, dtype=np.int64)
    cf = CuckooFilter(max(64, len(arr) * 2))
    assert cf.insert_many(arr) == 0
    assert cf.contains_many(arr).all()
    cf.delete_many(arr)
    # after deleting everything the table must be empty
    assert cf.table.sum() == 0


def test_pair_count_formula(spark):
    """|pairwise_edges(work with n authors)| == C(n,2) + [n == 1],
    for n = 1..12 in one job."""
    rows = [(n, f"A{i}", 2000) for n in range(1, 13) for i in range(n)]
    au = spark.createDataFrame(rows, "work_id long, author string, year long")
    counts = pairwise_edges(au).groupBy("work_id").count().collect()
    got = {r["work_id"]: r["count"] for r in counts}
    assert got == {n: n * (n - 1) // 2 + (n == 1) for n in range(1, 13)}


@given(st.text(max_size=50))
@settings(max_examples=200, deadline=None)
def test_portable_hash_range(s):
    h = portable_hash64(s)
    assert 0 <= h < 2**60
