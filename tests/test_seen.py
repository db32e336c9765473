"""Seen-set properties: bloom no-false-negatives + FP bound; cuckoo
insert/probe/delete; the JVM Bloom table bit-for-bit against the numpy
reference; Spark-side build/probe/dedup round trip."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.streaming.seen import (
    BLOOM_GROWTH,
    CuckooFilter,
    bloom_build_blob,
    bloom_probe_blob,
    bloom_size,
    build_bloom_table,
    build_cuckoo_table,
    check_bloom_params,
    fixed_bloom_build_blob,
    mark_new_against_seen,
)

RNG = np.random.default_rng(42)


def test_bloom_no_false_negatives_and_fpp():
    members = RNG.integers(0, 2**60, size=20_000, dtype=np.int64).view(np.uint64)
    others = RNG.integers(0, 2**60, size=20_000, dtype=np.int64).view(np.uint64)
    others = np.setdiff1d(others, members)
    blob = bloom_build_blob(members, fpp=0.01)
    assert bloom_probe_blob(blob, members).all()  # no false negatives, ever
    fp_rate = bloom_probe_blob(blob, others).mean()
    assert fp_rate < 0.03  # documented bound: ~1% target, 3x slack


def test_bloom_empty():
    blob = bloom_build_blob(np.array([], dtype=np.uint64))
    assert not bloom_probe_blob(blob, np.array([123], dtype=np.uint64)).any()


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(10_000)
    items = RNG.integers(0, 2**60, size=8_000, dtype=np.int64)
    fails = cf.insert_many(items)
    assert fails == 0
    assert cf.contains_many(items).all()  # no false negatives
    others = RNG.integers(0, 2**60, size=8_000, dtype=np.int64)
    others = np.setdiff1d(others, items)
    assert cf.contains_many(others).mean() < 0.02  # 16-bit fp → tiny FPR
    # delete half, they must disappear; the rest must remain
    half = items[:4_000]
    cf.delete_many(half)
    # deletions can't create false negatives for remaining members
    assert cf.contains_many(items[4_000:]).all()
    # deleted items mostly gone (residual hits = fingerprint collisions)
    assert cf.contains_many(half).mean() < 0.05


def test_cuckoo_serialization_roundtrip():
    cf = CuckooFilter(1000)
    items = RNG.integers(0, 2**60, size=500, dtype=np.int64)
    cf.insert_many(items)
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains_many(items).all()


def _words_by_part(table) -> dict[int, np.ndarray]:
    return {r["part"]: np.array(r["words"], dtype=np.int64) for r in table.collect()}


def _reference_words(hashes: np.ndarray, n_parts: int, m_bits: int, k: int) -> dict:
    """Per part: the numpy blob's bit bytes read as little-endian int64 words."""
    out = {}
    for part in range(n_parts):
        mine = hashes[np.mod(hashes, n_parts) == part]
        blob = fixed_bloom_build_blob(mine.view(np.uint64), m_bits, k)
        out[part] = np.frombuffer(blob[16:], dtype="<i8")
    return out


@pytest.mark.parametrize("m_bits,k", [(1 << 12, 5), (64, 3)])
def test_jvm_bloom_words_match_numpy_reference(spark, m_bits, k):
    """Fresh build and build + delta: every part's JVM words equal the
    bytes of ``fixed_bloom_build_blob`` over that part's hashes, and every
    member probes as maybe-seen (no false negatives). Hashes span the full
    signed int64 range, so the unsigned shift and the sign bit matter."""
    n_parts = 4
    rng = np.random.default_rng(7)
    first = rng.integers(-(2**63), 2**63 - 1, size=600, dtype=np.int64)
    delta = rng.integers(-(2**63), 2**63 - 1, size=300, dtype=np.int64)

    def frame(h):
        return spark.createDataFrame([(int(x),) for x in h], "url_hash bigint")

    built = build_bloom_table(frame(first), n_parts=n_parts, m_bits=m_bits, k=k)
    got = _words_by_part(built)
    want = _reference_words(first, n_parts, m_bits, k)
    assert sorted(got) == list(range(n_parts))
    for part in range(n_parts):
        assert np.array_equal(got[part], want[part]), part

    merged = build_bloom_table(frame(delta), n_parts=n_parts, m_bits=m_bits, k=k, prev=built)
    got = _words_by_part(merged)
    want = _reference_words(np.concatenate([first, delta]), n_parts, m_bits, k)
    for part in range(n_parts):
        assert np.array_equal(got[part], want[part]), part

    members = frame(np.concatenate([first, delta]))
    marked, flagged = mark_new_against_seen(members, members, merged, n_parts=n_parts, k=k)
    assert marked.where(F.col("is_new")).count() == 0
    flagged.unpersist()


@pytest.mark.parametrize("with_bloom", [True, False], ids=["bloom", "exact"])
def test_spark_bloom_dedup_exact(spark, with_bloom):
    """Both dedup strategies flag exactly the unseen candidates: the
    Bloom probe plus survivor check, and the plain exact join."""
    seen = spark.range(0, 1000).select((F.col("id") * 7919).alias("url_hash"))
    cand = spark.range(0, 2000).select(
        (F.col("id") * 7919).alias("url_hash"), F.col("id").alias("payload")
    )
    # a small filter, so false positives reach the exact check too
    bloom = build_bloom_table(seen, n_parts=4, m_bits=1 << 10, k=3) if with_bloom else None
    marked, flagged = mark_new_against_seen(cand, seen, bloom, n_parts=4, k=3)
    got = marked.where("is_new")
    assert got.columns == ["url_hash", "payload", "is_new"]
    ids = sorted(r["payload"] for r in got.collect())
    assert ids == list(range(1000, 2000))  # exactly the unseen half
    assert (flagged is None) != with_bloom
    if flagged is not None:
        flagged.unpersist()


@pytest.mark.parametrize("m_bits,k", [(0, 5), (32, 5), (1000, 5), (3 << 10, 5), (1 << 10, 0)])
def test_build_bloom_table_rejects_bad_params(m_bits, k):
    """The JVM bit positions are exact only for a power-of-two m_bits of
    at least one 64-bit word, and k must name at least one position."""
    with pytest.raises(ValueError, match="bloom"):
        build_bloom_table(None, m_bits=m_bits, k=k)
    check_bloom_params(64, 1)  # the smallest valid filter passes


@pytest.mark.parametrize("fpp", [0.0, 1.0, -0.01, 1.5, float("nan")])
def test_crawl_engine_rejects_bad_bloom_fpp(fpp):
    """The engine's one Bloom setting is a false-positive rate in (0, 1)."""
    from openalex_collaboration_crawler_spark.streaming.frontier import CrawlEngine

    with pytest.raises(ValueError, match="bloom_fpp"):
        CrawlEngine(
            spark=None, state_dir="unused", pages_path="unused", politeness=None, bloom_fpp=fpp
        )


def test_bloom_size_steps():
    """Sizes are 64 · BLOOM_GROWTH^j bits per part, never shrink as the
    set grows, give the mean part the ~9.6 bits per item a 1 % target
    needs, and k follows fpp alone."""
    counts = range(0, 200_000, 997)
    sizes = [bloom_size(n, 16, 0.01) for n in counts]
    steps = {64 * BLOOM_GROWTH**j for j in range(16)}
    assert all(m in steps and k == 7 for m, k in sizes)
    assert [m for m, _ in sizes] == sorted(m for m, _ in sizes)
    assert all(m >= -(-n // 16) * 9.5 for n, (m, _) in zip(counts, sizes))
    assert [bloom_size(10**6, 16, f)[1] for f in (0.05, 0.001)] == [4, 8]  # at most 8


@pytest.mark.parametrize("survivor_join", ["broadcast", "shuffle"])
def test_bloom_probe_runs_candidates_once(spark, tmp_path, survivor_join):
    """The probed candidates feed both the survivor set and the final
    join; materializing ``marked`` must run the candidate subtree (here a
    parquet scan, an explode and a counting UDF) once, not once per
    branch."""
    n = 3000
    path = str(tmp_path / "cands")
    spark.range(n // 3).select(
        F.array(*[(F.col("id") * 3 + i) * 7919 for i in range(3)]).alias("hs")
    ).write.parquet(path)
    rows = spark.sparkContext.accumulator(0)

    def counted(h):
        rows.add(1)
        return h

    cands = (
        spark.read.parquet(path)
        .select(F.explode("hs").alias("h"))
        .select(F.udf(counted, "bigint")("h").alias("url_hash"))
    )
    seen = spark.range(0, n, 2).select((F.col("id") * 7919).alias("url_hash"))
    bloom = build_bloom_table(seen, n_parts=4, m_bits=1 << 12, k=3)
    marked, flagged = mark_new_against_seen(
        cands, seen, bloom, n_parts=4, k=3, survivor_join=survivor_join
    )
    assert marked.where("is_new").count() == n // 2
    flagged.unpersist()
    assert rows.value == n


def test_bloom_fpp_holds_across_growth(spark):
    """A table sized by ``bloom_size`` keeps the false-positive rate on
    held-out hashes within its target, and so does the ×BLOOM_GROWTH
    table that replaces it once the set outgrows it (a fresh build from
    the union). Members never probe as new. The set fills ~90 % of the
    first table: at full load the expected rate equals the target."""
    fpp, n_parts = 0.01, 16
    rng = np.random.default_rng(5)
    m0, k = bloom_size(12_000, n_parts, fpp)
    # the largest set the m0 table holds: 90 % of it, then past it
    cap = max(n for n in range(12_000, 40_000, 16) if bloom_size(n, n_parts, fpp)[0] == m0)
    first = rng.integers(-(2**63), 2**63 - 1, size=int(cap * 0.9), dtype=np.int64)
    more = rng.integers(-(2**63), 2**63 - 1, size=cap, dtype=np.int64)
    held_out = rng.integers(-(2**63), 2**63 - 1, size=200_000, dtype=np.int64)
    m1, k1 = bloom_size(len(first) + len(more), n_parts, fpp)
    assert (m1, k1) == (m0 * BLOOM_GROWTH, k)

    def frame(hashes):
        return spark.createDataFrame(pd.DataFrame({"url_hash": hashes}))

    def probe(cands, members, table) -> tuple[int, int]:
        """(candidates the Bloom flags maybe-seen, candidates marked new)."""
        marked, flagged = mark_new_against_seen(
            frame(cands), frame(members), table, n_parts=n_parts, k=k
        )
        maybe = flagged.agg(F.sum(F.col("maybe_seen").cast("int"))).first()[0]
        new = marked.where("is_new").count()
        flagged.unpersist()
        return maybe, new

    rates = []
    for members, m_bits in ((first, m0), (np.concatenate([first, more]), m1)):
        table = build_bloom_table(frame(members), n_parts=n_parts, m_bits=m_bits, k=k).cache()
        assert probe(members, members, table) == (len(members), 0)
        rates.append(probe(held_out, members, table)[0] / len(held_out))
        table.unpersist()
    assert 0 < rates[0] <= fpp, rates
    assert rates[1] <= fpp, rates


def test_spark_cuckoo_table_builds(spark):
    seen = spark.range(0, 500).select((F.col("id") * 104729).alias("url_hash"))
    tbl = build_cuckoo_table(seen, n_parts=4).collect()
    assert len(tbl) == 4
    total_hits = 0
    for row in tbl:
        cf = CuckooFilter.from_bytes(bytes(row["blob"]))
        hits = cf.contains_many(np.arange(500, dtype=np.int64) * 104729)
        total_hits += int(hits.sum())
    assert total_hits >= 500  # every member found in its partition's filter
