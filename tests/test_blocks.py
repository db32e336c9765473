"""The blocking primitive (operators/blocks.py) and the SimHash
pigeonhole rule that feeds it."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from openalex_collaboration_crawler_spark.operators import dedup as DD
from openalex_collaboration_crawler_spark.operators.blocks import block_pairs

MAX_BLOCK = 4
BASE = {"s": 100, "t": 200, "full": 300, "over": 400}


def _block(name: str, k: int) -> list[tuple[str, int, str]]:
    # ids descend so a<b is the operator's doing, not the input order
    return [(name, BASE[name] - i, f"{name}{i}") for i in range(k)]


@pytest.mark.parametrize(
    "rows, max_block, n_pairs",
    [
        pytest.param(_block("s", 1) + _block("t", 1), MAX_BLOCK, 0, id="singletons_emit_nothing"),
        pytest.param(_block("full", MAX_BLOCK), MAX_BLOCK, MAX_BLOCK * (MAX_BLOCK - 1) // 2, id="at_cap"),
        pytest.param(_block("over", MAX_BLOCK + 1), MAX_BLOCK, 0, id="over_cap_dropped"),
        pytest.param(
            _block("full", MAX_BLOCK) + _block("over", MAX_BLOCK + 1) + _block("s", 1),
            MAX_BLOCK,
            MAX_BLOCK * (MAX_BLOCK - 1) // 2,
            id="mixed",
        ),
        pytest.param(
            _block("over", MAX_BLOCK + 1) + _block("s", 1),
            None,
            (MAX_BLOCK + 1) * MAX_BLOCK // 2,
            id="uncapped_keeps_every_block",
        ),
        # a repeated id pairs like a self-join on x.id < y.id: (7, 9) twice
        pytest.param(
            [("r", 9, "r0"), ("r", 7, "r1"), ("r", 7, "r2")], MAX_BLOCK, 2, id="repeated_id"
        ),
    ],
)
def test_block_pairs_contract(spark, rows, max_block, n_pairs):
    df = spark.createDataFrame(rows, "blk string, id long, tag string")
    out = block_pairs(df, ["blk"], "id", payload=["tag"], max_block=max_block)
    assert out.columns == ["a", "b", "tag_a", "tag_b"]
    got = Counter(tuple(r) for r in out.collect())
    assert sum(got.values()) == n_pairs
    # reference: the self-join x.blk = y.blk AND x.id < y.id over kept blocks
    size = Counter(blk for (blk, _, _) in rows)
    kept = [r for r in rows if max_block is None or size[r[0]] <= max_block]
    want = Counter(
        (x[1], y[1], x[2], y[2]) for x in kept for y in kept if x[0] == y[0] and x[1] < y[1]
    )
    assert got == want


def test_simhash_neardup_matches_oracle_beyond_hamming_3(spark, sf_dir):
    """Four fixed 8-bit chunks only cover Hamming ≤ 3; at h=6 the fixed
    chunking found 53 of the oracle's 66 pairs at sf0.001."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(tuple(r) for r in DD.simhash_neardup_pairs(docs, max_hamming=6).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = sorted(con.sql(DD.simhash_neardup_pairs_sql("documents", max_hamming=6)).fetchall())
    assert len(want) > 0
    assert got == want


@pytest.mark.parametrize("max_hamming", [-1, DD.SIMHASH_BITS])
def test_simhash_neardup_rejects_out_of_range_hamming(spark, max_hamming):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        DD.simhash_neardup_pairs(docs, max_hamming=max_hamming)
