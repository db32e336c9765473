"""The blocking primitive shared by the near-duplicate pair operators.

Every candidate-pair generator has the same shape: rows carry a block
key (an LSH band bucket, a shingle, a SimHash chunk, an embedding
bucket), pairs only form inside a block, and a hot block (boilerplate,
empty docs, a skewed bucket) that would emit O(k²) pairs is dropped
above a cap. Block sizes are counted by one window before any list is
collected, and pairs are generated per block from one list, never by
a self-join: filter-based blocking with separate handling of large
groups (*Distributed Streaming Set Similarity Join*, ICDE 2020), and
no materialization of every pair per token (*LCJoin*, ICDE 2019).
The same sorted-list emitter makes the collaboration-edge chain's
per-work author pairs (operators/edges.py), so pairs enumerated from
a list are made in this module alone.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _sized_blocks(df: DataFrame, block_cols: Sequence[str], lo: int, hi: int) -> DataFrame:
    size = F.count("*").over(Window.partitionBy(*block_cols))
    return df.withColumn("__bsz", size).where(F.col("__bsz").between(lo, hi)).drop("__bsz")


def cap_blocks(df: DataFrame, block_cols: Sequence[str], max_block: int) -> DataFrame:
    """Rows of ``df`` whose block (rows sharing ``block_cols``) holds at
    most ``max_block`` rows."""
    return _sized_blocks(df, block_cols, 1, max_block)


def sorted_list_pairs(df: DataFrame, list_col: str, keep: Sequence[str] = ()) -> DataFrame:
    """One row per element pair (i, j > i) of each row's ``list_col``.

    Output columns: ``keep``, then ``__x`` (element i) and ``__y``
    (element j). The list must already be sorted for ``__x <= __y`` to
    hold; equal elements pair with each other and nothing is filtered,
    so each caller states its own pair predicate. Pairs stream out of a
    nested Generate (each element against the slice after it): a row
    between the two levels holds at most its source's k-element list,
    and no k²-element array is ever built."""
    x = df.select(*keep, list_col, F.posexplode(list_col).alias("__i", "__x"))
    rest = F.slice(list_col, F.col("__i") + 2, F.size(list_col))
    return x.select(*keep, "__x", F.explode(rest).alias("__y"))


def block_pairs(
    df: DataFrame,
    block_cols: Sequence[str],
    id_col: str,
    payload: Sequence[str] = (),
    max_block: int | None = None,
) -> DataFrame:
    """One row per pair of rows sharing a block, with ``a < b`` on ``id_col``.

    Output columns: ``a``, ``b``, then ``<p>_a``, ``<p>_b`` for each
    payload column ``p``. A pair sharing several blocks appears once per
    shared block (callers ``distinct`` or count as their contract
    needs). Blocks above ``max_block`` rows are dropped before any list
    is collected; ``None`` keeps every block. Singleton blocks emit no
    pair and are dropped as early as the plan allows.

    Pairs come from :func:`sorted_list_pairs` over each block's
    id-sorted list; the window's hash partitioning on the block key
    also serves the ``groupBy``, so there is one exchange per block
    key. The sorted-slice form measured 2.3× faster than a per-element
    ``filter`` lambda on 7.35M pairs (4-core x86, local[4])."""
    if max_block is not None:
        df = _sized_blocks(df, block_cols, 2, max_block)
    lists = (
        df.groupBy(*block_cols)
        .agg(F.sort_array(F.collect_list(F.struct(id_col, *payload))).alias("__l"))
        .where(F.size("__l") >= 2)
    )
    xy = sorted_list_pairs(lists, "__l")
    out = [F.col(f"__x.{id_col}").alias("a"), F.col(f"__y.{id_col}").alias("b")]
    for p in payload:
        out += [F.col(f"__x.{p}").alias(f"{p}_a"), F.col(f"__y.{p}").alias(f"{p}_b")]
    # a == b only for a repeated id; dropping it keeps self-join semantics
    return xy.select(*out).where(F.col("a") < F.col("b"))
