"""Deduplication operators for web-scale corpus curation.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. All are compositions of built-in
DataFrame ops over the portable hash family
(functions/hashing.py), so every variant has an exact DuckDB
oracle.

The reference's only dedup is in-memory: the AffMap distinct-insert
(generation/src/openalex_json.cpp:128-134) and the first_seen dict
(analysis/12_new_author_distribution.py:61-77). These operators are
the distributed generalization: dedup keys are *data*, shuffled once
on the group key, never a driver-side set.

Scale notes:
- exact: one hash-agg shuffle on a 128-bit fingerprint; map-side
  combine collapses intra-partition dups before the wire.
- minhash LSH: signatures are row-side array reductions over each
  doc's shingle hashes — no shuffle before the band buckets. Pairs
  are generated per band bucket (operators/blocks.py); bucket sizes
  are the skew risk (boilerplate/empty docs) → drop buckets over a
  cap, exactly like production LSH pipelines.
- simhash: per-bit sums are row-side array aggregates — no shuffle
  and no row blowup at all.
- every pair generator (minhash, n-gram, simhash) goes through
  operators/blocks.block_pairs: one exchange per block key, pairs
  emitted array-side with a<b only, no self-join and no eager
  checkpoint (nothing runs until the caller's action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openalex_collaboration_crawler_spark.functions.hashing import (
    perm_hash,
    perm_hash_sql,
    portable_hash64,
    portable_hash64_sql,
)
from openalex_collaboration_crawler_spark.functions.text import (
    fingerprint,
    fingerprint_sql,
    shingles,
    shingles_sql,
)
from openalex_collaboration_crawler_spark.operators.blocks import block_pairs, cap_blocks

# ---------------------------------------------------------------- exact


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fp, n_dups, canonical_id = min id)."""
    return (
        docs.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("canonical_id"))
        .where(F.col("n_dups") >= 2)
    )


def exact_dup_groups_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
SELECT fp, count(*) AS n_dups, min(id) AS canonical_id
FROM (SELECT {id_col} AS id, {fingerprint_sql(text_col)} AS fp FROM {table})
GROUP BY fp HAVING count(*) >= 2
"""


# ------------------------------------------------------- shingle tables


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc: (id, shingle).

    Per-doc dedup happens ARRAY-SIDE (``array_distinct`` before the
    explode) instead of a post-explode ``distinct()`` — same row set,
    but no shuffle of raw shingle strings (r6, guide §2.4: the old
    plan's only exchange existed to dedup within a key that is already
    colocated on one row).

    The source is parallelism-guarded: a single-file corpus would
    otherwise run ALL shingling+hashing in one scan task."""
    from openalex_collaboration_crawler_spark.operators import ensure_parallelism

    docs = ensure_parallelism(docs.select(id_col, text_col))
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )


def doc_shingle_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    salt: str = "",
    distinct: bool = True,
) -> DataFrame:
    """(id, harr): per-doc array of 60-bit portable shingle hashes —
    the zero-shuffle base for signature operators (r6).

    MinHash and SimHash consume shingles only through per-doc
    commutative reductions (min / signed bit counts), so the whole
    signature can be computed row-side from this array without ever
    exploding: no exchange, no shuffled shingle strings. ``distinct``
    mirrors doc_shingles' per-doc dedup (required for SimHash's
    multiplicity-sensitive sums; MinHash's min is dup-invariant)."""
    from openalex_collaboration_crawler_spark.operators import ensure_parallelism

    docs = ensure_parallelism(docs.select(id_col, text_col))
    arr = shingles(text_col, n)
    if distinct:
        arr = F.array_distinct(arr)
    return docs.select(
        F.col(id_col).alias("id"),
        F.transform(arr, lambda s: portable_hash64(s, salt=salt)).alias("harr"),
    )


def doc_shingles_sql(table: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> str:
    return f"""
SELECT DISTINCT {id_col} AS id, unnest({shingles_sql(text_col, n)}) AS shingle
FROM {table}
"""


# -------------------------------------------------------- n-gram Jaccard


DEFAULT_MAX_DOC_FREQ = 1000


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """All pairs (a<b) with shingle-Jaccard ≥ threshold.

    Inverted index: pairs only materialize for docs sharing ≥1
    shingle (:func:`~.blocks.block_pairs` over the shingle). At scale,
    hot shingles (boilerplate) are the skew hazard: ONE shingle shared
    by 10^6 docs emits ~5·10^11 pairs. Shingles appearing in more than
    ``max_doc_freq`` docs are therefore dropped BEFORE any pair is
    generated (one window over the shingle shuffle), and Jaccard is
    computed over the surviving shingle space for both the
    intersection and the set sizes — a consistent,
    documented approximation (boilerplate shingles carry no dedup
    signal), standard in production near-dup pipelines. The oracle
    mirrors the cap exactly.
    """
    sh = doc_shingles(docs, text_col, id_col, n)
    inter = (
        block_pairs(sh, ["shingle"], "id", max_block=max_doc_freq)
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = cap_blocks(sh, ["shingle"], max_doc_freq).groupBy("id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs_sql(
    table: str,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int = DEFAULT_MAX_DOC_FREQ,
) -> str:
    sh = doc_shingles_sql(table, text_col, id_col, n)
    return f"""
WITH sh_all AS ({sh}),
sh AS (
  SELECT id, shingle FROM (
    SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh_all
  ) WHERE df <= {max_doc_freq}
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT x.id AS a, y.id AS b, count(*) AS inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
  GROUP BY 1, 2
)
SELECT a, b,
       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.id JOIN sizes sb ON inter.b = sb.id
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= {threshold}
"""


# ----------------------------------------------------------- MinHash LSH

N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, mh_0..mh_{P-1}): min permuted-hash per permutation family.

    ONE md5 per shingle; the P permutations are overflow-free affine
    maps of that base hash (functions/hashing.perm_hash) — ~P× less
    hashing than salted-md5-per-perm. ZERO shuffle (r6): min over a
    doc's shingles is a per-row array reduction, so the signature is
    computed inside the scan stage via array_min over the per-doc hash
    array — the old explode + groupBy(id) exchange shuffled |docs| × P
    longs to recompute a value each row already determines. min is
    duplicate-invariant, so skipping the per-doc distinct is exact.
    """
    sh = doc_shingle_hashes(docs, text_col, id_col, n, distinct=False)
    cols = [
        F.array_min(F.transform(F.col("harr"), lambda b: perm_hash(b, p))).alias(f"mh_{p}")
        for p in range(N_PERMS)
    ]
    return sh.select("id", *cols)


def minhash_signatures_sql(table: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> str:
    sh = doc_shingles_sql(table, text_col, id_col, n)
    base = portable_hash64_sql("shingle")
    aggs = ",\n  ".join(
        f"min({perm_hash_sql('base', p)}) AS mh_{p}" for p in range(N_PERMS)
    )
    return (
        f"WITH sh0 AS ({sh}), sh AS (SELECT id, {base} AS base FROM sh0)\n"
        f"SELECT id, {aggs} FROM sh GROUP BY id"
    )


def minhash_band_buckets(sigs: DataFrame) -> DataFrame:
    """(id, band, bucket): portable hash of each band's signature slice.

    One explode over a per-row array of (band, bucket) structs instead
    of a B-way plan-level union (r6): Catalyst does not deduplicate
    common subplans, so the union form planned and executed the whole
    signature pipeline once per band."""
    entries = []
    for band in range(N_BANDS):
        cols = [f"mh_{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = F.concat_ws(",", *[F.col(c).cast("string") for c in cols])
        entries.append(
            F.struct(
                F.lit(band).alias("band"),
                portable_hash64(key, salt=f"band{band}").alias("bucket"),
            )
        )
    return sigs.select("id", F.explode(F.array(*entries)).alias("__bb")).select(
        "id", F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket")
    )


def minhash_band_buckets_sql(sigs_sql: str) -> str:
    parts = []
    for band in range(N_BANDS):
        cols = [f"mh_{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        parts.append(
            f"SELECT id, {band} AS band, "
            f"{portable_hash64_sql(f'({key})', salt=f'band{band}')} AS bucket FROM sigs"
        )
    return f"WITH sigs AS ({sigs_sql})\n" + "\nUNION ALL\n".join(parts)


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Distinct candidate pairs (a<b) sharing ≥1 LSH band bucket.

    Buckets larger than ``max_bucket`` are dropped (boilerplate
    explosion guard — at 10^10 docs a single mega-bucket would emit
    O(n²) pairs and dominate the job).

    Pairs come from :func:`~.blocks.block_pairs` over (band, bucket):
    buckets are counted before any list is collected, so no list
    exceeds ``max_bucket`` ids and a 10^8-doc boilerplate bucket is
    dropped without ever being materialized."""
    bk = minhash_band_buckets(minhash_signatures(docs, text_col, id_col, n))
    return block_pairs(bk, ["band", "bucket"], "id", max_block=max_bucket).select("a", "b").distinct()


def minhash_candidate_pairs_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3, max_bucket: int = 64
) -> str:
    sigs = minhash_signatures_sql(table, text_col, id_col, n)
    buckets = minhash_band_buckets_sql(sigs)
    return f"""
WITH buckets AS ({buckets}),
kept AS (
  SELECT b.* FROM buckets b
  JOIN (SELECT band, bucket FROM buckets
        GROUP BY band, bucket HAVING count(*) <= {max_bucket}) ok
  USING (band, bucket)
)
SELECT DISTINCT x.id AS a, y.id AS b
FROM kept x JOIN kept y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
"""


# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, simhash): 32-bit SimHash over shingle hashes.

    ZERO shuffle (r6): the per-bit ±1 sums are commutative reductions
    over a doc's distinct shingles, computed row-side as array
    aggregates over the per-doc hash array — the old explode +
    groupBy(id) exchange shuffled rows to recompute per-row values.
    Distinctness (multiplicity-sensitive sums) is preserved via the
    array_distinct inside doc_shingle_hashes. Ties (sum == 0) set the
    bit (>= 0), fixed for parity."""
    sh = doc_shingle_hashes(docs, text_col, id_col, n, salt="simhash", distinct=True)
    bit_sums = [
        F.aggregate(
            F.col("harr"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_bit = sh.select("id", *bit_sums)
    acc = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"s{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return per_bit.select("id", acc.alias("simhash"))


def simhash_sql(table: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> str:
    sh = doc_shingles_sql(table, text_col, id_col, n)
    h = portable_hash64_sql("shingle", salt="simhash")
    sums = ",\n  ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    acc = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH sh AS (SELECT id, shingle, {h} AS h FROM ({sh})),
per_bit AS (SELECT id, {sums} FROM sh GROUP BY id)
SELECT id, ({acc}) AS simhash FROM per_bit
"""


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pairs (a<b) with SimHash Hamming distance ≤ max_hamming.

    Scale path: block on bit-chunks, then verify. Pigeonhole rule: the
    32 bits are cut into ``max_hamming + 1`` contiguous ranges
    (bounds ``32·c // (max_hamming + 1)``); a pair differing in at most
    ``max_hamming`` bits leaves at least one range untouched, so it
    shares that exact chunk and is found. At the default 3 these are
    four 8-bit chunks. Blocks are uncapped (the oracle's contract is
    exact), and the all-pairs product is never formed. Raises
    ``ValueError`` unless ``0 <= max_hamming < 32``."""
    if not 0 <= max_hamming < SIMHASH_BITS:
        raise ValueError(f"max_hamming must be in [0, {SIMHASH_BITS}), got {max_hamming}")
    n_chunks = max_hamming + 1
    bounds = [SIMHASH_BITS * c // n_chunks for c in range(n_chunks + 1)]
    # one explode instead of an n_chunks-way plan-level union (r6)
    chunk_entries = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.col("simhash").bitwiseAND(F.lit(((1 << hi) - 1) ^ ((1 << lo) - 1))).alias("chunk_val"),
        )
        for c, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
    ]
    blocks = simhash(docs, text_col, id_col).select(
        "id", "simhash", F.explode(F.array(*chunk_entries)).alias("__c")
    ).select("id", "simhash", "__c.chunk", "__c.chunk_val")
    cand = block_pairs(blocks, ["chunk", "chunk_val"], "id", payload=["simhash"]).distinct()
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return cand.withColumn("hamming", ham.cast("int")).where(
        F.col("hamming") <= max_hamming
    ).select("a", "b", "hamming")


def simhash_neardup_pairs_sql(
    table: str, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    base = simhash_sql(table, text_col, id_col)
    return f"""
WITH sh AS ({base})
SELECT x.id AS a, y.id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM sh x JOIN sh y ON x.id < y.id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""
