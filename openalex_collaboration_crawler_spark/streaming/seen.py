"""URL-seen set: partitioned Bloom filter + cuckoo fallback.

The reference's seen-set analogues are driver-local dicts/sets
(analysis/12_new_author_distribution.py:61-77 first_seen dict;
generation/src/openalex_json.cpp:128-134 AffMap distinct-insert).
At 10^10 URLs neither fits one machine, so:

- **Exactness** comes from a join of candidate url_hashes against the
  seen table (``mark_new_against_seen``) — distributed, spill-safe.
  While the seen set is small that is the whole dedup: one left join.
- **Efficiency** at scale comes from a *partitioned Bloom prefilter*: one
  ``array<bigint>`` of ``m_bits / 64`` words per hash partition, built,
  OR-merged and probed in plain Spark SQL (explode → ``bit_or`` per word
  → ordered ``collect_list``; probe = k codegen'd ``element_at`` bit
  tests), so neither the dedup nor the filter maintenance starts a
  Python worker or crosses Arrow. Probing drops the overwhelming
  majority of already-seen candidates before they reach the exact
  check. False positives are safe — the exact check is still consulted
  for *survivors*; false negatives cannot occur. :func:`bloom_size`
  sizes the table to the set it holds and one false-positive target,
  in steps of ``BLOOM_GROWTH``, so maintenance costs O(batch + set),
  not a fixed table. The numpy ``fixed_bloom_build_blob`` is the
  reference the tests compare the JVM words against bit for bit.
- **Deletions** (recrawl policies) break Blooms; the fallback is a
  partition-local **cuckoo filter** (numpy, 4-slot buckets, 16-bit
  fingerprints, the Bloom's build/probe API plus ``delete``). No crawl
  path deletes from the seen set yet, so only test_seen and
  test_properties reach ``CuckooFilter`` and ``build_cuckoo_table``.

Partitioning: filter rows are keyed by ``part = pmod(url_hash,
n_parts)`` and candidates join them on the same key. Spark broadcasts
the table while it is small and shuffle-joins it when it is not, so the
full filter — tens of GB at 10^10 keys — is never broadcast.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------- bloom core


def _bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m, k) of the optimal filter over ``n_items`` at false-positive
    rate ``fpp``: m = n·(−ln fpp)/ln²2 bits (a whole number of bytes, at
    least 64) and k = (m/n)·ln 2 = −log2 fpp positions, at most 8. k
    depends on ``fpp`` alone, so a larger m than asked for keeps it and
    only lowers the rate."""
    n = max(n_items, 1)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, (m + 7) // 8 * 8)
    return m, min(8, max(1, round(-math.log2(fpp))))


def _bloom_positions(h: np.ndarray, m: int, k: int) -> np.ndarray:
    """Double hashing: pos_j = (h1 + j*h2) mod m, vectorized (n,k). h1
    comes from the hash's high half: the Spark table keys its parts on the
    low bits, which would otherwise fix h1's low bits per part and crowd
    every first position into 1/n_parts of the part's bits (16 parts of
    2^14 bits, k = 7, at full load: 1.55 % false positives on 400k
    held-out hashes for a 1 % target; 1.04 % from the high half)."""
    h = h.astype(np.uint64)
    h1 = (h >> np.uint64(32)) % np.uint64(m)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m)
    j = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + j * h2[:, None]) % np.uint64(m)


def bloom_build_blob(hashes: np.ndarray, fpp: float = 0.01) -> bytes:
    m, k = _bloom_params(len(hashes), fpp)
    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(hashes):
        pos = _bloom_positions(np.asarray(hashes), m, k).ravel()
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    header = np.array([m, k], dtype=np.uint64).tobytes()
    return header + bits.tobytes()


def bloom_probe_blob(blob: bytes, hashes: np.ndarray) -> np.ndarray:
    """Boolean 'maybe seen' per hash (vectorized)."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    m, k = np.frombuffer(blob[:16], dtype=np.uint64)
    bits = np.frombuffer(blob[16:], dtype=np.uint8)
    pos = _bloom_positions(np.asarray(hashes), int(m), int(k))
    hit = (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
    return hit.all(axis=1).astype(bool)


# ------------------------------------------------- fixed-size bloom (incremental)


def fixed_bloom_build_blob(hashes: np.ndarray, m_bits: int, k: int) -> bytes:
    """Bloom blob with caller-pinned (m, k): a 16-byte (m, k) header,
    then bit ``pos`` at bit ``pos % 8`` of byte ``pos // 8``. The numpy
    reference for :func:`build_bloom_table`, whose words are these
    bytes read as little-endian int64. It is also the older on-disk
    ``(part, blob)`` layout, which the crawl engine detects and rebuilds."""
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(hashes):
        pos = _bloom_positions(np.asarray(hashes), m_bits, k).ravel()
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    header = np.array([m_bits, k], dtype=np.uint64).tobytes()
    return header + bits.tobytes()


# ------------------------------------------------ bloom on Spark (JVM only)

BLOOM_SCHEMA = "part int, words array<bigint>"

# a table that outgrows its set is rebuilt this many times larger: the
# sizes are 64·4^j bits per part, so after a step the load is 1/4 to 1
BLOOM_GROWTH = 4
# words per merge task. Merging 25k new hashes into 16 parts (local[4],
# 4-core x86 VM, median of 6) took at 1 / 2 / 4 tasks: 2^16 words
# 0.45 / 0.38 / 0.41 s, 2^18 words 1.01 / 0.72 / 0.56 s, 2^20 words
# 2.36 / 1.56 / 1.27 s. At 2^12 and 2^14 words the task count moved
# nothing beyond noise, and one task writes the table as one file.
BLOOM_WORDS_PER_TASK = 1 << 15


def bloom_size(n_items: int, n_parts: int, fpp: float) -> tuple[int, int]:
    """Per-part ``(m_bits, k)`` of a Bloom table holding ``n_items`` over
    ``n_parts`` parts at false-positive rate ``fpp``: the smallest
    ``64 · BLOOM_GROWTH^j`` bits that :func:`_bloom_params` asks for the
    mean part, and its k. Both are pure functions of the item count, and
    a growing set only ever moves to the next size up."""
    need, k = _bloom_params(-(-n_items // n_parts), fpp)
    m_bits = 64
    while m_bits < need:
        m_bits *= BLOOM_GROWTH
    return m_bits, k


def bloom_format(n_parts: int, m_bits: int, k: int) -> dict:
    """Identity of a Bloom table's layout and parameters. The crawl
    engine records it in each commit next to ``bloom/v{N}``; a table
    whose recorded format differs (or is missing) is rebuilt instead of
    read, because any other layout would probe as "never seen".
    ``words2`` takes h1 from the hash's high half (``words`` took it from
    the low bits, see :func:`_bloom_positions`)."""
    return {"layout": "words2", "parts": n_parts, "m_bits": m_bits, "k": k}


def check_bloom_params(m_bits: int, k: int) -> None:
    """The JVM bit-position arithmetic masks with ``m_bits - 1``, which
    equals ``mod m_bits`` only for powers of two; a word holds 64 bits."""
    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError(f"bloom m_bits must be a power of two >= 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"bloom k must be >= 1, got {k}")


# The size of a table never reaches generated source: the build reads its
# mask through codegen's references array and the probe derives it from
# the words it meets, so a growth step compiles nothing new. The Columns
# are built once per process, as functions/url.py does for the
# canonicalizer (each costs tens of py4j round trips).


def _bloom_position_cols(h: Column, mask: Column, k: int) -> list[Column]:
    """The k bit positions of :func:`_bloom_positions`, in signed int64:
    with ``mask`` = m_bits - 1 for a power-of-two m_bits, ``x & mask`` is
    ``x mod m_bits`` on the unsigned bit pattern and ``>>>`` is the
    unsigned shift."""
    h1 = F.shiftrightunsigned(h, 32).bitwiseAND(mask)
    h2 = F.shiftrightunsigned(h, 17).bitwiseOR(F.lit(1).cast("bigint")).bitwiseAND(mask)
    return [(h1 + h2 * j).bitwiseAND(mask) for j in range(k)]


def _bit(p: Column) -> Column:
    """The one-bit bigint mask of position ``p`` inside its word."""
    return F.call_function("shiftleft", F.lit(1).cast("bigint"), p.bitwiseAND(63).cast("int"))


def ref_lit(v: int, row: Column) -> Column:
    """Integer ``v``, read from codegen's references array instead of
    inlined into generated source, so a plan that carries a per-batch
    value (a batch id, a table size) compiles the same classes for every
    value. A primitive ``F.lit(v)`` is inlined: each new value is a new
    source string, a fresh Janino compile (~40-70 ms, driver-blocking)
    and cold-JIT first executions, 4-6 per crawl batch as measured by
    CodegenMetrics. An array literal is non-primitive and goes through
    the references array; indexing it with ``(row & 0) + 1`` (``row`` a
    bigint column without null values) keeps the optimizer from
    collapsing the lookup back into a primitive, because Catalyst does
    not simplify ``x & 0`` for a non-foldable ``x``. (It does fold
    ``x * 0`` when ``x`` is not nullable.) The expression is
    deterministic, so it may sit anywhere in a plan: a generator, below a
    filter or a join.

    Coupled to the Spark version (written against 4.1): an optimizer rule
    that simplified ``x & 0`` would inline the value again. The result
    stays correct; only the recompiles come back, which
    tests/test_crawl_parity.py::test_ref_lit_int detects."""
    return F.element_at(F.lit([v]), (row.bitwiseAND(F.lit(0)) + 1).cast("int"))


@functools.cache
def _bloom_bit_rows(hash_col: str, n_parts: int, m_bits: int, k: int) -> tuple[Column, Column]:
    """``(part, pos)`` of every bit a hash sets, ``pos`` as an explode."""
    h = F.col(hash_col)
    mask = ref_lit(m_bits - 1, h).cast("bigint")
    part = F.pmod(h, F.lit(n_parts)).cast("int").alias("part")
    return part, F.explode(F.array(*_bloom_position_cols(h, mask, k))).alias("pos")


@functools.cache
def _bloom_hit(hash_col: str, k: int) -> Column:
    """Maybe-seen flag of a candidate joined to its part's ``words``: a
    codegen'd AND of k single-bit word tests, masked by the words' own
    size. A part without words probes as maybe-seen."""
    h = F.col(hash_col)
    mask = F.shiftleft(F.size("words").cast("bigint"), 6) - 1
    hit = None
    for p in _bloom_position_cols(h, mask, k):
        word = F.element_at("words", F.shiftright(p, 6).cast("int") + 1)
        term = word.bitwiseAND(_bit(p)) != 0
        hit = term if hit is None else hit & term
    return F.coalesce(hit, F.lit(True)).alias("maybe_seen")


def build_bloom_table(
    hashes: DataFrame,
    hash_col: str = "url_hash",
    n_parts: int = 32,
    m_bits: int = 1 << 20,
    k: int = 5,
    prev: DataFrame | None = None,
) -> DataFrame:
    """(part, words) Bloom table over ``hashes``, OR-ed into ``prev``.

    Part ``p`` holds the bits of :func:`fixed_bloom_build_blob` over the
    hashes with ``pmod(h, n_parts) = p``, as ``m_bits / 64`` little-endian
    words: bit ``pos`` is bit ``pos & 63`` of word ``pos >> 6``. The
    standing words (``prev``, or zeros for a fresh build) are exploded to
    one row per word, unioned with one row per new bit, OR-ed per word
    and collected back in word order — plain Spark SQL, no Python
    worker. Incremental maintenance thus costs O(|hashes| + table), never
    a rescan of the full seen set. The merge runs one task per
    ``BLOOM_WORDS_PER_TASK`` words, up to the session's parallelism, and
    writes one file per task."""
    check_bloom_params(m_bits, k)
    n_words = m_bits // 64
    width = max(1, n_parts * n_words // BLOOM_WORDS_PER_TASK)
    width = min(width, n_parts, hashes.sparkSession.sparkContext.defaultParallelism)
    if prev is None:
        prev_words = hashes.sparkSession.range(n_parts).select(
            F.col("id").cast("int").alias("part"),
            F.posexplode(
                F.array_repeat(F.lit(0).cast("bigint"), ref_lit(n_words, F.col("id")).cast("int"))
            ).alias("w", "word"),
        )
    else:
        prev_words = prev.select("part", F.posexplode("words").alias("w", "word"))
    new_words = hashes.select(*_bloom_bit_rows(hash_col, n_parts, m_bits, k)).select(
        "part",
        F.shiftright("pos", 6).cast("int").alias("w"),
        _bit(F.col("pos")).alias("word"),
    )
    # one exchange on part serves both aggregations (a hash partitioning
    # on part also clusters every (part, w)); letting each aggregation
    # shuffle on its own keys measured 0.73 vs 0.55 s per merge of 25k
    # new bits into 16 parts x 2^20 bits (local[4], 4-core x86 VM)
    merged = prev_words.unionByName(new_words)
    return (
        merged.repartition(width, "part")
        .groupBy("part", "w")
        .agg(F.bit_or("word").alias("word"))
        .groupBy("part")
        .agg(F.sort_array(F.collect_list(F.struct("w", "word"))).alias("ws"))
        .select("part", F.col("ws.word").alias("words"))
    )


def mark_new_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_table: DataFrame | None = None,
    hash_col: str = "url_hash",
    n_parts: int = 32,
    k: int = 5,
    survivor_join: str = "broadcast",
) -> tuple[DataFrame, DataFrame | None]:
    """``(marked, flagged)``: the candidates + exact ``is_new`` flag, and
    the persisted probe output ``marked`` reads (None without a Bloom
    table). Unpersist ``flagged`` once done with ``marked``.

    Without a ``bloom_table`` this is ONE co-partitioned left join
    against the seen table: while the seen set is small (the crawl's
    ``bloom_min_seen``) it beats the Bloom machinery's extra broadcast
    and merge jobs. With one, the Bloom probe runs first and only the
    maybe-seen *survivors* are exact-checked against the seen table.
    Each candidate meets its part's words in an equi-join on ``part``
    (Spark broadcasts the table when it is small and shuffles both sides
    when it is not, so the filter is never replicated per row at scale).

    survivor_join (Bloom path only):
      - ``"broadcast"``: survivors broadcast into a semi-join that only
        SCANS seen, the small matched set broadcast back — zero shuffle
        of the seen table. Right when survivors are small (typical
        batch: survivors ≈ true dups + fp-rate × new).
      - ``"shuffle"``: co-partitioned shuffle joins on ``hash_col`` —
        the scale-safe fallback when a recrawl-heavy batch would make
        the survivor set too large to broadcast (driver/executor OOM
        at 10^10 scale). On a real deployment the seen table is
        bucketed on the hash, so "shuffle" moves only the candidates.

    The flagged candidates feed both the survivor set and the final
    join, and Catalyst shares no subplan between the two, so ``flagged``
    is persisted: the first job that reads it (the survivor broadcast,
    or the shuffle join's first stage) runs the candidate subtree and
    the probe once, and the other branch reads the cache. No job runs
    before the caller's action.

    Callers should ``.cache()`` ``marked`` before taking multiple
    actions on it (the exact check re-executes otherwise)."""
    if bloom_table is None:
        marked = (
            candidates.join(seen.select(hash_col).withColumn("__m", F.lit(1)), hash_col, "left")
            .withColumn("is_new", F.col("__m").isNull())
            .drop("__m")
        )
        return marked, None
    keyed = candidates.withColumn("part", F.pmod(F.col(hash_col), F.lit(n_parts)).cast("int"))
    flagged = (
        keyed.join(bloom_table.select("part", "words"), "part", "left")
        .select(*candidates.columns, _bloom_hit(hash_col, k))
        .persist()
    )
    survivors = flagged.where(F.col("maybe_seen")).select(hash_col)
    if survivor_join == "broadcast":
        matched = (
            seen.select(hash_col)
            .join(F.broadcast(survivors), hash_col, "left_semi")
            .withColumn("__matched", F.lit(1))
        )
        out = flagged.join(F.broadcast(matched), hash_col, "left")
    else:
        matched = (
            seen.select(hash_col)
            .join(survivors, hash_col, "left_semi")
            .withColumn("__matched", F.lit(1))
        )
        out = flagged.join(matched, hash_col, "left")
    out = out.withColumn("is_new", ~F.col("maybe_seen") | F.col("__matched").isNull())
    return out.drop("__matched", "maybe_seen"), flagged


# ------------------------------------------------------------ cuckoo core


class CuckooFilter:
    """Partition-local cuckoo filter: 4-slot buckets, 16-bit
    fingerprints, supports delete (the Bloom fallback for recrawl).

    Vectorized numpy storage; insert loop is per-item (amortized O(1),
    used only for filter maintenance — membership probes are
    vectorized)."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int):
        n_buckets = 1
        while n_buckets * self.SLOTS < capacity * 1.05:
            n_buckets *= 2
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self._rng_state = 0x9E3779B9

    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h & np.uint64(self.n_buckets - 1)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # standard partial-key cuckoo: i2 = i1 xor hash(fp)
        fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(self.n_buckets - 1)
        return (i1.astype(np.uint64) ^ fph).astype(np.int64)

    def insert_many(self, hashes: np.ndarray) -> int:
        h = hashes.view(np.uint64) if hashes.dtype == np.int64 else hashes.astype(np.uint64)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        n_fail = 0
        for fp, i1, i2 in zip(fps, i1s, i2s):
            if not self._insert_one(int(fp), int(i1), int(i2)):
                n_fail += 1
        return n_fail

    def _insert_one(self, fp: int, i1: int, i2: int) -> bool:
        for i in (i1, i2):
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        i = i1
        for _ in range(self.MAX_KICKS):
            self._rng_state = (1103515245 * self._rng_state + 12345) % (1 << 31)
            slot = self._rng_state % self.SLOTS
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
            fph = (fp * 0x5BD1E995) & (self.n_buckets - 1)
            i ^= fph
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        return False

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.view(np.uint64) if hashes.dtype == np.int64 else hashes.astype(np.uint64)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        in1 = (self.table[i1s] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2s] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete_many(self, hashes: np.ndarray) -> int:
        h = hashes.view(np.uint64) if hashes.dtype == np.int64 else hashes.astype(np.uint64)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        n = 0
        for fp, i1, i2 in zip(fps, i1s, i2s):
            for i in (int(i1), int(i2)):
                slots = np.nonzero(self.table[i] == fp)[0]
                if len(slots):
                    self.table[i, slots[0]] = 0
                    n += 1
                    break
        return n

    def to_bytes(self) -> bytes:
        return (
            np.array([self.n_buckets], dtype=np.uint64).tobytes() + self.table.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        n_buckets = int(np.frombuffer(blob[:8], dtype=np.uint64)[0])
        obj = cls.__new__(cls)
        obj.n_buckets = n_buckets
        obj.table = (
            np.frombuffer(blob[8:], dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        )
        obj._rng_state = 0x9E3779B9
        return obj


def build_cuckoo_table(
    seen: DataFrame, hash_col: str = "url_hash", n_parts: int = 32, headroom: float = 1.5
) -> DataFrame:
    """(part, blob) cuckoo-filter table — same layout as the Bloom
    table but deletable."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0]) if len(pdf) else 0
        cf = CuckooFilter(max(64, int(len(pdf) * headroom)))
        cf.insert_many(pdf["h"].to_numpy(np.int64))
        return pd.DataFrame({"part": [part], "blob": [cf.to_bytes()]})

    keyed = seen.select(
        F.col(hash_col).alias("h"), F.pmod(F.col(hash_col), F.lit(n_parts)).alias("part")
    )
    return keyed.groupBy("part").applyInPandas(build, schema="part int, blob binary")
