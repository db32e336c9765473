"""Portable deterministic 64-bit hashing.

The engine's internal fast path uses Spark's native ``xxhash64``
(JVM, codegen'd). For operators whose results must be reproduced by
an external ANSI-SQL oracle (DuckDB differential tests), we also
provide a *portable* hash: the first 15 hex digits of MD5 read as a
base-16 integer. MD5 is bit-identical everywhere; 15 hex digits
(60 bits) fit a signed BIGINT in both engines.

Reference analogue: the reference relies on in-memory
``std::unordered_map`` hashing (implementation-defined, never
persisted); we instead make hashes an explicit, stable part of the
data model (url_hash, minhash signatures, fingerprints) because at
10^10-row scale hashes live in tables and must be reproducible
across engine versions and languages.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column | str, salt: str = "") -> Column:
    """Deterministic 60-bit hash of a string column, oracle-portable.

    Spark side of the pair; :func:`portable_hash64_sql` is the DuckDB
    side. ``salt`` derives independent hash families (minhash perms).
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(salt), F.lit("|"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str, salt: str = "") -> str:
    """DuckDB SQL text computing the same value as :func:`portable_hash64`."""
    if salt:
        expr = f"('{salt}' || '|' || {expr})"
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


_PERM_P = (1 << 31) - 1  # Mersenne prime
_MASK30 = (1 << 30) - 1


def _perm_consts(p: int) -> tuple[int, int, int]:
    """Deterministic affine constants for permutation family p (LCG)."""
    state = (p * 2654435761 + 0x9E3779B9) & 0x7FFFFFFF
    out = []
    for _ in range(3):
        state = (1103515245 * state + 12345) % (1 << 31)
        out.append(state & _MASK30 or 1)
    return out[0], out[1], out[2]


def perm_hash(base: Column, p: int) -> Column:
    """Cheap universal-hash permutation of a 60-bit base hash.

    ``(A*(base>>30) + B*(base&mask) + C) mod (2^31-1)`` — every product
    stays under 2^60, so the arithmetic is overflow-free in any int64
    engine and the DuckDB mirror (:func:`perm_hash_sql`) is exact.
    Used to derive MinHash permutation families from ONE md5 per
    shingle instead of one md5 per (shingle × permutation)."""
    a, b, c = _perm_consts(p)
    hi = F.shiftright(base, 30)
    lo = base.bitwiseAND(F.lit(_MASK30))
    return (F.lit(a) * hi + F.lit(b) * lo + F.lit(c)) % F.lit(_PERM_P)


def perm_hash_sql(base_expr: str, p: int) -> str:
    a, b, c = _perm_consts(p)
    return (
        f"(({a} * ({base_expr} >> 30) + {b} * ({base_expr} & {_MASK30}) + {c}) % {_PERM_P})"
    )
