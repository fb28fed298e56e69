"""Hash primitives for dedup / fingerprinting, in two flavors.

* **fast** — ``xxhash64`` (JVM-side, whole-stage codegen). The scale
  path: use for 100 TB runs. :func:`xxhash64_py` is its driver-side
  mirror, for hashing a few Python values without a Spark job.
* **portable** — a polynomial rolling hash over characters, built only
  from arithmetic + ``ascii``/``substring``/fold primitives that Spark
  SQL and DuckDB evaluate identically. Used by the oracle-checked
  queries so the DuckDB reference can recompute byte-identical hashes.

Portable definition (both engines):
    h(s) = fold(chars(s), acc=0, (acc*31 + codepoint) mod 1_000_000_007)

MinHash permutations: perm_i(h) = (A_i * h + B_i) mod P with the
constants below; signature_i(doc) = min over shingles.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

P_MOD = 1_000_000_007


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) pairs shared by Spark and oracle SQL."""
    return [((1_000_003 * i + 12_345) % P_MOD or 1, (7_919 * i + 17) % P_MOD)
            for i in range(num_hashes)]


# --------------------------------------------------------------- fast (JVM)
def fast_hash(col: Column | str) -> Column:
    """Non-negative 63-bit xxhash64 — the production hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.abs(F.xxhash64(c))


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SPARK_SEED = 42  # the seed of Spark's xxhash64


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int) -> int:
    """Unsigned XXH64 of ``data`` (the reference algorithm, which Spark's
    ``XXH64.hashUnsafeBytes`` implements)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(a, lane) for a, lane in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def xxhash64_py(value, data_type: T.DataType) -> int:
    """Spark's ``xxhash64(value)`` (seed 42, signed 64-bit) of one value
    of ``data_type``, evaluated in Python: the driver mirror of
    :func:`fast_hash`'s ``F.xxhash64``, the way :func:`portable_hash_py`
    mirrors :func:`portable_hash_expr`. Strings of the default binary
    collation hash their UTF-8 bytes (Spark hashes the collation key of
    any other collation, so those raise); byte/short/int values hash as
    4 little-endian bytes (Spark ``hashInt``), longs as 8
    (``hashLong``); null returns the seed, as Spark does. Any other type
    raises ``TypeError``."""
    if value is None:
        return _SPARK_SEED
    if data_type == T.StringType():
        data = value.encode("utf-8")
    elif isinstance(data_type, (T.ByteType, T.ShortType, T.IntegerType)):
        data = struct.pack("<i", value)
    elif isinstance(data_type, T.LongType):
        data = struct.pack("<q", value)
    else:
        raise TypeError(f"xxhash64_py: unsupported key type {data_type.simpleString()}")
    h = xxh64(data, _SPARK_SEED)
    return h - (1 << 64) if h >> 63 else h


# --------------------------------------------------------------- portable
def portable_hash_expr(col: Column | str) -> Column:
    """Polynomial hash of a string column, Spark side.

    Mirrors the SQL fold in :func:`portable_hash_sql`; keep the two in
    lockstep."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.ascii(F.substring(c, i, F.lit(1))).cast("long"),
    )
    fold = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + ch) % F.lit(P_MOD),
    )
    # guard '' explicitly: sequence(1, 0) is the descending [1, 0] in
    # Spark, not empty (folding it happens to give 0 too, but don't rely
    # on that accident)
    return F.when(F.length(c) > 0, fold).otherwise(F.lit(0).cast("long"))


def portable_hash_sql(expr: str) -> str:
    """Same polynomial hash as DuckDB SQL over a string expression."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(generate_series(1, length({expr})), "
        f"i -> ascii(substring({expr}, i, 1))::BIGINT)), "
        f"(acc, ch) -> (acc * 31 + ch) % {P_MOD})"
    )


def portable_hash_py(s: str) -> int:
    """The same polynomial hash, evaluated in Python (for deriving
    data-independent constants that get embedded as literals in both the
    Spark plan and the generated oracle SQL)."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % P_MOD
    return h


def hyperplane_signs(dims: int, planes: int) -> list[list[float]]:
    """±1.0 sign matrix for pseudo-random LSH hyperplanes.

    Component (p, d) is derived from ``portable_hash_py('plane-p:d')``,
    so any engine re-derives the identical hyperplanes — the buckets are
    exactly reproducible by the DuckDB oracle (the signs are embedded as
    literal arrays in the generated SQL, like the minhash coefficients).

    Bit 16 of the hash (not the parity bit): with an odd multiplier the
    polynomial hash's low bit is just the parity of the codepoint sum,
    which made every plane exactly ± the same hyperplane.
    """
    return [
        [1.0 if (portable_hash_py(f"plane-{p}:{d}") >> 16) % 2 == 1 else -1.0
         for d in range(dims)]
        for p in range(planes)
    ]


def perm_expr(h: Column, a: int, b: int) -> Column:
    return (h * F.lit(a) + F.lit(b)) % F.lit(P_MOD)
