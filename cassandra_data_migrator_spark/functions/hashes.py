"""Hash primitives for dedup / fingerprinting, in two flavors.

* **fast** — ``xxhash64`` (JVM-side, whole-stage codegen). The scale
  path: use for 100 TB runs.
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

from pyspark.sql import Column
from pyspark.sql import functions as F

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
