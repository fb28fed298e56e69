"""Replay-and-verify — the DiffData / AutoDiff analog.

Reference: ``job/DiffJobSession.java:115-330`` streams origin rows,
point-looks-up the target row per PK (a left join in disguise,
``Record.java:64-68``), and column-compares after type conversion:
target row null => MISSING (optionally auto-inserted, :207-234), any
column differing => MISMATCH (optionally auto-corrected), else VALID.
Counters: READ / VALID / MISSING / CORRECTED_MISSING / MISMATCH /
CORRECTED_MISMATCH / SKIPPED / ERROR (``JobCounter.java:46-51``).

Spark-first re-expression: the per-key async lookup becomes ONE
``full_outer`` join (the full outer also surfaces target-only rows CDM
cannot see — reported as EXTRA); the per-column parallel-stream compare
(``DiffJobSession.java:243-330``) becomes null-safe column equality
(`<=>`), with the ``text``/``html`` byte-identity check done in a
vectorized Arrow pandas UDF (no per-row Python), per the north rule.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..metrics import JobCounter

STATUS_COL = "_diff_status"


@F.pandas_udf(T.BooleanType())
def _bytes_equal(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized byte-identity: equal bytes, or both null.

    Arrow hands utf-8 strings / binary as object series; ``==`` on the
    underlying numpy arrays is a vectorized comparison — for utf-8
    strings, codepoint equality is byte equality.
    """
    both_null = a.isna() & b.isna()
    eq = (a == b) & a.notna() & b.notna()
    return eq | both_null


def diff(
    expected: DataFrame,
    actual: DataFrame,
    key_col: str = "url",
    compare_cols: list[str] | None = None,
    byte_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Full-outer diff of expected vs actual keyed tables.

    Returns one row per key with ``_diff_status`` in
    {VALID, MISSING, MISMATCH, EXTRA} plus both sides' compare columns
    (expected side prefixed ``e_``) and ``_mismatch_cols`` — the names
    of the columns that differ (the per-field mismatch detail of
    ``DiffJobSession.java:243-330``; empty for VALID, all compare
    columns for MISSING/EXTRA by the same convention the reference uses
    when the whole row is absent).
    """
    cols = compare_cols or [c for c in expected.columns if c != key_col and c in actual.columns]
    e = expected.select(
        F.col(key_col), *[F.col(c).alias(f"e_{c}") for c in cols],
        F.lit(True).alias("_e_present"),
    )
    a = actual.select(
        F.col(key_col), *[F.col(c) for c in cols], F.lit(True).alias("_a_present")
    )
    j = e.join(a, on=key_col, how="full_outer")

    checks = []
    for c in cols:
        if c in byte_cols:
            checks.append(_bytes_equal(F.col(f"e_{c}"), F.col(c)))
        else:
            checks.append(F.col(f"e_{c}").eqNullSafe(F.col(c)))
    all_equal = checks[0]
    for chk in checks[1:]:
        all_equal = all_equal & chk

    both_present = F.col("_e_present").isNotNull() & F.col("_a_present").isNotNull()
    mismatch_cols = F.filter(
        F.array(*[F.when(~chk, F.lit(c)) for c, chk in zip(cols, checks)]),
        lambda x: x.isNotNull(),
    )
    detail = F.when(both_present, mismatch_cols).otherwise(
        F.array(*[F.lit(c) for c in cols])
    )

    status = (
        F.when(F.col("_e_present").isNull(), F.lit("EXTRA"))
        .when(F.col("_a_present").isNull(), F.lit("MISSING"))
        .when(all_equal, F.lit("VALID"))
        .otherwise(F.lit("MISMATCH"))
    )
    return (
        j.withColumn(STATUS_COL, status)
        .withColumn("_mismatch_cols", detail)
        .drop("_e_present", "_a_present")
    )


def diff_counters(diff_df: DataFrame) -> JobCounter:
    """Aggregate the per-key statuses into CDM counter types."""
    rows = diff_df.groupBy(STATUS_COL).count().collect()
    jc = JobCounter()
    for r in rows:
        status, n = r[0], r[1]
        if status == "VALID":
            jc.add("VALID", n)
        elif status == "MISSING":
            jc.add("MISSING", n)
        elif status == "MISMATCH":
            jc.add("MISMATCH", n)
        elif status == "EXTRA":
            jc.add("ERROR", n)  # target-only rows: no CDM counter; report as ERROR
        jc.add("READ", n)
    return jc


def corrections(
    diff_df: DataFrame,
    key_col: str = "url",
    statuses: Sequence[str] = ("MISSING", "MISMATCH"),
) -> DataFrame:
    """Rows to upsert for autocorrect (the rows whose status is in
    ``statuses``), from the expected side — CDM's autocorrect never
    deletes target-only rows (README.md:129-131), so EXTRA rows are
    left alone."""
    bad = diff_df.where(F.col(STATUS_COL).isin(*statuses))
    ecols = [c for c in bad.columns if c.startswith("e_")]
    return bad.select(F.col(key_col), *[F.col(c).alias(c[2:]) for c in ecols])
