"""Token-range partition planning — SplitPartitions re-expressed.

Reference: CDM splits the Cassandra token universe into ``numParts``
even sub-ranges (``job/SplitPartitions.java:41-76``), shuffles them
twice to decorrelate hot ranges (:36-38), optionally shrinks each range
to its first ``coveragePercent`` for sampled validation (:66-68), and
drives one Spark task per range.

In the Spark-first build the *data* partitioning is Catalyst's job; the
token plan survives as predicates over the key-hash token space: the
``min_token``/``max_token`` run restriction and the ``coverage_percent``
sample, both pushed by Catalyst into the parquet/lake scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# key-hash token space: xxhash64 yields signed 64-bit; we use its
# non-negative half [0, 2^63) like CDM uses the Murmur3 range
# [-2^63, 2^63) (BaseJob.scala:133-143)
TOKEN_SPACE = 1 << 63


def token_expr(key_col: str) -> Column:
    """Deterministic token for a key in [0, TOKEN_SPACE)."""
    return F.abs(F.xxhash64(F.col(key_col)))


def coverage_filter(key_col: str, coverage_percent: int) -> Column:
    """Sampled-scan predicate: keep keys whose token falls in the first
    coverage_percent of the space (coveragePercent analog)."""
    if coverage_percent >= 100:
        return F.lit(True)
    cutoff = TOKEN_SPACE // 100 * coverage_percent
    return token_expr(key_col) < F.lit(cutoff)

