"""N10 — skew handling: salted two-phase aggregation.

Native aggregates don't need this (Spark's partial+final agg already
combines map-side, and AQE splits skewed shuffle partitions).  The gap
is ``groupBy().applyInPandas`` over raw-sized data: grouped-map has NO
partial aggregation, so a hot key (the ~40%-mass "web" source,
FIXTURES.md F1) lands on one task.  The fix is classic salting:

  phase 1: group by (key, salt = pmod(hash(fine_col), S)) -> partials
  phase 2: group by key -> merge partials

Used by any custom grouped-map over raw rows; the built-in pipeline only
runs grouped-map on tier-sized data keyed by chunk windows, which is
already fine (plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, fine_col: str, buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, buckets) from a high-cardinality column."""
    return df.withColumn(salt_col, F.pmod(F.hash(F.col(fine_col)), F.lit(buckets)))


def salted_two_phase_agg(
    df: DataFrame,
    keys: list[str],
    fine_col: str,
    phase1_aggs: list,
    phase2_aggs: list,
    buckets: int = 32,
) -> DataFrame:
    """Generic salted aggregation: phase1 per (keys, salt), phase2 per keys.

    phase1_aggs/phase2_aggs are lists of already-aliased Column aggs;
    phase2 must consume phase1's aliases (e.g. sum('part_sum')).
    """
    salted = with_salt(df, fine_col, buckets)
    part = salted.groupBy(*keys, "_salt").agg(*phase1_aggs)
    return part.groupBy(*keys).agg(*phase2_aggs)
