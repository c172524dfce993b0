"""A4 — meter EWMA rates across windows (go-metrics meter semantics).

The reference's meter reports 1/5/15-minute exponentially-weighted
moving average rates maintained by rcrowley/go-metrics
(/root/reference/graphite/graphite.go:141-151; library behavior).  An
EWMA is inherently sequential per series — the one fold in this engine
that native Spark aggregates cannot express — so it runs as
groupBy(series).applyInPandas over TIER rows (already aggregated, tiny)
with numpy doing the recurrence.  Never point this at raw points.

Semantics: for tick period T (the tier width) and horizon H minutes,
    alpha = 1 - exp(-T / (H * 60))
    ewma_rate[i] = alpha * inst_rate[i] + (1 - alpha) * ewma_rate[i-1]
with inst_rate = cnt / T and the first tick initializing the average,
matching the go-metrics EWMA update rule for regular ticks.  Windows
must be gap-filled first (empty windows have rate 0) — pass the output
of gapfill(..., method='null') with cnt nulls zeroed, or raw tier rows
if gaps should be skipped (documented caveat).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from logtrics_spark.operators.rollup import KEY, tier_seconds

HORIZONS_MIN = [1, 5, 15]


def ewma_oracle(rates: np.ndarray, tick_secs: int, horizon_min: int) -> np.ndarray:
    """Single-series reference fold (also used by pytest); the first
    tick initializes the average."""
    alpha = 1.0 - math.exp(-tick_secs / (horizon_min * 60.0))
    out = np.empty_like(rates, dtype=np.float64)
    acc = None
    for i, r in enumerate(rates):
        acc = r if acc is None else alpha * r + (1 - alpha) * acc
        out[i] = acc
    return out


def ewma_schema(horizons: list[int]) -> T.StructType:
    """Output rows of `meter_ewma`."""
    return T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("metric", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("window_start", T.TimestampType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("rate", T.DoubleType()),
        ]
        + [T.StructField(f"rate_m{h}", T.DoubleType()) for h in horizons]
    )


def meter_ewma(tier_df: DataFrame, tier: str, horizons_min: list[int] | None = None) -> DataFrame:
    """tier rows -> per-window EWMA rate columns (rate_m1, rate_m5, ...).

    Grouped-map per series; state is one float per horizon, sequential
    over that series' windows only.
    """
    horizons = horizons_min or HORIZONS_MIN
    secs = tier_seconds(tier)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("window_start", kind="stable")
        inst = (pdf["cnt"].to_numpy(dtype="float64")) / float(secs)
        out = pdf[["source", "metric", "kind", "window_start", "cnt"]].copy()
        out["rate"] = inst
        for h in horizons:
            out[f"rate_m{h}"] = ewma_oracle(inst, secs, h)
        return out

    return (
        tier_df.select(*KEY, "window_start", "cnt")
        .groupBy(*KEY)
        .applyInPandas(fold, ewma_schema(horizons))
    )
