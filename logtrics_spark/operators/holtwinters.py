"""Holt-Winters seasonal analysis — Graphite's forecasting trio
(``holtWintersForecast`` / ``holtWintersConfidenceBands`` /
``holtWintersAberration``, from Graphite-web's public functions.py).

Additive triple exponential smoothing per series: level + trend +
a seasonal index per slot-of-season, plus a smoothed absolute
deviation per slot-of-season that widens the confidence bands where
the series is historically noisy.  Aberration is the amount by which a
value escapes [forecast - delta*dev, forecast + delta*dev] — the
seasonality-aware cousin of the rolling z-score (operators/series.py):
z-score flags "unusual vs the last hour", Holt-Winters flags "unusual
for 3 am on a Sunday".

Recurrence (Graphite's constants alpha=0.1, beta=0.0035, gamma=0.1 as
defaults; i = slot index, m = slots per season):

    level_i = alpha*(y_i - season_{i-m}) + (1-alpha)*(level + trend)
    trend_i = beta*(level_i - level_{i-1}) + (1-beta)*trend_{i-1}
    season_i = gamma*(y_i - level_i) + (1-gamma)*season_{i-m}
    dev_i    = gamma*|y_i - forecast_i| + (1-gamma)*dev_{i-m}
    forecast_i = level_{i-1} + trend_{i-1} + season_{i-m}

The fold is inherently sequential per series, so it runs as ONE
``applyInPandas`` group per series — the same execution shape as the
Gorilla codec: groups are tier-sized (slots per series), state is two
O(m) arrays, and series fan out across tasks.  Input must be DENSE and
regularly spaced (run gap-fill first); a gap would silently misalign
the seasonal index, so the fold validates spacing and raises.

Null values carry the forecast forward without updating state
(Graphite skips None samples the same way).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logtrics_spark.operators.rollup import KEY, tier_seconds

DEFAULT_ALPHA = 0.1
DEFAULT_BETA = 0.0035
DEFAULT_GAMMA = 0.1


def holt_winters_fold(
    values,
    season_slots: int,
    alpha: float = DEFAULT_ALPHA,
    beta: float = DEFAULT_BETA,
    gamma: float = DEFAULT_GAMMA,
):
    """Pure-Python reference fold: values -> (forecast, deviation) lists.

    The first season bootstraps: seasonal indices start at 0, level at
    the first sample, trend at 0 — forecasts during the first season
    are the smoothed level+trend alone, matching Graphite's warm-up
    (callers usually discard the bootstrap season).
    """
    import math

    m = season_slots
    forecasts: list[float | None] = []
    devs: list[float | None] = []
    level = trend = None
    seasons: list[float] = [0.0] * m
    deviations: list[float] = [0.0] * m
    for i, y in enumerate(values):
        si = i % m
        last_season = seasons[si]
        last_dev = deviations[si]
        if level is None:
            if y is None or (isinstance(y, float) and math.isnan(y)):
                forecasts.append(None)
                devs.append(None)
                continue
            level, trend = float(y), 0.0
            forecasts.append(None)
            devs.append(None)
            continue
        forecast = level + trend + last_season
        if y is None or (isinstance(y, float) and math.isnan(y)):
            forecasts.append(forecast)
            devs.append(last_dev)
            continue
        y = float(y)
        prev_level = level
        level = alpha * (y - last_season) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev_level) + (1 - beta) * trend
        seasons[si] = gamma * (y - level) + (1 - gamma) * last_season
        deviations[si] = gamma * abs(y - forecast) + (1 - gamma) * last_dev
        forecasts.append(forecast)
        devs.append(deviations[si])
    return forecasts, devs


def holt_winters(
    tier_df: DataFrame,
    tier: str,
    value_col: str = "avg",
    season_seconds: int = 86400,
    alpha: float = DEFAULT_ALPHA,
    beta: float = DEFAULT_BETA,
    gamma: float = DEFAULT_GAMMA,
    delta: float = 3.0,
    key: list[str] | None = None,
) -> DataFrame:
    """Per-slot forecast, confidence bands, and aberration.

    Output: key + window_start + value_col + ``forecast``, ``dev``,
    ``band_lo``/``band_hi`` (forecast ± delta*dev) and ``aberration``
    (0.0 inside the bands; the signed excess outside — Graphite's
    holtWintersAberration).  Bootstrap slots (first observation, or a
    leading all-null run) carry null forecast/aberration.
    """
    secs = tier_seconds(tier)
    if season_seconds % secs != 0:
        raise ValueError(
            f"season_seconds {season_seconds} must be a multiple of the "
            f"{tier} tier ({secs}s)"
        )
    m = season_seconds // secs
    if m < 2:
        raise ValueError("season must span at least 2 slots")
    key = key or KEY

    in_fields = {f.name: f for f in tier_df.schema.fields}
    out_schema = T.StructType(
        [T.StructField(c, in_fields[c].dataType) for c in key]
        + [
            T.StructField("window_start", T.TimestampType()),
            T.StructField(value_col, T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
            T.StructField("dev", T.DoubleType()),
            T.StructField("band_lo", T.DoubleType()),
            T.StructField("band_hi", T.DoubleType()),
            T.StructField("aberration", T.DoubleType()),
        ]
    )

    def analyze(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("window_start", kind="stable").reset_index(drop=True)
        epochs = pdf["window_start"].astype("datetime64[s]").astype("int64")
        steps = epochs.diff().dropna()
        if len(steps) and not (steps == secs).all():
            raise ValueError(
                "holt_winters requires a dense, regularly-spaced series "
                f"(expected {secs}s steps); run gapfill first"
            )
        vals = [None if pd.isna(v) else float(v) for v in pdf[value_col]]
        forecasts, devs = holt_winters_fold(vals, m, alpha, beta, gamma)
        out = pdf[[*key, "window_start"]].copy()
        out[value_col] = pd.array(vals, dtype="Float64")
        out["forecast"] = pd.array(forecasts, dtype="Float64")
        out["dev"] = pd.array(devs, dtype="Float64")
        lo = [
            None if f is None or d is None else f - delta * d
            for f, d in zip(forecasts, devs)
        ]
        hi = [
            None if f is None or d is None else f + delta * d
            for f, d in zip(forecasts, devs)
        ]
        out["band_lo"] = pd.array(lo, dtype="Float64")
        out["band_hi"] = pd.array(hi, dtype="Float64")
        ab = []
        for v, l, h in zip(vals, lo, hi):
            if v is None or l is None:
                ab.append(None)
            elif v > h:
                ab.append(v - h)
            elif v < l:
                ab.append(v - l)
            else:
                ab.append(0.0)
        out["aberration"] = pd.array(ab, dtype="Float64")
        return out

    return (
        tier_df.select(*key, "window_start", value_col)
        .groupBy(*key)
        .applyInPandas(analyze, out_schema)
    )
