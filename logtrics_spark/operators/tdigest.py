"""Mergeable quantile-sketch tiers — t-digest (Dunning & Ertl,
"Computing Extremely Accurate Quantiles Using t-Digests", 2019).

WHY: the timer instrument reports p50..p999 (reference
graphite/graphite.go:72, SURVEY §2.1 A3), and `timer_percentiles`
answers one tier exactly from raw points — but exact percentiles do
NOT compose: p95 of hourly windows cannot be reaggregated into p95 of
the day, and once retention drops the raw points the coarser tiers can
never answer percentile queries again.  The set instrument already
solved its version of this with mergeable HLL state
(`set_sketch_rollup`); this module is the quantile analog: each tier
window stores a ~1.6 KB digest, coarser tiers MERGE digests
(`tdigest_cascade`), and chunk archival keeps percentiles answerable
forever at bounded error.

Sketch: centroids (mean, weight) partitioned on the k1 scale
k(q) = (δ/2π)·asin(2q−1), which caps centroid count at δ/2 + 1 and
concentrates resolution at the tails (exactly where p99/p999 live).
Construction is FULLY VECTORIZED — sort, cumulative weight, one
floor(k) cell assignment, `np.add.reduceat` — no per-element Python
loop, so building from a multi-million-row window is numpy-speed.
Merging two digests is the same routine over the concatenated
centroids, making merge associative-up-to-resolution and deterministic
for a fixed input order.

Execution shape: groupBy(key, window).collect_list(value) — a plain
JVM partial-aggregating shuffle — then ONE ArrowEvalPython pass
building a digest per row.  A map-side design that built partial
digests per input batch measured 111 s at sf0.1 (BENCH/NOTES.md):
fine windows hold ~12 points, so its "partials" degenerated to one
sketch PER POINT.  Coarser tiers merge digests through the same
collect_list + Arrow pass (`tdigest_cascade`).

Estimates interpolate between centroid midpoints with exact min/max
endpoints; rank error concentrates near q=0.5 and shrinks toward the
tails (the k1 guarantee).  Cascaded estimates depend slightly on the
merge order (like any t-digest pipeline); tests assert rank error
≤ 0.02 under adversarial orderings, not bit equality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logtrics_spark.operators.rollup import KEY, tier_seconds, window_start

DEFAULT_COMPRESSION = 200.0
_HDR = 4  # compression, min, max, n


def _k(q: np.ndarray, compression: float) -> np.ndarray:
    """k1 scale function; k(1) - k(0) = compression/2 cells total."""
    return (compression / (2.0 * np.pi)) * np.arcsin(2.0 * q - 1.0)


def _partition(means: np.ndarray, weights: np.ndarray, compression: float):
    """Merge centroids into k-cells (vectorized greedy-equivalent).

    Sorted centroids are assigned to cells by floor(k(q_right)); all
    members of a cell collapse to their weighted mean.  Cell count is
    bounded by k(1)-k(0) = δ/2, giving the t-digest size bound.
    """
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    if total <= 0 or len(means) <= 1:
        return means, weights
    q_right = np.cumsum(weights) / total
    # clamp: FP summation can land a hair past 1.0 and asin domain-errors
    cells = np.floor(_k(np.clip(q_right, 0.0, 1.0), compression))
    # last point always closes the final cell; boundaries where the cell
    # id changes start a new centroid
    starts = np.concatenate([[0], np.flatnonzero(np.diff(cells)) + 1])
    new_w = np.add.reduceat(weights, starts)
    new_m = np.add.reduceat(weights * means, starts) / new_w
    return new_m, new_w


def build(values, compression: float = DEFAULT_COMPRESSION) -> bytes:
    """values (array-like, NaN/None dropped) -> serialized digest."""
    v = np.asarray(values, dtype=np.float64)
    v = v[~np.isnan(v)]
    if not len(v):
        return to_bytes(np.empty(0), np.empty(0), np.inf, -np.inf, compression)
    m, w = _partition(v, np.ones(len(v)), compression)
    return to_bytes(m, w, float(v.min()), float(v.max()), compression)


def merge(blobs, compression: float | None = None) -> bytes:
    """Merge serialized digests (associative up to resolution)."""
    ms, ws, lo, hi, comp = [], [], np.inf, -np.inf, compression
    for b in blobs:
        m, w, bmin, bmax, c = from_bytes(b)
        comp = comp or c
        if len(m):
            ms.append(m)
            ws.append(w)
            lo, hi = min(lo, bmin), max(hi, bmax)
    if not ms:
        return to_bytes(np.empty(0), np.empty(0), np.inf, -np.inf, comp or DEFAULT_COMPRESSION)
    m, w = _partition(np.concatenate(ms), np.concatenate(ws), comp)
    return to_bytes(m, w, lo, hi, comp)


def quantile(blob: bytes, q: float) -> float | None:
    """Estimate the q-quantile (None for an empty digest)."""
    m, w, lo, hi, _ = from_bytes(blob)
    if not len(m):
        return None
    total = w.sum()
    if len(m) == 1:
        return float(m[0])
    t = q * total
    mid = np.cumsum(w) - w / 2.0
    if t <= mid[0]:
        # interpolate min -> first centroid over [0, mid0]
        return float(lo + max(t, 0.0) / mid[0] * (m[0] - lo)) if mid[0] > 0 else float(lo)
    if t >= mid[-1]:
        span = total - mid[-1]
        return float(m[-1] + (min(t, total) - mid[-1]) / span * (hi - m[-1])) if span > 0 else float(hi)
    i = int(np.searchsorted(mid, t, side="right")) - 1
    frac = (t - mid[i]) / (mid[i + 1] - mid[i])
    return float(m[i] + frac * (m[i + 1] - m[i]))


def to_bytes(m, w, lo, hi, compression) -> bytes:
    arr = np.concatenate(
        [np.array([compression, lo, hi, float(len(m))]), m, w]
    ).astype(np.float64)
    return arr.tobytes()


def from_bytes(blob: bytes):
    arr = np.frombuffer(blob, dtype=np.float64)
    comp, lo, hi, n = arr[0], arr[1], arr[2], int(arr[3])
    return arr[_HDR : _HDR + n], arr[_HDR + n : _HDR + 2 * n], lo, hi, comp


# ------------------------------------------------------------ Spark ops


def _build_udf(compression: float):
    @F.pandas_udf(T.BinaryType())
    def build_rows(vals: pd.Series) -> pd.Series:
        return pd.Series([build(np.asarray(v, dtype=np.float64), compression) for v in vals])

    return build_rows


@F.pandas_udf(T.BinaryType())
def _merge_udf(blobs: pd.Series) -> pd.Series:
    return pd.Series([merge([bytes(b) for b in lst]) for lst in blobs])


def tdigest_rollup(
    points: DataFrame,
    tier: str,
    value_col: str = "value",
    key: list[str] | None = None,
    compression: float = DEFAULT_COMPRESSION,
) -> DataFrame:
    """Timer tier rows carrying a mergeable t-digest per series-window.

    The shuffle is a plain JVM partial aggregation (collect_list) and
    the digest build is one whole-batch Arrow pass, never per-group
    pandas.  A window whose values are all NaN still yields a row, with
    an empty digest (`tdigest_stats` reads it as cnt 0).
    """
    key = key or KEY
    pts = points.withColumn("window_start", window_start(F.col("ts"), tier)).select(
        *key, "window_start", value_col
    )
    grouped = pts.groupBy(*key, "window_start").agg(
        F.collect_list(value_col).alias("_vals")
    )
    return grouped.withColumn(
        "tdigest", _build_udf(compression)(F.col("_vals"))
    ).drop("_vals")


def tdigest_cascade(fine: DataFrame, fine_tier: str, coarse_tier: str) -> DataFrame:
    """Reaggregate digest tiers: merge fine windows' sketches into the
    coarse window — one JVM collect_list shuffle over already-tiny tier
    rows, then a single Arrow merge pass."""
    if tier_seconds(coarse_tier) % tier_seconds(fine_tier) != 0:
        raise ValueError(f"{coarse_tier} is not a multiple of {fine_tier}")
    key = [c for c in fine.columns if c not in ("window_start", "tdigest")]
    gcols = [*key, "window_start"]
    return (
        fine.withColumn("window_start", window_start(F.col("window_start"), coarse_tier))
        .groupBy(*gcols)
        .agg(F.collect_list("tdigest").alias("_blobs"))
        .withColumn("tdigest", _merge_udf(F.col("_blobs")))
        .drop("_blobs")
    )


def tdigest_quantiles(
    tier_df: DataFrame,
    qs: list[float] | None = None,
    sketch_col: str = "tdigest",
) -> DataFrame:
    """Scalar estimate columns (p50, p95, ...) from the sketch column;
    keeps the sketch for further merging."""
    qs = qs or [0.5, 0.95, 0.99]
    out = tier_df
    for q in qs:
        # graphite-style names: 0.5 -> p50, 0.95 -> p95, 0.999 -> p999
        name = "p" + ("%g" % (q * 100)).replace(".", "")
        out = out.withColumn(name, _est_udf(q)(F.col(sketch_col)))
    return out


def tdigest_stats(tier_df: DataFrame, sketch_col: str = "tdigest") -> DataFrame:
    """Exact count/min/max recovered from the sketch.

    Quantiles are approximate, but total weight and the min/max
    endpoints are conserved EXACTLY through partial build, merge, and
    cascade — every input point counted once, never duplicated or
    dropped by the two-stage shuffle.  That conservation law is the
    hash-exact invariant the driver oracle checks (tdigest_1h); the
    percentile accuracy itself is pinned by rank-error envelope tests.
    """

    @F.pandas_udf("cnt long, min double, max double")
    def stats(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            if b is None:
                rows.append((None, None, None))
                continue
            _, w, lo, hi, _c = from_bytes(bytes(b))
            n = int(round(float(w.sum())))
            rows.append((n, None if n == 0 else lo, None if n == 0 else hi))
        out = pd.DataFrame(rows, columns=["cnt", "min", "max"])
        return out.astype({"cnt": "Int64", "min": "Float64", "max": "Float64"})

    out = tier_df.withColumn("_st", stats(F.col(sketch_col)))
    return (
        out.withColumn("cnt", F.col("_st.cnt"))
        .withColumn("min", F.col("_st.min"))
        .withColumn("max", F.col("_st.max"))
        .drop("_st")
    )


def _est_udf(q: float):
    # closure factory, not a default arg: pandas_udf type-hint inference
    # rejects extra defaulted params, and HOF-style default-arg binding
    # is the known footgun in this codebase
    @F.pandas_udf(T.DoubleType())
    def est(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else quantile(bytes(b), q) for b in blobs],
            dtype="Float64",
        )

    return est
