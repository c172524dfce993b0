"""N2/N3 — tumbling tier rollups and the cascade reaggregation.

Reference semantics being generalized (SURVEY.md §2.1 A1-A4, K1): the
go-metrics registry snapshot emitted every ``interval`` seconds becomes a
tumbling-window aggregate per (source, metric, kind):

    counter -> per-window delta sum + a cumulative prefix-sum view
               (go-metrics counters are never reset at flush,
                /root/reference/graphite/graphite.go:101-112)
    gauge   -> last value wins within the window
               (/root/reference/graphite/graphite.go:115-125)
    timer   -> count/min/max/mean/stddev + p50/p75/p95/p99/p999
               (/root/reference/graphite/graphite.go:72,128-138)
    meter   -> per-window mark count + rate = count/window_seconds
               (/root/reference/graphite/graphite.go:141-151)

Scale design:
- ``rollup`` is a single groupBy over native aggregates — Spark plans it
  as partial (map-side) + final agg, so the shuffle carries one row per
  (source, metric, kind, window) per map task, not per point.
- ``rollup_stream`` is the same aggregate over a watermarked stream
  (the daemon's finest tier); only the window expression differs.
- ``cascade`` re-aggregates a finer tier into a coarser one: count/sum/
  min/max compose, avg is recomputed sum/cnt, gauge-last carries via
  max_by(last, last_ts).  Input is already tiny (one row per fine
  window), so every cascade step shuffles ~nothing.  Rolling raw->1d
  directly must equal 1m->5m->1h->1d (associativity test, SURVEY.md §5.3).
- ``cascade_tiers`` is the same aggregate over several coarse tiers at
  once (tier joins the group key): the sealed pipeline builds 5m/1h/1d
  from the 1m frame in one shuffle instead of a chain of three.
- percentiles do NOT compose; ``timer_percentiles`` computes them from
  raw points per tier.  Exact mode (sort-based) is for oracle parity;
  at 100 TB use exact=False -> percentile_approx, whose t-digest-style
  sketch partial-aggregates map-side like any native agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TIERS: dict[str, int] = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "5m", "1h", "1d"]
PERCENTILES = [0.5, 0.75, 0.95, 0.99, 0.999]  # graphite/graphite.go:72

KEY = ["source", "metric", "kind"]


def tier_seconds(tier: str) -> int:
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; expected one of {list(TIERS)}")
    return TIERS[tier]


def window_start(ts_col, tier: str):
    """Tumbling window start as a timestamp, via epoch arithmetic.

    Equivalent to F.window(ts, ...).start but cheaper to reason about in
    the cascade and trivially mirrored in the DuckDB oracle.
    """
    secs = tier_seconds(tier)
    return F.timestamp_seconds(
        (F.unix_timestamp(ts_col) / secs).cast("long") * secs
    )


def stddev_from_moments(cnt, total, sum_sq):
    """Sample stddev from composable moments (cnt, sum, sum(value^2)).

    sqrt(max(0, (sum_sq - sum^2/n) / (n-1))), 0.0 for n <= 1 — SAMPLE
    variance (n-1 divisor), the go-metrics histogram convention the
    reference's timer reports (graphite/graphite.go:128-138); oracles
    must use stddev_samp.  Moment form (not Welford) so the cascade can
    reaggregate it exactly: sums and sums-of-squares compose, running
    central moments don't.
    """
    c = F.col(cnt) if isinstance(cnt, str) else cnt
    s = F.col(total) if isinstance(total, str) else total
    ss = F.col(sum_sq) if isinstance(sum_sq, str) else sum_sq
    c = c.cast("double")
    var = (ss.cast("double") - s.cast("double") * s.cast("double") / c) / (c - 1)
    return F.when(c > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(0.0))


def _rollup(points: DataFrame, ws: Column, tier: str, ts_col: str) -> DataFrame:
    """Shared body of ``rollup`` / ``rollup_stream``: group ``points`` by
    the series + the window column ``ws`` (named ``window_start``) and
    aggregate.  One aggregate list for both, so the batch and streaming
    rows the daemon appends into one ``tiers/`` table share a schema."""
    secs = tier_seconds(tier)
    return (
        points.withColumn("window_start", ws)
        .groupBy(*KEY, "window_start")
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("avg"),
            F.max_by("value", ts_col).alias("last"),
            F.max(ts_col).alias("last_ts"),
            F.sum(F.col("value") * F.col("value")).alias("sum_sq"),
        )
        .withColumn("rate", F.col("cnt").cast("double") / F.lit(float(secs)))
        .withColumn("stddev", stddev_from_moments("cnt", "sum", "sum_sq"))
    )


def rollup(points: DataFrame, tier: str) -> DataFrame:
    """points(source,metric,kind,ts,value) -> one row per series-window.

    Output: source, metric, kind, window_start, cnt, sum, min, max, avg,
            last, last_ts, sum_sq, rate, stddev.  ``last`` is the gauge
    view (max_by on ts); ``sum_sq`` is carried so stddev survives the
    cascade; harmless-but-defined for other kinds.
    """
    return _rollup(points, window_start(F.col("ts"), tier), tier, "ts")


def rollup_stream(
    points: DataFrame,
    tier: str,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming points -> per-window aggregates, with ``rollup``'s schema.

    The streaming analog of the reference's interval flush
    (graphite/graphite.go:84-98): a watermarked tumbling-window
    aggregate over an unbounded point stream, emitted per trigger.  The
    window is ``F.window`` (not ``window_start``'s epoch arithmetic)
    because state eviction needs a window on the watermarked event-time
    column: a window closes once the watermark passes window_end +
    delay, so state stays bounded at any stream length.  Every
    aggregate composes in streaming state (max_by partials merge, and
    stddev derives from cnt/sum/sum_sq at emit).
    """
    agg = _rollup(
        points.withWatermark(ts_col, watermark),
        F.window(ts_col, f"{tier_seconds(tier)} seconds"),
        tier,
        ts_col,
    )
    return agg.withColumn("window_start", F.col("window_start.start"))


def _check_multiple(fine_tier: str, coarse_tier: str) -> None:
    if tier_seconds(coarse_tier) % tier_seconds(fine_tier) != 0:
        raise ValueError(f"{coarse_tier} is not a multiple of {fine_tier}")


def _cascade(fine: DataFrame, coarse_ws: Column, secs: Column, by: list[str]) -> DataFrame:
    """Shared body of ``cascade`` / ``cascade_tiers``: group ``fine`` by
    ``by`` + the series + the coarse window ``coarse_ws``, recompose the
    moments, and derive rate from ``secs`` (the coarse tier's seconds)."""
    has_sq = "sum_sq" in fine.columns
    aggs = [
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        (F.sum("sum") / F.sum("cnt")).alias("avg"),
        F.max_by("last", "last_ts").alias("last"),
        F.max("last_ts").alias("last_ts"),
    ]
    if has_sq:
        aggs.append(F.sum("sum_sq").alias("sum_sq"))
    out = (
        fine.groupBy(*by, *KEY, coarse_ws.alias("window_start"))
        .agg(*aggs)
        .withColumn("rate", F.col("cnt").cast("double") / secs)
    )
    if has_sq:
        out = out.withColumn("stddev", stddev_from_moments("cnt", "sum", "sum_sq"))
    return out


def cascade(fine: DataFrame, fine_tier: str, coarse_tier: str) -> DataFrame:
    """Reaggregate a finer tier table into a coarser tier (N3).

    count/sum/min/max/sum_sq compose; avg = sum/cnt and stddev = moment
    formula recomputed; last carries by max_by on the fine window's
    last_ts.
    """
    _check_multiple(fine_tier, coarse_tier)
    secs = F.lit(float(tier_seconds(coarse_tier)))
    return _cascade(fine, window_start(F.col("window_start"), coarse_tier), secs, [])


def cascade_tiers(fine: DataFrame, fine_tier: str, coarse_tiers: list[str]) -> DataFrame:
    """Every coarse tier from one fine tier in ONE aggregate.

    Each fine row explodes into one (tier, coarse window) pair per coarse
    tier, and a single groupBy(tier, series, window) — one partial+final
    shuffle — recomposes them all; ``tier`` is a column of the output.
    Every aggregate is decomposable (integer sums, min/max, max_by on a
    per-window-unique last_ts), so the rows are bit-identical to the
    chained ``cascade`` 1m->5m->1h->1d (pinned by
    tests/test_extract_rollup.py), without a persisted frame per step.
    """
    if not coarse_tiers:
        raise ValueError("cascade_tiers needs at least one coarse tier")
    for t in coarse_tiers:
        _check_multiple(fine_tier, t)
    pairs = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tier"),
                    window_start(F.col("window_start"), t).alias("_cws"),
                )
                for t in coarse_tiers
            ]
        )
    )
    secs = F.create_map(
        *[x for t in coarse_tiers for x in (F.lit(t), F.lit(float(tier_seconds(t))))]
    )[F.col("tier")]
    vals = ["cnt", "sum", "min", "max", "last", "last_ts"]
    if "sum_sq" in fine.columns:
        vals.append("sum_sq")
    exploded = fine.select(*KEY, *vals, pairs)
    return _cascade(exploded, F.col("_cws"), secs, ["tier"])


def timer_percentiles(points: DataFrame, tier: str, exact: bool = True) -> DataFrame:
    """Per-window p50/p75/p95/p99/p999 for timer-kind points.

    exact=True -> sort-based `percentile` (oracle parity);
    exact=False -> `percentile_approx` sketch (the 100 TB path).
    """
    pcts = F.array(*[F.lit(p) for p in PERCENTILES])
    fn = F.percentile if exact else F.percentile_approx
    agg = fn(F.col("value").cast("double"), pcts)
    names = ["p50", "p75", "p95", "p99", "p999"]
    return (
        points.where(F.col("kind") == "timer")
        .withColumn("window_start", window_start(F.col("ts"), tier))
        .groupBy(*KEY, "window_start")
        .agg(
            agg.alias("pcts"),
            F.count("value").alias("cnt"),
            # reference timers report std-dev (graphite/graphite.go:133);
            # SAMPLE stddev (go-metrics histogram), 0.0 for n<=1 — match
            # DuckDB oracles with stddev_samp + the same n<=1 guard
            F.when(F.count("value") > 1, F.stddev(F.col("value").cast("double")))
            .otherwise(F.lit(0.0))
            .alias("stddev"),
        )
        .select(
            *KEY,
            "window_start",
            "cnt",
            *[F.col("pcts")[i].cast("double").alias(n) for i, n in enumerate(names)],
            "stddev",
        )
    )


def with_cumulative(tier_df: DataFrame) -> DataFrame:
    """Cumulative counter view: running sum over window_start per series.

    go-metrics counters report the running total at every flush
    (/root/reference/graphite/graphite.go:101-112,207-218); per-window
    deltas prefix-sum back to that view.  The window spec partitions by
    series, so state never exceeds one series' window count per task.
    """
    w = (
        Window.partitionBy(*KEY)
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tier_df.withColumn("cum_sum", F.sum("sum").over(w))


def set_cardinality(
    points: DataFrame,
    tier: str,
    id_col: str,
    key: list[str] | None = None,
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """statsd ``set`` instrument: unique ids per series-window.

    The one instrument family the go-metrics registry lacks but every
    Graphite deployment pairs with it (statsd sets — unique users,
    unique IPs per flush interval).  Two paths:

    - ``exact=True``: distinct on (series, window, id) THEN count.  The
      distinct is a partial-aggregating shuffle keyed by the full tuple
      — no per-group id set ever materializes in one buffer, so a
      window with 100M uniques still splits across tasks.  This is the
      oracle-parity path.
    - ``exact=False``: ``approx_count_distinct`` (HyperLogLog++), ONE
      shuffle carrying a fixed-size sketch per series-window regardless
      of cardinality — the 100 TB path; ``rsd`` trades sketch bytes for
      relative error.
    """
    key = key or KEY
    ws = window_start(F.col("ts"), tier).alias("window_start")
    if exact:
        d = points.select(*key, ws, F.col(id_col).alias("_id")).distinct()
        return d.groupBy(*key, "window_start").agg(
            F.count("_id").alias("cnt_distinct")
        )
    return (
        points.select(*key, ws, F.col(id_col).alias("_id"))
        .groupBy(*key, "window_start")
        .agg(F.approx_count_distinct("_id", rsd).alias("cnt_distinct"))
    )


def set_sketch_rollup(
    points: DataFrame,
    tier: str,
    id_col: str,
    key: list[str] | None = None,
    lg_config_k: int = 12,
) -> DataFrame:
    """Set-instrument tier rows carrying a MERGEABLE HLL sketch.

    ``set_cardinality`` answers one tier directly; this is the cascade
    path: each fine window stores a DataSketches HLL state (binary,
    ~2^lg_config_k bytes max) instead of a scalar count, so coarser
    tiers REAGGREGATE via sketch union (``set_sketch_cascade``) without
    ever touching raw ids again — the distinct-count analogue of the
    moment-composable stddev.  Scalar distinct counts do not compose
    (|A ∪ B| != |A| + |B|); sketches do.

    Uses Spark's native hll_sketch_agg (JVM DataSketches, map-side
    partial like any agg).  Estimate with ``set_sketch_estimate``.
    """
    key = key or KEY
    return (
        points.withColumn("window_start", window_start(F.col("ts"), tier))
        .groupBy(*key, "window_start")
        .agg(F.hll_sketch_agg(F.col(id_col), F.lit(lg_config_k)).alias("hll"))
    )


def set_sketch_cascade(fine: DataFrame, fine_tier: str, coarse_tier: str) -> DataFrame:
    """Reaggregate HLL set tiers: union the fine windows' sketches into
    the coarse window.  Same shuffle shape as ``cascade`` — one
    partial-agg groupBy over already-tiny tier rows."""
    _check_multiple(fine_tier, coarse_tier)
    key = [c for c in fine.columns if c not in ("window_start", "hll")]
    return (
        fine.withColumn("cws", window_start(F.col("window_start"), coarse_tier))
        .groupBy(*key, "cws")
        .agg(F.hll_union_agg("hll").alias("hll"))
        .withColumnRenamed("cws", "window_start")
    )


def set_sketch_estimate(tier_df: DataFrame, out_col: str = "cnt_distinct") -> DataFrame:
    """Scalar estimate column from the sketch (keeps ``hll`` for further
    merging; drop it in the final projection if unneeded)."""
    return tier_df.withColumn(out_col, F.hll_sketch_estimate("hll"))
