"""Sessionization — inactivity-gap session assignment over an event
stream (the log-analytics classic the reference's domain implies but
its Lua handlers can't express: "group this user's events into visits
separated by >30 min of silence").

Semantics: events of one key (e.g. user) sorted by time; an event
STARTS a new session when it is the key's first event or its gap to
the previous event strictly exceeds ``gap_seconds``; a gap exactly
equal to the threshold stays in the session.  ``session_idx`` is the
1-based running session number per key — deterministic, join-stable,
and reproducible in plain SQL (the DuckDB oracle runs the identical
lag + running-sum formulation).

Execution shape: ONE exchange on the key, then two window passes over
the same partitioning (lag, then the running sum — Spark reuses the
sort).  Timestamps compare as epoch MICROSECONDS (``unix_micros``), so
boundary decisions are exact integer arithmetic on both engines — no
float-epoch rounding at the gap threshold.

Scale: per-key data is small by construction (a user's events, not the
firehose), so the window sort is cheap and parallelism = #keys.  For a
pathological hot key (one key owning a large fraction of 100 TB),
salting is NOT applicable — sessionization needs the key's full
timeline in order.  The production pattern is two-phase and implemented
here as ``session_stats_bucketed``: sessionize within (key, bucket) —
the heavy exchange gains a time dimension, so one dominant key still
parallelizes — then ``stitch_sessions`` merges runs across bucket
edges over SESSION rows only (orders of magnitude smaller than
events); output is row-identical to the direct computation (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _us(ts_col: str):
    """Epoch µs; NTZ-safe (parquet timestamps read as TIMESTAMP_NTZ,
    which unix_micros rejects — the UTC session makes the cast exact)."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def sessionize(
    df: DataFrame,
    key: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    out_col: str = "session_idx",
) -> DataFrame:
    """Append a 1-based ``session_idx`` column per key.

    Input rows pass through unchanged (plus the index), so downstream
    aggregations can group by (key, session_idx).
    """
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be positive, got {gap_seconds}")
    us = _us(ts_col)
    w = Window.partitionBy(*key).orderBy(us)
    prev_us = F.lag(us).over(w)
    is_new = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy(*key).orderBy(us).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, F.sum(is_new).over(run))


def session_stats(
    df: DataFrame,
    key: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """One row per (key, session): start/end (epoch µs), event count,
    and duration in seconds.

    Duration is end - start (a 1-event session has duration 0) —
    integer µs arithmetic, exact on both engines.
    """
    s = sessionize(df, key, ts_col=ts_col, gap_seconds=gap_seconds)
    us = _us(ts_col)
    return s.groupBy(*key, "session_idx").agg(
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        F.count("*").alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("duration_s"),
    )


def stitch_sessions(
    stats: DataFrame,
    key: list[str],
    gap_seconds: int = 1800,
) -> DataFrame:
    """Merge session runs whose inter-session gap is within the
    threshold — the boundary-stitch phase for bucketed sessionization.

    Input: `session_stats`-shaped rows (possibly computed per time
    bucket, so a visit crossing a bucket edge appears as 2+ rows).
    This is sessionize-over-sessions: one window pass per key over
    SESSION rows (tiny vs events), lag on end_us, running sum of
    new-run flags, then re-aggregate.  Chains spanning several buckets
    merge transitively, and ``session_idx`` is renumbered in global
    time order — identical output to un-bucketed `session_stats`.
    """
    gap_us = gap_seconds * 1_000_000
    w = Window.partitionBy(*key).orderBy("start_us")
    prev_end = F.lag("end_us").over(w)
    is_new = F.when(
        prev_end.isNull() | ((F.col("start_us") - prev_end) > gap_us), 1
    ).otherwise(0)
    run = Window.partitionBy(*key).orderBy("start_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = stats.withColumn("session_idx", F.sum(is_new).over(run))
    return merged.groupBy(*key, "session_idx").agg(
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
        F.sum("n_events").alias("n_events"),
        ((F.max("end_us") - F.min("start_us")) / F.lit(1_000_000.0)).alias(
            "duration_s"
        ),
    )


def session_stats_bucketed(
    df: DataFrame,
    key: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """The 100 TB sessionization path: sessionize within (key, bucket)
    then stitch across bucket edges.

    The plain `session_stats` exchanges on the key alone — correct, but
    a hot key serializes its entire timeline through one task.  Here
    the heavy phase exchanges on (key, bucket), so parallelism scales
    with time even for one dominant key; the stitch phase then runs
    over SESSION rows only (orders of magnitude smaller than events).
    Output is row-identical to `session_stats` (tested) — bucketing is
    an execution strategy, not a semantics change.
    """
    if bucket_seconds <= gap_seconds:
        raise ValueError(
            f"bucket_seconds {bucket_seconds} must exceed gap_seconds "
            f"{gap_seconds} (otherwise sessions can span non-adjacent buckets)"
        )
    bucket = (_us(ts_col) / F.lit(bucket_seconds * 1_000_000)).cast("long")
    per_bucket = session_stats(
        df.withColumn("_bucket", bucket),
        [*key, "_bucket"],
        ts_col=ts_col,
        gap_seconds=gap_seconds,
    ).drop("_bucket")
    return stitch_sessions(per_bucket, key, gap_seconds=gap_seconds)
