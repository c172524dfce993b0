"""K2 — Graphite plaintext sink parity.

The reference's entire output surface is the Graphite plaintext
protocol: every ``interval`` seconds the go-metrics registry is pushed
over TCP as ``<metric path> <value> <epoch>\\n`` lines
(/root/reference/graphite/graphite.go:61-98 via the
cyberdelia/go-metrics-graphite reporter, go.mod:8), with ``graphite.
debug`` additionally logging the registry every tick
(graphite/graphite.go:75-83; K3, honored by ``Daemon._flush``).

Here the tier tables are the primary sink (the right at-scale design),
and this module restores protocol parity for users migrating off the
reference:

- ``to_graphite_lines``: tier rows -> DataFrame[line: string], one line
  per reported field, formatted like the go-metrics-graphite reporter
  (counter ``.count``, gauge ``.value``, meter ``.count``/``.mean-rate``
  (+ EWMA columns when present), timer ``.count``/``.min``/``.max``/
  ``.mean`` (+ percentile columns when present)).  Pure Catalyst string
  expressions, built as ONE parsed SQL expression from ``_KIND_FIELDS``
  — usable at any scale, streamable through foreachBatch.
- ``send_graphite_tcp``: ships a lines DataFrame to a Graphite host
  over one TCP connection, streaming the frame to the driver one
  partition at a time (never the whole frame at once).

Timestamping: the reference stamps lines with the wall-clock flush
moment; the deterministic analog is the window END epoch (the moment
that window's registry snapshot would have flushed).

Float fields are quantized to 6 dp before ``%.6f`` formatting so the
emitted string is a pure function of the aggregate value (no engine-
specific shortest-repr ambiguity) — this is also what makes the
``graphite_lines`` driver query hash-comparable against a DuckDB
``printf`` oracle.
"""

from __future__ import annotations

import socket

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logtrics_spark.operators.rollup import tier_seconds


def _q6(col) -> Column:
    """Cross-engine-stable 6 dp quantization (see __spark_entry__._q)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("double") * 1e6 + 0.5 + 1e-6) / 1e6


def _f(col) -> Column:
    return F.format_string("%.6f", _q6(col))


def _i(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.format_string("%d", c.cast("long"))


# SQL-text twins of _f / _i (same quantization, same casts, same double
# literals) for the one parsed expression to_graphite_lines builds; the
# Column forms above serve the Prometheus sink
def _f_sql(v: str) -> str:
    q6 = f"floor(CAST({v} AS DOUBLE) * 1000000.0D + 0.5D + 0.000001D) / 1000000.0D"
    return f"format_string('%.6f', {q6})"


def _i_sql(v: str) -> str:
    return f"format_string('%d', CAST({v} AS BIGINT))"


# reporter field -> tier column, SQL formatter; mirrors what the
# go-metrics-graphite reporter emits per metric kind (graphite.go:86)
_KIND_FIELDS: dict[str, list[tuple[str, str, object]]] = {
    "counter": [("count", "cum_sum", _i_sql), ("count", "sum", _i_sql)],
    "gauge": [("value", "last", _i_sql)],
    "meter": [
        ("count", "cnt", _i_sql),
        ("mean-rate", "rate", _f_sql),
        ("one-minute", "rate_m1", _f_sql),
        ("five-minute", "rate_m5", _f_sql),
        ("fifteen-minute", "rate_m15", _f_sql),
    ],
    "timer": [
        ("count", "cnt", _i_sql),
        ("min", "min", _f_sql),
        ("max", "max", _f_sql),
        ("mean", "avg", _f_sql),
        ("std-dev", "stddev", _f_sql),
        ("50-percentile", "p50", _f_sql),
        ("75-percentile", "p75", _f_sql),
        ("95-percentile", "p95", _f_sql),
        ("99-percentile", "p99", _f_sql),
        ("999-percentile", "p999", _f_sql),
        ("mean-rate", "rate", _f_sql),
        ("one-minute", "rate_m1", _f_sql),
        ("five-minute", "rate_m5", _f_sql),
        ("fifteen-minute", "rate_m15", _f_sql),
    ],
}


# timer value fields the reporter divides by DurationUnit before
# formatting (graphite/graphite.go:71 sets time.Second over ns inputs);
# count and the rates are NOT duration-valued
_TIMER_DURATION_FIELDS = {"min", "max", "mean", "std-dev"} | {
    f"{p}-percentile" for p in (50, 75, 95, 99, 999)
}

# bytes buffered per sendall in send_graphite_tcp
_SEND_BUFFER_BYTES = 64 * 1024


def to_graphite_lines(
    tier_df: DataFrame,
    tier: str,
    prefix: str = "logtrics",
    gauge_float: bool = False,
    timer_duration_unit: float = 1.0,
) -> DataFrame:
    """Tier rows -> one ``path value epoch`` line per reported field.

    Per kind, only the fields whose source column exists in ``tier_df``
    are emitted (e.g. EWMA rates appear once ``meter_ewma`` ran; for
    counters ``cum_sum`` — the reference's never-reset running total —
    is preferred over the per-window ``sum`` delta when present).
    ``gauge_float=True`` formats gauge values as %.6f for non-integer
    gauge streams; the reference's gauges are int64
    (graphite/graphite.go:115-125), hence the %d default.
    ``timer_duration_unit`` divides timer duration fields before
    formatting — the reference reports ns timers in seconds
    (DurationUnit=time.Second, graphite/graphite.go:71), so a pipeline
    whose timer values are nanoseconds passes 1e9; the default 1.0
    reports values in their stored unit.

    The per-kind ``CASE kind WHEN ... THEN array(format_string(...))``
    is one SQL expression parsed once, over a projection that carries
    the metric path, the epoch string and the duration unit as columns.
    The prefix and the unit enter as literal Columns, never as SQL
    text; the SQL names only the fixed kinds, suffixes and columns of
    ``_KIND_FIELDS``.
    """
    cols = set(tier_df.columns)
    branches = []
    used: list[str] = []
    for kind, fields in _KIND_FIELDS.items():
        seen = set()
        items = []
        for suffix, col, fmt in fields:
            if col not in cols or suffix in seen:
                continue
            seen.add(suffix)
            if col not in used:
                used.append(col)
            if kind == "gauge" and gauge_float:
                fmt = _f_sql
            value = f"`{col}`"
            if (
                kind == "timer"
                and timer_duration_unit != 1.0
                and suffix in _TIMER_DURATION_FIELDS
            ):
                value = f"CAST({value} AS DOUBLE) / `unit`"
            items.append(f"format_string('%s.%s %s %s', `path`, '{suffix}', {fmt(value)}, `epoch`)")
        if items:
            branches.append(f"WHEN '{kind}' THEN array({', '.join(items)})")

    if not branches:
        # tier_df carries none of the mapped value columns: no field can
        # be emitted for ANY kind — return an empty lines frame rather
        # than exploding a null literal (which raises at analysis time)
        return tier_df.sparkSession.createDataFrame([], "line string")
    epoch = (
        F.unix_timestamp("window_start").cast("long") + F.lit(tier_seconds(tier))
    ).cast("long")
    named = tier_df.select(
        F.concat_ws(".", F.lit(prefix), F.col("source"), F.col("metric")).alias("path"),
        F.format_string("%d", epoch).alias("epoch"),
        F.lit(float(timer_duration_unit)).alias("unit"),
        "kind",
        *used,
    )
    # unknown kinds produce no lines (null array -> explode drops row)
    lines = F.expr(f"CASE `kind` {' '.join(branches)} END")
    return named.select(F.explode(lines).alias("line"))


def send_graphite_tcp(
    lines_df: DataFrame, host: str, port: int, timeout_s: float = 10.0
) -> None:
    """Ship lines to a Graphite plaintext listener over one connection.

    The reference holds one connection per flusher
    (graphite/graphite.go:61-64).  The frame streams to the driver one
    partition at a time (``toLocalIterator`` with the next partition
    prefetched), so the driver holds about two partitions, never the
    whole frame — the CLI ``graphite`` command ships a whole stored tier
    through here.  Lines go out in buffered ``sendall`` calls of about
    64 KiB.  The socket opens at the first line: an empty frame opens
    none.
    """
    sock = None
    buf: list[bytes] = []
    size = 0
    try:
        for row in lines_df.select("line").toLocalIterator(prefetchPartitions=True):
            if sock is None:
                sock = socket.create_connection((host, port), timeout=timeout_s)
            b = (row[0] + "\n").encode("utf-8")
            buf.append(b)
            size += len(b)
            if size >= _SEND_BUFFER_BYTES:
                sock.sendall(b"".join(buf))
                buf, size = [], 0
        if buf:
            sock.sendall(b"".join(buf))
    finally:
        if sock is not None:
            sock.close()
