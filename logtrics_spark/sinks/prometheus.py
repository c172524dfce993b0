"""Prometheus APIs — the reference's open TODO item, implemented.

The reference lists "Prometheus APIs" as unimplemented
(/root/reference/TODO.md:4): the intended surface, by symmetry with its
Graphite flusher (graphite/graphite.go:54-98), is exposing the metric
registry in the Prometheus exposition text format.  This module is the
Spark-first version over the same tier tables the Graphite sink reads:

- ``to_prometheus_samples``: tier rows -> DataFrame[family, ptype,
  sample] — one exposition *sample line* per reported field, built from
  pure Catalyst string expressions (distributed; usable at any scale).
  ``family``/``ptype`` carry the metric-family name and Prometheus type
  so a renderer can group samples under their ``# TYPE`` header, which
  the exposition format requires ("all lines for a given metric must be
  provided as one single group, with the TYPE line first").
- ``render_exposition``: samples -> the full ``/metrics`` text.  A
  scrape payload is ONE sample per live series — bounded by series
  cardinality (sources x metrics x fields), never by data volume — so
  the driver-side collect here is bounded by design, exactly like the
  reference's in-process registry walk.
- ``write_textfile``: atomic tmp+rename write of the payload — the
  node-exporter *textfile collector* contract (partially-written files
  must never be scraped).
- ``serve_metrics``: a minimal stdlib HTTP endpoint serving the latest
  payload with the ``text/plain; version=0.0.4`` content type.

Kind mapping (mirrors _KIND_FIELDS in sinks/graphite.py; Prometheus
naming per the exposition-format conventions):

- counter -> ``<name>_total`` TYPE counter, value ``cum_sum`` (the
  never-reset running total) when present, else the per-window ``sum``.
- gauge   -> ``<name>`` TYPE gauge, value ``last``.
- meter   -> ``<name>_total`` TYPE counter (``cnt``) plus TYPE gauge
  rate families ``_mean_rate`` / ``_rate1m`` / ``_rate5m`` / ``_rate15m``
  for whichever EWMA columns exist.
- timer   -> TYPE summary: ``<name>{quantile="0.5"} ...`` samples from
  the pXX columns, ``<name>_sum`` (= avg*cnt) and ``<name>_count``;
  plus TYPE gauge ``_min`` / ``_max`` / ``_stddev`` where present.

Sample timestamps are the window-END epoch in MILLISECONDS (Prometheus
sample timestamps are ms; the Graphite sink stamps the same instant in
seconds).  Pass ``timestamps=False`` for textfile-collector output:
node-exporter rejects textfiles carrying timestamps, and a stale
timestamp would otherwise make Prometheus drop the sample silently.

Values are quantized to 6 dp via the shared ``_q6`` before ``%.6f``
formatting, so the emitted text is a pure function of the aggregate
value (cross-engine stable, hash-comparable against a SQL oracle).

Metric names are sanitized to ``[a-zA-Z_:][a-zA-Z0-9_:]*`` (invalid
chars -> ``_``); label VALUES are escaped per the exposition format
(backslash, double-quote, newline).
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logtrics_spark.operators.rollup import tier_seconds
from logtrics_spark.sinks.graphite import _f, _i

logger = logging.getLogger("logtrics_spark.prometheus")

CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"


def _sanitize_name(col: Column) -> Column:
    """Prometheus metric-name charset: ``[a-zA-Z_:][a-zA-Z0-9_:]*``."""
    c = F.regexp_replace(col, r"[^a-zA-Z0-9_:]", "_")
    # a leading digit is invalid for a name component; prefix it
    return F.when(c.rlike(r"^[0-9]"), F.concat(F.lit("_"), c)).otherwise(c)


def _escape_label(col: Column) -> Column:
    """Label-value escaping: backslash, double-quote, newline."""
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    return F.regexp_replace(c, "\n", "\\\\n")


# (family-suffix, ptype, tier column, formatter, extra-label or None).
# First match per (kind, suffix) wins, like graphite's _KIND_FIELDS —
# counter prefers cum_sum over the per-window sum delta.
_KIND_SAMPLES: dict[str, list[tuple[str, str, str, object, str | None]]] = {
    "counter": [
        ("_total", "counter", "cum_sum", _i, None),
        ("_total", "counter", "sum", _i, None),
    ],
    "gauge": [("", "gauge", "last", _i, None)],
    "meter": [
        ("_total", "counter", "cnt", _i, None),
        ("_mean_rate", "gauge", "rate", _f, None),
        ("_rate1m", "gauge", "rate_m1", _f, None),
        ("_rate5m", "gauge", "rate_m5", _f, None),
        ("_rate15m", "gauge", "rate_m15", _f, None),
    ],
    "timer": [
        ("", "summary", "p50", _f, 'quantile="0.5"'),
        ("", "summary", "p75", _f, 'quantile="0.75"'),
        ("", "summary", "p95", _f, 'quantile="0.95"'),
        ("", "summary", "p99", _f, 'quantile="0.99"'),
        ("", "summary", "p999", _f, 'quantile="0.999"'),
        ("_sum", "summary", "__timer_sum", _f, None),
        ("_count", "summary", "cnt", _i, None),
        ("_min", "gauge", "min", _f, None),
        ("_max", "gauge", "max", _f, None),
        ("_stddev", "gauge", "stddev", _f, None),
    ],
}

# timer duration-valued fields, divided by timer_duration_unit like the
# Graphite reporter (graphite/graphite.go:71) so both sinks agree
_TIMER_DURATION_COLS = {"p50", "p75", "p95", "p99", "p999",
                        "__timer_sum", "min", "max", "stddev"}


def to_prometheus_samples(
    tier_df: DataFrame,
    tier: str,
    prefix: str = "logtrics",
    gauge_float: bool = False,
    timer_duration_unit: float = 1.0,
    timestamps: bool = True,
) -> DataFrame:
    """Tier rows -> DataFrame[family, ptype, sample].

    Emits one sample line per reported field whose source column exists
    in ``tier_df`` (same column-presence contract as
    ``to_graphite_lines``).  The input should normally be a LATEST
    snapshot (one row per series — e.g. ``RollupJob.read_tier``
    filtered to each series' newest window); passing multiple windows
    per series emits one timestamped sample per window, which is valid
    exposition only with ``timestamps=True``.

    Fully distributed — no driver materialization here; grouping for
    the TYPE headers happens in ``render_exposition``.
    """
    cols = set(tier_df.columns)
    secs = tier_seconds(tier)
    ts_ms = (
        (F.unix_timestamp("window_start").cast("long") + F.lit(secs)) * 1000
    ).cast("long")
    name_base = _sanitize_name(
        F.concat_ws("_", F.lit(prefix), F.col("metric"))
    )
    src = _escape_label(F.col("source"))

    df = tier_df
    if "avg" in cols and "cnt" in cols:
        df = df.withColumn(
            "__timer_sum", F.col("avg").cast("double") * F.col("cnt").cast("double")
        )
        cols = cols | {"__timer_sum"}

    per_kind = []
    for kind, fields in _KIND_SAMPLES.items():
        seen = set()
        exprs = []
        for suffix, ptype, col, fmt, extra in fields:
            key = (suffix, extra)
            if col not in cols or key in seen:
                continue
            seen.add(key)
            if kind == "gauge" and gauge_float:
                fmt = _f
            value: Column | str = col
            if (
                kind == "timer"
                and timer_duration_unit != 1.0
                and col in _TIMER_DURATION_COLS
            ):
                value = F.col(col).cast("double") / F.lit(float(timer_duration_unit))
            sample_name = F.concat(name_base, F.lit(suffix))
            # a summary's _sum/_count samples group under the BASE
            # family's single `# TYPE <base> summary` header; every
            # other (family == sample name)
            family = name_base if ptype == "summary" else sample_name
            labels = F.format_string('source="%s"', src)
            if extra:
                labels = F.concat(labels, F.lit("," + extra))
            if timestamps:
                sample = F.format_string(
                    "%s{%s} %s %s",
                    sample_name,
                    labels,
                    fmt(value),
                    F.format_string("%d", ts_ms),
                )
            else:
                sample = F.format_string(
                    "%s{%s} %s", sample_name, labels, fmt(value)
                )
            exprs.append(F.struct(
                family.alias("family"),
                F.lit(ptype).alias("ptype"),
                sample.alias("sample"),
            ))
        if exprs:
            per_kind.append((kind, F.array(*exprs)))

    if not per_kind:
        return tier_df.sparkSession.createDataFrame(
            [], "family string, ptype string, sample string"
        )
    arr = None
    for kind, a in per_kind:
        arr = (
            F.when(F.col("kind") == kind, a)
            if arr is None
            else arr.when(F.col("kind") == kind, a)
        )
    # unknown kinds -> null array -> explode drops the row
    out = df.select(F.explode(arr).alias("s"))
    return out.select("s.family", "s.ptype", "s.sample")


def render_exposition(samples_df: DataFrame) -> str:
    """Samples -> the full exposition payload, grouped per family with
    its ``# TYPE`` header first, families and samples sorted for a
    deterministic byte-stable payload.

    Driver-side by design: a scrape is one sample per live series, so
    the collect is bounded by series cardinality — the same bound as
    the reference's in-process registry walk per flush tick
    (graphite/graphite.go:86), not by data volume.
    """
    rows = (
        samples_df.select("family", "ptype", "sample")
        .orderBy("family", "sample")
        .collect()
    )
    out: list[str] = []
    current = None
    for r in rows:
        if r["family"] != current:
            current = r["family"]
            out.append(f"# TYPE {current} {r['ptype']}")
        out.append(r["sample"])
    return "\n".join(out) + ("\n" if out else "")


def write_textfile(payload: str, path: str) -> None:
    """Atomic write (tmp + rename): the node-exporter textfile-collector
    contract — a scraper must never observe a partial file.  Render with
    ``timestamps=False`` for this sink; node-exporter rejects textfiles
    that carry sample timestamps.
    """
    d = os.path.dirname(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
    os.replace(tmp, path)


class MetricsServer:
    """Minimal ``/metrics`` endpoint over http.server (stdlib only).

    Serves whatever ``payload_fn()`` returns at scrape time with the
    exposition content type.  Driver-side and snapshot-cheap: the
    payload is pre-rendered text; nothing touches Spark on the scrape
    path.  ``port=0`` binds an ephemeral port (tests); the bound port
    is exposed as ``.port``.
    """

    def __init__(self, payload_fn, host: str = "127.0.0.1", port: int = 0):
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                if self.path.rstrip("/") not in ("", "/metrics"):
                    self.send_error(404)
                    return
                body = outer._payload_fn().encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", CONTENT_TYPE)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, fmt, *args):
                logger.debug("metrics http: " + fmt, *args)

        self._payload_fn = payload_fn
        self._httpd = http.server.ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="logtrics-metrics", daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
