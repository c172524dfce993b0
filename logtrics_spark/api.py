"""User-facing rule API — the reference's Lua surface, vectorized.

Reference shape being mirrored (all citations /root/reference/):
- a rule = {name, regex with named groups, handler} (logtrics.go:19-69)
- per line: regex gate -> named-capture projection -> handler call
  (logtrics.go:176-202, parser.go:40-57)
- handler updates metrics through the graphite API: counter.inc/dec,
  gauge.update, timer.update, meter.mark (graphite/graphite.go:101-151,
  186-218), all int64-coerced (ToInt64 truncation, non-numeric -> 0)
- multiple rules fan out over every event (app.go:74-85, script.go:55-63)
  with per-rule error isolation (script.go:59-62)

Semantics preserved exactly (pytest oracles in tests/test_api.py):
- silent skip of non-matching lines (logtrics.go:184-187)
- named groups only; unnamed groups dropped (parser.go:51-53)
- first match only (parser.go:45 FindStringSubmatch)
- `_source` and `_line` injected next to captures (logtrics.go:190-196)

Execution is Spark-first: ALL rules run in ONE mapInPandas pass over the
shared scan (the fan-out is a multi-consumer broadcast, not N jobs), and
each handler is a *vectorized* function over a pandas DataFrame of
captures — per BASELINE.json there is no per-row Python anywhere.
Handlers receive a Metrics sink whose calls append whole Series of
points at once.
"""

from __future__ import annotations

import logging
import os
import re
import warnings
import zipimport
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logtrics_spark.functions.coerce import to_int64_pandas
from logtrics_spark.operators.extract import POINT_SCHEMA

# counter emitted once per (failing rule, batch); lets operators alert on
# broken rules instead of watching points silently vanish
ERROR_METRIC_PREFIX = "_rule_errors"

_MATCH_GROUPS_WARNING = "This pattern is interpreted as a regular expression, and has match groups"


class _Instrument:
    """One named metric inside a handler invocation; collects point series."""

    def __init__(self, sink: "Metrics", name: str, kind: str) -> None:
        self._sink = sink
        self._name = name
        self._kind = kind

    def _emit(self, values, sign: int = 1) -> None:
        v = to_int64_pandas(pd.Series(values, index=self._sink._index)) * sign
        self._sink._points.append((self._name, self._kind, v))

    # counter (graphite/graphite.go:207-218): inc adds, dec subtracts
    def inc(self, values) -> None:
        self._emit(values, 1)

    def dec(self, values) -> None:
        self._emit(values, -1)

    # gauge / timer (graphite/graphite.go:193-197, 186-190)
    def update(self, values) -> None:
        self._emit(values, 1)

    # meter (graphite/graphite.go:200-204)
    def mark(self, values=1) -> None:
        self._emit(values, 1)


class RuleLogger:
    """U2 — the reference's six Lua-bound log functions
    (logtrics.go:162-173, impls 204-267), surfaced to handlers as
    ``m.log``.  Messages go to the executor's Python logger under
    ``logtrics_spark.rules.<rule>``; %-style args are deferred like the
    reference's printf-style bindings."""

    TRACE = 5  # below logging.DEBUG, mirroring zerolog's trace level

    def __init__(self, rule_name: str) -> None:
        self._log = logging.getLogger(f"logtrics_spark.rules.{rule_name}")

    def fatal(self, msg: str, *args) -> None:
        self._log.critical(msg, *args)

    def error(self, msg: str, *args) -> None:
        self._log.error(msg, *args)

    def warn(self, msg: str, *args) -> None:
        self._log.warning(msg, *args)

    def info(self, msg: str, *args) -> None:
        self._log.info(msg, *args)

    def debug(self, msg: str, *args) -> None:
        self._log.debug(msg, *args)

    def trace(self, msg: str, *args) -> None:
        self._log.log(self.TRACE, msg, *args)


class Metrics:
    """Vectorized analog of the Lua graphite() table (logtrics.go:270-285).

    ``log`` carries the rule's logging API (U2) so a handler has the
    same surface a reference Lua handler gets: metrics + log functions.
    """

    def __init__(self, index: pd.Index, rule_name: str = "rule") -> None:
        self._index = index
        self._points: list[tuple[str, str, pd.Series]] = []
        self.log = RuleLogger(rule_name)

    def counter(self, name: str) -> _Instrument:
        return _Instrument(self, name, "counter")

    def gauge(self, name: str) -> _Instrument:
        return _Instrument(self, name, "gauge")

    def timer(self, name: str) -> _Instrument:
        return _Instrument(self, name, "timer")

    def meter(self, name: str) -> _Instrument:
        return _Instrument(self, name, "meter")


Handler = Callable[[pd.DataFrame, Metrics], None]


@dataclass
class Rule:
    name: str
    pattern: str
    handler: Handler
    _compiled: re.Pattern = field(init=False, repr=False)

    def __post_init__(self) -> None:
        # compile eagerly: invalid regex fails rule registration, like the
        # reference's eager parser validation (logtrics.go:37-50, parser.go:28)
        self._compiled = re.compile(self.pattern)
        if not self._compiled.groupindex:
            raise ValueError(
                f"rule {self.name!r}: pattern has no named groups "
                "(the reference drops unnamed groups, parser.go:51-53)"
            )


def _pin_spark_archives() -> None:
    """Keep this Python worker from re-reading Spark's own archives
    before every task.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of each task (``setup_spark_files``).  On Python 3.11 that makes every
    cached ``zipimporter`` re-read its archive's directory: one importer
    per package imported from ``pyspark.zip``, plus the spark-core jar
    that Spark also puts on the worker's path.  That costs 0.12-0.2 s per
    task on a 4-core VM, more than the engine's own work on a
    10,000-line batch.  Those archives belong to the Spark install and do
    not change under a running worker, so their importers keep their
    directory.  Any other archive, such as one added with ``addPyFile``,
    is still re-read.  Idempotent.  The package installs it once per
    worker process, when the worker first imports ``logtrics_spark`` to
    unpickle one of its closures (``logtrics_spark/__init__.py``), so
    every Python task after a worker's first one skips the re-read.
    """
    if getattr(zipimport.zipimporter, "_spark_archives_pinned", False):
        return
    rescan = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        name = os.path.basename(self.archive)
        if not (name == "pyspark.zip" or name.startswith("py4j-") or name.endswith(".jar")):
            rescan(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    zipimport.zipimporter._spark_archives_pinned = True


def apply_rules(
    pdf: pd.DataFrame, rules: list[tuple[str, re.Pattern, Handler]]
) -> pd.DataFrame | None:
    """One batch of lines(source, line, ts) -> points, or None if no
    rule produced a point.  The per-batch body of ``Engine.run``.

    Per rule: regex gate (silent skip of non-matches), first-match
    named-capture projection, handler call.  A failing rule drops its
    points for the batch and emits one ``_rule_errors.<rule>`` counter
    point instead (script.go:59-62's log-and-continue).
    """
    log = logging.getLogger("logtrics_spark.engine")
    out_frames = []
    lines = pdf["line"].astype("string")
    for name, pat, handler in rules:
        # buffer this rule's frames locally and publish only
        # after the handler completes: a failure mid-flush
        # must not ship a partial subset of the rule's points
        rule_frames: list[pd.DataFrame] = []
        try:
            # gate (parser.go:41-43): silent skip of non-matches.  pandas
            # warns once per worker per rule that the pattern has groups
            # (into daemon stderr); they are the point, so it is silenced
            with warnings.catch_warnings():
                warnings.filterwarnings("ignore", _MATCH_GROUPS_WARNING, UserWarning)
                mask = lines.str.contains(pat, regex=True, na=False)
            if not mask.any():
                continue
            sub = pdf[mask]
            # first-match named-capture projection (parser.go:45-56);
            # pd.str.extract == FindStringSubmatch: first match,
            # we then keep named groups only
            caps = sub["line"].astype("string").str.extract(pat)
            caps = caps[[c for c in caps.columns if isinstance(c, str)]]
            # metadata projection (logtrics.go:190-196)
            caps = caps.assign(_source=sub["source"], _line=sub["line"])
            sink = Metrics(caps.index, rule_name=name)
            handler(caps, sink)
            for metric, kind, values in sink._points:
                rule_frames.append(
                    pd.DataFrame(
                        {
                            "source": sub["source"],
                            "metric": metric,
                            "kind": kind,
                            "ts": sub["ts"],
                            "value": values.astype("int64"),
                        }
                    )
                )
        except Exception:
            # per-rule isolation (script.go:59-62): a broken
            # rule must not kill sibling rules or the job —
            # but unlike the round-1 silent continue, the
            # failure is logged (the reference logs handler
            # errors too) and surfaced as a counter point so
            # a dashboard shows the rule bleeding out
            log.exception("rule %r failed; dropping its points for this batch", name)
            out_frames.append(
                pd.DataFrame(
                    {
                        "source": ["_engine"],
                        "metric": [f"{ERROR_METRIC_PREFIX}.{name}"],
                        "kind": ["counter"],
                        "ts": [pdf["ts"].iloc[0]],
                        "value": [1],
                    }
                )
            )
            continue
        out_frames.extend(rule_frames)
    return pd.concat(out_frames, ignore_index=True) if out_frames else None


class Engine:
    """Holds rules; ``run`` turns a lines DataFrame into metric points."""

    def __init__(self) -> None:
        self.rules: list[Rule] = []

    def rule(self, name: str, pattern: str, handler: Handler) -> Rule:
        r = Rule(name, pattern, handler)
        self.rules.append(r)
        return r

    def run(
        self,
        df: DataFrame,
        line_col: str = "line",
        source_col: str = "source",
        ts_col: str = "ts",
    ) -> DataFrame:
        """lines(source, line, ts) -> points(source, metric, kind, ts, value).

        One Arrow pass for all rules (``apply_rules`` per batch);
        per-rule failures are isolated (errors drop that rule's points
        for the batch, mirroring script.go:59-62's log-and-continue).
        """
        if not self.rules:
            raise ValueError("no rules registered")
        rules = [(r.name, r.pattern, r.handler) for r in self.rules]

        slim = df.select(
            F.col(source_col).alias("source"),
            F.col(line_col).alias("line"),
            F.col(ts_col).alias("ts"),
        )

        def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            compiled = [(name, re.compile(pat), h) for name, pat, h in rules]
            for pdf in batches:
                out = apply_rules(pdf, compiled)
                if out is not None:
                    yield out

        return slim.mapInPandas(process, POINT_SCHEMA)
