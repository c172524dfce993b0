"""Parser + handler semantics oracles (FIXTURES.md F2, SURVEY.md §5.1).

Every case cites the reference behavior it pins down.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logtrics_spark.api import Engine


@pytest.fixture()
def lines(spark):
    rows = [
        ("console", 'hello "World"'),          # examples/scripts/logtrics.lua:25
        ("console", "no match here"),           # silent skip (logtrics.go:184-187)
        ("udp", 'hello "Spark" and hello "Again"'),  # first match only (parser.go:45)
        ("tcp", "num=42 dur=4.9 bad=abc"),     # ToInt64 coercion cases
        ("tcp", ""),                            # empty line
    ]
    pdf = pd.DataFrame(rows, columns=["source", "line"])
    pdf["ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(pdf.index, unit="min")
    return spark.createDataFrame(pdf)


def test_match_gate_and_first_match(spark, lines):
    """Non-matching lines dropped silently; first match wins."""
    eng = Engine()

    def handler(caps, m):
        m.meter("hits").mark(1)

    eng.rule("hello", r'hello "(?P<first>[a-zA-z0-9]+)"', handler)
    got = eng.run(lines).toPandas()
    assert len(got) == 2  # console 'hello "World"' + udp double-hello (once)
    assert set(got["source"]) == {"console", "udp"}


def test_named_captures_and_metadata(spark, lines):
    """Named groups extracted; _source/_line injected (logtrics.go:190-196)."""
    seen = {}

    def handler(caps, m):
        # runs on executors — assert by emitting values derived from caps
        assert "_source" in caps.columns and "_line" in caps.columns
        m.gauge("len.first").update(caps["first"].str.len())

    eng = Engine()
    eng.rule("hello", r'hello "(?P<first>[a-zA-z0-9]+)"', handler)
    got = eng.run(lines).toPandas().sort_values("source").reset_index(drop=True)
    # World -> 5; Spark (first match, not Again) -> 5
    assert list(got["value"]) == [5, 5]


def test_unnamed_groups_dropped(spark, lines):
    """Unnamed groups are not captures (parser.go:51-53)."""

    def handler(caps, m):
        cap_cols = [c for c in caps.columns if not c.startswith("_")]
        assert cap_cols == ["n"], cap_cols
        m.counter("n").inc(caps["n"])

    eng = Engine()
    eng.rule("mixed", r"num=(?P<n>\d+) dur=(\d+\.\d+)", handler)
    got = eng.run(lines).toPandas()
    assert list(got["value"]) == [42]


def test_pattern_without_named_groups_rejected():
    eng = Engine()
    with pytest.raises(ValueError, match="no named groups"):
        eng.rule("bad", r"hello (\w+)", lambda c, m: None)


def test_invalid_regex_fails_registration():
    eng = Engine()
    with pytest.raises(re.error):
        eng.rule("broken", r"(?P<x>[unclosed", lambda c, m: None)


def test_int64_coercion(spark, lines):
    """'42'->42, '4.9'->4 (truncate), 'abc'->0 (graphite.go ToInt64)."""

    def handler(caps, m):
        m.gauge("n").update(caps["n"])
        m.gauge("d").update(caps["d"])
        m.gauge("b").update(caps["b"])

    eng = Engine()
    eng.rule("coerce", r"num=(?P<n>\S+) dur=(?P<d>\S+) bad=(?P<b>\S+)", handler)
    got = eng.run(lines).toPandas().set_index("metric")["value"]
    assert got["n"] == 42 and got["d"] == 4 and got["b"] == 0


def test_counter_inc_dec_and_negative(spark, lines):
    def handler(caps, m):
        c = m.counter("c")
        c.inc(caps["n"])
        c.dec(2)

    eng = Engine()
    eng.rule("cd", r"num=(?P<n>\d+)", handler)
    got = eng.run(lines).toPandas()
    assert sorted(got["value"]) == [-2, 42]
    assert set(got["kind"]) == {"counter"}


def test_rule_error_isolation(spark, lines):
    """A raising handler must not kill sibling rules (script.go:59-62),
    and the failure surfaces as a _rule_errors counter point instead of
    vanishing silently (VERDICT r1 / ADVICE)."""

    def broken(caps, m):
        raise RuntimeError("boom")

    def fine(caps, m):
        m.meter("ok").mark(1)

    eng = Engine()
    eng.rule("broken", r'hello "(?P<first>\w+)"', broken)
    eng.rule("fine", r'hello "(?P<first>\w+)"', fine)
    got = eng.run(lines).toPandas()
    assert set(got["metric"]) == {"ok", "_rule_errors.broken"}
    errs = got[got["metric"] == "_rule_errors.broken"]
    assert (errs["source"] == "_engine").all()
    assert (errs["kind"] == "counter").all()
    assert errs["value"].sum() >= 1
    assert (got[got["metric"] == "ok"]["value"] == 1).all()


def test_rule_failure_ships_no_partial_points(spark, lines):
    """A handler that emits some points and THEN raises must ship NONE
    of them — frames are buffered per rule and published only on
    success (ADVICE: partial-flush hole)."""

    def partial(caps, m):
        m.counter("before.crash").inc(1)
        raise RuntimeError("after emitting")

    eng = Engine()
    eng.rule("partial", r'hello "(?P<first>\w+)"', partial)
    got = eng.run(lines).toPandas()
    assert "before.crash" not in set(got["metric"])
    assert set(got["metric"]) == {"_rule_errors.partial"}


def test_rule_logging_surface(spark, lines):
    """U2: handlers get the reference's six log functions via m.log
    (logtrics.go:162-173); logging must not disturb point emission."""
    from logtrics_spark.api import RuleLogger

    def handler(caps, m):
        m.log.info("saw %d rows", len(caps))
        m.log.debug("first capture: %s", caps["first"].iloc[0])
        m.log.trace("trace level works")
        m.meter("logged").mark(1)

    eng = Engine()
    eng.rule("logger", r'hello "(?P<first>\w+)"', handler)
    got = eng.run(lines).toPandas()
    assert set(got["metric"]) == {"logged"}
    # all six reference functions exist driver-side too
    rl = RuleLogger("unit")
    for fn in ("fatal", "error", "warn", "info", "debug", "trace"):
        getattr(rl, fn)("msg %s", "arg")


def test_multiple_rules_shared_scan(spark, lines):
    """Fan-out: every line offered to every rule (app.go:74-85)."""
    eng = Engine()
    eng.rule("hello", r'hello "(?P<w>\w+)"', lambda c, m: m.meter("hello").mark(1))
    eng.rule("nums", r"num=(?P<n>\d+)", lambda c, m: m.counter("nums").inc(c["n"]))
    got = eng.run(lines).toPandas()
    assert set(got["metric"]) == {"hello", "nums"}


def test_points_feed_rollup(spark, lines):
    """Engine output composes with the rollup operators."""
    from logtrics_spark.operators.rollup import rollup

    eng = Engine()
    eng.rule("hello", r'hello "(?P<w>\w+)"', lambda c, m: m.meter("hits").mark(1))
    tier = rollup(eng.run(lines), "1h").toPandas()
    assert tier["cnt"].sum() == 2


def test_apply_rules_pure_pandas_without_warnings():
    """The per-batch body in plain pandas: first match only, named
    groups only, non-matching lines and rules skipped — and no warning
    escapes (pandas warns about a gate pattern with groups)."""
    import warnings

    from logtrics_spark.api import ERROR_METRIC_PREFIX, apply_rules

    pdf = pd.DataFrame(
        {
            "source": ["s1", "s2", "s3"],
            "line": ["k=1 k=2", "no match here", "x k=7"],
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:01", "2024-01-01 00:02"]),
        }
    )
    seen = []

    def count(caps, m):
        seen.append(caps.copy())
        m.counter("hits").inc(caps["v"])

    def never(caps, m):
        raise AssertionError("handler of a rule that matched no line ran")

    rules = [
        ("kv", re.compile(r"(k)=(?P<v>\d+)"), count),  # one unnamed, one named group
        ("none", re.compile(r"(?P<z>zzz)"), never),
    ]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = apply_rules(pdf, rules)

    assert len(seen) == 1
    assert list(seen[0].columns) == ["v", "_source", "_line"]  # named groups only
    assert seen[0]["v"].tolist() == ["1", "7"]  # first match; "no match here" skipped
    assert not out["metric"].str.startswith(ERROR_METRIC_PREFIX).any()
    assert out[["source", "metric", "kind", "value"]].values.tolist() == [
        ["s1", "hits", "counter", 1],
        ["s3", "hits", "counter", 7],
    ]
    assert out["ts"].tolist() == [pdf["ts"][0], pdf["ts"][2]]
    # no rule matched anything: no points frame at all
    assert apply_rules(pdf.iloc[[1]], rules) is None


def test_pin_spark_archives_skips_only_spark_archives(tmp_path, monkeypatch):
    """After the pin, a zipimporter rescan skips Spark's own archives
    (pyspark.zip, py4j-*.zip, jars) and still rescans any other one."""
    import zipfile
    import zipimport

    from logtrics_spark.api import _pin_spark_archives

    rescanned = []
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", lambda self: rescanned.append(self.archive)
    )
    monkeypatch.setattr(zipimport.zipimporter, "_spark_archives_pinned", False, raising=False)
    names = ["pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar", "extra.zip"]
    importers = []
    for name in names:
        with zipfile.ZipFile(tmp_path / name, "w") as z:
            z.writestr("mod.py", "X = 1\n")
        importers.append(zipimport.zipimporter(str(tmp_path / name)))

    _pin_spark_archives()
    _pin_spark_archives()  # idempotent: the second call wraps nothing again
    for imp in importers:
        imp.invalidate_caches()
    assert rescanned == [str(tmp_path / "extra.zip")]


_PIN_PROBE = '''
import json, os, zipimport

import pandas as pd
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()


def probe(batches):  # defined here, so pickled by value: imports no package module
    for _ in batches:
        pass
    pinned = getattr(zipimport.zipimporter, "_spark_archives_pinned", False)
    yield pd.DataFrame({"pid": [os.getpid()], "pinned": [pinned]})


def task():  # collect, not first: a task that stops reading early gives up its worker
    return spark.range(1, numPartitions=1).mapInPandas(probe, "pid long, pinned boolean").collect()[0]


before = task()
from logtrics_spark.operators.gorilla import compress_tier  # noqa: E402

rows = pd.DataFrame({"source": ["s"] * 3, "metric": ["m"] * 3, "kind": ["counter"] * 3,
                     "window_start": pd.date_range("2024-01-01", periods=3, freq="min"),
                     "cnt": [1, 2, 3]})
compress_tier(spark.createDataFrame(rows), "1m").count()
after = task()
print(json.dumps({"before": before.asDict(), "after": after.asDict()}))
spark.stop()
'''


def test_package_import_pins_each_python_worker(tmp_path):
    """A fresh Python worker re-reads Spark's archives until it imports
    the package to unpickle one of its closures (here compress_tier's);
    from then on every task of that worker finds them pinned.  Runs its
    own one-core session, so both probes land on one fresh worker."""
    import json
    import os
    import subprocess
    import sys

    script = tmp_path / "probe.py"
    script.write_text(_PIN_PROBE)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")])}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=repo, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["before"]["pinned"] is False
    assert got["after"] == {"pid": got["before"]["pid"], "pinned": True}
