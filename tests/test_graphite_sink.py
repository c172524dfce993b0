"""K2 parity tests: Graphite plaintext formatting and TCP emission
(reference graphite/graphite.go:61-98).  The K3 debug registry log is
the daemon flush's (tests/test_daemon.py)."""

from __future__ import annotations

import socket
import socketserver
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

BASE = pd.Timestamp("2024-01-01 00:00:00")


@pytest.fixture()
def tier_df(spark):
    rows = pd.DataFrame(
        {
            "source": ["web", "web", "api", "api"],
            "metric": ["req.total", "mem.used", "req.rate", "lat.ms"],
            "kind": ["counter", "gauge", "meter", "timer"],
            "window_start": [BASE] * 4,
            "cnt": [10, 3, 60, 4],
            "sum": [100, 30, 60, 44],
            "min": [1, 5, 1, 2],
            "max": [20, 15, 1, 20],
            "avg": [10.0, 10.0, 1.0, 11.0],
            "last": [20, 15, 1, 20],
            "rate": [10 / 60.0, 3 / 60.0, 1.0, 4 / 60.0],
            "cum_sum": [250, 30, 60, 44],
            "stddev": [0.0, 0.0, 0.0, 7.5],
        }
    )
    return spark.createDataFrame(rows)


def test_graphite_line_golden_format(spark, tier_df):
    """Exact reporter lines: `<prefix>.<source>.<metric>.<field> <value>
    <window-end epoch>` — the go-metrics-graphite plaintext shape."""
    from logtrics_spark.sinks.graphite import to_graphite_lines

    got = sorted(r["line"] for r in to_graphite_lines(tier_df, "1m").collect())
    epoch = int(BASE.timestamp()) + 60
    assert f"logtrics.web.req.total.count 250 {epoch}" in got  # cum_sum preferred
    assert f"logtrics.web.mem.used.value 15 {epoch}" in got
    assert f"logtrics.api.req.rate.count 60 {epoch}" in got
    assert f"logtrics.api.req.rate.mean-rate 1.000000 {epoch}" in got
    assert f"logtrics.api.lat.ms.count 4 {epoch}" in got
    assert f"logtrics.api.lat.ms.mean 11.000000 {epoch}" in got
    assert f"logtrics.api.lat.ms.std-dev 7.500000 {epoch}" in got
    assert f"logtrics.api.lat.ms.mean-rate 0.066667 {epoch}" in got
    # one line per (kind-appropriate field x row), nothing else:
    # counter 1, gauge 1, meter count+mean-rate, timer
    # count/min/max/mean/std-dev/mean-rate
    assert len(got) == 1 + 1 + 2 + 6


def test_graphite_no_mapped_columns_yields_empty_frame(spark, tier_df):
    """A tier frame with none of the mapped value columns must format to
    an EMPTY lines frame, not raise from exploding a null literal."""
    from logtrics_spark.sinks.graphite import to_graphite_lines

    bare = tier_df.select("source", "metric", "kind", "window_start")
    got = to_graphite_lines(bare, "1m")
    assert got.columns == ["line"]
    assert got.count() == 0


def test_graphite_counter_falls_back_to_window_delta(spark, tier_df):
    from logtrics_spark.sinks.graphite import to_graphite_lines

    got = sorted(
        r["line"]
        for r in to_graphite_lines(tier_df.drop("cum_sum"), "1m").collect()
    )
    assert any(line.startswith("logtrics.web.req.total.count 100 ") for line in got)


def test_graphite_timer_duration_unit(spark, tier_df):
    """DurationUnit parity (graphite/graphite.go:71): ns-valued timers
    report duration fields in seconds; count/mean-rate are untouched."""
    from logtrics_spark.sinks.graphite import to_graphite_lines

    ns = tier_df.where("kind = 'timer'").withColumn(
        "min", F.col("min") * 1_000_000_000
    ).withColumn("avg", F.col("avg") * 1_000_000_000)
    got = sorted(
        r["line"]
        for r in to_graphite_lines(ns, "1m", timer_duration_unit=1e9).collect()
    )
    epoch = int(BASE.timestamp()) + 60
    assert f"logtrics.api.lat.ms.min 2.000000 {epoch}" in got
    assert f"logtrics.api.lat.ms.mean 11.000000 {epoch}" in got
    assert f"logtrics.api.lat.ms.count 4 {epoch}" in got  # not scaled
    assert f"logtrics.api.lat.ms.mean-rate 0.066667 {epoch}" in got  # not scaled


def test_graphite_tcp_emission(spark, tier_df):
    """Lines arrive byte-for-byte over a real TCP listener."""
    from logtrics_spark.sinks.graphite import send_graphite_tcp, to_graphite_lines

    received: list[bytes] = []

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            for ln in self.rfile:
                received.append(ln.rstrip(b"\n"))

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        lines = to_graphite_lines(tier_df, "1m")
        expected = sorted(r["line"] for r in lines.collect())
        send_graphite_tcp(lines, "127.0.0.1", port)
        deadline = threading.Event()
        for _ in range(100):
            if len(received) >= len(expected):
                break
            deadline.wait(0.05)
        assert sorted(x.decode() for x in received) == expected
    finally:
        server.shutdown()
        server.server_close()


E1M = int(BASE.timestamp()) + 60  # window-end epoch of a 1m row at BASE


@pytest.fixture()
def golden_df(spark):
    """One row per kind plus an unknown kind; the timer's stddev is null."""
    rows = pd.DataFrame(
        {
            "source": ["web", "web", "api", "api", "api"],
            "metric": ["req", "mem", "rps", "lat", "odd"],
            "kind": ["counter", "gauge", "meter", "timer", "histogram"],
            "window_start": [BASE] * 5,
            "cnt": [10, 3, 60, 4, 1],
            "sum": [100, 30, 60, 44, 1],
            "min": [1.0, 5.0, 1.0, 2.0, 1.0],
            "max": [20.0, 15.0, 1.0, 20.0, 1.0],
            "avg": [10.0, 10.0, 1.0, 11.0, 1.0],
            "last": [20.0, 15.7, 1.0, 20.0, 1.0],
            "rate": [10 / 60.0, 3 / 60.0, 1.0, 4 / 60.0, 1.0],
            "cum_sum": [250, 30, 60, 44, 1],
            "stddev": [0.0, 0.0, 0.0, None, 1.0],
            "rate_m1": [0.1, 0.0, 0.5, 0.25, 1.0],
            "p50": [5.0, 10.0, 1.0, 9.5, 1.0],
        }
    )
    return spark.createDataFrame(rows)


_GOLDEN_COUNTER_GAUGE = [
    f"logtrics.web.req.count 250 {E1M}",
    f"logtrics.web.mem.value 15 {E1M}",
]
_GOLDEN_METER = [
    f"logtrics.api.rps.count 60 {E1M}",
    f"logtrics.api.rps.mean-rate 1.000000 {E1M}",
    f"logtrics.api.rps.one-minute 0.500000 {E1M}",
]
_GOLDEN_TIMER = [
    f"logtrics.api.lat.count 4 {E1M}",
    f"logtrics.api.lat.min 2.000000 {E1M}",
    f"logtrics.api.lat.max 20.000000 {E1M}",
    f"logtrics.api.lat.mean 11.000000 {E1M}",
    f"logtrics.api.lat.std-dev null {E1M}",
    f"logtrics.api.lat.50-percentile 9.500000 {E1M}",
    f"logtrics.api.lat.mean-rate 0.066667 {E1M}",
    f"logtrics.api.lat.one-minute 0.250000 {E1M}",
]


@pytest.mark.parametrize(
    "case, drop, kwargs, expected",
    [
        (
            "every kind; unknown kind emits nothing",
            [], {}, _GOLDEN_COUNTER_GAUGE + _GOLDEN_METER + _GOLDEN_TIMER,
        ),
        (
            "missing columns: counter falls back to sum, absent fields skipped",
            ["cum_sum", "rate_m1", "p50", "stddev"], {},
            [
                f"logtrics.web.req.count 100 {E1M}",
                f"logtrics.web.mem.value 15 {E1M}",
                f"logtrics.api.rps.count 60 {E1M}",
                f"logtrics.api.rps.mean-rate 1.000000 {E1M}",
                f"logtrics.api.lat.count 4 {E1M}",
                f"logtrics.api.lat.min 2.000000 {E1M}",
                f"logtrics.api.lat.max 20.000000 {E1M}",
                f"logtrics.api.lat.mean 11.000000 {E1M}",
                f"logtrics.api.lat.mean-rate 0.066667 {E1M}",
            ],
        ),
        (
            "gauge_float",
            [], {"gauge_float": True},
            [
                f"logtrics.web.req.count 250 {E1M}",
                f"logtrics.web.mem.value 15.700000 {E1M}",
            ] + _GOLDEN_METER + _GOLDEN_TIMER,
        ),
        (
            "timer_duration_unit scales duration fields only",
            [], {"timer_duration_unit": 4.0},
            _GOLDEN_COUNTER_GAUGE + _GOLDEN_METER + [
                f"logtrics.api.lat.count 4 {E1M}",
                f"logtrics.api.lat.min 0.500000 {E1M}",
                f"logtrics.api.lat.max 5.000000 {E1M}",
                f"logtrics.api.lat.mean 2.750000 {E1M}",
                f"logtrics.api.lat.std-dev null {E1M}",
                f"logtrics.api.lat.50-percentile 2.375000 {E1M}",
                f"logtrics.api.lat.mean-rate 0.066667 {E1M}",
                f"logtrics.api.lat.one-minute 0.250000 {E1M}",
            ],
        ),
        (
            "prefix with quote, backslash and dot; 1h epoch",
            ["min", "max", "avg", "rate", "stddev", "rate_m1", "p50", "sum"],
            {"prefix": "it's\\a.b", "tier": "1h"},
            [
                f"it's\\a.b.web.req.count 250 {E1M - 60 + 3600}",
                f"it's\\a.b.web.mem.value 15 {E1M - 60 + 3600}",
                f"it's\\a.b.api.rps.count 60 {E1M - 60 + 3600}",
                f"it's\\a.b.api.lat.count 4 {E1M - 60 + 3600}",
            ],
        ),
    ],
)
def test_graphite_lines_golden(golden_df, case, drop, kwargs, expected):
    from logtrics_spark.sinks.graphite import to_graphite_lines

    kwargs = dict(kwargs)
    tier = kwargs.pop("tier", "1m")
    lines = to_graphite_lines(golden_df.drop(*drop), tier, **kwargs)
    assert sorted(r["line"] for r in lines.collect()) == sorted(expected), case


class _CountingListener(socketserver.ThreadingTCPServer):
    """Local Graphite stand-in: every received line, and the number of
    accepted connections."""

    daemon_threads = True

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.connections = 0
        self.lock = threading.Lock()
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                with outer.lock:
                    outer.connections += 1
                got = [ln.decode().rstrip("\n") for ln in self.rfile]
                with outer.lock:
                    outer.lines.extend(got)

        super().__init__(("127.0.0.1", 0), Handler)
        self.port = self.server_address[1]
        threading.Thread(target=self.serve_forever, daemon=True).start()

    def wait_for(self, n: int, timeout_s: float = 10.0) -> list[str]:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if len(self.lines) >= n:
                    break
            time.sleep(0.02)
        with self.lock:
            return list(self.lines)

    def close(self) -> None:
        self.shutdown()
        self.server_close()


@pytest.fixture()
def listener():
    srv = _CountingListener()
    yield srv
    srv.close()


def test_send_graphite_tcp_one_connection(spark, listener):
    """A 3-partition frame goes out over exactly one connection, past
    the send buffer; an empty frame opens none."""
    from logtrics_spark.sinks.graphite import send_graphite_tcp

    frame = spark.range(0, 3000, 1, 3).selectExpr(
        "format_string('bench.src%d.metric.count %d 1704067260', id % 7, id) AS line"
    )
    assert frame.rdd.getNumPartitions() == 3
    expected = sorted(r["line"] for r in frame.collect())
    send_graphite_tcp(frame, "127.0.0.1", listener.port)
    assert sorted(listener.wait_for(len(expected))) == expected
    assert listener.connections == 1

    send_graphite_tcp(frame.where("false"), "127.0.0.1", listener.port)
    time.sleep(0.2)
    assert listener.connections == 1


def test_console_drain_sends_lines_of_drained_rows(spark, tmp_path, listener):
    """A console drain's Graphite traffic is exactly to_graphite_lines of
    the tier rows it stored, over one connection."""
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.sinks.graphite import to_graphite_lines

    eng = Engine()

    def handler(caps, m):
        m.counter("http.requests").inc(1)
        m.timer("http.latency").update(caps["ms"])

    eng.rule("access", r"(?P<verb>GET|POST) /\S+ \d{3} (?P<ms>\d+)ms", handler)
    conf = {
        "modes": ["console"],
        "graphite": {"host": "127.0.0.1", "port": listener.port, "prefix": "t"},
    }
    d = Daemon(spark, conf, eng, str(tmp_path / "store"))
    d.start(once=True, console_lines=["GET /a 200 12ms", "POST /b 401 8ms", "noise"])
    expected = sorted(
        r["line"] for r in to_graphite_lines(d.live.read_tier("1m"), "1m", prefix="t").collect()
    )
    assert len(expected) == 1 + 6  # counter count; timer count/min/max/mean/std-dev/mean-rate
    assert sorted(listener.wait_for(len(expected))) == expected
    assert listener.connections == 1
