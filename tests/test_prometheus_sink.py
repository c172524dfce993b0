"""Prometheus exposition sink — the reference's TODO.md:4 "Prometheus
APIs" item: format golden tests, family grouping, escaping, textfile
atomicity, /metrics HTTP endpoint, foreachBatch refresh."""

from __future__ import annotations

import urllib.request

import pandas as pd
import pytest

BASE = pd.Timestamp("2024-01-01 00:00:00")
TS_MS = (int(BASE.timestamp()) + 60) * 1000  # 1m window END, ms


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
            "p50": [0.0, 0.0, 0.0, 10.0],
            "p95": [0.0, 0.0, 0.0, 19.0],
        }
    )
    return spark.createDataFrame(rows)


def _samples(df, **kw):
    from logtrics_spark.sinks.prometheus import to_prometheus_samples

    return to_prometheus_samples(df, "1m", **kw)


def test_sample_golden_format_per_kind(spark, tier_df):
    got = {r["sample"] for r in _samples(tier_df).collect()}
    # counter: cum_sum preferred, `_total`, sanitized dots
    assert f'logtrics_req_total_total{{source="web"}} 250 {TS_MS}' in got
    # gauge: bare name, %d
    assert f'logtrics_mem_used{{source="web"}} 15 {TS_MS}' in got
    # meter: count + mean rate
    assert f'logtrics_req_rate_total{{source="api"}} 60 {TS_MS}' in got
    assert f'logtrics_req_rate_mean_rate{{source="api"}} 1.000000 {TS_MS}' in got
    # timer: summary quantiles + _sum (= avg*cnt) + _count, gauges
    assert f'logtrics_lat_ms{{source="api",quantile="0.5"}} 10.000000 {TS_MS}' in got
    assert f'logtrics_lat_ms{{source="api",quantile="0.95"}} 19.000000 {TS_MS}' in got
    assert f'logtrics_lat_ms_sum{{source="api"}} 44.000000 {TS_MS}' in got
    assert f'logtrics_lat_ms_count{{source="api"}} 4 {TS_MS}' in got
    assert f'logtrics_lat_ms_max{{source="api"}} 20.000000 {TS_MS}' in got
    assert f'logtrics_lat_ms_stddev{{source="api"}} 7.500000 {TS_MS}' in got


def test_timestamps_false_drops_suffix(spark, tier_df):
    got = {r["sample"] for r in _samples(tier_df, timestamps=False).collect()}
    assert 'logtrics_mem_used{source="web"} 15' in got
    assert not any(s.endswith(str(TS_MS)) for s in got)


def test_summary_groups_under_base_family(spark, tier_df):
    rows = _samples(tier_df).collect()
    fam = {r["sample"].split("{")[0]: r["family"] for r in rows}
    # quantile/_sum/_count all carry the BASE family name
    assert fam["logtrics_lat_ms"] == "logtrics_lat_ms"
    assert fam["logtrics_lat_ms_sum"] == "logtrics_lat_ms"
    assert fam["logtrics_lat_ms_count"] == "logtrics_lat_ms"
    # gauges derived from the timer are their own families
    assert fam["logtrics_lat_ms_max"] == "logtrics_lat_ms_max"


def test_render_exposition_type_headers_group_families(spark, tier_df):
    from logtrics_spark.sinks.prometheus import render_exposition

    text = render_exposition(_samples(tier_df, timestamps=False))
    lines = text.splitlines()
    assert text.endswith("\n")
    # exactly one TYPE header per family, header precedes its samples
    seen = set()
    current = None
    for ln in lines:
        if ln.startswith("# TYPE "):
            fam = ln.split()[2]
            assert fam not in seen, "family emitted in two groups"
            seen.add(fam)
            current = fam
        else:
            name = ln.split("{")[0]
            assert current is not None and name.startswith(current)
    assert "# TYPE logtrics_lat_ms summary" in lines
    assert "# TYPE logtrics_req_total_total counter" in lines
    assert "# TYPE logtrics_mem_used gauge" in lines
    assert "# TYPE logtrics_req_rate_mean_rate gauge" in lines


def test_name_sanitization_and_label_escaping(spark):
    rows = pd.DataFrame(
        {
            "source": ['we"b\\1\n2'],
            "metric": ["5xx-err.count"],
            "kind": ["gauge"],
            "window_start": [BASE],
            "last": [7],
        }
    )
    got = [r["sample"] for r in _samples(spark.createDataFrame(rows)).collect()]
    assert got == [
        f'logtrics_5xx_err_count{{source="we\\"b\\\\1\\n2"}} 7 {TS_MS}'
    ]


def test_leading_digit_metric_gets_underscore_prefix(spark):
    rows = pd.DataFrame(
        {
            "source": ["s"],
            "metric": ["ok"],
            "kind": ["gauge"],
            "window_start": [BASE],
            "last": [1],
        }
    )
    got = _samples(spark.createDataFrame(rows), prefix="9p").collect()
    assert got[0]["sample"].startswith("_9p_ok{")


def test_no_mapped_columns_yields_empty_frame(spark, tier_df):
    bare = tier_df.select("source", "metric", "kind", "window_start")
    got = _samples(bare)
    assert got.columns == ["family", "ptype", "sample"]
    assert got.count() == 0


def test_write_textfile_atomic(tmp_path):
    from logtrics_spark.sinks.prometheus import write_textfile

    path = tmp_path / "metrics.prom"
    write_textfile("a 1\n", str(path))
    write_textfile("a 2\n", str(path))
    assert path.read_text() == "a 2\n"
    assert not (tmp_path / "metrics.prom.tmp").exists()


def test_metrics_server_serves_payload():
    from logtrics_spark.sinks.prometheus import CONTENT_TYPE, MetricsServer

    box = {"payload": "x_total 1\n"}
    srv = MetricsServer(lambda: box["payload"])
    try:
        url = f"http://127.0.0.1:{srv.port}/metrics"
        with urllib.request.urlopen(url) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == CONTENT_TYPE
            assert resp.read().decode() == "x_total 1\n"
        box["payload"] = "x_total 2\n"  # scrape reads the LIVE payload
        with urllib.request.urlopen(url) as resp:
            assert resp.read().decode() == "x_total 2\n"
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/other")
        assert ei.value.code == 404
    finally:
        srv.stop()


def test_daemon_prometheus_wiring(spark, tmp_path):
    """[prometheus] config: every flush refreshes the textfile and the
    live payload from the store's FULL latest view (all live series,
    not just the windows the batch changed); the /metrics endpoint
    serves it."""
    import socket

    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.sources.readers import lines_df

    eng = Engine()
    eng.rule(
        "ra", r"(?P<k>alpha)", lambda caps, m: m.counter("hits.alpha").inc(1)
    )
    eng.rule(
        "rg", r"(?P<k>gamma)", lambda caps, m: m.counter("hits.gamma").inc(1)
    )

    with socket.socket() as s:  # find a free port for the endpoint
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]

    path = tmp_path / "m.prom"
    conf = {
        "modes": ["console"],
        "graphite": {"tiers": ["1m"], "interval": 1},
        "prometheus": {"textfile": str(path), "port": port},
    }
    d = Daemon(spark, conf, eng, str(tmp_path / "store"))
    d.start(once=True, console_lines=["alpha", "beta"])
    try:
        text1 = path.read_text()
        assert 'logtrics_hits_alpha_total{source="console"} 1' in text1
        # second flush touches only gamma; the refreshed snapshot must
        # still carry the earlier series (full-registry semantics)
        d.process_lines(lines_df(spark, ["gamma"]))
        text2 = path.read_text()
        assert 'logtrics_hits_gamma_total{source="console"} 1' in text2
        assert 'logtrics_hits_alpha_total{source="console"} 1' in text2
        # the textfile collector contract: no sample carries a timestamp
        samples = [ln for ln in text2.splitlines() if ln and not ln.startswith("#")]
        assert samples and all(len(ln.split(" ")) == 2 for ln in samples)
        import urllib.request

        body = urllib.request.urlopen(
            f"http://127.0.0.1:{d.prom_port}/metrics"
        ).read().decode()
        assert body == text2
    finally:
        d.stop()
