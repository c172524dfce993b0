"""Daemon run-mode e2e (reference cmd/logtrics/main.go:97-121,
app.go:74-94): config modes -> sources -> rules -> streaming rollup ->
tier store + Graphite lines, through the real wiring."""

from __future__ import annotations

import json
import logging
import textwrap

import pytest
from pyspark.sql import functions as F

ACCESS_RULE = r"(?P<verb>GET|POST) /(?P<path>\S+) (?P<status>\d{3}) (?P<ms>\d+)ms"

LINES = [
    "GET /index 200 12ms",
    "GET /index 200 30ms",
    "POST /login 401 8ms",
    "noise line that matches nothing",
    "GET /assets 404 3ms",
]


def _engine():
    from logtrics_spark.api import Engine

    eng = Engine()

    def handler(caps, m):
        m.counter("http.requests").inc(1)
        m.timer("http.latency").update(caps["ms"])

    eng.rule("access", ACCESS_RULE, handler)
    return eng


def _toml(tmp_path, extra: str = "") -> str:
    p = tmp_path / "config.toml"
    p.write_text(
        textwrap.dedent(
            """
            modes = ["file"]
            [graphite]
            interval = 1
            debug = true
            """
        )
        + extra
    )
    return str(p)


def test_daemon_file_mode_once(spark, tmp_path, caplog):
    """Feed lines through a directory, run availableNow, assert tier rows
    land in the store and graphite lines are flushed (debug log)."""
    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import run_daemon

    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text("\n".join(LINES) + "\n")
    conf = load_toml(_toml(tmp_path))
    store = str(tmp_path / "store")

    with caplog.at_level(logging.DEBUG, logger="logtrics_spark.daemon"):
        d = run_daemon(
            spark, conf, _engine(), store, file_dir=str(logdir), once=True
        )
        stats = d.await_once()
        d.stop()

    assert stats["streams"] == 1
    tiers = d.live.read_tier(d.tier).toPandas()
    # 4 matching lines -> counter + timer series in one 1m window
    cnt = tiers[tiers.metric == "http.requests"]
    assert cnt["sum"].sum() == 4
    lat = tiers[tiers.metric == "http.latency"]
    assert lat["min"].min() == 3 and lat["max"].max() == 30
    # graphite.debug honored: formatted lines logged per flush
    msgs = [r.getMessage() for r in caplog.records]
    assert any(".http.requests.count 4 " in m for m in msgs)
    assert any(".http.latency.std-dev " in m for m in msgs)


def test_daemon_console_and_udp_modes(spark, tmp_path):
    """Driver-side modes drain through the same sink: console lines and
    UDP datagrams both land as tier rows + latest-wins snapshots."""
    import socket
    import time

    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import Daemon

    p = tmp_path / "c.toml"
    p.write_text('modes = ["console", "udp"]\n[udp]\nhost = "127.0.0.1"\nport = 0\n')
    conf = load_toml(str(p))
    d = Daemon(spark, conf, _engine(), str(tmp_path / "store2"))
    d.start(once=True, console_lines=LINES)
    # fire datagrams at the collector, then drain
    host, port = d.udp.address
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for ln in LINES[:2]:
        s.sendto(ln.encode(), (host, port))
    s.close()
    for _ in range(50):
        if len(d.udp._rows) >= 2:
            break
        time.sleep(0.05)
    assert d.drain_udp() > 0
    d.stop()
    tiers = d.live.read_tier(d.tier).toPandas()
    # console: 4 matches (epoch-1970 windows); udp: 2 matches, UDP: source
    assert tiers[tiers.source == "console"]["sum"][
        tiers.metric == "http.requests"
    ].sum() == 4
    udp_rows = tiers[tiers.source.str.startswith("UDP:")]
    assert udp_rows[udp_rows.metric == "http.requests"]["sum"].sum() == 2


def test_daemon_empty_store_paths(spark, tmp_path):
    """No matching lines ever flushed: cascade_tiers returns {} and
    read_tier raises a clear error, not a raw path exception."""
    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import Daemon

    p = tmp_path / "c.toml"
    p.write_text('modes = ["console"]\n[graphite]\ntiers = ["1m", "1h"]\n')
    d = Daemon(spark, load_toml(str(p)), _engine(), str(tmp_path / "nostore"))
    d.start(once=True, console_lines=["no rule matches this line"])
    assert d.cascade_tiers() == {}
    with pytest.raises(ValueError, match="no tier=1m rows"):
        d.live.read_tier(d.tier)
    d.stop()


def test_daemon_cascade_tiers(spark, tmp_path):
    """Offline continuous-aggregate maintenance: the live 1m store rolls
    up to 5m/1h; reruns converge through latest-wins (same totals)."""
    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import Daemon

    p = tmp_path / "c.toml"
    p.write_text(
        'modes = ["console"]\n[graphite]\ntiers = ["1m", "5m", "1h"]\n'
    )
    conf = load_toml(str(p))
    d = Daemon(spark, conf, _engine(), str(tmp_path / "store"))
    d.start(once=True, console_lines=LINES)
    counts = d.cascade_tiers()
    assert set(counts) == {"5m", "1h"} and all(v > 0 for v in counts.values())
    fine = d.live.read_tier("1m").toPandas()
    hourly = d.live.read_tier("1h").toPandas()
    m = "http.requests"
    assert (
        hourly[hourly.metric == m]["sum"].sum() == fine[fine.metric == m]["sum"].sum() == 4
    )
    # rerun converges: one more snapshot version, identical latest view
    d.cascade_tiers()
    hourly2 = d.live.read_tier("1h").toPandas()
    key = ["source", "metric", "kind", "window_start"]
    assert hourly.sort_values(key).reset_index(drop=True).equals(
        hourly2.sort_values(key).reset_index(drop=True)
    )
    d.stop()


def test_daemon_cli_once(spark, tmp_path):
    """`python -m logtrics_spark run --once` end to end, in-process."""
    from logtrics_spark.__main__ import main

    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text("\n".join(LINES) + "\n")
    rules = tmp_path / "rules.py"
    rules.write_text(
        textwrap.dedent(
            f"""
            from logtrics_spark.api import Engine
            engine = Engine()
            def _h(caps, m):
                m.counter("http.requests").inc(1)
            engine.rule("access", r"{ACCESS_RULE}", _h)
            """
        )
    )
    store = str(tmp_path / "store3")
    rc = main(
        [
            "run",
            "--config",
            _toml(tmp_path),
            "--rules",
            f"{rules}:engine",
            "--store",
            store,
            "--file-dir",
            str(logdir),
            "--once",
        ]
    )
    assert rc == 0
    got = spark.read.option("basePath", f"{store}/tiers").parquet(f"{store}/tiers")
    assert got.where(F.col("metric") == "http.requests").count() > 0


def test_rules_from_config_scriptfile_and_scriptdir(tmp_path):
    """scripts() resolution parity (app.go:96-111): scriptfile wins,
    scriptdir walks + merges, neither -> error, empty dir -> error."""
    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import load_rules_from_config

    rule_py = textwrap.dedent(
        f"""
        from logtrics_spark.api import Engine
        engine = Engine()
        engine.rule("@NAME@", r"{ACCESS_RULE}", lambda caps, m: m.counter("c").inc(1))
        """
    )
    sdir = tmp_path / "scripts"
    sdir.mkdir()
    (sdir / "one.py").write_text(rule_py.replace("@NAME@", "one"))
    (sdir / "two.py").write_text(rule_py.replace("@NAME@", "two"))
    single = tmp_path / "single.py"
    single.write_text(rule_py.replace("@NAME@", "solo"))

    conf_file = tmp_path / "sf.toml"
    conf_file.write_text(f'modes = ["file"]\nscriptfile = "{single}"\nscriptdir = "{sdir}"\n')
    eng = load_rules_from_config(load_toml(str(conf_file)))
    assert [r.name for r in eng.rules] == ["solo"]  # scriptfile wins

    conf_dir = tmp_path / "sd.toml"
    conf_dir.write_text(f'modes = ["file"]\nscriptdir = "{sdir}"\n')
    eng = load_rules_from_config(load_toml(str(conf_dir)))
    assert sorted(r.name for r in eng.rules) == ["one", "two"]  # merged

    # support modules are skipped, not loaded as rule scripts
    (sdir / "__init__.py").write_text("")
    (sdir / "_helpers.py").write_text("x = 1\n")
    eng = load_rules_from_config(load_toml(str(conf_dir)))
    assert sorted(r.name for r in eng.rules) == ["one", "two"]

    empty = tmp_path / "emptydir"
    empty.mkdir()
    conf_empty = tmp_path / "se.toml"
    conf_empty.write_text(f'modes = ["file"]\nscriptdir = "{empty}"\n')
    with pytest.raises(ValueError, match="no scripts found"):
        load_rules_from_config(load_toml(str(conf_empty)))

    conf_none = tmp_path / "sn.toml"
    conf_none.write_text('modes = ["file"]\n')
    with pytest.raises(ValueError, match="neither scriptfile nor scriptdir"):
        load_rules_from_config(load_toml(str(conf_none)))


def test_load_rules_validation(tmp_path):
    from logtrics_spark.plans.daemon import load_rules

    bad = tmp_path / "bad.py"
    bad.write_text("x = 42\n")
    with pytest.raises(ValueError, match="not an Engine"):
        load_rules(f"{bad}:x")
    with pytest.raises(ValueError, match="no attribute"):
        load_rules(f"{bad}:engine")
    empty = tmp_path / "empty.py"
    empty.write_text("from logtrics_spark.api import Engine\nengine = Engine()\n")
    with pytest.raises(ValueError, match="no rules"):
        load_rules(f"{empty}:engine")
    with pytest.raises(ValueError, match="must be"):
        load_rules("nocolon")


def test_graphite_outage_does_not_fail_the_flush(spark, tmp_path, caplog):
    """A refused Graphite connection is logged once and the drain goes
    on: the rows are stored and process_lines returns their count."""
    import socket

    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.sources.readers import lines_df

    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()  # nothing listens there now
    conf = {"graphite": {"host": "127.0.0.1", "port": port}}
    d = Daemon(spark, conf, _engine(), str(tmp_path / "store"))
    with caplog.at_level(logging.WARNING, logger="logtrics_spark.daemon"):
        n = d.process_lines(lines_df(spark, LINES))
    assert n > 0
    assert d.live.read_tier(d.tier).count() == n
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert f"127.0.0.1:{port}" in warned[0].getMessage()
