"""Scheduler APIs (reference TODO.md:6): cron parsing, next-fire math,
at-most-once firing, coalesced catch-up, job isolation, daemon wiring."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from logtrics_spark.plans.schedule import (
    CronSpec,
    Scheduler,
    scheduler_from_config,
)


def utc(*args):
    return datetime(*args, tzinfo=timezone.utc)


# ------------------------------------------------------------- parsing
def test_parse_fields_and_steps():
    s = CronSpec.parse("*/15 1-3 1,15 jan,jul sun")
    assert s.minutes == frozenset({0, 15, 30, 45})
    assert s.hours == frozenset({1, 2, 3})
    assert s.doms == frozenset({1, 15})
    assert s.months == frozenset({1, 7})
    assert s.dows == frozenset({0})


def test_parse_dow_seven_is_sunday():
    assert CronSpec.parse("0 0 * * 7").dows == frozenset({0})


def test_parse_range_step():
    assert CronSpec.parse("10-30/10 * * * *").minutes == frozenset({10, 20, 30})


@pytest.mark.parametrize(
    "bad",
    ["* * * *", "60 * * * *", "* 24 * * *", "* * 0 * *", "*/0 * * * *",
     "5-1 * * * *", "x * * * *", "* * * * * *",
     "/5 * * * *", "0,,30 * * * *", "0, * * * *"],
)
def test_parse_rejects_invalid(bad):
    with pytest.raises(ValueError):
        CronSpec.parse(bad)


# ----------------------------------------------------------- next_after
def test_next_after_simple_daily():
    s = CronSpec.parse("30 3 * * *")
    assert s.next_after(utc(2024, 1, 1, 0, 0)) == utc(2024, 1, 1, 3, 30)
    # strictly after: at the fire minute itself, next is tomorrow
    assert s.next_after(utc(2024, 1, 1, 3, 30)) == utc(2024, 1, 2, 3, 30)


def test_next_after_month_rollover():
    s = CronSpec.parse("0 0 1 * *")
    assert s.next_after(utc(2024, 1, 31, 23, 59)) == utc(2024, 2, 1, 0, 0)


def test_next_after_dow():
    # 2024-01-01 is a Monday; next Sunday is Jan 7
    s = CronSpec.parse("0 12 * * sun")
    assert s.next_after(utc(2024, 1, 1, 0, 0)) == utc(2024, 1, 7, 12, 0)


def test_dom_dow_or_quirk():
    """Both restricted -> vixie OR: fires on the 15th AND on Sundays."""
    s = CronSpec.parse("0 0 15 * sun")
    assert s.matches(utc(2024, 1, 15, 0, 0))  # a Monday, dom hits
    assert s.matches(utc(2024, 1, 7, 0, 0))   # a Sunday, dow hits
    assert not s.matches(utc(2024, 1, 8, 0, 0))
    # only dow restricted -> AND with free dom
    s2 = CronSpec.parse("0 0 * * sun")
    assert not s2.matches(utc(2024, 1, 15, 0, 0))


def test_next_after_feb29_takes_years():
    s = CronSpec.parse("0 0 29 2 *")
    assert s.next_after(utc(2024, 3, 1, 0, 0)) == utc(2028, 2, 29, 0, 0)


def test_naive_datetime_treated_as_utc():
    s = CronSpec.parse("30 3 * * *")
    assert s.next_after(datetime(2024, 1, 1)) == utc(2024, 1, 1, 3, 30)


# ------------------------------------------------------------ scheduler
def test_run_due_fires_once_per_matching_minute():
    calls = []
    sched = Scheduler()
    sched.register("j", "*/5 * * * *", lambda: calls.append(1) or "ok")
    assert sched.run_due(utc(2024, 1, 1, 0, 3)) == {}
    fired = sched.run_due(utc(2024, 1, 1, 0, 5))
    assert fired == {"j": "ok"} and len(calls) == 1
    # same minute again: nothing (at-most-once per matching minute)
    assert sched.run_due(utc(2024, 1, 1, 0, 5)) == {}
    assert sched.run_due(utc(2024, 1, 1, 0, 6)) == {}
    assert sched.run_due(utc(2024, 1, 1, 0, 10)) == {"j": "ok"}


def test_run_due_first_check_fires_on_exact_match():
    sched = Scheduler()
    sched.register("j", "0 3 * * *", lambda: "ok")
    # daemon started exactly at the fire minute
    assert sched.run_due(utc(2024, 1, 1, 3, 0)) == {"j": "ok"}


def test_missed_minutes_coalesce_to_one_fire():
    calls = []
    sched = Scheduler()
    sched.register("j", "* * * * *", lambda: calls.append(1))
    sched.run_due(utc(2024, 1, 1, 0, 0))
    # the process slept 30 matching minutes: ONE catch-up fire
    sched.run_due(utc(2024, 1, 1, 0, 30))
    assert len(calls) == 2  # first check + one coalesced fire


def test_job_error_isolated_and_no_retry_storm():
    calls = []
    sched = Scheduler()
    sched.register("bad", "0 * * * *", lambda: 1 / 0)
    sched.register("good", "0 * * * *", lambda: calls.append(1) or "ok")
    fired = sched.run_due(utc(2024, 1, 1, 1, 0))
    assert isinstance(fired["bad"], ZeroDivisionError)
    assert fired["good"] == "ok"
    # failed minute is NOT retried next tick
    assert sched.run_due(utc(2024, 1, 1, 1, 1)) == {}


def test_duplicate_job_name_rejected():
    sched = Scheduler()
    sched.register("j", "* * * * *", lambda: None)
    with pytest.raises(ValueError):
        sched.register("j", "* * * * *", lambda: None)


# --------------------------------------------------------- config + daemon
def test_scheduler_from_config():
    builtins = {"compact": lambda: "c", "cascade": lambda: "k"}
    sched = scheduler_from_config(
        {"schedule": {"compact": "*/10 * * * *"}}, builtins
    )
    assert sched is not None and set(sched.jobs) == {"compact"}
    assert scheduler_from_config({}, builtins) is None
    with pytest.raises(ValueError, match="not schedulable"):
        scheduler_from_config({"schedule": {"nope": "* * * * *"}}, builtins)
    with pytest.raises(ValueError, match="cron string"):
        scheduler_from_config({"schedule": {"compact": 5}}, builtins)


def test_config_accepts_schedule_section(tmp_path):
    from logtrics_spark.config import load_toml

    p = tmp_path / "c.toml"
    p.write_text(
        'modes = ["console"]\nexpression = ".*"\n'
        '[schedule]\ncompact = "*/10 * * * *"\n'
    )
    conf = load_toml(str(p))
    assert conf["schedule"] == {"compact": "*/10 * * * *"}


def test_daemon_runs_scheduled_compact(spark, tmp_path):
    """End-to-end: a [schedule] compact job fires through the daemon's
    tick hook at the cron minute and actually sweeps the store."""
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon

    eng = Engine()

    def handler(caps, m):
        m.counter("vals").inc(int(caps["val"]))

    eng.rule("r", r"(?P<val>\d+)", handler)
    conf = {
        "graphite": {"tiers": ["1m"], "interval": 1},
        "schedule": {"compact": "*/5 * * * *"},
    }
    d = Daemon(spark, conf, eng, str(tmp_path / "store"))
    assert d.scheduler is not None
    from logtrics_spark.sources.readers import lines_df

    d.process_lines(lines_df(spark, ["7", "8"]))
    d.process_lines(lines_df(spark, ["9"]))  # second snapshot version

    assert d.run_scheduled(utc(2024, 1, 1, 0, 3)) == {}
    fired = d.run_scheduled(utc(2024, 1, 1, 0, 5))
    assert "compact" in fired and not isinstance(fired["compact"], Exception)
    # compacted store still resolves the latest snapshot
    rows = d.live.read_tier("1m").collect()
    assert len(rows) >= 1


def test_daemon_bad_cron_fails_fast(spark, tmp_path):
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon

    conf = {
        "graphite": {"tiers": ["1m"]},
        "schedule": {"compact": "every day"},
    }
    with pytest.raises(ValueError):
        Daemon(spark, conf, Engine(), str(tmp_path / "store"))
