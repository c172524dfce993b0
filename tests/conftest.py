from __future__ import annotations

import contextlib

import pytest

from logtrics_spark.session import get_spark
from logtrics_spark.storage.tableio import ParquetTableIO

# the store writes a seal makes, in order, named as crash points:
#   chunks    after the chunk write
#   sketches  after the last sk_* write (so: before the lineage append)
#   lineage   after the one lineage append
#   drops     after the first live-head partition drop (archive only)
CRASH_POINTS = ("chunks", "sketches", "lineage", "drops")


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="logtrics-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)},
    )
    yield s
    s.stop()


def _hook_io(mp, hook) -> None:
    """Route every ParquetTableIO store mutation through
    ``hook(call, when)``: ``call`` is ("write", table), ("lineage",
    "lineage") or ("drop", "table/col=value"), ``when`` "before" or
    "after" the call."""

    def wrap(name, kind, target):
        orig = getattr(ParquetTableIO, name)

        def wrapped(self, *args, **kwargs):
            call = (kind, target(*args, **kwargs))
            hook(call, "before")
            out = orig(self, *args, **kwargs)
            hook(call, "after")
            return out

        mp.setattr(ParquetTableIO, name, wrapped)

    wrap("write_partitioned", "write", lambda df, table, *a, **k: table)
    wrap("append_lineage", "lineage", lambda rows: "lineage")
    wrap(
        "drop_partition",
        "drop",
        lambda table, **parts: "/".join([table, *(f"{c}={v}" for c, v in parts.items())]),
    )


@pytest.fixture()
def io_calls(monkeypatch):
    """The store mutations made through ParquetTableIO from here on, in
    order, as ("write"|"lineage"|"drop", table) pairs."""
    calls: list[tuple[str, str]] = []
    _hook_io(monkeypatch, lambda call, when: calls.append(call) if when == "after" else None)
    return calls


@pytest.fixture()
def crash_after(monkeypatch):
    """``with crash_after(point): job.run()`` raises InjectedCrash right
    after the named store write (see CRASH_POINTS) and fails the test if
    the call never reaches it.  Only the block is wrapped: the rerun
    after it runs the store unpatched."""

    @contextlib.contextmanager
    def arm(point: str):
        if point not in CRASH_POINTS:
            raise ValueError(f"unknown crash point {point!r}")
        seen: list[tuple[str, str]] = []

        def hook(call, when):
            kind, table = call
            if when == "before":
                if point == "sketches" and kind == "lineage":
                    if not any(t.startswith("sk_") for _k, t in seen):
                        raise AssertionError("no sk_* table was written before the lineage")
                    raise InjectedCrash(point)
                return
            seen.append(call)
            if (
                (point == "chunks" and kind == "write" and table == "chunks")
                or (point == "lineage" and kind == "lineage")
                or (point == "drops" and kind == "drop")
            ):
                raise InjectedCrash(point)

        with monkeypatch.context() as mp:
            _hook_io(mp, hook)
            with pytest.raises(InjectedCrash):
                yield

    return arm
