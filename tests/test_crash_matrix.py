"""The crash-point matrix over every path that seals: a crash after each
store write of ``seal_from_fine`` and ``Daemon.archive_closed_days``,
with sketches off and on, then one rerun must converge to the state of
a run that never crashed — the same chunk bytes, sealed units and
sketch stats, and for the archive the same live-head partitions.

The ``run`` rows of the matrix are test_pipeline.py::
test_kill_and_resume_identical (sketches off) and
test_pipeline_sketches.py::test_sketch_kill_resume_completes (sketches
on); all rows crash through the ``crash_after`` fixture (conftest.py),
which wraps the store's ``ParquetTableIO``.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest

from logtrics_spark.operators import tdigest as td

TIERS = ["1m", "1h"]
# one kind, whose rows the state compares; test_daemon_sketches.py pins
# the order of all four kinds' writes
SK = {"enabled": ["tdigest"]}
CASES = [
    (path, sketches, point)
    for path in ("seal_from_fine", "archive")
    for sketches in (False, True)
    for point in ("chunks", "sketches", "lineage", "drops")
    if (point != "sketches" or sketches) and (point != "drops" or path == "archive")
]


def _points(day: str, minutes: int) -> pd.DataFrame:
    """Four timer points a minute."""
    base = pd.Timestamp(f"{day} 00:00:00")
    rows = [
        ("web", "lat", "timer", base + pd.Timedelta(minutes=m, seconds=10 * j), m + j / 10.0)
        for m in range(minutes)
        for j in range(4)
    ]
    return pd.DataFrame(rows, columns=["source", "metric", "kind", "ts", "value"])


def _daemon(spark, root, sketches: bool):
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon

    conf = {"modes": ["console"], "graphite": {"tiers": ["1m"]}}
    if sketches:
        conf["sketches"] = SK
    return Daemon(spark, conf, Engine(), str(root))


def _job(spark, root):
    from logtrics_spark.plans.pipeline import RollupJob

    return RollupJob(spark, str(root), tiers=TIERS)


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Per sketches setting: the seal_from_fine inputs (closed-day fine
    rows, and sketch rows merged up TIERS) and a live daemon store
    holding a closed and an open day (without sketches: the same store
    minus its sk_* tables)."""
    from logtrics_spark.operators.rollup import rollup
    from logtrics_spark.operators.sketchset import SketchSet

    closed, open_day = _points("2024-03-01", 90), _points("2024-03-02", 5)
    pts = spark.createDataFrame(closed)
    fine = rollup(pts, "1m").localCheckpoint()
    ss = SketchSet.from_config(SK)
    sk_rows = [
        (k, ss.ladder(k, ss.rollup(pts, "1m", k), TIERS).localCheckpoint()) for k in ss.enabled
    ]
    live = tmp_path_factory.mktemp("live")
    d = _daemon(spark, live / "on", sketches=True)
    for pdf in (closed, open_day):
        batch = spark.createDataFrame(pdf)
        d._sink(rollup(batch, d.tier), batch_id=-1)
        d._write_sketches(batch, origin="drain")
    shutil.copytree(live / "on", live / "off", ignore=shutil.ignore_patterns("sk_*"))
    return {True: (fine, sk_rows, live / "on"), False: (fine, [], live / "off")}


def _seal(spark, inputs, path, sketches, case_dir):
    """One call of the path under test on the stores under ``case_dir``
    (created from the shared inputs on first use)."""
    fine, sk_rows, live = inputs[sketches]
    job = _job(spark, case_dir / "archive")
    if path == "seal_from_fine":
        job.seal_from_fine(fine, run_id="r", sketches=sk_rows)
        return job, None
    if not (case_dir / "live").exists():
        shutil.copytree(live, case_dir / "live")
    d = _daemon(spark, case_dir / "live", sketches)
    d.archive_closed_days(job)
    return job, case_dir / "live"


def _read(job, table: str) -> pd.DataFrame:
    """A store table's rows in key order, read without a Spark job."""
    df = pq.read_table(job.io.path(table)).to_pandas().astype({"tier": str, "day": str})
    key = ["tier", "source", "metric", "kind", "chunk_start" if table == "chunks" else "window_start"]
    return df.sort_values(key).reset_index(drop=True)


def _state(job, live, sketches):
    """Chunk rows (bytes and all), sealed units, the t-digest rows'
    exact count/min/max (``tdigest_stats``'s, decoded here: digest bytes
    depend on partition order, these do not) and the live head's day
    partitions."""
    units = sorted(tuple(r) for r in job.io.sealed_units().collect())
    digests = None
    if sketches:
        digests = _read(job, "sk_tdigest")
        stats = [td.from_bytes(b)[1:4] for b in digests.pop("tdigest")]
        digests[["cnt", "min", "max"]] = [(round(float(w.sum())), lo, hi) for w, lo, hi in stats]
    parts = None if live is None else sorted(str(p.relative_to(live)) for p in live.rglob("day=*"))
    return _read(job, "chunks"), units, digests, parts


@pytest.fixture(scope="module")
def clean(spark, inputs, tmp_path_factory):
    """The uncrashed state per (path, sketches), computed on first use."""
    cache = {}

    def get(path, sketches):
        if (path, sketches) not in cache:
            case = tmp_path_factory.mktemp(f"clean_{path}")
            cache[path, sketches] = _state(*_seal(spark, inputs, path, sketches, case), sketches)
        return cache[path, sketches]

    return get


@pytest.mark.parametrize("path,sketches,point", CASES)
def test_crash_then_rerun_converges(spark, inputs, clean, crash_after, tmp_path,
                                    path, sketches, point):
    want_chunks, want_units, want_digests, want_parts = clean(path, sketches)
    with crash_after(point):
        _seal(spark, inputs, path, sketches, tmp_path)
    job, live = _seal(spark, inputs, path, sketches, tmp_path)
    chunks, units, digests, parts = _state(job, live, sketches)
    assert chunks.equals(want_chunks)
    assert units == want_units
    if sketches:
        pd.testing.assert_frame_equal(digests, want_digests)
    assert parts == want_parts
    if path == "archive":
        assert parts == sorted(p for p in parts if "2024-03-02" in p)  # only the open day
