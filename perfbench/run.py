#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the logtrics_spark rollup engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Runs one workload (see perfbench/workloads.py) as a closed loop at
``local[<cores>]`` for ``--seconds``, checks every op's output, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
in-situ spans, replays each operator alone, and reports the per-layer
metrics instead (spans and job stats also go to
``.perfbench/trace/<workload>-seed<seed>.json``).  Scratch data (stores,
Spark local dirs, temp files) lives under ``.perfbench/work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # the checkout
PREPARE_REPEATS = 3
HARD_CAP_S = 120  # stop submitting ops past this, whatever --seconds says


# ----------------------------------------------------------- host sampling


def _proc_tree(root_pid: int) -> dict[int, int]:
    """pid -> parent pid for ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [(root_pid, 0)]
    while todo:
        p, parent = todo.pop()
        out[p] = parent
        todo.extend((c, p) for c in children.get(p, []))
    return out


def _proc_kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return "gone"
    name = os.path.basename(argv[0].decode(errors="replace"))
    return "python-worker" if b"pyspark.daemon" in argv or b"pyspark.worker" in argv else name


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self.peak_by_proc: dict[str, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._t.start()

    def _loop(self, interval: float) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = _proc_tree(me)
            kinds = {p: _proc_kind(p) for p in tree}
            # a JVM child caught between fork and exec still maps the
            # JVM's pages: counting it would double the JVM
            rss = {
                p: _rss_bytes(p)
                for p, parent in tree.items()
                if not (kinds[p] == "java" and kinds.get(parent) == "java")
            }
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                self.peak_by_proc = {}
                for p, b in rss.items():
                    self.peak_by_proc[kinds[p]] = self.peak_by_proc.get(kinds[p], 0) + b
            self._stop.wait(interval)

    def stop(self) -> None:
        self._stop.set()
        self._t.join()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already counted in user
    return 100.0 * d[7] / total if total else 0.0


def trend(values: list[float]) -> float:
    """Least-squares slope per op as a share of the median (0 = flat)."""
    n = len(values)
    if n < 3:
        return 0.0
    xm, ym = (n - 1) / 2, statistics.fmean(values)
    sxx = sum((i - xm) ** 2 for i in range(n))
    slope = sum((i - xm) * (v - ym) for i, v in enumerate(values)) / sxx
    return slope / statistics.median(values)


def quantile(values: list[float], q: float) -> float:
    vs = sorted(values)
    return vs[min(len(vs) - 1, int(q * len(vs)))]


# ------------------------------------------------------------------ session


def start_spark(work: Path, cores: int):
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from logtrics_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                # a pre-touched fixed heap keeps peak RSS from depending
                # on when the collector chose to grow the heap
                " -Xms1g -XX:+AlwaysPreTouch"
            ),
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "50",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(_proc_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------ layer metrics

PER_LAYER = [
    "extract.self_s",
    "rollup.1m_self_s",
    "rollup.1m_shuffle_mb",
    "rollup.cascade_self_s",
    "gorilla.encode_self_s",
    "gorilla.chunks",
    "gorilla.points_per_chunk",
    "gorilla.bytes_per_point",
    "gorilla.decode_self_s",
    "gorilla.chunks_decoded",
    "gorilla.read_useful_ratio",
    "gorilla.read_p50_s",
    "gorilla.read_p90_s",
    "sketchset.tdigest_self_s",
    "sketchset.mg_self_s",
    "sketchset.hll_self_s",
    "tableio.write_s",
    "tableio.write_calls",
    "tableio.files_written",
    "tableio.bytes_written",
    "tableio.sealed_units_s",
    "tableio.lineage_append_s",
    "tableio.read_s",
    "pipeline.jobs",
    "pipeline.stages",
    "pipeline.tasks",
    "pipeline.driver_idle_s",
    "pipeline.executor_run_s",
    "pipeline.busy_ratio",
    "pipeline.spill_mb",
    "pipeline.gc_s",
    "pipeline.shuffle_write_mb",
    "pipeline.ingest_s",
    "pipeline.run_s",
    "pipeline.run_self_s",
    "pipeline.retention_s",
    "pipeline.seal_from_fine_s",
    "pipeline.units_sealed",
    "engine.self_s",
    "engine.points_per_line",
    "daemon.drain_s",
    "daemon.flush_s",
    "daemon.files_per_flush",
    "daemon.archive_s",
    "graphite.send_s",
    "graphite.lines_sent",
    "text.annotate_self_s",
    "dedup.exact_self_s",
    "dedup.lsh_self_s",
    "dedup.lsh_candidates",
    "dedup.verify_self_s",
    "dedup.verify_useful_ratio",
    "dedup.groups_self_s",
    "curation.curate_s",
    "trace.op_p50_s",
    "trace.span_coverage_min",
    "trace.uncovered_s",
]

UNITS = {
    "tableio.bytes_written": "bytes",
    "engine.points_per_line": "points/line",
    "gorilla.points_per_chunk": "points/chunk",
    "gorilla.bytes_per_point": "bytes/point",
}


def layer_unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"), ("_min", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def chunk_frame(root: str):
    """Chunk rows (without payload) and their sizes, read from disk."""
    import pyarrow.dataset as ds

    path = Path(root) / "chunks"
    if not path.exists():
        return None
    pdf = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=["tier", "n_points", "chunk", "min_ts", "max_ts"]
    ).to_pandas()
    pdf["bytes"] = pdf["chunk"].map(len)
    return pdf.drop(columns=["chunk"])


def layers(tr, wl, ops: list[dict], replay: dict[str, float], cores: int):
    jobs = tr.job_stats()
    by_name: dict[str, list[dict]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    op_spans = by_name.get("op", [])
    n = max(len(op_spans), 1)

    def dur(s):
        return s["end"] - s["start"]

    def in_ops(name):
        return [s for s in by_name.get(name, []) if s["op"] is not None]

    def per_op(name):
        return sum(dur(s) for s in in_ops(name)) / n

    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in replay.items() if k in m})
    for s in by_name.get("replay.rollup_1m", []):
        m["rollup.1m_shuffle_mb"] = sum(j["shuffle_mb"] for j in jobs.get(s["group"], []))

    # op-level job accounting and span coverage
    from perfbench.tracing import union_length

    idle, run_s, walls, cover, uncovered = [], 0.0, [], [], []
    agg = {"jobs": 0, "stages": 0, "tasks": 0, "spill_mb": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0}
    for op in op_spans:
        group_spans = [op] + tr.descendants(op)
        op_jobs = [j for s in group_spans for j in jobs.get(s["group"], [])]
        wall = dur(op)
        walls.append(wall)
        busy = union_length(
            [(max(j["start"], op["start"]), min(j["end"], op["end"])) for j in op_jobs]
        )
        idle.append(max(wall - busy, 0.0))
        run_s += sum(j["run_s"] for j in op_jobs)
        agg["jobs"] += len(op_jobs)
        for k in ("stages", "tasks", "spill_mb", "gc_s", "shuffle_mb"):
            agg[k] += sum(j[k] for j in op_jobs)
        kids = [(c["start"], c["end"]) for c in tr.spans if c["parent"] == op["id"]]
        covered = union_length(kids)
        cover.append(covered / wall if wall else 1.0)
        uncovered.append(wall - covered)
    m["pipeline.jobs"] = agg["jobs"] / n
    m["pipeline.stages"] = agg["stages"] / n
    m["pipeline.tasks"] = agg["tasks"] / n
    m["pipeline.spill_mb"] = agg["spill_mb"] / n
    m["pipeline.gc_s"] = agg["gc_s"] / n
    m["pipeline.shuffle_write_mb"] = agg["shuffle_mb"] / n
    m["pipeline.executor_run_s"] = run_s / n
    m["pipeline.busy_ratio"] = run_s / (sum(walls) * cores) if walls else 0.0
    m["pipeline.driver_idle_s"] = sum(idle) / n
    m["trace.op_p50_s"] = statistics.median(walls) if walls else 0.0
    m["trace.span_coverage_min"] = min(cover) if cover else 0.0
    m["trace.uncovered_s"] = sum(uncovered) / n

    writes = in_ops("tableio.write")
    m["tableio.write_s"] = per_op("tableio.write")
    m["tableio.write_calls"] = len(writes) / n
    m["tableio.files_written"] = sum(s.get("files", 0) for s in writes) / n
    m["tableio.bytes_written"] = sum(s.get("bytes", 0) for s in writes) / n
    m["tableio.sealed_units_s"] = per_op("tableio.sealed_units")
    m["tableio.lineage_append_s"] = per_op("tableio.lineage_append")
    m["tableio.read_s"] = per_op("tableio.read")
    m["pipeline.ingest_s"] = per_op("pipeline.ingest")
    m["pipeline.run_s"] = per_op("pipeline.run")
    m["pipeline.run_self_s"] = sum(s["self_s"] for s in in_ops("pipeline.run")) / n
    m["pipeline.retention_s"] = per_op("pipeline.retention")
    m["pipeline.seal_from_fine_s"] = per_op("pipeline.seal_from_fine")
    m["pipeline.units_sealed"] = sum(
        sum(v for v in (o.get("stats") or {}).values() if isinstance(v, int)) for o in ops
    ) / n

    drains = in_ops("daemon.process_lines")
    if drains:
        nd = len(drains)
        inside = [c for d in drains for c in tr.descendants(d)]
        writes_in = [c for c in inside if c["name"] == "tableio.write"]
        sends_in = [c for c in inside if c["name"] == "graphite.send"]
        m["daemon.drain_s"] = sum(dur(d) for d in drains) / nd
        m["daemon.flush_s"] = sum(dur(c) for c in writes_in + sends_in) / nd
        m["daemon.files_per_flush"] = sum(c.get("files", 0) for c in writes_in) / nd
        m["graphite.send_s"] = sum(dur(c) for c in in_ops("graphite.send")) / nd
        m["graphite.lines_sent"] = wl.lines_sent / nd
    archives = in_ops("daemon.archive")
    if archives:
        m["daemon.archive_s"] = statistics.median(dur(a) for a in archives)

    store = getattr(wl, "job", None)
    f = chunk_frame(str(store.io.root)) if store is not None else None
    if f is not None and len(f):
        m["gorilla.chunks"] = float(len(f))
        m["gorilla.points_per_chunk"] = f["n_points"].sum() / len(f)
        m["gorilla.bytes_per_point"] = f["bytes"].sum() / f["n_points"].sum()
        reads = getattr(wl, "read_meta", [])
        if reads:
            dec_chunks = dec_points = rows = 0
            for tier, lo, hi, n_rows in reads:
                hit = f[(f["tier"] == tier) & (f["max_ts"] >= lo) & (f["min_ts"] <= hi)]
                dec_chunks += len(hit)
                dec_points += int(hit["n_points"].sum())
                rows += n_rows
            m["gorilla.chunks_decoded"] = dec_chunks / len(reads)
            m["gorilla.read_useful_ratio"] = rows / max(dec_points, 1)
            m["gorilla.read_p50_s"] = statistics.median(wl.read_s)
            m["gorilla.read_p90_s"] = quantile(wl.read_s, 0.9)
    return m, jobs


# --------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "logtrics_spark" / "__init__.py").is_file():
        print(f"perfbench: no logtrics_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; pick from {sorted(WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    rss = RssSampler()
    cpu0 = _cpu_times()
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark, args.workload)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        prep = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        setup_s = session_s + build_s + statistics.median(prep)
        if tracer:
            tracer.install()

        ops: list[dict] = []
        failed = 0
        start = time.perf_counter()
        i = 0
        while True:
            wl.stage(i)
            t = time.perf_counter()
            out: dict = {"records": 0}
            try:
                with tracer.op(i) if tracer else contextlib.nullcontext():
                    out = wl.op(i)
                wall = time.perf_counter() - t
                ok = wl.check(i, out)
            except Exception:
                traceback.print_exc()
                wall, ok = time.perf_counter() - t, False
            failed += not ok
            ops.append({"wall": wall, "records": out["records"], "stats": out.get("stats")})
            i += 1
            elapsed = time.perf_counter() - start
            if elapsed >= HARD_CAP_S or (
                elapsed >= args.seconds and len(ops) >= wl.MIN_OPS and wl.boundary()
            ):
                break
        measured_s = time.perf_counter() - start

        walls = [o["wall"] for o in ops]
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "master": f"local[{cores}]",
            "ops": len(ops),
            "measured_s": round(measured_s, 3),
            "op_walls_s": [round(w, 4) for w in walls],
            "op_trend_per_op": round(trend(walls), 4),
            "session_s": round(session_s, 3),
            "build_s": round(build_s, 3),
            "prepare_s": [round(p, 3) for p in prep],
            "build_phases_s": wl.phases,
        }
        if getattr(wl, "read_s", None):
            info["read_trend_per_read"] = round(trend(wl.read_s), 4)
            info["read_p50_s"] = round(statistics.median(wl.read_s), 4)
        if tracer:
            replay = wl.replay(tracer)
            tracer.set_self_times()
            per_layer, jobs = layers(tracer, wl, ops, replay, cores)
            metrics = {k: {"value": per_layer[k], "unit": layer_unit(k)} for k in PER_LAYER}
            tdir = ROOT / ".perfbench" / "trace"
            tdir.mkdir(parents=True, exist_ok=True)
            with open(tdir / f"{args.workload}-seed{args.seed}.json", "w") as f:
                json.dump(
                    {"info": info, "spans": tracer.spans, "jobs": jobs, "per_layer": per_layer}, f
                )
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
                "records_per_s": {
                    "value": sum(o["records"] for o in ops) / sum(walls),
                    "unit": "records/s",
                },
            }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    info["steal_pct"] = round(steal_pct(cpu0, _cpu_times()), 3)
    info["peak_rss_mb_by_process"] = {k: round(v / 1e6, 1) for k, v in rss.peak_by_proc.items()}
    if not tracer:
        metrics["peak_rss_mb"] = {"value": rss.peak / 1e6, "unit": "MB"}
    print(json.dumps({"info": info}))
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
