"""In-situ spans around the program's public calls, plus Spark job stats.

Only the traced run installs the wrappers.  Each span records its name,
start, end, parent and op id, and runs its Spark jobs under the job group
``<workload>/<span>#<id>``, so the status store (readable with the UI
off) attributes jobs, stages, executor run time, shuffle bytes, spill and
GC time to the span that launched them.  Spans stay in memory until the
run ends.  Self time = span duration minus the part its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "op": self.op_id,
            "group": f"{self.workload}/{name}#{sid}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                up = self.spans[self._stack[-1]]
                self.sc.setJobGroup(up["group"], up["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def op(self, op_id: int):
        self.op_id = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self.op_id = None

    # ------------------------------------------------------------ wrappers
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public calls each workload reaches."""
        from logtrics_spark.operators import gorilla
        from logtrics_spark.plans import curation, daemon, pipeline
        from logtrics_spark.storage.tableio import ParquetTableIO

        def count_files(rec, args, kwargs, out):
            io, table = args[0], args[2]
            n = b = 0
            for dirpath, _dirs, files in os.walk(io.path(table)):
                for f in files:
                    if f.endswith(".parquet"):
                        st = os.stat(os.path.join(dirpath, f))
                        if st.st_mtime >= rec["start"] - 1e-3:
                            n += 1
                            b += st.st_size
            rec["files"] = n
            rec["bytes"] = b

        self.wrap(pipeline.RollupJob, "ingest_raw", "pipeline.ingest")
        self.wrap(pipeline.RollupJob, "run", "pipeline.run")
        self.wrap(pipeline.RollupJob, "retention", "pipeline.retention")
        self.wrap(pipeline.RollupJob, "seal_from_fine", "pipeline.seal_from_fine")
        self.wrap(ParquetTableIO, "write_partitioned", "tableio.write", after=count_files)
        self.wrap(ParquetTableIO, "append_lineage", "tableio.lineage_append")
        self.wrap(ParquetTableIO, "sealed_units", "tableio.sealed_units")
        self.wrap(ParquetTableIO, "read", "tableio.read")
        self.wrap(daemon.Daemon, "process_lines", "daemon.process_lines")
        self.wrap(daemon.Daemon, "archive_closed_days", "daemon.archive")
        # the daemon module imported the sender by name
        self.wrap(daemon, "send_graphite_tcp", "graphite.send")
        self.wrap(gorilla, "decompress_chunks_range", "gorilla.decompress_range")
        self.wrap(curation, "curate", "curation.curate")

    # ---------------------------------------------------------- job stats
    def job_stats(self) -> dict[str, list[dict]]:
        """group -> [{start, end, stages, tasks, run_s, shuffle_mb, ...}]."""
        st = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        empty = jvm.java.util.ArrayList()
        out: dict[str, list[dict]] = {}
        for rec in self.spans:
            jobs = []
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                j = st.job(jid)
                sub, done = j.submissionTime(), j.completionTime()
                if not (sub.isDefined() and done.isDefined()):
                    continue
                info = {
                    "job": jid,
                    "start": sub.get().getTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0,
                    "stages": 0,
                    "tasks": 0,
                    "run_s": 0.0,
                    "shuffle_mb": 0.0,
                    "spill_mb": 0.0,
                    "gc_s": 0.0,
                }
                sids = j.stageIds()
                for k in range(sids.length()):
                    attempts = st.stageData(sids.apply(k), False, empty, False, no_q)
                    for a in range(attempts.length()):
                        s = attempts.apply(a)
                        if s.status().toString() == "SKIPPED":
                            continue
                        info["stages"] += 1
                        info["tasks"] += s.numCompleteTasks()
                        info["run_s"] += s.executorRunTime() / 1000.0
                        info["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
                        info["spill_mb"] += s.diskBytesSpilled() / 1e6
                        info["gc_s"] += s.jvmGcTime() / 1000.0
                jobs.append(info)
            out[rec["group"]] = jobs
        return out

    # ------------------------------------------------------------ summary
    def set_self_times(self) -> None:
        """Annotate every span with ``self_s``: duration minus children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for c in self.spans:
            if c["parent"] is not None:
                kids.setdefault(c["parent"], []).append((c["start"], c["end"]))
        for rec in self.spans:
            rec["self_s"] = (rec["end"] - rec["start"]) - union_length(kids.get(rec["id"], []))

    def descendants(self, rec: dict) -> list[dict]:
        ids = {rec["id"]}
        out = []
        for c in self.spans:  # spans are appended in start order
            if c["parent"] in ids:
                ids.add(c["id"])
                out.append(c)
        return out
