"""The benchmark workloads.

Each workload is a closed loop: one driver thread submits an op, waits
for it, checks its output, then submits the next.  The harness calls

    prepare()   the repeated part of set-up (seeded input generation)
    build()     one-time set-up: pre-built store, warm-up ops
    stage(i)    untimed: materialize op i's input
    op(i)       timed: the program's work for op i; returns an output
    check(i, out) -> bool
    boundary()  may the run stop after the last op?
    replay(tr)  traced run only: isolated per-operator timings
"""

from __future__ import annotations

import contextlib
import datetime as dt
import shutil
import socketserver
import threading
import time
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import gen


def noop_time(df) -> float:
    """Run a frame into the ``noop`` sink; the time of its own work."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


class Workload:
    name = ""
    MIN_OPS = 3  # ops per run at least, so the median has a middle

    def __init__(self, spark, seed: int, work: Path, tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.phases: dict[str, float] = {}

    def prepare(self) -> None:
        pass

    def build(self) -> None:
        pass

    def stage(self, i: int) -> None:
        pass

    def boundary(self) -> bool:
        return True

    def close(self) -> None:
        pass

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def timed(self, phase: str):
        """Time one set-up phase (reported in the run's info line)."""
        t = time.perf_counter()
        yield
        self.phases[phase] = round(time.perf_counter() - t, 3)


# ------------------------------------------------------------------ backfill


class Backfill(Workload):
    """Fresh-store backfill: ``ingest_raw`` + ``run`` of a token table."""

    name = "backfill"
    N_ROWS = 40_000
    STEP_S = 4  # 40k rows span ~1.9 days
    TOKEN_CAP = 16

    def prepare(self) -> None:
        # gen_tokseq's own batch generator, written without a Spark job
        import pyarrow as pa
        import pyarrow.parquet as pq
        from logtrics_spark.datagen import gen_record_batch

        # one file per gen_tokseq partition (10k rows each)
        self.tok_path = self.work / "tokseq"
        self.tok_path.mkdir(exist_ok=True)
        for k, ids in enumerate(np.array_split(np.arange(self.N_ROWS), self.N_ROWS // 10_000)):
            batch = gen_record_batch(ids, self.seed, self.TOKEN_CAP)
            pq.write_table(pa.Table.from_batches([batch]), self.tok_path / f"part-{k:03d}.parquet")

    def build(self) -> None:
        self.oracle = gen.tokseq_oracle_1d(self.N_ROWS, self.seed, self.STEP_S)
        self.units = len(self.oracle[["source", "window_start"]].drop_duplicates())
        self.stage(-1)
        with self.timed("warmup_op"):
            self.op(-1)

    def stage(self, i: int) -> None:
        self.root = self.work / f"store{i % 2}"
        shutil.rmtree(self.root, ignore_errors=True)

    def op(self, i: int):
        from logtrics_spark.plans.pipeline import RollupJob

        job = RollupJob(self.spark, str(self.root), step_seconds=self.STEP_S)
        job.ingest_raw(self.spark.read.parquet(str(self.tok_path)))
        stats = job.run()
        self.job = job
        return {"records": self.N_ROWS, "job": job, "stats": stats}

    def check(self, i: int, out) -> bool:
        job = out["job"]
        if out["stats"] != {t: self.units for t in job.tiers}:
            return False
        got = job.read_tier("1d").toPandas()
        cols = ["cnt", "sum", "min", "max"]
        key = ["source", "metric", "window_start"]
        m = self.oracle.merge(got, on=key, how="outer", suffixes=("", "_g"))
        if len(m) != len(self.oracle) or m[[c + "_g" for c in cols]].isna().any().any():
            return False
        if not all(np.allclose(m[c], m[c + "_g"]) for c in cols):
            return False
        # one day's chunks decode to that day's tier rows
        days = sorted(got["window_start"].unique())
        day = pd.Timestamp(days[(self.seed + max(i, 0)) % len(days)])
        dec = job.read_tier_from_chunks(
            "1d", str(day), str(day + pd.Timedelta(days=1) - pd.Timedelta(seconds=1))
        ).toPandas()
        want = got[got["window_start"] == day]
        m = want.merge(dec, on=key, suffixes=("", "_d"))
        return len(m) == len(want) == len(dec) and all(
            np.allclose(m[c], m[c + "_d"]) for c in cols
        )

    def replay(self, tr) -> dict[str, float]:
        from logtrics_spark.operators.extract import extract_points
        from logtrics_spark.operators.gorilla import compress_tier
        from logtrics_spark.operators.rollup import TIER_ORDER, cascade, rollup
        from logtrics_spark.operators.sketchset import SketchSet
        from pyspark.sql import functions as F

        job = self.job
        out: dict[str, float] = {}
        raw = job.read_raw().localCheckpoint()
        with tr.span("replay.extract"):
            out["extract.self_s"] = noop_time(
                extract_points(raw, step_seconds=self.STEP_S)
            )
        pts = extract_points(raw, step_seconds=self.STEP_S).localCheckpoint()
        with tr.span("replay.rollup_1m"):
            out["rollup.1m_self_s"] = noop_time(rollup(pts, "1m"))
        tiers = {"1m": rollup(pts, "1m").localCheckpoint()}
        out["rollup.cascade_self_s"] = 0.0
        for fine, coarse in zip(TIER_ORDER, TIER_ORDER[1:]):
            with tr.span(f"replay.cascade_{coarse}"):
                out["rollup.cascade_self_s"] += noop_time(cascade(tiers[fine], fine, coarse))
            tiers[coarse] = cascade(tiers[fine], fine, coarse).localCheckpoint()
        union = None
        for t, df in tiers.items():
            df = df.withColumn("tier", F.lit(t))
            union = df if union is None else union.unionByName(df)
        with tr.span("replay.compress"):
            out["gorilla.encode_self_s"] = noop_time(
                compress_tier(union, "1m", chunk_span="1d", extra_keys=["tier"])
            )
        for kind in ("tdigest", "mg", "hll"):
            sk = SketchSet([kind])
            with tr.span(f"replay.sketch_{kind}"):
                t = noop_time(sk.rollup(pts, "1m", kind))
                fine = sk.rollup(pts, "1m", kind).localCheckpoint()
                t += noop_time(sk.cascade(kind, fine, "1m", "5m"))
            out[f"sketchset.{kind}_self_s"] = t
        return out


# ---------------------------------------------------------------------- live


class _LineCounter(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.lock = threading.Lock()
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                got = [ln.decode().rstrip("\n") for ln in self.rfile]
                with outer.lock:
                    outer.lines.extend(got)

        super().__init__(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.serve_forever, daemon=True)
        self.thread.start()

    def take(self) -> list[str]:
        with self.lock:
            out, self.lines = self.lines, []
        return out

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        self.thread.join()


class Live(Workload):
    """The reference's own shape: log lines -> rules -> 1m live store ->
    Graphite, a daily archive into the chunk store, dashboard reads."""

    name = "live"
    DRAIN_S = 4 * 3600  # each op drains 4 h of lines, 1 line/s/source
    DRAINS_PER_DAY = 6
    HISTORY_DRAINS = 2  # drains of day 0, archived in set-up: the read history
    READS_PER_OP = 1
    READ_TIERS = ["1m", "5m", "1h"]
    READ_SPANS = [3600, 6 * 3600, 24 * 3600]

    def build(self) -> None:
        from logtrics_spark.plans.daemon import Daemon
        from logtrics_spark.plans.pipeline import RollupJob

        self.sink = _LineCounter()
        conf = {
            "graphite": {
                "tiers": ["1m"],
                "host": "127.0.0.1",
                "port": self.sink.server_address[1],
                "prefix": "bench",
            }
        }
        self.engine = gen.build_engine()
        self.daemon = Daemon(self.spark, conf, self.engine, str(self.work / "live"))
        self.job = RollupJob(self.spark, str(self.work / "archive"))
        self.rng = np.random.default_rng([self.seed, 7])
        self.read_s: list[float] = []
        self.read_meta: list[tuple] = []
        self.lines_sent = 0
        # pre-built history: the first drains of day 0, archived.  Every
        # read starts inside it, so read cost does not drift as archived
        # days accumulate during the run.
        for k in range(self.HISTORY_DRAINS):
            lo = gen.LIVE_DAY0 + dt.timedelta(seconds=k * self.DRAIN_S)
            hi = lo + dt.timedelta(seconds=self.DRAIN_S)
            part = self.hist[(self.hist["ts"] >= lo) & (self.hist["ts"] < hi)]
            with self.timed(f"history_drain{k}"):
                self.daemon.process_lines(self._frame(part))
            self.sink.take()
        end = gen.LIVE_DAY0 + dt.timedelta(days=1)
        with self.timed("history_archive"):
            self.daemon.archive_closed_days(self.job, before_day=end.strftime("%Y-%m-%d"))
        self.history = {
            t: gen.lines_oracle(self.hist, secs)
            for t, secs in (("1m", 60), ("5m", 300), ("1h", 3600))
        }
        # warm-up op: day 1's first drain and a read, untimed.  The first
        # drain after an archive runs ~20% slower than later ones.
        self.stage(-1)
        with self.timed("warmup_op"):
            out = self.op(-1)
        if not self.check(-1, out):
            raise RuntimeError("live warm-up op failed its output check")
        self.read_s.clear()
        self.read_meta.clear()
        self.lines_sent = 0

    def _frame(self, lines: pd.DataFrame):
        return self.spark.createDataFrame(lines[["source", "line", "ts"]])

    def _read(self) -> tuple:
        """One dashboard read of a seeded (tier, range) inside the history."""
        tier = self.READ_TIERS[self.rng.integers(0, len(self.READ_TIERS))]
        span = self.READ_SPANS[self.rng.integers(0, len(self.READ_SPANS))]
        history_s = self.HISTORY_DRAINS * self.DRAIN_S
        first = int(self.rng.integers(0, (history_s - 3600) // 60 + 1))
        start = gen.LIVE_DAY0 + dt.timedelta(minutes=first)
        end = start + dt.timedelta(seconds=span - 1)
        t = time.perf_counter()
        with self.span("gorilla.read_collect"):
            rows = self.job.read_tier_from_chunks(tier, str(start), str(end)).collect()
        self.read_s.append(time.perf_counter() - t)
        self.read_meta.append((tier, start, end, len(rows)))
        return tier, start, end, rows

    def _read_ok(self, tier, start, end, rows) -> bool:
        got = pd.DataFrame([r.asDict() for r in rows])
        want = self.history[tier]
        want = want[(want["window_start"] >= start) & (want["window_start"] <= end)]
        if len(got) != len(want):
            return False
        m = want.merge(got, on=["source", "metric", "window_start"], suffixes=("", "_g"))
        return len(m) == len(want) and bool(
            np.allclose(m["cnt"], m["cnt_g"]) and np.allclose(m["sum"], m["sum_g"])
        )

    def prepare(self) -> None:
        self.hist = gen.gen_lines(self.seed, gen.LIVE_DAY0, self.HISTORY_DRAINS * self.DRAIN_S)

    def stage(self, i: int) -> None:
        # a day is DRAINS_PER_DAY drain ops, then its archive op; op i is
        # step i + 1 from the start of day 1 (the warm-up op, i = -1, took
        # day 1's first drain)
        day, self.slot = divmod(i + 1, self.DRAINS_PER_DAY + 1)
        self.day_start = gen.LIVE_DAY0 + dt.timedelta(days=1 + day)
        self.day_done = False
        if self.slot == self.DRAINS_PER_DAY:
            return
        start = self.day_start + dt.timedelta(seconds=self.slot * self.DRAIN_S)
        self.lines = gen.gen_lines(self.seed, start, self.DRAIN_S)
        self.lines_df = self._frame(self.lines)
        self.sink.take()
        if self.slot == 0:
            self.day_lines = []
        self.day_lines.append(self.lines)

    def op(self, i: int):
        if self.slot == self.DRAINS_PER_DAY:
            nxt = (self.day_start + dt.timedelta(days=1)).strftime("%Y-%m-%d")
            stats = self.daemon.archive_closed_days(self.job, before_day=nxt)
            self.job.retention()
            self.day_done = True
            return {"records": 0, "stats": stats}
        self.daemon.process_lines(self.lines_df)
        reads = [self._read() for _ in range(self.READS_PER_OP)]
        return {"records": len(self.lines), "reads": reads}

    def boundary(self) -> bool:
        return self.day_done

    def _graphite_ok(self) -> bool:
        want = gen.lines_oracle(self.lines, 60)
        want["epoch"] = (want["window_start"].astype("int64") // 10**9 + 60).astype(str)
        expect = set(zip(want["source"], want["metric"], want["epoch"]))
        deadline = time.time() + 10
        got: list[str] = []
        while True:
            new = self.sink.take()
            self.lines_sent += len(new)
            got += new
            seen = {tuple(ln.split(" ")[0].split(".")[1:3]) + (ln.split(" ")[2],) for ln in got}
            if seen >= expect or time.time() > deadline:
                break
            time.sleep(0.02)
        if seen != expect:
            return False
        counts = {}
        for ln in got:
            path, value, epoch = ln.split(" ")
            _, src, metric, field = path.split(".")
            if metric in ("requests", "errors") and field == "count":
                counts[(src, metric, epoch)] = float(value)
        cw = want[want["metric"].isin(["requests", "errors"])]
        rows = zip(cw["source"], cw["metric"], cw["epoch"], cw["cnt"])
        return len(counts) == len(cw) and all(counts.get((s, m, e)) == c for s, m, e, c in rows)

    def check(self, i: int, out) -> bool:
        if "stats" not in out:
            return all(self._read_ok(*r) for r in out["reads"]) and self._graphite_ok()
        n_src = len(gen.LIVE_SOURCES)
        if any(out["stats"].get(t) != n_src for t in self.job.tiers):
            return False
        day = pd.concat(self.day_lines, ignore_index=True)
        want = gen.lines_oracle(day, gen.DAY_S)
        got = self.job.read_tier("1d").where(
            f"window_start = timestamp'{self.day_start:%Y-%m-%d} 00:00:00'"
        ).toPandas()
        m = want.merge(got, on=["source", "metric", "window_start"], suffixes=("", "_g"))
        return len(m) == len(want) == len(got) and bool(
            np.allclose(m["cnt"], m["cnt_g"]) and np.allclose(m["sum"], m["sum_g"])
        )

    def replay(self, tr) -> dict[str, float]:
        from logtrics_spark.operators.gorilla import decompress_chunks_range

        out: dict[str, float] = {}
        lines = self.lines_df.localCheckpoint()
        with tr.span("replay.engine"):
            out["engine.self_s"] = noop_time(self.engine.run(lines))
        n_pts = self.engine.run(lines).count()
        out["engine.points_per_line"] = n_pts / len(self.lines)
        chunks = self.job.io.read("chunks/tier=1m").drop("day").localCheckpoint()
        lo = gen.LIVE_DAY0
        hi = lo + dt.timedelta(seconds=self.DRAIN_S - 1)
        with tr.span("replay.decode"):
            out["gorilla.decode_self_s"] = noop_time(
                decompress_chunks_range(chunks, str(lo), str(hi))
            )
        # curation has no timed workload of its own in BENCHMARK.json (run
        # budget); its op and stages are measured here instead
        cur = Curate(self.spark, self.seed, self.work, tr)
        cur.prepare()
        t = time.perf_counter()
        with tr.span("replay.curate"):
            ok = cur.check(-1, cur.op(-1))
        out["curation.curate_s"] = time.perf_counter() - t
        if not ok:
            raise RuntimeError("curate kept a different count than the seed's reference")
        out.update(cur.replay(tr))
        return out

    def close(self) -> None:
        if hasattr(self, "sink"):
            self.sink.close()


# -------------------------------------------------------------------- curate


class Curate(Workload):
    """``curate`` with exact + near dedup and an md5 sample over seeded docs."""

    name = "curate"
    N_DOCS = 2_000
    SAMPLE = 0.9

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs, self.expected = gen.gen_docs(self.N_DOCS, self.seed, self.SAMPLE)
        self.path = str(self.work / "docs.parquet")
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), self.path)

    def build(self) -> None:
        with self.timed("warmup_op"):
            out = self.op(-1)
        self.check(-1, out)

    def op(self, i: int):
        from logtrics_spark.plans import curation

        kept, _ = curation.curate(
            self.spark.read.parquet(self.path),
            min_quality=0.0,
            near_dup=True,
            jaccard_threshold=0.6,
            sample_rate=self.SAMPLE,
            collect_stats=False,
        )
        with self.span("curation.count"):
            n = kept.count()
        return {"records": self.N_DOCS, "kept": n}

    def check(self, i: int, out) -> bool:
        return out["kept"] == self.expected

    def replay(self, tr) -> dict[str, float]:
        """Each curate stage alone, on checkpointed inputs, into ``noop``."""
        from logtrics_spark.operators.dedup import (
            dedup_groups,
            minhash_lsh_dupes,
            ngram_jaccard_pairs,
        )
        from logtrics_spark.operators.text import language_id, quality_score
        from pyspark.sql import functions as F

        out: dict[str, float] = {}
        docs = self.spark.read.parquet(self.path).localCheckpoint()
        ann = docs.withColumn("quality", quality_score(F.col("text"))).withColumn(
            "lang", language_id(F.col("text"))
        )
        with tr.span("replay.annotate"):
            out["text.annotate_self_s"] = noop_time(ann)
        ann = ann.localCheckpoint()
        keepers = (
            ann.select(F.xxhash64("text").alias("_fp"), "doc_id")
            .groupBy("_fp")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        with tr.span("replay.exact"):
            out["dedup.exact_self_s"] = noop_time(keepers)
        cand = minhash_lsh_dupes(ann, include_est=False, max_bucket_size=4096)
        with tr.span("replay.lsh"):
            out["dedup.lsh_self_s"] = noop_time(cand)
        cand = cand.localCheckpoint()
        n_cand = cand.count()
        ver = ngram_jaccard_pairs(ann, cand, min_jaccard=0.6).where(F.col("jaccard") >= 0.6)
        with tr.span("replay.verify"):
            out["dedup.verify_self_s"] = noop_time(ver)
        ver = ver.select("id_a", "id_b").localCheckpoint()
        out["dedup.lsh_candidates"] = float(n_cand)
        out["dedup.verify_useful_ratio"] = ver.count() / max(n_cand, 1)
        with tr.span("replay.groups"):
            out["dedup.groups_self_s"] = noop_time(dedup_groups(ver))
        return out


WORKLOADS = {w.name: w for w in (Backfill, Live, Curate)}
