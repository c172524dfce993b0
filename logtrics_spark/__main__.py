"""CLI — the daemon-flavored face of the engine (reference:
cmd/logtrics/main.go's cobra CLI with config + mode flags).

    python -m logtrics_spark run      --config config.toml \\
                                      --rules rules.py:engine --store ./store
    python -m logtrics_spark rollup   --input raw.parquet --store ./store
    python -m logtrics_spark graphite --store ./store --tier 1h \\
                                      --host 127.0.0.1 --port 2024
    python -m logtrics_spark curate   --input docs.parquet --output kept/ \\
                                      --langs en --benchmark eval.parquet
    python -m logtrics_spark config-check ./config.toml

``run`` is the daemon (the reference's primary entry point,
main.go:97-121): TOML modes -> sources -> rules -> streaming rollup ->
tier store + Graphite flusher; ``rollup`` runs the resumable batch job
(ingest -> tiers -> Gorilla chunks -> lineage [-> retention]); ``graphite``
formats a stored tier as plaintext lines and ships them over TCP (K2);
``config-check`` validates a reference-shaped TOML.  Spark session
settings come from logtrics_spark.session (SPARK_GRAFT_CPUS etc.).
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_session(app_name: str):
    """Reuse an already-active session (library/test embedding) — only a
    session WE create is ours to stop."""
    from pyspark.sql import SparkSession

    from logtrics_spark.session import get_spark

    existing = SparkSession.getActiveSession()
    if existing is not None:
        return existing, False
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("WARN")
    return spark, True


def _cmd_rollup(args) -> int:
    from logtrics_spark.plans.pipeline import RollupJob

    spark, own = _get_session("logtrics-rollup")
    tiers = args.tiers.split(",") if args.tiers else None
    sketches = (
        {"enabled": args.sketches.split(",")} if getattr(args, "sketches", None) else None
    )
    job = RollupJob(
        spark, args.store, tiers=tiers, step_seconds=args.step_seconds,
        sketches=sketches,
    )
    if args.input:
        job.ingest_raw(spark.read.parquet(args.input), mode=args.ingest_mode)
    stats = job.run(seal_before=args.seal_before)
    dropped = job.retention() if args.retention else []
    print(json.dumps({"sealed_units": stats, "raw_partitions_dropped": len(dropped)}))
    if own:
        spark.stop()
    return 0


def _cmd_graphite(args) -> int:
    from logtrics_spark.plans.pipeline import RollupJob
    from logtrics_spark.sinks.graphite import send_graphite_tcp, to_graphite_lines

    spark, own = _get_session("logtrics-graphite")
    job = RollupJob(spark, args.store)
    lines = to_graphite_lines(job.read_tier(args.tier), args.tier, prefix=args.prefix)
    if args.dry_run:
        for r in lines.limit(args.limit).collect():
            print(r["line"])
    else:
        send_graphite_tcp(lines, args.host, args.port)
    if own:
        spark.stop()
    return 0


def _cmd_run(args) -> int:
    from logtrics_spark.plans.daemon import main_run

    spark, own = _get_session("logtrics-run")
    try:
        return main_run(args, spark)
    finally:
        if own:
            spark.stop()


def _cmd_alerts(args) -> int:
    """Score a stored tier with the rolling z-score and print flagged
    rows (the read-path sibling of `graphite`: series.py over the
    store).  The tier is read by ``RollupJob.read_tier``, one row per
    window from either kind of store (a live store's superseded
    snapshot versions never reach the trailing stats)."""
    from pyspark.sql import functions as F

    from logtrics_spark.operators.series import zscore
    from logtrics_spark.plans.pipeline import RollupJob

    spark, own = _get_session("logtrics-alerts")
    job = RollupJob(spark, args.store)
    tier_df = job.read_tier(args.tier)
    flagged = (
        zscore(tier_df, args.value_col, args.window_seconds, out_col="z")
        .where(F.abs(F.col("z")) > args.threshold)
        .orderBy(F.abs(F.col("z")).desc())
        .limit(args.limit)
    )
    for r in flagged.collect():
        print(
            f"{r['source']}.{r['metric']} {r['window_start']} "
            f"{args.value_col}={r[args.value_col]:.4f} z={r['z']:+.2f}"
        )
    if own:
        spark.stop()
    return 0


def _cmd_read(args) -> int:
    """Time-range read over a stored tier — the dashboard fetch path.

    The bounds go to ``RollupJob.read_tier``: only sealed chunks whose
    stored min_ts/max_ts overlap [--from, --to] are decompressed
    (operators/gorilla.py::decompress_chunks_range), and a live store's
    head rows are cut to the same inclusive bounds and resolved
    latest-wins, so superseded snapshot versions never print."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from logtrics_spark.plans.pipeline import RollupJob

    # validate bounds DRIVER-side: lit(str).cast("timestamp") turns a
    # typo'd timestamp into NULL, which silently filters every row —
    # "no data in range" and "bad timestamp" must not look the same
    def _parse(name, v):
        if v is None:
            return None
        try:
            return _dt.datetime.fromisoformat(v)
        except ValueError:
            raise SystemExit(
                f"error: --{name} {v!r} is not a valid timestamp "
                "(expected e.g. '2024-01-01 00:00:00')"
            )

    lo = _parse("from", getattr(args, "from"))
    hi = _parse("to", args.to)
    spark, own = _get_session("logtrics-read")
    job = RollupJob(spark, args.store)
    df = job.read_tier(args.tier, lo, hi)
    if args.source:
        df = df.where(F.col("source") == args.source)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        # count the WRITTEN files — re-counting df would re-run the
        # whole scan/decompression plan a second time
        n = spark.read.parquet(args.out).count()
        print(f"wrote {n} rows to {args.out}")
    else:
        cols = [c for c in ("source", "metric", "kind") if c in df.columns]
        rows = df.orderBy(*cols, "window_start").limit(args.limit).collect()
        val_cols = [
            c for c in df.columns
            if c not in (*cols, "window_start", "last_ts")
        ]
        for r in rows:
            vals = " ".join(
                f"{c}={r[c]:.4f}" if isinstance(r[c], float) else f"{c}={r[c]}"
                for c in val_cols
                if r[c] is not None
            )
            print(f"{'.'.join(str(r[c]) for c in cols)} {r['window_start']} {vals}")
    if own:
        spark.stop()
    return 0


def _load_conf_opt(args) -> dict:
    """Optional --config TOML for housekeeping commands: carries the
    deployment's [sketches] parameters (mg_k, compression...); without
    it, sketch tables are auto-detected and merged with defaults."""
    if getattr(args, "config", None):
        from logtrics_spark.config import load_toml

        return load_toml(args.config)
    return {}


def _cmd_compact(args) -> int:
    """Latest-wins compaction of a daemon live store: each tier's day
    partitions are rewritten to one snapshot version, dropping
    superseded snapshot history (the run-mode daemon can also do this
    itself every N flushes via graphite.compact_every).  Sketch tables
    (sk_*) are compacted too — snapshot versions collapse, stream
    partials are preserved.  Safe against a LIVE daemon: both sides
    flock <store>/.store.lock."""
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon

    spark, own = _get_session("logtrics-compact")
    d = Daemon(spark, _load_conf_opt(args), Engine(), args.store)
    counts = d.compact(args.tiers.split(",") if args.tiers else None)
    print(json.dumps({"compacted": counts}))
    if own:
        spark.stop()
    return 0


def _cmd_archive(args) -> int:
    """Seal the live store's closed days into a batch archival store
    (Gorilla chunks + lineage, plus cascaded sk_* sketch
    tables) and drop them from the live head — the daemon owns the open
    day, the RollupJob owns history."""
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.plans.pipeline import RollupJob

    spark, own = _get_session("logtrics-archive")
    tiers = args.tiers.split(",") if args.tiers else None
    conf = _load_conf_opt(args)
    if tiers:
        conf.setdefault("graphite", {})["tiers"] = tiers
    d = Daemon(spark, conf, Engine(), args.store)
    job = RollupJob(spark, args.archive_store, tiers=tiers)
    stats = d.archive_closed_days(job, before_day=args.before_day)
    print(json.dumps({"sealed_units": stats}))
    if own:
        spark.stop()
    return 0


def _cmd_sketch(args) -> int:
    """Answer percentile / top-k / distinct queries from a store's
    mergeable sketch tables — the post-retention read path:
    ``RollupJob.read_sketch_tier`` answers from a LIVE daemon store and
    from an ARCHIVED RollupJob store alike, long after the raw points and
    fine tiers are gone (--config carries a live store's merge params)."""
    from logtrics_spark.plans.pipeline import RollupJob

    spark, own = _get_session("logtrics-sketch")
    job = RollupJob(spark, args.store, sketches=_load_conf_opt(args).get("sketches"))
    try:
        rows = job.read_sketch_tier(args.kind, args.tier)
    except ValueError:
        print(f"no sk_{args.kind} tier={args.tier} in {args.store}", file=sys.stderr)
        if own:
            spark.stop()
        return 2
    key_cols = [c for c in ("source", "metric", "kind", "window_start") if c in rows.columns]
    if args.kind == "tdigest":
        from logtrics_spark.operators.tdigest import tdigest_quantiles

        name = "p" + ("%g" % (args.q * 100)).replace(".", "")
        out = tdigest_quantiles(rows, [args.q]).select(*key_cols, name)
    elif args.kind == "mg":
        from logtrics_spark.operators.heavyhitters import mg_topk

        out = mg_topk(rows, n=args.n).select(
            *key_cols, "item", "est_count", "err", "total_n", "rank"
        )
    elif args.kind == "cms":
        from logtrics_spark.operators.countmin import cms_query

        if not args.item:
            print("error: --kind cms needs at least one --item probe",
                  file=sys.stderr)
            if own:
                spark.stop()
            return 2
        out = cms_query(rows, args.item).select(
            *key_cols, "item", "est_count", "total_n"
        )
    else:
        from logtrics_spark.operators.rollup import set_sketch_estimate

        out = set_sketch_estimate(rows).select(*key_cols, "cnt_distinct")
    for r in out.orderBy(*key_cols).limit(args.limit).collect():
        print(json.dumps({k: str(v) if not isinstance(v, (int, float)) else v
                          for k, v in r.asDict().items()}))
    if own:
        spark.stop()
    return 0


def _cmd_curate(args) -> int:
    """Run the composed LLM-training-data curation plan over a document
    parquet and write the kept docs (plans/curation.py: annotate ->
    quality/lang filters -> exact dedup -> LSH near-dedup -> optional
    benchmark decontamination -> deterministic sampling).  Prints one
    JSON line with the per-stage survivor counts — the audit trail a
    data team records next to the output."""
    sample_rates = None
    if args.sample_rates:
        sample_rates = {}
        for pair in args.sample_rates.split(","):
            key, _, rate = pair.partition("=")
            try:
                sample_rates[key] = float(rate)
            except ValueError:
                rate = ""
            if not key or not rate:
                print(f"invalid --sample-rates entry: {pair!r} "
                      "(want group=rate,...)", file=sys.stderr)
                return 1

    from logtrics_spark.plans.curation import curate

    spark, own = _get_session("logtrics-curate")
    docs = spark.read.parquet(args.input)
    benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
    lm_model = None
    if args.lm_corpus and args.max_perplexity is not None:
        from logtrics_spark.operators.lm import train_ngram_lm

        lm_model = train_ngram_lm(
            spark.read.parquet(args.lm_corpus), text_col=args.text_col,
            id_col=args.id_col,
        )
    kept, stats = curate(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        min_quality=args.min_quality if args.min_quality > 0 else None,
        langs=args.langs.split(",") if args.langs else None,
        redact=args.redact,
        lm_model=lm_model,
        max_perplexity=args.max_perplexity,
        gopher=args.gopher,
        gopher_opts={"min_words": args.gopher_min_words} if args.gopher else None,
        near_dup=not args.no_near_dup,
        jaccard_threshold=args.jaccard,
        benchmark=benchmark,
        decontam_n=args.decontam_n,
        sample_rate=args.sample_rate,
        sample_rates=sample_rates,
        sample_by=args.sample_by,
        collect_stats=not args.no_stats,
    )
    kept.write.mode(args.output_mode).parquet(args.output)
    written = spark.read.parquet(args.output).count()
    print(json.dumps({"stages": stats, "written": written,
                      "output": args.output}))
    if own:
        spark.stop()
    return 0


def _cmd_tokenize(args) -> int:
    """documents parquet -> the north-rule token table (id, tokens:
    array<int32>, n_tok [, kept cols]) via BPE (operators/bpe.py).
    Trains on a bounded partition-fair sample unless --model points at
    an existing model JSON; --save-model persists the merges/vocab so
    later runs encode with the exact same ids."""
    import os

    from logtrics_spark.operators.bpe import bpe_encode, train_bpe

    spark, own = _get_session("logtrics-tokenize")
    try:
        docs = spark.read.parquet(args.input)
        if args.model and os.path.exists(args.model):
            with open(args.model) as fh:
                raw = json.load(fh)
            model = {
                "merges": [tuple(p) for p in raw["merges"]],
                "vocab": dict(raw["vocab"]),
            }
            trained = False
        else:
            model = train_bpe(
                docs,
                vocab_size=args.vocab_size,
                text_col=args.text_col,
                sample_rows=args.sample_rows,
                seed=args.seed,
            )
            trained = True
            if args.model:
                with open(args.model, "w") as fh:
                    json.dump(
                        {"merges": [list(p) for p in model["merges"]],
                         "vocab": model["vocab"]},
                        fh,
                    )
        keep = [c for c in (args.keep_cols.split(",") if args.keep_cols else []) if c]
        tok = bpe_encode(
            docs, model, text_col=args.text_col, id_col=args.id_col, keep_cols=keep
        )
        tok.write.mode(args.output_mode).parquet(args.output)
        written = spark.read.parquet(args.output)
        n = written.count()
        toks = written.agg({"n_tok": "sum"}).first()[0]
        print(
            json.dumps(
                {
                    "rows": n,
                    "total_tokens": int(toks or 0),
                    "vocab": len(model["vocab"]),
                    "merges": len(model["merges"]),
                    "trained": trained,
                    "output": args.output,
                }
            )
        )
    finally:
        if own:
            spark.stop()
    return 0


def _cmd_config_check(args) -> int:
    from logtrics_spark.config import ConfigError, load_toml

    try:
        conf = load_toml(args.path)
    except (ConfigError, OSError) as e:
        print(f"invalid: {e}", file=sys.stderr)
        return 1
    print(json.dumps(conf, default=str, indent=2))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="logtrics_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("run", help="daemon: modes -> rules -> tiers -> graphite")
    d.add_argument("--config", required=True, help="reference-shaped config.toml")
    d.add_argument("--rules",
                   help="'<module|file.py>:<attr>' resolving to an Engine "
                        "(default: config scriptfile/scriptdir)")
    d.add_argument("--store", required=True, help="live tier store root")
    d.add_argument("--file-dir", help="directory for mode 'file' (filetail)")
    d.add_argument("--checkpoint", help="checkpoint root (default <store>/_checkpoints)")
    d.add_argument("--once", action="store_true",
                   help="availableNow: drain sources once and exit")
    d.add_argument("--cascade", action="store_true",
                   help="after --once: roll the store up to the coarser "
                        "configured tiers (continuous-aggregate maintenance)")
    d.set_defaults(fn=_cmd_run)

    r = sub.add_parser("rollup", help="run the resumable batch rollup job")
    r.add_argument("--input", help="token-table parquet to ingest (optional)")
    r.add_argument("--store", required=True, help="store root directory")
    r.add_argument("--tiers", help="comma list, default 1m,5m,1h,1d")
    r.add_argument("--step-seconds", type=int, default=1)
    r.add_argument("--seal-before", help="only seal days < this yyyy-MM-dd")
    r.add_argument("--ingest-mode", default="overwrite_partitions",
                   choices=["overwrite_partitions", "append"])
    r.add_argument("--retention", action="store_true",
                   help="drop fully-sealed raw partitions after the run")
    r.add_argument("--sketches",
                   help="comma list of tdigest,mg,hll — also build "
                        "mergeable sketch tiers (sk_* tables)")
    r.set_defaults(fn=_cmd_rollup)

    g = sub.add_parser("graphite", help="emit a stored tier as Graphite plaintext")
    g.add_argument("--store", required=True)
    g.add_argument("--tier", default="1h")
    g.add_argument("--host", default="127.0.0.1")
    g.add_argument("--port", type=int, default=2024)
    g.add_argument("--prefix", default="logtrics")
    g.add_argument("--dry-run", action="store_true", help="print lines instead")
    g.add_argument("--limit", type=int, default=20)
    g.set_defaults(fn=_cmd_graphite)

    a = sub.add_parser("alerts", help="rolling z-score anomalies over a stored tier")
    a.add_argument("--store", required=True)
    a.add_argument("--tier", default="1m")
    a.add_argument("--value-col", default="avg")
    a.add_argument("--window-seconds", type=int, default=3600)
    a.add_argument("--threshold", type=float, default=3.0)
    a.add_argument("--limit", type=int, default=50)
    a.set_defaults(fn=_cmd_alerts)

    rd = sub.add_parser("read", help="time-range read of a stored tier (chunk-pruned)")
    rd.add_argument("--store", required=True)
    rd.add_argument("--tier", default="1h")
    rd.add_argument("--from", dest="from", default=None,
                    help="inclusive lower bound, e.g. '2024-01-01 00:00:00'")
    rd.add_argument("--to", default=None, help="inclusive upper bound")
    rd.add_argument("--source", default=None, help="exact source filter")
    rd.add_argument("--limit", type=int, default=50)
    rd.add_argument("--out", default=None, help="write parquet here instead of printing")
    rd.set_defaults(fn=_cmd_read)

    k = sub.add_parser("compact", help="latest-wins compaction of a daemon live store")
    k.add_argument("--store", required=True, help="live tier store root")
    k.add_argument("--tiers", help="comma list (default: every tier in the store)")
    k.add_argument("--config", help="deployment TOML (for [sketches] merge params)")
    k.set_defaults(fn=_cmd_compact)

    h = sub.add_parser("archive", help="seal closed live-store days into an archival store")
    h.add_argument("--store", required=True, help="live tier store root")
    h.add_argument("--archive-store", required=True,
                   help="RollupJob store root, not the --store itself")
    h.add_argument("--tiers", help="comma list, default 1m,5m,1h,1d (finest must match the live tier)")
    h.add_argument("--before-day", help="archive days < this yyyy-MM-dd (default: the open day)")
    h.add_argument("--config", help="deployment TOML (for [sketches] merge params)")
    h.set_defaults(fn=_cmd_archive)

    q = sub.add_parser("sketch", help="percentile/top-k/distinct/point-frequency from stored sketch tiers")
    q.add_argument("--store", required=True, help="live daemon store OR archived RollupJob store")
    q.add_argument("--kind", required=True, choices=["tdigest", "mg", "hll", "cms"])
    q.add_argument("--tier", default="1h")
    q.add_argument("--q", type=float, default=0.95, help="quantile (tdigest)")
    q.add_argument("--n", type=int, default=10, help="top-n (mg)")
    q.add_argument("--item", action="append", default=[],
                   help="point-frequency probe item (cms; repeatable)")
    q.add_argument("--limit", type=int, default=50)
    q.add_argument("--config", help="deployment TOML (for [sketches] merge params)")
    q.set_defaults(fn=_cmd_sketch)

    cu = sub.add_parser(
        "curate",
        help="LLM-training-data curation: filter -> dedup -> decontam -> sample",
    )
    cu.add_argument("--input", required=True,
                    help="documents parquet (needs id + text columns)")
    cu.add_argument("--output", required=True,
                    help="parquet dir for the kept documents")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--min-quality", type=float, default=0.3,
                    help="drop docs below this quality score; <=0 disables")
    cu.add_argument("--langs",
                    help="comma-separated allowed langs (default: keep all)")
    cu.add_argument("--lm-corpus", default=None,
                    help="trusted-text parquet: train a bigram LM on it and "
                         "keep only docs under --max-perplexity")
    cu.add_argument("--max-perplexity", type=float, default=None)
    cu.add_argument("--redact", action="store_true",
                    help="scrub PII (emails/IPs/phones/cards) BEFORE any "
                         "other stage reads the text")
    cu.add_argument("--gopher", action="store_true",
                    help="apply the Gopher A1.1 quality + repetition rules "
                         "at the published thresholds")
    cu.add_argument("--gopher-min-words", type=int, default=50,
                    help="Gopher word-count lower bound (paper default 50)")
    cu.add_argument("--no-near-dup", action="store_true",
                    help="skip the MinHash-LSH near-dedup stage")
    cu.add_argument("--jaccard", type=float, default=0.8,
                    help="near-dup n-gram Jaccard threshold")
    cu.add_argument("--benchmark",
                    help="eval-set parquet: drop docs sharing an n-gram with it")
    cu.add_argument("--decontam-n", type=int, default=13,
                    help="decontamination n-gram length")
    cu.add_argument("--sample-rate", type=float,
                    help="deterministic keep rate over the survivors")
    cu.add_argument("--sample-rates",
                    help="stratified rates, e.g. web=0.5,code=1.0")
    cu.add_argument("--sample-by", default="source",
                    help="stratification column for --sample-rates")
    cu.add_argument("--no-stats", action="store_true",
                    help="skip per-stage survivor counts (fully lazy plan)")
    cu.add_argument("--output-mode", default="error",
                    choices=["error", "overwrite"])
    cu.set_defaults(fn=_cmd_curate)

    tk = sub.add_parser(
        "tokenize",
        help="BPE-tokenize a document parquet into the engine's token-table shape",
    )
    tk.add_argument("--input", required=True, help="documents parquet path")
    tk.add_argument("--output", required=True, help="token-table parquet path")
    tk.add_argument("--output-mode", default="error",
                    help="parquet save mode (default error = refuse to overwrite)")
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--id-col", default="doc_id")
    tk.add_argument("--keep-cols", default="source",
                    help="comma-separated passthrough columns (default source)")
    tk.add_argument("--vocab-size", type=int, default=512)
    tk.add_argument("--sample-rows", type=int, default=100_000,
                    help="bounded training sample size")
    tk.add_argument("--seed", type=int, default=42)
    tk.add_argument("--model", default=None,
                    help="model JSON path: loaded if it exists, else trained and saved here")
    tk.set_defaults(fn=_cmd_tokenize)

    c = sub.add_parser("config-check", help="validate a reference-shaped TOML")
    c.add_argument("path")
    c.set_defaults(fn=_cmd_config_check)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
