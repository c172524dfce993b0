"""CLI smoke tests (python -m logtrics_spark ...)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from logtrics_spark.__main__ import main
from logtrics_spark.datagen import gen_tokseq

REPO = Path(__file__).resolve().parents[1]


def test_cli_rollup_and_graphite_dry_run(spark, tmp_path, capsys):
    raw = str(tmp_path / "tok.parquet")
    gen_tokseq(spark, 500, partitions=2).write.parquet(raw)
    store = str(tmp_path / "store")

    rc = main(["rollup", "--input", raw, "--store", store, "--tiers", "1m,1h"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sealed_units"]["1m"] >= 1 and out["sealed_units"]["1h"] >= 1

    rc = main(
        ["graphite", "--store", store, "--tier", "1h", "--dry-run", "--limit", "5"]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 5
    assert all(len(ln.split(" ")) == 3 and ln.startswith("logtrics.") for ln in lines)


def test_cli_config_check(tmp_path, capsys):
    ok = tmp_path / "c.toml"
    ok.write_text('modes = ["tcp"]\n[graphite]\nport = 2024\n')
    assert main(["config-check", str(ok)]) == 0
    assert json.loads(capsys.readouterr().out)["graphite"]["port"] == 2024

    bad = tmp_path / "b.toml"
    bad.write_text("nonsense = true\n")
    assert main(["config-check", str(bad)]) == 1


def test_cli_requires_subcommand():
    with pytest.raises(SystemExit):
        main([])


def test_cli_alerts(spark, tmp_path, capsys):
    raw = str(tmp_path / "tok.parquet")
    gen_tokseq(spark, 800, partitions=2).write.parquet(raw)
    store = str(tmp_path / "store")
    assert main(["rollup", "--input", raw, "--store", store, "--tiers", "1m"]) == 0
    capsys.readouterr()

    rc = main([
        "alerts", "--store", store, "--tier", "1m",
        "--window-seconds", "600", "--threshold", "1.5", "--limit", "10",
    ])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) <= 10
    # every flagged line carries a |z| above the threshold
    for ln in lines:
        z = float(ln.rsplit("z=", 1)[1])
        assert abs(z) > 1.5


def test_explain_queries_tool(spark, capsys):
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import explain_queries

    assert explain_queries.main(["tiers_chain"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Exchange" in out
    assert explain_queries.main(["no_such_query"]) == 2


def test_cli_read_range(spark, tmp_path, capsys):
    """`read`: range fetch over a stored tier (sealed chunks zone-map
    pruned); both bounds are inclusive, and --out writes the same rows."""
    raw = str(tmp_path / "tok.parquet")
    gen_tokseq(spark, 800, partitions=2).write.parquet(raw)
    store = str(tmp_path / "store")
    assert main(["rollup", "--input", raw, "--store", store, "--tiers", "1m,1h"]) == 0
    capsys.readouterr()

    args = ["read", "--store", store, "--tier", "1m",
            "--from", "2024-01-01 00:02:00", "--to", "2024-01-01 00:05:00",
            "--limit", "500"]
    assert main(args) == 0
    live = capsys.readouterr().out.strip().splitlines()
    assert {ln.split(" ")[2] for ln in live} == {f"00:0{m}:00" for m in range(2, 6)}

    out_dir = str(tmp_path / "out.parquet")
    assert main(args + ["--out", out_dir]) == 0
    assert "wrote" in capsys.readouterr().out
    assert spark.read.parquet(out_dir).count() == len(live)


@pytest.mark.parametrize(
    "cmd", [["graphite", "--dry-run"], ["read"], ["alerts"]], ids=lambda c: c[0]
)
def test_cli_reads_of_a_missing_tier_name_it(spark, tmp_path, cmd):
    """The tier-reading commands fail with read_tier's named error when
    the store has no rows of the tier, not with a path-not-found, and a
    read of a missing store does not create it."""
    store = str(tmp_path / "empty")
    with pytest.raises(ValueError, match=r"store .* has no tier=1h rows"):
        main([cmd[0], "--store", store, "--tier", "1h", *cmd[1:]])
    assert not Path(store).exists()


def test_cli_sketch_of_a_missing_store_leaves_it_absent(spark, tmp_path, capsys):
    store = tmp_path / "typo"
    assert main(["sketch", "--store", str(store), "--kind", "tdigest"]) == 2
    assert f"no sk_tdigest tier=1h in {store}" in capsys.readouterr().err
    assert not store.exists()


def test_cli_curate(spark, tmp_path, capsys):
    """`curate` runs the composed curation plan over a documents parquet:
    planted exact dupes drop, the audit JSON reports monotone stage
    counts, the output parquet matches the reported row count, and a
    malformed --sample-rates fails fast with rc 1."""
    import pandas as pd

    texts = [
        f"the quick brown fox jumps over the lazy dog number {i} "
        f"while the band plays on and the river runs past the mill"
        for i in range(12)
    ]
    docs = pd.DataFrame({
        "doc_id": list(range(12)) + [100, 101, 102],
        "text": texts + texts[:3],  # 3 exact copies under new ids
        "source": (["web", "code"] * 8)[:15],
    })
    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs).write.parquet(inp)
    out = str(tmp_path / "kept")

    rc = main([
        "curate", "--input", inp, "--output", out,
        "--min-quality", "0", "--no-near-dup",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["stages"]["input"] == 15
    assert rep["stages"]["exact_dedup"] == 12
    kept = spark.read.parquet(out)
    assert kept.count() == rep["written"] == 12
    assert {"quality", "lang"} <= set(kept.columns)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert not ids & {100, 101, 102}

    # default --output-mode error refuses to clobber an existing output
    with pytest.raises(Exception):
        main(["curate", "--input", inp, "--output", out,
              "--min-quality", "0", "--no-near-dup"])

    # malformed stratified rates fail before any Spark work
    rc = main([
        "curate", "--input", inp, "--output", str(tmp_path / "k2"),
        "--sample-rates", "web-0.5",
    ])
    assert rc == 1
    assert "invalid --sample-rates" in capsys.readouterr().err


def test_cli_curate_gopher(spark, tmp_path, capsys):
    """--gopher applies the A1.1 stage: the word-soup doc with a
    degenerate top 2-gram drops, clean prose survives."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "source": ["web", "web"],
            "text": [
                # long enough that a count-1 top 4-gram stays under the
                # 16% character threshold (the rule targets web-length
                # docs; a short doc's single 4-gram can exceed it)
                "the quick brown fox jumps over the lazy dog and that "
                "was that with more of the same to be said again here "
                "while seven other animals watch from beyond the old "
                "stone wall near the winding river bank under a pale "
                "morning sky as the farmer walks slowly toward town "
                "carrying a heavy basket of fresh bread and ripe fruit",
                "spam " * 40 + "the and of",
            ],
        }
    )
    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs).write.parquet(inp)
    out = str(tmp_path / "kept")
    rc = main([
        "curate", "--input", inp, "--output", out,
        "--min-quality", "0", "--no-near-dup",
        "--gopher", "--gopher-min-words", "10",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["stages"]["gopher_filter"] >= 1
    assert "gopher_repetition" in rep["stages"]
    ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids == {0}


def test_example_llm_pipeline(spark, tmp_path):
    """examples/llm_pipeline.py composes the full public surface
    (curate -> BPE -> chunk/pack -> RollupJob + sketch tiers ->
    queries) against the sandbox test data without error."""
    import sys as _sys

    _sys.path.insert(0, str(REPO / "examples"))
    try:
        import llm_pipeline

        report = llm_pipeline.main(work_dir=str(tmp_path / "wk"))
    finally:
        _sys.path.remove(str(REPO / "examples"))
    flow = [report["curation"][k] for k in ("input", "near_dedup", "sample")]
    assert flow == sorted(flow, reverse=True)
    assert report["tokens"]["docs"] == report["curation"]["sample"]
    assert report["windows"]["chunks"] >= report["tokens"]["docs"]
    assert report["tiers"]["hourly_rows"] > 0
    assert report["queries"]["p95_windows"] == report["tiers"]["hourly_rows"]
