"""Dump the physical plan of any driver query — the plan-audit loop.

    python tools/explain_queries.py tiers_chain [sf_dir]
    python tools/explain_queries.py --all            # every query, summary

Prints `.explain("formatted")` so the scan section (PushedFilters /
ReadSchema), exchanges, and WholeStageCodegen spans are reviewable —
the checks test_plan_quality.py locks for the headline queries, made
available for all of them.  `--all` prints one summary line per query
(exchanges, scans, python-UDF evals) to spot regressions fast — an
unexpected exchange or a python eval in a native-path query is the
thing to chase.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Python plan nodes counted by --all ("ArrowEval" covers ArrowEvalPython)
PY_NODES = ("BatchEvalPython", "ArrowEval", "FlatMapGroupsInPandas", "MapInPandas", "MapInArrow")


def main(argv: list[str]) -> int:
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from logtrics_spark.session import get_spark

    if not argv:
        print(__doc__)
        return 2
    target = argv[0]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"

    # reuse an embedding session (tests) — only stop a session we made
    own = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="explain", master="local[4]", shuffle_partitions=4)
    qs = entrymod.queries()
    try:
        if target == "--all":
            for name, fn in qs.items():
                try:
                    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
                except Exception as e:  # noqa: BLE001 — summary must not abort
                    print(f"{name:24s} ERROR {e}")
                    continue
                # NOTE: under AQE the pre-execution plan carries no
                # codegen `*(n)` markers, so only exchange and Python
                # counts are meaningful here; use the single-query mode
                # (explain("formatted")) for codegen spans.
                scan = plan.count("FileScan") + plan.count("BatchScan")
                py = sum(plan.count(m) for m in PY_NODES)
                print(
                    f"{name:24s} exchanges={plan.count('Exchange'):2d} "
                    f"scans={scan:2d} python={py:2d}"
                )
            return 0
        if target not in qs:
            print(f"unknown query {target!r}; known: {sorted(qs)}")
            return 2
        qs[target](spark, sf_dir).explain("formatted")
        return 0
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
