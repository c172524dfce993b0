"""Dump the physical plan of the composed curation pipeline's kept
frame — the bench's `curation` row is plans/curation.py::curate, not a
registry query, so tools/explain_queries.py cannot print it.

    python tools/explain_curation.py [sf_dir] > plans/r07/curation_after.txt

Uses the exact bench parameterization (min_quality=0.0, near_dup=True,
jaccard_threshold=0.6, sample_rate=0.9, collect_stats=False).  Note the
printed plan starts at curate()'s internal localCheckpoint barriers —
the annotate/filter subtree materializes at checkpoint time, so the
final plan reads from the checkpointed scan (that truncation is itself
the r7 §3 optimization being audited).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(argv: list[str]) -> int:
    from logtrics_spark.plans.curation import curate
    from logtrics_spark.session import get_spark

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-curation", master="local[4]", shuffle_partitions=4)
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        kept, _ = curate(
            docs,
            min_quality=0.0,
            near_dup=True,
            jaccard_threshold=0.6,
            sample_rate=0.9,
            collect_stats=False,
        )
        kept.explain("formatted")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
