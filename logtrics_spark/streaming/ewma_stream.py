"""Streaming meter EWMA — the custom stateful operator the built-in
windowed aggregates can't express (A4 cross-window state).

Batch EWMA (operators/ewma.py) folds a whole series at once; this is
the incremental analog: ``applyInPandasWithState`` keeps one float per
(series, horizon) in the state store and folds each micro-batch's
closed tier windows into it, so a long-running deployment never
re-reads history.

Composition (one stateful operator per query — Spark does not allow an
arbitrary stateful op downstream of a streaming aggregation in the
same query):

    point stream -> rollup_stream/write_tier_stream -> tier store
    tier store (readStream) -> meter_ewma_stream -> EWMA rows

i.e. the tier table is the continuous-aggregate hand-off between the
two streaming queries — exactly how a downstream stateful consumer
reads a continuously-maintained rollup in production.

Ordering contract: windows must arrive in non-decreasing window_start
order per series (true for the append-mode tier sink, whose emissions
follow the watermark).  Within a micro-batch rows are sorted; ACROSS
batches the state store carries the fold forward.  Each batch runs
operators/ewma.py::ewma_oracle seeded with the carried averages, so
the rows equal the batch `meter_ewma` fold (pinned by
tests/test_streaming_ewma.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from logtrics_spark.operators.ewma import HORIZONS_MIN, ewma_oracle, ewma_schema
from logtrics_spark.operators.rollup import KEY, tier_seconds

_STATE_SCHEMA = T.StructType([T.StructField("emas", T.ArrayType(T.DoubleType()))])


def meter_ewma_stream(
    tier_rows: DataFrame, tier: str, horizons_min: list[int] | None = None
) -> DataFrame:
    """Streaming tier rows -> per-window EWMA rates with carried state.

    ``tier_rows`` is a STREAMING DataFrame of tier-table rows (at least
    KEY + window_start + cnt).  Returns an append-mode streaming
    DataFrame with the same columns as the batch ``meter_ewma``.
    """
    horizons = horizons_min or HORIZONS_MIN
    secs = tier_seconds(tier)

    def fold(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            return
        pdf = pdf.sort_values("window_start", kind="stable")
        emas: list[float | None]
        if state.exists:
            (stored,) = state.get
            emas = list(stored)
        else:
            emas = [None] * len(horizons)
        inst = pdf["cnt"].to_numpy(dtype="float64") / float(secs)
        out = pd.DataFrame(
            {
                "source": key[0],
                "metric": key[1],
                "kind": key[2],
                "window_start": pdf["window_start"].values,
                "cnt": pdf["cnt"].values,
                "rate": inst,
            }
        )
        for j, h in enumerate(horizons):
            rates = ewma_oracle(inst, secs, h, emas[j])
            out[f"rate_m{h}"] = rates
            emas[j] = rates[-1]
        state.update(([float(e) for e in emas],))
        yield out

    return (
        tier_rows.select(*KEY, "window_start", "cnt")
        .groupBy(*KEY)
        .applyInPandasWithState(
            fold, ewma_schema(horizons), _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )
    )
