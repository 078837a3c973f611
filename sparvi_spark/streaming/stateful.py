"""Custom stateful streaming operator: running per-key metric tracker.

``applyInPandasWithState`` (SURVEY §7 phase 6 / BASELINE.json extension
mandate): keeps (count, sum, min, max, nulls) per key across microbatches
and emits the updated running metrics once per key per batch — a continuous
version of the profiler's P1/P2/P4 scalars, so a monitoring sink sees
metrics converge to exactly what a batch profile of the same data computes
(asserted by the tests).

State is a single fixed-width row per key — O(keys), never O(rows).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_DDL = ("event_type string, row_count bigint, null_count bigint, "
              "sum_value double, min_value double, max_value double")
STATE_DDL = ("row_count bigint, null_count bigint, sum_value double, "
             "min_value double, max_value double")


def _track(key: tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
    if state.exists:
        cnt, nulls, s, mn, mx = state.get
    else:
        cnt, nulls, s, mn, mx = 0, 0, 0.0, None, None
    for pdf in batches:
        v = pdf["value"]
        cnt += len(pdf)
        nulls += int(v.isna().sum())
        vv = v.dropna()
        if len(vv):
            s += float(vv.sum())
            bmn, bmx = float(vv.min()), float(vv.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
    state.update((cnt, nulls, s, mn, mx))
    yield pd.DataFrame({
        "event_type": [key[0]], "row_count": [cnt], "null_count": [nulls],
        "sum_value": [s], "min_value": [mn], "max_value": [mx],
    })


def running_metrics(stream: DataFrame, key_col: str = "event_type",
                    value_col: str = "value") -> DataFrame:
    """Continuously-updated per-key scalar metrics (append mode: one row per
    key per microbatch; the latest row per key is the current state)."""
    cols = stream.select(
        stream[key_col].alias("event_type"), stream[value_col].alias("value"))
    return (cols.groupBy("event_type").applyInPandasWithState(
        _track, OUTPUT_DDL, STATE_DDL, "append",
        GroupStateTimeout.NoTimeout))
