"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.B "UDF/UDAF": the reference has no UDF surface at all —
this is north-star extension surface for arbitrary per-key streaming
state the built-in window aggregates can't express).

The operator keeps per-user running totals (event count, value sum,
last-seen timestamp) in the state store and emits the updated totals
every micro-batch.  At scale the state is partitioned by the group key
across executors and checkpointed incrementally; memory is O(active
users), not O(events).

Executor-side note: the state function is created by a factory and
pickled *by value* (workers don't import this repo — same pattern as
operators/multimodal.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: emitted row schema
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen", StringType()),
    ]
)

#: persisted per-key state schema
STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen_iso", StringType()),
    ]
)


def make_running_totals_fn():
    """Factory returning the (key, batches, state) -> iterator function
    for applyInPandasWithState.  Closure-only imports so the pickled
    function is self-contained on executors."""

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd  # executor-side import

        (user_id,) = key
        n, total, last = 0, 0.0, ""
        if state.exists:
            n, total, last = state.get
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_last = pdf["ts"].max()
            iso = batch_last.strftime("%Y-%m-%d %H:%M:%S")
            last = max(last, iso) if last else iso
        # keep the RAW running total in state — re-rounding every
        # micro-batch would accumulate drift vs the batch twin
        state.update((n, total, last))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_seen": [last],
            }
        )

    return fn


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals as a custom stateful operator.  Emits
    one updated row per user per micro-batch (output mode: update)."""
    return (
        events.select("user_id", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_running_totals_fn(),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_totals(events: DataFrame) -> DataFrame:
    """Batch twin used by the differential test: the stateful stream,
    fully consumed, must agree with this plain aggregate."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
    )

