"""Driver-verifiable Structured Streaming executions (SURVEY §2.C
streaming extension, promoted from pytest-only to oracle-checked in
round 4).

Each query here runs a REAL streaming job — ``readStream`` over the
events parquet, Trigger.AvailableNow, block until the stream drains —
through streaming/windows.drain, which keeps the micro-batches as
local checkpoints on the executors and returns them as a frame, so
the external driver hash-compares an actual Structured Streaming
execution against batch ANSI SQL in DuckDB.  AvailableNow processes
exactly the data present at start and then stops (the batch-parity
trigger); ``complete`` output mode emits every window at the final
micro-batch, so watermark eviction cannot drop rows from the
comparison (late-data semantics are covered separately by the
differential tests in tests/test_streaming.py, which drive multi-batch
timelines through the same plans).

Scale note: these plans are the production streaming shapes — the
checkpoint sink and AvailableNow trigger are the test harness, swapped
for Kafka + a real sink in production without touching the aggregation
plan.  Reference has no streaming surface at all (psycopg2 batch SQL
only, core.py:82-87).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.streaming.windows import (
    adaptive_state_width,
    attribution_join,
    drain,
    latest_per_user,
    read_events_stream,
    session_aggregate,
    sliding_counts,
    stream_dedup,
    tumbling_counts,
)


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts computed by an actual streaming
    job (streaming/windows.tumbling_counts plan: watermark + window
    aggregate), drained with AvailableNow into the checkpoint sink —
    the driver's hash check therefore certifies the STREAMING
    execution path, not a batch twin.  State width: 256 KB of source
    per store, as streaming_session_value, capped at drain's default."""
    ev = read_events_stream(spark, sf_dir)
    cap = min(spark.sparkContext.defaultParallelism, 64)
    parts = adaptive_state_width(spark, sf_dir, 256 << 10, cap)
    return drain(tumbling_counts(ev), "complete", state_partitions=parts)


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH shifted AS (
        SELECT ts, value, 0 AS shift FROM events
        UNION ALL
        SELECT ts, value, 1 FROM events
    )
    SELECT strftime(
               date_trunc('hour', ts - INTERVAL 30 MINUTE * shift)
                   + INTERVAL 30 MINUTE * shift,
               '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM shifted
    GROUP BY 1
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes, computed by the real
    streaming plan (each event lands in exactly 2 overlapping
    windows); the oracle replays the slide as a 2-way shift-union —
    window k for shift s starts at trunc(ts - 30m*s) + 30m*s."""
    ev = read_events_stream(spark, sf_dir)
    return drain(sliding_counts(ev), "complete")


@query(
    "streaming_dedup_user_counts",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique_users
    FROM events
    GROUP BY event_type
    """,
)
def streaming_dedup_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark on
    (user_id, event_type)) drained to the sink, then rolled up to
    per-type distinct-user counts — the count is survivor-independent,
    so the comparison is deterministic even though WHICH duplicate row
    survives depends on arrival order within the micro-batch."""
    ev = read_events_stream(spark, sf_dir)
    sunk = drain(stream_dedup(ev), "append")
    return sunk.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_unique_users")
    )


@query(
    "streaming_session_value",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(is_new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def streaming_session_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the native ``F.session_window``
    (30-minute inactivity gap) run as a REAL streaming job and drained
    complete into the sink — the driver hash-verifies Spark's merging
    session-window state store against a batch gaps-and-islands
    replay.  Boundary semantics: a session window spans
    ``[first_ts, last_ts + gap)`` (end-exclusive), so an event landing
    at exactly ``prev + gap`` starts a NEW session — the oracle's
    new-session flag is therefore ``diff >= gap``, one boundary tighter
    than the batch twin's lag formulation (``>``); with nanosecond
    event times the corpus never lands on the boundary, and the sim
    check at three SFs pins the agreement."""
    ev = read_events_stream(spark, sf_dir)
    # Session-window state grows with data (~1 store key per session),
    # but each RocksDB store instance pays a fixed per-batch
    # open+commit cost, so the best width grows with state size up to
    # a cores-derived ceiling.  r15 measured (trackTotalNumberOfRows
    # off, min of 3, local[32]): width 16/8/4 = 1.11/1.00/1.10 s at
    # sf0.1 but 1.83/1.98/2.70 s at sf1 — the INPUT-SIZE-derived width
    # (256 KB of source per state partition) picks the winner at both
    # rungs and keeps growing to the dp cap at a real firehose (see
    # adaptive_state_width's docstring).
    cap = min(max(spark.sparkContext.defaultParallelism // 2, 2), 32)
    parts = adaptive_state_width(spark, sf_dir, 256 << 10, cap)
    return drain(session_aggregate(ev), "complete", state_partitions=parts)


@query(
    "streaming_user_running_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def streaming_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM Python stateful streaming operator
    (applyInPandasWithState: per-user running totals in a GroupState,
    streaming/stateful.py) run for real and drained with AvailableNow
    — this is the one driver-verified query that exercises the
    Arrow-batched executor-side Python path end to end (function
    pickled by value to workers, update-mode state store, checkpoint
    sink).  The update-mode sink keeps one row per user per
    micro-batch, so the sink is reduced to the FINAL row per user —
    ``max_by(…, n_events)`` works because the running count is
    strictly monotone per key — making the comparison correct even if
    the source splits into multiple micro-batches (multi-file events
    dir, maxFilesPerTrigger); multi-batch incremental semantics stay
    covered by the differential test in tests/test_streaming.py."""
    from pandas_redshift_spark.streaming.stateful import user_running_totals

    ev = read_events_stream(spark, sf_dir)
    sunk = drain(user_running_totals(ev), "update")
    return sunk.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
        F.max_by("last_seen", "n_events").alias("last_seen"),
    )


@query(
    "streaming_attribution_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS purchase_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
           round(b.value, 2) AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join run for real: clicks and purchases
    (two filtered views of the event stream, each watermarked) join
    per user on an event-time range (purchase within 1 hour of the
    click), drained with AvailableNow into the sink — the driver
    hash-verifies Spark's symmetric-hash-join state machine against a
    plain batch time-range join.  The range condition plus the two
    watermarks is what makes the state BOUNDED (each side's rows are
    evicted one horizon after their event time) — without it a
    stream-stream join must keep both streams forever; with a single
    AvailableNow batch nothing is evicted mid-comparison, so the
    equivalence to the batch join is exact.  In production the same
    plan runs against Kafka with the drain sink swapped out;
    reference has no streaming surface at all (core.py:82-87)."""
    ev = read_events_stream(spark, sf_dir)
    # a stream-stream join runs FOUR state stores per partition (two
    # per side), so the per-partition store cost is 4x an aggregation's
    # — divide the cores-derived CEILING by the store multiplicity
    # (sf0.1/local[32]: 32 partitions = 128 stores 6.0s vs 8 = 32
    # stores 3.0s, identical output), then size the actual width from
    # INPUT BYTES up to that cap: r15 measured width 8/4/2 =
    # 1.56/1.61/1.87 s at sf0.1 but 3.44/4.55/7.90 s at sf1 — 512 KB
    # of source per state partition lands on the measured winner at
    # both rungs (adaptive_state_width's docstring has the table).
    cap = min(max(spark.sparkContext.defaultParallelism // 4, 1), 16)
    parts = adaptive_state_width(spark, sf_dir, 512 << 10, cap)
    pairs = attribution_join(ev).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        F.round("purchase_value", 2).alias("purchase_value"),
    )
    return drain(pairs, "append", state_partitions=parts)


@query(
    "streaming_enrich_static",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join run for real — the third canonical
    Structured Streaming join mode next to the windowed aggregates
    and the stream-stream join: the event stream enriches against
    the static customer dimension (broadcast, re-resolved per
    micro-batch, NO watermark required — static rows never expire),
    then rolls up per market segment in the same streaming query.
    The complete-mode sink emits the final totals, which the driver
    hash-compares against the batch join+aggregate.  This is the
    dimension-enrichment plan a 100 TB event pipeline runs
    continuously (Kafka in, slowly-refreshed dim snapshot broadcast
    to every executor); reference has no streaming surface
    (core.py:82-87)."""
    from pandas_redshift_spark.session import Tables

    ev = read_events_stream(spark, sf_dir)
    dim = F.broadcast(
        Tables(spark, sf_dir).customer.select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
        )
    )
    enriched = ev.join(dim, "user_id")
    # exact COUNT(DISTINCT) is not available inside a streaming agg
    # (unbounded per-group state) — Spark offers approx_count_distinct
    # there; distinct-user rollups belong after the sink (see
    # streaming_dedup_user_counts for that pattern)
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100, 2).alias("total_value"),
    )
    # The aggregate's state is bounded by SEGMENT CARDINALITY (5
    # mktsegments) at every SF — per-store fixed commit cost dominates
    # at any width above that.  Measured: width 32/16/8 =
    # 1.46/1.22/1.04 s at sf0.1 and 1.82/1.68/1.33 s at sf1; a small
    # fixed width is the right design for a bounded-key rollup (the
    # broadcast dim join itself has no state).
    return drain(agg, "complete", state_partitions=8)


@query(
    "streaming_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           event_type AS last_type,
           round(value, 2) AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT: one row per user with their latest event, the
    streaming counterpart of Delta/Iceberg ``MERGE INTO`` from a
    stream.  The plan is streaming/windows.latest_per_user, a
    keep-latest ``max(struct(ts, event_id, ...))`` per user: the state
    store holds the dimension and merges each micro-batch into it, and
    the final ``complete``-mode batch of :func:`drain` is the upserted
    table.  Because ``max`` merges associatively, the result is the
    same for ANY micro-batch split of the input (pinned by the
    batch-split test in tests/test_streaming.py), which is what makes
    an upsert multi-batch-safe where a blind append is not.  Reference
    can only drop+reload whole tables (core.py:215-216) and has no
    streaming surface at all."""
    final = drain(latest_per_user(read_events_stream(spark, sf_dir)), "complete")
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
    )
