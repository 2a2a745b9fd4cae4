"""Structured Streaming variants of the event-window operators
(SURVEY.md §2.B "Streaming": the reference has *no* streaming — its
client is synchronous psycopg2, reference core.py:5,53 — so this is
north-star extension surface mirroring the batch semantics in
operators/events.py).

Design: the batch and streaming variants share window semantics —
``F.window`` / ``F.session_window`` produce identical buckets either
way — so the batch oracle (DuckDB) validates the logic, and these
wrappers add watermarks + incremental state on top.

At scale: watermark-bounded state means the engine keeps only open
windows in the state store; late events beyond the watermark are
dropped deterministically rather than growing state forever.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pandas_redshift_spark.session import configure_session, memo, scratch_root


def event_time_ltz(df: DataFrame) -> DataFrame:
    """Normalize the raw ``events.ts`` column to event-time TIMESTAMP
    (LTZ, UTC session) for watermarking, whichever way the installed
    Spark read the TIMESTAMP(NANOS) parquet: Spark 3.x + nanosAsLong
    delivers a nanos long (exact ``DIV 1000`` then timestamp_micros);
    Spark 4.x delivers TIMESTAMP_NTZ directly (cast is an identity
    re-tag under the UTC session timezone)."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one-file-at-a-time
    micro-batches; in production this would be Kafka/Kinesis with the
    same downstream plan).  ts arrives as TIMESTAMP(NANOS) parquet ->
    long (nanosAsLong, Spark 3.x) or TIMESTAMP_NTZ (Spark 4.x) ->
    event-time TIMESTAMP (LTZ, UTC session) because watermarks operate
    on TimestampType."""
    configure_session(spark)
    path = f"{sf_dir}/events.parquet"
    # the file-stream source needs an explicit schema, and the batch
    # probe that infers it re-reads the parquet footer on every
    # streaming invocation (~85 ms measured, r14).  A schema is
    # immutable metadata, so it is shared per session.
    schema = memo(
        spark, "stream_schema", (path,), lambda: spark.read.parquet(path).schema
    )
    # the file stream source requires a *directory*; stage a symlink
    # dir (the corpus ships single-file tables; a production lake
    # would already be a directory of parquet parts).  A repeat call in
    # the same application finds the link already made.
    stage = os.path.join(
        scratch_root(spark), f"stream_src_{hashlib.sha1(sf_dir.encode()).hexdigest()[:10]}"
    )
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    try:
        os.symlink(os.path.abspath(path), link)
    except FileExistsError:
        pass
    raw = spark.readStream.schema(schema).parquet(stage)
    return event_time_ltz(raw)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/events.events_tumbling_window:
    1-hour tumbling windows, per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100, 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/events.events_sliding_window:
    1-hour windows sliding every 30 minutes (each event in exactly 2
    windows).  State is bounded by watermark x slide count."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100, 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def _double_interval(horizon: str) -> str:
    """Double a calendar-interval string, component-wise: ``"1 hour"``
    -> ``"2 hour"``, ``"1 hour 30 minutes"`` -> ``"2 hour 60 minutes"``
    (2x each amount doubles the total, whatever the units).  The
    accepted grammar is Spark's multi-unit interval literal restricted
    to INTEGER amounts — ``"<int> <unit> [<int> <unit> ...]"`` — and
    anything else (fractional amounts like ``"1.5 hours"``, dangling
    units) raises ValueError naming the offending token, instead of
    silently mangling the watermark delay (ADVICE r6: the old
    leading-token string surgery only handled the single-unit form)."""
    toks = horizon.split()
    if not toks or len(toks) % 2:
        raise ValueError(
            f"horizon {horizon!r}: expected '<int> <unit>' pairs "
            "(e.g. '1 hour', '1 hour 30 minutes')"
        )
    parts = []
    for amt, unit in zip(toks[::2], toks[1::2]):
        try:
            n = int(amt)
        except ValueError:
            raise ValueError(
                f"horizon {horizon!r}: amount {amt!r} is not an integer "
                "— use integer multi-unit form ('1 hour 30 minutes', "
                "not '1.5 hours')"
            ) from None
        parts.append(f"{2 * n} {unit}")
    return " ".join(parts)


def attribution_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with event-time range condition: each
    click joins every purchase by the same user landing within
    ``horizon`` after it.  Both sides carry a watermark and the join
    condition bounds purchase time to [click_ts, click_ts + horizon],
    so Spark can size the state stores and evict matched state — the
    canonical bounded-state stream-stream join (attribution at a 100 TB
    event firehose runs exactly this plan against Kafka).  Self-joining
    one source stream is supported: the planner instantiates two
    scans."""
    # Watermark delay is STRICTLY GREATER than the join horizon
    # (ADVICE r5): with delay == horizon, a purchase arriving in a
    # later micro-batch exactly `horizon` after the newest click would
    # race state eviction — invisible under a single-batch AvailableNow
    # drain, silently lossy under maxFilesPerTrigger or a multi-file
    # source.  The slack buys boundary-late rows a full extra horizon;
    # state stays bounded at 2x horizon per key.
    delay = _double_interval(horizon)  # "1 hour 30 minutes" -> "2 hour 60 minutes"
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", delay)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via F.session_window (30-minute
    inactivity gap) — same session boundaries as the batch
    lag/flag/cumsum implementation in operators/events.py."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) within the
    watermark horizon — dropDuplicatesWithinWatermark keeps state only
    for the watermark window, the streaming analogue of exact dedup
    with bounded memory."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def adaptive_state_width(
    spark: SparkSession,
    sf_dir: str,
    bytes_per_partition: int,
    cap: int,
    floor: int = 2,
) -> int:
    """State-store parallelism derived from INPUT SIZE, capped by a
    ``defaultParallelism``-derived ceiling (guide §2: partitioning must
    be scale-adaptive — derived from data size — not a constant tuned
    for either local mode or the cluster).

    Every state partition is a live RocksDB instance with per-batch
    open+commit fixed cost, so the best width grows with state size:
    r15 measured (min of 3, local[32], trackTotalNumberOfRows=false)
    for the attribution join width 8/4/2 = 1.56/1.61/1.87 s at sf0.1
    but 3.44/4.55/7.90 s at sf1 (10x data), and for session windows
    16/8/4 = 1.11/1.00/1.10 s at sf0.1 but 1.83/1.98/2.70 s at sf1 —
    i.e. the dp-derived cap is right once state is real, and the
    narrower width only wins while state is tiny.  Sizing from source
    bytes picks the measured-best width at BOTH rungs and keeps
    growing to the cap at 100 TB; a real deployment sizes the same
    knob from key cardinality x throughput."""
    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(path):
            # a directory-shaped table: its own size is the ~4 KB
            # directory entry, so sum its part files
            nbytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return cap
    width = max(-(-int(nbytes) // int(bytes_per_partition)), floor)  # ceil
    return max(min(width, cap), 1)


def _append_needs_no_data_batches(stream_df: DataFrame) -> bool:
    """True when an APPEND-mode drain of ``stream_df`` carries
    watermark-gated state whose FINAL output only flushes on a
    trailing no-data micro-batch: a windowed/streaming aggregate, an
    outer stream-stream join, or a (flat)MapGroupsWithState operator.
    Immediate-emit append plans (inner stream-stream joins,
    dropDuplicates[WithinWatermark]) return False.  Detection walks
    the ANALYZED logical plan text — the r14 verdict flagged that the
    no-data-batch constraint was documented but not enforced
    (streaming/windows.py then relied on a docstring note)."""
    import re

    plan = stream_df._jdf.queryExecution().analyzed().toString()
    if "EventTimeWatermark" not in plan:
        return False
    if re.search(r"\bJoin (LeftOuter|RightOuter|FullOuter)\b", plan):
        return True
    if re.search(r"\bAggregate \[", plan):
        return True
    if "FlatMapGroupsWithState" in plan or "FlatMapGroupsInPandasWithState" in plan:
        return True
    return False


class _scoped_state_confs:
    """Context manager scoping the streaming-execution confs (state
    parallelism + RocksDB provider + drain-cost knobs) to one drain,
    restoring the session's batch settings on exit — shared by
    run_to_memory and run_to_files; rationale in run_to_memory's
    docstring.

    Drain-cost knobs (r14/r15 optimization rounds, measured at sf0.1
    AND 10x data, identical output row-for-row):

    - ``noDataMicroBatches.enabled=false``: a no-data micro-batch
      exists to advance the watermark so APPEND-mode windowed
      aggregates / outer stream-stream joins can flush their
      watermark-gated output after the last data batch.  Every
      registered drain is complete/update mode or an immediate-emit
      append (inner join, dropDuplicates), so the trailing no-data
      batch only buys one more full state-store commit cycle across
      every store — pure fixed cost, no rows.  Measured: attribution
      join 3.19 -> 2.07 s.  ENFORCED (r15, was a docstring note in
      r14): callers pass ``allow_no_data_batches=True`` when
      ``_append_needs_no_data_batches`` detects a watermark-gated
      append plan, so such a drain keeps its trailing batch and its
      final windows.
    - RocksDB ``changelogCheckpointing``: commit uploads the per-batch
      changelog instead of a full SST snapshot — the production-
      recommended commit mode at scale (commit cost tracks delta size,
      not total state size) and 16-22% faster even at bench shape
      (attribution 3.19 -> 2.69 s, session drain 1.61 -> 1.26 s solo;
      2.07 -> 1.94 s stacked on the no-data knob).
    - RocksDB ``trackTotalNumberOfRows=false`` (r15): row-count
      tracking does one extra ``get`` per put/delete purely to keep
      the ``numRowsTotal`` metric exact — the documented
      write-heavy-state tuning in the Spark structured-streaming
      guide.  Nothing in the package consumes the metric.  Measured
      min-of-3: attribution 1.83 -> 1.56 s / session drain
      1.22 -> 1.00 s at sf0.1, and the win GROWS with state size —
      4.48 -> 3.44 s / 2.71 -> 1.83 s at 10x data (sf1).
    - ``join.stateFormatVersion=3`` (r15): a stream-stream join keeps
      FOUR state stores per partition (keyToNumValues + keyWithIndex
      per side); format v3 (Spark 4, RocksDB-only) folds them into
      ONE store with virtual column families — 4x fewer store
      opens/commits/changelog uploads per batch, same join state
      machine.  Safe to set per drain even when a drain resumes an
      existing checkpoint (``run_to_files`` takes a caller's
      ``checkpoint_dir`` or reuses ``out_dir + "_ckpt"``): the join
      state format is one of the confs Spark records in the
      checkpoint's offset-log metadata (``OffsetSeqMetadata``) and
      restores from there on restart, so a checkpoint written with
      another version keeps it.
    (``sessionWindow.merge.sessions.in.local.partition`` was A/B'd
    for the session drain and NOT adopted: interleaved min-of-5 at
    10x data measured the map-side pre-merge pass costing slightly
    more than the ~3x shuffle-row reduction saves — session rows are
    narrow and RocksDB put cost dominates either way.)
    """

    _PROV_KEY = "spark.sql.streaming.stateStore.providerClass"
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    _NODATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    _CHANGELOG_KEY = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )
    _TRACKROWS_KEY = (
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    )
    #: plan-level drain confs applied/restored generically (A/B probes
    #: monkeypatch this map to isolate one knob)
    EXTRA_CONFS = {
        "spark.sql.streaming.join.stateFormatVersion": "3",
    }

    def __init__(
        self,
        spark: SparkSession,
        state_partitions: int | None,
        allow_no_data_batches: bool = False,
    ):
        self.spark = spark
        if state_partitions is None:
            state_partitions = min(spark.sparkContext.defaultParallelism, 64)
        self.state_partitions = state_partitions
        self.allow_no_data_batches = allow_no_data_batches

    def __enter__(self):
        self._before = self.spark.conf.get("spark.sql.shuffle.partitions")
        self._before_prov = self.spark.conf.get(self._PROV_KEY, None)
        self._before_nodata = self.spark.conf.get(self._NODATA_KEY, None)
        self._before_changelog = self.spark.conf.get(self._CHANGELOG_KEY, None)
        self._before_trackrows = self.spark.conf.get(self._TRACKROWS_KEY, None)
        self._before_extra = {
            key: self.spark.conf.get(key, None) for key in self.EXTRA_CONFS
        }
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self.state_partitions)
        )
        self.spark.conf.set(self._PROV_KEY, self._ROCKSDB)
        self.spark.conf.set(
            self._NODATA_KEY, "true" if self.allow_no_data_batches else "false"
        )
        self.spark.conf.set(self._CHANGELOG_KEY, "true")
        self.spark.conf.set(self._TRACKROWS_KEY, "false")
        for key, val in self.EXTRA_CONFS.items():
            self.spark.conf.set(key, val)
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._before)
        for key, before in (
            (self._PROV_KEY, self._before_prov),
            (self._NODATA_KEY, self._before_nodata),
            (self._CHANGELOG_KEY, self._before_changelog),
            (self._TRACKROWS_KEY, self._before_trackrows),
            *self._before_extra.items(),
        ):
            if before is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, before)
        return False


def run_to_files(
    stream_df: DataFrame,
    out_dir: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Execute a streaming plan against all currently-available input
    (Trigger.AvailableNow) into a PARQUET DIRECTORY and block until
    done.  Returns the terminated StreamingQuery; read the result with
    ``spark.read.schema(stream_df.schema).parquet(out_dir)`` (the
    explicit schema makes a zero-row drain readable).

    This is the scale-safe drain: the in-memory sink collects every
    emitted row onto the DRIVER heap per micro-batch — a ``collect()``
    in disguise that wedged the windowed/stateful executions outright
    at sf30 (30M events; 9.5M session rows had already squeezed
    through at sf10 — BENCH_scale_r12.md §3.5, VERDICT r12 item 2).
    Here every mode lands as a distributed executor-side parquet
    write, so result size never touches the driver:

    - ``append``: the NATIVE file sink (the only mode it supports) —
      exactly-once via the sink's ``_spark_metadata`` commit log,
      which ``spark.read`` consults on read-back so an uncommitted
      task's orphan files are invisible.
    - ``complete``: ``foreachBatch`` + ``mode("overwrite")`` — each
      micro-batch rewrites the full-result-so-far, so the directory
      ends as the final complete result.  Idempotent under batch
      replay (a re-run batch overwrites itself).
    - ``update``: ``foreachBatch`` + ``mode("append")`` — one row per
      updated key per micro-batch, the same multiset the memory sink
      exposed (callers reduce to the final row per key downstream).
      A batch replayed after a sink-side failure would append twice —
      the epoch-keyed variant (write_foreach_batch_idempotent) is the
      exactly-once recipe; for an AvailableNow drain into a fresh
      uuid directory the window for that is the drain itself.

    ``state_partitions`` / RocksDB scoping: same contract as
    run_to_memory (see its docstring for the measurements)."""
    spark = stream_df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    if checkpoint_dir is None:
        checkpoint_dir = out_dir.rstrip("/") + "_ckpt"
    allow_nodata = output_mode == "append" and _append_needs_no_data_batches(
        stream_df
    )
    with _scoped_state_confs(
        spark, state_partitions, allow_no_data_batches=allow_nodata
    ):
        if output_mode == "append":
            writer = (
                stream_df.writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
            )
        else:
            batch_mode = "overwrite" if output_mode == "complete" else "append"

            def _sink(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode(batch_mode).parquet(out_dir)

            writer = stream_df.writeStream.foreachBatch(_sink).outputMode(
                output_mode
            )
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
):
    """Execute a streaming plan against all currently-available input
    (Trigger.AvailableNow) into an in-memory sink and block until done.
    Returns the StreamingQuery (results via spark.sql(select * from
    query_name)).

    SCALE WARNING: the memory sink buffers every emitted row on the
    driver heap — use it only for bounded-cardinality aggregates and
    tests; run_to_files is the production drain (VERDICT r12 item 2).

    ``state_partitions`` sizes the stateful-operator parallelism: a
    streaming query bakes ``spark.sql.shuffle.partitions`` into its
    state layout at first batch, and EVERY state partition is a live
    state-store instance with per-batch commit I/O (a stream-stream
    join runs FOUR stores per partition).  On a vanilla 200-partition
    session the attribution join paid 800 store commits per batch for
    ~150 join keys — measured 31.6s -> ~7s at sf0.01 once sized to
    core count.  The default (None) resolves to the session's core
    count capped at 64: measured equal-or-better than a small fixed
    count at every SF tried (local[32]: 32 parts = 2.0s vs 8 parts =
    2.1s at sf0.1) while fixing the vanilla-200 pathology.  This is
    the streaming capacity knob a real deployment sizes to key
    cardinality x throughput (thousands at a 100 TB firehose); the
    conf is set only for the stream's planning window and restored
    before returning, so batch plans in the same session keep their
    AQE-sized width.

    State store provider: RocksDB (bundled since Spark 3.2, the
    recommended provider for production state).  The default
    HDFSBacked provider keeps the ENTIRE state map in driver/executor
    heap — a session-window drain over 10x data (950k sessions of
    state) OOMed a default-1g-heap session outright, while RocksDB
    (disk-backed, off-heap) completed it on the same 1g heap and
    measures equal-or-FASTER at bench shape (sf0.1 session drain
    2.0s vs 2.6s).  Scoped and restored like the partition conf."""
    spark = stream_df.sparkSession
    allow_nodata = output_mode == "append" and _append_needs_no_data_batches(
        stream_df
    )
    with _scoped_state_confs(
        spark, state_partitions, allow_no_data_batches=allow_nodata
    ):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def user_profile(events_batch: DataFrame) -> DataFrame:
    """Static per-user profile (all-time event count + avg value) —
    the batch-computed feature table a streaming job enriches against.
    In production this is a periodically refreshed lake table."""
    return events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("hist_events"),
        F.avg("value").alias("hist_avg_value"),
    )


def enrich_stream_with_profile(events: DataFrame, profile: DataFrame) -> DataFrame:
    """Stream-static broadcast join: every micro-batch of the event
    stream is enriched with the (small, slowly-changing) user profile.
    The static side broadcasts once per micro-batch — no stream-side
    shuffle and no state store involvement, which is why stream-static
    is the preferred enrichment shape before reaching for
    stream-stream joins.  Downstream aggregates by profile attributes
    then work normally (here: per-activity-band event counts)."""
    banded = events.join(F.broadcast(profile), "user_id").withColumn(
        "band",
        F.when(F.col("hist_events") >= 20, "heavy")
        .when(F.col("hist_events") >= 5, "mid")
        .otherwise("light"),
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def click_purchase_interval_join(events: DataFrame, horizon: str = "30 minutes") -> DataFrame:
    """STREAM-STREAM event-time interval join: purchases attributed to
    the same user's click within the preceding ``horizon``.  Both
    sides carry watermarks and the join condition bounds event time in
    ONE direction per side, so the state store can expire rows — the
    canonical attribution-join shape (Structured Streaming requires
    exactly these bounds to avoid unbounded state; an unbounded
    condition is rejected at analysis time).

    Emits one row per (click, purchase) pair inside the horizon; the
    batch twin is the identical expression over the static frame
    (batch-differential tested)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "purchase_value",
    )


def write_foreach_batch_idempotent(stream_df: DataFrame, out_dir: str):
    """writeStream.foreachBatch with EPOCH-KEYED idempotent output:
    each micro-batch lands in ``{out_dir}/epoch={batch_id}`` via
    mode("overwrite"), so a replayed batch (restart after a sink
    failure, before the commit log advanced) overwrites its own
    directory instead of appending duplicates — the standard
    exactly-once recipe for sinks without transactional commit.
    Blocks until all available input is consumed; read the result with
    spark.read.parquet(out_dir)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_foreachbatch_upsert(events: DataFrame) -> DataFrame:
    """foreachBatch UPSERT sink: reduce each micro-batch to its latest
    row per user, merge against the current snapshot (union +
    keep-latest — associative, so ANY micro-batch split of the input
    lands on the same final table), and swap the staging dir
    atomically (never overwrite the dir being read).  Returns the
    final merged snapshot read LAZILY from the sink directory — the
    directory IS the table, exactly like run_to_files (r14: the old
    eager ``localCheckpoint`` re-materialized the entire final
    dimension into the block manager just so the staging dir could be
    reclaimed immediately — wasted work at bench shape and a
    memory-pressure source at scale).  Each invocation gets a fresh
    uuid dir under ``fb_upsert/`` in the application's
    :func:`scratch_root`, so earlier invocations' returned frames
    stay readable.  The bare-parquet equivalent of a
    streaming MERGE INTO; at a real deployment the swap is a
    transactional-table commit and the trigger continuous — the
    per-batch plan is unchanged."""
    import shutil
    import uuid

    spark = events.sparkSession
    upsert_root = os.path.join(scratch_root(spark), "fb_upsert")
    os.makedirs(upsert_root, exist_ok=True)
    # bound the per-session accumulation (ADVICE r14): keep only the
    # most recent invocations' snapshots — a long session re-invoking
    # the upsert otherwise piles one dimension copy per call onto disk
    # until the application stops.  K=8 leaves plenty of slack for
    # callers that hold a returned (lazily-read) frame across a few
    # later invocations; holding one longer than that needs its own
    # copy.
    keep = 8
    old = sorted(
        (os.path.join(upsert_root, d) for d in os.listdir(upsert_root)),
        key=os.path.getmtime,
    )
    for stale in old[: max(0, len(old) - (keep - 1))]:
        shutil.rmtree(stale, ignore_errors=True)
    stage_root = os.path.join(upsert_root, uuid.uuid4().hex[:12])
    os.makedirs(stage_root, exist_ok=True)
    cur_dir = os.path.join(stage_root, "current")
    next_dir = os.path.join(stage_root, "next")

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "ts", "event_type", "value")
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merged = latest_per_user(batch_df)
        if os.path.isdir(cur_dir):
            prev = batch_df.sparkSession.read.parquet(cur_dir)
            merged = latest_per_user(prev.unionByName(merged))
        merged.write.mode("overwrite").parquet(next_dir)
        shutil.rmtree(cur_dir, ignore_errors=True)
        os.rename(next_dir, cur_dir)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(spark.sparkContext.defaultParallelism, 64)),
    )
    try:
        q = (
            events.writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(stage_root, "ckpt"))
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    # lazy read of the committed snapshot; checkpoint + next are gone,
    # only the final current/ parquet stays until the application stops
    shutil.rmtree(os.path.join(stage_root, "ckpt"), ignore_errors=True)
    return spark.read.parquet(cur_dir)
