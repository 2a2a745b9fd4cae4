"""End-to-end tests of the bridge API (the reference's user-facing
workflow re-expressed on Spark): write a pandas frame to a table, query
it back with SQL, CTAS-with-UNION passthrough (reference
README.md:99-110), CSV staging round-trip, close semantics."""

from __future__ import annotations

import threading
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameWriter

from pandas_redshift_spark.plans.layout import ZORDER_COL, zorder_codes
from pandas_redshift_spark.sources.bridge import SparkRedshiftBridge, connect, ingest
from pandas_redshift_spark.sources.schema import ReservedWordError, build_create_table_ddl


@pytest.fixture()
def bridge(spark):
    b = connect(spark)
    yield b
    for t in (
        "nba_shots", "t_ctas", "t_roundtrip", "t_layout", "t_zorder", "t_zorder_spark",
        "t_ingest_a", "t_ingest_b",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_write_then_read_back(bridge):
    pdf = pd.DataFrame(
        {"Player": ["a", "b", "c"], "Pts": [10, 20, 30], "Won": [True, False, True]}
    )
    bridge.write_table(pdf, "nba_shots")
    out = bridge.read_sql("SELECT player, pts FROM nba_shots WHERE pts > 15")
    assert sorted(out.columns) == ["player", "pts"]  # names lowercased
    assert len(out) == 2 and set(out["pts"]) == {20, 30}


def test_append_mode(bridge):
    pdf = pd.DataFrame({"x": [1, 2]})
    bridge.write_table(pdf, "t_roundtrip")
    bridge.write_table(pdf, "t_roundtrip", append=True)
    assert bridge.sql("SELECT count(*) AS n FROM t_roundtrip").first()["n"] == 4


def test_overwrite_mode(bridge):
    bridge.write_table(pd.DataFrame({"x": [1, 2, 3]}), "t_roundtrip")
    bridge.write_table(pd.DataFrame({"x": [9]}), "t_roundtrip")
    assert bridge.sql("SELECT count(*) AS n FROM t_roundtrip").first()["n"] == 1


def test_reserved_column_rejected(bridge):
    with pytest.raises(ReservedWordError):
        bridge.write_table(pd.DataFrame({"select": [1]}), "t_roundtrip")


def test_name_collision_keeps_the_old_table(bridge, spark):
    """Names equal after normalization are rejected before the
    overwrite drops the table: the old rows still read afterwards."""
    bridge.write_table(pd.DataFrame({"x": [1, 2]}), "t_roundtrip")
    for frame in (
        pd.DataFrame([[1, 2]], columns=["A", "a"]),
        spark.createDataFrame([(1, 2)], ["A", "a"]),
    ):
        with pytest.raises(ValueError, match=r"\['A', 'a'\] -> 'a'"):
            bridge.write_table(frame, "t_roundtrip")
    assert bridge.sql("SELECT count(*) AS n FROM t_roundtrip").first()["n"] == 2


@pytest.mark.parametrize("distkey", ["", "x"])
@pytest.mark.parametrize("diststyle", ["even", "all"])
@pytest.mark.parametrize("sortkey", ["", "x", "x, y"])
@pytest.mark.parametrize("sort_interleaved", [False, True])
def test_jdbc_layout_options_match_ddl_tail(
    spark, monkeypatch, distkey, diststyle, sortkey, sort_interleaved
):
    """A Redshift JDBC load's ``createTableOptions`` text is the tail
    of ``build_create_table_ddl`` for the same layout hints."""
    options = {}

    def option(writer, key, value):
        options[key] = value
        return writer

    monkeypatch.setattr(DataFrameWriter, "option", option)
    monkeypatch.setattr(DataFrameWriter, "save", lambda writer: None)
    layout = dict(
        diststyle=diststyle, distkey=distkey, sortkey=sortkey, sort_interleaved=sort_interleaved
    )
    url = "jdbc:redshift://warehouse:5439/db"
    b = SparkRedshiftBridge(spark=spark, jdbc_options={"url": url})
    b.write_table(pd.DataFrame({"x": [1], "y": [2]}), "t_layout", **layout)
    ddl = build_create_table_ddl("t_layout", ["x", "y"], ["BIGINT", "BIGINT"], **layout)
    assert ddl == "create table t_layout (x BIGINT, y BIGINT) " + options["createTableOptions"]


def test_exec_sql_ctas_union(bridge):
    """The reference's README example: CREATE TABLE AS ... UNION ...
    (README.md:102-109) executed natively by Spark."""
    bridge.write_table(pd.DataFrame({"a": [1, 2]}), "t_roundtrip")
    bridge.exec_sql(
        "CREATE TABLE t_ctas AS SELECT a FROM t_roundtrip UNION SELECT a + 10 FROM t_roundtrip"
    )
    assert bridge.sql("SELECT count(*) AS n FROM t_ctas").first()["n"] == 4


def test_query_params(bridge):
    bridge.write_table(pd.DataFrame({"a": [1, 2, 3]}), "t_roundtrip")
    out = bridge.read_sql("SELECT a FROM t_roundtrip WHERE a >= %s", [2])
    assert len(out) == 2


def test_query_params_adversarial_strings(bridge):
    """Server-side binding (spark.sql args), not interpolation: quotes,
    semicolons and %s inside a VALUE must stay data (the reference gets
    this via psycopg2 binding, core.py:84)."""
    pdf = pd.DataFrame({"name": ["O'Brien; DROP TABLE t_roundtrip", "plain", "%s"]})
    bridge.write_table(pdf, "t_roundtrip")
    out = bridge.read_sql(
        "SELECT name FROM t_roundtrip WHERE name = %s",
        ["O'Brien; DROP TABLE t_roundtrip"],
    )
    assert len(out) == 1
    # a param whose VALUE is literally %s must not be re-substituted
    out2 = bridge.read_sql("SELECT name FROM t_roundtrip WHERE name = %s", ["%s"])
    assert len(out2) == 1
    # table survived
    assert bridge.sql("SELECT count(*) AS n FROM t_roundtrip").first()["n"] == 3


def test_query_params_count_mismatch(bridge):
    with pytest.raises(ValueError):
        bridge.sql("SELECT %s, %s", [1])


def test_bind_literals_single_pass():
    """JDBC text-pushdown substitution: escaped literals, one pass."""
    from pandas_redshift_spark.sources.bridge import _bind_literals

    assert (
        _bind_literals("SELECT * FROM t WHERE a = %s AND b = %s", ["x'; --", 3])
        == "SELECT * FROM t WHERE a = 'x''; --' AND b = 3"
    )
    # value containing %s is not re-substituted
    assert _bind_literals("a=%s b=%s", ["%s", 1]) == "a='%s' b=1"
    assert _bind_literals("x=%s", [None]) == "x=NULL"
    assert _bind_literals("x=%s", [True]) == "x=TRUE"
    with pytest.raises(ValueError):
        _bind_literals("x=%s", [1, 2])


def test_bind_literals_pyformat_and_percent_escape():
    """psycopg2 parity (reference core.py:84): dict params bind
    %(name)s placeholders (repeats allowed), %% is a literal %."""
    from pandas_redshift_spark.sources.bridge import _bind_literals

    assert (
        _bind_literals(
            "SELECT * FROM t WHERE a = %(a)s AND b = %(b)s OR a = %(a)s",
            {"a": "O'Brien", "b": 3},
        )
        == "SELECT * FROM t WHERE a = 'O''Brien' AND b = 3 OR a = 'O''Brien'"
    )
    # %% escape collapses, in both paramstyles
    assert _bind_literals("x LIKE 'a%%b' AND y=%s", [1]) == "x LIKE 'a%b' AND y=1"
    assert (
        _bind_literals("x LIKE '100%%' AND y=%(y)s", {"y": 2})
        == "x LIKE '100%' AND y=2"
    )
    # a bound VALUE containing %(x)s or %% is never re-substituted
    assert _bind_literals("a=%(v)s", {"v": "%(v)s %%"}) == "a='%(v)s %%'"
    # style mixing and missing keys are errors, as in psycopg2
    with pytest.raises(ValueError):
        _bind_literals("a=%(a)s b=%s", {"a": 1})
    with pytest.raises(ValueError):
        _bind_literals("a=%(a)s", [1])
    with pytest.raises(ValueError):
        _bind_literals("a=%(a)s", {"b": 1})


def test_query_params_empty_sequence_still_processes_escapes(bridge):
    """psycopg2 parity: execute(sql, []) turns on placeholder
    processing — %% collapses to a literal % and a leftover %s is an
    error — while execute(sql) (params=None) leaves % untouched."""
    bridge.write_table(pd.DataFrame({"name": ["100%", "plain"]}), "t_roundtrip")
    # empty params: %% collapses, so the engine compares against '100%'
    out = bridge.read_sql("SELECT name FROM t_roundtrip WHERE name = '100%%'", [])
    assert list(out["name"]) == ["100%"]
    with pytest.raises(ValueError):
        bridge.sql("SELECT * FROM t_roundtrip WHERE name = %s", [])
    # params omitted: % stays raw — the engine compares against '100%%'
    out2 = bridge.read_sql("SELECT name FROM t_roundtrip WHERE name = '100%%'")
    assert len(out2) == 0


def test_query_params_pyformat_local(bridge):
    """Local mode: dict params bind server-side via spark.sql args."""
    bridge.write_table(pd.DataFrame({"a": [1, 2, 3]}), "t_roundtrip")
    out = bridge.read_sql(
        "SELECT a FROM t_roundtrip WHERE a >= %(lo)s AND a <= %(hi)s",
        {"lo": 2, "hi": 3},
    )
    assert len(out) == 2
    # %% escape: '100%%' reaches the engine as the pattern 100%
    bridge.write_table(pd.DataFrame({"name": ["100%", "plain"]}), "t_roundtrip")
    out2 = bridge.read_sql(
        "SELECT name FROM t_roundtrip WHERE name LIKE '100%%' AND name = %(n)s",
        {"n": "100%"},
    )
    assert len(out2) == 1


def test_stage_csv_kwarg_allowlist(bridge, tmp_path, caplog):
    """Reference core.py:129-130: only S3_ACCEPTED_KWARGS survive."""
    import logging

    pdf = pd.DataFrame({"k": [1]})
    with caplog.at_level(logging.WARNING, logger="pandas_redshift_spark"):
        bridge.stage_csv(
            pdf,
            "stage_kw",
            path_prefix=str(tmp_path),
            Metadata={"owner": "me"},
            NotARealKwarg=1,
        )
    assert any("NotARealKwarg" in r.message for r in caplog.records)
    assert not any("Metadata" in r.message for r in caplog.records if r.levelno >= 30)


def test_stage_csv_save_local(bridge, tmp_path, monkeypatch):
    """Reference core.py:132-135: save_local writes a local copy named
    csv_name before staging."""
    monkeypatch.chdir(tmp_path)
    pdf = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    bridge.stage_csv(
        pdf, "local_copy.csv", save_local=True, path_prefix=str(tmp_path / "staged")
    )
    back = pd.read_csv(tmp_path / "local_copy.csv")
    assert len(back) == 2 and set(back.columns) == {"k", "v"}


def test_stage_csv_roundtrip(bridge, tmp_path):
    pdf = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    path = bridge.stage_csv(pdf, "stage1", path_prefix=str(tmp_path))
    bridge.load_staged_csv("t_roundtrip", path)
    out = bridge.read_sql("SELECT * FROM t_roundtrip")
    assert len(out) == 2 and set(out.columns) == {"k", "v"}


def test_layout_hints_accepted(bridge):
    pdf = pd.DataFrame({"k": list(range(10)), "v": list("abcdefghij")})
    bridge.write_table(pdf, "t_layout", distkey="k", sortkey="k")
    assert bridge.sql("SELECT count(*) AS n FROM t_layout").first()["n"] == 10


def test_interleaved_sortkey_zorders(bridge):
    """interleaved sortkey maps to a Z-order (Morton) layout — the
    write succeeds and the data round-trips (layout quality itself is
    asserted in test_plans.py)."""
    pdf = pd.DataFrame({"a": list(range(20)), "b": list(range(19, -1, -1))})
    bridge.write_table(pdf, "t_zorder", sortkey="a,b", sort_interleaved=True)
    assert bridge.sql("SELECT count(*) AS n FROM t_zorder").first()["n"] == 20


def _jobs_before_save(spark, monkeypatch, load) -> tuple[int, int]:
    """Run ``load`` under a fresh job group; return the number of Spark
    jobs it had started when it called ``saveAsTable``, and in total."""
    sc = spark.sparkContext
    group = f"zorder-load-{uuid.uuid4().hex}"
    at_save = []
    save = DataFrameWriter.saveAsTable

    def spy(self, *args, **kwargs):
        at_save.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return save(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", spy)
    sc.setJobGroup(group, "interleaved load")
    try:
        load()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    (jobs,) = at_save
    return jobs, len(sc.statusTracker().getJobIdsForGroup(group))


def _zorder_frame(rows: int = 2000) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    clock = np.round(rng.uniform(0, 24, rows), 1)
    clock[::17] = np.nan
    return pd.DataFrame(
        {
            "Id": np.arange(rows, dtype=np.int64),
            "Qty": rng.integers(-500, 500, rows).astype(np.int32),
            "Shot Clock": clock,
            "city": rng.choice(["Austin", "Boston"], rows),
        }
    )


def test_interleaved_pandas_load_builds_key_on_driver(bridge, spark, monkeypatch):
    """A numeric interleaved sortkey on a pandas frame: mixed-case and
    whitespace names resolve against the validated names, no Spark job
    runs before the save (no min/max job), every written file is in
    Morton order of the frame's key, and the key column is not kept."""
    pdf = _zorder_frame()
    jobs, total = _jobs_before_save(
        spark,
        monkeypatch,
        lambda: bridge.write_table(
            pdf, "t_zorder", sortkey='Qty, "Shot Clock"', sort_interleaved=True
        ),
    )
    assert jobs == 0 and total > 0

    table = spark.table("t_zorder")
    assert ZORDER_COL not in table.columns
    assert sorted(table.columns) == ['"shot clock"', "city", "id", "qty"]
    key_of = dict(zip(pdf["Id"], zorder_codes(pdf, ["Qty", "Shot Clock"])))
    rows = 0
    for path in table.inputFiles():
        part = pq.read_table(path.removeprefix("file:"))
        assert ZORDER_COL not in part.column_names
        keys = [key_of[i] for i in part.column("id").to_pylist()]
        assert keys == sorted(keys), path
        rows += part.num_rows
    assert rows == len(pdf)
    back = bridge.read_sql('SELECT id, qty, `"shot clock"` AS clock FROM t_zorder').sort_values("id")
    assert back["qty"].tolist() == pdf["Qty"].tolist()
    assert back["clock"].isna().tolist() == pdf["Shot Clock"].isna().tolist()


@pytest.mark.parametrize("sortkey", ["ts,qty", "qty,code"])
def test_interleaved_non_numeric_key_takes_spark_path(bridge, spark, monkeypatch, sortkey):
    """A timestamp or string sortkey column keeps the zorder_key path
    (its eager min/max jobs run before the save) and round-trips."""
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "qty": rng.integers(0, 100, 300),
            "ts": np.datetime64("2024-01-01", "us")
            + rng.integers(0, 10**12, 300).astype("timedelta64[us]"),
            "code": rng.integers(0, 1000, 300).astype(str),
        }
    )
    jobs, _ = _jobs_before_save(
        spark,
        monkeypatch,
        lambda: bridge.write_table(pdf, "t_zorder_spark", sortkey=sortkey, sort_interleaved=True),
    )
    assert jobs > 0
    back = bridge.read_sql("SELECT * FROM t_zorder_spark").sort_values(["qty", "ts", "code"])
    want = pdf.sort_values(["qty", "ts", "code"])
    assert back["qty"].tolist() == want["qty"].tolist()
    assert back["ts"].tolist() == want["ts"].tolist()
    assert back["code"].tolist() == want["code"].tolist()


_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def _batch_rows(spark) -> int:
    return int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))


def _mixed_frame(rows: int) -> pd.DataFrame:
    """Every dtype family a load carries: ints, floats with NaN and
    None, tz-aware timestamps, bools, strings with None, and a column
    name with whitespace."""
    rng = np.random.default_rng(rows)
    price = rng.uniform(0, 100, rows)
    price[::7] = np.nan
    clock = [None if i % 5 == 0 else float(i % 24) for i in range(rows)]
    ts = pd.Timestamp("2024-03-10", tz="America/New_York") + pd.to_timedelta(
        rng.integers(0, 10**12, rows), unit="us"
    )
    return pd.DataFrame(
        {
            "id": np.arange(rows, dtype=np.int64),
            "qty": rng.integers(-1000, 1000, rows).astype(np.int32),
            "price": price,
            "Shot Clock": clock,
            "ts": ts,
            "won": rng.integers(0, 2, rows).astype(bool),
            "city": [None if i % 11 == 0 else f"c{i % 97}" for i in range(rows)],
        }
    )


def _assert_round_trip(bridge, pdf: pd.DataFrame, table: str) -> None:
    back = bridge.read_sql(f"SELECT * FROM {table}").sort_values("id").reset_index(drop=True)
    assert list(back.columns) == ["id", "qty", "price", '"shot clock"', "ts", "won", "city"]
    assert back["id"].tolist() == pdf["id"].tolist()
    assert back["qty"].tolist() == pdf["qty"].tolist()
    for got, want in (("price", "price"), ('"shot clock"', "Shot Clock")):
        assert np.array_equal(
            back[got].to_numpy(dtype=float), pdf[want].to_numpy(dtype=float), equal_nan=True
        )
    utc = pdf["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    assert back["ts"].tolist() == utc.tolist()
    assert back["won"].tolist() == pdf["won"].tolist()
    assert back["city"].tolist() == pdf["city"].tolist()


def test_one_batch_load_writes_one_file(bridge, spark, tmp_path):
    """A frame of one Arrow batch is one partition: one parquet file,
    and one staged CSV file."""
    pdf = _mixed_frame(_batch_rows(spark))
    bridge.write_table(pdf, "t_ingest_a")
    assert len(spark.table("t_ingest_a").inputFiles()) == 1
    _assert_round_trip(bridge, pdf, "t_ingest_a")
    staged = bridge.stage_csv(pdf, "one_batch", path_prefix=str(tmp_path))
    assert len(list(tmp_path.joinpath("one_batch").glob("part-*.csv"))) == 1
    assert staged.endswith("one_batch")


def test_many_batch_load_writes_at_most_parallelism_files(bridge, spark):
    """More Arrow batches than task slots are coalesced to
    ``defaultParallelism`` partitions, so at most that many files."""
    slots = spark.sparkContext.defaultParallelism
    pdf = _mixed_frame(_batch_rows(spark) * (slots + 1) + 1)
    bridge.write_table(pdf, "t_ingest_b")
    assert 1 <= len(spark.table("t_ingest_b").inputFiles()) <= slots
    _assert_round_trip(bridge, pdf, "t_ingest_b")


def test_ingest_plan_has_no_local_relation(spark):
    """The Arrow batches become an RDD that tasks decode, not a
    driver-built LocalRelation, at one batch and at many."""
    slots = spark.sparkContext.defaultParallelism
    for rows in (100, _batch_rows(spark) * (slots + 1) + 1):
        sdf = ingest(spark, _mixed_frame(rows))
        plan = sdf._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" not in plan, plan
        assert sdf.count() == rows


def test_ingest_restores_local_relation_threshold(bridge, spark, monkeypatch):
    """The session's threshold reads the same after a load, after a load
    whose createDataFrame raises, and after two concurrent loads."""
    before = spark.conf.get(_THRESHOLD)
    bridge.write_table(_mixed_frame(50), "t_ingest_a")
    assert spark.conf.get(_THRESHOLD) == before

    create = SparkSession.createDataFrame

    def fail(self, *args, **kwargs):
        raise RuntimeError("ingest failed")

    monkeypatch.setattr(SparkSession, "createDataFrame", fail)
    with pytest.raises(RuntimeError, match="ingest failed"):
        bridge.write_table(_mixed_frame(50), "t_ingest_a")
    assert spark.conf.get(_THRESHOLD) == before

    inside = threading.Event()

    def slow(self, *args, **kwargs):
        # hold the first load inside createDataFrame while the second
        # one starts
        inside.set()
        time.sleep(0.3)
        return create(self, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", slow)
    errors = []

    def load(table: str, after: threading.Event | None) -> None:
        try:
            if after is not None:
                after.wait(timeout=30)
            bridge.write_table(_mixed_frame(50), table)
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [
        threading.Thread(target=load, args=("t_ingest_a", None)),
        threading.Thread(target=load, args=("t_ingest_b", inside)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert errors == []
    assert spark.conf.get(_THRESHOLD) == before
    for t in ("t_ingest_a", "t_ingest_b"):
        assert bridge.sql(f"SELECT count(*) AS n FROM {t}").first()["n"] == 50


def _tasks_of(spark, action) -> int:
    """Run ``action`` under a fresh job group; return how many Spark
    tasks its jobs ran."""
    sc = spark.sparkContext
    group = f"task-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "task count")
    try:
        action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    )


def test_small_load_and_read_run_one_task_each(bridge, spark):
    """A 5k-row load is one write task and its read-back one scan task.
    Fails if a Spark upgrade changes how Arrow batches partition."""
    pdf = _mixed_frame(5000)
    assert _tasks_of(spark, lambda: bridge.write_table(pdf, "t_ingest_a")) == 1
    assert _tasks_of(spark, lambda: bridge.read_sql("SELECT * FROM t_ingest_a")) == 1


def test_interleaved_string_key_rejected_before_save(bridge):
    """A non-numeric string in an interleaved sortkey column raises a
    ValueError naming the column, before the overwrite drops the old
    table, which still reads."""
    bridge.write_table(_mixed_frame(40), "t_zorder_spark")
    bad = pd.DataFrame({"qty": [3, 1, 2], "city": ["12", "Austin", None]})
    with pytest.raises(ValueError, match=r"'city'.*not numbers.*'Austin'"):
        bridge.write_table(bad, "t_zorder_spark", sortkey="qty,city", sort_interleaved=True)
    assert bridge.sql("SELECT count(*) AS n FROM t_zorder_spark").first()["n"] == 40


def test_close_blocks_use(spark):
    b = connect(spark)
    b.close()
    with pytest.raises(RuntimeError):
        b.sql("SELECT 1")


def test_context_manager(spark):
    with connect(spark) as b:
        assert b.sql("SELECT 1 AS one").first()["one"] == 1
    assert b.closed
