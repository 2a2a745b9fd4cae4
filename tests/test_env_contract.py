"""Environment contract: pin what the engine assumes about the
*installed* Spark + the driver corpus, so an environment drift (a new
Spark minor, a regenerated corpus) surfaces as one named test failure
instead of dozens of opaque downstream errors.

Round-2 postmortem: the driver moved from Spark 3.x to 4.1.2, where
``spark.sql.legacy.parquet.nanosAsLong`` is gone and TIMESTAMP(NANOS)
parquet loads natively as TIMESTAMP_NTZ — the old unconditional
``ts DIV 1000`` rewrite then crashed ~33 queries, the bench, and the
suite.  These tests would have caught that as a single failure here.
"""

from __future__ import annotations

import datetime
from types import SimpleNamespace

import pytest
from pyspark.sql.types import LongType, TimestampNTZType

from pandas_redshift_spark.session import TABLE_NAMES, Tables, configure_session


def test_all_corpus_tables_load(spark, sf_dir):
    """Every driver corpus table must load and yield rows under the
    installed Spark — the first thing a user (and the driver) does."""
    t = Tables(spark, sf_dir)
    for name in TABLE_NAMES:
        df = t.load(name)
        assert df.limit(1).count() == 1, f"{name} is empty or unreadable"


def test_events_ts_is_ntz_micros(spark, sf_dir):
    """``events.ts`` must come out as TIMESTAMP_NTZ regardless of how
    the installed Spark reads TIMESTAMP(NANOS) parquet (3.x needs the
    nanosAsLong conf + explicit DIV-1000 rewrite; 4.x reads it natively
    as NTZ), and values must be microsecond-truncated wall-clock
    datetimes matching DuckDB's naive reading."""
    t = Tables(spark, sf_dir)
    e = t.events
    assert isinstance(e.schema["ts"].dataType, TimestampNTZType), e.schema["ts"]
    first = e.orderBy("event_id").limit(1).collect()[0].ts
    assert isinstance(first, datetime.datetime)
    assert first.tzinfo is None  # NTZ => naive
    # corpus generator writes 2024+ wall-clock timestamps
    assert first.year >= 2024, first


def test_events_ts_matches_duckdb_naive_read(spark, sf_dir):
    """Cross-check the loaded ts values against DuckDB reading the same
    parquet — the driver's oracle does exactly this comparison."""
    duckdb = pytest.importorskip("duckdb")
    t = Tables(spark, sf_dir)
    got = [
        (r.event_id, r.ts)
        for r in t.events.orderBy("event_id").limit(20).collect()
    ]
    want = duckdb.sql(
        f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts "
        f"FROM read_parquet('{sf_dir}/events.parquet') "
        f"ORDER BY event_id LIMIT 20"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_nanos_conf_is_conditional(spark):
    """configure_session must not raise when the legacy nanos conf is
    absent (Spark 4.x) and must leave the session usable either way."""
    configure_session(spark)  # idempotent; raises = contract broken
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_register_views_is_fault_isolated(spark, sf_dir, tmp_path):
    """One unreadable table must not take down registration of the
    others (round-2 failure mode: events crashed -> all spark.sql
    queries, incl. pure-TPC-H ones, errored)."""
    t = Tables(spark, str(tmp_path))  # empty dir: every load fails
    with pytest.warns(RuntimeWarning):
        t.register_views(names=("region",))
    ok = Tables(spark, sf_dir)
    ok.register_views()
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0].n > 0


def test_core_ops_survive_both_ansi_modes(spark, sf_dir):
    """The driver's Spark may default ANSI on (4.x) or off (3.x).  The
    engine's arithmetic is written to be mode-independent (every mod /
    multiply stays inside long range; no lossy casts in hot paths) —
    prove it by running the hash-family ops under the flipped mode."""
    from pandas_redshift_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash,
    )

    orig = spark.conf.get("spark.sql.ansi.enabled")
    flipped = "false" if orig == "true" else "true"
    baseline_sim = sorted(map(tuple, dedup_simhash(spark, sf_dir).collect()))
    baseline_lsh = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    spark.conf.set("spark.sql.ansi.enabled", flipped)
    try:
        assert sorted(map(tuple, dedup_simhash(spark, sf_dir).collect())) == baseline_sim
        assert sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect())) == baseline_lsh
    finally:
        spark.conf.set("spark.sql.ansi.enabled", orig)


def _stub_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def empty_memo(monkeypatch):
    """A private, empty session memo for the test, so stub
    applicationIds cannot evict the live session's entries."""
    from pandas_redshift_spark import session

    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_memo_app", None)


def test_memo_shares_and_evicts(empty_memo):
    """One value per (session, family, key): the same key returns the
    SAME object (plan-stable repeat calls), the build runs once, and
    another application never receives this one's entries."""
    from pandas_redshift_spark.session import memo

    calls = []

    def build():
        calls.append(1)
        return object()

    app_a, app_b = _stub_spark("app-a"), _stub_spark("app-b")
    a = memo(app_a, "t_family", ("k",), build)
    assert memo(app_a, "t_family", ("k",), build) is a and len(calls) == 1
    b = memo(app_b, "t_family", ("k",), build)
    assert b is not a and len(calls) == 2
    # back on app-a: its entry went with the application change
    assert memo(app_a, "t_family", ("k",), build) not in (a, b)


def test_memo_failed_build_stores_nothing(empty_memo):
    from pandas_redshift_spark.session import memo

    spark = _stub_spark("app-a")

    def fail():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo(spark, "t_family", ("k",), fail)
    value = object()
    assert memo(spark, "t_family", ("k",), lambda: value) is value


def test_memo_hits_counted_per_family(spark, sf_dir):
    """A repeat call counts one hit in MEMO_HITS under its family, for
    every memo site perfbench reports plus the statistics and k-means
    families; MEMO_HITS itself is read-only."""
    from pandas_redshift_spark import session, stats
    from pandas_redshift_spark.operators import all_queries
    from pandas_redshift_spark.operators.similarity import (
        train_kmeans_centroid_values,
    )
    from pandas_redshift_spark.streaming.windows import read_events_stream

    t = Tables(spark, sf_dir)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, emb_n array<double>"
    )
    calls = {
        "table": lambda: t.load("region"),
        "frame": lambda: all_queries()["profile_table_summary"].fn(spark, sf_dir),
        "persist": lambda: session.memoized_persist(
            spark, ("t_memo_hits",), lambda: spark.range(2)
        ),
        "stream_schema": lambda: read_events_stream(spark, sf_dir),
        "table_rows": lambda: stats.table_rows(t, "region"),
        "column_minmax": lambda: stats.column_minmax(t, "region", ("r_regionkey",)),
        "kmeans": lambda: train_kmeans_centroid_values(
            spark, emb, 2, ("t_memo_hits",), iters=1, sample_mod=1
        ),
    }
    for family, call in calls.items():
        call()
        before = session.MEMO_HITS.get(family, 0)
        call()
        assert session.MEMO_HITS[family] == before + 1, family
    with pytest.raises(TypeError):
        session.MEMO_HITS["table"] = 0
