from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_redshift_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = build_session("pandas_redshift_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def drop_memo(*families: str) -> None:
    """Drop the session-memo entries of the named families (e.g.
    ``"persist"``, ``"frame"``) so their next use rebuilds them cold.
    Every other family (tables, trained codebooks) stays warm."""
    from pandas_redshift_spark import session

    for key in [k for k in session._MEMO if k[0] in families]:
        del session._MEMO[key]


def on_memo_build(monkeypatch, inspect) -> None:
    """Call ``inspect(frame)`` on the frame of every memoized build
    before ``session.checkpoint_build`` runs it: consumers' plans only
    show the checkpoint, so this is where a test sees a build's plan."""
    from pandas_redshift_spark import session

    real = session.checkpoint_build

    def spy(frame):
        inspect(frame)
        return real(frame)

    monkeypatch.setattr(session, "checkpoint_build", spy)


def confs_while_draining(spark, sf_dir, monkeypatch, width: int) -> dict:
    """Every conf the query of a width-``width`` ``drain`` of the
    tumbling-window plan ran with, read from the session of its
    micro-batches: the drain confs, the state width and
    ``noDataMicroBatches``."""
    from pyspark.sql.streaming import DataStreamWriter

    from pandas_redshift_spark.streaming import windows

    keys = (
        *windows._DRAIN_CONFS,
        windows._NO_DATA_KEY,
        "spark.sql.shuffle.partitions",
    )
    seen: dict = {}
    real = DataStreamWriter.foreachBatch

    def spy(writer, fn):
        def sink(batch_df, batch_id):
            conf = batch_df.sparkSession.conf
            seen.update({k: conf.get(k, None) for k in keys})
            fn(batch_df, batch_id)

        return real(writer, sink)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", spy)
    plan = windows.tumbling_counts(windows.read_events_stream(spark, sf_dir))
    windows.drain(plan, "complete", state_partitions=width).collect()
    assert seen, "the drain ran no micro-batch"
    return seen
