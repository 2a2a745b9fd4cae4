"""``session.scoped_confs`` is the package's one way to set session confs
for a while.  These tests pin its restore rules, and check that a
streaming drain and a pandas load leave every conf they touch as they
found it."""

from __future__ import annotations

import pandas as pd
import pytest

from pandas_redshift_spark.session import scoped_confs


def test_scoped_confs_restores_set_unsets_unset_also_on_raise(spark):
    was_set = "spark.sql.shuffle.partitions"
    was_unset = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None
    confs = {was_set: "3", was_unset: "false"}

    with scoped_confs(spark, confs):
        assert spark.conf.get(was_set) == "3"
        assert spark.conf.get(was_unset) == "false"
    assert spark.conf.get(was_set) == before
    assert spark.conf.get(was_unset, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_confs(spark, confs):
            raise RuntimeError("body failed")
    assert spark.conf.get(was_set) == before
    assert spark.conf.get(was_unset, None) is None


def test_drain_and_ingest_leave_confs_as_they_were(spark, sf_dir):
    from pandas_redshift_spark.operators import all_queries
    from pandas_redshift_spark.sources.bridge import _LOCAL_RELATION_THRESHOLD, connect
    from pandas_redshift_spark.streaming.windows import _DRAIN_CONFS, _NO_DATA_KEY

    keys = (
        *_DRAIN_CONFS,
        _NO_DATA_KEY,
        "spark.sql.shuffle.partitions",
        _LOCAL_RELATION_THRESHOLD,
    )

    def confs() -> dict:
        return {k: spark.conf.get(k, None) for k in keys}

    before = confs()
    assert all_queries()["streaming_tumbling_counts"].fn(spark, sf_dir).count() > 0
    assert confs() == before

    bridge = connect(spark)
    try:
        bridge.write_table(pd.DataFrame({"a": [1, 2, 3]}), "t_scoped_confs")
        assert confs() == before
    finally:
        spark.sql("DROP TABLE IF EXISTS t_scoped_confs")
