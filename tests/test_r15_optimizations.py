"""Focused pins for the round-15 optimization rewrites.

Same contract as tests/test_r14_optimizations.py: each change altered
HOW an operator computes, never WHAT — these tests pin the
equivalence and the plan property the round verified by hand, so a
future refactor that silently restores the slow shape (or drifts the
arithmetic) fails in-repo instead of at a driver hash check.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pandas_redshift_spark.session import Tables


def _plan(df, mode: str = "simple") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_profile_summary_split_matches_single_agg(spark, sf_dir):
    """profile_table_summary's r15 two-branch union (numeric columns
    hash-finished / string columns sort-finished over deduped enums)
    must emit exactly the rows of the r5 single-pipeline shape."""
    from pandas_redshift_spark.operators.profiling import (
        _ORDERS_COLS,
        profile_table_summary,
    )

    o = Tables(spark, sf_dir).orders
    dtypes = dict(o.dtypes)
    structs = []
    for col, _num in _ORDERS_COLS:
        slots = {
            "long_val": "CAST(NULL AS BIGINT)",
            "dbl_val": "CAST(NULL AS DOUBLE)",
            "str_val": "CAST(NULL AS STRING)",
        }
        t = dtypes[col]
        if t in ("tinyint", "smallint", "int", "bigint"):
            slots["long_val"] = f"CAST({col} AS BIGINT)"
        elif t in ("float", "double") or t.startswith("decimal"):
            slots["dbl_val"] = f"CAST({col} AS DOUBLE)"
        else:
            slots["str_val"] = f"CAST({col} AS STRING)"
        structs.append(
            f"named_struct('column_name', '{col}', "
            f"'long_val', {slots['long_val']}, "
            f"'dbl_val', {slots['dbl_val']}, "
            f"'str_val', {slots['str_val']})"
        )
    pairs = o.selectExpr(f"inline(array({', '.join(structs)}))")
    per_value = pairs.groupBy(
        "column_name", "long_val", "dbl_val", "str_val"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    is_null = (
        F.col("long_val").isNull()
        & F.col("dbl_val").isNull()
        & F.col("str_val").isNull()
    )
    old = per_value.groupBy("column_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(is_null, F.col("cnt")).otherwise(F.lit(0))).alias(
            "n_nulls"
        ),
        F.count(F.when(~is_null, F.lit(1))).alias("n_distinct"),
        F.coalesce(
            F.min("long_val").cast("string"),
            F.min("dbl_val").cast("string"),
            F.min("str_val"),
        ).alias("min_str"),
        F.coalesce(
            F.max("long_val").cast("string"),
            F.max("dbl_val").cast("string"),
            F.max("str_val"),
        ).alias("max_str"),
    )
    new = profile_table_summary(spark, sf_dir)
    old_rows = sorted(tuple(r) for r in old.collect())
    new_rows = sorted(tuple(r) for r in new.collect())
    assert len(new_rows) == len(_ORDERS_COLS)
    assert new_rows == old_rows


def test_profile_summary_numeric_branch_finishes_in_hash_agg(spark, sf_dir):
    """The high-cardinality (numeric) branch must finish in a
    HashAggregate — no SortAggregate may touch long_val/dbl_val
    buffers (the r14-verdict item: one combined string min/max
    disqualified HashAggregate for the whole finishing agg, sorting
    every deduped value map-side).  String min/max stays on a
    SortAggregate by necessity, but only over its own branch's
    deduped enum values."""
    from pandas_redshift_spark.operators.profiling import (
        profile_table_summary,
    )

    plan = _plan(profile_table_summary(spark, sf_dir))
    assert "Union" in plan
    sort_agg_lines = [
        ln for ln in plan.splitlines() if "SortAggregate" in ln
    ]
    assert sort_agg_lines, "string branch should still sort-finish"
    for ln in sort_agg_lines:
        assert "long_val" not in ln and "dbl_val" not in ln, ln
    hash_finish = [
        ln
        for ln in plan.splitlines()
        if "HashAggregate" in ln and "min(long_val" in ln
    ]
    assert hash_finish, "numeric min/max must finish in HashAggregate"


def test_profile_summary_branch_scans_prune_disjoint_columns(spark, sf_dir):
    """The two union branches must scan DISJOINT column subsets (the
    split costs no extra bytes vs the old single scan): every profiled
    column appears in exactly one branch's ReadSchema."""
    from pandas_redshift_spark.operators.profiling import (
        _ORDERS_COLS,
        profile_table_summary,
    )

    plan = _plan(profile_table_summary(spark, sf_dir), "formatted")
    schemas = [
        ln.split("ReadSchema:", 1)[1]
        for ln in plan.splitlines()
        if "ReadSchema:" in ln
    ]
    assert len(schemas) == 2
    for col, _num in _ORDERS_COLS:
        hits = sum(1 for s in schemas if col in s)
        assert hits == 1, (col, schemas)


def test_scoped_state_confs_extra_knobs_set_and_restored(spark, sf_dir, monkeypatch):
    """The r15 drain knobs — stream-stream join state format v3 (one
    virtual-column-family store per partition instead of four) and
    RocksDB row-count tracking off — must be in force while a drain
    runs and restored on exit, like the r14 knobs."""
    from pandas_redshift_spark.streaming.windows import _DRAIN_CONFS
    from tests.conftest import confs_while_draining

    join_key = "spark.sql.streaming.join.stateFormatVersion"
    rows_key = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    assert _DRAIN_CONFS[join_key] == "3"
    assert _DRAIN_CONFS[rows_key] == "false"
    before = {k: spark.conf.get(k, None) for k in (join_key, rows_key)}
    inside = confs_while_draining(spark, sf_dir, monkeypatch, 4)
    assert inside[join_key] == "3"
    assert inside[rows_key] == "false"
    assert {k: spark.conf.get(k, None) for k in before} == before
