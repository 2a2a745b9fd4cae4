"""Focused pins for the round-14 optimization rewrites.

Each optimization changed HOW an operator computes, never WHAT: these
tests pin the equivalences the round verified by hand (element-wise
``<=>`` comparisons, plan-shape counts), so a future refactor that
silently restores an O(d^2)/O(n^2) lambda-invariant re-evaluation —
or drifts the rewritten arithmetic — fails in-repo instead of at a
driver hash check.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pandas_redshift_spark.session import Tables, ensure_parallelism


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_emb_n_zipwith_matches_inline_transform(spark, sf_dir):
    """_emb_double's zip_with/array_repeat normalize must stay
    bit-identical to the r13 transform(emb, x -> x / nrm) form: same
    x / nrm divide per element, only the evaluation count of the norm
    fold differs."""
    from pandas_redshift_spark.operators.similarity import _emb_double, dot

    t = Tables(spark, sf_dir)
    new = _emb_double(t).select("vec_id", F.col("emb_n").alias("a"))

    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    old = (
        ensure_parallelism(e)
        .withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
        .filter(F.col("nrm") > 0)
        .withColumn("emb_n", F.transform(F.col("emb"), lambda x: x / F.col("nrm")))
        .select("vec_id", F.col("emb_n").alias("b"))
    )
    n = new.count()
    assert n == old.count() and n > 0
    diff = (
        new.join(old, "vec_id")
        .filter(F.expr("exists(zip_with(a, b, (x, y) -> x <=> y), p -> NOT p)"))
        .count()
    )
    assert diff == 0


def test_emb_n_norm_fold_not_inside_lambda(spark, sf_dir):
    """The physical plan must not re-acquire the norm fold inside the
    normalize lambda: SQRT(aggregate(...)) belongs to array_repeat's
    argument (evaluated once per row), never to a per-element lambda
    body.  The r13 form planned as
    ``transform(emb, lambda x / SQRT(aggregate(...)))`` — O(d^2)."""
    from pandas_redshift_spark.operators.similarity import _emb_double

    plan = _plan(_emb_double(Tables(spark, sf_dir)).select("vec_id", "emb_n"))
    # the O(d) shape is present and the O(d^2) signature — the norm
    # fold re-evaluated under a division inside the lambda — is not
    # (ADVICE r14: assert the signature directly)
    assert "array_repeat" in plan
    assert "/ SQRT(aggregate" not in plan


def test_shingled_matches_inline_shingles(spark, sf_dir):
    """dedup.shingled (tokens materialized before the n-gram lambda)
    must produce the identical shingle arrays — same strings, same
    order — as the inline-split form it replaced."""
    from pandas_redshift_spark.operators.dedup import shingled, shingles

    d = Tables(spark, sf_dir).documents
    new = shingled(d, alias="s").select("doc_id", F.col("s").alias("a"))
    old = d.select("doc_id", shingles().alias("b"))
    n = new.count()
    assert n == old.count() and n > 0
    diff = new.join(old, "doc_id").filter(~F.expr("a <=> b")).count()
    assert diff == 0


def test_shingled_splits_text_once_per_scan(spark, sf_dir):
    """The shingle projection must read a materialized token column:
    the n-gram lambda may not contain the split itself (the plan
    signature of the O(n^2) re-split is ``element_at(split(``)."""
    from pandas_redshift_spark.operators.dedup import shingled

    plan = _plan(shingled(Tables(spark, sf_dir).documents))
    assert "element_at(split(" not in plan


def test_pq_codes_read_presliced_subvectors(spark, sf_dir):
    """The PQ encode's argmax folds must read the pre-sliced __subs__
    array (reference reads), not re-slice emb_n per candidate."""
    from pandas_redshift_spark.operators import all_queries

    df = all_queries()["sim_pq_adc_topk"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "__subs__" in plan


def test_zorder_bounds_match_inline_agg(spark, sf_dir):
    """stats.column_minmax must hand zorder_key the identical doubles
    the inline min/max agg produced (same cast-then-aggregate), so
    the Morton normalization — and the written layout — is unchanged;
    and the memo must make the second call job-free (same dict
    object)."""
    from pandas_redshift_spark.stats import column_minmax

    t = Tables(spark, sf_dir)
    cols = ("l_partkey", "l_suppkey")
    got = column_minmax(t, "lineitem", cols)
    row = t.lineitem.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    for c in cols:
        assert got[c] == (row[f"mn_{c}"], row[f"mx_{c}"])
    assert column_minmax(t, "lineitem", cols) is got


def test_scoped_state_confs_set_and_restore_drain_knobs(spark, sf_dir, monkeypatch):
    """A drain must run its query with the two r14 drain-cost knobs
    (no-data micro-batches off, RocksDB changelog checkpointing on)
    and its state width, and restore the session's settings on
    exit."""
    from pandas_redshift_spark.streaming import windows
    from tests.conftest import confs_while_draining

    nodata = windows._NO_DATA_KEY
    changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    parts = "spark.sql.shuffle.partitions"
    assert windows._DRAIN_CONFS[changelog] == "true"
    before = {k: spark.conf.get(k, None) for k in (nodata, changelog, parts)}
    inside = confs_while_draining(spark, sf_dir, monkeypatch, 4)
    assert inside[nodata] == "false"
    assert inside[changelog] == "true"
    assert inside[parts] == "4"
    assert {k: spark.conf.get(k, None) for k in before} == before
