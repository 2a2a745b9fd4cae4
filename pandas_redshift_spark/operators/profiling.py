"""Data-profiling / integrity operators (north-star extension,
SURVEY.md §2.C adjunct) — the audits run BEFORE a 100 TB pipeline
spends compute on a corpus: per-column profile, referential-integrity
sweep across every FK edge of the star schema, and rule-based quality
checks on the event stream.

Scale design: each op is one linear pass per table with mergeable
aggregates only (count / count-distinct / min / max — all partial-agg
friendly), or an anti-join keyed on the FK whose parent side
broadcasts when small.  Nothing collects; outputs are tiny
per-column / per-edge / per-rule report frames.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.operators.textstats import langid_pred_cte_sql
from pandas_redshift_spark.session import Tables

#: (column, is_numeric) profile targets over ``orders`` — min/max are
#: emitted as strings so one report frame covers heterogeneous types
_ORDERS_COLS = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderpriority", False),
)


def _profile_oracle() -> str:
    parts = []
    for col, _num in _ORDERS_COLS:
        parts.append(f"""
        SELECT '{col}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(min({col}) AS VARCHAR) AS min_str,
               CAST(max({col}) AS VARCHAR) AS max_str
        FROM orders""")
    return " UNION ALL ".join(parts)


@query("profile_table_summary", memo_plan=True, oracle=_profile_oracle())
def profile_table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (rows / nulls / distinct / min / max)
    — the first query any pipeline runs against an unfamiliar 100 TB
    table.  A union of two branches over disjoint column subsets:
    the numeric columns and the string columns each get their own
    scan (pruned to that subset), one ``inline`` Expand to (column,
    value) pairs, a hash aggregate that dedupes the values, and a
    per-column finishing aggregate that emits one report row per
    column.  min/max cast to string so both branches share one schema.

    Plan note (round-5 rewrite): the r4 shape — N ``countDistinct``
    columns plus ``min/max(string)`` in ONE agg — planned as an
    all-SortAggregate cascade: RewriteDistinctAggregates expands to
    (N+1)x rows grouped by a 6-column key, and the string min/max
    buffers disqualify HashAggregate, so 900k wide rows got sorted
    twice with 16 interpreted aggregate functions (~3.1 s at sf0.1).
    This version computes the same answer as a two-level value
    dedupe: one narrow ``inline`` Expand emits (column, typed value)
    pairs, a HashAggregate on (column, value) collapses duplicates
    map-side (partials are vocab-sized — the classic profile plan at
    100 TB), and the per-column finishing agg runs over the deduped
    ~|distinct values| rows only.  Typed slots keep min/max
    native-type-correct before the cast to string.

    Plan note (round-15, VERDICT r14 item 3): one combined finishing
    agg carried ``min/max(string)`` buffers, which disqualify
    HashAggregate for the WHOLE aggregate — every deduped row (1.6M
    at sf0.1, dominated by o_orderkey's distincts) was Sort-ed
    map-side under a 9-function interpreted SortAggregate.  The
    numeric and string columns now profile in two UNION branches over
    DISJOINT column subsets (combined bytes read == the single scan:
    each branch's parquet scan prunes to its own columns), so the
    numeric branch — which owns all the high-cardinality distincts —
    finishes in a fixed-width HashAggregate (no Sort anywhere), and
    the string branch's SortAggregate runs over the ~10 deduped enum
    values where the sort is noise.  Same 5 report rows bit-for-bit
    (union of per-column aggregates; row order is already
    arbitrary in an aggregate and the oracle hash is row-sorted).
    At warehouse scale the exact distincts flip to
    approx_count_distinct sketches and this hash-exact twin stays
    for oracle checking."""
    o = Tables(spark, sf_dir).orders
    dtypes = dict(o.dtypes)

    def slot_of(col: str) -> str:
        t = dtypes[col]
        if t in ("tinyint", "smallint", "int", "bigint"):
            return "long"
        if t in ("float", "double") or t.startswith("decimal"):
            return "dbl"
        return "str"

    num_cols = [c for c, _n in _ORDERS_COLS if slot_of(c) != "str"]
    str_cols = [c for c, _n in _ORDERS_COLS if slot_of(c) == "str"]
    branches = []
    if num_cols:
        structs = []
        for col in num_cols:
            lv = (
                f"CAST({col} AS BIGINT)"
                if slot_of(col) == "long"
                else "CAST(NULL AS BIGINT)"
            )
            dv = (
                f"CAST({col} AS DOUBLE)"
                if slot_of(col) == "dbl"
                else "CAST(NULL AS DOUBLE)"
            )
            structs.append(
                f"named_struct('column_name', '{col}', "
                f"'long_val', {lv}, 'dbl_val', {dv})"
            )
        pairs = o.selectExpr(f"inline(array({', '.join(structs)}))")
        per_value = pairs.groupBy("column_name", "long_val", "dbl_val").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        is_null = F.col("long_val").isNull() & F.col("dbl_val").isNull()
        branches.append(
            per_value.groupBy("column_name").agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(F.when(is_null, F.col("cnt")).otherwise(F.lit(0))).alias(
                    "n_nulls"
                ),
                F.count(F.when(~is_null, F.lit(1))).alias("n_distinct"),
                F.coalesce(
                    F.min("long_val").cast("string"),
                    F.min("dbl_val").cast("string"),
                ).alias("min_str"),
                F.coalesce(
                    F.max("long_val").cast("string"),
                    F.max("dbl_val").cast("string"),
                ).alias("max_str"),
            )
        )
    if str_cols:
        structs = [
            f"named_struct('column_name', '{col}', "
            f"'str_val', CAST({col} AS STRING))"
            for col in str_cols
        ]
        pairs = o.selectExpr(f"inline(array({', '.join(structs)}))")
        per_value = pairs.groupBy("column_name", "str_val").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        is_null = F.col("str_val").isNull()
        branches.append(
            per_value.groupBy("column_name").agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(F.when(is_null, F.col("cnt")).otherwise(F.lit(0))).alias(
                    "n_nulls"
                ),
                F.count(F.when(~is_null, F.lit(1))).alias("n_distinct"),
                F.min("str_val").alias("min_str"),
                F.max("str_val").alias("max_str"),
            )
        )
    return reduce(DataFrame.unionByName, branches)


#: every FK edge of the star schema: (edge label, child table, child
#: key, parent table, parent key)
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    parts = []
    for label, child, ck, parent, pk in _FK_EDGES:
        parts.append(f"""
        SELECT '{label}' AS edge,
               CAST(count(*) AS BIGINT) AS n_child,
               CAST(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_orphans
        FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}""")
    return " UNION ALL ".join(parts)


@query("profile_fk_integrity", oracle=_fk_oracle())
def profile_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over every FK edge of the schema:
    child-row count + orphan count (child keys with no parent).  Each
    edge is a LEFT join against the parent KEY SET (projected +
    distinct, broadcast — every parent here is dimension-sized; at
    100 TB a huge parent flips to a shuffled join and the orphan
    count stays one mergeable aggregate).  The fact table is scanned
    once per edge with only the FK column read (column pruning), never
    materialized wide."""
    t = Tables(spark, sf_dir)
    reports = []
    for label, child, ck, parent, pk in _FK_EDGES:
        c = t.load(child).select(ck)
        p = F.broadcast(t.load(parent).select(pk).distinct())
        joined = c.join(p, c[ck] == p[pk], "left")
        reports.append(
            joined.agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            ).select(F.lit(label).alias("edge"), "n_child", "n_orphans")
        )
    # genuinely distinct per-edge aggregates (one per join), so this
    # IS a union of frames — reduce instead of a rebinding loop
    return reduce(DataFrame.union, reports)


@query(
    "profile_events_quality",
    oracle="""
    SELECT 'null_user' AS rule,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    UNION ALL
    SELECT 'negative_value',
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'unknown_event_type',
           CAST(sum(CASE WHEN event_type NOT IN
                    ('click','view','purchase','signup','error')
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'error_events',
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'ts_out_of_range',
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
                         OR ts >= TIMESTAMP '2027-01-01 00:00:00'
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    """,
)
def profile_events_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based stream-quality report: one row per validation rule
    (null key, negative value, unknown enum, timestamp out of range)
    with violation and total counts.  All rules evaluate in ONE scan
    as conditional-sum aggregates (map-side partials), then the 1-row
    frame unpivots into the per-rule report — the shape that audits a
    100 TB day of events without re-reading it per rule."""
    e = Tables(spark, sf_dir).events
    known = ("click", "view", "purchase", "signup", "error")
    one = e.agg(
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_user"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("negative_value"),
        F.sum(F.when(~F.col("event_type").isin(*known), 1).otherwise(0))
        .cast("bigint")
        .alias("unknown_event_type"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("error_events"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
                | (F.col("ts") >= F.lit("2027-01-01 00:00:00").cast("timestamp_ntz")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ts_out_of_range"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    rules = (
        "null_user",
        "negative_value",
        "unknown_event_type",
        "error_events",
        "ts_out_of_range",
    )
    stacked = ",\n            ".join(f"'{r}', {r}, n_rows" for r in rules)
    return one.selectExpr(
        f"""stack({len(rules)},
            {stacked}
        ) AS (rule, n_violations, n_rows)"""
    )


@query(
    "profile_embedding_coverage",
    oracle="""
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(e.vec_id) AS BIGINT) AS n_with_vec,
           CAST(count(*) - count(e.vec_id) AS BIGINT) AS n_missing
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang
    """,
)
def profile_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal coverage report: per language, how many documents
    have an embedding row (doc_id = vec_id) and how many are missing —
    the join-completeness check run before any retrieval/dedup pass
    that assumes every document is vectorized.  LEFT join against the
    embedding KEY SET only (vec_id projected, broadcast at dimension
    scale; flips to a shuffled key-only join on a 100 TB store), then
    one mergeable aggregate per language."""
    t = Tables(spark, sf_dir)
    d = t.documents.select("doc_id", "lang")
    e = F.broadcast(t.embeddings.select("vec_id"))
    joined = d.join(e, d.doc_id == e.vec_id, "left")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("vec_id").alias("n_with_vec"),
        (F.count(F.lit(1)) - F.count("vec_id")).alias("n_missing"),
    )


@query(
    "profile_langid_confusion",
    oracle=f"""
    WITH {langid_pred_cte_sql()}
    SELECT actual_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY actual_lang, predicted_lang
    """,
)
def profile_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality confusion matrix: declared ``lang`` vs the
    marker-word language-ID heuristic, one row per (actual, predicted)
    cell — the audit that catches mislabeled or code-switched corpora
    before language-stratified sampling trusts the metadata column.
    Reuses text_langid_heuristic's scoring (single source for the
    marker sets and tie-break order), then ONE aggregate keyed on the
    tiny |langs|^2 space — map-side partials collapse the corpus."""
    from pandas_redshift_spark.operators.textstats import text_langid_heuristic

    pred = text_langid_heuristic(spark, sf_dir)
    return pred.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "profile_drift_psi",
    memo_plan=True,
    oracle="""
    WITH binned AS (
        SELECT event_type,
               CAST(least(floor(value / 25), 9) AS INT) AS bin,
               ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref
        FROM events
    ),
    counts AS (
        SELECT event_type, bin,
               sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
        FROM binned GROUP BY event_type, bin
    ),
    tot AS (
        SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
        FROM counts GROUP BY event_type
    ),
    props AS (
        SELECT c.event_type,
               (2 * c.n_ref + 1) / (2 * t.t_ref + 10) AS p,
               (2 * c.n_cur + 1) / (2 * t.t_cur + 10) AS q,
               t.t_ref, t.t_cur
        FROM counts c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           round(sum((p - q) * ln(p / q)), 6) AS psi,
           round(0.5 * sum(abs(p - q)), 6) AS tvd,
           CAST(max(t_ref) AS BIGINT) AS n_ref_total,
           CAST(max(t_cur) AS BIGINT) AS n_cur_total
    FROM props
    GROUP BY event_type
    """,
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability drift monitor: per event type, the PSI
    (population stability index) and total-variation distance between
    the value distribution of the first half of the month (reference)
    and the second half (current) — the train/serve drift check a
    pipeline runs before trusting a new data batch against the
    distribution its models were fit on (PSI > 0.2 is the classic
    retrain trigger).

    Semantics: fixed-width value bins (width 25, capped at bin 9 —
    pure arithmetic, so binning is bit-identical across engines, no
    quantile-cut boundary risk), Laplace-smoothed proportions
    p=(2n+1)/(2N+10) so empty-on-one-side bins contribute finite PSI,
    and only OBSERVED (type, bin) cells enter the sum — identically
    on both engines because the cell set is the group-by result.

    Scale design: one corpus scan -> (type, bin) counts (tiny key
    space, map-side partials collapse everything), then all remaining
    math runs on the |types| x |bins| report frame; the totals join
    broadcasts.  The bin histogram is mergeable, so the reference
    side's counts are computed once and reused across monitoring
    runs at a real deployment."""
    ev = Tables(spark, sf_dir).events
    binned = ev.select(
        "event_type",
        F.least(F.floor(F.col("value") / 25), F.lit(9)).cast("int").alias("bin"),
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")).alias(
            "is_ref"
        ),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
    )
    # per-type totals as a window over the tiny counts frame — NOT an
    # aggregate joined back to its own source, which would re-scan
    # events (ReuseExchange never dedups that shape, PLANS.md r4 rule)
    wt = Window.partitionBy("event_type")
    totaled = counts.withColumn("t_ref", F.sum("n_ref").over(wt)).withColumn(
        "t_cur", F.sum("n_cur").over(wt)
    )
    p = (2 * F.col("n_ref") + 1) / (2 * F.col("t_ref") + 10)
    q = (2 * F.col("n_cur") + 1) / (2 * F.col("t_cur") + 10)
    props = totaled.select(
        "event_type", p.alias("p"), q.alias("q"), "t_ref", "t_cur"
    )
    return props.groupBy("event_type").agg(
        F.round(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6).alias("psi"),
        F.round(0.5 * F.sum(F.abs(F.col("p") - F.col("q"))), 6).alias("tvd"),
        F.max("t_ref").cast("bigint").alias("n_ref_total"),
        F.max("t_cur").cast("bigint").alias("n_cur_total"),
    )
