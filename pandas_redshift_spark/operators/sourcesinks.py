"""Source/sink operators surfaced through the correctness gate
(SURVEY.md §2.B "Scans / sources / sinks").

These are the Spark-native replacements for the reference's whole ETL
loop — CSV staging (reference pandas_redshift/core.py:120-144), COPY
load (core.py:220-266), drop/create-vs-append table sink
(core.py:215-216,297-300) and CTAS-with-UNION DDL passthrough
(reference README.md:102-109) — each exercised as a real write+read
roundtrip whose result is oracle-checked against the source tables.

Scale notes: every write here is a distributed multi-file write (one
file per task) — the exact fix for the reference's single
``put_object`` bottleneck (core.py:139-141).  Reads are schema-explicit
so CSV type inference can't drift.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from pandas_redshift_spark.operators.exactsum import (
    revenue_sum_exact,
    revenue_sum_exact_sql,
)
from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import Tables, scratch_root


def _stage_dir(spark: SparkSession, name: str) -> str:
    """Fresh staging directory per operator run under the
    application's :func:`scratch_root` (the reference used a
    uuid4-suffixed CSV name per load, core.py:291; a fixed name,
    emptied before use, keeps reruns deterministic)."""
    path = os.path.join(scratch_root(spark), name)
    shutil.rmtree(path, ignore_errors=True)
    return path


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS acctbal,
           c_mktsegment
    FROM customer
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + CSV source in one roundtrip (the reference's staging
    wire format, core.py:137-141 + COPY csv options core.py:241-243):
    write customer as headered pipe-delimited CSV, read it back with an
    explicit schema (no inference drift).  Distributed: one CSV file
    per task vs the reference's single in-memory StringIO object."""
    c = Tables(spark, sf_dir).customer
    path = _stage_dir(spark, "csv_roundtrip")
    (
        c.write.mode("overwrite")
        .option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .csv(path)
    )
    back = (
        spark.read.option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
        .csv(path)
    )
    return back.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        "c_mktsegment",
    )


@query(
    "sink_overwrite_append",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, CAST(copies AS BIGINT) AS copies
    FROM (
        SELECT n_nationkey, n_name, n_regionkey, count(*) AS copies
        FROM (
            SELECT * FROM nation
            UNION ALL
            SELECT * FROM nation
        )
        GROUP BY n_nationkey, n_name, n_regionkey
    )
    """,
)
def sink_overwrite_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table sink with overwrite-then-append semantics (the reference's
    drop/create vs ``append=True`` branch, core.py:297-300): write
    nation with mode=overwrite, append it again, read back and count
    copies per key.  The overwrite is not atomic: a path
    ``mode("overwrite")`` deletes the old files before its job runs, so
    a job that fails leaves an empty dir, like the reference's
    drop+commit-then-COPY (ROADMAP.md, "One save path that stages and
    then swaps")."""
    n = Tables(spark, sf_dir).nation
    path = _stage_dir(spark, "sink_overwrite_append")
    n.write.mode("overwrite").parquet(path)
    n.write.mode("append").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("n_nationkey", "n_name", "n_regionkey").agg(
        F.count(F.lit(1)).alias("copies")
    )


@query(
    "ctas_union_segments",
    oracle="""
    SELECT * FROM (
        SELECT o_orderkey, o_totalprice, 'high' AS bucket
        FROM orders WHERE o_totalprice >= 150000
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'low' AS bucket
        FROM orders WHERE o_totalprice < 1000
    )
    """,
)
def ctas_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS + UNION DDL passthrough — the reference README's flagship
    ``exec_commit`` example (reference README.md:102-109: CREATE TABLE
    AS SELECT ... UNION ...) executed by Catalyst against the session
    catalog instead of Redshift, materialized as parquet at an explicit
    location, then scanned back."""
    t = Tables(spark, sf_dir)
    t.register_views()
    path = _stage_dir(spark, "ctas_union_segments")
    spark.sql("DROP TABLE IF EXISTS prs_ctas_union_segments")
    spark.sql(
        f"""
        CREATE TABLE prs_ctas_union_segments
        USING PARQUET LOCATION '{path}'
        AS
        SELECT o_orderkey, o_totalprice, 'high' AS bucket
        FROM orders WHERE o_totalprice >= 150000
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'low' AS bucket
        FROM orders WHERE o_totalprice < 1000
        """
    )
    return spark.table("prs_ctas_union_segments")


@query(
    "ddl_create_insert_select",
    oracle="""
    SELECT r_name, CAST(n_nations AS BIGINT) AS n_nations
    FROM (
        SELECT r.r_name, count(*) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    )
    """,
)
def ddl_create_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL/DML passthrough (= exec_commit, core.py:307-309): CREATE
    TABLE with an explicit schema, INSERT INTO ... SELECT, then query
    it.  The catalog is Spark's session catalog — the rebuild has no
    remote engine to delegate DDL to (SURVEY.md §0)."""
    t = Tables(spark, sf_dir)
    t.register_views()
    path = _stage_dir(spark, "ddl_create_insert")
    # an existing LOCATION: a missing one makes Spark log a
    # FileNotFoundException stack trace on every call
    os.makedirs(path)
    spark.sql("DROP TABLE IF EXISTS prs_region_stats")
    spark.sql(
        f"CREATE TABLE prs_region_stats (r_name STRING, n_nations BIGINT) "
        f"USING PARQUET LOCATION '{path}'"
    )
    spark.sql(
        """
        INSERT INTO prs_region_stats
        SELECT r.r_name, count(*) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )
    return spark.table("prs_region_stats")


@query(
    "sink_partitioned_prune",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned scan: write
    events partitioned by event_type, then aggregate one partition.
    The read-back plan prunes to a single partition directory
    (PartitionFilters, asserted in tests/test_plans.py) — the lake
    analogue of the reference's sortkey zone maps (core.py:208-211),
    and the core trick that turns a 100 TB scan into a 100 GB one."""
    ev = Tables(spark, sf_dir).events
    path = _stage_dir(spark, "partitioned_events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # per-day groups grow with SF — exact cents (r10 sweep)
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double")
                / 100,
                2,
            ).alias("total_value"),
        )
    )


@query(
    "join_dynamic_partition_prune",
    oracle="""
    WITH hot AS (
        SELECT event_type, round(avg(value), 4) AS avg_value
        FROM events GROUP BY event_type HAVING avg(value) > 50
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(max(hot.avg_value), 4) AS avg_value
    FROM events e JOIN hot ON e.event_type = hot.event_type
    GROUP BY e.event_type
    """,
)
def join_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is partitioned on the
    join key; the dim side's filter is only known at runtime (HAVING
    over an aggregate), so Catalyst injects a dynamicpruning subquery
    that skips fact partitions for keys the dim filtered out — the
    join-time equivalent of static pruning, essential when the
    partition predicate can't be written literally."""
    ev = Tables(spark, sf_dir).events
    path = _stage_dir(spark, "dpp_events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    hot = (
        ev.groupBy("event_type")
        # filter on the RAW average (the oracle's HAVING is unrounded —
        # filtering the rounded value would flip groups whose true avg
        # sits in [50, 50.00005)); round only for output
        .agg(F.avg("value").alias("avg_raw"))
        .filter(F.col("avg_raw") > 50)
        .select(
            F.col("event_type").alias("h_event_type"),
            F.round("avg_raw", 4).alias("avg_value"),
        )
    )
    return (
        fact.join(broadcast(hot), fact.event_type == hot.h_event_type)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("avg_value"), 4).alias("avg_value"),
        )
    )


@query(
    "dml_update_delete_rewrite",
    oracle="""
    SELECT p_partkey, p_brand, p_size,
           round(CASE WHEN p_brand = 'Brand#1' THEN p_retailprice * 1.1
                      ELSE p_retailprice END, 4) AS p_retailprice
    FROM part
    WHERE p_size >= 5
    """,
)
def dml_update_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML on an immutable lake: DELETE (:38) and UPDATE (:143 in the
    reference's reserved list; both reach Redshift via exec_commit,
    core.py:307-309) expressed as partition rewrites — filter-out for
    DELETE, conditional recompute for UPDATE, one overwrite (not
    atomic: the old files are deleted first, ROADMAP.md, "One save
    path that stages and then swaps").
    This is the parquet-lake pattern under Delta/Iceberg's MERGE; at
    100 TB you'd partition first and rewrite only affected partitions
    (see sink_partitioned_prune)."""
    p = Tables(spark, sf_dir).part
    staged = _stage_dir(spark, "dml_rewrite")
    # DELETE FROM part WHERE p_size < 5
    after_delete = p.filter(~(F.col("p_size") < 5))
    # UPDATE part SET p_retailprice = p_retailprice * 1.1 WHERE p_brand = 'Brand#1'
    after_update = after_delete.withColumn(
        "p_retailprice",
        F.round(
            F.when(F.col("p_brand") == "Brand#1", F.col("p_retailprice") * 1.1).otherwise(
                F.col("p_retailprice")
            ),
            4,
        ),
    )
    after_update.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )


@query(
    "dml_merge_upsert",
    oracle="""
    WITH changes AS (
        SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey
        FROM nation WHERE n_nationkey % 2 = 0           -- updates
        UNION ALL
        SELECT n_nationkey + 100, 'NEW_' || n_name, n_regionkey
        FROM nation WHERE n_nationkey < 5               -- inserts
    )
    SELECT n_nationkey, n_name, n_regionkey FROM changes
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_nationkey NOT IN (SELECT n_nationkey FROM changes)
    """,
)
def dml_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert on an immutable lake (matched -> update, not
    matched -> insert): changes win over base via anti-join + union,
    one overwrite that deletes the old files first (not atomic,
    ROADMAP.md, "One save path that stages and then swaps") — the
    parquet equivalent of Delta/Iceberg MERGE INTO and of a Redshift
    staging-table merge (the reference's append-vs-overwrite flag,
    core.py:297-300, cannot express this).
    At 100 TB: partition both sides on the key and rewrite only
    partitions containing changed keys (see sink_partitioned_prune)."""
    n = Tables(spark, sf_dir).nation
    updates = n.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", F.upper("n_name").alias("n_name"), "n_regionkey"
    )
    inserts = n.filter(F.col("n_nationkey") < 5).select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.concat(F.lit("NEW_"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    changes = updates.unionByName(inserts)
    keep = n.join(
        broadcast(changes.select("n_nationkey")), "n_nationkey", "left_anti"
    ).select("n_nationkey", "n_name", "n_regionkey")
    merged = changes.unionByName(keep)
    staged = _stage_dir(spark, "merge_upsert")
    merged.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


@query(
    "dml_scd2_dimension",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_id, ts, event_type FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           event_type AS segment,
           CAST(row_number() OVER w AS BIGINT) AS version_no,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def dml_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a change log — the
    canonical warehouse DML pattern (Kimball SCD2) a Redshift user
    runs as a staging MERGE cascade; here it is one declarative pass:
    collapse consecutive duplicates per user (only real changes cut a
    version), then derive valid_from/valid_to/is_current with
    lead() over the change rows, and land the dimension with one
    overwrite like the other dml_ ops (it deletes the old files first,
    so it is not atomic, ROADMAP.md, "One save path that stages and
    then swaps").

    Scale design: both windows (the dedupe lag and the interval
    lead) share the user_id partitioning, so the whole build is ONE
    shuffle of the change log; version intervals are derived, never
    updated in place — the immutable-lake rewrite of Redshift's
    UPDATE ... SET valid_to.  At 100 TB the change log is
    incremental: only users present in the new batch rewrite their
    dimension partition."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_id", "ts", "event_type")
    )
    scd = changes.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.row_number().over(w).cast("bigint").alias("version_no"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )
    staged = _stage_dir(spark, "scd2_dimension")
    scd.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT event_id, event_type, round(value, 4) AS value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip (the lake's other text wire
    format; the reference only ever staged CSV, core.py:137-141):
    write events as JSONL, read back with an explicit schema, and
    extract a typed property — exercising both the format codec and
    the JSON path functions on the same bytes.  Distributed multi-file
    write, schema-explicit read (no sampling-inference pass, which at
    100 TB would cost a full extra scan)."""
    e = Tables(spark, sf_dir).events.select("event_id", "event_type", "value", "props")
    path = _stage_dir(spark, "json_roundtrip")
    e.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    ).json(path)
    return (
        back.withColumn("prop_k", F.get_json_object("props", "$.k").cast("bigint"))
        .filter(F.col("prop_k").isNotNull())
        .select("event_id", "event_type", F.round("value", 4).alias("value"), "prop_k")
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip: the second columnar format Spark
    ships natively (vectorized reader, predicate pushdown, zone-map
    stats like parquet).  A month of lineitem is written to ORC and
    read back with the ship-date filter applied on the ORC scan — at
    scale the same PushedFilters row-group skipping applies as with
    parquet, so format choice doesn't change the plan shape."""
    li = Tables(spark, sf_dir).lineitem
    path = _stage_dir(spark, "orc_roundtrip")
    li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp_ntz"))
    ).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round("l_extendedprice", 2).alias("price"),
    )


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source roundtrip via Spark 4's NATIVE xml data
    source (spark-xml was folded into Spark in 4.0) — the
    interchange format the reference's Redshift world meets in
    legacy feeds; the reference itself has no XML path at all
    (psycopg2/boto3 only, core.py:120-144), so this extends the
    source surface the same way ORC/JSON do.  supplier is written as
    one <row> element per record (entity escaping handled by the
    writer) and read back with an explicit schema — like the CSV
    twin, no inference drift.  Distributed: one XML part-file per
    task; the reader splits by rowTag, so a directory of parts scans
    in parallel exactly like the other text sources."""
    s = Tables(spark, sf_dir).supplier
    path = _stage_dir(spark, "xml_roundtrip")
    s.write.mode("overwrite").option("rowTag", "row").format("xml").save(path)
    back = (
        spark.read.option("rowTag", "row")
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .format("xml")
        .load(path)
    )
    return back.select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
    )


@query(
    "source_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        FROM orders WHERE o_orderkey < 1000
        UNION ALL
        SELECT o_orderkey, NULL AS o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    )
    SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
        CAST(count(o_orderstatus) AS BIGINT) AS n_with_status,
        round(sum(o_totalprice), 2) AS price_sum
    FROM unioned
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (lake reality: batches written months
    apart carry different column sets): two parquet batches with
    divergent schemas land in one dataset dir; ``mergeSchema`` read
    reconciles them to the union schema with NULLs for absent columns.
    The merge costs one footer pass over file METADATA, not data —
    at 100 TB you'd pin the merged schema in a metastore instead, but
    the read semantics are identical."""
    o = Tables(spark, sf_dir).orders
    path = _stage_dir(spark, "schema_evolution")
    o.filter(F.col("o_orderkey") < 1000).select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(f"{path}/batch=1")
    o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)).select(
        "o_orderkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(f"{path}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{path}/batch=1", f"{path}/batch=2")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
        F.count("o_orderstatus").alias("n_with_status"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


@query(
    "sink_zorder_layout",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           {revenue_sum_exact_sql()} AS revenue
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300
      AND l_suppkey BETWEEN 10 AND 40
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered (interleaved sortkey) write + read-back: lineitem is
    laid out on the Morton interleave of (l_partkey, l_suppkey) via
    ``apply_layout(sort_interleaved=True)`` — the Spark translation of
    the reference's ``interleaved sortkey`` clause (core.py:209-210) —
    then a TWO-dimensional predicate aggregates over the read-back.

    Why it matters at 100 TB: a lexicographic sortkey gives the
    leading column narrow parquet min/max stats and leaves every other
    column full-range per file; the Z-curve bounds EVERY sortkey
    column's span per file/row-group, so scans filtering on the
    second (or third) dimension still skip most of the table
    (measured in tests/test_plans.py: second-column span per file
    drops 4x while the leading column stays bounded)."""
    from pandas_redshift_spark.plans.layout import apply_layout
    from pandas_redshift_spark.stats import column_minmax

    t = Tables(spark, sf_dir)
    li = t.lineitem
    path = _stage_dir(spark, "zorder_lineitem")
    # sortkey bounds via the session-memoized catalog-stats lookup
    # (stats.column_minmax, same class as table_rows): the inline agg
    # re-ran a full min/max scan per invocation — ~0.33 s of the 1.5 s
    # bench time (r14); identical doubles, so the Morton normalization
    # and the written layout are unchanged.
    apply_layout(
        li,
        distkey="l_orderkey",
        sortkey="l_partkey,l_suppkey",
        sort_interleaved=True,
        sortkey_bounds=column_minmax(t, "lineitem", ("l_partkey", "l_suppkey")),
    ).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.filter(
        F.col("l_partkey").between(100, 300) & F.col("l_suppkey").between(10, 40)
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        # r13: the pruned range revenue crosses the double 4dp
        # boundary by ~sf100 -- exact DECIMAL(38,4) emission
        revenue_sum_exact().alias("revenue"),
    )


@query(
    "source_jdbc_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation WHERE n_regionkey >= 2
    """,
    single_jvm_only=(
        "embedded Derby admits ONE booting JVM per database directory; "
        "under local-cluster the executor-side JDBC write hits Derby's "
        "boot lock.  Boundary of the test STAND-IN, not the plan — a "
        "production warehouse is a network server every executor dials "
        "(reference core.py:51-60).  Multi-partition + pushdown "
        "evidence: tests/test_jdbc_integration.py (single-JVM)."
    ),
)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end JDBC warehouse roundtrip — the reference's actual
    data path (pandas_to_redshift -> COPY -> SELECT back, core.py:269
    + :82) exercised against Apache Derby, the embedded JDBC database
    Spark ships in its own classpath: ``bridge.write_table`` drives
    the distributed JDBC writer (createTableColumnTypes DDL), then the
    read pushes a filtered query DOWN to the database via the JDBC
    ``query`` option — the warehouse, not Spark, evaluates the
    predicate, exactly like a Redshift-side scan.  The oracle is the
    same projection/filter on the parquet source, proving the
    roundtrip is lossless.

    Identifiers in the pushdown SQL are double-quoted: Spark's JDBC
    writer quotes names on CREATE and unquoted identifiers fold in
    engine-specific directions (Derby upper, Redshift lower).  The
    Derby database is ``derby/`` under the application's
    :func:`scratch_root`, reused across calls: embedded Derby holds
    every database it has opened until JVM shutdown, so one database
    per application is the cap.  Repeat calls overwrite the same table
    (write_table's default overwrite drops the old table first, so it
    is not atomic, ROADMAP.md, "One save path that stages and then
    swaps").  ``derby.stream.error.file`` is pointed into the staging
    dir so ``derby.log`` never lands in whatever cwd the driver
    happens to run from (the property is read at Derby engine boot;
    setting it later in the same JVM is a harmless no-op).

    Single-JVM boundary of the STAND-IN (not the plan): Spark's JDBC
    writer/reader run as executor tasks, and embedded Derby admits
    exactly one booting JVM per database directory — so under
    ``local-cluster`` (separate executor JVMs; r10 sweep) the write
    task hits Derby's boot lock and this query cannot pass, while all
    243 other registered queries do.  A real warehouse endpoint is a
    network server every executor dials out to (the reference's
    Redshift, core.py:51-60), where the identical plan — distributed
    write, pushed-down filtered read — is exactly what runs; Spark's
    jars ship only Derby's embedded engine + ClientDriver, no network
    server (the DRDA server lives in derbynet.jar, a separate Apache
    Derby artifact Spark does not bundle — classpath-probed every run
    by tests/test_local_cluster.py::
    test_derby_network_server_absence_justifies_waiver, which FAILS
    with retire-the-waiver instructions the moment an environment
    ships one), so no in-sandbox server-mode stand-in exists.  The
    live multi-partition + pushdown evidence is test_jdbc_integration
    (single-JVM local mode, numPartitions=4, PushedFilters
    asserted)."""
    from pandas_redshift_spark.sources.bridge import SparkRedshiftBridge

    t = Tables(spark, sf_dir)
    stage = os.path.join(scratch_root(spark), "derby")
    os.makedirs(stage, exist_ok=True)
    dbdir = os.path.join(stage, "db")
    try:
        spark._jvm.java.lang.System.setProperty(
            "derby.stream.error.file", os.path.join(stage, "derby.log")
        )
    except Exception:
        pass  # non-JVM test doubles; Derby then uses its default
    jdbc_options = {
        "url": f"jdbc:derby:{dbdir};create=true",
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }
    bridge = SparkRedshiftBridge(spark=spark, jdbc_options=jdbc_options)
    bridge.write_table(
        t.nation.select("n_nationkey", "n_name", "n_regionkey"),
        "nation_jdbc",
        verbose=False,
    )
    out = bridge.sql(
        'SELECT "n_nationkey", "n_name", "n_regionkey" '
        'FROM nation_jdbc WHERE "n_regionkey" >= 2'
    )
    return out.select(
        F.col("n_nationkey").cast("bigint"),
        "n_name",
        F.col("n_regionkey").cast("bigint"),
    )
