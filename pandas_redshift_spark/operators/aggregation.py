"""Aggregation operators (SURVEY.md §2.B "Aggregation" table).

Every aggregate here compiles to Spark's two-phase hash aggregate
(partial map-side combine, then final after a shuffle on the group
keys) — the property that makes group-by linear-ish at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from pandas_redshift_spark.operators.exactsum import (
    money_sum,
    money_sum_if,
    money_sum_if_sql,
)
from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import Tables, memoized_persist


@query(
    "agg_groupby_having",
    oracle="""
    SELECT o_custkey,
           round(sum(o_totalprice), 2) AS total_spent,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 5 AND sum(o_totalprice) > 10000
    """,
)
def agg_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY (:62) + HAVING (:64) — HAVING is a filter over the
    aggregated relation."""
    o = Tables(spark, sf_dir).orders
    return (
        o.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_raw_total"),
        )
        .filter((F.col("n_orders") >= 5) & (F.col("_raw_total") > 10000))
        .drop("_raw_total")
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_distinct_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) (:42): Spark expands this to a two-round
    aggregation (distinct on (status, custkey) then count) — no
    single-node distinct set is ever built."""
    o = Tables(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_distinct_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query("agg_approx_count_distinct")
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB-scale variant of
    COUNT(DISTINCT): constant memory per group, one shuffle, mergeable
    sketches.  No SQL oracle (estimates are engine-specific); the
    driver rows-only check applies and the unit test asserts the
    estimate is within rsd of the exact count."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


@query(
    "agg_filtered_case",
    oracle=f"""
    SELECT
        l_linestatus,
        CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
        {money_sum_if_sql("l_returnflag = 'R'", 'l_extendedprice')} AS returned_value,
        round(avg(CASE WHEN l_quantity >= 25 THEN l_extendedprice END), 4) AS avg_bulk_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_filtered_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation via CASE inside SUM/AVG (CASE :20) — the
    classic pivot-ish conditional aggregate.  The conditional money
    sum is exact LONG cents (fifth exactsum wave, r11): the sf10
    full-registry sweep caught the float form mismatching — 3
    whole-table groups at 60M rows sit far past the margin floor.
    The 4dp bulk-price AVG stays float (probe-measured safe family:
    the divide normalizes the delta)."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("bigint")
        .alias("n_discounted"),
        money_sum_if(F.col("l_returnflag") == "R", "l_extendedprice").alias(
            "returned_value"
        ),
        F.round(
            F.avg(F.when(F.col("l_quantity") >= 25, F.col("l_extendedprice"))), 4
        ).alias("avg_bulk_price"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total).
    Spark expands grouping sets map-side; still one shuffle."""
    t = Tables(spark, sf_dir)
    joined = (
        t.customer.join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
    )
    return joined.rollup("region_name", "nation_name").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping-set combinations.

    The grand-total cell sums EVERY order, so its float prefix crosses
    2^53 cents-equivalent before sf1 and the sum goes order-dependent
    (operators/exactsum.py) — totals aggregate as exact cents LONGs."""
    o = Tables(spark, sf_dir).orders
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).cast("double")
            / 100,
            2,
        ).alias("total_price"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-status and per-priority totals in
    one pass (neither CUBE nor ROLLUP expresses exactly these two
    sets).  Spark expands the sets before the partial aggregate, so it
    is still a single shuffle."""
    o = Tables(spark, sf_dir).orders
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "agg_stats",
    oracle="""
    WITH ps AS (
        SELECT l_returnflag,
               count(*) AS n,
               min(l_extendedprice) AS mn,
               max(l_extendedprice) AS mx,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS s1,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS s2
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT
        l_returnflag,
        round(mn, 2) AS min_price,
        round(mx, 2) AS max_price,
        round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1) / 10000), 4)
            AS std_price,
        round(CAST(n * s2 - s1 * s1 AS DOUBLE) / n / (n - 1) / 10000, 2)
            AS var_price
    FROM ps
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/STDDEV/VARIANCE — single-pass mergeable moments.

    Variance computes from EXACT integer power sums (n, sum cents,
    sum cents^2 — the cents^2 row term tops out ~1.2e14, LONG-safe;
    the group totals accumulate in DECIMAL(38,0) Spark-side and
    HUGEINT in the oracle, both exact), then one
    ``(n*s2 - s1^2) / (n (n-1))`` fold with identical IEEE op order
    in both engines.  The float var_samp margin measured 7,000x at
    sf1 but only 52x at sf3 (tools/float_margin_probe.py) — under the
    100x conversion rule — and exact power sums are also the right
    100 TB answer: they're the MERGEABLE moment state (combine by
    addition across partitions/partials with no order sensitivity at
    all), which Welford-style float merge is not.  Cancellation note:
    n*s2 - s1^2 ~ 6.7e19 against operands ~5.6e27 loses nothing here
    because the subtraction is EXACT in 128-bit/decimal integers —
    only the final cast to double rounds, relatively ~1e-16.
    """
    li = Tables(spark, sf_dir).lineitem
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    n = F.count(F.lit(1))
    s1 = F.sum(cents.cast("decimal(38,0)"))
    s2 = F.sum((cents * cents).cast("decimal(38,0)"))
    num = (n.cast("decimal(38,0)") * s2 - s1 * s1).cast("double")
    var_d = num / n / (n - 1) / 10000
    return li.groupBy("l_returnflag").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.sqrt(var_d), 4).alias("std_price"),
        F.round(var_d, 2).alias("var_price"),
    )


@query(
    "agg_global",
    oracle="""
    SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
              / 100, 2) AS total_price,
        round(CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE)
              / (100 * count(*)), 6) AS avg_discount
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate: partials reduce to a single row —
    the only single-task stage is over ~#partitions rows, not data.

    avg_discount AND total_price aggregate as SCALED INTEGERS, not
    double: both columns are decimal multiples of 0.01.  A float avg
    can land EXACTLY on a rounding tie (sf0.01: 0.0499185000... at
    6dp), where summation order — a function of partition count —
    flips the last digit between engines/sessions (caught by the
    odd-partition sim sweep, r4).  And a whole-table float SUM
    outgrows its own rounding grain: at sf1 the price total is
    ~2.3e11, where a double ulp is ~0.03 > the 0.005 tie threshold,
    so Spark's parallel order vs DuckDB's scan order GUARANTEES 2dp
    jitter (caught by the r8 sf1 certification).  round(x*100) per
    row then an exact LONG sum is order-independent in both engines
    and costs ~nothing (DECIMAL aggregation measured +77% on the
    agg); one cast to double + a scalar divide gives the identical
    rounded value under any partitioning, at any corpus size up to
    ~9e16 cents."""
    li = Tables(spark, sf_dir).lineitem
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).cast("double")
            / 100,
            2,
        ).alias("total_price"),
        F.round(
            F.sum(F.round(F.col("l_discount") * 100, 0).cast("long")).cast("double")
            / (100 * F.count(F.lit(1))),
            6,
        ).alias("avg_discount"),
    )


@query("agg_hll_sketch_union")
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+
    hll_sketch_agg): per-event-type sketches of the distinct-user set,
    plus an all-types row built by UNIONING the per-type sketches
    (hll_union_agg) — never re-touching the raw events.  This is THE
    100 TB distinct-count architecture: partial sketches are built
    map-side, merge associatively across partitions/days, and roll up
    to any coarser grain without a second scan.  Sketch bytes are
    engine-specific => rows-only driver check; the semantic test
    bounds the estimates against exact counts.

    The reference could only ever ship COUNT(DISTINCT ...) SQL text to
    Redshift (core.py:84); sketch state is not expressible there."""
    e = Tables(spark, sf_dir).events
    per_type = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sketch")
    )
    typed = per_type.select(
        "event_type",
        F.expr("hll_sketch_estimate(sketch)").cast("bigint").alias("approx_users"),
    )
    overall = (
        per_type.agg(F.expr("hll_union_agg(sketch, true)").alias("sketch"))
        .select(
            F.lit("ALL").alias("event_type"),
            F.expr("hll_sketch_estimate(sketch)").cast("bigint").alias("approx_users"),
        )
    )
    return typed.unionByName(overall).orderBy("event_type")


@query(
    "agg_grouping_id_rollup",
    oracle="""
    SELECT
        coalesce(o_orderstatus, '<all>') AS status,
        coalesce(o_orderpriority, '<all>') AS priority,
        CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
            AS gid,
        CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def agg_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/grouping-id over a ROLLUP: distinguishes a real NULL
    group key from a rollup subtotal row — the function that makes
    grouping-set output machine-consumable (the gid column is how a
    reporting layer routes detail vs subtotal vs grand-total rows).
    Same single-shuffle expand plan as plain rollup."""
    o = Tables(spark, sf_dir).orders
    gid = (
        F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
    ).cast("bigint")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(gid.alias("gid"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "gid",
            "n_orders",
        )
        .orderBy("gid", "status", "priority")
    )


@query(
    "window_revenue_share",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation,
               sum(CAST(round(l.l_extendedprice * 10000) AS BIGINT)) AS rev_e4
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name
    )
    SELECT nation,
           round(rev_e4 / 10000.0, 2) AS revenue,
           rev_e4 * 1.0 / sum(rev_e4) OVER () AS share
    FROM rev
    ORDER BY nation
    """,
)
def window_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (Redshift RATIO_TO_REPORT analogue): each
    nation's share of global supplier revenue via an unpartitioned
    window sum.  Revenue is summed as exact 1e-4-scaled BIGINTs — a
    double sum's value depends on accumulation order across engines/
    partitionings, an integer sum's never does — so the share quotient
    is bit-identical and needs no rounding.  The scaled-integer-sum
    trick is the general recipe for order-independent money
    aggregation at any scale."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(broadcast(t.nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 10000).cast("bigint")).alias(
                "rev_e4"
            )
        )
    )
    w_all = Window.partitionBy()
    return (
        rev.select(
            "nation",
            F.round(F.col("rev_e4") / 10000.0, 2).alias("revenue"),
            (F.col("rev_e4") * 1.0 / F.sum("rev_e4").over(w_all)).alias("share"),
        )
        .orderBy("nation")
    )


@query(
    "agg_median_mode",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    modal AS (
        SELECT l_returnflag, l_quantity AS mode_qty FROM (
            SELECT *, row_number() OVER (
                PARTITION BY l_returnflag ORDER BY c DESC, l_quantity
            ) AS rn FROM counts
        ) WHERE rn = 1
    )
    SELECT
        m.l_returnflag,
        median(l.l_quantity) AS median_qty,
        CAST(any_value(m.mode_qty) AS BIGINT) AS mode_qty,
        CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem l JOIN modal m ON l.l_returnflag = m.l_returnflag
    GROUP BY m.l_returnflag
    """,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + deterministic mode per group (SURVEY §2.B statistical
    aggregates): median via the built-in exact MEDIAN (interpolating,
    double — safe here: integer inputs interpolate to .0/.5 exactly),
    mode computed EXPLICITLY as count-then-rank with a (count DESC,
    value ASC) tie-break — engines disagree on native MODE()'s tie
    winner, a deterministic window does not."""
    t = Tables(spark, sf_dir)
    li = t.lineitem
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.col("c").desc(), F.col("l_quantity"))
    modal = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    return (
        li.join(F.broadcast(modal), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.median("l_quantity").alias("median_qty"),
            F.any_value("mode_qty").cast("bigint").alias("mode_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price,
           round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100, 2) / count(*) AS avg_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the aggregate state
    over the historical partition (orders before 1997) is kept as
    MERGEABLE partials (count, sum, min, max — never avg), the new
    batch computes the same partials, and refresh is a union + re-agg
    of two tiny state frames instead of a full recompute.  The oracle
    IS the full recompute — proving partial-merge equals recompute,
    which is the whole correctness claim of incremental refresh.

    Scale: this is why the state holds sum+count instead of avg —
    avg doesn't merge.  At 100 TB the historical partials are a few
    rows per group read from the MV store; only the delta partition is
    scanned per refresh.  Final avg divides the ROUNDED sum so both
    engines divide identical doubles.  The mergeable sum state is
    exact cents LONGs (operators/exactsum.py): float partials were
    exact at sf1 only because per-priority prefixes still sat below
    2^53-in-cents — one more doubling crosses the cliff and the
    partial-merge-equals-recompute claim becomes order-dependent."""
    o = Tables(spark, sf_dir).orders
    cut = F.lit("1997-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = partials(o.filter(F.col("o_orderdate") < cut))
    delta = partials(o.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.round(F.sum("s").cast("double") / 100, 2).alias("total_price"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        "total_price",
        (F.col("total_price") / F.col("n_orders")).alias("avg_price"),
        "min_price",
        "max_price",
    )


@query(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable roaring-style bitmaps
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count): each
    32k-id bucket aggregates into a fixed-size bitmap map-side, bucket
    bitmaps merge associatively, and the final count is a popcount —
    the exact-COUNT(DISTINCT) shape that scales like a sketch (no
    per-row shuffle of distinct values, no expand-and-dedup pass) while
    giving the precise answer HLL can't.  The oracle is the plain
    COUNT(DISTINCT) it must equal."""
    ev = Tables(spark, sf_dir).events
    return (
        ev.groupBy("event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket"))
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users"))
    )


@query(
    "agg_regression_funcs",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(corr(l_extendedprice, l_quantity), 4) AS r
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in least-squares aggregates (REGR_SLOPE / REGR_INTERCEPT /
    CORR — the same family Redshift exposes): price-vs-quantity fit per
    return flag.  All three are single-pass mergeable moment
    aggregates (sums of x, y, xy, x², y²), so they scale exactly like
    SUM — no per-group materialization.  4dp rounding is the
    cross-engine tolerance for the moment-quotient floats (same
    rationale as cosine scores, registry.py)."""
    li = Tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("r"),
    )


@query(
    "agg_market_basket",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
    marg AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           (p.n_ab * 1.0 * t.n_orders) / (ma.n * mb.n) AS lift
    FROM pairs p
    JOIN marg ma ON p.part_a = ma.l_partkey
    JOIN marg mb ON p.part_b = mb.l_partkey
    CROSS JOIN tot t
    """,
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: support (orders containing both
    parts) and lift (observed co-occurrence vs independence) for part
    pairs bought together.  Basket-array formulation: one shuffle
    builds the sorted per-order item list, then intra-order pairs are
    generated ARRAY-SIDE (transform over the sorted list — sortedness
    gives part_a < part_b for free) and exploded, so the fact table is
    never self-joined: the pair space is Σ k_i² over basket sizes (k
    small, bounded by basket width), expanded map-side in the same
    stage.  At 100 TB this saves re-shuffling the fact for the join's
    second side.  Marginals and the order total come off the same
    basket frame; lift is one exact-integer product divided once
    (identical IEEE division both engines)."""
    def build_baskets() -> DataFrame:
        li = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey").distinct()
        return li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list("l_partkey")).alias("items")
        )

    # tot, marginals and pairs all read it once each; memoized so
    # repeated calls reuse ONE checkpointed frame instead of building
    # a fresh copy per invocation
    baskets = memoized_persist(spark, ("mb_baskets", sf_dir), build_baskets)
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    marg = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ma = marg.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ma, "part_a")
        .join(mb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            ((F.col("n_ab") * F.col("n_orders")) / (F.col("n_a") * F.col("n_b"))).alias("lift"),
        )
    )


@query(
    "agg_calendar_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS d0,
               max(CAST(o_orderdate AS DATE)) AS d1
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                          AS DOUBLE) / 100, 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           coalesce(d.n_orders, 0) AS n_orders,
           coalesce(d.revenue, 0.0) AS revenue,
           d.day IS NULL AS was_gap
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def agg_calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness: a generated day spine (min..max order
    date) LEFT-joined to the daily aggregate, zero-filling days with
    no orders — the reporting contract that makes moving averages and
    charts correct on sparse data (a missing day silently skews any
    trailing window computed over existing rows only).

    Shape: the spine is one sequence() explode off a 1-row bounds
    aggregate — thousands of rows, broadcast to the daily aggregate
    join; raw orders feed only the per-day partial agg."""
    o = Tables(spark, sf_dir).orders
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("revenue"),
    )
    return (
        F.broadcast(spine)
        .join(daily.withColumnRenamed("day", "dday"), spine.day == F.col("dday"), "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.col("dday").isNull().alias("was_gap"),
        )
    )


@query(
    "agg_log_histogram",
    oracle="""
    WITH bucketed AS (
        SELECT lang, length(bin(n_chars)) - 1 AS log2_bucket, n_chars
        FROM documents WHERE n_chars > 0
    )
    SELECT lang, CAST(log2_bucket AS BIGINT) AS log2_bucket,
           CAST(pow(2, log2_bucket) AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM bucketed
    GROUP BY lang, log2_bucket
    """,
)
def agg_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucket histogram of document length — the right histogram
    for heavy-tailed size distributions (fixed-width buckets put 99%
    of a power law in bucket 0; events_value_histogram shows the
    linear twin).  The bucket index is EXACT integer math in both
    engines: floor(log2(n)) computed as length(bin(n)) - 1, never a
    float log that could straddle a boundary.  Map-side partial agg
    collapses to |langs| x ~20 buckets."""
    d = Tables(spark, sf_dir).documents
    bucket = (F.length(F.expr("bin(n_chars)")) - 1).cast("bigint")
    return (
        d.filter(F.col("n_chars") > 0)
        .groupBy("lang", bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "log2_bucket",
            F.pow(F.lit(2), F.col("log2_bucket")).cast("bigint").alias("bucket_lo"),
            "n_docs",
            "total_chars",
        )
    )
