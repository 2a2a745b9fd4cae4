"""Event-time window analytics over the ``events`` table — batch
implementations whose semantics mirror Structured Streaming windows
(the streaming variants live in :mod:`pandas_redshift_spark.streaming`;
the DuckDB oracle is batch-only, SURVEY.md §2.B "Streaming").

Time buckets are emitted as formatted strings: events.ts is
nanosecond-precision in parquet, which Spark reads at microsecond and
DuckDB at nanosecond precision — strings keep the comparison exact at
bucket granularity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pandas_redshift_spark.operators.exactsum import (
    money_cents,
    money_cents_sql,
    money_sum,
    money_sum_sql,
)
from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import Tables

_FMT = "yyyy-MM-dd HH:mm:ss"
_DUCK_FMT = "%Y-%m-%d %H:%M:%S"


@query(
    "events_tumbling_window",
    oracle=f"""
    SELECT
        strftime(date_trunc('hour', ts), '{_DUCK_FMT}') AS window_start,
        event_type,
        CAST(count(*) AS BIGINT) AS n_events,
        {money_sum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — batch twin of
    ``groupBy(F.window("ts", "1 hour"))``; uses F.window so the same
    plan fragment is valid under readStream."""
    ev = Tables(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sliding_window",
    oracle=f"""
    WITH starts AS (
        SELECT DISTINCT
            date_trunc('hour', ts) + (CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)
                - INTERVAL 30 MINUTE * s.n AS win_start
        FROM events, (SELECT unnest([0, 1]) AS n) s
    )
    SELECT
        strftime(w.win_start, '{_DUCK_FMT}') AS window_start,
        CAST(count(e.event_id) AS BIGINT) AS n_events,
        {money_sum_sql('e.value')} AS total_value
    FROM starts w
    JOIN events e
      ON e.ts >= w.win_start AND e.ts < w.win_start + INTERVAL 60 MINUTE
    GROUP BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour width, 30-minute slide — each event lands
    in exactly 2 windows.  The oracle reconstructs Spark's window
    assignment (windows aligned to the epoch) with an explicit
    slide-offset join."""
    ev = Tables(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _FMT).alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT
            user_id, event_id, ts, value,
            CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
                 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS is_new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_id, ts, value,
               sum(is_new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT
        user_id,
        CAST(session_id AS BIGINT) AS session_id,
        strftime(date_trunc('second', min(ts)), '{_DUCK_FMT}') AS session_start,
        CAST(count(*) AS BIGINT) AS n_events,
        round(sum(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the classic
    lag/flag/cumsum pattern (batch twin of ``F.session_window``).
    Scales as a per-user window: one shuffle on user_id, sorted within
    partitions; no cross-user state."""
    ev = Tables(spark, sf_dir).events
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_ts = F.lag("ts").over(w_ord)
    # NTZ can't cast to double directly; go through LTZ (session tz is
    # pinned UTC by configure_session, so the conversion is exact)
    secs = F.col("ts").cast("timestamp").cast("double")
    prev_secs = prev_ts.cast("timestamp").cast("double")
    flagged = ev.withColumn(
        "is_new_session",
        F.when(prev_ts.isNull() | (secs - prev_secs > 1800), 1).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new_session").over(w_run))
    return sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.date_format(F.date_trunc("second", F.min("ts")), _FMT).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "events_funnel",
    oracle="""
    SELECT
        CAST(count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT) AS n_viewed,
        CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS n_clicked,
        CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS n_purchased
    FROM events
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage funnel reach (distinct users per stage).  NOT
    written as three conditional COUNT DISTINCTs in one aggregate:
    multiple distinct aggs make Spark EXPAND every input row once per
    distinct column (3x the shuffle volume of the raw fact scan).
    Instead: per-user 0/1 stage flags (one user_id shuffle with
    map-side partial max), then a global sum of flags — identical
    numbers, expand-free, and the heavy aggregate is mergeable."""
    ev = Tables(spark, sf_dir).events
    flag = lambda t: F.max((F.col("event_type") == t).cast("int"))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        flag("view").alias("v"), flag("click").alias("c"), flag("purchase").alias("p")
    )
    return per_user.agg(
        F.sum("v").cast("bigint").alias("n_viewed"),
        F.sum("c").cast("bigint").alias("n_clicked"),
        F.sum("p").cast("bigint").alias("n_purchased"),
    )


@query(
    "events_cohort_retention",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT
        strftime(f.cohort_week, '{_DUCK_FMT}') AS cohort_week,
        CAST(datediff('week', f.cohort_week, a.wk) AS BIGINT) AS weeks_since,
        CAST(count(*) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week,
    counted in each subsequent active week.  The cohort week is a
    per-user MIN WINDOW over the distinct (user, week) activity frame
    — min over distinct weeks equals min over raw events, so events is
    scanned ONCE (r4: the firsts-aggregate + self-join shape executed
    the events scan twice; ReuseExchange never deduped it); the final
    matrix is tiny (weeks x weeks).  Spark and DuckDB both start
    weeks on Monday, so the buckets align exactly."""
    ev = Tables(spark, sf_dir).events
    wk = F.date_trunc("week", "ts")
    activity = ev.select("user_id", wk.alias("wk")).distinct()
    w = Window.partitionBy("user_id")
    return (
        activity.withColumn("cohort_week", F.min("wk").over(w))
        .groupBy(
            F.date_format("cohort_week", _FMT).alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type, day
    ),
    stats AS (
        SELECT event_type, day, n_events,
               count(*) OVER w AS n_days,
               sum(n_events) OVER w AS s1,
               sum(n_events * n_events) OVER w AS s2
        FROM daily
        WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_type, day, n_events,
           (n_events - (s1 * 1.0 / n_days))
             / sqrt((s2 - (s1 * 1.0 / n_days) * s1) / (n_days - 1)) AS z_score
    FROM stats
    WHERE n_days > 1
    ORDER BY event_type, day
    """,
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per-type daily event counts scored as
    z-scores against that type's own mean/variance.  The variance is
    computed from sum and sum-of-squares over EXACT integer counts
    (doubles are exact for integers < 2^53), written with a fixed
    operation order — so Spark and DuckDB produce bit-identical
    z-scores, which a builtin stddev_samp (different merge order)
    would not.  One aggregate shuffle + one unbounded window over the
    same event_type partitioning; AQE plans them back-to-back."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "n_events",
        F.count(F.lit(1)).over(w).alias("n_days"),
        F.sum("n_events").over(w).alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("n_days")
    var = (F.col("s2") - mean * F.col("s1")) / (F.col("n_days") - 1)
    return (
        stats.filter(F.col("n_days") > 1)
        .select(
            "event_type",
            "day",
            "n_events",
            ((F.col("n_events") - mean) / F.sqrt(var)).alias("z_score"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "events_ordered_funnel",
    oracle="""
    WITH stage_ts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT
        CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_viewed,
        CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_then_clicked,
        CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_then_purchased
    FROM stage_ts
    """,
)
def events_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED conversion funnel: a user converts only if their first
    click follows their first view and their first purchase follows
    that click (events_funnel counts stage reach regardless of order).
    One conditional-min aggregate per user — no window, no self-join,
    and the strict inequalities make each stage a subset of the
    previous, so the output is a true funnel at any scale."""
    e = Tables(spark, sf_dir).events
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts")))
    t_click = F.min(F.when(F.col("event_type") == "click", F.col("ts")))
    t_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    per_user = e.groupBy("user_id").agg(
        t_view.alias("t_view"),
        t_click.alias("t_click"),
        t_purchase.alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.sum(F.when(viewed, 1).otherwise(0)).alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("n_then_clicked"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias("n_then_purchased"),
    )


@query(
    "events_multi_grain_rollup",
    oracle=f"""
    WITH bucketed AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_b,
               strftime(date_trunc('day', ts),  '%Y-%m-%d') AS day_b,
               value
        FROM events
    )
    SELECT coalesce(day_b, '<all>') AS day_b,
           coalesce(hour_b, '<all>') AS hour_b,
           coalesce(event_type, '<all>') AS event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {money_sum_sql('value')} AS total_value
    FROM bucketed
    GROUP BY GROUPING SETS (
        (day_b, hour_b, event_type),
        (day_b, event_type),
        (day_b),
        ()
    )
    ORDER BY day_b, hour_b, event_type
    """,
)
def events_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly, daily,
    daily-per-type and grand totals in ONE pass via grouping sets over
    pre-truncated time buckets — the batch shape of a timeseries
    engine's multi-granularity materialized rollup.  Spark expands the
    4 sets map-side before the partial aggregate, so the corpus is
    scanned once and only (bucket, type) group rows shuffle."""
    e = Tables(spark, sf_dir).events
    bucketed = e.select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), _FMT).alias("hour_b"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_b"),
        "value",
    )
    return (
        bucketed.groupingSets(
            [["day_b", "hour_b", "event_type"], ["day_b", "event_type"], ["day_b"], []],
            "day_b",
            "hour_b",
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .select(
            F.coalesce("day_b", F.lit("<all>")).alias("day_b"),
            F.coalesce("hour_b", F.lit("<all>")).alias("hour_b"),
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            "n_events",
            "total_value",
        )
        .orderBy("day_b", "hour_b", "event_type")
    )


@query(
    "events_dedup_exact",
    oracle=f"""
    WITH keyed AS (
        SELECT event_type,
               row_number() OVER (
                   PARTITION BY user_id, event_type,
                                date_trunc('minute', ts)
                   ORDER BY ts, event_id
               ) AS rn
        FROM events
    )
    SELECT
        event_type,
        CAST(count(*) FILTER (rn = 1) AS BIGINT) AS kept,
        CAST(count(*) FILTER (rn > 1) AS BIGINT) AS dropped
    FROM keyed
    GROUP BY event_type
    """,
)
def events_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming dropDuplicates-within-watermark: an
    event is a duplicate if an earlier event shares (user_id,
    event_type, minute bucket).  Emits kept/dropped counts per type —
    counts, not survivor ids, because within-minute ORDER BY ts ties
    break at nanosecond precision in DuckDB but microsecond in Spark
    (bucket counts are identical either way).  One window shuffle on
    the dedup key, then a partial-aggregated rollup."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("minute", "ts")
    ).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("rn") == 1, 1)).cast("bigint").alias("kept"),
            F.count(F.when(F.col("rn") > 1, 1)).cast("bigint").alias("dropped"),
        )
    )


@query(
    "events_attribution_join",
    oracle="""
    SELECT
        c.user_id,
        c.event_id AS click_id,
        p.event_id AS purchase_id,
        p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming click->purchase interval join
    (streaming/windows.attribution_join, the plan streaming_attribution_join
    drains; batch-differential tested): purchases attributed to a
    same-user click within the preceding 30 minutes.  The event-time
    bounds are exactly the ones Structured Streaming requires to expire
    join state — same expression both modes (a batch frame ignores the
    watermarks).  Self-join shuffles once on user_id."""
    from pandas_redshift_spark.streaming.windows import attribution_join

    ev = Tables(spark, sf_dir).events
    return attribution_join(ev, "30 minutes").select(
        "user_id", "click_id", "purchase_id", "purchase_value"
    )


@query(
    "events_quantile_drift",
    oracle=f"""
    WITH daily AS (
        SELECT
            strftime(date_trunc('day', ts), '{_DUCK_FMT}') AS day,
            event_type,
            round(quantile_cont(value, 0.5), 4) AS p50,
            round(quantile_cont(value, 0.95), 4) AS p95,
            CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, event_type, p50, p95, n,
           round(p50 - lag(p50) OVER (PARTITION BY event_type ORDER BY day), 4)
               AS p50_delta,
           round(p95 - lag(p95) OVER (PARTITION BY event_type ORDER BY day), 4)
               AS p95_delta
    FROM daily
    """,
)
def events_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value-distribution drift monitor — the data-quality check
    a training pipeline runs on incoming event/metric streams: exact
    per-day p50/p95 (PERCENTILE_CONT semantics; day x type groups are
    bounded, so exact is fine — swap percentile_approx at 100 TB) and
    the day-over-day delta via lag.  The quantile agg and the lag
    window share the event_type partitioning, so the drift pass adds
    no extra corpus shuffle."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), _FMT).alias("day"), "event_type"
    ).agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "day",
        "event_type",
        "p50",
        "p95",
        "n",
        F.round(F.col("p50") - F.lag("p50").over(w), 4).alias("p50_delta"),
        F.round(F.col("p95") - F.lag("p95").over(w), 4).alias("p95_delta"),
    )


@query(
    "events_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(least(CAST(floor(value / 50) AS BIGINT), 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY 1, 2
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (50-unit buckets,
    top-coded at bucket 9) — the profiling pass a pipeline runs before
    choosing quantile cut-points.  Pure map-side bucket assignment +
    one partial/final aggregate; integer floor-division arithmetic is
    identical in both engines (DuckDB ``//`` vs Spark floor-cast)."""
    ev = Tables(spark, sf_dir).events
    bucket = F.least(F.floor(F.col("value") / 50).cast("bigint"), F.lit(9))
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           n * 1.0 / sum(n) OVER (PARTITION BY prev_type) AS prob
    FROM pairs
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() pairs each event with its predecessor, the bigram
    counts aggregate globally, and the row-normalized probability is
    an exact integer-count quotient (raw double — identical IEEE
    division both engines).

    Shape: ONE shuffle on user_id serves the lag window (user
    sequences are independent, so the window parallelizes across the
    full cluster); the bigram count is a 5x5-cardinality partial agg
    that collapses map-side; the normalizing window runs over ~25
    rows.  No part of the plan grows super-linearly at 100 TB."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        (F.col("n") / F.sum("n").over(total)).alias("prob"),
    )


@query(
    "events_rfm_segmentation",
    oracle="""
    WITH p AS (
        SELECT user_id, max(ts) AS umax,
               CAST(count(*) AS BIGINT) AS n_purchases,
               round(sum(value), 4) AS monetary
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    g AS (SELECT max(umax) AS gmax FROM p),
    r AS (
        SELECT p.user_id, p.n_purchases, p.monetary,
               CAST(date_diff('day', CAST(p.umax AS DATE), CAST(g.gmax AS DATE)) AS BIGINT)
                   AS recency_days
        FROM p CROSS JOIN g
    ),
    q AS (
        SELECT user_id, recency_days, n_purchases, monetary,
               CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r_quartile,
               CAST(ntile(4) OVER (ORDER BY n_purchases DESC, user_id) AS BIGINT) AS f_quartile,
               CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_quartile
        FROM r
    )
    SELECT user_id, recency_days, n_purchases, monetary,
           r_quartile, f_quartile, m_quartile,
           'R' || r_quartile || 'F' || f_quartile || 'M' || m_quartile AS segment
    FROM q
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    purchase vs the corpus max), frequency (purchase count) and
    monetary (value sum), each cut into quartiles; quartile 1 is best
    (most recent / most frequent / highest spend).

    Determinism: every ntile ORDER BY carries user_id as a tie-break
    (engines otherwise break ties arbitrarily); monetary is rounded
    BEFORE ranking so both engines rank identical doubles.

    Scale note: exact global ntile is a single-partition window —
    fine for the per-user aggregate (rows = |users|, tiny next to raw
    events), but at billions of users the quartile CUTS should come
    from approx_percentile (mergeable sketch) and join back
    broadcast; the per-user aggregate underneath is one mergeable
    shuffle either way."""
    ev = Tables(spark, sf_dir).events
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("umax"),
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
    )
    # corpus max as a global window over the per-user aggregate — the
    # 1-row agg + broadcast-back shape executed the per-user aggregate
    # (and its events scan) twice (r4); the query already pays
    # single-partition windows for the exact ntiles anyway
    gmax = F.max("umax").over(Window.partitionBy())
    r = p.select(
        "user_id",
        "n_purchases",
        "monetary",
        F.datediff(F.to_date(gmax), F.to_date("umax")).cast("bigint").alias("recency_days"),
    )
    q = r.select(
        "*",
        F.ntile(4).over(Window.orderBy("recency_days", "user_id")).cast("bigint").alias("r_quartile"),
        F.ntile(4).over(Window.orderBy(F.col("n_purchases").desc(), "user_id")).cast("bigint").alias("f_quartile"),
        F.ntile(4).over(Window.orderBy(F.col("monetary").desc(), "user_id")).cast("bigint").alias("m_quartile"),
    )
    return q.select(
        "user_id", "recency_days", "n_purchases", "monetary",
        "r_quartile", "f_quartile", "m_quartile",
        F.concat(
            F.lit("R"), F.col("r_quartile"),
            F.lit("F"), F.col("f_quartile"),
            F.lit("M"), F.col("m_quartile"),
        ).alias("segment"),
    )


@query(
    "events_user_path",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    heads AS (SELECT user_id, event_type, rn FROM seq WHERE rn <= 8)
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS path,
           CAST(count(*) AS BIGINT) AS path_len
    FROM heads
    GROUP BY user_id
    """,
)
def events_user_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path mining: each user's first 8 events concatenated in
    time order ('view>click>purchase>...') — the sequence feature
    behind funnel clustering and next-action models.

    Shape: ONE user_id shuffle serves both the ordering window and
    the path aggregation (Catalyst reuses the partitioning); the head
    cap (rn <= 8) bounds the aggregated string so a hot user can't
    blow up a group.  Tie-break on event_id keeps the order — and so
    the concatenated string — identical across engines."""
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 8)
    )
    return seq.groupBy("user_id").agg(
        F.concat_ws(">", F.array_sort(F.collect_list(F.struct("rn", "event_type"))).getField("event_type")).alias("path"),
        F.count(F.lit(1)).alias("path_len"),
    )


@query(
    "events_session_window_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ses AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ses
    GROUP BY user_id, session_id
    """,
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` (dynamic
    gap windows merged by the engine) — the twin of the
    gaps-and-islands formulation in ``events_sessionization``, here
    letting the SessionWindow operator own the merge instead of two
    chained window functions.  Same 30-minute gap; emits per-session
    event counts keyed by user.

    Why both exist: session_window is the operator a STREAMING
    pipeline uses (state-store backed, watermark-evictable), so the
    batch plan proving identical semantics is what makes the
    batch/stream twin claim testable.  One user_id shuffle either
    way.  The oracle keeps the gaps-and-islands form — DuckDB has no
    session_window, which is exactly the cross-engine point.  Session
    identity (start time) is intentionally NOT emitted: Spark merges
    at microsecond, DuckDB at nanosecond precision; counts are
    tie-stable, boundary timestamps are not."""
    ev = Tables(spark, sf_dir).events
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )


@query(
    "events_locf_gapfill",
    oracle="""
    SELECT user_id, event_id,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS raw_value,
           last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           event_type = 'error' AS was_filled
    FROM events
    """,
)
def events_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last observation carried forward) gap-fill: 'error' rows
    stand in for missing sensor readings; each gets the user's most
    recent good value.  The canonical time-series repair — one
    ``last(..., ignorenulls=True)`` running window, no self-join, no
    as-of lookup table.

    Shape: ONE user_id shuffle; the running frame carries a single
    value per partition scan, so memory is O(1) per task regardless
    of series length.  Values pass through un-arithmetic'd (exact
    double equality across engines); a user whose series starts with
    errors keeps NULL — LOCF does not invent data."""
    ev = Tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    raw = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "user_id",
        "event_id",
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
        (F.col("event_type") == "error").alias("was_filled"),
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, quantile_cont(n, 0.5) AS med
        FROM daily GROUP BY event_type
    ),
    dev AS (
        SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
        FROM daily d JOIN med m ON d.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT v.event_type, strftime(v.day, '%Y-%m-%d') AS day, v.n, v.med, a.mad,
           v.adev > 3 * a.mad AS is_anomaly
    FROM dev v JOIN mad a ON v.event_type = a.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection via median absolute deviation:
    flag days whose event count deviates from the per-type median by
    more than 3 MAD.  Unlike the stddev z-score (events_daily_anomaly)
    the breakdown point is 50% — a burst day can't drag the baseline
    after it.

    Shape: daily counts (one shuffle) -> per-type exact median (5-row
    agg) BROADCAST back -> per-type MAD (5-row agg) broadcast back.
    Exact percentile is fine here because the grouped domain is
    |types| x |days| — tiny regardless of corpus size; the raw-event
    scan never sees the quantile.  No division anywhere, so the only
    floats are interpolated medians computed identically by both
    engines."""
    ev = Tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        "med",
        "mad",
        (F.col("adev") > 3 * F.col("mad")).alias("is_anomaly"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day
    ),
    contrib AS (
        SELECT user_id, day + CAST(i.n AS INTEGER) AS wday
        FROM pairs, range(7) i(n)
    ),
    wau AS (
        SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM contrib GROUP BY wday
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
           d.dau * 1.0 / w.wau AS stickiness
    FROM dau d JOIN wau w ON d.day = w.wday
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    engagement rollup every product dashboard ships.  The WAU is NOT a
    sliding distinct over raw events (distinct can't slide cheaply):
    each distinct (user, day) pair is exploded into the 7 trailing
    windows it contributes to, and WAU is one distinct count per
    window day — turning an O(days × events) window into one explode
    (×7) plus one aggregate.  At 100 TB the same shape swaps the
    exact distinct for an HLL sketch union per window
    (agg_hll_sketch_union shows the sketch path); stickiness is an
    exact integer-count quotient."""
    ev = Tables(spark, sf_dir).events
    pairs = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    contrib = pairs.withColumn(
        "wday", F.explode(F.sequence("day", F.date_add("day", 6)))
    )
    # ONE aggregate over the exploded frame yields both numbers:
    # rows with wday == day are exactly the distinct (user, day)
    # pairs, so their count IS the DAU — no separate dau aggregate
    # joining back to its own source (r4: that shape executed the
    # events scan + distinct twice).  Window days past the last
    # event day have dau = 0 and are dropped, matching the previous
    # inner join.
    per_day = contrib.groupBy("wday").agg(
        F.countDistinct("user_id").alias("wau"),
        F.count(F.when(F.col("wday") == F.col("day"), 1)).alias("dau"),
    )
    return per_day.filter(F.col("dau") > 0).select(
        F.date_format("wday", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        (F.col("dau") / F.col("wau")).alias("stickiness"),
    )


@query(
    "events_peak_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ses AS (
        SELECT user_id,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id,
               ts, event_id
        FROM (SELECT f.*, e.event_id FROM flagged f
              JOIN events e USING (user_id, ts))
    ),
    intervals AS (
        SELECT user_id, session_id, min(ts) AS s_ts, max(ts) AS e_ts
        FROM ses GROUP BY user_id, session_id
    ),
    bounds AS (
        SELECT user_id, session_id, s_ts AS ts, 1 AS delta FROM intervals
        UNION ALL
        SELECT user_id, session_id, e_ts AS ts, -1 AS delta FROM intervals
    ),
    swept AS (
        SELECT ts,
               sum(delta) OVER (ORDER BY ts, delta, user_id, session_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS concurrency
        FROM bounds
    )
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(max(concurrency) AS BIGINT) AS peak_concurrent_sessions
    FROM swept
    GROUP BY 1
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the boundary SWEEP: each
    session interval contributes (+1 at start, -1 at end), the globally
    ordered running sum of deltas IS the live-session count, and the
    per-day max is the capacity-planning number.  The sweep is the
    O(n log n) interval-overlap algorithm — no interval self-join, no
    per-minute densification.

    Scale: the global window runs over session BOUNDARIES (2 rows per
    session — thousands, not the raw event stream), so the single
    ordered pass is an aggregate-domain operation; raw events only
    feed the per-user sessionization shuffle.  Tie order (-1 before
    +1, then user/session ids) makes touching intervals
    non-overlapping and the sweep deterministic; corpus timestamps
    are microsecond-aligned so both engines sort identically."""
    ev = Tables(spark, sf_dir).events
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    secs = F.col("ts").cast("timestamp").cast("double")
    prev = F.lag("ts").over(w_ord)
    prev_secs = prev.cast("timestamp").cast("double")
    ses = ev.withColumn(
        "new_s", F.when(prev.isNull() | (secs - prev_secs > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_s").over(w_run))
    intervals = ses.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts")
    )
    bounds = intervals.select(
        "user_id", "session_id", F.col("s_ts").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        intervals.select(
            "user_id", "session_id", F.col("e_ts").alias("ts"), F.lit(-1).alias("delta")
        )
    )
    sweep = Window.orderBy("ts", "delta", "user_id", "session_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = bounds.withColumn("concurrency", F.sum("delta").over(sweep))
    return swept.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(F.max("concurrency").cast("bigint").alias("peak_concurrent_sessions"))


@query(
    "events_rate_limit_flags",
    oracle="""
    WITH per_min AS (
        SELECT user_id, date_trunc('minute', ts) AS minute,
               CAST(count(*) AS BIGINT) AS epm
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(epm) AS BIGINT) AS peak_epm,
           CAST(sum(epm) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_active_minutes,
           max(epm) >= 5 AS flagged_bot
    FROM per_min
    GROUP BY user_id
    """,
)
def events_rate_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based bot/abuse detection — the traffic-hygiene filter a
    training pipeline runs before any content filter: per-user peak
    events-per-minute and a threshold flag.  Two chained aggregates
    ((user, minute) then user — the second reuses no extra exchange
    beyond the user key); entirely mergeable, no windows, no state.
    The 100 TB version is the same plan with the minute bucket as the
    pre-aggregation that shrinks the stream ~|events|/|active
    minutes| before the per-user rollup."""
    ev = Tables(spark, sf_dir).events
    per_min = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count(F.lit(1)).alias("epm"))
    return per_min.groupBy("user_id").agg(
        F.max("epm").alias("peak_epm"),
        F.sum("epm").alias("n_events"),
        F.count(F.lit(1)).alias("n_active_minutes"),
        (F.max("epm") >= 5).alias("flagged_bot"),
    )


@query(
    "events_sessionized_funnel",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ses AS (
        SELECT user_id, event_type, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    ),
    stages AS (
        SELECT user_id, session_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM ses GROUP BY user_id, session_id
    )
    SELECT
        CAST(count(*) AS BIGINT) AS n_sessions,
        CAST(count(t_view) AS BIGINT) AS s_viewed,
        CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT) AS s_view_click,
        CAST(count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
             AS BIGINT) AS s_full_funnel
    FROM stages
    """,
)
def events_sessionized_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion WITHIN a single session: view -> click -> purchase
    must happen in order inside one visit (the per-user funnel
    overstates conversion by crediting stages days apart).  Composes
    the sessionization cumsum with the conditional-min ordered-funnel
    pattern — all on ONE user_id shuffle: the session window, the
    per-session stage mins, and the final count reuse the same
    partitioning; no self-joins anywhere.  Strict inequalities keep
    the order check identical in both engines (timestamps are
    microsecond-aligned in this corpus)."""
    ev = Tables(spark, sf_dir).events
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    secs = F.col("ts").cast("timestamp").cast("double")
    prev = F.lag("ts").over(w_ord)
    prev_secs = prev.cast("timestamp").cast("double")
    ses = ev.withColumn(
        "new_s", F.when(prev.isNull() | (secs - prev_secs > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_s").over(w_run))
    smin = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = ses.groupBy("user_id", "session_id").agg(
        smin("view").alias("t_view"),
        smin("click").alias("t_click"),
        smin("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("t_view").alias("s_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("s_view_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("s_full_funnel"),
    )


#: a purchase event at/above this value is a "big-ticket conversion" —
#: chosen so the converted share sits mid-range (not 0/1) at every
#: driver scale factor, keeping the z-statistic well-defined.
ABTEST_CONVERSION_VALUE = 150.0


@query(
    "events_experiment_abtest",
    oracle=f"""
    WITH peruser AS (
        SELECT user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS BIGINT) % 2
                   AS variant,
               max(CASE WHEN event_type = 'purchase' AND value >= {ABTEST_CONVERSION_VALUE}
                        THEN 1 ELSE 0 END) AS converted,
               sum(CASE WHEN event_type = 'purchase'
                        THEN {money_cents_sql('value')}
                        ELSE 0 END) AS purchase_cents
        FROM events
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT
            CAST(count(*) FILTER (variant = 0) AS BIGINT) AS n_control,
            CAST(count(*) FILTER (variant = 1) AS BIGINT) AS n_treatment,
            CAST(sum(converted) FILTER (variant = 0) AS BIGINT) AS conv_control,
            CAST(sum(converted) FILTER (variant = 1) AS BIGINT) AS conv_treatment,
            round(CAST(sum(purchase_cents) FILTER (variant = 0) AS DOUBLE) / 100, 2)
                AS revenue_control,
            round(CAST(sum(purchase_cents) FILTER (variant = 1) AS DOUBLE) / 100, 2)
                AS revenue_treatment
        FROM peruser
    )
    SELECT n_control, n_treatment, conv_control, conv_treatment,
           revenue_control, revenue_treatment,
           round(conv_control * 1.0 / n_control, 4) AS rate_control,
           round(conv_treatment * 1.0 / n_treatment, 4) AS rate_treatment,
           round(conv_treatment * 1.0 / n_treatment
                 - conv_control * 1.0 / n_control, 4) AS lift,
           round((conv_treatment * 1.0 / n_treatment - conv_control * 1.0 / n_control)
                 / sqrt(((conv_control + conv_treatment) * 1.0
                         / (n_control + n_treatment))
                        * (1.0 - (conv_control + conv_treatment) * 1.0
                           / (n_control + n_treatment))
                        * (1.0 / n_control + 1.0 / n_treatment)), 4) AS z_score
    FROM agg
    """,
)
def events_experiment_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are deterministically assigned to
    control/treatment by md5(user_id) parity (the standard
    hash-bucketing that needs no coordination or assignment table),
    conversion = any big-ticket purchase, and the two-proportion pooled
    z-statistic is computed in closed form from the four counts.

    Scale design: one (user_id) shuffle builds per-user facts with
    mergeable aggs; everything after is a 1-row conditional-sum fold —
    the experiment readout costs the same as a count.  Assignment via
    md5 parity is uniform and stable across runs/engines (the same hash
    family every dedup operator here uses)."""
    e = Tables(spark, sf_dir).events
    variant = (
        F.expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)")
        % 2
    )
    is_conv_event = (F.col("event_type") == "purchase") & (
        F.col("value") >= ABTEST_CONVERSION_VALUE
    )
    # variant is a pure function of the group key, so it is derived
    # AFTER the rollup — one md5 per user; feeding it through an
    # aggregate (first(variant)) would hash once per EVENT row inside
    # the corpus scan
    # per-user purchase totals carry as exact integer CENTS so the
    # two whole-table variant sums below are order-free (r10 exactsum
    # sweep: the two-level float shape's margin fell 4534x -> 505x on
    # the sf3 -> sf10 step — trending into lottery territory)
    zero = F.lit(0).cast("long")
    peruser = (
        e.groupBy("user_id")
        .agg(
            F.max(F.when(is_conv_event, 1).otherwise(0)).alias("converted"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", money_cents("value")
                ).otherwise(zero)
            ).alias("purchase_cents"),
        )
        .withColumn("variant", variant)
    )
    agg = peruser.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_control"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_treatment"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))).alias("conv_control"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))).alias("conv_treatment"),
        F.round(
            F.sum(F.when(F.col("variant") == 0, F.col("purchase_cents"))).cast("double")
            / 100,
            2,
        ).alias("revenue_control"),
        F.round(
            F.sum(F.when(F.col("variant") == 1, F.col("purchase_cents"))).cast("double")
            / 100,
            2,
        ).alias("revenue_treatment"),
    )
    rate_c = F.col("conv_control") / F.col("n_control")
    rate_t = F.col("conv_treatment") / F.col("n_treatment")
    pooled = (F.col("conv_control") + F.col("conv_treatment")) / (
        F.col("n_control") + F.col("n_treatment")
    )
    z = (rate_t - rate_c) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("n_control") + 1.0 / F.col("n_treatment"))
    )
    return agg.select(
        "n_control",
        "n_treatment",
        "conv_control",
        "conv_treatment",
        "revenue_control",
        "revenue_treatment",
        F.round(rate_c, 4).alias("rate_control"),
        F.round(rate_t, 4).alias("rate_treatment"),
        F.round(rate_t - rate_c, 4).alias("lift"),
        F.round(z, 4).alias("z_score"),
    )
