"""Events and time series: event-time windows, sessions, cohorts, funnels,
resampling, trends, SCD2 history and change application."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import dsum
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.sessions import sessionize
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import _dsum_sql


@query(oracle="""
            WITH t AS (
                SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
                WHERE o_orderkey % 97 != 0
            ), s AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderstatus
                FROM orders WHERE o_orderkey % 89 != 0
            )
            SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                   CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                        ELSE t.o_totalprice END AS o_totalprice,
                   CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                        ELSE t.o_orderstatus END AS o_orderstatus,
                   CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                        WHEN s.o_orderkey IS NULL THEN 'delete'
                        WHEN NOT (s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice)
                          OR NOT (s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
                        THEN 'update' ELSE 'unchanged' END AS change
            FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
        """)
def q_merge_upsert(spark, sf_dir):
    """Snapshot merge: fold a deterministic change batch (some rows
    missing, some doubled totals) into a target snapshot in ONE
    full-outer join, emitting the next snapshot + change audit."""
    from gdp_etl_spark.operators.merge import merge_upsert

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    target = o.filter(F.col("o_orderkey") % 97 != 0)
    source = o.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    return merge_upsert(target, source, keys=["o_orderkey"])


@query(oracle="""
            WITH ch AS (
              SELECT o_custkey AS c_custkey, o_orderkey AS seq,
                     CASE o_orderstatus WHEN 'P' THEN 'delete'
                                        WHEN 'O' THEN 'insert'
                                        ELSE 'update' END AS op,
                     CAST(o_totalprice AS DOUBLE) AS c_acctbal,
                     o_orderpriority AS c_mktsegment
              FROM orders
            ),
            -- o_orderkey is globally unique (TPC-H), so (key, seq) never
            -- ties and the xxhash64 content tie-break latest_changes
            -- adds after (seq, op-rank) is unreachable on this fixture;
            -- the trailing ORDER BY columns below only pin DuckDB's own
            -- determinism, they do not model the hash ordering
            latest AS (
              SELECT * FROM ch
              QUALIFY row_number() OVER (
                PARTITION BY c_custkey
                ORDER BY seq DESC,
                         CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC,
                         c_acctbal, c_mktsegment
              ) = 1
            ),
            j AS (
              SELECT coalesce(c.c_custkey, s.c_custkey) AS c_custkey,
                     CASE WHEN c.c_custkey IS NOT NULL
                          THEN c.c_acctbal ELSE s.c_acctbal END
                       AS c_acctbal,
                     CASE WHEN c.c_custkey IS NOT NULL
                          THEN c.c_mktsegment ELSE s.c_mktsegment END
                       AS c_mktsegment,
                     c.op AS op
              FROM customer s FULL OUTER JOIN latest c
                ON s.c_custkey = c.c_custkey
            )
            SELECT c_custkey, c_acctbal, c_mktsegment
            FROM j WHERE op IS NULL OR op <> 'delete'
        """)
def q_cdc_apply(spark, sf_dir):
    """CDC change-log application (operators.cdc.apply_changes): an
    out-of-order insert/update/delete event log — synthesized from
    orders (status P→delete, else upsert; o_orderkey as the sequence)
    — compacted to the latest event per customer in one partitioned
    window, then folded into the customer snapshot in one
    co-partitioned full-outer join.  Deletes drop, upserts win
    (including explicit NULLs), untouched snapshot rows carry over."""
    from gdp_etl_spark.operators.cdc import apply_changes

    snap = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    o = _t(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderstatus") == "P", F.lit("delete"))
        .when(F.col("o_orderstatus") == "O", F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("o_totalprice").cast("double").alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
    )
    return apply_changes(snap, changes, ["c_custkey"], "seq")


@query(oracle=f"""
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
                   event_type, count(*) AS n, {_dsum_sql('value')} AS total_value
            FROM events GROUP BY 1, 2
        """)
def q_events_tumbling(spark, sf_dir):
    """Tumbling 1-hour windows over event time (batch form of the
    streaming window agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n", "total_value"
        )
    )


@query(oracle="""
            WITH e AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM e GROUP BY user_id
        """)
def q_events_sessions(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions per user (lag + running
    sum), then per-user session/event counts."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id")
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(oracle="""
            SELECT ws AS window_start, event_type, count(*) AS n
            FROM (SELECT unnest([
                       date_trunc('hour', CAST(ts AS TIMESTAMP))
                         - INTERVAL 1 HOUR,
                       date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ]) AS ws, event_type
                  FROM events)
            GROUP BY 1, 2
        """)
def q_events_sliding(spark, sf_dir):
    """Sliding windows (2-hour width, 1-hour slide): every event lands
    in exactly two windows.  Spark's window() generates the copies
    JVM-side; the oracle mirrors with an explicit 2-element unnest."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@query(oracle="""
            WITH uw AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
                FROM events
            ), fw AS (
                SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1
            )
            SELECT cohort_week,
                   CAST(date_diff('day', CAST(cohort_week AS DATE),
                                  CAST(week AS DATE)) / 7 AS INT) AS week_offset,
                   count(DISTINCT user_id) AS n_users
            FROM uw JOIN fw USING (user_id)
            GROUP BY 1, 2
        """)
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-active week ×
    weeks-since-cohort.  distinct → groupBy → join all key on user_id,
    so the join reuses the aggregation's partitioning (no extra
    exchange); week offsets are exact 7-day multiples, so the /7 cast
    is engine-portable."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(first, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(oracle="""
            WITH m AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view'
                                THEN CAST(ts AS TIMESTAMP) END) AS t_view,
                       min(CASE WHEN event_type = 'click'
                                THEN CAST(ts AS TIMESTAMP) END) AS t_click,
                       min(CASE WHEN event_type = 'purchase'
                                THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
                FROM events GROUP BY 1
            )
            SELECT count(*) AS n_users,
                   CAST(sum(CASE WHEN t_view IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
                   CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                                 THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
                   CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                                  AND t_purchase > t_click
                                 THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
            FROM m
        """)
def q_funnel(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase: first-touch
    timestamps per user in ONE pass (conditional min aggregates — no
    per-step self-joins, which at scale would be three shuffles instead
    of one), then strict-order step counts."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        *[
            F.min(
                F.when(F.col("event_type") == step, F.col("ts"))
            ).alias(f"t_{step}")
            for step in ("view", "click", "purchase")
        ]
    )
    c = F.col
    return m.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(c("t_view").isNotNull(), 1).otherwise(0)).alias("step_view"),
        F.sum(
            F.when(c("t_view").isNotNull() & (c("t_click") > c("t_view")), 1)
            .otherwise(0)
        ).alias("step_click"),
        F.sum(
            F.when(
                c("t_view").isNotNull()
                & (c("t_click") > c("t_view"))
                & (c("t_purchase") > c("t_click")),
                1,
            ).otherwise(0)
        ).alias("step_purchase"),
    )


@query(oracle="""
            WITH b AS (
              SELECT user_id, date_trunc('hour', min(ts)) AS lo,
                     date_trunc('hour', max(ts)) AS hi
              FROM events GROUP BY 1),
            dense AS (
              SELECT user_id,
                     unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
              FROM b),
            latest AS (
              SELECT user_id, date_trunc('hour', ts) AS bucket, value,
                     row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                        ORDER BY ts DESC) AS rn
              FROM events),
            j AS (
              SELECT d.user_id, d.bucket, l.value
              FROM dense d LEFT JOIN (SELECT * FROM latest WHERE rn = 1) l
                ON d.user_id = l.user_id AND d.bucket = l.bucket)
            SELECT user_id, CAST(bucket AS TIMESTAMP) AS bucket,
                   last_value(value IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
                   value IS NOT NULL AS was_observed
            FROM j
        """)
def q_resample_locf(spark, sf_dir):
    """Per-user hourly resample of the irregular events series with
    last-observation-carried-forward fill — densify via distributed
    ``sequence`` explode + ignorenulls window, zero UDFs."""
    from gdp_etl_spark.operators.timeseries import resample_locf

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return resample_locf(ev, ["user_id"], "ts", "value", step="1 hour")


@query(oracle="""
            WITH runs AS (
              SELECT o_custkey, o_orderdate, o_orderpriority,
                     CASE WHEN row_number() OVER w = 1 THEN TRUE
                          ELSE NOT (o_orderpriority IS NOT DISTINCT FROM
                                    lag(o_orderpriority) OVER w) END AS chg
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderpriority))
            SELECT o_custkey, o_orderpriority,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER w2 AS valid_to,
                   lead(o_orderdate) OVER w2 IS NULL AS is_current
            FROM runs WHERE chg
            WINDOW w2 AS (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderpriority)
        """)
def q_scd2(spark, sf_dir):
    """SCD-type-2 history build: compress each customer's order-priority
    change log into validity intervals [valid_from, valid_to) — one row
    per run of consecutive equal values (gaps-and-islands + lead)."""
    from gdp_etl_spark.operators.timeseries import scd2_intervals

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    return scd2_intervals(o, ["o_custkey"], "o_orderdate", "o_orderpriority")


@query(oracle="""
            WITH pts AS (
              SELECT event_type,
                     CAST(floor((epoch_us(ts) / 3600000000.0) * 1e6)
                          AS DECIMAL(19,0)) AS qx,
                     CAST(floor(value * 1e6) AS DECIMAL(19,0)) AS qy
              FROM events),
            s AS (
              SELECT event_type,
                     count(CASE WHEN qx IS NOT NULL AND qy IS NOT NULL
                                THEN 1 END) AS n,
                     (CAST((sum(CASE WHEN qy IS NOT NULL THEN qx END) - sum(CASE WHEN qy IS NOT NULL THEN qx END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN qy IS NOT NULL THEN qx END) % 4294967296 AS DOUBLE)) / 1e6 AS sx,
                     (CAST((sum(CASE WHEN qx IS NOT NULL THEN qy END) - sum(CASE WHEN qx IS NOT NULL THEN qy END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN qx IS NOT NULL THEN qy END) % 4294967296 AS DOUBLE)) / 1e6 AS sy,
                     (CAST((sum(qx * qy) - sum(qx * qy) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(qx * qy) % 4294967296 AS DOUBLE)) / 1e12 AS sxy,
                     (CAST((sum(CASE WHEN qy IS NOT NULL THEN qx * qx END) - sum(CASE WHEN qy IS NOT NULL THEN qx * qx END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN qy IS NOT NULL THEN qx * qx END) % 4294967296 AS DOUBLE)) / 1e12 AS sxx,
                     (CAST((sum(CASE WHEN qx IS NOT NULL THEN qy * qy END) - sum(CASE WHEN qx IS NOT NULL THEN qy * qy END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN qx IS NOT NULL THEN qy * qy END) % 4294967296 AS DOUBLE)) / 1e12 AS syy
              FROM pts GROUP BY 1)
            SELECT event_type, n,
                   CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN
                     (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
                   CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN
                     (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                             / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                       / CAST(n AS DOUBLE) END AS intercept,
                   CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                         AND CAST(n AS DOUBLE) * syy - sy * sy <> 0 THEN
                     ((CAST(n AS DOUBLE) * sxy - sx * sy)
                      * (CAST(n AS DOUBLE) * sxy - sx * sy))
                       / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
            FROM s
        """)
def q_linear_trend(spark, sf_dir):
    """Per-event-type OLS trend of value over time (hours since epoch):
    closed-form slope/intercept/r2 from five decimal-exact sufficient
    sums in ONE hash agg — deterministic where native regr_* aggregates
    are order-dependent."""
    from gdp_etl_spark.operators.regression import grouped_linear_fit

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros("ts") / F.lit(3.6e9)).alias("x_hours"),
        F.col("value"),
    )
    return grouped_linear_fit(ev, ["event_type"], "x_hours", "value")


@query(oracle="""
            WITH q AS (
              SELECT event_type,
                     CAST(floor(value * 1e6) AS DECIMAL(19,0)) AS qv
              FROM events
              WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
            s AS (
              SELECT count(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
                     count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_b,
                     (CAST((sum(CASE WHEN event_type = 'click' THEN qv END) - sum(CASE WHEN event_type = 'click' THEN qv END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN event_type = 'click' THEN qv END) % 4294967296 AS DOUBLE)) / 1e6 AS sa,
                     (CAST((sum(CASE WHEN event_type = 'click' THEN qv * qv END) - sum(CASE WHEN event_type = 'click' THEN qv * qv END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN event_type = 'click' THEN qv * qv END) % 4294967296 AS DOUBLE)) / 1e12 AS saa,
                     (CAST((sum(CASE WHEN event_type = 'purchase' THEN qv END) - sum(CASE WHEN event_type = 'purchase' THEN qv END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN event_type = 'purchase' THEN qv END) % 4294967296 AS DOUBLE)) / 1e6 AS sb,
                     (CAST((sum(CASE WHEN event_type = 'purchase' THEN qv * qv END) - sum(CASE WHEN event_type = 'purchase' THEN qv * qv END) % 4294967296) / 4294967296 AS DOUBLE) * 4294967296.0 + CAST(sum(CASE WHEN event_type = 'purchase' THEN qv * qv END) % 4294967296 AS DOUBLE)) / 1e12 AS sbb
              FROM q),
            d AS (
              SELECT n_a, n_b,
                     sa / n_a AS mean_a, sb / n_b AS mean_b,
                     (saa - sa * sa / n_a) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
                     (sbb - sb * sb / n_b) / (CAST(n_b AS DOUBLE) - 1.0) AS vb
              FROM s)
            SELECT n_a, n_b, mean_a, mean_b,
                   CASE WHEN n_a >= 2 AND n_b >= 2
                         AND va / n_a + vb / n_b > 0 THEN
                     (mean_a - mean_b) / sqrt(va / n_a + vb / n_b) END AS t_stat,
                   CASE WHEN n_a >= 2 AND n_b >= 2
                         AND va / n_a + vb / n_b > 0 THEN
                     ((va / n_a + vb / n_b) * (va / n_a + vb / n_b))
                       / ((va / n_a) * (va / n_a) / (CAST(n_a AS DOUBLE) - 1.0)
                          + (vb / n_b) * (vb / n_b)
                            / (CAST(n_b AS DOUBLE) - 1.0)) END AS dof
            FROM d
        """)
def q_ab_test(spark, sf_dir):
    """Welch's two-sample t between click and purchase event values —
    one scan, quantized Σv/Σv² sums, closed-form t and
    Welch–Satterthwaite dof in binary64."""
    from gdp_etl_spark.operators.regression import welch_ttest

    return welch_ttest(
        _t(spark, sf_dir, "events"), "event_type", "value", "click", "purchase"
    )


@query(oracle="""
            WITH runs AS (
              SELECT o_custkey, o_orderdate, o_orderpriority,
                     CASE WHEN row_number() OVER w = 1 THEN TRUE
                          ELSE NOT (o_orderpriority IS NOT DISTINCT FROM
                                    lag(o_orderpriority) OVER w) END AS chg
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderpriority)),
            hist AS (
              SELECT o_custkey AS h_custkey, o_orderpriority AS version_priority,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderpriority) AS valid_to
              FROM runs WHERE chg)
            SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
                   h.version_priority
            FROM orders o JOIN hist h
              ON o.o_custkey = h.h_custkey
             AND o.o_orderdate >= h.valid_from
             AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
        """)
def q_scd2_lookup(spark, sf_dir):
    """Point-in-time lookup against the SCD2 history — the consumption
    side of ``scd2``: each order joined to the priority version active
    for its customer on its order date (valid_from <= d < valid_to,
    open-ended current row).  History and fact hash on the same key, so
    the interval join reuses one exchange; per order it returns exactly
    one version row."""
    from gdp_etl_spark.operators.timeseries import scd2_intervals

    o = _t(spark, sf_dir, "orders")
    hist = scd2_intervals(
        o.select("o_custkey", "o_orderdate", "o_orderpriority"),
        ["o_custkey"],
        "o_orderdate",
        "o_orderpriority",
    ).select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderpriority").alias("version_priority"),
        "valid_from",
        "valid_to",
    )
    fact = o.select("o_orderkey", "o_custkey", "o_orderdate")
    return (
        fact.join(
            hist,
            (F.col("o_custkey") == F.col("h_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "version_priority")
    )


@query(oracle="""
            WITH rc AS (
              SELECT event_type AS category, count(*) AS n_ref
              FROM events WHERE day(ts) <= 15 AND event_type IS NOT NULL
              GROUP BY 1),
            cc AS (
              SELECT event_type AS category, count(*) AS n_cur
              FROM events WHERE day(ts) > 15 AND event_type IS NOT NULL
              GROUP BY 1),
            j AS (
              SELECT coalesce(rc.category, cc.category) AS category,
                     coalesce(rc.n_ref, 0) AS n_ref,
                     coalesce(cc.n_cur, 0) AS n_cur
              FROM rc FULL OUTER JOIN cc ON rc.category = cc.category),
            t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
            SELECT category, n_ref, n_cur,
                   CAST(t.tr * (n_ref + n_cur) AS DOUBLE) / (t.tr + t.tc)
                     AS e_ref,
                   CAST(t.tc * (n_ref + n_cur) AS DOUBLE) / (t.tr + t.tc)
                     AS e_cur,
                   (n_ref - CAST(t.tr * (n_ref + n_cur) AS DOUBLE)
                              / (t.tr + t.tc))
                   * (n_ref - CAST(t.tr * (n_ref + n_cur) AS DOUBLE)
                                / (t.tr + t.tc))
                   / (CAST(t.tr * (n_ref + n_cur) AS DOUBLE) / (t.tr + t.tc))
                   + (n_cur - CAST(t.tc * (n_ref + n_cur) AS DOUBLE)
                                / (t.tr + t.tc))
                     * (n_cur - CAST(t.tc * (n_ref + n_cur) AS DOUBLE)
                                  / (t.tr + t.tc))
                     / (CAST(t.tc * (n_ref + n_cur) AS DOUBLE) / (t.tr + t.tc))
                     AS chi2_contrib
            FROM j, t
        """)
def q_category_drift(spark, sf_dir):
    """Chi-square contingency drift of the event-type mix, first half
    of the month vs second — the categorical sibling of drift_psi."""
    from gdp_etl_spark.operators.profile import category_drift

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15).select("event_type")
    cur = ev.filter(F.dayofmonth("ts") > 15).select("event_type")
    return category_drift(ref, cur, "event_type")


# seasonal-naive residuals + robust flags, grid-densified
@query(oracle="""
            WITH daily AS (
              SELECT event_type,
                     date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS day,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ),
            bounds AS (
              SELECT event_type, min(day) AS lo, max(day) AS hi
              FROM daily GROUP BY 1
            ),
            grid AS (
              SELECT event_type, unnest(generate_series(lo, hi)) AS day
              FROM bounds
            ),
            dense AS (
              SELECT g.event_type, CAST(g.day AS INT) AS day,
                     CAST(coalesce(d.n, 0) AS BIGINT) AS n
              FROM grid g LEFT JOIN daily d
                ON g.event_type = d.event_type AND g.day = d.day
            ),
            r AS (
              SELECT event_type, day, n,
                     lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
                       AS expected,
                     n - lag(n, 7) OVER (PARTITION BY event_type
                                         ORDER BY day) AS residual
              FROM dense
            ),
            stats AS (
              SELECT event_type,
                     quantile_cont(residual, 0.5) AS med
              FROM r WHERE residual IS NOT NULL GROUP BY 1
            ),
            mstats AS (
              SELECT r.event_type, any_value(s.med) AS med,
                     quantile_cont(abs(r.residual - s.med), 0.5) AS mad
              FROM r JOIN stats s USING (event_type)
              WHERE r.residual IS NOT NULL
              GROUP BY r.event_type
            )
            SELECT r.event_type, r.day, r.n, r.expected, r.residual,
                   CASE WHEN r.residual IS NOT NULL AND m.mad <> 0
                        THEN abs(0.6745 * (r.residual - m.med) / m.mad) > 3.5
                        WHEN r.residual IS NOT NULL AND m.mad = 0
                        THEN r.residual <> m.med
                        ELSE FALSE END AS is_anomaly
            FROM r LEFT JOIN mstats m USING (event_type)
        """)
def q_seasonal_anomalies(spark, sf_dir):
    """Seasonal-naive anomaly monitor (timeseries.
    seasonal_residual_anomalies): daily event counts per type,
    densified onto each type's full day grid (zero-filled — lag-7
    must align on calendar days, not observed rows), residuals vs the
    same weekday last week, robust median/MAD flags with the exact
    MAD=0 fallback.  Integer counts + exact interpolated medians keep
    every flag engine-reproducible."""
    from gdp_etl_spark.operators.timeseries import seasonal_residual_anomalies

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("__lo", "__hi")).alias("day"),
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    return seasonal_residual_anomalies(
        dense, ["event_type"], "day", "n", season_lag=7
    )


@query(oracle=f"""
            WITH daily AS (
              SELECT o_orderpriority,
                     datediff('day', DATE '1970-01-01', o_orderdate)
                       AS epoch_day,
                     {_dsum_sql('o_totalprice')} AS day_rev,
                     CAST(count(*) AS DOUBLE) AS n_orders
              FROM orders GROUP BY 1, 2),
            q AS (
              SELECT o_orderpriority, epoch_day,
                     CAST(floor(day_rev * 1e6) AS DECIMAL(19,0)) AS qx,
                     CAST(floor(n_orders * 1e6) AS DECIMAL(19,0)) AS qy
              FROM daily),
            rawsums AS (
              SELECT o_orderpriority, epoch_day,
                     CAST(count(*) OVER w AS DOUBLE) AS n,
                     sum(qx) OVER w AS sqx, sum(qy) OVER w AS sqy,
                     sum(qx * qy) OVER w AS sqxy,
                     sum(qx * qx) OVER w AS sqxx,
                     sum(qy * qy) OVER w AS sqyy
              FROM q
              WINDOW w AS (PARTITION BY o_orderpriority ORDER BY epoch_day
                           RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)),
            -- decimal→double via the hi/lo 2^32 split (cross-engine
            -- identical rounding; direct casts diverge above 2^53)
            sums AS (
              SELECT o_orderpriority, epoch_day, n,
                (CAST((sqx - sqx % 4294967296) / 4294967296 AS DOUBLE)
                   * 4294967296.0
                 + CAST(sqx % 4294967296 AS DOUBLE)) / 1e6 AS sx,
                (CAST((sqy - sqy % 4294967296) / 4294967296 AS DOUBLE)
                   * 4294967296.0
                 + CAST(sqy % 4294967296 AS DOUBLE)) / 1e6 AS sy,
                (CAST((sqxy - sqxy % 4294967296) / 4294967296 AS DOUBLE)
                   * 4294967296.0
                 + CAST(sqxy % 4294967296 AS DOUBLE)) / 1e12 AS sxy,
                (CAST((sqxx - sqxx % 4294967296) / 4294967296 AS DOUBLE)
                   * 4294967296.0
                 + CAST(sqxx % 4294967296 AS DOUBLE)) / 1e12 AS sxx,
                (CAST((sqyy - sqyy % 4294967296) / 4294967296 AS DOUBLE)
                   * 4294967296.0
                 + CAST(sqyy % 4294967296 AS DOUBLE)) / 1e12 AS syy
              FROM rawsums)
            SELECT o_orderpriority, CAST(epoch_day AS INT) AS epoch_day,
                   CAST(n AS BIGINT) AS n_window,
                   CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0 THEN
                     (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END
                     AS corr
            FROM sums
        """)
def q_rolling_corr(spark, sf_dir):
    """Trailing-30-day correlation between daily revenue and daily
    order count per priority — windowed fixed-point sufficient sums
    (decimal through the RANGE frame), closed-form corr per row."""
    from gdp_etl_spark.operators.regression import rolling_corr

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).alias(
            "epoch_day"
        ),
    ).agg(
        dsum("o_totalprice", "day_rev"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return rolling_corr(
        daily, ["o_orderpriority"], "epoch_day", "day_rev", "n_orders",
        preceding=29,
    )
