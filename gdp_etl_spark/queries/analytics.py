"""SQL analytics surface: grouping sets, ranking and frame windows, scalar
and array function families, non-equi joins, recursive CTEs and SQL/UDTF APIs."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import dsum
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import _dsum_sql


@query(oracle="""
            SELECT o_custkey, o_orderkey,
                   first_value(o_totalprice) OVER w AS first_price,
                   last_value(o_totalprice) OVER w AS last_price,
                   nth_value(o_totalprice, 2) OVER w AS second_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
        """)
def q_value_windows(spark, sf_dir):
    """Value-window family: first_value / last_value / nth_value over an
    explicit whole-partition frame (engine default frames differ — pin
    the frame in both engines), per customer ordered by date."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@query(oracle="""
            SELECT user_id,
                   CAST(len(list_sort(list(DISTINCT event_type))) AS INT)
                     AS n_types,
                   list_contains(list(DISTINCT event_type), 'purchase')
                     AS has_purchase,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                     AS types_csv
            FROM events GROUP BY user_id
        """)
def q_array_agg(spark, sf_dir):
    """Array aggregation family: sorted distinct collect per group +
    size + membership test.  The raw ``array<string>`` stays internal
    (``types_csv`` is its canonical serialization) so every registered
    output column is hashable by the driver's pandas canonicalizer; the
    raw-array variant is exercised in tests/test_operators.py."""
    ev = _t(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.size(types).alias("n_types"),
        F.array_contains(types, "purchase").alias("has_purchase"),
        F.concat_ws(",", types).alias("types_csv"),
    )


@query(oracle=f"""
            SELECT c_mktsegment, count(*) AS n, {_dsum_sql('o_totalprice')} AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """)
def q_salted_join(spark, sf_dir):
    """Skew-mitigation salted join: result is row-identical to the plain
    equi-join (the oracle is the plain join), only the shuffle keys
    carry the salt."""
    from gdp_etl_spark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, ["o_custkey"], num_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total")
    )


@query(oracle=f"""
            WITH rev AS (
              SELECT n_name, CAST(year(o_orderdate) AS INT) AS year,
                     {_dsum_sql('o_totalprice')} AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1, 2)
            SELECT n_name, year, revenue,
                   CAST(SUM(CAST(revenue AS DECIMAL(28,6)))
                        OVER (PARTITION BY n_name ORDER BY year
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS revenue_3y,
                   revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY year)
                     AS yoy_delta
            FROM rev
        """)
def q_rolling_window(spark, sf_dir):
    """Rolling-frame window analytics: 3-year trailing revenue sum and
    year-over-year delta per nation (ROWS frame + lag) — decimal-exact
    inside the frame so both engines agree bit-for-bit."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year("o_orderdate").alias("year"))
        .agg(dsum("o_totalprice", "revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("year")
    rolling = (
        F.sum(F.col("revenue").cast("decimal(28,6)"))
        .over(w.rowsBetween(-2, 0))
        .cast("double")
    )
    return rev.select(
        "n_name", "year", "revenue",
        rolling.alias("revenue_3y"),
        (F.col("revenue") - F.lag("revenue").over(w)).alias("yoy_delta"),
    )


@query(oracle=f"""
            SELECT r_name, n_name, {_dsum_sql('o_totalprice')} AS revenue,
                   count(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """)
def q_native_rollup(spark, sf_dir):
    """Native ROLLUP subtotals (columnar hierarchies — the data-driven
    ragged hierarchy uses the closure operator instead; this covers the
    columnar case)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.rollup("r_name", "n_name").agg(
        dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n")
    )


@query(oracle=f"""
            SELECT o_orderpriority, o_orderstatus,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
                   {_dsum_sql('o_totalprice')} AS revenue,
                   count(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                    (o_orderstatus), ())
        """)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id disambiguation (ROLLUP's
    general form: arbitrary subtotal combinations in one shuffle pass —
    at scale one grouping-sets job replaces S separate groupBys and S
    scans)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            dsum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "revenue", "n")
    )


@query(oracle="""
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   CAST(rn AS INT) AS rn, CAST(rnk AS INT) AS rnk,
                   CAST(drnk AS INT) AS drnk,
                   CAST(quartile AS INT) AS quartile,
                   pct_rank, cdist
            FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                         row_number() OVER w AS rn,
                         rank() OVER w AS rnk,
                         dense_rank() OVER w AS drnk,
                         ntile(4) OVER w AS quartile,
                         percent_rank() OVER w AS pct_rank,
                         cume_dist() OVER w AS cdist
                  FROM customer
                  WINDOW w AS (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey ASC))
            WHERE rn <= 3
        """)
def q_rank_windows(spark, sf_dir):
    """Ranking-function family: row_number / rank / dense_rank / ntile /
    percent_rank / cume_dist per group, top-3 by balance."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cdist"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(oracle="""
            SELECT n_name,
                   lower(n_name) AS lower_name,
                   -- initcap of NATION_12 -> Nation_12 (underscore is not
                   -- a word boundary for Spark initcap)
                   upper(substr(lower(n_name), 1, 1))
                     || substr(lower(n_name), 2) AS title_name,
                   regexp_replace(n_name, '_[0-9]+$', '') AS base_name,
                   substr(n_name, 1, 6) AS prefix6,
                   reverse(n_name) AS rev_name,
                   replace(n_name, '_', '-') AS dashed
            FROM nation
        """)
def q_string_funcs(spark, sf_dir):
    """String-function family: case folding, trim, replace, regexp
    replace, substring, split-part, reverse."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.lower("n_name").alias("lower_name"),
        F.initcap(F.lower("n_name")).alias("title_name"),
        F.regexp_replace("n_name", "_[0-9]+$", "").alias("base_name"),
        F.substring("n_name", 1, 6).alias("prefix6"),
        F.reverse(F.col("n_name")).alias("rev_name"),
        F.replace(F.col("n_name"), F.lit("_"), F.lit("-")).alias("dashed"),
    )


@query(oracle=f"""
            SELECT c_mktsegment,
                   count(*) FILTER (WHERE c_acctbal > 0) AS n_pos,
                   bool_and(c_acctbal > 0) AS all_pos,
                   bool_or(c_acctbal > 9000) AS any_rich,
                   {_dsum_sql('CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END')}
                     AS pos_bal
            FROM customer GROUP BY c_mktsegment
        """)
def q_conditional_agg(spark, sf_dir):
    """Conditional/boolean aggregates: count_if, bool_and/bool_or,
    sum FILTER-style via when()."""
    c = _t(spark, sf_dir, "customer")
    pos = F.col("c_acctbal") > 0
    return c.groupBy("c_mktsegment").agg(
        F.count_if(pos).alias("n_pos"),
        F.bool_and(pos).alias("all_pos"),
        F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
        dsum(F.when(pos, F.col("c_acctbal")).otherwise(F.lit(0.0)), "pos_bal"),
    )


@query(oracle="""
            SELECT event_type, count(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS min_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS max_k
            FROM events GROUP BY event_type
        """)
def q_json_extract(spark, sf_dir):
    """Semi-structured handling: extract a typed field from the JSON
    props column (JVM-side get_json_object; no UDF) and aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(oracle="""
            SELECT c_mktsegment,
                   median(c_acctbal) AS median_bal,
                   min(c_acctbal) AS min_bal,
                   max(c_acctbal) AS max_bal,
                   count(*) AS n
            FROM customer GROUP BY c_mktsegment
        """)
def q_group_stats(spark, sf_dir):
    """Statistical aggregates per group: exact interpolated median plus
    extrema (both engines use the linear-interpolation definition)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.median("c_acctbal").alias("median_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.count(F.lit(1)).alias("n"),
    )


@query(oracle="""
            WITH urgent AS (SELECT DISTINCT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT'
                              AND year(o_orderdate) = 1997)
            SELECT c_mktsegment,
                   count(*) FILTER (WHERE EXISTS
                     (SELECT 1 FROM urgent u WHERE u.o_custkey = c.c_custkey))
                     AS n_with,
                   count(*) FILTER (WHERE NOT EXISTS
                     (SELECT 1 FROM urgent u WHERE u.o_custkey = c.c_custkey))
                     AS n_without
            FROM customer c GROUP BY c_mktsegment
        """)
def q_semi_anti_join(spark, sf_dir):
    """Left-semi / left-anti joins (the existence idioms the closure uses
    internally): customers with vs without an urgent 1997 order."""
    c = _t(spark, sf_dir, "customer")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1997))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    with_u = c.join(urgent, "c_custkey", "left_semi").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_with")
    )
    without_u = c.join(urgent, "c_custkey", "left_anti").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_without")
    )
    return with_u.join(without_u, "c_mktsegment", "full")


@query(oracle="""
            SELECT l.event_id, l.user_id, l.ts,
                   r.ts AS ts_asof, r.value AS value_asof
            FROM events l ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events
                  WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """)
def q_asof_join(spark, sf_dir):
    """As-of join (most-recent-match): every event carries the latest
    prior purchase by the same user — union + one window, single
    shuffle, no range explosion.  Oracle: DuckDB native ASOF LEFT JOIN."""
    from gdp_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"), purchases,
        on=["user_id"], left_ts="ts", right_ts="ts", value_cols=["value"],
    )


@query(oracle="""
            WITH e AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
                        AS session_id
              FROM e),
            iv AS (SELECT user_id, session_id, min(ts_us) AS lo, max(ts_us) AS hi
                   FROM s GROUP BY 1, 2)
            SELECT p.event_id, p.user_id, iv.session_id
            FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events) p
            JOIN iv ON p.user_id = iv.user_id
                   AND p.ts_us BETWEEN iv.lo AND iv.hi
        """)
def q_range_join(spark, sf_dir):
    """Banded point-in-interval join (non-equi → equi via bands): map
    every event back to the session interval containing it."""
    from gdp_etl_spark.operators.rangejoin import point_in_interval_join
    from gdp_etl_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    points = ev.select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
    intervals = session_stats(
        ev, "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id"
    ).select(
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("lo_us"),
        F.unix_micros("session_end").alias("hi_us"),
    )
    return point_in_interval_join(
        points, intervals, "ts_us", "lo_us", "hi_us",
        band_width=3_600_000_000, keys=("user_id",),
    ).select("event_id", "user_id", "session_id")


#: TPC-H Q1-shaped pricing summary — ONE SQL text executed verbatim by
#: both Spark SQL and the DuckDB oracle (the SQL-API parity proof: the
#: engine's declarative surface is ANSI enough to share the exact
#: query).  Decimal-sum casts keep double totals order-independent.
_SQL_API_TEXT = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@query(oracle=_SQL_API_TEXT)
def q_sql_api(spark, sf_dir):
    """The SQL surface: register the parquet as a view and run the
    TPC-H-Q1-shaped text through ``spark.sql`` — Catalyst plans it
    identically to the DataFrame form (pushdown, partial aggregation,
    one shuffle)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_API_TEXT)


_SQL_API_Q3_TEXT = """
    SELECT l_orderkey, o_orderdate,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


@query(oracle=_SQL_API_Q3_TEXT)
def q_sql_api_q3(spark, sf_dir):
    """Second SQL-API parity proof, this time with joins + top-k: the
    exact Q3-shaped text below runs verbatim on spark.sql AND DuckDB
    (the oracle IS this string).  Catalyst still broadcasts the dims
    and plans TakeOrderedAndProject from the raw SQL."""
    for t in ("lineitem", "orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_Q3_TEXT)


@query(oracle="""
            SELECT CAST(d AS DATE) AS d,
                   CAST(year(d) AS INT) AS year,
                   CAST(quarter(d) AS INT) AS quarter,
                   CAST(month(d) AS INT) AS month,
                   CAST(day(d) AS INT) AS day,
                   CAST(isodow(d) AS INT) AS iso_dow,
                   isodow(d) >= 6 AS is_weekend
            FROM (SELECT unnest(generate_series(DATE '1992-01-01',
                                                DATE '1998-12-31',
                                                INTERVAL 1 DAY)) AS d)
        """)
def q_calendar_dim(spark, sf_dir):
    """Date-dimension generation entirely from a distributed sequence
    explode (no source table): one row per day 1992-1998 with the
    standard derived attributes.  The dimension every time-rollup joins
    against; generated, never hand-maintained."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1992-01-01").cast("date"),
                F.lit("1998-12-31").cast("date"),
            )
        ).alias("d")
    )
    return days.select(
        F.col("d"),
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day"),
        # ISO day-of-week (Mon=1) is engine-portable; Spark's dayofweek
        # (Sun=1) is not DuckDB's convention
        F.expr("extract(DAYOFWEEK_ISO FROM d)").cast("int").alias("iso_dow"),
        (F.expr("extract(DAYOFWEEK_ISO FROM d)") >= 6).alias("is_weekend"),
    )


@query(oracle=f"""
            WITH rev AS (
              SELECT n_name, {_dsum_sql('o_totalprice')} AS revenue
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1),
            c AS (
              SELECT n_name, revenue,
                     sum(revenue) OVER (ORDER BY revenue DESC, n_name
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       / sum(revenue) OVER () AS cum_share
              FROM rev)
            SELECT n_name, revenue, cum_share,
                   CASE WHEN cum_share <= 0.80 THEN 'A'
                        WHEN cum_share <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM c
        """)
def q_pareto_share(spark, sf_dir):
    """Pareto / ABC analysis: per-nation revenue, cumulative share in
    descending-revenue order, and the ABC class cut at 80%/95% — one
    agg + one window over the 25-row rollup."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice", "revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), "n_name").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_share = F.sum("revenue").over(w) / F.sum("revenue").over(total)
    return rev.select(
        "n_name",
        "revenue",
        cum_share.alias("cum_share"),
        F.when(cum_share <= 0.80, "A")
        .when(cum_share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(oracle="""
            WITH daily AS (
              SELECT o_orderpriority,
                     datediff('day', DATE '1970-01-01', o_orderdate)
                       AS epoch_day,
                     SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
              FROM orders GROUP BY 1, 2)
            SELECT o_orderpriority, CAST(epoch_day AS INT) AS epoch_day,
                   CAST(rev AS DOUBLE) AS day_rev,
                   CAST(SUM(rev) OVER w AS DOUBLE) AS rev_90d,
                   count(*) OVER w AS days_in_window
            FROM daily
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY epoch_day
                         RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
        """)
def q_range_frame(spark, sf_dir):
    """Value-RANGE window frame (vs the row frames elsewhere): per
    priority, each order day's trailing-90-day revenue — the frame
    bounds follow the ORDER BY *value* (epoch day), so sparse dates
    still cover exactly 90 calendar days, which no rowsBetween can
    express."""
    o = _t(spark, sf_dir, "orders")
    # the per-day sum stays DECIMAL through the window so the windowed
    # re-aggregation is exact too (a double window-sum would expose the
    # engines' different frame-accumulation orders); one cast at the end
    daily = o.groupBy(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).alias(
            "epoch_day"
        ),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("__rev"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("epoch_day")
        .rangeBetween(-89, 0)
    )
    return daily.select(
        "o_orderpriority",
        "epoch_day",
        F.col("__rev").cast("double").alias("day_rev"),
        F.sum("__rev").over(w).cast("double").alias("rev_90d"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


@query(oracle=f"""
            SELECT o_orderpriority, o_orderstatus,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
                   {_dsum_sql('o_totalprice')} AS revenue,
                   count(*) AS n
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """)
def q_cube(spark, sf_dir):
    """Full CUBE over (priority, status): all 2^2 grouping combinations
    with grouping_id, one shuffle pass — completes the ROLLUP /
    GROUPING SETS / CUBE family."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            dsum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "revenue", "n")
    )


@query(oracle="""
            WITH m AS (
              SELECT doc_id,
                     regexp_extract_all(text, '[a-z]{6,}') AS ms
              FROM documents)
            SELECT doc_id, ms[i + 1] AS "match", CAST(i AS INT) AS match_idx
            FROM m, unnest(range(0, len(ms))) AS t(i)
        """)
def q_udtf_matches(spark, sf_dir):
    """Python UDTF surface (table function → rows per input row):
    6+-letter word matches with ordinals via a LATERAL join.  Row-at-a-time Python by
    design — the API-coverage demo; production span extraction stays
    JVM-side (explode(regexp_extract_all), as pii_redact does)."""
    from gdp_etl_spark.operators.udtf import RegexMatches

    spark.udtf.register("regex_matches", RegexMatches)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__docs")
    return spark.sql(
        r"""SELECT d.doc_id, m.match, m.match_idx
            FROM __docs d,
            LATERAL regex_matches(d.text, '[a-z]{6,}') m"""
    )


# calendar family: ISO fields and truncations mirrored exactly
@query(oracle="""
            SELECT o_orderkey,
                   CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP)
                     AS qtr_start,
                   CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)
                     AS week_start,
                   CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
                     AS month_end,
                   CAST(year(o_orderdate) AS INT) AS y,
                   CAST(quarter(o_orderdate) AS INT) AS q,
                   CAST(week(o_orderdate) AS INT) AS iso_week,
                   CAST(isodow(o_orderdate) AS INT) AS iso_dow,
                   CAST(dayofyear(o_orderdate) AS INT) AS doy,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 18 MONTH
                        AS TIMESTAMP) AS plus_18m,
                   CAST(date_diff('day', o_orderdate,
                                  TIMESTAMP '2000-06-15') AS INT)
                     AS days_to_ref,
                   epoch_us(TIMESTAMP '2000-06-15') - epoch_us(o_orderdate)
                     AS micros_to_ref
            FROM orders WHERE o_orderkey % 97 = 0
        """)
def q_datetime_funcs(spark, sf_dir):
    """Datetime scalar-function family over orders: truncations
    (year/quarter/month/week), ISO fields, end-of-month, month
    arithmetic and day/month deltas against a fixed reference date —
    the calendar toolkit every ETL needs, each expression with an
    exact DuckDB mirror (ISO dayofweek and months_between fractional
    semantics pinned)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.col("o_orderdate")
    ref = F.lit("2000-06-15").cast("timestamp")
    # the physical column is TIMESTAMP_NTZ; session tz is pinned UTC
    # (session.get_spark), so the LTZ casts below are value-preserving
    # and outputs cast back to NTZ to match the naive-timestamp oracle
    return o.select(
        "o_orderkey",
        F.date_trunc("quarter", d).cast("timestamp_ntz").alias("qtr_start"),
        F.date_trunc("week", d).cast("timestamp_ntz").alias("week_start"),
        F.last_day(d).cast("timestamp_ntz").alias("month_end"),
        F.year(d).cast("int").alias("y"),
        F.quarter(d).cast("int").alias("q"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        # ISO day-of-week, Monday=1 (Spark dayofweek is Sunday=1)
        (((F.dayofweek(d) + 5) % 7) + 1).cast("int").alias("iso_dow"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.add_months(d, 18).cast("timestamp_ntz").alias("plus_18m"),
        F.datediff(ref, d).cast("int").alias("days_to_ref"),
        (F.unix_micros(ref) - F.unix_micros(d.cast("timestamp")))
        .alias("micros_to_ref"),
    )


# HOF array family: list_* mirrors, BIGINT-cents fold
@query(oracle="""
            WITH per_order AS (
              SELECT l_orderkey,
                     list(l_quantity ORDER BY l_linenumber, l_quantity)
                       AS qtys,
                     list(l_linenumber ORDER BY l_linenumber, l_quantity)
                       AS lns
              FROM lineitem WHERE l_orderkey % 199 = 0
              GROUP BY l_orderkey
            )
            SELECT l_orderkey,
                   CAST(len(qtys) AS INT) AS n_lines,
                   CAST(len(list_filter(qtys, q -> q >= 25.0)) AS INT)
                     AS n_heavy,
                   len(list_filter(qtys, q -> q >= 49.0)) > 0 AS has_huge,
                   CAST(list_sum(list_transform(qtys,
                        q -> CAST(round(q * 100) AS BIGINT))) AS BIGINT)
                     AS qty_cents,
                   list_max(qtys) AS max_qty,
                   list_min(qtys) AS min_qty,
                   array_to_string(list_transform(range(1, len(qtys) + 1),
                        i -> CAST(lns[i] AS VARCHAR) || ':' ||
                             format('{:.1f}', qtys[i])), ',')
                     AS line_qty_csv
            FROM per_order
        """)
def q_array_map_funcs(spark, sf_dir):
    """Higher-order array/map function family: per-order arrays of line
    quantities built once, then transform / filter / exists /
    aggregate (fold) / zip_with / sort_array / map_from_entries over
    them — the expression surface that replaces per-row Python at 100
    TB.  Fold accumulates in BIGINT cents, so every result is exact
    and the DuckDB list_* mirror matches hash-for-hash."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 199 == 0)
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("lines")
    )
    qtys = F.transform(F.col("lines"), lambda s: s["l_quantity"])
    heavy = F.filter(qtys, lambda q: q >= 25.0)
    total_cents = F.aggregate(
        qtys,
        F.lit(0).cast("long"),
        lambda acc, q: acc + F.round(q * 100).cast("long"),
    )
    pairs = F.zip_with(
        F.transform(F.col("lines"), lambda s: s["l_linenumber"]),
        qtys,
        lambda ln, q: F.struct(ln.alias("ln"), q.alias("q")),
    )
    return per_order.select(
        "l_orderkey",
        F.size(qtys).cast("int").alias("n_lines"),
        F.size(heavy).cast("int").alias("n_heavy"),
        F.exists(qtys, lambda q: q >= 49.0).alias("has_huge"),
        total_cents.alias("qty_cents"),
        F.array_max(qtys).alias("max_qty"),
        F.array_min(qtys).alias("min_qty"),
        F.concat_ws(
            ",",
            F.transform(pairs, lambda p: F.concat_ws(":", p["ln"].cast("string"),
                                                     F.format_number(p["q"], 1))),
        ).alias("line_qty_csv"),
    )


# relational replay of the cogroup path: exact integer cents
@query(oracle="""
            WITH om AS (
              SELECT * FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-03-01'
                AND o_orderdate <  TIMESTAMP '1997-03-16'
            ),
            lt AS (
              SELECT l_orderkey,
                     CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)
                              * (100 - CAST(round(l_discount * 100.0)
                                            AS BIGINT))) AS BIGINT) AS micro,
                     COUNT(*) AS n_lines
              FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM om)
              GROUP BY l_orderkey
            )
            SELECT coalesce(o.o_orderkey, lt.l_orderkey) AS orderkey,
                   o.o_totalprice AS header_total,
                   CAST(lt.micro AS DOUBLE) / 10000.0 AS line_total,
                   CAST(coalesce(lt.n_lines, 0) AS BIGINT) AS n_lines,
                   CASE WHEN o.o_totalprice IS NOT NULL
                             AND lt.micro IS NOT NULL
                        THEN o.o_totalprice
                             - CAST(lt.micro AS DOUBLE) / 10000.0 END AS delta
            FROM om o FULL JOIN lt ON o.o_orderkey = lt.l_orderkey
        """)
def q_cogroup_reconcile(spark, sf_dir):
    """Two-frame grouped pandas processing (cogroup.applyInPandas):
    per-order reconciliation of the header total against exact
    integer-cents line revenue.  Spark co-shuffles orders and lineitem
    on the order key and hands each key's frame PAIR to one Arrow
    batch — the escape hatch for cross-frame per-key logic; chosen
    here with a relational equivalent so the DuckDB oracle verifies
    the cogroup path value-for-value (integer arithmetic inside the
    pandas fn makes the sums order-independent).  Scoped to half an order
    month: cogroup invokes the Python fn once per key, so its unit of
    work must be per-key-substantial — scoping keeps the demo honest
    about where this API belongs (hundreds of heavy keys, not millions
    of 4-row ones; the relational form handles those, see the oracle)."""
    from gdp_etl_spark.operators.cogroup import reconcile_orders_lines

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-03-16").cast("timestamp"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    return reconcile_orders_lines(o, li)


# dense global ordinals: the oracle IS the naive global
# row_number the distributed prefix-sum must reproduce exactly
@query(oracle="""
            SELECT o_orderkey, o_orderdate, o_totalprice,
                   CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                        AS BIGINT) - 1 AS row_id
            FROM orders
        """)
def q_row_ids(spark, sf_dir):
    """Dense global row IDs over orders by (orderdate, orderkey) —
    ids.assign_row_ids: range-repartition + per-partition row_number +
    broadcast prefix-sum offsets, NO single-partition window anywhere
    on the data path (the trap ``row_number() OVER (ORDER BY …)``
    falls into at scale).  The composite order is unique, so every ID
    is bit-deterministic across runs, partition counts, and engines;
    the oracle is the plain global row_number."""
    from gdp_etl_spark.operators.ids import assign_row_ids

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return assign_row_ids(
        o, ["o_orderdate", "o_orderkey"], id_col="row_id", num_partitions=16
    )


# half-open interval overlap, per-customer
@query(oracle="""
            WITH urgent AS (
              SELECT o_custkey, o_orderkey AS u_orderkey,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS u_lo,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) + 14 AS u_hi
              FROM orders WHERE o_orderpriority = '1-URGENT'
            ),
            low AS (
              SELECT o_custkey, o_orderkey AS l_orderkey,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) AS l_lo,
                     date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) + 14 AS l_hi
              FROM orders WHERE o_orderpriority = '5-LOW'
            )
            SELECT u.o_custkey, u.u_orderkey, l.l_orderkey,
                   CAST(u.u_lo AS INT) AS u_lo, CAST(l.l_lo AS INT) AS l_lo
            FROM urgent u JOIN low l
              ON u.o_custkey = l.o_custkey
             AND u.u_lo < l.l_hi AND l.l_lo < u.u_hi
        """)
def q_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join (rangejoin.interval_overlap_join):
    per-customer 14-day activity windows of URGENT orders overlapped
    against windows of 5-LOW orders — banded equi-join on (customer,
    epoch-day bucket), each overlapping pair emitted exactly once from
    the bucket holding max(lo) (predicate dedup, no distinct, no
    cartesian)."""
    from gdp_etl_spark.operators.rangejoin import interval_overlap_join

    o = _t(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey",
        F.col("o_orderkey").alias("u_orderkey"),
        day.alias("u_lo"),
        (day + 14).alias("u_hi"),
    )
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("o_custkey"),
        F.col("o_orderkey").alias("l_orderkey"),
        day.alias("l_lo"),
        (day + 14).alias("l_hi"),
    )
    return interval_overlap_join(
        urgent, low, "u_lo", "u_hi", "l_lo", "l_hi",
        band_width=16, keys=("o_custkey",),
    ).select("o_custkey", "u_orderkey", "l_orderkey", "u_lo", "l_lo")


# the same JSON blob replayed through DuckDB's JSON functions
# (integer/string transit only — no double-format parity risk)
@query(oracle="""
            WITH m AS (
              SELECT doc_id,
                     '{"lang":"' || lang || '","n":'
                     || CAST(doc_id % 50 AS VARCHAR)
                     || ',"tags":["s:' || source || '","p:'
                     || CAST(doc_id % 3 AS VARCHAR)
                     || '"],"nested":{"q":'
                     || CAST((doc_id * 7) % 100 AS VARCHAR) || '}}' AS j
              FROM documents
            )
            SELECT doc_id,
                   json_extract_string(j, '$.lang') AS lang_v,
                   CAST(json_extract(j, '$.n') AS INT) AS n_v,
                   json_extract_string(j, '$.tags[1]') AS tag1,
                   CAST(CAST(json_extract(j, '$.nested.q') AS INT)
                        AS DOUBLE) / 10.0 AS q_v
            FROM m
        """)
def q_variant_extract(spark, sf_dir):
    """Semi-structured metadata via Spark 4's VariantType (parse_json →
    try_variant_get typed path extraction): every document carries a
    deterministic JSON metadata blob (lang, count, tag array, nested
    object) parsed ONCE into the Variant binary encoding, then four
    typed extractions — string, int, array index, nested path.  At
    100 TB this is the right container for ragged crawl/source
    metadata: Variant's binary form makes repeated path access cheap
    (no per-access re-parse) and columnar shredding keeps pruning
    alive, where a JSON string column would re-parse per expression.
    All values are integers/strings in transit (no double formatting
    parity risk); the oracle replays with DuckDB's JSON functions."""
    d = _t(spark, sf_dir, "documents")
    j = F.concat(
        F.lit('{"lang":"'), F.col("lang"),
        F.lit('","n":'), F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
        F.lit(',"tags":["s:'), F.col("source"),
        F.lit('","p:'), F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.lit('"],"nested":{"q":'),
        F.pmod(F.col("doc_id") * 7, F.lit(100)).cast("string"),
        F.lit("}}"),
    )
    v = d.select("doc_id", F.parse_json(j).alias("v"))
    return v.select(
        "doc_id",
        F.try_variant_get(F.col("v"), "$.lang", "string").alias("lang_v"),
        F.try_variant_get(F.col("v"), "$.n", "int").alias("n_v"),
        F.try_variant_get(F.col("v"), "$.tags[1]", "string").alias("tag1"),
        (
            F.try_variant_get(F.col("v"), "$.nested.q", "int").cast("double")
            / F.lit(10.0)
        ).alias("q_v"),
    )


_RECURSIVE_CLOSURE_SQL = """
    WITH RECURSIVE edges AS (
      SELECT doc_id AS src, doc_id + 1 AS dst
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1, doc_id + 2
      FROM documents WHERE doc_id % 10 = 0
    ),
    reach(root, node) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges) r
      UNION ALL
      SELECT reach.root, e.dst
      FROM reach JOIN edges e ON e.src = reach.node
    )
    SELECT root, node FROM reach
"""


# the SAME recursive SQL text — DuckDB runs it verbatim
@query(oracle=_RECURSIVE_CLOSURE_SQL)
def q_recursive_cte(spark, sf_dir):
    """Native WITH RECURSIVE transitive reachability (Spark 4 recursive
    CTE support) over chain edges (doc → doc+1 → doc+2 for every
    %10==0 doc): each root reaches itself and its two descendants.
    The SAME SQL text is the Spark query AND the DuckDB oracle —
    recursive CTEs are the declarative alternative to
    operators/closure.py's iterative loop (which remains the scale
    path: a recursive CTE's per-iteration shuffle has no driver-side
    convergence cap; the loop checkpoints and bounds iterations).  The
    fixture recursion depth is fixed (2), so both engines terminate
    identically."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_RECURSIVE_CLOSURE_SQL)


# SQL UDFs are macro expansion: the oracle inlines the body
@query(oracle="""
            SELECT CASE WHEN doc_id % 100 < 10 THEN 'low'
                        WHEN doc_id % 100 < 60 THEN 'mid'
                        ELSE 'high' END AS band,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(min(doc_id) AS BIGINT) AS min_id
            FROM documents
            GROUP BY 1
        """)
def q_sql_udf(spark, sf_dir):
    """Spark 4 SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN
    expr): a reusable named expression that stays ENTIRELY inside
    Catalyst — unlike a Python UDF it inlines into the plan, keeps
    whole-stage codegen, and costs nothing at 100 TB.  The function
    scores a document id band; the oracle inlines the identical
    arithmetic (a SQL UDF is macro expansion, so inlining IS the
    semantics)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION id_band(x BIGINT) "
        "RETURNS STRING RETURN CASE WHEN x % 100 < 10 THEN 'low' "
        "WHEN x % 100 < 60 THEN 'mid' ELSE 'high' END"
    )
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT id_band(doc_id) AS band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(doc_id) AS BIGINT) AS min_id
        FROM documents GROUP BY id_band(doc_id)
        """
    )


# the same window in SQL — WindowGroupLimit is a physical
# rewrite, invisible to semantics
@query(oracle="""
            SELECT o_orderpriority, o_orderkey, o_totalprice
            FROM orders
            QUALIFY row_number() OVER (
              PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) <= 5
        """)
def q_grouped_topk(spark, sf_dir):
    """Exact grouped top-k at skew (skew.grouped_topk): top-5 orders
    by total price per order priority.  Deliberately the plain
    row_number window — Catalyst's rank-limit pushdown (SPARK-37099)
    inserts a PARTIAL WindowGroupLimit that prunes to ≤k rows per
    (key, input partition) MAP-SIDE, so a hot key ships k rows per
    split instead of its whole group (plan-pinned; two hand-rolled
    "skew-proof" alternatives measured slower — see
    tools/probe_grouped_topk.py (removed; see commit 480b464) and
    SCALE.md).  Oracle = the same window in SQL."""
    from gdp_etl_spark.operators.skew import grouped_topk

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return grouped_topk(
        o, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5
    )
