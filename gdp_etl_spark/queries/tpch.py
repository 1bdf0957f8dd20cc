"""TPC-H-shaped queries (Q2-Q22 shapes) over the driver's parquet tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import dsum, davg
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import _dsum_sql


@query(oracle=f"""
            SELECT l_orderkey, o_orderdate,
                   {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15'
              AND l_shipdate > DATE '1995-03-15'
            GROUP BY 1, 2
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """)
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): BUILDING-segment orders
    placed before 1995-03-15 with lineitems shipped after it, top 10 by
    discounted revenue.  Customer dim broadcast; both date filters push
    to the scans; top-k plans as TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(oracle=f"""
            SELECT c_custkey, c_name, n_name, c_mktsegment,
                   {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1996-10-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """)
def q_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: top 20 customers by revenue lost to returns in
    1996-Q4 — 4-way join with broadcast dims, pushed return-flag
    and date filters, TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(oracle=f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS year,
                   {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
            GROUP BY 1, 2, 3
        """)
def q_trade_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral revenue by (supplier nation, customer
    nation, year) for one nation pair in both directions — the
    two-dimension-leg join topology (lineitem→supplier→nation AND
    lineitem→orders→customer→nation), both legs broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (
        F.col("cust_nation") == "NATION_7"
    ) | (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("year")
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
    )


# Q2 shape: the correlated scalar subquery, decorrelated the
# same way on both engines (group-wise min + equi-join back)
@query(oracle="""
            WITH offers AS (
              SELECT p.p_partkey, p.p_brand, l.l_suppkey,
                     l_extendedprice / l_quantity AS unit_price
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_size <= 10
            ),
            mp AS (
              SELECT p_partkey, MIN(unit_price) AS min_price
              FROM offers GROUP BY p_partkey
            )
            SELECT DISTINCT o.p_partkey, o.p_brand, s.s_name,
                   n.n_name AS supp_nation, mp.min_price
            FROM offers o JOIN mp USING (p_partkey)
            JOIN supplier s ON o.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE o.unit_price = mp.min_price
        """)
def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each part in a size class, the supplier(s)
    offering the minimal unit price — the correlated-scalar-subquery
    topology, expressed Spark-first as a group-wise min + equi-join
    back (what Catalyst decorrelates Q2's subquery into anyway).
    Unit price is a single IEEE division (bit-identical cross-engine,
    no accumulation); ties keep every minimal supplier, same rule both
    sides.  Scale: the per-part min aggregates map-side before its one
    shuffle; dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    offers = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("p_partkey", "p_brand", "l_suppkey", unit)
    )
    min_price = offers.groupBy("p_partkey").agg(
        F.min("unit_price").alias("min_price")
    )
    return (
        offers.join(min_price, "p_partkey")
        .filter(F.col("unit_price") == F.col("min_price"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey", "p_brand", F.col("s_name"),
            F.col("n_name").alias("supp_nation"), "min_price",
        )
        .distinct()
    )


# Q22 shape: global scalar threshold (deterministic decimal-sum
# mean) + NOT EXISTS anti-join + aggregation
@query(oracle="""
            WITH thr AS (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(c_acctbal) AS avg_bal
              FROM customer WHERE c_acctbal > 0
            )
            SELECT c_nationkey, COUNT(*) AS n_cust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                     AS total_bal
            FROM customer c, thr
            WHERE c.c_acctbal > thr.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_nationkey
        """)
def q_top_acctbal_no_orders(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive account
    balance and no order since 2000, counted per nation — the
    global-scalar-subquery + NOT EXISTS topology: a 1-row broadcast
    threshold (deterministic decimal-sum mean) and a left-anti join
    against the filtered orders (filter pushed below the anti-join),
    then one small aggregation.  Scale: anti-join shuffles on custkey
    (or runtime-filters at scale); the threshold never materializes
    more than one row."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal", "avg_bal"))
    )
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal", "total_bal"),
        )
    )


# Q5 shape: 5-way star + same-nation residual
@query(oracle=f"""
            SELECT n_name,
                   {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
            FROM lineitem, orders, customer, supplier, nation, region
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """)
def q_regional_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation for orders where the customer
    and the line's supplier sit in the SAME nation of one region — the
    5-way star with a cross-fact FK-equality constraint.  Spark-first:
    the region→nation dim prunes first and broadcasts; the three
    fact-fact joins shuffle on their natural keys; the
    ``c_nationkey = s_nationkey`` residual rides the customer join, so
    no extra exchange.  Date band pushes to the orders scan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(nr), s.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"))
    )


# Q8 shape: conditional-numerator market-share ratio per year
@query(oracle=f"""
            WITH base AS (
              SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                     l_extendedprice * (1.0 - l_discount) AS rev,
                     sn.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              JOIN region ON cn.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation sn ON s_nationkey = sn.n_nationkey
              WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
            )
            SELECT o_year,
                   {_dsum_sql("CASE WHEN supp_nation = 'NATION_6' THEN rev END")}
                     AS nation_rev,
                   {_dsum_sql('rev')} AS total_rev,
                   {_dsum_sql("CASE WHEN supp_nation = 'NATION_6' THEN rev END")}
                     / {_dsum_sql('rev')} AS mkt_share
            FROM base GROUP BY o_year
        """)
def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's STANDARD-part
    revenue per order year — the conditional-numerator ratio over an
    n-way join.  Both numerator and denominator accumulate as exact
    decimals inside ONE aggregation (no second pass), then a single
    IEEE division.  Dims (part filter, nation, region) broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    cust_nat = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    supp_nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nat), c.c_nationkey == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nat), s.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev.alias("rev"),
            F.col("supp_nation"),
        )
    )
    target = F.when(F.col("supp_nation") == "NATION_6", F.col("rev"))
    return (
        base.groupBy("o_year")
        .agg(dsum(target, "nation_rev"), dsum("rev", "total_rev"))
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
        )
    )


# Q9 shape: profit by supplier nation x order year
@query(oracle=f"""
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   {_dsum_sql(
                       'l_extendedprice * (1.0 - l_discount)'
                       ' - p_retailprice * l_quantity'
                   )} AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2
        """)
def q_nation_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit (revenue minus retail cost of the parts
    moved) by supplier nation × order year for 'red' parts.  The part
    filter broadcasts under the fact joins; profit is a per-row
    expression summed exactly; two shuffles (orderkey, then the group).
    No partsupp table at this scale model — ``p_retailprice`` plays the
    supplycost role, same topology."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    profit = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, "profit"))
    )


# Q13 shape: orders-per-customer distribution incl. zero
@query(oracle="""
            WITH per_cust AS (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN (
                SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'
              ) o ON c_custkey = o.o_custkey
              GROUP BY c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist
            FROM per_cust GROUP BY c_count
        """)
def q_order_count_dist(spark, sf_dir):
    """TPC-H Q13 shape: the distribution of orders-per-customer
    INCLUDING zero-order customers — left outer join + two stacked
    aggregations (count per customer, then customers per count).  The
    second group-by is tiny (≤ distinct counts) and map-side combines;
    the first shuffles once on custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# Q14 shape: promo revenue share for one ship month
@query(oracle=f"""
            SELECT {_dsum_sql(
                "CASE WHEN p_type = 'PROMO'"
                ' THEN l_extendedprice * (1.0 - l_discount) END'
            )} AS promo_rev,
                   {_dsum_sql('l_extendedprice * (1.0 - l_discount)')}
                     AS total_rev,
                   100.0 * {_dsum_sql(
                       "CASE WHEN p_type = 'PROMO'"
                       ' THEN l_extendedprice * (1.0 - l_discount) END'
                   )} / {_dsum_sql('l_extendedprice * (1.0 - l_discount)')}
                     AS promo_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """)
def q_promo_ratio(spark, sf_dir):
    """TPC-H Q14 shape: PROMO-part revenue share for one month — the
    conditional-numerator / unconditional-denominator scalar ratio.
    One broadcast of the 2k-row part dim, one exact-decimal agg, one
    IEEE division at the end."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(dsum(promo, "promo_rev"), dsum(rev, "total_rev"))
        .select(
            "promo_rev",
            "total_rev",
            (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias(
                "promo_pct"
            ),
        )
    )


# Q15 shape: supplier(s) at the quarterly revenue max
@query(oracle=f"""
            WITH per_supp AS (
              SELECT l_suppkey,
                     {_dsum_sql('l_extendedprice * (1.0 - l_discount)')}
                       AS total_rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_rev
            FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT MAX(total_rev) FROM per_supp)
        """)
def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximal quarterly revenue
    — agg → global-max scalar → equality join back (the view +
    subquery topology, decorrelated the way Catalyst would).  The max
    is a 1-row broadcast; ties all survive, deterministically."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(dsum(rev, "total_rev"))
    mx = per_supp.agg(F.max("total_rev").alias("max_rev"))
    return (
        per_supp.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


# Q17 shape: decorrelated per-part AVG threshold
@query(oracle="""
            WITH offers AS (
              SELECT p_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#12'
            ),
            avg_qty AS (
              SELECT p_partkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(l_quantity) AS avg_qty
              FROM offers GROUP BY p_partkey
            )
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                     / 7.0 AS avg_yearly
            FROM offers JOIN avg_qty USING (p_partkey)
            WHERE l_quantity < 0.5 * avg_qty
        """)
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue lost to small-quantity orders — the
    correlated per-part AVG subquery, decorrelated into a grouped avg
    + join back (both engines compute the identical plan shape).  The
    threshold avg is decimal-exact; the final sum divides once."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    offers = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = offers.groupBy("p_partkey").agg(davg("l_quantity", "avg_qty"))
    return (
        offers.join(avg_qty, "p_partkey")
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(dsum("l_extendedprice", "total_price"))
        .select((F.col("total_price") / F.lit(7.0)).alias("avg_yearly"))
    )


# Q18 shape: HAVING-sum survivors joined back, top-100
@query(oracle=f"""
            WITH big AS (
              SELECT l_orderkey, {_dsum_sql('l_quantity')} AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING {_dsum_sql('l_quantity')} > 250.0
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM orders JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
            LIMIT 100
        """)
def q_big_order_customers(spark, sf_dir):
    """TPC-H Q18 shape: customers with orders whose total quantity
    exceeds a threshold — HAVING-sum filter on the fact, then join the
    survivors (tiny) back to orders + customer, top-100 by totalprice.
    The heavy agg happens BEFORE any join; the join input is the
    filtered survivor set, so the plan stays bottom-heavy."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    return (
        o.join(big, o.o_orderkey == F.col("l_orderkey"))
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# Q19 shape: OR-of-ANDs residual over the partkey equi-join
@query(oracle=f"""
            SELECT {_dsum_sql('l_extendedprice * (1.0 - l_discount)')}
                     AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """)
def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides (brand × size × quantity bands) — the classic test
    that the optimizer pushes the common partkey equi-key out of the
    disjunction (hash join + residual filter, NOT a cartesian).
    test_plans_quality asserts the no-cartesian plan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.filter(b).agg(
        dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_items")
    )


# Q4 shape: EXISTS with a cross-table lateness predicate
@query(oracle="""
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate <  TIMESTAMP '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate
                                               + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """)
def q_late_orders(spark, sf_dir):
    """TPC-H Q4 shape: orders with at least ONE late line (shipped >60
    days after ordering), counted per priority — the EXISTS semi-join
    with a cross-table correlated predicate.  Spark's left-semi join
    carries the inequality as a join residual; each order counts once
    no matter how many lines were late."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# Q21 shape: EXISTS + NOT EXISTS double self-join on the fact
@query(oracle="""
            WITH l1 AS (
              SELECT DISTINCT l_orderkey, l_suppkey
              FROM lineitem WHERE l_returnflag = 'R'
            )
            SELECT s_name, COUNT(*) AS numwait
            FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
            GROUP BY s_name
        """)
def q_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the ONLY supplier with
    returned ('R') lines on a multi-supplier order — the
    EXISTS + NOT-EXISTS double self-join topology.  Three scans of
    lineitem (base R-lines, any-other-supplier semi, other-supplier-R
    anti), all equi-keyed on orderkey so they co-partition; no
    cartesian anywhere.  l_returnflag='R' stands in for the reference
    benchmark's receipt-after-commit lateness (no commit/receipt dates
    in this schema) — identical join topology."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# Q6 shape: pure pushdown + map-side agg, no join
@query(oracle=f"""
            SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue_delta,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """)
def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: single-scan revenue delta under tight band
    predicates (year × discount band × quantity cap) — the pure
    filter-pushdown + map-side-agg query.  Every predicate must reach
    the parquet scan; there is no join and no second stage beyond the
    1-row final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Q11 shape: group agg HAVING > global-scalar share
@query(oracle=f"""
            WITH per_part AS (
              SELECT l_partkey,
                     {_dsum_sql('l_extendedprice * (1.0 - l_discount)')}
                       AS part_value
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, part_value
            FROM per_part
            WHERE part_value > 1.5 *
                  ((SELECT {_dsum_sql('part_value')} FROM per_part)
                   / (SELECT CAST(COUNT(*) AS DOUBLE) FROM per_part))
        """)
def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: groups whose share of total value clears a
    global threshold — group agg HAVING > scalar-subquery-of-the-same
    -agg topology.  The global total is a 1-row broadcast (decimal-
    exact); no partsupp at this scale model, so part revenue through
    lineitem plays the stock-value role — identical decorrelation.
    The threshold is MEAN-relative (1.5x the average part value), not
    a fixed fraction of the total: a fixed fraction silently selects
    everything at small part counts and nothing at large ones (the
    classic Q11 scale trap), while a mean multiple tracks the heavy
    tail at every SF."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(dsum(rev, "part_value"))
    total = per_part.agg(
        dsum("part_value", "total_value"),
        F.count(F.lit(1)).cast("double").alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("part_value")
            > F.lit(1.5) * (F.col("total_value") / F.col("n_parts"))
        )
        .select("l_partkey", "part_value")
    )


# Q12 shape: lateness join residual + conditional CASE sums
@query(oracle="""
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            GROUP BY l_returnflag
        """)
def q_priority_by_flag(spark, sf_dir):
    """TPC-H Q12 shape: per-category counts of high- vs low-priority
    orders among late-shipped lines — the join + conditional-CASE-sum
    pivot.  ``l_returnflag`` stands in for Q12's ship mode (no
    l_shipmode in this schema); lateness is ship > order + 30 days,
    carried as a join residual."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# Q16 shape: blacklist anti-join BEFORE a grouped distinct count
@query(oracle="""
            SELECT p_brand, p_type, p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size IN (1, 9, 19, 23)
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """)
def q_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part class, with a
    supplier blacklist excluded by anti-join BEFORE the distinct count
    (negative-acctbal suppliers play the 'customer complaints' role).
    COUNT(DISTINCT) over the join output, grouped by part attributes."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 9, 19, 23))
    s_bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s_bad, li.l_suppkey == s_bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# Q20 shape: decorrelated share-threshold + semi-join chain
@query(oracle=f"""
            WITH red AS (
              SELECT l_suppkey, l_partkey, l_quantity
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE '%red%'
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate <  TIMESTAMP '1998-01-01'
            ),
            per_sp AS (
              SELECT l_suppkey, l_partkey, {_dsum_sql('l_quantity')} AS sp_qty
              FROM red GROUP BY l_suppkey, l_partkey
            ),
            per_part AS (
              SELECT l_partkey, {_dsum_sql('l_quantity')} AS part_qty
              FROM red GROUP BY l_partkey
            )
            SELECT s_suppkey, s_name, n_name AS nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
              SELECT sp.l_suppkey
              FROM per_sp sp JOIN per_part pp USING (l_partkey)
              WHERE sp.sp_qty > 0.5 * pp.part_qty)
        """)
def q_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who moved an outsized share of 'red'
    parts in one year — the nested-semi-join + correlated-aggregate
    -threshold topology, decorrelated: per-(supplier, part) shipped
    quantity for the year joined against half the part's total shipped
    quantity, then a semi-join reduces suppliers to those clearing the
    bar on ANY red part; nation dim broadcast for the output."""
    li = _t(spark, sf_dir, "lineitem")
    p_red = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    red_li = li.join(F.broadcast(p_red), li.l_partkey == p_red.p_partkey)
    yr = red_li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    per_sp = yr.groupBy("l_suppkey", "l_partkey").agg(
        dsum("l_quantity", "sp_qty")
    )
    per_part = yr.groupBy(F.col("l_partkey").alias("pk")).agg(
        dsum("l_quantity", "part_qty")
    )
    qualifying = (
        per_sp.join(per_part, per_sp.l_partkey == F.col("pk"))
        .filter(F.col("sp_qty") > F.lit(0.5) * F.col("part_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
