"""Relational core: the flagship star join, projections, filters, joins,
hierarchy closure, aggregations, windows, set ops, scalars and reshapes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import (
    bankers_round, conditional_overwrite, dsum, davg, pad_code, recode,
    ref_date,
)
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.closure import (
    rollup_hierarchy, transitive_closure,
)
from gdp_etl_spark.operators.diff import classify_diff, full_outer_diff
from gdp_etl_spark.operators.reshape import union_by_name, unpivot
from gdp_etl_spark.operators.windows import (
    gaps_and_islands, group_extrema, rebase_index,
)
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import _dsum_sql


_FLAGSHIP_SQL = f"""
SELECT r_name,
       CAST(year(o_orderdate) AS INT) AS order_year,
       {_dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
GROUP BY 1, 2
"""


@query(oracle=_FLAGSHIP_SQL)
def q_flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query (J1/J4/F2/A2/P4): lineitem ⋈ orders ⋈
    customer ⋈ nation ⋈ region, band filter on ship date, revenue rollup
    by (region, order-year).  True dimensions (nation, region) carry an
    explicit broadcast hint; customer is fact-scaling (150k rows x SF —
    NOT broadcastable at the 100-TB north star), so its join strategy is
    left to Catalyst/AQE: broadcast at small SF, shuffle-hash at scale.
    The only unavoidable shuffles are lineitem⋈orders (and customer at
    scale) plus the final aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1998-12-31")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        joined.groupBy("r_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(oracle="SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders")
def q_projection(spark, sf_dir):
    """P1: column projection — pruned at the parquet scan."""
    return _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")


@query(oracle="SELECT n_nationkey, n_name FROM nation")
def q_neg_projection(spark, sf_dir):
    """P2: negative projection (drop)."""
    return _t(spark, sf_dir, "nation").drop("n_regionkey")


@query(oracle="""
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1.0 - l_discount) AS revenue,
                   (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charge
            FROM lineitem
        """)
def q_compute_project(spark, sf_dir):
    """P4/C8: transmute — replace all columns with computed ones."""
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue.alias("revenue"),
        (revenue * (F.lit(1.0) + F.col("l_tax"))).alias("charge"),
    )


@query(oracle=f"""
            SELECT o_orderpriority, count(*) AS n, {_dsum_sql('o_totalprice')} AS total
            FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY o_orderpriority
        """)
def q_filter_in(spark, sf_dir):
    """F1: IN-list filter + grouped agg."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
    )


@query(oracle=f"""
            SELECT l_returnflag, count(*) AS n, {_dsum_sql('l_quantity')} AS sum_qty
            FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
            GROUP BY l_returnflag
        """)
def q_filter_band(spark, sf_dir):
    """F2: between-band predicate (pushed to the scan)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1997-01-01", "1997-12-31"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


@query(oracle="""
            SELECT n_name, CAST(length(n_name) AS INT) AS name_len
            FROM nation WHERE length(n_name) < 9
        """)
def q_filter_strlen(spark, sf_dir):
    """F5: string-length predicate."""
    n = _t(spark, sf_dir, "nation")
    return n.filter(F.length("n_name") < 9).select(
        "n_name", F.length("n_name").alias("name_len")
    )


@query(oracle="""
            SELECT o_orderstatus, count(*) AS n FROM orders
            WHERE (o_orderstatus = 'F' AND o_totalprice > 100000)
               OR o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus
        """)
def q_filter_compound(spark, sf_dir):
    """F6: compound boolean filter."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            ((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000))
            | (F.col("o_orderpriority") == "1-URGENT")
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle="""
            SELECT c.c_custkey, c.c_mktsegment, o.n_orders
            FROM customer c
            JOIN (SELECT o_custkey AS c_custkey, count(*) AS n_orders
                  FROM orders GROUP BY o_custkey) o USING (c_custkey)
        """)
def q_drop_na(spark, sf_dir):
    """F7: drop-any-NA after a NULL-producing left join."""
    cust = _t(spark, sf_dir, "customer")
    cnt = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        cust.select("c_custkey", "c_mktsegment")
        .join(cnt, "c_custkey", "left")
        .na.drop()
    )


@query(oracle="SELECT DISTINCT c_mktsegment FROM customer")
def q_distinct_values(spark, sf_dir):
    """F8: distinct."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(oracle="""
            WITH daily AS (
              SELECT user_id, event_type, date_trunc('day', ts) AS day, count(*) AS n_day
              FROM events GROUP BY 1, 2, 3),
            totals AS (
              SELECT user_id, event_type, count(*) AS n_total
              FROM events GROUP BY 1, 2)
            SELECT d.user_id, d.event_type, CAST(d.day AS TIMESTAMP) AS day,
                   d.n_day, t.n_total
            FROM daily d JOIN totals t USING (user_id, event_type)
        """)
def q_join_composite(spark, sf_dir):
    """J1: inner join on a composite key (user_id, event_type)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_day"))
    totals = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_total"))
    return daily.join(totals, ["user_id", "event_type"], "inner")


@query(oracle="""
            SELECT n_name,
                   COALESCE(CAST(SUM(CAST(s_acctbal AS DECIMAL(28,6))) AS DOUBLE), 0.0)
                     AS rich_bal,
                   count(s_suppkey) AS n_rich
            FROM nation LEFT JOIN (SELECT * FROM supplier WHERE s_acctbal > 4000) s
              ON n_nationkey = s_nationkey
            GROUP BY n_name
        """)
def q_left_join_sum_zero(spark, sf_dir):
    """J2 + A1: left join then group-sum where all-NULL groups yield 0
    (R ``sum(na.rm=TRUE)`` semantics via ``coalesce(sum, 0)``)."""
    nation = _t(spark, sf_dir, "nation")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 4000)
    joined = nation.join(
        sup, nation["n_nationkey"] == sup["s_nationkey"], "left"
    )
    return joined.groupBy("n_name").agg(
        F.coalesce(
            F.sum(F.col("s_acctbal").cast("decimal(28,6)")).cast("double"), F.lit(0.0)
        ).alias("rich_bal"),
        F.count("s_suppkey").alias("n_rich"),
    )


@query(oracle="""
            WITH sup AS (SELECT s_nationkey AS nationkey,
                           CAST(SUM(CAST(s_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                             / COUNT(s_acctbal) AS avg_bal_sup
                         FROM supplier GROUP BY 1),
                 cus AS (SELECT c_nationkey AS nationkey,
                           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                             / COUNT(c_acctbal) AS avg_bal_cus
                         FROM customer GROUP BY 1)
            SELECT nationkey, avg_bal_sup, avg_bal_cus FROM sup JOIN cus USING (nationkey)
        """)
def q_join_suffix(spark, sf_dir):
    """J3: join with suffix-disambiguated value columns."""
    sup = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(davg("s_acctbal", "avg_bal_sup"))
    )
    cus = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(davg("c_acctbal", "avg_bal_cus"))
    )
    return sup.join(cus, "nationkey", "inner")


_SEGMENT_LABELS = [
    ("AUTOMOBILE", "Retail"),
    ("BUILDING", "Construction"),
    ("FURNITURE", "Retail"),
    ("MACHINERY", "Industrial"),
    ("HOUSEHOLD", "Consumer"),
]


seg_values = ", ".join(f"('{s}', '{l}')" for s, l in _SEGMENT_LABELS)


@query(oracle=f"""
            SELECT d.label, count(*) AS n, {_dsum_sql('c_acctbal')} AS total_bal
            FROM customer c LEFT JOIN (VALUES {seg_values}) d(seg, label)
              ON c.c_mktsegment = d.seg
            GROUP BY d.label
        """)
def q_join_label(spark, sf_dir):
    """J5: broadcast join on a string label key against an inline dim."""
    cust = _t(spark, sf_dir, "customer")
    from gdp_etl_spark.session import local_df

    dim = local_df(spark, _SEGMENT_LABELS, "seg string, label string")
    return (
        cust.join(F.broadcast(dim), cust["c_mktsegment"] == dim["seg"], "left")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), dsum("c_acctbal", "total_bal"))
    )


@query(oracle=f"""
            WITH old AS (SELECT o_custkey, {_dsum_sql('o_totalprice')} AS spend
                         FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
                 new AS (SELECT o_custkey, {_dsum_sql('o_totalprice')} AS spend
                         FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey)
            SELECT COALESCE(new.o_custkey, old.o_custkey) AS o_custkey,
                   new.spend AS spend_new, old.spend AS spend_old,
                   CASE WHEN new.spend IS NULL AND old.spend IS NOT NULL THEN 'missing'
                        WHEN new.spend IS NOT NULL AND old.spend IS NULL THEN 'added'
                        WHEN abs(new.spend - old.spend) > 50000.0 THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM new FULL OUTER JOIN old ON new.o_custkey = old.o_custkey
        """)
def q_diff_classify(spark, sf_dir):
    """J6 + F3 + F4 (§3.2 release diff): full-outer join of two release
    slices, then missing/added/changed/unchanged classification with a
    tolerance (the reference's ``near(tol)`` rounding-noise rule)."""
    o = _t(spark, sf_dir, "orders")
    old = (
        o.filter(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice", "spend"))
    )
    new = (
        o.filter(F.year("o_orderdate") == 1997)
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice", "spend"))
    )
    diff = full_outer_diff(new, old, ["o_custkey"], "spend")
    return classify_diff(diff, "spend", tol=50000.0)


# ---- hierarchy: a 3-level edge list built from region/nation ----------------
def _hierarchy_edges(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rn = nation.join(region, nation["n_regionkey"] == region["r_regionkey"]).select(
        F.concat(F.lit("R"), F.col("r_regionkey").cast("string")).alias("parent"),
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("child"),
    )
    all_r = region.select(
        F.lit("ALL").alias("parent"),
        F.concat(F.lit("R"), F.col("r_regionkey").cast("string")).alias("child"),
    )
    from gdp_etl_spark.session import local_df

    root = local_df(spark, [("ROOT", "ALL")], "parent string, child string")
    return rn.unionByName(all_r).unionByName(root)


_CLOSURE_SQL = """
SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS parent,
       'N' || CAST(n_nationkey AS VARCHAR) AS child
FROM nation JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT 'ALL', 'N' || CAST(n_nationkey AS VARCHAR) FROM nation
UNION ALL
SELECT 'ROOT', 'N' || CAST(n_nationkey AS VARCHAR) FROM nation
"""


@query(oracle=_CLOSURE_SQL)
def q_closure_leaves(spark, sf_dir):
    """J7: transitive closure (replace-until-leaf) over a 3-level edge
    list — the reference's ``expand_hierarchy`` re-expressed as an
    iterative broadcast self-join with semi-join termination."""
    return transitive_closure(_hierarchy_edges(spark, sf_dir), "parent", "child")


@query(oracle=f"""
            WITH closure AS ({_CLOSURE_SQL}),
                 fact AS (SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS code, c_acctbal
                          FROM customer)
            SELECT closure.parent AS group_code,
                   COALESCE(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 0.0)
                     AS total_bal
            FROM fact JOIN closure ON fact.code = closure.child
            GROUP BY closure.parent
        """)
def q_rollup_hierarchy(spark, sf_dir):
    """J8 + A2: fan the fact out over (data-driven) group membership and
    aggregate per ancestor — Spark ``rollup`` can't express a ragged
    custom hierarchy, so membership is a broadcast closure join."""
    closure = transitive_closure(_hierarchy_edges(spark, sf_dir), "parent", "child")
    fact = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("code"),
        F.col("c_acctbal").cast("decimal(28,6)").alias("bal"),
    )
    out = rollup_hierarchy(
        fact, closure, fact_key="code", closure_parent="parent",
        closure_child="child", group_keys=[], value_col="bal",
    )
    return out.select(
        F.col("parent").alias("group_code"), F.col("bal").cast("double").alias("total_bal")
    )


@query(oracle=f"""
            WITH j AS (SELECT n_name, o_totalprice
                       FROM orders JOIN customer ON o_custkey = c_custkey
                                   JOIN nation ON c_nationkey = n_nationkey)
            SELECT n_name, {_dsum_sql('o_totalprice')} AS revenue,
                   {_dsum_sql('o_totalprice')} /
                     (SELECT {_dsum_sql('o_totalprice')} FROM j) AS share
            FROM j GROUP BY n_name
        """)
def q_scalar_share(spark, sf_dir):
    """A3/W2: global-agg driver scalar broadcast into a per-group ratio."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    total = joined.agg(dsum("o_totalprice")).first()[0]
    return (
        joined.groupBy("n_name")
        .agg(dsum("o_totalprice", "revenue"))
        .withColumn("share", F.col("revenue") / F.lit(total))
    )


@query(oracle="""
            SELECT user_id, min(event_type) AS first_type, count(*) AS n_events
            FROM events GROUP BY user_id
        """)
def q_group_first(spark, sf_dir):
    """A4: group-by + deterministic first value (min as the deterministic
    analog of R's ``x[1]``)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("event_type").alias("first_type"), F.count(F.lit(1)).alias("n_events"))
    )


@query(oracle="""
            WITH yrs AS (SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS INT) AS y
                         FROM orders),
                 isl AS (SELECT o_custkey, y,
                           y - CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY y)
                                    AS INT) AS island
                         FROM yrs),
                 runs AS (SELECT o_custkey, island, min(y) AS lo, max(y) AS hi
                          FROM isl GROUP BY 1, 2)
            SELECT o_custkey,
                   string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                   ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                              END, ', ' ORDER BY lo) AS ranges
            FROM runs GROUP BY o_custkey
        """)
def q_gaps_islands(spark, sf_dir):
    """A5: consecutive-run compression ("1999-2001, 2005") — Spark-native
    gaps-and-islands, no UDF."""
    years = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )
    return gaps_and_islands(years, ["o_custkey"], "y", out_col="ranges")


@query(oracle=f"""
            WITH rev AS (
              SELECT n_name, CAST(year(o_orderdate) AS INT) AS year,
                     {_dsum_sql('o_totalprice')} AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1, 2)
            SELECT n_name, year, revenue,
                   CASE WHEN count(CASE WHEN year = 1997 THEN 1 END)
                             OVER (PARTITION BY n_name) = 1
                        THEN (100.0 * revenue) /
                             (max(CASE WHEN year = 1997 THEN revenue END)
                              OVER (PARTITION BY n_name))
                   END AS idx
            FROM rev
        """)
def q_base_broadcast(spark, sf_dir):
    """W1: group-wise base-year broadcast with the exactly-one-row guard
    (NULL index when the base year is missing/duplicated)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year("o_orderdate").alias("year"))
        .agg(dsum("o_totalprice", "revenue"))
    )
    return rebase_index(rev, ["n_name"], "year", "revenue", base_year=1997, out_col="idx")


@query(oracle="""
            SELECT user_id, event_id, value FROM events
            QUALIFY abs(value) = max(abs(value)) OVER (PARTITION BY user_id)
        """)
def q_group_extrema(spark, sf_dir):
    """W3: keep each group's max-|value| rows."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return group_extrema(ev, ["user_id"], F.col("value"), keep="max_abs")


@query(oracle="""
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 19
        """)
def q_topk_orders(spark, sf_dir):
    """O2/O3: order by expression desc + top-k (TakeOrderedAndProject —
    never a global sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(19)
        .select("o_orderkey", "o_totalprice")
    )


@query(oracle="""
            SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
                   c_mktsegment AS segment
            FROM customer
            UNION ALL
            SELECT s_suppkey, s_name, s_acctbal, CAST(NULL AS VARCHAR) FROM supplier
        """)
def q_union_by_name(spark, sf_dir):
    """U1: by-name union with NULL-fill (R ``bind_rows`` semantics)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("segment"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
    )
    return union_by_name([cust, sup])


@query(oracle="""
            SELECT CASE WHEN n_name = 'NATION_3' THEN 'EU-FR'
                        WHEN n_regionkey = 2 THEN 'ASIA-X'
                        WHEN n_nationkey >= 20 THEN 'HIGH'
                        ELSE n_name END AS code,
                   count(*) AS n
            FROM nation GROUP BY 1
        """)
def q_conditional_overwrite(spark, sf_dir):
    """C1: ordered conditional-overwrite rule engine (the reference's
    dissolved-economy remap machinery, data-driven)."""
    n = _t(spark, sf_dir, "nation")
    rules = [
        (F.col("n_name") == "NATION_3", "EU-FR"),
        (F.col("n_regionkey") == 2, "ASIA-X"),
        (F.col("n_nationkey") >= 20, "HIGH"),
    ]
    return (
        n.withColumn("code", conditional_overwrite(F.col("n_name"), rules))
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle="""
            SELECT CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V'
                        WHEN 'purchase' THEN 'P' ELSE 'OTHER' END AS code,
                   count(*) AS n
            FROM events GROUP BY 1
        """)
def q_recode_values(spark, sf_dir):
    """C3: value recoding with default."""
    ev = _t(spark, sf_dir, "events")
    m = {"click": "C", "view": "V", "purchase": "P"}
    return (
        ev.withColumn("code", recode(F.col("event_type"), m, default=F.lit("OTHER")))
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle="""
            SELECT n_name,
                   lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS code,
                   CAST(length(lpad(CAST(n_nationkey AS VARCHAR), 3, '0')) AS INT)
                     AS code_len,
                   lpad(CAST(n_nationkey AS VARCHAR), 3, '0') || '-' || n_name AS tag
            FROM nation
        """)
def q_pad_codes(spark, sf_dir):
    """C4/C5: zero-padded string codes + length/concat — the reference's
    #1 silent-corruption hazard, kept as explicit string ops."""
    n = _t(spark, sf_dir, "nation")
    code = pad_code("n_nationkey", 3)
    return n.select(
        "n_name",
        code.alias("code"),
        F.length(code).alias("code_len"),
        F.concat_ws("-", code, F.col("n_name")).alias("tag"),
    )


@query(oracle="""
            SELECT r_name, strftime(DATE '2025-08-29', '%-d-%b-%y') AS stamp FROM region
        """)
def q_ref_date_stamp(spark, sf_dir):
    """C6: injectable run-date stamp ("29-Aug-25")."""
    return _t(spark, sf_dir, "region").select(
        "r_name", ref_date("2025-08-29").alias("stamp")
    )


@query(oracle="""
            SELECT l_returnflag,
                   CAST(SUM(CAST(round_even(l_quantity / 2.0, 0) AS BIGINT)) AS BIGINT)
                     AS sum_half_qty,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """)
def q_bankers_round(spark, sf_dir):
    """C7: half-to-even rounding (R ``round`` ≠ Spark ``round``; must be
    ``bround``) — exercised on exact .5 values (odd quantities / 2)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(bankers_round(F.col("l_quantity") / F.lit(2.0), 0).cast("long")).alias(
            "sum_half_qty"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(oracle=f"""
            WITH obs AS (
              SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS y,
                     {_dsum_sql('o_totalprice')} AS v
              FROM orders WHERE year(o_orderdate) <> 1998
              GROUP BY 1, 2),
            bounds AS (SELECT o_orderpriority, min(y) AS lo, max(y) AS hi
                       FROM obs GROUP BY 1),
            dense AS (SELECT o_orderpriority, unnest(range(lo, hi + 1)) AS y
                      FROM bounds),
            j AS (SELECT d.o_orderpriority, d.y, o.v
                  FROM dense d LEFT JOIN obs o
                    ON d.o_orderpriority = o.o_orderpriority AND d.y = o.y),
            win AS (
              SELECT o_orderpriority, y, v,
                last_value(v IGNORE NULLS) OVER wb AS prev_v,
                first_value(v IGNORE NULLS) OVER wf AS next_v,
                last_value(CASE WHEN v IS NOT NULL THEN y END IGNORE NULLS)
                  OVER wb AS prev_s,
                first_value(CASE WHEN v IS NOT NULL THEN y END IGNORE NULLS)
                  OVER wf AS next_s
              FROM j
              WINDOW wb AS (PARTITION BY o_orderpriority ORDER BY y
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY o_orderpriority ORDER BY y
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT o_orderpriority, CAST(y AS INT) AS year,
                   CASE WHEN v IS NOT NULL THEN v
                        ELSE prev_v + (next_v - prev_v) * (y - prev_s)
                             / (next_s - prev_s) END AS revenue,
                   v IS NOT NULL AS was_observed
            FROM win
        """)
def q_interpolate(spark, sf_dir):
    """Grouped linear interpolation of a gapped year series (densify +
    ignorenulls windows, zero UDFs) — the op a pandas-habituated
    pipeline would write as applyInPandas."""
    from gdp_etl_spark.operators.interpolate import interpolate_gaps

    obs = (
        _t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") != 1998)  # carve an interior gap
        .groupBy("o_orderpriority", F.year("o_orderdate").alias("year"))
        .agg(dsum("o_totalprice", "revenue"))
    )
    return interpolate_gaps(obs, ["o_orderpriority"], "year", "revenue")


@query(oracle=f"""
            SELECT o_orderpriority,
                   printf('%.3e', {_dsum_sql('o_totalprice')}) AS total_sci
            FROM orders GROUP BY o_orderpriority
        """)
def q_sci_format(spark, sf_dir):
    """C9 number formatting (reference report tables use
    ``format(digits=3, scientific=TRUE)``): C-style %e formatting is
    engine-portable; %f tie-rounding is not, so reports use %e."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(dsum("o_totalprice", "total"))
        .select(
            "o_orderpriority",
            F.format_string("%.3e", F.col("total")).alias("total_sci"),
        )
    )


@query(oracle="""
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN l_returnflag = 'A'
                            THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "A",
                   CAST(SUM(CASE WHEN l_returnflag = 'N'
                            THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "N",
                   CAST(SUM(CASE WHEN l_returnflag = 'R'
                            THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "R"
            FROM lineitem GROUP BY l_linestatus
        """)
def q_pivot_wide(spark, sf_dir):
    """R3: long → wide with explicit pivot values (no discovery scan)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_returnflag", F.col("l_quantity").cast("decimal(28,6)").alias("q")
    )
    out = li.groupBy("l_linestatus").pivot("l_returnflag", ["A", "N", "R"]).agg(
        F.sum("q").cast("double")
    )
    return out


@query(oracle=f"""
            SELECT l_linestatus, l_returnflag, {_dsum_sql('l_quantity')} AS sum_qty
            FROM lineitem GROUP BY 1, 2
        """)
def q_unpivot_long(spark, sf_dir):
    """R1/R2: wide → long melt (round-trips the pivot back to long)."""
    wide = q_pivot_wide(spark, sf_dir)
    return unpivot(
        wide, ids=["l_linestatus"], values=["A", "N", "R"],
        var_name="l_returnflag", value_name="sum_qty",
    ).na.drop(subset=["sum_qty"])
