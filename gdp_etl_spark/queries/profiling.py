"""Profiling and statistics: table profiles, data-quality gates, drift,
outliers, correlation, checksums, layout keys, record linkage and graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query


def _zinterleave_sql(qx: str, qy: str, bits: int = 16) -> str:
    """Mirror of operators.layout._interleave: Morton bit-interleave of
    two quantized bigints (x bits at even positions, y at odd)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _pagerank_sql(iters: int = 5, scale: int = 10**12, dp: int = 85) -> str:
    """Mirror of operators.graph._pagerank_quantized: the 5 damped power
    iterations unrolled as integer-arithmetic CTEs (``//`` in DuckDB ==
    ``div`` in Spark on the all-positive fixed-point ranks), so every
    rank_q matches the Spark bigint bit-for-bit."""
    ctes = [
        f"""
        edges AS (
          SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        outdeg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        edeg AS (SELECT e.src, e.dst, d.out_deg
                 FROM edges e JOIN outdeg d ON e.src = d.src),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        params AS (SELECT count(*) AS n FROM nodes),
        dang AS (SELECT n.node FROM nodes n
                 LEFT JOIN outdeg o ON n.node = o.src WHERE o.src IS NULL),
        r0 AS (SELECT node, CAST({scale} // p.n AS BIGINT) AS rank_q
               FROM nodes, params p)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""
        c{k} AS (SELECT e.dst AS node, sum(r.rank_q // e.out_deg) AS in_q
                 FROM edeg e JOIN r{k - 1} r ON e.src = r.node
                 GROUP BY e.dst),
        d{k} AS (SELECT coalesce(sum(r.rank_q), 0) AS dq
                 FROM dang g JOIN r{k - 1} r ON g.node = r.node),
        r{k} AS (SELECT n.node,
                   CAST((({100 - dp} * {scale} // 100) // p.n)
                        + ({dp} * (coalesce(c.in_q, 0) + (d.dq // p.n))) // 100
                        AS BIGINT) AS rank_q
                 FROM nodes n LEFT JOIN c{k} c ON n.node = c.node,
                      d{k} d, params p)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
        SELECT node, rank_q,
               CAST(rank_q AS DOUBLE) / {float(scale)} AS rank
        FROM r{iters}"""
    )


#: column_entropy oracle: ONE histogram/entropy template instantiated
#: per profiled column — a single place to keep in sync with
#: profile.column_entropy's quantization
_COLUMN_ENTROPY_TMPL = """            SELECT '{col}' AS "column", n_distinct, entropy FROM (
              WITH counted AS (
                SELECT CAST({col} AS VARCHAR) AS v, COUNT(*) AS n
                FROM orders GROUP BY 1
              ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counted)
              SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(SUM(CAST(floor(-((CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
                          * ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)))
                          * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1e9
                       AS entropy
              FROM counted, tot)"""

_COLUMN_ENTROPY_SQL = "\n            UNION ALL\n".join(
    _COLUMN_ENTROPY_TMPL.format(col=c)
    for c in ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey")
)


@query(oracle=f"""
            WITH src AS (
              SELECT o_orderkey, o_custkey,
                     CAST(datediff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS dayno
              FROM orders
            ),
            mm AS (
              SELECT min(o_custkey) AS lox, max(o_custkey) AS hix,
                     min(dayno) AS loy, max(dayno) AS hiy
              FROM src
            ),
            q AS (
              SELECT s.*,
                     ((o_custkey - lox) * 65535)
                       // greatest(hix - lox, 1) AS qx,
                     ((dayno - loy) * 65535)
                       // greatest(hiy - loy, 1) AS qy
              FROM src s, mm
            ),
            z AS (SELECT *, {_zinterleave_sql('qx', 'qy', 16)} AS zval
                  FROM q)
            SELECT CAST((zval * 64) // 4294967296 AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(o_custkey) AS min_x, max(o_custkey) AS max_x,
                   min(dayno) AS min_y, max(dayno) AS max_y
            FROM z GROUP BY 1
        """)
def q_zorder_stats(spark, sf_dir):
    """Z-order (Morton) layout keys + per-bucket min/max envelopes
    (layout.zorder_bucket_stats): orders are quantized on
    (o_custkey, order epoch-day), bit-interleaved into a 32-bit zval,
    and each of 64 contiguous zval ranges — what a layout write would
    put in one file — reports its row count and min/max envelope in
    BOTH dimensions: the statistics a 100-TB scan prunes on.  Driver
    scalar min/max (4 values) + map-only shift/mask codegen + ONE
    aggregation shuffle on the bucket id."""
    from gdp_etl_spark.operators.layout import zorder_bucket_stats

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("dayno"),
    )
    return zorder_bucket_stats(o, "o_custkey", "dayno", bits=16, n_buckets=64)


@query(oracle="""
            WITH b AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.25) AS p25,
                     quantile_cont(l_extendedprice, 0.75) AS p75
              FROM lineitem GROUP BY 1),
            f AS (SELECT *, p25 - 1.5 * (p75 - p25) AS lo,
                         p75 + 1.5 * (p75 - p25) AS hi FROM b)
            SELECT l.l_returnflag, f.p25, f.p75, f.lo, f.hi,
                   count(CASE WHEN l_extendedprice < lo THEN 1 END) AS n_below,
                   count(CASE WHEN l_extendedprice > hi THEN 1 END) AS n_above,
                   count(*) AS n_total
            FROM lineitem l JOIN f USING (l_returnflag)
            GROUP BY 1, 2, 3, 4, 5
        """)
def q_outlier_fences(spark, sf_dir):
    """Tukey (IQR) outlier fences per return flag with outlier counts —
    exact quartiles at binary-exact interpolation fractions, fences
    broadcast back for the tagging pass."""
    from gdp_etl_spark.operators.outliers import iqr_fences

    li = _t(spark, sf_dir, "lineitem")
    return iqr_fences(li, "l_extendedprice", ["l_returnflag"]).select(
        "l_returnflag", "p25", "p75", "lo", "hi", "n_below", "n_above", "n_total"
    )


@query(oracle=" UNION ALL ".join(
            f"""
            SELECT '{c}' AS "column", count(*) AS n_rows,
                   count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
                   CAST(count(CASE WHEN {c} IS NULL THEN 1 END) AS DOUBLE)
                     / count(*) AS null_frac,
                   count(DISTINCT {c}) AS n_distinct
            FROM orders
            """
            for c in ["o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice", "o_orderdate", "o_orderpriority"]
        ))
def q_profile_table(spark, sf_dir):
    """One-pass table profile: per-column null counts and exact
    cardinality from a single wide aggregation, unpivoted."""
    from gdp_etl_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "orders"))


@query(oracle="""
            WITH m AS (
              SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
              FROM lineitem GROUP BY 1),
            d AS (
              SELECT l.l_returnflag, m.med,
                     quantile_cont(abs(l_extendedprice - m.med), 0.5) AS mad
              FROM lineitem l JOIN m USING (l_returnflag)
              GROUP BY 1, 2)
            SELECT l.l_returnflag, d.med, d.mad,
                   CASE WHEN d.mad <> 0 THEN
                     count(CASE WHEN abs(0.6745 * (l_extendedprice - d.med)
                                         / d.mad) > 3.5 THEN 1 END)
                   END AS n_outliers,
                   count(*) AS n_total
            FROM lineitem l JOIN d USING (l_returnflag)
            GROUP BY 1, 2, 3
        """)
def q_mad_outliers(spark, sf_dir):
    """Robust (median/MAD) outlier counts per return flag — modified
    z-score 0.6745·(x−med)/MAD, exact interpolated medians, two hash
    aggs + two broadcast joins."""
    from gdp_etl_spark.operators.outliers import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", ["l_returnflag"]
    )


@query(oracle=_pagerank_sql(iters=5))
def q_pagerank(spark, sf_dir):
    """PageRank over the customer→supplier trade graph (distinct
    (o_custkey, l_suppkey) edges), 5 damped power iterations.  Edge
    list partitioned-by-src once and reused each iteration; dangling
    (supplier) mass redistributed uniformly.  Runs the exact-bigint
    fixed-point tier (``quantize_scale=10**12``), so every rank is an
    integer multiple of 1e-12 and the oracle replays all 5 iterations
    with unrolled integer-arithmetic SQL — full hash equality, not
    rows-only.  Float-tier values pinned vs NumPy in tests/test_graph.py."""
    from gdp_etl_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"), (-F.col("l_suppkey")).alias("dst")
        )
        # suppliers negated so the two key spaces can't collide
        .distinct()
    )
    return pagerank(edges, iterations=5, quantize_scale=10**12)


@query(oracle="""
            -- outer CASTs pin BIGINT: DuckDB sum(BIGINT) is HUGEINT
            -- (int128), which the driver's pandas canonicalizer hashes
            -- differently from int64 (r3 hash_match=false was this)
            SELECT rule, kind,
                   CAST(n_violations AS BIGINT) AS n_violations,
                   CAST(n_checked AS BIGINT) AS n_checked
            FROM (
            SELECT 'not_null_o_custkey' AS rule, 'not_null' AS kind,
                   count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations,
                   count(*) AS n_checked
            FROM orders
            UNION ALL
            SELECT 'range_o_totalprice', 'in_range',
                   count(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0 OR o_totalprice > 300000)
                              THEN 1 END),
                   count(*)
            FROM orders
            UNION ALL
            SELECT 'unique_o_orderkey', 'unique',
                   coalesce(sum(CASE WHEN c > 1 THEN c END), 0), sum(c)
            FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
            UNION ALL
            SELECT 'unique_o_custkey_o_orderdate', 'unique',
                   coalesce(sum(CASE WHEN c > 1 THEN c END), 0), sum(c)
            FROM (SELECT count(*) AS c FROM orders
                  GROUP BY o_custkey, o_orderdate)
            UNION ALL
            SELECT 'fk_o_custkey', 'foreign_key',
                   (SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey)),
                   count(*)
            FROM orders
            ) t
        """)
def q_dq_checks(spark, sf_dir):
    """Declarative data-quality gate over orders: NULL / range rules
    fused into one scan, uniqueness via one group-agg, FK integrity via
    a broadcast left-anti join — (rule, kind, n_violations, n_checked)."""
    from gdp_etl_spark.operators import validate as V

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return V.run_checks(
        o,
        [
            V.not_null("o_custkey"),
            V.in_range("o_totalprice", 0.0, 300000.0),
            V.unique("o_orderkey"),
            V.unique(["o_custkey", "o_orderdate"]),
            V.foreign_key("o_custkey", c, "c_custkey"),
        ],
    )


@query(oracle="""
            WITH b AS (
              SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
                     CAST(max(o_totalprice) AS DOUBLE) AS hi
              FROM orders WHERE year(o_orderdate) <= 1994),
            rc AS (
              SELECT CAST(CASE WHEN b.hi = b.lo THEN 0 ELSE
                       greatest(0, least(9,
                       floor((CAST(o_totalprice AS DOUBLE) - b.lo)
                             / ((b.hi - b.lo) / 10.0)))) END AS INT) AS bin,
                     count(*) AS n_ref
              FROM orders, b
              WHERE year(o_orderdate) <= 1994 AND o_totalprice IS NOT NULL
              GROUP BY 1),
            cc AS (
              SELECT CAST(CASE WHEN b.hi = b.lo THEN 0 ELSE
                       greatest(0, least(9,
                       floor((CAST(o_totalprice AS DOUBLE) - b.lo)
                             / ((b.hi - b.lo) / 10.0)))) END AS INT) AS bin,
                     count(*) AS n_cur
              FROM orders, b
              WHERE year(o_orderdate) >= 1995 AND o_totalprice IS NOT NULL
              GROUP BY 1),
            g AS (SELECT unnest(generate_series(0, 9)) AS bin),
            j AS (
              SELECT CAST(g.bin AS INT) AS bin,
                     coalesce(rc.n_ref, 0) AS n_ref,
                     coalesce(cc.n_cur, 0) AS n_cur
              FROM g LEFT JOIN rc ON g.bin = rc.bin
                     LEFT JOIN cc ON g.bin = cc.bin),
            t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
            SELECT bin, n_ref, n_cur,
                   (n_ref + 0.5) / (t.tr + 5.0) AS p_ref,
                   (n_cur + 0.5) / (t.tc + 5.0) AS p_cur,
                   ((n_cur + 0.5) / (t.tc + 5.0) - (n_ref + 0.5) / (t.tr + 5.0))
                     * ln(((n_cur + 0.5) / (t.tc + 5.0))
                          / ((n_ref + 0.5) / (t.tr + 5.0))) AS psi_contrib
            FROM j, t
        """)
def q_drift_psi(spark, sf_dir):
    """Population Stability Index of order value, 1992-94 baseline vs
    1995+ current: reference-defined equi-width bins, Laplace-smoothed
    shares, per-bin (q−p)·ln(q/p) contributions."""
    from gdp_etl_spark.operators.profile import drift_psi

    o = _t(spark, sf_dir, "orders")
    ref = o.filter(F.year("o_orderdate") <= 1994)
    cur = o.filter(F.year("o_orderdate") >= 1995)
    return drift_psi(ref, cur, "o_totalprice", nbins=10)


# per-column value histograms, fixed-point -p ln p sums
@query(oracle=_COLUMN_ENTROPY_SQL)
def q_column_entropy(spark, sf_dir):
    """Per-column entropy/balance profile (profile.column_entropy) over
    four orders columns: Shannon entropy in fixed-point nats + NDV per
    column, NULLs profiled as a category.  The -p ln p contributions
    quantize at floor(1e9) before the cross-category sum, so the frame
    is bit-exact cross-engine."""
    from gdp_etl_spark.operators.profile import column_entropy

    return column_entropy(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"],
    )


# 14 sufficient sums, one aggregation, identical closed forms
@query(oracle="""
            WITH q AS (
              SELECT CAST(floor(l_quantity * 1000000.0) AS DECIMAL(19,0)) AS q0,
                     CAST(floor(l_extendedprice * 1000000.0) AS DECIMAL(19,0)) AS q1,
                     CAST(floor(l_discount * 1000000.0) AS DECIMAL(19,0)) AS q2,
                     CAST(floor(l_tax * 1000000.0) AS DECIMAL(19,0)) AS q3
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL AND l_tax IS NOT NULL
            ),
            summed AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     CAST(CASE WHEN sum(q0) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q0)) - (abs(sum(q0)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q0)) % 18446744073709551616) - (abs(sum(q0)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q0)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e6 AS s0,
                     CAST(CASE WHEN sum(q0 * q0) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q0 * q0)) - (abs(sum(q0 * q0)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q0 * q0)) % 18446744073709551616) - (abs(sum(q0 * q0)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q0 * q0)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s00,
                     CAST(CASE WHEN sum(q1) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q1)) - (abs(sum(q1)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q1)) % 18446744073709551616) - (abs(sum(q1)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q1)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e6 AS s1,
                     CAST(CASE WHEN sum(q1 * q1) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q1 * q1)) - (abs(sum(q1 * q1)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q1 * q1)) % 18446744073709551616) - (abs(sum(q1 * q1)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q1 * q1)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s11,
                     CAST(CASE WHEN sum(q2) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q2)) - (abs(sum(q2)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q2)) % 18446744073709551616) - (abs(sum(q2)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q2)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e6 AS s2,
                     CAST(CASE WHEN sum(q2 * q2) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q2 * q2)) - (abs(sum(q2 * q2)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q2 * q2)) % 18446744073709551616) - (abs(sum(q2 * q2)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q2 * q2)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s22,
                     CAST(CASE WHEN sum(q3) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q3)) - (abs(sum(q3)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q3)) % 18446744073709551616) - (abs(sum(q3)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q3)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e6 AS s3,
                     CAST(CASE WHEN sum(q3 * q3) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q3 * q3)) - (abs(sum(q3 * q3)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q3 * q3)) % 18446744073709551616) - (abs(sum(q3 * q3)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q3 * q3)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s33,
                     CAST(CASE WHEN sum(q0 * q1) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q0 * q1)) - (abs(sum(q0 * q1)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q0 * q1)) % 18446744073709551616) - (abs(sum(q0 * q1)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q0 * q1)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s01,
                     CAST(CASE WHEN sum(q0 * q2) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q0 * q2)) - (abs(sum(q0 * q2)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q0 * q2)) % 18446744073709551616) - (abs(sum(q0 * q2)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q0 * q2)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s02,
                     CAST(CASE WHEN sum(q0 * q3) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q0 * q3)) - (abs(sum(q0 * q3)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q0 * q3)) % 18446744073709551616) - (abs(sum(q0 * q3)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q0 * q3)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s03,
                     CAST(CASE WHEN sum(q1 * q2) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q1 * q2)) - (abs(sum(q1 * q2)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q1 * q2)) % 18446744073709551616) - (abs(sum(q1 * q2)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q1 * q2)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s12,
                     CAST(CASE WHEN sum(q1 * q3) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q1 * q3)) - (abs(sum(q1 * q3)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q1 * q3)) % 18446744073709551616) - (abs(sum(q1 * q3)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q1 * q3)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s13,
                     CAST(CASE WHEN sum(q2 * q3) < 0 THEN -1.0 ELSE 1.0 END * ((CAST((abs(sum(q2 * q3)) - (abs(sum(q2 * q3)) % 18446744073709551616)) AS DOUBLE) + CAST(((abs(sum(q2 * q3)) % 18446744073709551616) - (abs(sum(q2 * q3)) % 4294967296)) AS DOUBLE)) + CAST((abs(sum(q2 * q3)) % 4294967296) AS DOUBLE)) AS DOUBLE) / 1e12 AS s23
              FROM q
            )
            SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, CAST(n AS BIGINT) AS n, CASE WHEN n >= 2 AND (n * s00 - s0 * s0) > 0 AND (n * s11 - s1 * s1) > 0 THEN (n * s01 - s0 * s1) / sqrt((n * s00 - s0 * s0) * (n * s11 - s1 * s1)) END AS corr FROM summed
            UNION ALL
            SELECT 'l_quantity' AS col_x, 'l_discount' AS col_y, CAST(n AS BIGINT) AS n, CASE WHEN n >= 2 AND (n * s00 - s0 * s0) > 0 AND (n * s22 - s2 * s2) > 0 THEN (n * s02 - s0 * s2) / sqrt((n * s00 - s0 * s0) * (n * s22 - s2 * s2)) END AS corr FROM summed
            UNION ALL
            SELECT 'l_quantity' AS col_x, 'l_tax' AS col_y, CAST(n AS BIGINT) AS n, CASE WHEN n >= 2 AND (n * s00 - s0 * s0) > 0 AND (n * s33 - s3 * s3) > 0 THEN (n * s03 - s0 * s3) / sqrt((n * s00 - s0 * s0) * (n * s33 - s3 * s3)) END AS corr FROM summed
            UNION ALL
            SELECT 'l_extendedprice' AS col_x, 'l_discount' AS col_y, CAST(n AS BIGINT) AS n, CASE WHEN n >= 2 AND (n * s11 - s1 * s1) > 0 AND (n * s22 - s2 * s2) > 0 THEN (n * s12 - s1 * s2) / sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)) END AS corr FROM summed
            UNION ALL
            SELECT 'l_extendedprice' AS col_x, 'l_tax' AS col_y, CAST(n AS BIGINT) AS n, CASE WHEN n >= 2 AND (n * s11 - s1 * s1) > 0 AND (n * s33 - s3 * s3) > 0 THEN (n * s13 - s1 * s3) / sqrt((n * s11 - s1 * s1) * (n * s33 - s3 * s3)) END AS corr FROM summed
            UNION ALL
            SELECT 'l_discount' AS col_x, 'l_tax' AS col_y, CAST(n AS BIGINT) AS n, CASE WHEN n >= 2 AND (n * s22 - s2 * s2) > 0 AND (n * s33 - s3 * s3) > 0 THEN (n * s23 - s2 * s3) / sqrt((n * s22 - s2 * s2) * (n * s33 - s3 * s3)) END AS corr FROM summed
        """)
def q_corr_matrix(spark, sf_dir):
    """One-pass pairwise Pearson matrix (regression.corr_matrix) over
    four lineitem measures — all 14 sufficient sums accumulate in a
    single map-side-combined aggregation instead of 6 separate corr()
    passes.  Fixed-point recipe end to end; all 6 pairs bit-exact vs
    the oracle's identical closed forms."""
    from gdp_etl_spark.operators.regression import corr_matrix

    return corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


# Fellegi-Sunter replayed: same md5 dirt, same millis weights
@query(oracle="""
            WITH h AS (
              SELECT c_custkey,
                     CAST(CAST(concat('0x', substring(md5(
                          CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
                       AS BIGINT) AS hv
              FROM customer
            ),
            r AS (
              SELECT c.c_custkey AS r_custkey,
                     CASE WHEN h.hv % 3 = 0 THEN upper(c_name)
                          ELSE c_name END AS r_name,
                     c_nationkey AS r_nationkey,
                     c_acctbal + ((h.hv % 7) - 3) * 0.01 AS r_acctbal,
                     CASE WHEN h.hv % 5 = 0 THEN NULL
                          ELSE c_mktsegment END AS r_mktsegment
              FROM customer c JOIN h USING (c_custkey)
            ),
            cands AS (
              SELECT l.c_custkey AS l_custkey, l.c_name AS l_name,
                     l.c_acctbal AS l_acctbal,
                     l.c_mktsegment AS l_mktsegment,
                     r.*
              FROM customer l JOIN r
                ON l.c_nationkey = r.r_nationkey
               AND right(lower(l.c_name), 4) = right(lower(r.r_name), 4)
            ),
            scored AS (
              SELECT l_custkey, r_custkey,
                     lower(l_name) = lower(r_name) AS name_agree,
                     CASE WHEN l_mktsegment IS NULL OR r_mktsegment IS NULL
                          THEN NULL
                          ELSE l_mktsegment = r_mktsegment END AS seg_agree,
                     abs(l_acctbal - r_acctbal) <= 0.035 AS bal_agree
              FROM cands
            )
            SELECT l_custkey, r_custkey, name_agree, seg_agree, bal_agree,
                   CAST(
                     (CASE WHEN name_agree IS NULL THEN 0
                           WHEN name_agree THEN 6000 ELSE -3000 END)
                   + (CASE WHEN seg_agree IS NULL THEN 0
                           WHEN seg_agree THEN 1000 ELSE -500 END)
                   + (CASE WHEN bal_agree IS NULL THEN 0
                           WHEN bal_agree THEN 2000 ELSE -1000 END)
                     AS BIGINT) AS score_millis,
                   CASE WHEN (CASE WHEN name_agree IS NULL THEN 0
                                   WHEN name_agree THEN 6000 ELSE -3000 END)
                           + (CASE WHEN seg_agree IS NULL THEN 0
                                   WHEN seg_agree THEN 1000 ELSE -500 END)
                           + (CASE WHEN bal_agree IS NULL THEN 0
                                   WHEN bal_agree THEN 2000 ELSE -1000 END)
                             >= 7000 THEN 'match'
                        WHEN (CASE WHEN name_agree IS NULL THEN 0
                                   WHEN name_agree THEN 6000 ELSE -3000 END)
                           + (CASE WHEN seg_agree IS NULL THEN 0
                                   WHEN seg_agree THEN 1000 ELSE -500 END)
                           + (CASE WHEN bal_agree IS NULL THEN 0
                                   WHEN bal_agree THEN 2000 ELSE -1000 END)
                             >= 1000 THEN 'possible'
                        ELSE 'non_match' END AS link_class
            FROM scored
            WHERE (CASE WHEN name_agree IS NULL THEN 0
                        WHEN name_agree THEN 6000 ELSE -3000 END)
                + (CASE WHEN seg_agree IS NULL THEN 0
                        WHEN seg_agree THEN 1000 ELSE -500 END)
                + (CASE WHEN bal_agree IS NULL THEN 0
                        WHEN bal_agree THEN 2000 ELSE -1000 END) >= 1000
        """)
def q_record_linkage(spark, sf_dir):
    """Probabilistic record linkage (linkage.block_candidates +
    fellegi_sunter_score): customer linked against a deterministically
    dirtied copy of itself — md5-parity case flips, segment NULL-outs,
    ±0.03 balance jitter — blocked on (nation, name prefix), scored by
    per-field log-odds in integer millis.  Output keeps the match /
    possible tier.  Every perturbation and weight replays exactly in
    the oracle, so pair classes hash-match bit-for-bit."""
    from gdp_etl_spark.operators.linkage import (
        FieldRule,
        block_candidates,
        fellegi_sunter_score,
    )

    c = _t(spark, sf_dir, "customer")
    h = F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10).cast("long")
    right = c.select(
        F.col("c_custkey").alias("r_custkey"),
        F.when(h % 3 == 0, F.upper("c_name")).otherwise(F.col("c_name")).alias("r_name"),
        F.col("c_nationkey").alias("r_nationkey"),
        (F.col("c_acctbal") + ((h % 7) - F.lit(3)) * F.lit(0.01)).alias("r_acctbal"),
        F.when(h % 5 == 0, F.lit(None).cast("string")).otherwise(F.col("c_mktsegment")).alias("r_mktsegment"),
    )
    left = c.select(
        F.col("c_custkey").alias("l_custkey"),
        F.col("c_name").alias("l_name"),
        F.col("c_nationkey").alias("l_nationkey"),
        F.col("c_acctbal").alias("l_acctbal"),
        F.col("c_mktsegment").alias("l_mktsegment"),
    )
    cands = block_candidates(
        left,
        right,
        [
            (F.col("l_nationkey"), F.col("r_nationkey")),
            # trailing name digits: the DISCRIMINATING part of the name
            # (a leading prefix is constant across the synthetic names,
            # which would degenerate blocking to nation-only quadratic)
            (
                F.substring(F.lower("l_name"), -4, 4),
                F.substring(F.lower("r_name"), -4, 4),
            ),
        ],
    )
    rules = [
        FieldRule("name", F.lower("l_name") == F.lower("r_name"), 6000, 3000),
        FieldRule(
            "seg",
            F.when(
                F.col("l_mktsegment").isNull() | F.col("r_mktsegment").isNull(),
                F.lit(None).cast("boolean"),
            ).otherwise(F.col("l_mktsegment") == F.col("r_mktsegment")),
            1000,
            500,
        ),
        FieldRule(
            "bal",
            F.abs(F.col("l_acctbal") - F.col("r_acctbal")) <= 0.035,
            2000,
            1000,
        ),
    ]
    return (
        fellegi_sunter_score(cands, rules, upper_millis=7000, lower_millis=1000)
        .filter(F.col("score_millis") >= 1000)
        .select(
            "l_custkey", "r_custkey", "name_agree", "seg_agree", "bal_agree",
            "score_millis", "link_class",
        )
    )


# Benford screen: identical expectation literals both engines,
# digit from the exact cents string
@query(oracle="""
            WITH exp_p AS (
              SELECT * FROM (VALUES (1, CAST(0.3010299956639812 AS DOUBLE)), (2, CAST(0.17609125905568124 AS DOUBLE)), (3, CAST(0.12493873660829992 AS DOUBLE)), (4, CAST(0.09691001300805642 AS DOUBLE)), (5, CAST(0.07918124604762482 AS DOUBLE)), (6, CAST(0.06694678963061322 AS DOUBLE)), (7, CAST(0.05799194697768673 AS DOUBLE)), (8, CAST(0.05115252244738129 AS DOUBLE)), (9, CAST(0.04575749056067514 AS DOUBLE)))
                t(digit, benford_p)
            ),
            counted AS (
              -- abs(): Benford reads the first significant digit of
              -- |value| (mirrors profile.benford_digits; a no-op on
              -- this all-positive feed)
              SELECT CAST(substring(CAST(abs(CAST(round(o_totalprice * 100)
                         AS BIGINT)) AS VARCHAR), 1, 1) AS INT) AS digit,
                     COUNT(*) AS n
              FROM orders
              WHERE abs(CAST(round(o_totalprice * 100.0) AS BIGINT)) >= 1
              GROUP BY 1
            ),
            tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counted)
            SELECT c.digit, c.n,
                   CAST(c.n AS DOUBLE) / t.n_total AS share,
                   e.benford_p,
                   (c.n - t.n_total * e.benford_p)
                     * (c.n - t.n_total * e.benford_p)
                     / (t.n_total * e.benford_p) AS chi2_contrib
            FROM counted c, tot t JOIN exp_p e ON c.digit = e.digit
        """)
def q_benford(spark, sf_dir):
    """Benford first-digit screen (profile.benford_digits) over order
    totals: observed leading-digit shares vs log10(1+1/d) with χ²
    contributions.  Digit extraction rides the exact integer-cents
    string path (no log10 bucketing on doubles), and the Benford
    expectations are baked as identical double literals into BOTH
    engines, so the whole 9-row result is bit-exact."""
    from gdp_etl_spark.operators.profile import benford_digits

    return benford_digits(_t(spark, sf_dir, "orders"), "o_totalprice")


# id-ordered triangle recount (per-vertex counts are
# orientation-independent, so this mirrors the degree-ordered
# engine exactly)
@query(oracle="""
            WITH e AS (
              SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS va,
                              greatest(a.l_partkey, b.l_partkey) AS vb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              WHERE a.l_quantity >= 45 AND b.l_quantity >= 45
            ),
            tri AS (
              SELECT e1.va AS x, e1.vb AS y, e2.vb AS z
              FROM e e1
              JOIN e e2 ON e2.va = e1.vb
              JOIN e e3 ON e3.va = e1.va AND e3.vb = e2.vb
            ),
            corners AS (
              SELECT x AS vertex FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            )
            SELECT vertex, COUNT(*) AS n_triangles
            FROM corners GROUP BY vertex
        """)
def q_triangle_count(spark, sf_dir):
    """Per-vertex triangle counts (graph.triangle_count) over the
    bulk-part co-occurrence graph: parts appearing on the same order
    with quantity ≥ 45 are linked; triangles mark cohesive co-purchase
    cliques.  Degree-ordered orientation bounds wedge fan-out at O(√m)
    per vertex — the skew-proof formulation — and the oracle recounts
    with the id-ordered SQL equivalent (per-vertex counts are
    orientation-independent)."""
    from gdp_etl_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select(
        F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("pb")
    )
    edges = (
        a.join(b, (F.col("l_orderkey") == F.col("ok_b")) & (F.col("pa") < F.col("pb")))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return triangle_count(edges)


@query(oracle="""
            SELECT count(*) AS n_rows,
                   CAST(sum(CAST(CAST(concat('0x',
                       substring(md5(concat_ws(chr(31),
                         coalesce(CAST(o_orderkey AS VARCHAR),
                                  chr(0) || 'NULL'),
                         coalesce(CAST(o_custkey AS VARCHAR),
                                  chr(0) || 'NULL'),
                         coalesce(CAST(o_orderstatus AS VARCHAR),
                                  chr(0) || 'NULL'),
                         coalesce(CAST(o_orderpriority AS VARCHAR),
                                  chr(0) || 'NULL'))), 1, 15))
                     AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
            FROM orders
        """)
def q_table_checksum(spark, sf_dir):
    """Orderless table checksum over orders — md5-prefix 60-bit ints
    summed exactly; partitioning-independent, engine-portable, one
    map-side-combined scan."""
    from gdp_etl_spark.operators.profile import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


# the Observation contract is "these aggregates over the rows
# that flowed through the observed stage" — replayed declaratively
# (the NULL-lang literal row exercises the null counters)
@query(oracle="""
            WITH d AS (
              SELECT lang, n_chars FROM documents
              UNION ALL
              SELECT NULL, CAST(9999 AS BIGINT)
            )
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS lang_nulls,
                   min(lang) AS lang_min,
                   max(lang) AS lang_max,
                   CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_chars_nulls,
                   CAST(min(n_chars) AS BIGINT) AS n_chars_min,
                   CAST(max(n_chars) AS BIGINT) AS n_chars_max
            FROM d WHERE n_chars > 200
        """)
def q_observed_profile(spark, sf_dir):
    """Zero-extra-pass telemetry (observe.observed_profile): a filter
    stage's data-quality profile — row count plus per-column null
    count / min / max — piggybacked on the action the caller already
    runs (Observation API accumulators), never a second scan.  The
    query RUNS the observed action (a count) and returns the
    observation's metrics as a one-row frame; a literal NULL-lang row
    is unioned in so the null counters are exercised, not just zero.
    The oracle recomputes the same aggregates declaratively — the
    Observation contract is exactly "these aggregates over the rows
    that flowed through"."""
    from gdp_etl_spark.operators.observe import observed_profile
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select("lang", "n_chars").unionByName(
        local_df(spark, [(None, 9999)], "lang string, n_chars bigint")
    ).filter(F.col("n_chars") > 200)
    observed, obs = observed_profile(d, ["lang", "n_chars"])
    observed.count()  # the action the metrics piggyback on
    m = obs.get
    return local_df(
        spark,
        [(
            m["n_rows"], m["lang_nulls"], m["lang_min"], m["lang_max"],
            m["n_chars_nulls"], m["n_chars_min"], m["n_chars_max"],
        )],
        "n_rows bigint, lang_nulls bigint, lang_min string, "
        "lang_max string, n_chars_nulls bigint, n_chars_min bigint, "
        "n_chars_max bigint",
    )
