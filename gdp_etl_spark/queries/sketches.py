"""Sketches: portable HyperLogLog NDV, mergeable rollups, persisted NDV and
histogram sketch tables, count-min and histograms."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query


#: portable-HLL estimator constants for the sketch_stats oracle —
#: numerator and linear-counting lookup BOTH imported from sketches so
#: the operator and the oracle cannot drift
def _hll_num() -> float:
    from gdp_etl_spark.operators.sketches import _hll_numerator

    return _hll_numerator(8)


_HLL_NUM = _hll_num()


def _hll_lc_sql() -> str:
    from gdp_etl_spark.operators.sketches import _hll_lc_table

    return ", ".join(str(v) for v in _hll_lc_table(256))


_HLL_LC_SQL = _hll_lc_sql()


def _hll_est_sql(
    keys: list[str], head: str = "", select_keys: bool = True
) -> str:
    """THE portable-HLL estimate block, shared by every sketch oracle
    (sketch_stats, sketch_rollup's three levels, ndv_incremental) so
    the estimator SQL exists exactly once and cannot drift from
    sketches.portable_hll_merge.  Emits a SELECT over a CTE
    ``r({keys...}, reg, rho, c)`` of registers: re-merge per (keys,
    reg) — an identity when r is already at that granularity — then
    the two-limb fixed-point sum, the single IEEE division and the
    linear-counting switch.  ``head`` prepends extra select items
    (level labels, NULL pads); ``select_keys=False`` when the head
    already aliases the key columns itself."""
    kcsv = ", ".join(keys)
    ksel = (kcsv + ", ") if keys else ""
    out_keys = ksel if select_keys else ""
    merge_grp = f"GROUP BY {ksel}reg"
    est_grp = f"GROUP BY {kcsv}" if keys else ""
    return f"""
            SELECT {head}{out_keys}
                   CASE WHEN (256 - nb) > 0 AND
                             CAST({_HLL_NUM!r} AS DOUBLE) /
                               (CAST(hi0 + (256 - nb) * 256 AS DOUBLE)
                                  * CAST(9007199254740992 AS DOUBLE)
                                + CAST(reg_lo AS DOUBLE)) <= 640.0
                        THEN CAST([{_HLL_LC_SQL}][CAST(256 - nb AS INT)]
                                  AS BIGINT)
                        ELSE CAST(floor(CAST({_HLL_NUM!r} AS DOUBLE) /
                               (CAST(hi0 + (256 - nb) * 256 AS DOUBLE)
                                  * CAST(9007199254740992 AS DOUBLE)
                                + CAST(reg_lo AS DOUBLE))) AS BIGINT)
                        END AS ndv_portable,
                   CAST(hi0 + (256 - nb) * 256 AS BIGINT) AS reg_hi,
                   reg_lo, CAST(256 - nb AS BIGINT) AS v_zero, n_vals
            FROM (
              SELECT {ksel}count(*) AS nb,
                     CAST(sum(CASE WHEN rho <= 8
                          THEN (CAST(1 AS BIGINT) << (8 - rho))
                          ELSE 0 END) AS BIGINT) AS hi0,
                     CAST(sum(CASE WHEN rho > 8
                          THEN (CAST(1 AS BIGINT) << (61 - rho))
                          ELSE 0 END) AS BIGINT) AS reg_lo,
                     CAST(sum(c) AS BIGINT) AS n_vals
              FROM (SELECT {ksel}reg, max(rho) AS rho, sum(c) AS c
                    FROM r {merge_grp})
              {est_grp})"""


# portable HLL replayed end to end: 60-bit md5 hash, register
# index/remainder split, rho via leading-zero count (bin strips
# leading zeros in both engines), register maxima, the two-limb
# fixed-point register sum, the single IEEE double division of
# the estimator (numerator = alpha*m^2*2^(p+53) as a literal),
# and the linear-counting small-range switch via the same
# precomputed round(m*ln(m/V)) literal lookup
@query(oracle=f"""
            WITH h AS (
              SELECT o_orderpriority,
                     CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                          1, 15)) AS BIGINT) AS hv
              FROM orders WHERE o_custkey IS NOT NULL),
            b AS (SELECT o_orderpriority, hv % 256 AS reg,
                         hv // 256 AS w FROM h),
            r AS (SELECT o_orderpriority, reg,
                         max(53 - length(ltrim(bin(w), '0'))) AS rho,
                         count(*) AS c
                  FROM b GROUP BY 1, 2)
            {_hll_est_sql(["o_orderpriority"])}
        """)
def q_sketch_stats(spark, sf_dir):
    """Per-group NDV via the PORTABLE HyperLogLog
    (sketches.portable_hll_ndv): md5-derived register index + rho,
    register maxima in one fine-keyed groupBy, exact two-limb
    fixed-point register sum, single IEEE double division for the
    estimate — every step engine-replayable, so the oracle replays
    hash, registers AND estimator bit-for-bit (this was the registry's
    last rows-only query; the built-in HLL++/percentile_approx path
    stays covered by sketch_bounds' error-bound contract).  Same scale
    shape as the native sketch: fixed m=256 registers per group,
    map-side partial maxima, hot groups spread over m reducers."""
    from gdp_etl_spark.operators.sketches import portable_hll_ndv

    o = _t(spark, sf_dir, "orders")
    return portable_hll_ndv(o, ["o_orderpriority"], "o_custkey", p=8)


def _hll_rollup_levels_sql() -> str:
    """Per-level estimate blocks for the sketch_rollup oracle — each
    level is :func:`_hll_est_sql` with a label + NULL-pad head.
    Expects a CTE ``r(pri, st, reg, rho, c)`` of fine registers."""
    levels = [
        ("priority_status", ["pri", "st"]),
        ("priority", ["pri"]),
        ("total", []),
    ]
    blocks = []
    for label, keys in levels:
        pri = "pri" if "pri" in keys else "CAST(NULL AS VARCHAR)"
        st = "st" if "st" in keys else "CAST(NULL AS VARCHAR)"
        head = (
            f"'{label}' AS level, {pri} AS o_orderpriority, "
            f"{st} AS o_orderstatus, "
        )
        # the head aliases the keys itself (with NULL pads), so the
        # generator must not re-project the bare key columns
        blocks.append(_hll_est_sql(keys, head, select_keys=False))
    return " UNION ALL ".join(blocks)


# register state built once at (priority, status), each rollup
# level re-merged by max(rho) and estimated with the identical
# fixed-point + linear-counting pipeline as sketch_stats
@query(oracle=f"""
            WITH h AS (
              SELECT o_orderpriority AS pri, o_orderstatus AS st,
                     CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                          1, 15)) AS BIGINT) AS hv
              FROM orders WHERE o_custkey IS NOT NULL),
            b AS (SELECT pri, st, hv % 256 AS reg, hv // 256 AS w
                  FROM h),
            r AS (SELECT pri, st, reg,
                         max(53 - length(ltrim(bin(w), '0'))) AS rho,
                         count(*) AS c
                  FROM b GROUP BY 1, 2, 3)
            {_hll_rollup_levels_sql()}
        """)
def q_sketch_rollup(spark, sf_dir):
    """Sketch MERGEABILITY — the property that makes sketches the
    100-TB answer: the portable-HLL register state is built ONCE at
    (priority, status) granularity
    (sketches.portable_hll_registers, ≤ 2^p rows per group,
    localCheckpointed as the stored sketch table), then THREE rollup
    levels — (priority, status), (priority), grand total — are
    answered from that state alone by max-merging registers
    (portable_hll_merge), never rescanning orders.  Because max is
    associative, each merged estimate is bit-identical to sketching
    the coarse group directly (pinned in pytest), and the oracle
    replays registers + merge + estimator at every level — full
    hash."""
    from gdp_etl_spark.operators.sketches import (
        portable_hll_merge,
        portable_hll_registers,
    )

    o = _t(spark, sf_dir, "orders")
    # the stored sketch state: one base-table pass, tiny frame
    # (≤ |groups|·2^p rows) — eager checkpoint so the three level
    # queries reuse it instead of re-scanning orders
    regs = portable_hll_registers(
        o, ["o_orderpriority", "o_orderstatus"], "o_custkey", p=8
    ).localCheckpoint()
    cols = ["ndv_portable", "reg_hi", "reg_lo", "v_zero", "n_vals"]
    lv2 = portable_hll_merge(
        regs, ["o_orderpriority", "o_orderstatus"]
    ).select(
        F.lit("priority_status").alias("level"),
        "o_orderpriority", "o_orderstatus", *cols,
    )
    lv1 = portable_hll_merge(regs, ["o_orderpriority"]).select(
        F.lit("priority").alias("level"),
        "o_orderpriority",
        F.lit(None).cast("string").alias("o_orderstatus"),
        *cols,
    )
    lv0 = portable_hll_merge(regs, []).select(
        F.lit("total").alias("level"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        *cols,
    )
    return lv2.unionByName(lv1).unionByName(lv0)


# the stored-table lifecycle (write day-1 + append day-2 +
# merge-on-read) is bit-identical to sketching ALL orders
# directly — register max-merge is associative — so the oracle
# is the plain portable-HLL replay at (priority, status)
@query(oracle=f"""
            WITH h AS (
              SELECT o_orderpriority, o_orderstatus,
                     CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                          1, 15)) AS BIGINT) AS hv
              FROM orders WHERE o_custkey IS NOT NULL),
            b AS (SELECT o_orderpriority, o_orderstatus,
                         hv % 256 AS reg, hv // 256 AS w FROM h),
            r AS (SELECT o_orderpriority, o_orderstatus, reg,
                         max(53 - length(ltrim(bin(w), '0'))) AS rho,
                         count(*) AS c
                  FROM b GROUP BY 1, 2, 3)
            {_hll_est_sql(["o_orderpriority", "o_orderstatus"])}
        """)
def q_ndv_incremental(spark, sf_dir):
    """The persisted-sketch-table lifecycle under the driver's eye
    (sketches.write_ndv_sketch / append_to_ndv_sketch /
    ndv_from_sketch): day-1 orders (even keys) are sketched into a
    stamped metastore table, day-2 (odd keys) APPENDS its registers —
    one scan of the increment, no rescan of day 1 — and the estimates
    read back from the stored state.  Because register max-merge is
    associative, the result is bit-identical to sketching ALL orders
    directly, so the oracle is simply the portable-HLL replay over the
    full table at (priority, status) granularity: a broken write,
    append, stamp or merge breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.sketches import (
        append_to_ndv_sketch,
        ndv_from_sketch,
        write_ndv_sketch,
    )

    table = "q_ndv_sketch_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    o = _t(spark, sf_dir, "orders")
    write_ndv_sketch(
        o.filter(F.col("o_orderkey") % 2 == 0),
        ["o_orderpriority", "o_orderstatus"],
        "o_custkey",
        table,
    )
    append_to_ndv_sketch(o.filter(F.col("o_orderkey") % 2 == 1), table)
    return ndv_from_sketch(spark, table)


@query(oracle="""
            SELECT DISTINCT o_orderpriority,
                   TRUE AS ndv_ok, TRUE AS p50_ok, TRUE AS p95_ok
            FROM orders
        """)
def q_sketch_bounds(spark, sf_dir):
    """Driver-checkable companion to ``sketch_stats``: approximate
    sketch values are engine-specific, but their ERROR GUARANTEES are
    not — HLL++ at rsd=0.05 stays within ±20% (4σ) of exact NDV, and
    percentile_approx at accuracy=10⁴ returns an element whose rank is
    within 1e-4·n of the target (checked with a 100× margin, 0.01·n).
    This query recomputes the exact aggregates next to the sketches and
    emits the bound-satisfaction booleans; the oracle asserts all-TRUE
    rows, so a broken sketch pipeline fails the hash check."""
    from gdp_etl_spark.operators.sketches import (
        group_cardinality_sketch,
        group_quantile_sketch,
    )

    o = _t(spark, sf_dir, "orders")
    ndv = group_cardinality_sketch(o, ["o_orderpriority"], "o_custkey", rsd=0.05)
    qs = group_quantile_sketch(
        o, ["o_orderpriority"], "o_totalprice", (0.5, 0.95), accuracy=10_000
    ).select(
        "o_orderpriority",
        F.col("quantiles_approx")[0].alias("p50"),
        F.col("quantiles_approx")[1].alias("p95"),
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("ndv_exact"),
        F.count(F.lit(1)).alias("n"),
    )
    j = ndv.join(qs, "o_orderpriority").join(exact, "o_orderpriority")
    ranks = (
        o.join(j.select("o_orderpriority", "p50", "p95"), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_totalprice") <= F.col("p50"), 1).otherwise(0)).alias("le50"),
            F.sum(F.when(F.col("o_totalprice") < F.col("p50"), 1).otherwise(0)).alias("lt50"),
            F.sum(F.when(F.col("o_totalprice") <= F.col("p95"), 1).otherwise(0)).alias("le95"),
            F.sum(F.when(F.col("o_totalprice") < F.col("p95"), 1).otherwise(0)).alias("lt95"),
        )
    )
    nd = F.col("n").cast("double")
    return (
        j.join(ranks, "o_orderpriority")
        .select(
            "o_orderpriority",
            (
                F.abs(F.col("ndv_approx") - F.col("ndv_exact"))
                <= 0.2 * F.col("ndv_exact")
            ).alias("ndv_ok"),
            (
                (F.col("le50") >= (0.5 - 0.01) * nd)
                & (F.col("lt50") <= (0.5 + 0.01) * nd)
            ).alias("p50_ok"),
            (
                (F.col("le95") >= (0.95 - 0.01) * nd)
                & (F.col("lt95") <= (0.95 + 0.01) * nd)
            ).alias("p95_ok"),
        )
    )


@query(oracle="""
            WITH b AS (
              SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
                     CAST(max(l_extendedprice) AS DOUBLE) AS hi
              FROM lineitem),
            counted AS (
              SELECT CAST(CASE WHEN b.hi = b.lo THEN 0 ELSE
                       least(19, floor((CAST(l_extendedprice AS DOUBLE) - b.lo)
                                       / ((b.hi - b.lo) / 20.0))) END AS INT) AS bin,
                     count(*) AS n
              FROM lineitem, b
              WHERE l_extendedprice IS NOT NULL
              GROUP BY 1),
            grid AS (
              SELECT unnest(generate_series(0, 19)) AS bin, lo, hi FROM b)
            SELECT CAST(g.bin AS INT) AS bin,
                   g.lo + g.bin * ((g.hi - g.lo) / 20.0) AS lo,
                   g.lo + (g.bin + 1) * ((g.hi - g.lo) / 20.0) AS hi,
                   coalesce(c.n, 0) AS n
            FROM grid g LEFT JOIN counted c ON g.bin = c.bin
        """)
def q_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of l_extendedprice: global min/max
    agg broadcast into one bin-id hash agg; empty bins emitted via a
    distributed sequence explode.  Bin math is plain binary64 —
    bit-reproducible on any IEEE-754 engine."""
    from gdp_etl_spark.operators.profile import equiwidth_histogram

    return equiwidth_histogram(_t(spark, sf_dir, "lineitem"), "l_extendedprice", 20)


@query(oracle="""
            WITH b AS (
              SELECT quantile_cont(o_totalprice,
                       [0.0, 0.1, 0.2, 0.3, 0.4, 0.5,
                        0.6, 0.7, 0.8, 0.9, 1.0]) AS bnds
              FROM orders),
            binned AS (
              SELECT len(list_filter(b.bnds[2:10],
                                     x -> CAST(o_totalprice AS DOUBLE) > x))
                       AS bin
              FROM orders, b
              WHERE o_totalprice IS NOT NULL),
            counted AS (SELECT bin, count(*) AS n FROM binned GROUP BY 1),
            grid AS (SELECT unnest(range(0, 10)) AS bin, bnds FROM b)
            SELECT CAST(g.bin AS INT) AS bin,
                   g.bnds[g.bin + 1] AS lo,
                   g.bnds[g.bin + 2] AS hi,
                   coalesce(c.n, 0) AS n
            FROM grid g LEFT JOIN counted c ON g.bin = c.bin
        """)
def q_equidepth(spark, sf_dir):
    """Equi-depth (quantile) histogram of order value: exact
    interpolated decile boundaries from one percentile agg, then a
    boundary-counting bucketize — no global sort, no ntile."""
    from gdp_etl_spark.operators.profile import equidepth_histogram

    return equidepth_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 10)


# count-min sketch rebuilt cell-for-cell: same md5 bucketing,
# same min-over-rows readout — full hash equality on estimates
@query(oracle="""
            WITH seeds AS (SELECT unnest([0,1,2,3]) AS sk_row),
            cells AS (
              SELECT sk_row,
                     CAST(CAST(concat('0x', substring(md5(concat_ws(chr(31),
                            CAST(sk_row AS VARCHAR),
                            CAST(o_custkey AS VARCHAR))), 1, 15)) AS BIGINT)
                          % 1024 AS INT) AS sk_bucket,
                     COUNT(*) AS sk_count
              FROM orders, seeds
              GROUP BY 1, 2
            ),
            top AS (
              SELECT o_custkey, COUNT(*) AS exact_count
              FROM orders GROUP BY o_custkey
              ORDER BY exact_count DESC, o_custkey LIMIT 20
            ),
            probes AS (
              SELECT o_custkey, exact_count, sk_row,
                     CAST(CAST(concat('0x', substring(md5(concat_ws(chr(31),
                            CAST(sk_row AS VARCHAR),
                            CAST(o_custkey AS VARCHAR))), 1, 15)) AS BIGINT)
                          % 1024 AS INT) AS sk_bucket
              FROM top, seeds
            )
            SELECT p.o_custkey, p.exact_count,
                   CAST(MIN(coalesce(c.sk_count, 0)) AS BIGINT) AS est_count
            FROM probes p LEFT JOIN cells c USING (sk_row, sk_bucket)
            GROUP BY 1, 2
        """)
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch frequency estimation (sketches.count_min_sketch):
    one scan of orders folds customer-key frequencies into a fixed
    4×1024-counter sketch, then the 20 exactly-heaviest customers are
    point-queried against it.  Output carries the estimate next to the
    exact count, so the driver hash pins BOTH the md5 bucketing and the
    min-over-rows readout (the oracle rebuilds the identical sketch in
    SQL).  At 100 TB the sketch is the only path: state is 4096 cells
    regardless of key cardinality, partials combine map-side, and two
    sketches merge by addition."""
    from gdp_etl_spark.operators.sketches import cms_estimate, count_min_sketch

    o = _t(spark, sf_dir, "orders")
    sk = count_min_sketch(o, "o_custkey", depth=4, width=1024)
    top = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "o_custkey")
        .limit(20)
    )
    return (
        cms_estimate(sk, top.select("o_custkey"), "o_custkey", depth=4, width=1024)
        .join(top, "o_custkey")
        .select("o_custkey", "exact_count", "est_count")
    )


@query(oracle=r"""
            WITH b AS (
              SELECT o_orderpriority,
                     CAST(floor(CAST(o_totalprice AS DOUBLE) / 1000.0)
                          AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS n_vals
              FROM orders WHERE o_totalprice IS NOT NULL
              GROUP BY 1, 2
            ), c AS (
              SELECT o_orderpriority, bin, n_vals,
                     CAST(SUM(n_vals) OVER (
                       PARTITION BY o_orderpriority) AS BIGINT) AS n,
                     CAST(COALESCE(SUM(n_vals) OVER (
                       PARTITION BY o_orderpriority ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum0
              FROM b
            ), j AS (
              SELECT c.*, q.q,
                     CAST(ceil(q.q * CAST(c.n AS DOUBLE)) AS BIGINT)
                       AS target
              FROM c CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                                CAST(0.9 AS DOUBLE)]) AS q) q
            )
            SELECT o_orderpriority, q, n,
                   CAST(bin AS DOUBLE) * 1000.0
                     + 1000.0 * CAST(target - cum0 AS DOUBLE)
                       / CAST(n_vals AS DOUBLE) AS est
            FROM j WHERE cum0 < target AND target <= cum0 + n_vals
        """)
def q_hist_incremental(spark, sf_dir):
    """The persisted HISTOGRAM sketch-table lifecycle — the quantile
    twin of q_ndv_incremental (sketches.write_hist_sketch /
    append_to_hist_sketch / quantiles_from_hist): day-1 orders (even
    keys) bin into a stamped table, day-2 appends its bin counts (one
    scan of the increment, counts ADD), and p50/p90 read back from the
    stored state with exact-rank interpolation inside the hit bin.
    Count additivity makes the result bit-identical to binning ALL
    orders directly, so the oracle replays binning + the rank rule
    over the full table — a broken write/append/stamp/merge/estimate
    breaks the hash.  Any percentile question over a growing corpus
    reads ≤ |groups|·|bins| stored rows, never the base data."""
    import shutil as _shutil

    from gdp_etl_spark.operators.sketches import (
        append_to_hist_sketch,
        quantiles_from_hist,
        write_hist_sketch,
    )

    table = "q_hist_sketch_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    o = _t(spark, sf_dir, "orders")
    write_hist_sketch(
        o.filter(F.col("o_orderkey") % 2 == 0),
        ["o_orderpriority"], "o_totalprice", table, bin_width=1000.0,
    )
    append_to_hist_sketch(o.filter(F.col("o_orderkey") % 2 == 1), table)
    return quantiles_from_hist(spark, table, (0.5, 0.9))
