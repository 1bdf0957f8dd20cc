"""Driver contract for the spark-graft builder (PySpark target).

Every implemented operator from SURVEY.md §2 (plus the beyond-reference
LLM-data-pipeline set) is registered here as a named query over the
driver's parquet tables, with a DuckDB-runnable ANSI-SQL oracle.

Cross-engine determinism rules used throughout (see
``gdp_etl_spark.functions.expressions`` / ``vectors``):

* summed doubles go through ``decimal(28,6)`` in BOTH engines (double
  summation is order-dependent; decimal accumulation is exact),
* dot products use fixed-point bigint accumulation (``floor(x*y*1e12)``),
* counts/lengths are cast so Spark INT ↔ DuckDB BIGINT defaults agree,
* no ``round()`` on doubles (engines differ in edge rounding); raw IEEE
  expressions are evaluated in the same textual order instead.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import (
    bankers_round,
    conditional_overwrite,
    dsum,
    davg,
    near,
    pad_code,
    recode,
    ref_date,
)
from gdp_etl_spark.functions.text import (
    LANG_MARKERS,
    LANG_TRIGRAMS,
    STOPWORDS,
    fingerprint,
    lang_id,
    mean_token_len,
    _lang_ngram_from_norm,
    _norm_text,
    punct_ratio,
    quality_score,
    rolling_content_hash,
    stopword_ratio,
    token_count_bpe,
    token_count_ws,
    ws_tokens,
)
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.closure import rollup_hierarchy, transitive_closure
from gdp_etl_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from gdp_etl_spark.operators.diff import classify_diff, full_outer_diff
from gdp_etl_spark.operators.multimodal import (
    attach_payload,
    binary_meta,
    decode_features,
    frame_sample,
)
from gdp_etl_spark.operators.reshape import pivot_wide, union_by_name, unpivot
from gdp_etl_spark.operators.sessions import sessionize
from gdp_etl_spark.plans.qa import (
    added_values,
    discrepancies_before_last_year,
    missing_values,
    top_discrepancies_last_year,
)
from gdp_etl_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from gdp_etl_spark.operators.windows import (
    gaps_and_islands,
    group_extrema,
    rebase_index,
)
from gdp_etl_spark.session import local_df


# ===========================================================================
# oracle-SQL builders (shared fragments)
# ===========================================================================

#: whitespace tokens of raw / lowered text — mirrors functions.text.ws_tokens
_TOKS_RAW = "string_split_regex(trim(text), '\\s+')"
_TOKS_LOW = "string_split_regex(lower(trim(text)), '\\s+')"


def _shingles_sql(k: int = 5) -> str:
    """Mirror of functions.text.shingles: distinct k-token grams of the
    lowered text; <k-token docs contribute the whole text as one gram."""
    t = _TOKS_LOW
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({t}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(({t})[i:i+{k - 1}], ' ')))"
    )


def _ngrams_raw_sql(n: int) -> str:
    """Mirror of functions.text.word_ngrams: ALL n-grams, duplicates
    kept (unlike the distinct ``_shingles_sql``)."""
    t = _TOKS_LOW
    return (
        f"list_transform("
        f"range(1, greatest(len({t}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(({t})[i:i+{n - 1}], ' '))"
    )


def _zinterleave_sql(qx: str, qy: str, bits: int = 16) -> str:
    """Mirror of operators.layout._interleave: Morton bit-interleave of
    two quantized bigints (x bits at even positions, y at odd)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Mirror of functions.vectors.dot_fixed (fixed-point bigint sum)."""
    return (
        f"(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12) AS BIGINT)"
        f")) AS DOUBLE) / 1e12)"
    )


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Mirror of functions.vectors.cosine_exact."""
    return (
        f"({_dot_sql(a, b, dim)} / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)})))"
    )


def _rademacher_bucket_sql(
    num_bits: int, dim: int, seed: str, col: str = "embedding"
) -> str:
    """Mirror of operators.similarity.rademacher_lsh_buckets for ONE
    table: the ±1 sign matrix is regenerated with the same hashlib-md5
    parity recipe and inlined as DuckDB list literals; projections use
    the shared fixed-point fold, so bucket ids match Spark bit-for-bit."""
    from gdp_etl_spark.operators.similarity import rademacher_signs

    signs = rademacher_signs(num_bits, dim, seed)
    terms = []
    for j in range(num_bits):
        lit = "[" + ", ".join(str(s) for s in signs[j]) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST(floor(CAST({col}[i] AS DOUBLE) * 1e12) AS BIGINT)"
            f" * ({lit})[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS INT)"


def _simhash_sig_sql() -> str:
    """Mirror of operators.dedup.simhash_signatures as a DuckDB CTE
    body: FNV-1a-64 folded over each token's code points (the corpus is
    ASCII, so code points == UTF-8 bytes) with HUGEINT modular
    arithmetic, then the 64-bit little-endian majority-vote signature,
    reinterpreted as a signed BIGINT exactly like numpy's
    ``view(int64)``.  Verified bit-identical to the Arrow UDF on all
    sf0.01 documents."""
    fnv = (
        "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), "
        "list_transform(range(1, length(t)+1), "
        "i -> CAST(unicode(t[i]) AS HUGEINT))), "
        "(h, b) -> (xor(h, b) * CAST(1099511628211 AS HUGEINT)) "
        "% CAST(18446744073709551616 AS HUGEINT))"
    )
    return f"""
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')),
                                 '\\s+'), x -> x != '') AS tk
              FROM documents),
            fh AS (
              SELECT doc_id, list_transform(tk, t -> {fnv}) AS fh,
                     len(tk) AS n
              FROM toks),
            sig AS (
              SELECT doc_id,
                     CAST(CASE WHEN su >= CAST(9223372036854775808 AS HUGEINT)
                          THEN su - CAST(18446744073709551616 AS HUGEINT)
                          ELSE su END AS BIGINT) AS simhash
              FROM (SELECT doc_id,
                           list_sum(list_transform(range(0, 64), k ->
                             CASE WHEN 2 * len(list_filter(fh,
                                        h -> ((h >> k) & 1) = 1)) > n
                                  THEN (CAST(1 AS HUGEINT) << k)
                                  ELSE CAST(0 AS HUGEINT) END)) AS su
                    FROM fh))
    """


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


_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(28,6))) AS DOUBLE)"


def _dsum_sql(x: str) -> str:
    return _DSUM.format(x=x)


def _sql_list(vals) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


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


# ===========================================================================
# flagship (entry) — revenue by region/year with a ship-date band filter
# ===========================================================================

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


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship_revenue(spark, "/root/testdata/sf0.001")


# ===========================================================================
# projections / filters (P*, F*)
# ===========================================================================

def q_projection(spark, sf_dir):
    """P1: column projection — pruned at the parquet scan."""
    return _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")


def q_neg_projection(spark, sf_dir):
    """P2: negative projection (drop)."""
    return _t(spark, sf_dir, "nation").drop("n_regionkey")


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


def q_filter_in(spark, sf_dir):
    """F1: IN-list filter + grouped agg."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
    )


def q_filter_band(spark, sf_dir):
    """F2: between-band predicate (pushed to the scan)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1997-01-01", "1997-12-31"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


def q_filter_strlen(spark, sf_dir):
    """F5: string-length predicate."""
    n = _t(spark, sf_dir, "nation")
    return n.filter(F.length("n_name") < 9).select(
        "n_name", F.length("n_name").alias("name_len")
    )


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


def q_distinct_values(spark, sf_dir):
    """F8: distinct."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ===========================================================================
# joins (J*)
# ===========================================================================

def q_join_composite(spark, sf_dir):
    """J1: inner join on a composite key (user_id, event_type)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_day"))
    totals = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_total"))
    return daily.join(totals, ["user_id", "event_type"], "inner")


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


def q_closure_leaves(spark, sf_dir):
    """J7: transitive closure (replace-until-leaf) over a 3-level edge
    list — the reference's ``expand_hierarchy`` re-expressed as an
    iterative broadcast self-join with semi-join termination."""
    return transitive_closure(_hierarchy_edges(spark, sf_dir), "parent", "child")


_CLOSURE_SQL = """
SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS parent,
       'N' || CAST(n_nationkey AS VARCHAR) AS child
FROM nation JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT 'ALL', 'N' || CAST(n_nationkey AS VARCHAR) FROM nation
UNION ALL
SELECT 'ROOT', 'N' || CAST(n_nationkey AS VARCHAR) FROM nation
"""


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


# ===========================================================================
# aggregations / windows (A*, W*)
# ===========================================================================

def q_group_first(spark, sf_dir):
    """A4: group-by + deterministic first value (min as the deterministic
    analog of R's ``x[1]``)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("event_type").alias("first_type"), F.count(F.lit(1)).alias("n_events"))
    )


def q_gaps_islands(spark, sf_dir):
    """A5: consecutive-run compression ("1999-2001, 2005") — Spark-native
    gaps-and-islands, no UDF."""
    years = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )
    return gaps_and_islands(years, ["o_custkey"], "y", out_col="ranges")


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


def q_group_extrema(spark, sf_dir):
    """W3: keep each group's max-|value| rows."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return group_extrema(ev, ["user_id"], F.col("value"), keep="max_abs")


def q_topk_orders(spark, sf_dir):
    """O2/O3: order by expression desc + top-k (TakeOrderedAndProject —
    never a global sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(19)
        .select("o_orderkey", "o_totalprice")
    )


# ===========================================================================
# set ops / scalars / reshape (U*, C*, R*)
# ===========================================================================

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


def q_recode_values(spark, sf_dir):
    """C3: value recoding with default."""
    ev = _t(spark, sf_dir, "events")
    m = {"click": "C", "view": "V", "purchase": "P"}
    return (
        ev.withColumn("code", recode(F.col("event_type"), m, default=F.lit("OTHER")))
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


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


def q_ref_date_stamp(spark, sf_dir):
    """C6: injectable run-date stamp ("29-Aug-25")."""
    return _t(spark, sf_dir, "region").select(
        "r_name", ref_date("2025-08-29").alias("stamp")
    )


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


def q_pivot_wide(spark, sf_dir):
    """R3: long → wide with explicit pivot values (no discovery scan)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_returnflag", F.col("l_quantity").cast("decimal(28,6)").alias("q")
    )
    out = li.groupBy("l_linestatus").pivot("l_returnflag", ["A", "N", "R"]).agg(
        F.sum("q").cast("double")
    )
    return out


def q_unpivot_long(spark, sf_dir):
    """R1/R2: wide → long melt (round-trips the pivot back to long)."""
    wide = q_pivot_wide(spark, sf_dir)
    return unpivot(
        wide, ids=["l_linestatus"], values=["A", "N", "R"],
        var_name="l_returnflag", value_name="sum_qty",
    ).na.drop(subset=["sum_qty"])


# ===========================================================================
# LLM-data-pipeline operators: dedup / text / similarity / multimodal
# ===========================================================================

def q_exact_dedup(spark, sf_dir):
    """Exact dedup via md5-hash groupBy (16-byte shuffle keys)."""
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_paragraph_dedup(spark, sf_dir):
    """Sub-document exact dedup (dedup.paragraph_exact_dedup — the
    keep-first-occurrence repeated-passage removal of Lee et al. 2022):
    documents are composed into 5-paragraph super-documents (group of
    doc_id div 5, paragraphs joined in doc_id order), then every later
    occurrence of a repeated paragraph — the corpus's exact-duplicate
    texts, crossing super-document boundaries — drops, and documents
    reassemble in original order.  One posexplode, ONE window shuffle
    on md5(paragraph) (16-byte keys), one reassembly groupBy; no
    self-join, cost O(paragraphs) not O(pairs)."""
    from gdp_etl_spark.operators.dedup import paragraph_exact_dedup

    grouped = (
        _t(spark, sf_dir, "documents")
        .groupBy(
            F.floor(F.col("doc_id") / 5).cast("long").alias("gid")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n\n",
            ).alias("text")
        )
    )
    return paragraph_exact_dedup(grouped, "text", "gid")


def q_doc_chunks(spark, sf_dir):
    """Sliding-window chunking (packing.chunk_documents): every document
    maps to overlapping 32-token windows at stride 16 — the RAG /
    embedding-indexing chunk shape.  Map-only: tokenize once, build the
    finished chunk structs in one projection, explode; zero shuffles,
    zero Python, and downstream embedding/indexing stages inherit the
    scan's partitioning unchanged."""
    from gdp_etl_spark.operators.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id", size=32, stride=16
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup (dedup.exact_dedup_keep_best): the
    corpus is mirrored (same text, shifted ids — the re-crawl /
    multi-source shape) and each copy carries a deterministic quality
    score; the survivor per text is the highest-quality copy, ties on
    ascending id.  Shuffles key on md5(text): winners partial-aggregate
    map-side, join back is AQE-skew-splittable.  The fixture unions in
    NULL-text and NULL-quality rows so the oracle exercises the NULL
    branches: NULL texts form ONE dup group (one survivor); a
    NULL-quality copy loses to any real-quality copy (DESC NULLS
    LAST)."""
    from gdp_etl_spark.operators.dedup import exact_dedup_keep_best

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirrored = docs.unionByName(
        docs.select(
            (F.col("doc_id") + F.lit(100000)).cast("long").alias("doc_id"),
            "text",
        )
    )
    scored = mirrored.withColumn(
        "quality",
        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(997)).cast(
            "long"
        ),
    )
    nulls = spark.sql(
        """
        SELECT * FROM VALUES
          (CAST(900001 AS BIGINT), CAST(NULL AS STRING), CAST(7 AS BIGINT)),
          (CAST(900002 AS BIGINT), CAST(NULL AS STRING), CAST(NULL AS BIGINT)),
          (CAST(900003 AS BIGINT), CAST(NULL AS STRING), CAST(3 AS BIGINT)),
          (CAST(900004 AS BIGINT), 'null-quality-duel', CAST(NULL AS BIGINT)),
          (CAST(900005 AS BIGINT), 'null-quality-duel', CAST(5 AS BIGINT))
        AS t(doc_id, text, quality)
        """
    )
    return exact_dedup_keep_best(
        scored.unionByName(nulls), "text", "doc_id", "quality"
    )


def q_incremental_dedup(spark, sf_dir):
    """Incremental ingestion dedup (dedup.incremental_exact_dedup — the
    daily-crawl production shape of exact_dedup): the corpus is 60% of
    the documents table; the batch is the other 40% (each text arriving
    twice — the mirror/re-crawl shape) plus a full re-crawl of the
    corpus itself.  Survivors are exactly the new texts (lowest id,
    batch_dup_count=2); every corpus re-crawl is anti-joined away
    against the 16-byte md5 index.  ONE window shuffle on the batch,
    hash-only shuffle on the corpus side — document bodies never move
    for the membership test."""
    from gdp_etl_spark.operators.dedup import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) < 3)
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) >= 3)

    def shifted(d, k):
        return d.select(
            (F.col("doc_id") + F.lit(k)).cast("long").alias("doc_id"),
            "text", "lang", "source",
        )

    batch = new.unionByName(shifted(new, 400000)).unionByName(
        shifted(corpus, 200000)
    )
    out = incremental_exact_dedup(batch, corpus, "text", "doc_id")
    return out.select(
        "doc_id", "text", "lang", "source", "batch_dup_count"
    )


def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard layout (layout.shard_assignment):
    shard id and within-shard position are pure functions of
    (doc_id, seed) — reproducible data ordering and resumable epoch
    offsets.  Map-only assignment (one md5 feeds both shard id and
    order key) + ONE n_shards-partition window — the same shuffle the
    layout write performs anyway."""
    from gdp_etl_spark.operators.layout import shard_assignment

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shard_assignment(docs, "doc_id", n_shards=16, seed="42")


def q_shard_manifest(spark, sf_dir):
    """Per-shard manifest (layout.shard_manifest): docs / tokens /
    chars per shard for trainer epoch budgeting plus an
    order-independent content checksum (sum of 32-bit text-hash
    prefixes).  Map-only hashing + ONE groupBy into 16 groups — no
    window, no sort; output is n_shards rows at any corpus size."""
    from gdp_etl_spark.operators.layout import shard_manifest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_manifest(docs, "doc_id", "text", n_shards=16, seed="42")


def q_blocklist_filter(spark, sf_dir):
    """Blocklist document flagging (text.blocklist_flag — the
    C4/RefinedWeb bad-words stage): token-set equality matching (no
    Scunthorpe substring false-positives), evidence columns kept so the
    drop decision is auditable and re-tunable.  Pure map-only JVM
    codegen — array_intersect against a plan literal, zero shuffle,
    zero UDF."""
    from gdp_etl_spark.functions.text import blocklist_flag

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_flag(
        docs, "text", ("slow", "stream", "vector"), max_matches=1
    ).select("doc_id", "matched_terms", "n_matched", "flagged")


def q_norm_dedup(spark, sf_dir):
    """Normalized exact dedup (text.normalize_for_dedup — the CCNet
    hash-normalization stage): the corpus is mirrored with case flips
    and punctuation decoration; dedup keyed on the canonical form
    (lower → accent fold → digits→0 → strip punct → collapse ws)
    collapses every pair that raw exact hashing would miss.  Map-only
    normalization + the same single md5-window shuffle as
    exact_dedup."""
    from gdp_etl_spark.functions.text import normalize_for_dedup
    from gdp_etl_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = docs.select(
        (F.col("doc_id") + F.lit(100000)).cast("long").alias("doc_id"),
        F.concat(
            F.lit("** "), F.upper("text"), F.lit(" ... ")
        ).alias("text"),
    )
    both = docs.unionByName(mirror)
    normed = both.select(
        "doc_id", normalize_for_dedup(F.col("text")).alias("norm")
    )
    return exact_dedup(normed, "norm", "doc_id")


def q_source_report(spark, sf_dir):
    """Per-source corpus health report (plans.corpus.source_report):
    volume, exact-dup rate, fixed-point mean quality, language-mix
    entropy — the dashboard mixture-weight tuning reads.  ONE corpus
    pass feeding two bounded aggs assembled by a broadcast join; all
    statistics cross-engine deterministic (floor 1e9 fixed point over
    exact counts)."""
    from gdp_etl_spark.plans.corpus import source_report

    return source_report(_t(spark, sf_dir, "documents"))


def q_mean_pool(spark, sf_dir):
    """Per-label embedding mean-pooling (similarity.
    mean_pool_embeddings): fixed-point int64 component sums inside one
    Arrow-batched applyInPandas group shuffle — vectors travel packed
    (the posexplode alternative pays dim× the shuffle bytes).  The
    centroid serializes to fixed-point CSV because raw array outputs
    are not driver-canonicalizer-safe."""
    from gdp_etl_spark.operators.similarity import mean_pool_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    pooled = mean_pool_embeddings(emb, "label", "embedding")
    return pooled.select(
        "label",
        "n_vecs",
        F.concat_ws(
            ",",
            F.transform(
                "centroid",
                lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
            ),
        ).alias("centroid_csv"),
    )


def q_index_dedup(spark, sf_dir):
    """Materialized dedup-index cycle (dedup.write_dedup_index +
    dedup_against_index — the persisted production shape promised by
    incremental_exact_dedup's docstring): the even-id half of the
    documents table is written ONCE as a bucketed, bucket-sorted
    md5(text) index table; today's batch (the odd half, plus a
    re-crawl of every %10==0 corpus doc and a second copy of every
    %10==5 batch doc) then anti-joins against it.  The plan is the
    point (pinned in tests/test_plans_quality.py): the index side has
    NO Exchange and NO Sort — bucket files stream straight into the
    SortMergeJoin LeftAnti — so a daily 100-TB-corpus membership test
    moves only the batch.  Survivors: the 250 odd docs (re-crawls
    anti-joined away, in-batch copies collapsed onto the lowest id
    with batch_dup_count=2 for the %10==5 texts)."""
    import shutil

    from gdp_etl_spark.operators.dedup import (
        dedup_against_index,
        write_dedup_index,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    table = "dedup_md5_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed earlier run can leave the managed location behind with
    # no catalog entry; saveAsTable then refuses the name
    wh = spark.conf.get("spark.sql.warehouse.dir")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), table), ignore_errors=True
    )
    write_dedup_index(corpus, "text", table, n_buckets=8)

    def shifted(d, k):
        return d.select(
            (F.col("doc_id") + F.lit(k)).cast("long").alias("doc_id"),
            "text", "lang", "source",
        )

    batch = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        .unionByName(
            shifted(docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0), 10000)
        )
        .unionByName(
            shifted(docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 5), 20000)
        )
    )
    out = dedup_against_index(spark, batch, "text", "doc_id", table)
    return out.select("doc_id", "lang", "source", "batch_dup_count")


def q_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup (text.canonical_url — the
    CommonCrawl-pipeline stage run BEFORE text dedup): four crawl
    variants of each resource URL (www + utm tracking param; uppercase
    scheme/host + explicit :443 + trailing slash; a fragment; and a
    genuinely different query ?b=2&a=1) normalize so the first three
    collapse to one canonical form and the real-query variant stays
    distinct; dedup then keeps the lowest doc_id per canonical URL with
    its dup_count.  The canonicalizer is a pure map-only expression
    chain (regexp extract/replace + sorted filtered query params, zero
    UDF, zero shuffle); the dedup is the skew-safe min(id)+count
    aggregation with an AQE-splittable join back.  The oracle derives
    the expected canonical form from FIRST PRINCIPLES (the variant
    construction), not by replaying the regexes — an independent check
    of the normalization."""
    from gdp_etl_spark.functions.text import canonical_url

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # 25 is coprime with the 4-cycle of variants, so every resource
    # appears in ALL FOUR crawl variants (doc_id%40 would lock each
    # resource to one variant and the collapse would never fire)
    r = F.pmod(F.col("doc_id"), F.lit(25)).cast("string")
    v = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://www.example.com/p/"), r,
            F.lit("?utm_source=feed")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://EXAMPLE.COM:443/p/"), r, F.lit("/")))
        .when(v == 2, F.concat(
            F.lit("https://example.com/p/"), r, F.lit("?b=2&a=1")))
        .otherwise(F.concat(
            F.lit("https://example.com/p/"), r, F.lit("#section")))
    )
    canon = docs.select(
        "doc_id", url.alias("url")
    ).withColumn("canonical", canonical_url(F.col("url")))
    # keep-first + dup count per canonical URL, skew-safe: a URL
    # crawled 10⁹× is the realistic hot key; min(id)+count aggregate
    # map-side and the join back is AQE skew-split (a rank window
    # would pin the hot canonical on one task)
    winners = canon.groupBy("canonical").agg(
        F.min("doc_id").alias("__min_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return (
        canon.join(winners, "canonical")
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "url", "canonical", "dup_count")
    )


def q_substring_dedup(spark, sf_dir):
    """Exact-substring dedup at token-window granularity
    (dedup.token_window_dedup — the Lee et al. 50-token criterion
    approximated without suffix arrays, here at 20 tokens so the
    synthetic docs yield multiple windows): consecutive 20-token
    windows dedup globally keep-first-occurrence, catching verbatim
    passages copied across documents that whole-doc and
    paragraph-boundary dedup both miss.  Same O(tokens) shape as
    paragraph_dedup: map-side sequence+slice fan-out, ONE window
    shuffle on md5(window), one reassembly groupBy — no self-join, no
    pairs."""
    from gdp_etl_spark.operators.dedup import token_window_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_window_dedup(docs, "text", "doc_id", window_tokens=20)


def q_boilerplate_lines(spark, sf_dir):
    """Corpus-frequency boilerplate removal (dedup.boilerplate_line_filter
    — the CCNet/RefinedWeb line-dedup stage): 5-document pages share an
    injected site banner and a per-language footer; any trimmed line
    occurring in MORE than 2 distinct pages (banner: all 100, footers:
    ~20 each) is removed EVERYWHERE — unlike paragraph_dedup's
    keep-first — and pages reassemble in original line order.  One
    posexplode + ONE window shuffle (dense_rank + max over the same
    md5(line) partitioning, blank lines salted out) + one reassembly
    groupBy; cost O(lines), never O(pairs)."""
    from gdp_etl_spark.operators.dedup import boilerplate_line_filter

    pages = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.floor(F.col("doc_id") / 5).cast("long").alias("gid"))
        .agg(
            F.concat_ws(
                "\n",
                F.lit("== SITE BANNER: accept cookies =="),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "text"))
                        ),
                        lambda s: s["text"],
                    ),
                    "\n",
                ),
                F.concat(F.lit("lang: "), F.min("lang")),
            ).alias("text")
        )
    )
    return boilerplate_line_filter(
        pages, "text", "gid", max_doc_freq=2, line_sep="\n"
    )


def q_dup_ngram_profile(spark, sf_dir):
    """Per-document duplicated-8-gram fraction
    (dedup.duplicated_ngram_profile — the Gopher/RefinedWeb
    repetition-across-the-corpus quality signal): share of each
    document's distinct 8-token shingles that occur in any other
    document.  One explode + ONE count window on md5(shingle) (NULLs
    salted per-doc) + one groupBy; O(total shingles), no pairs."""
    from gdp_etl_spark.operators.dedup import duplicated_ngram_profile

    return duplicated_ngram_profile(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n=8
    )


def q_vocab_coverage(spark, sf_dir):
    """Top-k token vocabulary with corpus-coverage statistics
    (profile.vocab_top_coverage — the tokenizer/vocab-sizing stage):
    the 200 most frequent lowered whitespace tokens, each with count,
    rank, share and cumulative coverage.  One explode + one groupBy
    shuffle + TakeOrderedAndProject; the cum-sum window runs over the
    200 selected rows only, and the grand total is a 1-row driver
    scalar (base-broadcast pattern)."""
    from gdp_etl_spark.operators.profile import vocab_top_coverage

    return vocab_top_coverage(
        _t(spark, sf_dir, "documents"), "text", k=200
    )


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


def q_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup pairs, exact-Jaccard verified.
    Oracle = exact all-pairs Jaccard.  Recall soundness, stated
    honestly: with 8 bands × 2 rows the per-pair miss bound at exactly
    J=0.8 is (1−J²)⁸ ≈ 2.8e-4 — NOT vanishing; what makes the check
    safe is the fixture's measured margin (every true pair has
    J ≥ 0.875 → bound ≤ 8.9e-6, next pair down at J=0.015) plus
    determinism (the hash family is fixed, so the outcome is
    per-fixture constant — green since r3 means zero misses ON this
    data).  batch_screen uses 16×1 banding instead, whose bound is
    sound at the threshold itself."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        num_perm=16, bands=8, jaccard_threshold=0.8,
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3 via 4×16-bit pigeonhole).
    Fully oracle-checked: FNV-1a-64 *is* SQL-expressible — the DuckDB
    oracle folds the hash over token code points with HUGEINT modular
    arithmetic, rebuilds the 64-bit majority-vote signature per document
    and takes hamming ≤ 3 over all pairs (bounded corpus; the Spark side
    stays pigeonhole-blocked)."""
    return simhash_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3)


def q_ngram_jaccard(spark, sf_dir):
    """Blocked n-gram Jaccard pairs — the blocking key is MinHash LSH
    band buckets (32 perms × 16 bands), NOT a low-cardinality attribute:
    within-block work stays bounded by true near-dup density at any
    scale.  Oracle = exact all-pairs 8-gram Jaccard ≥ 0.75 (P[LSH miss]
    per true pair = (1 − J²)¹⁶ ≤ 2e-6 at the threshold; equality with
    the exact pair set is asserted at sf0.01 and sf0.1)."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        num_perm=32, bands=16, shingle_k=8, jaccard_threshold=0.75,
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs over **deterministic Rademacher
    LSH buckets** (the scale path: bucket equi-join, never all-pairs).
    The md5-parity sign matrix makes buckets engine-portable, so the
    oracle recomputes the same buckets and the check is exact — not a
    recall bound.  The all-pairs exact baseline remains available via
    ``allow_all_pairs=True`` (covered in tests, not registered)."""
    from gdp_etl_spark.operators.similarity import rademacher_lsh_buckets

    emb = rademacher_lsh_buckets(
        _t(spark, sf_dir, "embeddings"), "embedding",
        num_bits=4, num_tables=1, dim=64, seed="nd", out_col="__b",
    ).withColumn("__bkt", F.col("__b")[0]).drop("__b")
    return embedding_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.3, bucket_col="__bkt",
    )


def q_semantic_decontam(spark, sf_dir):
    """Embedding-space decontamination (decontam.semantic_decontaminate):
    corpus vectors near-identical to any benchmark vector, via 4
    independent Rademacher LSH tables (union of candidates, per-pair
    dedup — recall ≈0.95 at cosine 0.9 vs ≈0.54 for one table) +
    broadcast benchmark + exact fixed-point cosine — the semantic
    sibling of the shingle-hash ``decontaminate``; the oracle replays
    all four tables' buckets and the similarities."""
    from gdp_etl_spark.operators.decontam import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") >= 50),
        emb.filter(F.col("vec_id") < 50),
        "embedding", "vec_id", threshold=0.3, num_bits=4, num_tables=4,
        dim=64,
    )


def q_ann_topk(spark, sf_dir):
    """Exact brute-force top-k cosine neighbours for 5 query vectors —
    the correctness baseline for ANN."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10,
        query_id="vec_id", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding",
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (centroid cells + nprobe probing) — the
    partition-pruned ANN scale path, on the ENGINE-REPLAYABLE
    fixed-point recipe (similarity.ivf_topk_fixed): the coarse
    quantizer trains with kmeans.train_kmeans_fixed, cells assign via
    the shared literal-centroid argmin (map-only), each query's nprobe
    cells come from the same integer distances, and candidates score
    with the exact fixed-point squared L2 — so the oracle replays
    training, assignment, probing AND scoring as a generated CTE chain
    (_ivf_sql) and the check is HASH equality, not rows-only (the old
    float/NumPy path remains as ivf_topk, equality-harnessed by
    ``ivf_recall``).  Per-query top-k is WindowGroupLimit-pruned."""
    from gdp_etl_spark.operators.similarity import ivf_topk_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_fixed(
        emb, [0, 1, 2, 3, 4], k=10, num_centroids=8, nprobe=3, n_iter=2
    )


def q_ivf_recall(spark, sf_dir):
    """IVF correctness harness: run the full IVF machinery (sampled
    centroids, Lloyd refinement, cell assignment, probe fan-out, cell
    equi-join, exact re-rank) with nprobe = num_centroids — exhaustive
    probing, so the result provably equals the brute-force exact top-k.
    The registered output joins IVF against the exact baseline and
    reports per-query recall; the oracle asserts recall = 1 with
    n_exact/n_hit derived from the exact SQL top-k.  Any breakage in
    cell assignment, probing, dedup or ranking drops n_hit below
    n_exact and fails the hash check."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    approx = ivf_topk(emb, q, k=10, num_centroids=8, nprobe=8)
    exact = brute_force_topk(
        q, emb, k=10, query_id="vec_id", corpus_id="vec_id",
        query_vec="embedding", corpus_vec="embedding",
    )
    hits = exact.alias("e").join(
        approx.alias("a"),
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.neighbour_id") == F.col("a.neighbour_id")),
        "left",
    )
    return (
        hits.groupBy(F.col("e.query_id").alias("query_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.col("a.neighbour_id")).alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
        )
    )


def q_ivf_index(spark, sf_dir):
    """Persisted IVF serving state under the driver's eye
    (ann_index.write_ivf_index / append_to_ivf_index /
    ivf_probe_index) — the train-once/serve-many shape the in-query
    ivf_topk/pq_topk docstrings promise, built with the repo's two
    persistence protocols: cell-bucketed posting lists (the dedup-
    index spec — probes are bucket-pruned scans with NO index-side
    Exchange, plan-pinned in pytest) and tmp-then-rename stamped
    tables (the NDV-sketch spec).  Day-1 (even vec_ids) trains the
    coarse quantizer and writes the index; day-2 (odd vec_ids)
    APPENDS, assigned by the STORED centroids — one map-only pass
    over the increment, no retrain, no rescan; the probe then serves
    5 queries' top-10 purely from stored state.  The oracle replays
    the whole lifecycle as the generated IVF CTE chain with the
    training set restricted to the day-1 rows (train on evens, assign
    everything) — a broken write, append, stamp, bucket spec or probe
    breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        ivf_probe_index,
        write_ivf_index,
    )

    table = "q_ivf_index_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), table,
        num_centroids=8, n_iter=2,
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), table)
    return ivf_probe_index(
        spark, table, [0, 1, 2, 3, 4], k=10, nprobe=3
    )


def q_pq_index(spark, sf_dir):
    """Persisted PQ serving state (ann_index.write_pq_index /
    append_to_pq_index / pq_probe_index) — the codes-only twin of
    q_ivf_index: day-1 (even vec_ids) trains the 4×16 per-subspace
    codebooks and writes the id-bucketed CODES table (4 bytes/vector —
    the representation 100 TB of embeddings fits a memory tier in);
    day-2 (odd vec_ids) APPENDS, encoded by the STORED codebooks (no
    retrain); the probe then serves 3 query vectors' ADC top-10
    purely from stored state — exact-integer lookup tables, map-only
    scan, WindowGroupLimit top-k.  The oracle replays the lifecycle
    via the generated PQ CTE chain with training restricted to the
    day-1 rows — a broken write, append, stamp, encode or LUT breaks
    the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        append_to_pq_index,
        pq_probe_index,
        write_pq_index,
    )

    table = "q_pq_index_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__codebooks"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    write_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), table,
        m=4, k_codes=16, n_iter=2, dim=64,
    )
    append_to_pq_index(emb.filter(F.col("vec_id") % 2 == 1), table)
    return pq_probe_index(
        spark, emb.filter(F.col("vec_id") < 3), table, k=10
    )


def q_semantic_dedup(spark, sf_dir):
    """Cluster-scoped semantic dedup (dedup.semantic_dedup — the
    SemDeDup recipe, Abbas et al. 2023): deterministic k-means cells
    over the embedding table, then near-duplicate detection ONLY
    within each cell — candidate space Σ|cell|², never the all-pairs
    n² (plan-pinned: the pair join is an equi-join on the cell id, no
    cartesian).  A row is a duplicate iff an earlier same-cell row has
    exact cosine >= 0.35 (the synthetic corpus' near-dup band);
    dup_of = the smallest such id.  The oracle replays the whole
    chain — quantize → hash-seeded Lloyd's → cell assignment →
    intra-cell pair scan — via the shared generated k-means CTE
    (_kmeans_cells_parts) + the cosine_exact mirror, hash-exact."""
    from gdp_etl_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        "vec_id", "embedding", threshold=0.35, num_cells=8, n_iter=2,
    )


#: per-(application, sf_dir) cache of the shared index-churn scenario
#: — see _churn_fixture.
_CHURN_FX: dict = {}


def _churn_fixture(spark, sf_dir):
    """The SHARED index-churn scenario (r14 verdict task 1): the four
    lifecycle driver queries — ivf_upsert, ivf_asof, pq_upsert,
    index_stats — each pin a DIFFERENT contract (compaction purity,
    snapshot immutability, ADC churn, observability accounting) over
    the SAME write(evens) → append(odds) → upsert(0-19 negated) →
    delete(20-39) → compact scenario, so the r14 registry built
    near-identical scenarios four times over (~110 s of the 445 s
    driver bench was duplicate index DDL + in-query Lloyd's).  This
    fixture builds the scenario ONCE per Spark application per
    sf_dir — both index kinds — and captures every stage probe
    EAGERLY (localCheckpoint) at its correct lifecycle point: asof /
    pre-compaction probes and the churn dashboards materialize before
    the compaction fold runs, because compaction applies tombstones
    physically and forfeits the states those probes read.  The
    queries then relabel the captured stages; each keeps its own
    oracle, so a broken write, append, upsert, delete, snapshot,
    stats count or compaction still breaks the matching query's hash.
    Bench note: whichever lifecycle query runs first in a session
    pays the one-time build (~25 s at sf0.1); the rest reuse it."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CHURN_FX:
        return _CHURN_FX[key]
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        append_to_pq_index,
        compact_ivf_index,
        compact_pq_index,
        delete_from_ivf_index,
        delete_from_pq_index,
        ivf_index_stats,
        ivf_probe_index,
        pq_index_stats,
        pq_probe_index,
        upsert_to_ivf_index,
        upsert_to_pq_index,
        write_ivf_index,
        write_pq_index,
    )

    it, pt = "churn_fx_ivf", "churn_fx_pq"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (it, f"{it}__centroids", f"{it}__vectors",
              f"{it}__tombstones",
              pt, f"{pt}__codebooks", f"{pt}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    up = emb.filter(F.col("vec_id") < 20).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    dels = list(range(20, 40))
    qids = [0, 1, 2, 3, 100]
    # PQ probes take raw query vectors from the FINAL corpus (0,1
    # upserted → negated; 100 untouched) — the id-keyed store the
    # probe contract names
    qvecs = emb.filter(F.col("vec_id").isin(0, 1)).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    ).unionByName(
        emb.filter(F.col("vec_id") == 100).select("vec_id", "embedding")
    )
    fx = {}
    # ---- IVF lifecycle: seqs 0 (write) / 1 (append) / 2 (upsert) /
    # 3 (delete); next_seq 4 at the stats capture
    write_ivf_index(evens, it, num_centroids=8, n_iter=2)
    append_to_ivf_index(odds, it)
    upsert_to_ivf_index(up, it)
    delete_from_ivf_index(spark, it, dels)
    fx["ivf_asof"] = ivf_probe_index(
        spark, it, qids, k=10, nprobe=3, asof_seq=1
    ).localCheckpoint()
    fx["ivf_churn"] = ivf_probe_index(
        spark, it, qids, k=10, nprobe=3
    ).localCheckpoint()
    fx["ivf_stats"] = ivf_index_stats(spark, it).localCheckpoint()
    # ---- PQ lifecycle: same seq schedule on the codes table
    write_pq_index(evens, pt, m=4, k_codes=16, n_iter=2, dim=64)
    append_to_pq_index(odds, pt)
    upsert_to_pq_index(up, pt)
    delete_from_pq_index(spark, pt, dels)
    fx["pq_churn"] = pq_probe_index(
        spark, qvecs, pt, k=10
    ).localCheckpoint()
    fx["pq_stats"] = pq_index_stats(spark, pt).localCheckpoint()
    # ---- compaction fold: tombstones applied physically; the post
    # probes must equal the pre probes bit-exactly (pinned by the
    # pre/post stage union in ivf_upsert / pq_upsert)
    compact_ivf_index(spark, it)
    compact_pq_index(spark, pt)
    fx["ivf_post"] = ivf_probe_index(
        spark, it, qids, k=10, nprobe=3
    ).localCheckpoint()
    fx["pq_post"] = pq_probe_index(
        spark, qvecs, pt, k=10
    ).localCheckpoint()
    _CHURN_FX[key] = fx
    return fx


def q_ivf_upsert(spark, sf_dir):
    """ANN index maintenance under CHURN (ann_index.upsert_to_ivf_index
    / delete_from_ivf_index / compact_ivf_index — the r13 verdict's
    task 7): after the day-1 write (evens train the quantizer) and the
    day-2 append (odds), vec_ids 0-19 are re-crawled with NEGATED
    vectors (an upsert — cells can move) and 20-39 are removed (a
    delete).  Both are tombstones: ``(id, seq)`` rows in the
    ``__tombstones`` companion kill posting rows with an earlier
    write-seq; the upsert's own rows survive their own tombstone
    (written at the same seq).  The probe runs TWICE — before
    compaction (read-time broadcast liveness resolution) and after
    (tombstones applied physically and cleared) — and both stages must
    equal the oracle's replay: train on original evens, assign the
    FINAL logical corpus (negated 0-19, 20-39 gone) with the stored
    centroids, probe from final vectors.  A stale row served, a lost
    upsert, a leaked delete, or a compaction that changes any distance
    breaks the hash.  Scenario built once per session in
    _churn_fixture (r14 verdict task 1); stage capture order there
    preserves exactly the probes this query returned when it built
    its own tables."""
    fx = _churn_fixture(spark, sf_dir)
    pre = fx["ivf_churn"].select(
        F.lit("pre_compact").alias("stage"), "*")
    post = fx["ivf_post"].select(
        F.lit("post_compact").alias("stage"), "*")
    return pre.unionByName(post)


def q_ivf_asof(spark, sf_dir):
    """SNAPSHOT reads under churn (ann_index ``asof_seq`` — the
    dataset-versioning contract a training pipeline needs): after the
    write/append lifecycle, vec_ids 0-19 are upserted with negated
    vectors and 20-39 deleted; the query probes the index TWICE — once
    pinned to asof_seq=1 (the post-append snapshot: original vectors,
    nothing deleted) and once at the latest state — and returns both
    under a stage label.  The oracle replays the snapshot stage as the
    plain day-1-trained lifecycle (the ivf_index chain) and the latest
    stage as the churn replay (final_select): if later churn leaked
    into the pinned snapshot, or the latest view served a stale row,
    the hash breaks.  Scenario shared via _churn_fixture (r14 verdict
    task 1): the asof probe is captured there BEFORE the compaction
    fold, which forfeits snapshot reads below its applied
    tombstones."""
    fx = _churn_fixture(spark, sf_dir)
    asof = fx["ivf_asof"].select(
        F.lit("asof_append").alias("stage"), "*")
    latest = fx["ivf_churn"].select(
        F.lit("latest").alias("stage"), "*")
    return asof.unionByName(latest)


def q_index_stats(spark, sf_dir):
    """Index observability (ann_index.ivf_index_stats /
    pq_index_stats): after write(evens) → append(odds) → upsert 0-19 →
    delete 20-39 on BOTH index kinds (the shared _churn_fixture
    scenario, r14 verdict task 1 — the dashboards are captured there
    PRE-compaction, where the debt columns are non-zero), each
    reports its one-row churn dashboard — physical rows, live rows
    (what a probe sees), dead rows (compaction debt), distinct
    tombstoned ids, next write seq — and the oracle replays every
    count from the embeddings table (the physical `files` column is
    excluded as layout-dependent).  A liveness-resolution bug or a
    seq-accounting bug breaks the hash."""
    fx = _churn_fixture(spark, sf_dir)
    cols = ["rows_total", "rows_live", "rows_dead", "tombstoned_ids",
            "next_seq"]
    return (
        fx["ivf_stats"]
        .select(F.lit("ivf").alias("index_kind"), *cols)
        .unionByName(
            fx["pq_stats"]
            .select(F.lit("pq").alias("index_kind"), *cols)
        )
    )


def _churn_final_select(upsert_below=20, del_lo=20, del_hi=40):
    """The FINAL logical corpus after the shared churn scenario, as a
    quantized (vec_id, q) SELECT for the oracle generators: vec_ids
    below ``upsert_below`` carry NEGATED embeddings, ids in
    [del_lo, del_hi) are gone."""
    return (
        "SELECT vec_id, list_transform("
        f"CASE WHEN vec_id < {upsert_below} THEN "
        "list_transform(embedding, x -> -x) ELSE embedding END, "
        "x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0) "
        "AS BIGINT)) AS q "
        "FROM embeddings WHERE embedding IS NOT NULL "
        f"AND NOT (vec_id >= {del_lo} AND vec_id < {del_hi})"
    )


def _staged_sql(base_sql):
    """Duplicate a probe replay into the pre/post-compaction stages the
    churn driver queries return — compaction must be a pure physical
    fold, so both stages carry identical values."""
    return (
        f"WITH res AS ({base_sql}) "
        "SELECT 'pre_compact' AS stage, * FROM res "
        "UNION ALL SELECT 'post_compact' AS stage, * FROM res"
    )


def q_pq_upsert(spark, sf_dir):
    """The PQ twin of q_ivf_upsert: tombstone churn on the CODES table
    (vec_ids 0-19 re-encoded from negated vectors with the STORED
    day-1 codebooks, 20-39 deleted), ADC probes from the final query
    vectors before and after the compaction fold.  The oracle replays
    training on original evens and encoding of the final logical
    corpus — stale codes, lost upserts or a lossy compaction break the
    hash.  Scenario shared via _churn_fixture (r14 verdict task 1)."""
    fx = _churn_fixture(spark, sf_dir)
    pre = fx["pq_churn"].select(
        F.lit("pre_compact").alias("stage"), "*")
    post = fx["pq_post"].select(
        F.lit("post_compact").alias("stage"), "*")
    return pre.unionByName(post)


def q_semantic_dedup_indexed(spark, sf_dir):
    """SemDeDup composed with the PERSISTED IVF index
    (dedup.semantic_dedup_from_index — the r13 verdict's task 5): cell
    assignments come from stored posting lists (tombstone-resolved),
    not an in-query k-means, so the Lloyd's passes are paid once at
    index-build time and a nightly dedup re-run is two joins.  Index
    built on the full embedding table with semantic_dedup's own
    parameters (seed='semdedup', k=8, 2 iters), so the verdicts are
    bit-identical to the in-query `semantic_dedup` query — and the
    oracle IS the same generated k-means+cosine CTE chain, hash-exact.
    A drifted stored assignment, a broken stamp read, or a liveness
    bug breaks the hash.  Round 15 extends the pin to SNAPSHOT
    REPRODUCIBILITY (r14 verdict task 4): the index is CHURNED after
    the build (3 ids upserted negated, 2 deleted) and the screen runs
    pinned to ``asof_seq=0`` — the build snapshot — so the verdicts
    must STILL equal the in-query chain on the original corpus; churn
    leaking through the pin breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import (
        delete_from_ivf_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.dedup import semantic_dedup_from_index

    table = "q_semdedup_idx_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__vectors",
              f"{table}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    write_ivf_index(
        emb, table, num_centroids=8, n_iter=2, seed="semdedup"
    )
    # churn AFTER the snapshot point (write = seq 0): a nightly dedup
    # pinned to the build must not see any of it
    upsert_to_ivf_index(
        emb.filter(F.col("vec_id") < 3).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        ),
        table,
    )
    delete_from_ivf_index(spark, table, [3, 4])
    return semantic_dedup_from_index(
        emb, table, threshold=0.35, asof_seq=0
    )


def q_semantic_dedup_increment(spark, sf_dir):
    """The NIGHTLY SemDeDup screen (dedup.semantic_dedup_increment):
    an index built on the day-1 corpus (vec_id < 400), then a new
    batch (vec_id >= 400) screened against it — each new row's cell
    assigned map-only with the STORED centroids (the exact expression
    appends write), judged against every live same-cell row plus
    earlier rows of its own batch.  Candidate space is
    Σ|cell∩new|·|cell| — batch-proportional, not the corpus'
    Σ|cell|².  The oracle replays train-on-day-1 → assign-everything →
    pair scan restricted to new-row verdicts; screen-then-append ≡
    append-then-rescreen is separately pinned in pytest.  A drifted
    stored assignment or a candidate-scope bug breaks the hash."""
    import shutil as _shutil

    from gdp_etl_spark.operators.ann_index import write_ivf_index
    from gdp_etl_spark.operators.dedup import semantic_dedup_increment

    table = "q_semdedup_inc_tbl"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__vectors",
              f"{table}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") < 400)
    day2 = emb.filter(F.col("vec_id") >= 400)
    write_ivf_index(
        day1, table, num_centroids=8, n_iter=2, seed="semdedup"
    )
    return semantic_dedup_increment(day2, day1, table, threshold=0.35)


def _semantic_dedup_inc_sql(split=400, threshold=0.35, k_cells=8,
                            n_iter=2, seed="semdedup", dim=64):
    """Oracle for q_semantic_dedup_increment: the shared k-means chain
    trained on the day-1 rows only, ALL rows assigned by those
    centroids (old rows = the stored postings, new rows = the
    increment's map-only assignment), pair scan producing verdicts for
    new rows only."""
    parts, _ = _kmeans_cells_parts(
        dim=dim, k_cells=k_cells, seed=seed, n_iter=n_iter,
        train_where=f"vec_id < {split}",
    )
    parts.append(f"""dup AS (
      SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
      FROM enc a JOIN enc b ON a.cell = b.cell AND b.vec_id < a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE a.vec_id >= {split}
        AND {_cos_sql('ea.embedding', 'eb.embedding')}
            >= CAST({threshold} AS DOUBLE)
      GROUP BY a.vec_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT e.vec_id, CAST(e.cell AS INT) AS cell, d.dup_of,
           d.dup_of IS NULL AS keep
    FROM enc e LEFT JOIN dup d USING (vec_id)
    WHERE e.vec_id >= {split}
    """)


def _semantic_dedup_sql(threshold=0.35, k_cells=8, n_iter=2,
                        seed="semdedup", dim=64):
    parts, _ = _kmeans_cells_parts(
        dim=dim, k_cells=k_cells, seed=seed, n_iter=n_iter,
    )
    parts.append(f"""dup AS (
      SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
      FROM enc a JOIN enc b ON a.cell = b.cell AND b.vec_id < a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {_cos_sql('ea.embedding', 'eb.embedding')}
            >= CAST({threshold} AS DOUBLE)
      GROUP BY a.vec_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + """
    SELECT e.vec_id, CAST(e.cell AS INT) AS cell, d.dup_of,
           d.dup_of IS NULL AS keep
    FROM enc e LEFT JOIN dup d USING (vec_id)
    """)


def q_kmeans_assign(spark, sf_dir):
    """Distributed deterministic k-means over the full embedding table
    (operators/kmeans.py): fixed-point Lloyd's — hash-seeded centroids,
    exact integer squared distances, integer floor-division updates —
    so the DuckDB oracle replays both iterations as unrolled CTEs and
    the final (vec_id, cluster, dist2) assignment hash-matches exactly.
    Scale shape: assignment is literal-centroid map work (no join, no
    shuffle); each update is ONE k-row shuffle + a k·d driver collect —
    the same layout Spark ML's KMeans uses, minus the nondeterminism."""
    from gdp_etl_spark.operators.kmeans import kmeans_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_fixed(emb, "vec_id", "embedding", k=8, n_iter=2)


def q_corpus_mix(spark, sf_dir):
    """Budget-driven corpus mixing (operators/sampling.py:mix_to_budget):
    each language gets a token target ``budget · w/Σw`` and a
    deterministic md5-hash sampling rate quantized to parts-per-million
    with pure BIGINT floor arithmetic — the exact sample is
    engine-portable, so the oracle recomputes rates AND membership."""
    from gdp_etl_spark.operators.sampling import mix_to_budget

    docs = _t(spark, sf_dir, "documents")
    out = mix_to_budget(
        docs, "doc_id", "lang", "n_chars", 60_000,
        {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1},
    )
    return out.select("doc_id", "lang", "n_chars", "rate_ppm")


def q_lsh_topk(spark, sf_dir):
    """LSH bucketed approximate top-k (the 100-TB scale path) with
    deterministic Rademacher hyperplanes: buckets are engine-portable
    (md5-parity ±1 signs + fixed-point projections), so the DuckDB
    oracle replays the *entire* approximate pipeline — buckets,
    candidate union over 4 tables, exact cosine re-rank, top-k — and
    the check is full hash equality, not rows-only.  The Gaussian
    numpy-hyperplane variant stays available (``method="gaussian"``,
    unit-tested)."""
    return lsh_topk(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        k=10, num_bits=8, num_tables=4, seed=42, method="rademacher",
    )


def q_token_stats(spark, sf_dir):
    """Text analysis: whitespace + BPE-ish token counts, punctuation
    ratio, stopword ratio, mean token length — all JVM-side HOFs."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_ws(t).alias("n_ws"),
        token_count_bpe(t).alias("n_bpe"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        mean_token_len(t).alias("mean_token_len"),
    )


def q_quality_lang(spark, sf_dir):
    """Quality score + marker-based AND char-trigram language ID per
    document.  Normalized text is materialized into a column before the
    32-trigram replace-count fan-out so it is normalized once."""
    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("__norm", _norm_text(F.col("text")))
    return d.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
        _lang_ngram_from_norm(F.col("__norm")).alias("lang_ngram"),
    )


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: min md5(shingle) — portable k=1 MinHash."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text"), 5).alias("fp"))


def q_content_hash(spark, sf_dir):
    """Rabin-Karp rolling content hash per document — a JVM-side
    character fold, no UDF."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_content_hash(F.col("text")).alias("content_hash"))


#: BM25 demo query vocabulary (shared between the Spark query and oracle).
_BM25_TERMS = ["spark", "join", "fast"]


def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval: top-10 docs for a 3-term query.  Query-term
    filter lands before the (doc, term) shuffle; df/corpus stats are
    broadcast; per-doc score accumulates through fixed-point bigints
    (engine-portable, partitioning-independent)."""
    from gdp_etl_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, _BM25_TERMS, k=10)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 (lexical) and exact-cosine top-20
    for query vector 0 (semantic; doc_id ≡ vec_id in the synthetic
    corpus) fused with reciprocal-rank fusion
    (retrieval.rrf_fuse, Cormack et al. 2009) — the standard RAG
    retrieval stack.  Both input lists are k-bounded by their
    producers, the fused score is pure-BIGINT ``scale div (k0+rank)``
    (engine-exact, no float calibration), and the final top-10 plans
    as TakeOrderedAndProject."""
    from gdp_etl_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rank"),  # 20-row frame: the unpartitioned window is bounded
    )
    sem = brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=20,
    ).select(F.col("neighbour_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], "doc_id", k0=60, k=10)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (similarity.mine_hard_negatives): per anchor (vec_id < 5), the
    top-10 most-similar vectors with a DIFFERENT label, capped below
    cosine 0.9999 (near-identical cross-label pairs are label noise).
    Anchors broadcast; fixed-point cosine; per-anchor top-k is
    WindowGroupLimit-pruned — the DPR mining recipe as one declarative
    plan."""
    from gdp_etl_spark.operators.similarity import mine_hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return mine_hard_negatives(
        emb.filter(F.col("vec_id") < 5), emb, k=10, max_sim=0.9999,
    )


def q_inverted_index(spark, sf_dir):
    """Inverted index: term → df + sorted distinct posting list (one
    distinct + one term-keyed shuffle).  The registered output
    serializes the posting list to CSV — the driver's pandas
    canonicalizer cannot hash list cells (raw-array form stays covered
    in tests/test_retrieval.py)."""
    from gdp_etl_spark.operators.retrieval import inverted_index

    d = _t(spark, sf_dir, "documents")
    return inverted_index(d).select(
        "term",
        "df",
        F.concat_ws(
            ",", F.transform("postings", lambda x: x.cast("string"))
        ).alias("postings_csv"),
    )


def q_pii_redact(spark, sf_dir):
    """PII scrub over documents with synthesized URL/email/phone columns
    appended (the corpus itself is PII-free): per-kind match counts and
    the redacted text length.  Pure regexp map work — no shuffle."""
    from gdp_etl_spark.functions.text import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.com/d/"), F.col("doc_id").cast("string"),
        F.lit(" call +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = d.withColumn("__aug", aug)
    counts = pii_counts(F.col("__aug"))
    return d.select(
        "doc_id",
        counts["url"].alias("n_url"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        F.length(redact_pii(F.col("__aug"))).alias("redacted_len"),
    )


def q_top_bigrams(spark, sf_dir):
    """Corpus-wide top-20 word bigrams: per-row bigram construction
    (adjacent-token concat, short-doc guarded), explode, one count
    shuffle, deterministic tie-break."""
    d = _t(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    d = d.select(toks.alias("t"))
    n = F.size(F.col("t"))
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bg = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
        ),
    )
    return (
        d.select(F.explode(bg).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


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


def q_length_batches(spark, sf_dir):
    """Pad-efficiency batching (packing.length_bucketed_batches):
    geometric length buckets (growth 1.25 → ≤20% intra-bucket padding
    waste) then per-(lang, bucket) deterministic chop into batches of
    floor(budget / bucket_cap) rows — the document-preserving sibling
    of pack_sequences for SFT/eval workloads."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import length_bucketed_batches

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).cast("int").alias("n_tok")
    )
    return length_bucketed_batches(
        d, "n_tok", 2048, ["lang"], ["doc_id"]
    ).select(
        "doc_id", "lang", "n_tok", "length_bucket", "bucket_cap",
        "batch_id", "batch_slot",
    )


def q_fuzzy_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs: length-band blocked equi-join (±1
    band expansion, never all-pairs), length-difference prefilter, then
    early-exit thresholded levenshtein."""
    from gdp_etl_spark.operators.dedup import fuzzy_levenshtein_pairs

    d = _t(spark, sf_dir, "documents")
    return fuzzy_levenshtein_pairs(d, "text", "doc_id", max_dist=16)


def q_corpus_clean(spark, sf_dir):
    """The composed corpus-cleaning pipeline (plans.corpus): quality +
    language scoring → filter → PII redaction → exact dedup (window on
    md5, no self-join) → deterministic 50% hash sample.  End-to-end
    oracle-checkable — every stage is engine-portable."""
    from gdp_etl_spark.plans.corpus import clean_corpus

    d = _t(spark, sf_dir, "documents")
    return clean_corpus(
        d, min_quality=0.85, langs=("en",), sample_fraction=0.5, seed="42"
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic stratified sampling: md5-bucket thresholds per
    stratum — same rows in or out across runs, engines and
    partitionings (RNG sampling is none of those)."""
    from gdp_etl_spark.operators.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(
        d, "doc_id", "lang",
        fractions={"en": 0.1, "de": 1.0}, default_fraction=0.5, seed="42",
    )


def q_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split: hash-bucket thresholds
    per doc — leak-free and reproducible across engines/partitionings
    (RNG splits are neither)."""
    from gdp_etl_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(d, "doc_id", seed="42")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → transitive clusters → canonical documents (the
    dedup pipeline's final step: min-label propagation connected
    components).  Oracle: exact all-pairs Jaccard pairs (same recall
    rationale as ``minhash_lsh`` — see its docstring for the honest
    at-threshold bound) fed through a DuckDB ``WITH RECURSIVE``
    reachability walk — component = min reachable doc_id."""
    from gdp_etl_spark.operators.cluster import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=16, bands=8, jaccard_threshold=0.8
    )
    out = dedup_clusters(docs.select("doc_id", "lang"), pairs, "doc_id")
    return out.select("doc_id", "cluster_id", "is_canonical")


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


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column → Arrow-batched
    metadata extraction via mapInPandas (length + magic bytes)."""
    d = attach_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return binary_meta(d, "payload", "doc_id")


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


def q_csv_roundtrip(spark, sf_dir):
    """S1 + S6: single-file CSV sink → explicit-schema CSV scan.  The
    round-trip is the reference's deliverable contract AND the
    zero-padded-code preservation test: "004" must come back a string,
    which only an explicit schema guarantees (inferSchema is banned)."""
    import tempfile

    from gdp_etl_spark.io import write_single_csv
    from gdp_etl_spark.sources import read_csv

    out = _t(spark, sf_dir, "nation").select(
        pad_code("n_nationkey", 3).alias("code"),
        "n_name",
        F.col("n_regionkey").cast("string").alias("region_code"),
    )
    path = tempfile.mkdtemp(prefix="csv_rt_") + "/nation_csv"
    write_single_csv(out, path)
    return read_csv(
        spark, path, "code string, n_name string, region_code string"
    )


def q_csv_trimmed(spark, sf_dir):
    """S3 + S5: CSV scan with a 2-line preamble skipped, a 3-line footer
    trimmed, custom NA markers ("--") mapped to NULL, and an explicit
    schema — the reference's Taiwan-feed ingestion contract
    (``gpd_etl_pipeline.R:100-122``: skip=2, footer rows dropped, "--"
    as NA).  The sandbox has no network, so the fixture is written to a
    tmp file inside the query; the oracle is the inline expected rows."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_csv_trimmed

    content = (
        "Quarterly GDP feed (preamble line 1)\n"
        "source: statistics office (preamble line 2)\n"
        "period,gdp,deflator\n"
        "2020,100.5,--\n"
        "2021,110.25,1.02\n"
        "2022,--,1.05\n"
        "footnote: figures are provisional\n"
        "contact: stats@example.org\n"
        "generated by feed exporter\n"
    )
    # mkdtemp per invocation — same concurrent-reader race guard as
    # q_fixed_width / q_schema_evolution
    path = os.path.join(
        tempfile.mkdtemp(prefix="trim_fixture_"), "gdp_etl_spark_trim_fixture.csv"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return read_csv_trimmed(
        spark, path, "period int, gdp double, deflator double",
        skip_rows=2, skip_footer=3, na_values=("--",),
    )


def q_fixed_width(spark, sf_dir):
    """Fixed-width feed ingestion (sources.read_fixed_width): a
    mainframe-style columnar layout with a 1-line banner, blank-padded
    slices, and '--' NA markers — parsed entirely by JVM substring/trim
    expressions in one text scan.  Fixture written to tmp inside the
    query (same pattern as csv_trimmed); oracle is inline VALUES."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_fixed_width

    content = (
        "NATIONAL ACCOUNTS ANNUAL EXPORT\n"
        "ALB 2020    100.50 A\n"
        "AND 2021      --   B\n"
        "AUT 2022   2000.25   \n"
        "BEL 2020     33.10 A\n"
    )
    # fresh dir per invocation: a fixed shared path + truncating open()
    # lets a concurrent bench/pytest read a half-written file (the race
    # q_schema_evolution's mkdtemp already guards against)
    path = os.path.join(
        tempfile.mkdtemp(prefix="fw_fixture_"), "gdp_etl_spark_fw_fixture.dat"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return read_fixed_width(
        spark,
        path,
        [
            ("code", 1, 4, "string"),
            ("year", 5, 4, "int"),
            ("gdp", 9, 10, "double"),
            ("flag", 19, 2, "string"),
        ],
        na_values=("--",),
        skip_rows=1,
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing: payload → fixed-dim feature vector
    via Arrow-batched mapInPandas.  The registered output explodes the
    vector to (doc_id, pos, feature) scalar rows, and because the fake
    decoder is md5-derived uint32/2^32 in float64 (exact), the DuckDB
    oracle rebuilds every feature from ``md5(text)`` hex pairs —
    full hash equality.  Real codecs plug in via ``decoder="pillow"``
    (optional dep, unit-tested)."""
    d = attach_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return decode_features(d, "payload", "doc_id", dim=16).select(
        "doc_id", F.posexplode("features").alias("pos", "feature")
    )


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling fan-out: one payload row → N typed frame rows
    (every 4th fake 16-byte frame).  Registered output hex-encodes the
    frame bytes so the driver canonicalizer can hash rows, and the
    oracle replays the chunking as hex-string slices — full equality
    check on the 1→N fan-out, indices and bytes."""
    d = attach_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return frame_sample(d, "payload", "doc_id", every_n=4).select(
        "doc_id", "frame_idx", F.lower(F.hex("frame")).alias("frame_hex")
    )


# ===========================================================================
# QA report suite (§3.3) — plans/qa.py driven against a TPC-H-shaped diff
# ===========================================================================

def _orders_release_diff(spark, sf_dir, old_predicate=None, new_predicate=None):
    """A release-diff-shaped frame from the driver tables: per
    (nation, year) revenue, "new" = all orders (or a ``new_predicate``
    subset, to synthesize values MISSING from the new release) vs
    "old" = a filtered subset (default: F-status orders), mapped onto
    the QA contract (code/label/year/variable)."""
    if old_predicate is None:
        old_predicate = F.col("o_orderstatus") == "F"
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )

    def spend(df):
        return (
            df.groupBy(
                pad_code("n_nationkey", 3).alias("Economy_Code"),
                F.col("n_name").alias("Economy_Label"),
                F.year("o_orderdate").alias("Year"),
            )
            .agg(dsum("o_totalprice", "Value"))
            .withColumn("Variable", F.lit("revenue"))
        )

    new = spend(joined if new_predicate is None else joined.filter(new_predicate))
    old = spend(joined.filter(old_predicate))
    diff = full_outer_diff(
        new.select("Economy_Code", "Year", "Variable", "Value"),
        old.select("Economy_Code", "Year", "Variable", "Value"),
        ["Economy_Code", "Year", "Variable"],
        "Value",
    )
    labels = new.select("Economy_Code", "Economy_Label").distinct()
    return diff.join(F.broadcast(labels), "Economy_Code", "left")


def _qa_diff_sql(old_pred: str, new_pred: str = "TRUE") -> str:
    return f"""
            WITH j AS (
              SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS Economy_Code,
                     n_name AS Economy_Label,
                     CAST(year(o_orderdate) AS INT) AS Year,
                     o_totalprice, o_orderstatus
              FROM orders JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey),
            new AS (SELECT Economy_Code, Economy_Label, Year,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                             AS Value
                    FROM j WHERE {new_pred} GROUP BY 1, 2, 3),
            old AS (SELECT Economy_Code, Year,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                             AS Value
                    FROM j WHERE {old_pred} GROUP BY 1, 2),
            diff AS (
              SELECT COALESCE(new.Economy_Code, old.Economy_Code) AS Economy_Code,
                     COALESCE(new.Year, old.Year) AS Year,
                     new.Value AS Value_new, old.Value AS Value_old
              FROM new FULL OUTER JOIN old
                ON new.Economy_Code = old.Economy_Code AND new.Year = old.Year),
            labeled AS (
              SELECT d.*, l.Economy_Label
              FROM diff d LEFT JOIN (SELECT DISTINCT Economy_Code, Economy_Label
                                     FROM new) l USING (Economy_Code))
"""


_QA_DIFF_SQL = _qa_diff_sql("o_orderstatus = 'F'")
_QA_DIFF_BIG_SQL = _qa_diff_sql("o_totalprice > 480000")
_QA_DIFF_MISS_SQL = _qa_diff_sql("TRUE", "Year <= 1996")


def q_qa_discrepancies(spark, sf_dir):
    """QA 1 (``04:94-106``): tolerance-filtered discrepancies compressed
    to per-economy year ranges."""
    diff = _orders_release_diff(spark, sf_dir)
    out = discrepancies_before_last_year(diff, last_year=2001, tol=100000.0)
    return out.select("Economy_Code", "Variable", "Economy_Label", "Years")


def q_qa_top_log_ratio(spark, sf_dir):
    """QA 2 (``05:10-28``): top-k discrepancies by |log(new/old)| in the
    last year."""
    diff = _orders_release_diff(spark, sf_dir)
    out = top_discrepancies_last_year(diff, last_year=2001, k=10)
    return out.select("Economy_Code", "Economy_Label", "Value_new", "Value_old")


def q_qa_missing_years(spark, sf_dir):
    """QA 3 (``06:5-16``): values present in the old release but absent
    from the new, as compressed year ranges — the new side is truncated
    at 1996 so later years go missing."""
    diff = _orders_release_diff(
        spark, sf_dir,
        old_predicate=F.lit(True),
        new_predicate=F.year("o_orderdate") <= 1996,
    )
    return missing_values(diff).select(
        "Economy_Code", "Variable", "Economy_Label", "Years"
    )


def q_qa_deflator_check(spark, sf_dir):
    """QA 5 (``08:10-93``): metamorphic deflator cross-check — the
    deflator implied by the fact's own current/constant series
    (pivot + 100·cur/con, estimation year NA-ed) against an
    independently derived series (discounted unit price), keeping each
    economy's largest |discrepancy| (W3)."""
    from gdp_etl_spark.plans.qa import deflator_check

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            pad_code("n_nationkey", 3).alias("Economy_Code"),
            F.col("n_name").alias("Economy_Label"),
            F.year("o_orderdate").alias("Year"),
            F.col("l_extendedprice").alias("ep"),
            F.col("l_discount").alias("disc"),
            F.col("l_quantity").alias("q"),
        )
    )
    agg = j.groupBy("Economy_Code", "Economy_Label", "Year").agg(
        dsum("ep", "cur"),
        dsum("q", "dq"),
        dsum(F.col("ep") * (F.lit(1.0) - F.col("disc")), "dep"),
    )
    fact = (
        agg.select(
            "Economy_Code", "Economy_Label", "Year",
            F.col("cur").alias("Value"),
            F.lit("GDP_at_current_prices").alias("Variable"),
        )
        .unionByName(
            agg.select(
                "Economy_Code", "Economy_Label", "Year",
                (F.col("dq") * F.lit(100.0)).alias("Value"),
                F.lit("GDP_at_constant_prices_2015").alias("Variable"),
            )
        )
    )
    independent = agg.select(
        "Economy_Code", "Year",
        (F.col("dep") / F.col("dq")).alias("Deflator_USD"),
    )
    return deflator_check(fact, independent, last_year=1998, tol=1.0)


def q_qa_added_years(spark, sf_dir):
    """QA 4 (``07:5-16``): values present in new but absent from old,
    as compressed year ranges."""
    # "old" side = only big-ticket orders, so some nation-years exist
    # only in the new release (the F-status old side covers everything)
    diff = _orders_release_diff(
        spark, sf_dir, old_predicate=F.col("o_totalprice") > 480000
    )
    return added_values(diff).select(
        "Economy_Code", "Variable", "Economy_Label", "Years"
    )


# ===========================================================================
# events: batch window coverage of the stream-shaped table
# ===========================================================================

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


def q_events_sessions(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions per user (lag + running
    sum), then per-user session/event counts."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id")
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


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


def q_sql_api_q3(spark, sf_dir):
    """Second SQL-API parity proof, this time with joins + top-k: the
    exact Q3-shaped text below runs verbatim on spark.sql AND DuckDB
    (the oracle IS this string).  Catalyst still broadcasts the dims
    and plans TakeOrderedAndProject from the raw SQL."""
    for t in ("lineitem", "orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_Q3_TEXT)


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


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing ≥1 8-token
    shingle with a held-out eval set (here: every 50th doc).  Broadcast
    hash semi-join — the corpus side never shuffles text."""
    from gdp_etl_spark.operators.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    out = decontaminate(docs, bench, "text", "doc_id", shingle_k=8)
    return out.select("doc_id", "n_overlap", "is_contaminated")


#: decontam_screen fixture — tokens chosen to collide with nothing in
#: the synthetic corpus.  Benchmark doc = 12 tokens → five 8-token
#: shingles; doc -1 copies 9 benchmark tokens (2 shared shingles,
#: BELOW min_overlap=3 → admitted), doc -2 copies 10 (3 shared
#: shingles, AT threshold → rejected) — the branch the driver check
#: must see straddled from both sides.
_DS_BENCH = ("zq01 zq02 zq03 zq04 zq05 zq06 zq07 zq08 zq09 zq10 "
             "zq11 zq12")
_DS_BELOW = "zq01 zq02 zq03 zq04 zq05 zq06 zq07 zq08 zq09 qxa qxb qxc"
_DS_AT = "zq01 zq02 zq03 zq04 zq05 zq06 zq07 zq08 zq09 zq10 qxd qxe qxf"


def q_decontam_screen(spark, sf_dir):
    """Threshold-branch decontamination screen
    (decontam.screen_contaminated with min_overlap=3 — the admission
    form run_near_dup_ingest composes as its fourth screen): documents
    plus two planted fixture docs straddling the threshold against a
    benchmark of every 50th doc plus a planted benchmark doc.  Doc -1
    shares exactly 2 distinct 8-token shingles (admitted), doc -2
    exactly 3 (rejected); real every-50th docs reject against
    themselves.  The min_overlap>1 branch takes the count-distinct
    aggregate path instead of the any-hit semi-join — this query is
    what makes that branch oracle-checked rather than pytest-only.
    Scale shape: broadcast benchmark hash set, map-side explode +
    semi-join, per-doc partial aggregate — the corpus text never
    shuffles."""
    from gdp_etl_spark.operators.decontam import (
        benchmark_shingle_hashes,
        screen_contaminated,
    )
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = local_df(
        spark, [(-1, _DS_BELOW), (-2, _DS_AT)], "doc_id bigint, text string"
    )
    docs = d.unionByName(fixture)
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text").unionByName(
        local_df(spark, [(_DS_BENCH,)], "text string")
    )
    hashes = benchmark_shingle_hashes(bench, "text", shingle_k=8)
    return screen_contaminated(
        docs, hashes, "text", "doc_id", shingle_k=8, min_overlap=3
    ).select("doc_id")


#: q_warc_ingest fixture — one raw-crawl file exercising the reader's
#: whole parse surface: warcinfo/request records to filter, mixed-case
#: HTTP headers, a charset parameter to strip, a 404, and markup whose
#: links hit the url_host edge cases (www+port, scheme-relative).
_WARC_HTML = (
    '<html><head><title>T</title></head><body><p>Alpha beta gamma.</p>'
    '<A HREF="https://WWW.Ex.COM:8443/a">x</A>'
    "<a href='//cdn.ex.net/b'>y</a></body></html>"
)
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

_WARC_FIXTURE = (
    "WARC/1.0\r\n"
    "WARC-Type: warcinfo\r\n\r\nsoftware: fixture\r\n\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: request\r\n"
    "WARC-Target-URI: https://ex.com/page\r\n"
    "\r\nGET /page HTTP/1.1\r\nHost: ex.com\r\n\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: response\r\n"
    "WARC-Target-URI: https://user@www.Ex.com:8443/page\r\n"
    "WARC-Date: 2024-03-01T12:00:00Z\r\n"
    "\r\n"
    "HTTP/1.1 200 OK\r\n"
    "content-type: text/html; charset=UTF-8\r\n"
    "\r\n"
    f"{_WARC_HTML}\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: response\r\n"
    "WARC-Target-URI: https://other.net/missing\r\n"
    "WARC-Date: 2024-03-01T13:00:00Z\r\n"
    "\r\n"
    "HTTP/1.1 404 Not Found\r\n"
    "Content-Type: text/plain\r\n"
    "\r\n"
    "not here\r\n"
    "\r\n"
)


def q_warc_ingest(spark, sf_dir):
    """Raw-crawl ingestion end to end (sources.read_warc_responses +
    text.url_host + extract_links): a constant WARC fixture lands in
    the warehouse dir, the reader parses its two header blocks per
    record (warcinfo/request filtered, charset parameter stripped,
    status as int), and one scan feeds both pipeline sides — the host
    node and the extracted link list.  The fixture is a CONSTANT, so
    the oracle mirrors the expected rows verbatim (the html_strip
    pattern): any drift in record splitting, header matching, body
    trimming, host normalization or link extraction breaks the hash."""
    import os as _os

    from gdp_etl_spark.functions.text import extract_links, url_host
    from gdp_etl_spark.sources import read_warc_responses


    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # content-addressed filename: editing _WARC_FIXTURE invalidates the
    # cached file instead of silently reading stale bytes
    tag = hashlib.md5(_WARC_FIXTURE.encode()).hexdigest()[:12]
    path = _os.path.join(wh, f"q_warc_fixture_{tag}.warc")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_WARC_FIXTURE.encode())
    recs = read_warc_responses(spark, path)
    return recs.select(
        "target_uri",
        "http_status",
        "content_type",
        url_host(F.col("target_uri")).alias("host"),
        F.concat_ws("|", extract_links(F.col("payload"))).alias("links"),
        F.length("payload").cast("bigint").alias("payload_len"),
    )


#: q_wet_ingest fixture — one WET (extracted-text crawl) file covering
#: the reader + landing-stage surface: a warcinfo preamble to filter,
#: lower-case header names and fractional-second WARC-Dates (the spec
#: fidelity fixes), a blank-body record to drop, a record with no
#: Target-URI (NULL url/source, hash on the '' sentinel), and en/de/und
#: texts for the language id.
def _wet_rec(headers, body):
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return "WARC/1.0\r\n" + head + "\r\n" + body + "\r\n\r\n"


_WET_FIXTURE = (
    _wet_rec([("WARC-Type", "warcinfo"), ("Content-Length", "9")],
             "robots: x")
    + _wet_rec(
        [("warc-type", "conversion"),
         ("warc-target-uri", "https://www.Example.COM:8443/en/article"),
         ("WARC-DATE", "2024-03-01T12:00:00.123Z"),
         ("Content-Length", "92")],
        "The quick brown fox jumps over the lazy dog and the rest of "
        "this page is plain English text.",
    )
    + _wet_rec(
        [("WARC-Type", "conversion"),
         ("WARC-Target-URI", "https://empty.net/blank"),
         ("WARC-Date", "2024-03-01T13:00:00Z"),
         ("Content-Length", "3")],
        "   ",
    )
    + _wet_rec(
        [("WARC-Type", "conversion"),
         ("WARC-Date", "2024-03-01T14:00:00Z"),
         ("Content-Length", "28")],
        "sin URI pero con texto util.",
    )
    + _wet_rec(
        [("WARC-Type", "conversion"),
         ("WARC-Target-URI", "http://de.beispiel.org/seite"),
         ("WARC-Date", "2024-03-01T15:00:00.5Z"),
         ("Content-Length", "64")],
        "Der schnelle braune Fuchs springt und die Seite ist auf "
        "Deutsch.",
    )
)


def q_wet_ingest(spark, sf_dir):
    """WET-side crawl ingestion end to end (sources.read_wet →
    plans.corpus.wet_to_documents → clean_corpus quality/redaction):
    the constant fixture lands in the warehouse dir, the reader splits
    records and parses headers (warcinfo filtered, case-insensitive
    names, fractional-second dates), the landing stage derives the
    content-addressed xxhash64 doc_id, host source and language id and
    drops the blank record, and clean_corpus contributes the quality
    score and cleaned length.  The fixture is a CONSTANT, so the
    oracle mirrors the expected rows verbatim (the warc_ingest
    pattern): any drift in record splitting, header extraction, id
    hashing, host/lang derivation or the quality pipeline breaks the
    hash.  doc_id / quality constants are Spark-deterministic
    (xxhash64 seed 42; quality quantized to integer micros)."""
    import os as _os

    from gdp_etl_spark.plans.corpus import clean_corpus, wet_to_documents

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.md5(_WET_FIXTURE.encode()).hexdigest()[:12]
    path = _os.path.join(wh, f"q_wet_fixture_{tag}.wet")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_WET_FIXTURE.encode())
    docs = wet_to_documents(spark, path)
    cleaned = clean_corpus(docs, langs=None).select(
        "doc_id",
        F.floor(F.col("quality") * 1e6).cast("bigint").alias(
            "quality_micro"
        ),
        F.length("text_clean").cast("bigint").alias("clean_len"),
    )
    return docs.join(cleaned, "doc_id", "left").select(
        "doc_id",
        "url",
        "source",
        "lang",
        "n_chars",
        F.date_format("fetched_at", "yyyy-MM-dd HH:mm:ss.SSS").alias(
            "fetched_iso"
        ),
        "quality_micro",
        "clean_len",
    )


#: q_crawl_corpus fixture — a multi-record raw crawl whose records are
#: built to trip each downstream gate exactly once: an exact-duplicate
#: page (dedup), a German page (lang routing), a symbol-spam page
#: (quality gate), a 404 and a text/plain record (parse filters), plus
#: a URL and an email in the kept page (PII redaction).
def _crawl_resp(uri, date, body, ctype="text/html", status="200 OK"):
    http = f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n\r\n{body}"
    return (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(http.encode())}\r\n"
        "\r\n" + http + "\r\n\r\n"
    )


_CRAWL_HTML_EN = (
    "<html><head><title>Guide</title></head><body>"
    "<h1>A practical guide</h1><p>This page explains how the data "
    "pipeline works and why the quality of the training corpus "
    "matters for every model we build. It keeps many common "
    "English words so the classifier is confident about the "
    "language of the document.</p><p>See "
    "https://see.example.com/ref or mail a.b@example.com for "
    "details.</p></body></html>"
)
_CRAWL_HTML_DE = (
    "<html><body><p>Der schnelle braune Fuchs springt und die "
    "Seite ist auf Deutsch geschrieben. Das ist ein guter Text "
    "mit vielen deutschen Worten und einer klaren Sprache fuer "
    "den Klassifikator.</p></body></html>"
)
_CRAWL_FIXTURE = (
    "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
    "robots: x\r\n\r\n"
    + _crawl_resp(
        "https://en.example.com/guide", "2024-03-01T12:00:00Z",
        _CRAWL_HTML_EN,
    )
    + _crawl_resp(
        "https://mirror.example.net/guide-copy", "2024-03-01T12:05:00Z",
        _CRAWL_HTML_EN,
    )
    + _crawl_resp(
        "https://de.beispiel.org/seite", "2024-03-01T12:10:00Z",
        _CRAWL_HTML_DE,
    )
    + _crawl_resp(
        "https://junk.example.com/symbols", "2024-03-01T12:15:00Z",
        "<html><body><p>$$$ !!! ### @@@ %%%</p></body></html>",
    )
    + _crawl_resp(
        "https://gone.example.com/missing", "2024-03-01T12:20:00Z",
        "<html>not found</html>", status="404 Not Found",
    )
    + _crawl_resp(
        "https://plain.example.com/robots.txt", "2024-03-01T12:25:00Z",
        "User-agent: *", ctype="text/plain",
    )
)


def q_crawl_corpus(spark, sf_dir):
    """The crawl front door feeding the WHOLE curation surface in one
    query — the LLM-pipeline equivalent of corpus_curate:
    read_warc_responses (parse + status/content-type gates) →
    strip_markup → documents shape (content-addressed xxhash64 ids) →
    clean_corpus (quality gate, language routing, PII redaction, exact
    dedup).  The fixture is constant, so the PARSE+STRIP stage is
    pinned verbatim in the oracle's docs VALUES, while every curation
    stage downstream is REPLAYED by the generated CTE chain (the
    corpus_clean fragments) — a regression in either half breaks the
    hash.  Expected survivors: the lower-id copy of the duplicated
    English page (redacted) and the German page; the symbol-spam page
    dies at the quality gate, the 404/text-plain records at the parse
    gates."""
    import os as _os

    from gdp_etl_spark.functions.text import strip_markup
    from gdp_etl_spark.plans.corpus import clean_corpus
    from gdp_etl_spark.sources import read_warc_responses

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.md5(_CRAWL_FIXTURE.encode()).hexdigest()[:12]
    path = _os.path.join(wh, f"q_crawl_fixture_{tag}.warc")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_CRAWL_FIXTURE.encode())
    recs = read_warc_responses(spark, path)
    docs = (
        recs.filter(
            (F.col("http_status") == 200)
            & (F.col("content_type") == "text/html")
        )
        .select(
            "target_uri", strip_markup(F.col("payload")).alias("text")
        )
        .filter(F.length(F.trim("text")) > 0)
        .select(
            F.xxhash64(
                F.coalesce("target_uri", F.lit("")), "text"
            ).alias("doc_id"),
            "text",
        )
    )
    return clean_corpus(docs, min_quality=0.5, langs=("de", "en"))


#: q_warc_parsed_fidelity fixture — the adversarial crawl input the
#: expression reader documents away: a payload quoting a full WARC
#: record (separator + header block + HTTP block) verbatim mid-body, a
#: payload ending with a bare LF (only CRLF PAIRS may be trimmed), and
#: a conversion record to type-filter.  All records carry correct
#: Content-Lengths, so the length-aware scanner must recover every
#: payload byte-exactly.
_WPF_EVIL = (
    b"Quoting a crawl record verbatim:\r\nWARC/1.0\r\n"
    b"WARC-Type: response\r\nWARC-Target-URI: https://fake.example/x\r\n"
    b"\r\nHTTP/1.1 200 OK\r\n\r\nnested body\r\nend of quote."
)
_WPF_TAIL = b"This body ends with a bare newline\n"


def _wpf_resp(uri: bytes, date: bytes, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: " + uri + b"\r\n"
        b"WARC-Date: " + date + b"\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )


_WPF_FIXTURE = (
    _wpf_resp(b"https://ex.com/quote", b"2024-03-01T12:00:00Z", _WPF_EVIL)
    + _wpf_resp(
        b"https://ex.com/tail", b"2024-03-01T13:00:00.250Z", _WPF_TAIL
    )
    + b"WARC/1.0\r\nWARC-Type: conversion\r\n"
    b"WARC-Target-URI: https://ex.com/conv\r\n"
    b"Content-Length: 4\r\n\r\nbody\r\n\r\n"
)


def q_warc_parsed_fidelity(spark, sf_dir):
    """Driver evidence for the LENGTH-AWARE crawl reader
    (sources.read_warc_parsed) on exactly the input the expression
    reader cannot handle: a payload embedding the full record
    separator survives byte-exactly (md5-pinned), a trailing bare LF
    is preserved (only CRLF pairs are record-tail trimmed), fractional
    WARC-Dates parse, and non-response records filter.  The oracle
    mirrors the expected rows verbatim with payload md5s cross-computed
    by hashlib — the lineSep expression reader would truncate the
    quoted record and fail this hash by construction."""
    import os as _os

    from gdp_etl_spark.sources import read_warc_parsed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.md5(_WPF_FIXTURE).hexdigest()[:12]
    path = _os.path.join(wh, f"q_wpf_fixture_{tag}.warc")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_WPF_FIXTURE)
    return read_warc_parsed(spark, path).select(
        "target_uri",
        "http_status",
        "content_type",
        F.length("payload").cast("bigint").alias("payload_len"),
        F.md5(F.col("payload")).alias("payload_md5"),
        F.date_format("warc_date", "yyyy-MM-dd HH:mm:ss.SSS").alias(
            "fetched_iso"
        ),
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (sampling.dsir_weights — Xie et al.
    2023): every document scored by how much likelier its hashed
    word-bigram bag is under the TARGET distribution (the en %3==0
    slice) than under the raw corpus, add-one smoothed over 4096
    hashed features.  All four log terms per bucket are
    floor(ln(integer)·1e9) bigints (the trigram_lm_scores recipe), so
    per-doc sums are exact integer adds and the oracle replays
    counting, smoothing, quantization AND scoring — full hash.  Scale:
    two num_buckets-bounded count aggregates, one broadcast weight
    table, map-side bucket hash, per-doc partial aggregate — corpus
    text never shuffles."""
    from gdp_etl_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)
    )
    return dsir_weights(docs, target, "text", "doc_id", n=2)


def q_dsir_select(spark, sf_dir):
    """DSIR selection (sampling.dsir_select — the paper's step AFTER
    scoring): rank the corpus by the dsir_weights importance score and
    keep documents in rank order until an 11,000-token budget fills;
    the boundary doc that would overflow is dropped, so the selection
    is a unique prefix of the ranked stream.  Oracle replays scoring
    (the dsir_weights CTE chain) AND the budget cut (one SQL window
    cumsum) — full hash.  Scale: scoring never shuffles corpus text;
    the ranked cumsum is the two-pass prefix sum over slim (id, score,
    tokens) rows, not a single global window."""
    from gdp_etl_spark.functions.text import ws_tokens
    from gdp_etl_spark.operators.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang",
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    target = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)
    )
    return dsir_select(
        docs, target, "text", "doc_id", "n_tokens", budget=11_000, n=2
    )


def q_decontam_scrub(spark, sf_dir):
    """Span-level decontamination (decontam.scrub_contaminated_spans):
    same corpus/benchmark/fixture layout as decontam_screen, but
    instead of rejecting overlapping docs, only the tokens covered by
    a contaminated 8-gram window are removed — doc -1 keeps its unique
    tail (9 tokens scrubbed), doc -2 likewise (10 scrubbed), every
    50th doc scrubs to empty against itself.  Start discovery is a
    map-side explode + broadcast semi-join (only the contamination
    mass shuffles); removal is a map-only indexed filter.  The oracle
    replays windows, membership and the covered-token rule (DuckDB
    list lambdas are 1-based where Spark's are 0-based — both sides
    use 1-based token positions)."""
    from gdp_etl_spark.operators.decontam import (
        benchmark_shingle_hashes,
        scrub_contaminated_spans,
    )
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = local_df(
        spark, [(-1, _DS_BELOW), (-2, _DS_AT)], "doc_id bigint, text string"
    )
    docs = d.unionByName(fixture)
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text").unionByName(
        local_df(spark, [(_DS_BENCH,)], "text string")
    )
    hashes = benchmark_shingle_hashes(bench, "text", shingle_k=8)
    return scrub_contaminated_spans(
        docs, hashes, "text", "doc_id", shingle_k=8
    ).select("doc_id", "text_clean", "n_removed_tokens")


def q_bloom_screen(spark, sf_dir):
    """Bloom-prefiltered exact-dedup screen (dedup.bloom_screen_dedup):
    the %4==0 quarter is the corpus; the batch is the %4==2 quarter
    plus verbatim mirrors (negated ids) of every %20==0 corpus doc.
    The filter is built from portable md5 folds into bit_or-aggregated
    63-bit words (parameter-bounded driver collect), the probe is
    map-only against the literal words, and only bloom_hit rows reach
    the confirming semi-join — the approximation changes COST, never
    the answer (false negatives impossible; false positives resolved
    by the join).  The oracle replays the filter bit-for-bit (same
    folds, same words) AND the exact membership, so both bloom_hit and
    is_dup hash-match."""
    from gdp_etl_spark.operators.dedup import bloom_screen_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 2).unionByName(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0).select(
            (-F.col("doc_id")).alias("doc_id"), "text"
        )
    )
    return bloom_screen_dedup(batch, corpus, "text", "doc_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style intra-document repetition signals: duplicate
    bi/tri-gram fractions, top-token dominance, and the token count
    removed by consecutive-repeat collapse."""
    from gdp_etl_spark.functions.text import (
        collapse_repeated_tokens,
        dup_ngram_ratio,
        token_count_ws,
        top_token_dominance,
    )

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        dup_ngram_ratio(t, 2).alias("dup_bigram_ratio"),
        dup_ngram_ratio(t, 3).alias("dup_trigram_ratio"),
        top_token_dominance(t).alias("top_token_share"),
        (token_count_ws(t) - token_count_ws(collapse_repeated_tokens(t)))
        .cast("int")
        .alias("n_collapsed"),
    )


def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing: per-language token stream in
    doc_id order cut into 512-token training sequences — one window per
    shard, no global sort."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).cast("int").alias("n_tok")
    )
    return pack_sequences(d, "n_tok", 512, ["lang"], ["doc_id"]).select(
        "doc_id", "lang", "n_tok", "seq_id", "seq_offset"
    )


def q_embed_transform(spark, sf_dir):
    """Embedding transforms: unit-norm (fixed-point divisor), symmetric
    int8 quantization, and a 4-dim signed random projection — all
    engine-deterministic by the dot_fixed recipe.

    The registered output serializes every array to a canonical scalar
    (fixed-point CSV) because the driver's pandas canonicalizer cannot
    hash list cells (the round-2 ``array_agg`` and round-3
    ``embed_transform`` failures were exactly this).  The doubles are
    bit-identical across engines by construction, so ``floor(x*1e9)``
    is the same BIGINT on both sides; raw-array outputs stay covered by
    tests/test_similarity_multimodal.py."""
    from gdp_etl_spark.functions.vectors import (
        l2_normalize,
        quantize_int8,
        random_projection,
    )

    def fp_csv(arr):
        return F.when(
            arr.isNotNull(),
            F.concat_ws(
                ",",
                F.transform(
                    arr,
                    lambda x: F.floor(x * F.lit(1e9)).cast("long").cast("string"),
                ),
            ),
        )

    e = _t(spark, sf_dir, "embeddings")
    a = F.col("embedding")
    # compute the three (expensive) arrays ONCE in their own projection
    # — fp_csv references its argument twice (null test + transform),
    # which would otherwise inline and evaluate each fold per reference
    arrays = e.select(
        "vec_id",
        l2_normalize(a).alias("__unit"),
        quantize_int8(a).alias("__q8"),
        random_projection(a, 4).alias("__proj"),
    )
    return arrays.select(
        "vec_id",
        fp_csv(F.col("__unit")).alias("unit_fp"),
        F.when(
            F.col("__q8").isNotNull(),
            F.concat_ws(
                ",", F.transform(F.col("__q8"), lambda x: x.cast("string"))
            ),
        ).alias("q8_csv"),
        fp_csv(F.col("__proj")).alias("proj_fp"),
    )


def q_heavy_hitters(spark, sf_dir):
    """Exact support-threshold frequent items over the token stream
    (share ≥ 0.2%) — explode → partial-agg count → vocabulary-sized
    share window."""
    from gdp_etl_spark.functions.text import ws_tokens
    from gdp_etl_spark.operators.outliers import heavy_hitters

    d = _t(spark, sf_dir, "documents").select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    return heavy_hitters(d, F.col("tok"), min_share=0.002)


def q_outlier_fences(spark, sf_dir):
    """Tukey (IQR) outlier fences per return flag with outlier counts —
    exact quartiles at binary-exact interpolation fractions, fences
    broadcast back for the tagging pass."""
    from gdp_etl_spark.operators.outliers import iqr_fences

    li = _t(spark, sf_dir, "lineitem")
    return iqr_fences(li, "l_extendedprice", ["l_returnflag"]).select(
        "l_returnflag", "p25", "p75", "lo", "hi", "n_below", "n_above", "n_total"
    )


def q_corpus_curate(spark, sf_dir):
    """The FULL curation DAG (plans.corpus.curate_corpus): quality +
    repetition filter → benchmark decontamination → exact dedup →
    MinHash near-dup canonical keep → leak-free split → per-(split,
    lang) sequence packing.  One DuckDB oracle covers the whole DAG."""
    from gdp_etl_spark.plans.corpus import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return curate_corpus(docs, bench)


def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink → explicit-schema PERMISSIVE scan (the training-data
    interchange format): clean rows round-trip exactly, corrupt lines
    would quarantine into _corrupt_record instead of failing the job."""
    import tempfile

    from gdp_etl_spark.sources import read_jsonl

    out = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    path = tempfile.mkdtemp(prefix="jsonl_rt_") + "/docs_jsonl"
    out.coalesce(1).write.mode("overwrite").json(path)
    back = read_jsonl(spark, path, "doc_id bigint, lang string, text string")
    return back.filter(F.col("_corrupt_record").isNull()).select(
        "doc_id", "lang", "text"
    )


def q_pseudonymize(spark, sf_dir):
    """Salted SHA-256 keyed de-identification: stable pseudonymous ids
    that still join/group, irreversible without the salt."""
    from gdp_etl_spark.functions.text import pseudonymize

    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        pseudonymize(F.col("c_custkey"), "s3cret").alias("pseudo_id"),
        "c_mktsegment",
    )


def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement: 50
    docs drawn ∝ token count, fully deterministic (hash-uniform draw),
    planned as TakeOrderedAndProject — never a global sort."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).cast("int").alias("w")
    )
    return weighted_sample(d, "doc_id", "w", k=50)


def q_profile_table(spark, sf_dir):
    """One-pass table profile: per-column null counts and exact
    cardinality from a single wide aggregation, unpivoted."""
    from gdp_etl_spark.operators.profile import profile_columns

    return profile_columns(_t(spark, sf_dir, "orders"))


def q_resample_locf(spark, sf_dir):
    """Per-user hourly resample of the irregular events series with
    last-observation-carried-forward fill — densify via distributed
    ``sequence`` explode + ignorenulls window, zero UDFs."""
    from gdp_etl_spark.operators.timeseries import resample_locf

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return resample_locf(ev, ["user_id"], "ts", "value", step="1 hour")


def q_scd2(spark, sf_dir):
    """SCD-type-2 history build: compress each customer's order-priority
    change log into validity intervals [valid_from, valid_to) — one row
    per run of consecutive equal values (gaps-and-islands + lead)."""
    from gdp_etl_spark.operators.timeseries import scd2_intervals

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    return scd2_intervals(o, ["o_custkey"], "o_orderdate", "o_orderpriority")


def q_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of l_extendedprice: global min/max
    agg broadcast into one bin-id hash agg; empty bins emitted via a
    distributed sequence explode.  Bin math is plain binary64 —
    bit-reproducible on any IEEE-754 engine."""
    from gdp_etl_spark.operators.profile import equiwidth_histogram

    return equiwidth_histogram(_t(spark, sf_dir, "lineitem"), "l_extendedprice", 20)


def q_mad_outliers(spark, sf_dir):
    """Robust (median/MAD) outlier counts per return flag — modified
    z-score 0.6745·(x−med)/MAD, exact interpolated medians, two hash
    aggs + two broadcast joins."""
    from gdp_etl_spark.operators.outliers import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", ["l_returnflag"]
    )


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


def q_drift_psi(spark, sf_dir):
    """Population Stability Index of order value, 1992-94 baseline vs
    1995+ current: reference-defined equi-width bins, Laplace-smoothed
    shares, per-bin (q−p)·ln(q/p) contributions."""
    from gdp_etl_spark.operators.profile import drift_psi

    o = _t(spark, sf_dir, "orders")
    ref = o.filter(F.year("o_orderdate") <= 1994)
    cur = o.filter(F.year("o_orderdate") >= 1995)
    return drift_psi(ref, cur, "o_totalprice", nbins=10)


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


def q_ab_test(spark, sf_dir):
    """Welch's two-sample t between click and purchase event values —
    one scan, quantized Σv/Σv² sums, closed-form t and
    Welch–Satterthwaite dof in binary64."""
    from gdp_etl_spark.operators.regression import welch_ttest

    return welch_ttest(
        _t(spark, sf_dir, "events"), "event_type", "value", "click", "purchase"
    )


def q_build_fact(spark, sf_dir):
    """§3.1 extraction composition end-to-end (plans.gdp.build_fact =
    get_unsd_gdp_data → get_taiwan_gdp_data, ``gpd_etl_pipeline.R:
    51-147,561-562``): wide UNSD workbooks (indicator filter → melt →
    inner measure join → NA-keeping variable melt → zero-pad) unioned
    with the Taiwan NSO chain (FX from the principal feed, the W2
    2015 rebase factor, A3 base-year-FX constant prices, per-year-FX
    current prices).  Fixtures are inline literals (the sandbox has no
    network/Excel); the oracle replays every stage from the same
    VALUES, so the melt/join/rebase arithmetic is hash-checked."""
    from gdp_etl_spark.plans.gdp import build_fact

    constant_wide = local_df(
        spark,
        [
            (4, "Afghanistan", "Gross Domestic Product (GDP)",
             18.0, 19.5, 20.25, 21.0),
            (76, "Brazil", "Gross Domestic Product (GDP)",
             2400.0, 2450.0, None, 2500.0),
            (76, "Brazil", "Imports of goods and services",
             1.0, 1.0, 1.0, 1.0),
            (840, "USA", "Gross Domestic Product (GDP)",
             16000.0, 16500.0, 17000.0, 17500.0),
        ],
        "CountryID int, Country string, IndicatorName string, "
        "`2013` double, `2014` double, `2015` double, `2016` double",
    )
    current_wide = local_df(
        spark,
        [
            (4, "Afghanistan", "Gross Domestic Product (GDP)",
             20.0, 20.5, 20.25, 22.0),
            (76, "Brazil", "Gross Domestic Product (GDP)",
             2452.0, 2472.0, 2490.0, None),
            (250, "France", "Gross Domestic Product (GDP)",
             2800.0, 2850.0, 2900.0, 2950.0),
            (840, "USA", "Gross Domestic Product (GDP)",
             16800.0, 17400.0, 18000.0, 18600.0),
        ],
        "CountryID int, Country string, IndicatorName string, "
        "`2013` double, `2014` double, `2015` double, `2016` double",
    )
    principal = local_df(
        spark,
        [
            (1979, 35000.0, 1000.0),
            (1980, 36300.0, 1100.0),
            (2013, 480000.0, 15000.0),
            (2014, 495000.0, 16000.0),
            (2015, 512000.0, 16000.0),
            (2016, 500000.0, 16129.0),
        ],
        "Period int, GDP_NTD_Current double, GDP_USD_Current double",
    )
    pre81 = local_df(
        spark,
        [
            (1979, "6.GDP", 30000.0, 90000.0),
            (1980, "6.GDP", 33000.0, 95000.0),
            (1980, "7. Imports", 1.0, 1.0),
        ],
        "Period int, Expenditure string, Current_NTD double, "
        "Chained_NTD double",
    )
    post81 = local_df(
        spark,
        [
            (2013, "8. GDP", 460000.0, 470000.0),
            (2014, "8. GDP", 475000.0, 480000.0),
            (2015, "8. GDP", 490000.0, 500000.0),
            (2016, "8. GDP", 505000.0, None),
            (2015, "7. Imports", 2.0, 2.0),
        ],
        "Period int, Expenditure string, Current_NTD double, "
        "Chained_NTD double",
    )
    return build_fact(constant_wide, current_wide, principal, pre81, post81)


def q_http_csv_scan(spark, sf_dir):
    """S2 end-to-end: the reference's HTTP CSV feed path
    (``read_usis``, ``gpd_etl_pipeline.R:41-49``) through the REAL
    default fetcher — a ``file://`` URL exercises the full
    urllib-fetch → temp-file → skip/footer/NA-trimmed CSV scan chain
    with zero injection (the sandbox has no network; file:// is the
    same urlopen code path).  Oracle is the inline expected rows."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_http_csv

    content = (
        "USIS feed export (banner)\n"
        "Country_Code,Year,Value\n"
        "004,2015,80.5\n"
        "004,2016,--\n"
        "076,2015,91.25\n"
        "rows: 3 (footer)\n"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="usis_http_"), "feed.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return read_http_csv(
        spark,
        f"file://{path}",
        "Country_Code string, Year int, Value double",
        skip_rows=1,
        skip_footer=1,
        na_values=("--",),
    )


def q_excel_scan(spark, sf_dir):
    """S4 end-to-end: UNSD AMA workbook ingestion (``read_excel``,
    ``gpd_etl_pipeline.R:53-63``) — a SpreadsheetML fixture written by
    the stdlib writer, read back through ``read_excel`` (pandas+
    openpyxl when installed, the pure-stdlib ECMA-376 parser
    otherwise), banner row skipped, typed via explicit schema.  Oracle
    is the inline expected rows."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_excel, write_minimal_xlsx

    path = os.path.join(tempfile.mkdtemp(prefix="unsd_xlsx_"), "ama.xlsx")
    write_minimal_xlsx(
        path,
        [
            ["UNSD AMA export", None, None],            # banner (skipped)
            ["CountryID", "Country", "2015"],           # header
            [4.0, "Afghanistan", 20.25],
            [76.0, "Brazil", 2490.0],
            [840.0, "USA", 18000.0],
        ],
    )
    return read_excel(
        spark, path, skip_rows=1,
        schema="CountryID double, Country string, `2015` double",
    )


def q_usis_export(spark, sf_dir):
    """S7: the reference's 15-column USIS upload layout (reference
    ``gpd_etl_pipeline.R:525-558``) over a GDP-shaped fact synthesized
    from driver tables — per-nation-year revenue as Value, both Variable
    recodes, every DataSource branch (2024→0001, economy 158→3001,
    else 4809), the length<4 group filter, and the injectable RefDate."""
    from gdp_etl_spark.plans.gdp import CONSTANT, CURRENT, export_usis_layout

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_nationkey", (F.year("o_orderdate") + F.lit(26)).alias("Year")
        )
        .agg(dsum("o_totalprice", "Value"))
        .select(
            # nation 15 plays economy 158 so the NSO DataSource branch
            # is exercised; a fake 4-char group code must be filtered out
            F.when(F.col("n_nationkey") == 15, F.lit("158"))
            .otherwise(F.lpad(F.col("n_nationkey").cast("string"), 3, "0"))
            .alias("Economy_Code"),
            F.col("Year").cast("int").alias("Year"),
            "Value",
        )
    )
    both = rev.withColumn(
        "Variable", F.explode(F.array(F.lit(CURRENT), F.lit(CONSTANT)))
    ).withColumn(
        "Value",
        F.when(F.col("Variable") == CONSTANT, F.col("Value") * 0.9).otherwise(
            F.col("Value")
        ),
    )
    group_row = rev.limit(1).select(
        F.lit("1000").alias("Economy_Code"),
        F.col("Year"),
        F.col("Value"),
        F.lit(CURRENT).alias("Variable"),
    )
    fact = both.unionByName(group_row).select(
        "Economy_Code",
        "Year",
        "Variable",
        "Value",
        F.lit(None).cast("string").alias("CommentEN"),
        F.lit(None).cast("string").alias("CommentFR"),
    )
    return export_usis_layout(fact, run_date="2025-08-29")


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


def q_category_drift(spark, sf_dir):
    """Chi-square contingency drift of the event-type mix, first half
    of the month vs second — the categorical sibling of drift_psi."""
    from gdp_etl_spark.operators.profile import category_drift

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.dayofmonth("ts") <= 15).select("event_type")
    cur = ev.filter(F.dayofmonth("ts") > 15).select("event_type")
    return category_drift(ref, cur, "event_type")


def q_equidepth(spark, sf_dir):
    """Equi-depth (quantile) histogram of order value: exact
    interpolated decile boundaries from one percentile agg, then a
    boundary-counting bucketize — no global sort, no ntile."""
    from gdp_etl_spark.operators.profile import equidepth_histogram

    return equidepth_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 10)


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


def q_orc_roundtrip(spark, sf_dir):
    """Second columnar format end-to-end: customers written as
    hive-partitioned ORC (partitioned by market segment), read back
    with a segment filter — the scan must prune to ONE partition
    directory (plan-tested) — then aggregated per nation.  Shows the
    engine's source/sink surface is format-agnostic: parquet, CSV,
    JSONL and ORC share the same declarative scan path, so pushdown,
    pruning and codegen all apply unchanged."""
    import tempfile

    path = tempfile.mkdtemp(prefix="orc_rt_") + "/cust_orc"
    c = _t(spark, sf_dir, "customer")
    (
        c.select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite")
        .partitionBy("c_mktsegment")
        .orc(path)
    )
    back = spark.read.orc(path).filter(F.col("c_mktsegment") == "BUILDING")
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", "total_bal")
    )


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


def q_prefix_jaccard(spark, sf_dir):
    """PPJoin-style prefix-filtered set-similarity self-join
    (dedup.prefix_filter_jaccard_pairs) at Jaccard ≥ 0.8 over the
    documents' word sets: candidates share a token within each other's
    rarest-token prefix (provably lossless; brute-force parity
    unit-tested), then exact integer set verification.  The adaptive
    alternative to bucket-blocked Jaccard — prefix tokens are each
    doc's rarest, so fan-out stays bounded even under a shared head
    vocabulary.  Runs over a deterministic 30% hash sample: the synthetic
    corpus is built of ~250-doc vocabulary-sharing clusters, so the
    TRUE pair set is quadratic in cluster size (3M pairs at sf0.1) —
    sampling bounds the demo's pair volume ~9x while the lossless
    parity of the filter itself stays brute-force unit-tested."""
    from gdp_etl_spark.operators.dedup import prefix_filter_jaccard_pairs
    from gdp_etl_spark.operators.sampling import hash_sample

    d = hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 0.3, seed="pj")
    return prefix_filter_jaccard_pairs(d, "text", "doc_id", threshold=0.8)


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


def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read: two parquet batches written with DRIFTED
    schemas (batch 2 adds a column) land in one directory;
    ``mergeSchema`` reconciles them into a single frame with NULLs for
    the pre-drift rows — the ingestion posture for any long-lived feed
    (a fixed schema read would silently drop the new column; schema
    inference would cost an extra full pass at scale).  Fixture
    written to tmp inside the query; oracle is inline VALUES."""
    import os
    import shutil
    import tempfile

    # fresh dir per invocation: a fixed shared path would race a
    # concurrent bench/pytest process between its rmtree and the lazy
    # read's file listing
    base = tempfile.mkdtemp(prefix="gdp_etl_spark_evo_")
    shutil.rmtree(base, ignore_errors=True)
    local_df(
        spark,
        [(1, 10.0), (2, 20.0)], "id long, v double"
    ).coalesce(1).write.parquet(os.path.join(base, "b=1"))
    local_df(
        spark,
        [(3, 30.0, "x"), (4, 40.0, "y")], "id long, v double, tag string"
    ).coalesce(1).write.parquet(os.path.join(base, "b=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "*")
    )
    return merged.select("id", "v", "tag").orderBy("id")


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


def q_benford(spark, sf_dir):
    """Benford first-digit screen (profile.benford_digits) over order
    totals: observed leading-digit shares vs log10(1+1/d) with χ²
    contributions.  Digit extraction rides the exact integer-cents
    string path (no log10 bucketing on doubles), and the Benford
    expectations are baked as identical double literals into BOTH
    engines, so the whole 9-row result is bit-exact."""
    from gdp_etl_spark.operators.profile import benford_digits

    return benford_digits(_t(spark, sf_dir, "orders"), "o_totalprice")


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


def q_python_datasource(spark, sf_dir):
    """Custom Python DataSource (sources_pyds.TickFeedDataSource, the
    Spark 4 ``pyspark.sql.datasource`` API): a partition-parallel
    synthetic tick feed read through the planner like any file source
    (8 declared splits, executor-side iterators), aggregated per
    symbol.  The feed is a pure function of the row index, so the
    oracle regenerates every row from ``generate_series`` — end-to-end
    value equality, not a smoke check."""
    from gdp_etl_spark.sources_pyds import TickFeedDataSource

    spark.dataSource.register(TickFeedDataSource)
    df = (
        spark.read.format("tick_feed")
        .option("rows", 10000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        dsum("price", "price_sum"),
        F.sum(F.when(F.col("side") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_buys"),
    )


def q_sample_per_group(spark, sf_dir):
    """Balanced stratified downsampling (sampling.sample_per_group):
    exactly min(5, |group|) documents per (lang, source) stratum,
    drawn by content-hash rank so the draw is deterministic across
    runs/engines and uncorrelated with ingestion order — the per-group
    -quota complement to rate sampling.  One window shuffle."""
    from gdp_etl_spark.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sample_per_group(d, ["lang", "source"], "doc_id", 5)


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


def q_lm_score(spark, sf_dir):
    """CCNet-style corpus-LM quality scoring (text.trigram_lm_scores):
    an add-one-smoothed character-trigram model is fit on the corpus
    itself (top-4096 trigrams), then every document scores its mean
    trigram log-probability — the standard perplexity cut for
    filtering encoding garbage / wrong-language text.  Each distinct
    trigram's log-prob quantizes once to a bigint (floor(ln·1e9)), so
    per-doc sums are exact integer adds: bit-identical across runs and
    engines, full-hash oracle."""
    from gdp_etl_spark.functions.text import trigram_lm_scores

    docs = _t(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0
    )
    return trigram_lm_scores(docs, "text", "doc_id", vocab=4096)


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


def q_binary_header(spark, sf_dir):
    """Binary-column metadata extraction with ZERO Python: synthesize a
    RIFF-style 12-byte header + text payload per document, then parse
    magic / LE-u32 size / LE-u16 fields back out via hex slicing inside
    whole-stage codegen (multimodal.parse_fixed_header)."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.multimodal import le_hex, parse_fixed_header

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_tok"),
        F.col("text"),
    )
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),                       # 'RIFF'
            le_hex(F.col("n_tok"), 4),               # u32-LE size
            le_hex(F.lit(2), 2),                     # u16-LE channels
            le_hex(F.lit(62), 2),                    # u16-LE rate/256
            F.lower(F.hex(F.encode(F.col("text"), "UTF-8"))),
        )
    )
    return parse_fixed_header(
        d.select("doc_id", payload.alias("payload")), "payload", "doc_id"
    )


def q_table_checksum(spark, sf_dir):
    """Orderless table checksum over orders — md5-prefix 60-bit ints
    summed exactly; partitioning-independent, engine-portable, one
    map-side-combined scan."""
    from gdp_etl_spark.operators.profile import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


# ===========================================================================
# registry
# ===========================================================================

# ===========================================================================
# golden replay queries — the reference's REAL inputs and published outputs
# ===========================================================================

def q_golden_rollup(spark, sf_dir):
    """REAL-DATA golden parity (J7+J8+A1+A2+C1): recompute all 8,052
    published GROUP rows of the reference's ``output/gdp_update.csv``
    from its published INDIVIDUAL rows + the real 2,194-edge
    ``Dim_Countries_Hierarchy_All.csv``, via the reference-exact
    hierarchy expansion (operators.hierarchy, ``gpd_etl_pipeline.R:
    347-413``).  The oracle reads the published group rows straight
    from the golden file — a hash match is bit-exact reproduction of
    the reference's real deliverable (integer-valued doubles ≪ 2^53
    re-sum exactly in any order).  ``sf_dir`` is unused: the input IS
    the reference's own data."""
    from gdp_etl_spark.plans.golden import golden_group_rollup

    return golden_group_rollup(spark)


def q_golden_release_diff(spark, sf_dir):
    """REAL-DATA golden parity (§3.2: S1+J5+J6+R2+C1): re-run the full
    release-comparison chain (``gdp_compare_with_old_data.R:20-51``) on
    the reference's real old release + label dim + published update;
    the oracle reads the published ``output/gdp_comparison.csv``.  The
    (2024, current-prices) slice is excluded on BOTH sides: there the
    reference's own two artifacts disagree with each other (the golden
    comparison predates the published update's CPI-deflator 2024
    estimates — 64 rows, dissected in tests/test_golden_reference.py);
    everything else (32,612 rows) must match row-for-row."""
    from gdp_etl_spark.plans.golden import golden_comparison

    skew = (F.col("Year") == 2024) & (
        F.col("Variable") == "GDP_at_current_prices"
    )
    return golden_comparison(spark).filter(~skew)


def q_golden_usis_export(spark, sf_dir):
    """REAL-DATA golden parity (S7+C3+C6+F5): apply the 15-column USIS
    export layout (plans.gdp.export_usis_layout,
    ``gpd_etl_pipeline.R:525-558``) to the published update with the
    reference's run date injected; the oracle reads the published
    ``output/gdp_update_usis.csv``.  All 22,046 rows, all 15 columns
    including the formatted RefDate."""
    from gdp_etl_spark.plans.gdp import export_usis_layout
    from gdp_etl_spark.plans.golden import load_gdp_update

    return export_usis_layout(load_gdp_update(spark), run_date="2025-08-29")


def q_golden_comments(spark, sf_dir):
    """REAL-DATA golden parity (C1×8, bilingual): strip the published
    ``CommentEN``/``CommentFR`` from ``output/gdp_update.csv`` and
    re-derive both columns from (Economy_Code, Year) alone via the 8
    successor-economy provenance rules (plans.gdp.add_comments,
    ``gpd_etl_pipeline.R:415-518``); the oracle reads the published
    file verbatim.  A hash match is bit-exact reproduction of the last
    recomputable slice of the real deliverable — all 30,098 rows, all
    7 columns, both languages."""
    from gdp_etl_spark.plans.golden import golden_comments

    return golden_comments(spark)


def q_quality_gate(spark, sf_dir):
    """Per-source quality percentile gate (profile.
    per_group_quantile_filter — the RefinedWeb/CCNet per-DOMAIN
    filter): keep each source's documents at or above its OWN p25
    quality score, so low-scoring domains are trimmed, not deleted
    (a global cutoff would drop whole sources wholesale).  ONE
    bounded groupBy (one row per source) + broadcast threshold join;
    the p25 position is integer at every tested SF, so the exact
    interpolated percentile is engine-portable bit-for-bit."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.profile import per_group_quantile_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    return per_group_quantile_filter(
        docs, "source", "quality", 0.25, keep="above"
    ).select("doc_id", "source", "quality", "threshold")


def q_contamination_frac(spark, sf_dir):
    """Benchmark overlap FRACTION per document (decontam.
    contamination_overlap_fraction — the GPT-3/PaLM dirty-document
    criterion): share of each doc's distinct 8-token shingles found in
    the benchmark (every 50th doc), dirty at >= 0.5 in integer millis.
    The benchmark's distinct shingle hashes BROADCAST; the doc side is
    one explode + distinct + ONE groupBy — bodies never shuffle, cost
    flat in corpus count (the fraction sibling of `decontaminate`)."""
    from gdp_etl_spark.operators.decontam import contamination_overlap_fraction

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return contamination_overlap_fraction(
        docs, bench, "text", "doc_id", shingle_k=8, frac_threshold=0.5
    ).select("doc_id", "n_shingles", "n_overlap", "overlap_frac", "is_dirty")


def q_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (text.lm_perplexity_buckets): each
    LANGUAGE gets equal-size perplexity terciles over the corpus-LM
    score, so per-language distributions define quality (a global cut
    would tail-flag low-resource languages wholesale).  ntile's
    even-split definition is engine-shared, so buckets replay exactly
    in the oracle — no interpolated-threshold parity risk.  One
    vocabulary-bounded LM fit (flat at 10x, SCALE.md); the split is
    the distributed grouped_ntile (range partitions + prefix-sum
    rank), NOT a language-keyed window — bit-identical results, no
    dominant-language straggler."""
    from gdp_etl_spark.functions.text import lm_perplexity_buckets

    docs = _t(spark, sf_dir, "documents").filter(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0
    )
    return lm_perplexity_buckets(
        docs, "text", "doc_id", "lang", n_buckets=3, vocab=4096,
    )


def q_minhash_index(spark, sf_dir):
    """Materialized NEAR-dup index (dedup.write_minhash_index +
    near_dup_against_index — the MinHash-LSH sibling of index_dedup):
    the %4==0 quarter of the documents table is persisted ONCE as two
    bucketed tables (band memberships + shingle-hash sets); today's
    batch (the %4==2 quarter plus a lightly-edited mirror of every
    %20==0 corpus doc) is then screened bucket-in-place — banded candidates
    against the band table, exact-Jaccard verification against the
    sets table, neither with an index-side shuffle (plan-pinned).
    Threshold 0.8 with 8 bands x 2 rows: the suffix-edited mirrors sit
    far above the threshold (fixture pairs measured J ≥ 0.875, bound
    ≤ 8.9e-6 per pair) and the fixed hash family makes the outcome
    per-fixture deterministic, so the exact brute-force oracle is
    exhaustive on this data (see minhash_lsh for the honest
    at-threshold math)."""
    import shutil

    from gdp_etl_spark.operators.dedup import (
        near_dup_against_index,
        write_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    table = "minhash_band_index"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    write_minhash_index(
        corpus, "text", "doc_id", table, num_perm=16, bands=8, n_buckets=8
    )
    mirror = docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0).select(
        (F.col("doc_id") + F.lit(10000)).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" slightly changed mirror")).alias(
            "text"
        ),
    )
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 2).unionByName(
        mirror
    )
    return near_dup_against_index(
        spark, batch, "text", "doc_id", table,
        num_perm=16, bands=8, jaccard_threshold=0.8,
    )


def q_temperature_mix(spark, sf_dir):
    """Temperature-based domain mixing (sampling.temperature_mix — the
    mBERT/XLM-R p ∝ f^α sampler): per-source token availability raised
    to α=0.5 defines each source's share of a 20k-token budget
    (≈40% of the sf0.01 corpus, so rates genuinely bite);
    deterministic ppm-quantized md5 keep rates reproduce bit-for-bit
    in the oracle (the one double step, pow(f, 0.5), is sqrt — exact
    in IEEE-754 on both engines).  One bounded per-domain aggregate +
    broadcast join back; the corpus never shuffles."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        token_count_ws(F.col("text")).alias("n_tokens"),
    )
    return temperature_mix(
        docs, "doc_id", "source", "n_tokens",
        budget=20_000, alpha=0.5, seed="temp",
    ).select("doc_id", "source", "n_tokens", "rate_ppm")


def q_curation_audit(spark, sf_dir):
    """Curation provenance audit (plans.corpus.curation_audit): for
    EVERY document, the first curate_corpus stage that removed it —
    quality → repetition → decontaminated → exact_dup → near_dup →
    kept — the table that explains corpus shrinkage and keeps drop
    rules tunable against evidence.  Same predicates, same admission
    order, and same plan shapes as the curate DAG it audits (map-work
    flags, one broadcast shingle semi-join, one md5 window, banded LSH
    on final survivors only), plus a union of bounded removed-id
    frames joined back."""
    from gdp_etl_spark.plans.corpus import curation_audit

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        .select("doc_id", "text")
    )
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return curation_audit(docs, bench)


def q_embedding_gram(spark, sf_dir):
    """Distributed covariance of the embedding store (similarity.
    embedding_gram — the one-pass aggregation behind PCA/whitening/
    subspace drift): per-partition int64 Gram matrices via ONE numpy
    matmul inside mapInPandas (never a dim²-per-row explode), one tiny
    positional agg, fixed-order double covariance from exact integers.
    Bit-stable across partitionings; the oracle replays the quantized
    outer-product sums exactly.  Shuffle = partitions · dim² rows."""
    from gdp_etl_spark.operators.similarity import embedding_gram

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_gram(emb, "embedding", dim=64, center=True)


def q_chunk_embed_pool(spark, sf_dir):
    """The composed RAG-indexing DAG end-to-end: sliding-window chunking
    (packing.chunk_documents, map-only, zero shuffle) → per-chunk
    DETERMINISTIC hash embedding (md5-projection: ONE md5 per chunk,
    component k = (hex window [3k+1, 3k+8] of md5(chunk) mod 2001 −
    1000)/1000 — a stand-in for the model call that keeps the whole
    pipeline engine-replayable, same plumbing: one embedding per
    chunk, dim 8; the single-digest form is 8× less hashing than a
    per-component md5(chunk:k) at identical coverage) → fixed-point mean-pool
    back to one document vector (similarity.mean_pool_embeddings, one
    packed-Arrow group shuffle).  The oracle replays chunking,
    projection and pooling exactly; centroids serialize to fixed-point
    CSV (canonicalizer-safe).  At 100 TB: the only shuffle in the DAG
    is the pool's group exchange — chunking and embedding inherit the
    scan partitioning."""
    from gdp_etl_spark.operators.packing import chunk_documents
    from gdp_etl_spark.operators.similarity import mean_pool_embeddings

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        .select("doc_id", "text")
    )
    chunks = chunk_documents(docs, "text", "doc_id", size=32, stride=16)
    # ONE md5 per chunk, for real: a separate projection is NOT enough
    # (CollapseProject re-inlines the digest into the 8-component
    # lambda, re-hashing per component — verified on the optimized
    # plan); binding the digest to a LAMBDA VARIABLE via a 1-element
    # transform is a collapse-proof evaluation point, the same trick
    # as cdc_window_dedup's arrays_zip
    emb = chunks.select(
        "doc_id",
        F.transform(
            F.array(F.md5(F.col("chunk_text"))),
            lambda h: F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda k: (
                    F.conv(
                        h.substr(k * F.lit(3) + F.lit(1), F.lit(8)),
                        16, 10,
                    ).cast("bigint") % 2001 - 1000
                ).cast("double") / F.lit(1000.0),
            ),
        )[0].alias("embedding"),
    )
    pooled = mean_pool_embeddings(emb, "doc_id", "embedding")
    return pooled.select(
        "doc_id",
        "n_vecs",
        F.concat_ws(
            ",",
            F.transform(
                "centroid",
                lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
            ),
        ).alias("centroid_csv"),
    )


def q_phash_dedup(spark, sf_dir):
    """Image near-duplicate detection (multimodal.perceptual_hash +
    dedup.hamming_pairs): 64-bit block-mean perceptual hashes (aHash —
    bit i set iff pixel i·64 > Σpixels, pure integer, no float
    boundary) over binary payloads, paired by the same 4×16-bit
    pigeonhole used for SimHash.  The batch re-ingests a copy of every
    %10 payload (the re-uploaded-image shape): copies surface at
    hamming 0, unrelated payloads never pair (random 64-bit signatures
    sit at hamming ≈ 32).  The fake decoder's md5-pixel recipe replays
    bit-for-bit in the oracle; the real Pillow path shares every stage
    after the decode."""
    from gdp_etl_spark.operators.multimodal import (
        attach_payload,
        image_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.unionByName(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
            (F.col("doc_id") + F.lit(10000)).cast("long").alias("doc_id"),
            "text",
        )
    )
    p = attach_payload(batch, "text")
    return image_near_dup_pairs(p, "payload", "doc_id", max_hamming=3)


def q_corpus_diff(spark, sf_dir):
    """Corpus release diff (operators.diff reused outside the GDP
    domain): two corpus snapshots compared by doc_id on a rolling
    content hash — added (new ingests), missing (retired docs),
    changed (edited text), unchanged — the release-management audit a
    training-corpus pipeline publishes with every snapshot.  The old
    snapshot is the documents table with every %7 doc absent (added
    in the new release), every %5 text suffix-edited (changed), and 46
    retired extra docs (missing).  J6 full-outer diff + C2
    classification on the hash delta; one co-partitioned join, hashes
    not bodies."""
    from gdp_etl_spark.functions.text import rolling_content_hash
    from gdp_etl_spark.operators.diff import classify_diff, full_outer_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.select(
        "doc_id", rolling_content_hash(F.col("text")).alias("chash")
    )
    old_text = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(F.col("text"), F.lit(" OLD")),
    ).otherwise(F.col("text"))
    old = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0)
        .select("doc_id", old_text.alias("text"))
        .unionByName(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(11)) == 0).select(
                (F.col("doc_id") + F.lit(50000)).cast("long").alias("doc_id"),
                "text",
            )
        )
        .select("doc_id", rolling_content_hash(F.col("text")).alias("chash"))
    )
    d = full_outer_diff(new, old, ["doc_id"], "chash")
    return classify_diff(d, "chash", tol=0).select(
        "doc_id", "chash_new", "chash_old", "status"
    )


def q_source_terciles(spark, sf_dir):
    """Per-SOURCE quality terciles via the distributed per-group ntile
    (ids.grouped_ntile — the de-skewed form of
    ntile(3) OVER (PARTITION BY source ORDER BY ...)): quality_score
    orders each source's docs, rank stitches from range-partition
    prefix sums, bucket by ntile's exact even-split rule.
    Bit-identical to the windowed ntile the oracle replays, with no
    per-source window partition — a source at half the corpus would
    otherwise pin one unsplittable task.  Second driver-checked context
    for grouped_ntile beyond lm_buckets (different group key, different
    ordering metric), and the fixture NULLs every %7==0 source so the
    NULL-group branch (one partition, null-safe joins — rows must
    never drop) is oracle-exercised."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.ids import grouped_ntile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # every %7==0 doc gets a NULL source: PARTITION BY treats NULL
        # as ONE group, and the prefix-sum formulation must keep (and
        # bucket) those rows identically — the silent-drop regression
        # the null-safe joins exist to prevent
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.lit(None).cast("string"),
        ).otherwise(F.col("source")).alias("source"),
        F.floor(quality_score(F.col("text")) * F.lit(1e9))
        .cast("long")
        .alias("q9"),
    )
    return grouped_ntile(
        docs, ["source"], [F.col("q9").desc(), F.col("doc_id").asc()], 3
    )


def q_hamming_d4(spark, sf_dir):
    """Pigeonhole Hamming pairing ABOVE the old fixed-split limit
    (dedup.hamming_pairs, max_hamming=4 → 5 derived chunks): 60-bit
    md5-derived signatures per resource group; odd ids carry the same
    signature XOR four spread bits (0/16/32/48) — exactly the pairs a
    4×16-bit split can never emit, because every 16-bit chunk differs.
    Same-parity same-group pairs land at hamming 0, cross-parity at
    hamming 4; the oracle is the exact all-pairs bit_count(xor)
    filter, so both the recall fix and the verify stage are
    driver-checked end-to-end."""
    from gdp_etl_spark.operators.dedup import hamming_pairs

    base = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("g"),
                    F.pmod(F.col("doc_id"), F.lit(25)).cast("string"),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    sig = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 1,
            base.bitwiseXOR(F.lit(281479271743489)),
        )
        .otherwise(base)
        .alias("sig"),
    )
    return hamming_pairs(sig, "sig", "doc_id", max_hamming=4)


def q_html_strip(spark, sf_dir):
    """WET-style markup extraction (text.strip_markup): every document
    is wrapped in synthetic crawl HTML (head/style, a script whose body
    must NEVER leak, heading, entity-laden paragraph, comment) and the
    extractor recovers the prose — script/style drop with content,
    tags become word boundaries, the five core entities plus &nbsp;
    decode with &amp; last.  All patterns are RE2-compatible (no
    backreferences), so the oracle replays the chain
    operator-for-operator.  Map-only, zero shuffle."""
    from gdp_etl_spark.functions.text import strip_markup
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><style>p{c:red}</style></head><body>'),
        F.lit('<script>var id="'),
        F.col("doc_id").cast("string"),
        F.lit('";</script><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="main">'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" &amp; more&nbsp;&#39;end&#39;</p><!-- crawl "),
        F.col("doc_id").cast("string"),
        F.lit(" --></body></html>"),
    )
    # adversarial rows (negative ids, mirrored verbatim in the oracle),
    # one per documented edge: nested + unclosed block tags; an &amp;
    # chain that must STOP at one decode level (&amp;lt; -> &lt;, never
    # <; &amp;amp; -> &amp; — replace is single-pass); a '>' inside an
    # attribute value (the tag regex closes at the FIRST '>', tail
    # leaks as text — pinned, identical in both engines); mixed-case
    # script/style (the (?is) flags); a comment spanning newlines
    adversarial = local_df(
        spark,
        [
            (-1, "<div><p>nested <b>tags</b><p>unclosed</div> tail"),
            (-2, "chain &amp;lt;b&amp;gt; stays; &amp;amp; once"),
            (-3, '<a title="a>b">attr-gt</a> <P CLASS=x>case</P>'),
            (-4, '<SCRIPT type="t">var s=1;</SCRIPT><STYLE>q{}</STYLE>kept'),
            (-5, "before<!-- multi\nline\ncomment -->after"),
        ],
        "doc_id bigint, html string",
    )
    return (
        d.select("doc_id", html.alias("html"))
        .unionByName(adversarial)
        .select("doc_id", strip_markup(F.col("html")).alias("clean_text"))
    )


def q_line_dedup_doc(spark, sf_dir):
    """Within-document repeated-line removal (text.dedup_lines_in_doc,
    the RefinedWeb per-doc rule — complementary to the cross-document
    boilerplate_lines): each doc is rebuilt as banner/text/separator/
    banner/text, and the dedup keeps the first banner and first text
    while the single-char separator (formatting) always survives.
    Pure indexed-HOF expression: map-only, zero shuffle, O(lines²)
    bounded per document."""
    from gdp_etl_spark.functions.text import dedup_lines_in_doc
    from gdp_etl_spark.session import local_df

    # the source column is renamed AWAY from the output alias before
    # the dedup expressions are built: with both named "text", Spark
    # 4's lateral-column-alias resolution binds references INSIDE a
    # higher-order-function lambda to the earlier output alias while
    # the same expression OUTSIDE the lambda binds to the input column
    # (input precedence) — the prefix test then walks the wrong lines
    # array.  Found by this query's pipe variant; pinned by
    # tests/test_text_dedup.py::test_lateral_alias_lambda_isolation.
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("raw")
    )
    body = F.coalesce(F.col("raw"), F.lit(""))
    multi = F.concat_ws(
        "\n",
        F.lit("== SITE BANNER =="), body, F.lit("-"),
        F.lit("== SITE BANNER =="), body,
    )
    # same document rebuilt with '|' as the line separator: '|' is a
    # regex metachar, so an unescaped F.split would split between
    # EVERY character while the rejoin stayed literal — this column
    # pins the escape (the oracle's string_split is literal-only)
    multi_pipe = F.concat_ws(
        "|",
        F.lit("== SITE BANNER =="), body, F.lit("-"),
        F.lit("== SITE BANNER =="), body,
    )
    # adversarial rows (negative ids, mirrored in the oracle): lines
    # whose CONTENT is regex metachars (dedup compares by equality,
    # never by pattern — 'a.b' must not absorb 'axb'), and an embedded
    # repeated line inside the body itself
    adversarial = local_df(
        spark,
        [
            (-1, "a.b\naxb\na.b\n[x]+\n[x]+"),
            (-2, "dup line\ndup line\nunique\ndup line"),
        ],
        "doc_id bigint, raw string",
    )
    return d.unionByName(adversarial).select(
        "doc_id",
        dedup_lines_in_doc(multi).alias("text"),
        dedup_lines_in_doc(multi_pipe, sep="|").alias("text_pipe"),
    )


def q_cdc_dedup(spark, sf_dir):
    """Content-defined-chunking exact-substring dedup
    (dedup.cdc_window_dedup — the alignment-robust complement to
    substring_dedup): the corpus is unioned with a SHIFTED mirror of
    every %5==0 doc (three tokens prepended), the shape fixed windows
    structurally miss; chunk boundaries depend on token content alone
    (md5 low bits), so the mirror's interior chunks are identical to
    the original's and dedup despite the offset.  Chunking is pure
    map-side HOF work; then the family's shared skew-safe
    first-occurrence aggregation."""
    from gdp_etl_spark.operators.dedup import cdc_window_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        (F.col("doc_id") + F.lit(100000)).cast("long").alias("doc_id"),
        F.concat(F.lit("shifted mirror prefix "), F.coalesce(
            F.col("text"), F.lit("")
        )).alias("text"),
    )
    return cdc_window_dedup(
        docs.unionByName(shifted), "text", "doc_id", boundary_bits=4
    )


def q_cluster_split(spark, sf_dir):
    """Cluster-aware leak-free split (sampling.cluster_safe_split):
    near-dup chains of three (doc, doc+1, doc+2 for every %10==0 doc)
    must land in ONE split — the split key is the cluster's canonical
    (minimum reachable) id, so near-identical documents can never
    straddle train/test (memorization read as generalization).  The
    oracle derives cluster ids from FIRST PRINCIPLES of the chain
    construction and replays hash_split's md5-bucket rule on them."""
    from gdp_etl_spark.operators.sampling import cluster_safe_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    roots = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    pairs = roots.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    ).unionByName(
        roots.select(
            (F.col("doc_id") + 1).alias("id_a"),
            (F.col("doc_id") + 2).alias("id_b"),
        )
    )
    return cluster_safe_split(docs, pairs, "doc_id").select(
        "doc_id", "cluster_id", "split"
    )


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


def q_link_graph(spark, sf_dir):
    """WAT-style link-graph extraction (text.extract_links +
    text.url_host — the link-side complement of strip_markup's WET
    text): every doc is wrapped in crawl HTML carrying an absolute
    https link (mixed-case host, www + default-port noise), a
    single-quoted scheme-relative CDN link, and a relative link; hosts
    aggregate to (n_links, n_docs, min_doc).  The relative link
    resolves to NULL host and drops — intra-site edges are the
    caller's choice.  Extraction and host parsing are one
    RE2-compatible pattern each (engine-replayable), map-only; the
    single shuffle is the host rollup."""
    from gdp_etl_spark.functions.text import extract_links, url_host

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<p>Doc</p><a href="https://WWW.Site'),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit(".example.com:443/p/"),
        F.col("doc_id").cast("string"),
        F.lit('">x</a> <a class=l href=\'//cdn'),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.lit(".example.net/asset'>y</a> <a href=\"/rel/"),
        F.col("doc_id").cast("string"),
        F.lit('">z</a> <a href="https://crawler@WWW.Site'),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit('.example.com/u">u</a> <a href=\'http://[2001:db8::'),
        F.pmod(F.col("doc_id"), F.lit(2)).cast("string"),
        F.lit("]:8080/v'>v</a>"),
    )
    links = d.select(
        "doc_id", F.explode(extract_links(html)).alias("link")
    ).select("doc_id", url_host(F.col("link")).alias("host"))
    return links.filter(F.col("host").isNotNull()).groupBy("host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    )


def q_grouped_topk(spark, sf_dir):
    """Exact grouped top-k at skew (skew.grouped_topk): top-5 orders
    by total price per order priority.  Deliberately the plain
    row_number window — Catalyst's rank-limit pushdown (SPARK-37099)
    inserts a PARTIAL WindowGroupLimit that prunes to ≤k rows per
    (key, input partition) MAP-SIDE, so a hot key ships k rows per
    split instead of its whole group (plan-pinned; two hand-rolled
    "skew-proof" alternatives measured slower — see
    tools/probe_grouped_topk.py and SCALE.md).  Oracle = the same
    window in SQL."""
    from gdp_etl_spark.operators.skew import grouped_topk

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return grouped_topk(
        o, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5
    )


def _kmeans_cells_parts(dim=64, k_cells=8, seed="ivf", n_iter=2,
                        train_where=None, final_select=None):
    """Shared CTE chain: quantize → hash-seeded init → n_iter
    fixed-point Lloyd's rounds → final-cell assignment of ALL rows
    (``enc(vec_id, cell)``).  Used by the IVF oracles and the
    SemDeDup oracle; ``train_where`` restricts the TRAINING set only
    (the ann_index write/append split) — seeding and Lloyd passes run
    over the filtered rows, assignment over everything.
    ``final_select`` (the churn split): a SELECT producing the FINAL
    logical corpus as ``(vec_id, q)`` — when given, it is exposed as
    CTE ``qf`` and the final assignment runs over it instead of
    ``qq``, while training still reads the ORIGINAL rows (stored
    centroids never retrain under upserts/deletes)."""
    rng = f"range(1, {dim + 1})"

    def d2(va, vb):
        return (f"CAST(list_sum(list_transform({rng}, "
                f"i -> ({va}.q[i] - {vb}.c[i]) * ({va}.q[i] - {vb}.c[i])))"
                f" AS BIGINT)")

    parts = [f"""qq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0)
                         AS BIGINT)) AS q,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                                      || ':{seed}'), 1, 8)) AS BIGINT) AS h
      FROM embeddings WHERE embedding IS NOT NULL
    )"""]
    tr = "qq"
    if train_where:
        tr = "tr"
        parts.append(f"""tr AS (
      SELECT * FROM qq WHERE {train_where}
    )""")
    assign_src = "qq"
    if final_select:
        assign_src = "qf"
        parts.append(f"""qf AS (
      {final_select}
    )""")
    parts.append(f"""c0 AS (
      SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, q AS c
      FROM {tr} QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {k_cells}
    )""")
    prev = "c0"
    for it in range(1, n_iter + 1):
        parts.append(f"""d{it} AS (
      SELECT v.vec_id, v.q, c.cluster, {d2('v', 'c')} AS d2
      FROM {tr} v CROSS JOIN {prev} c
    )""")
        parts.append(f"""a{it} AS (
      SELECT vec_id, q, cluster FROM d{it}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
        parts.append(f"""u{it} AS (
      SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS sm, COUNT(*) AS n
      FROM a{it} a, (SELECT unnest({rng}) AS i) t
      GROUP BY a.cluster, t.i
    )""")
        parts.append(f"""c{it} AS (
      SELECT {prev}.cluster, COALESCE(upd.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cluster, list(CAST(sm // n AS BIGINT) ORDER BY dim) AS c
        FROM u{it} GROUP BY cluster
      ) upd USING (cluster)
    )""")
        prev = f"c{it}"
    parts.append(f"""enc AS (
      SELECT vec_id, cluster AS cell FROM (
        SELECT v.vec_id, c.cluster, {d2('v', 'c')} AS d2
        FROM {assign_src} v CROSS JOIN {prev} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
    return parts, d2


def _ivf_sql(dim=64, k_cells=8, nprobe=3, queries=(0, 1, 2, 3, 4), k=10,
             seed="ivf", n_iter=2, train_where=None, final_select=None):
    """DuckDB replay of similarity.ivf_topk_fixed: ONE full-dimension
    fixed-point Lloyd's chain (the _pq_sql per-subspace machinery with
    a single subspace = the whole vector), corpus cell assignment,
    per-query nprobe cell selection by the same integer distances, and
    exact fixed-point scoring of the probed cells — the IVF result
    hash-matches, upgrading ivf_topk from its old rows-only status.
    ``final_select`` (the ann_index churn replay): assignment, query
    vectors and scoring all read the FINAL logical corpus ``qf``;
    training stays on the original rows per ``train_where``."""
    rng = f"range(1, {dim + 1})"
    qlist = ", ".join(str(q) for q in queries)
    parts, d2 = _kmeans_cells_parts(
        dim=dim, k_cells=k_cells, seed=seed, n_iter=n_iter,
        train_where=train_where, final_select=final_select,
    )
    src = "qf" if final_select else "qq"
    prev = f"c{n_iter}" if n_iter >= 1 else "c0"
    parts.append(f"""probe AS (
      SELECT query_id, cell FROM (
        SELECT quer.vec_id AS query_id, cc.cluster AS cell,
               {d2('quer', 'cc')} AS d2
        FROM {src} quer CROSS JOIN {prev} cc
        WHERE quer.vec_id IN ({qlist}))
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY d2, cell) <= {nprobe}
    )""")
    parts.append(f"""scores AS (
      SELECT p.query_id, e.vec_id AS neighbour_id,
             CAST(list_sum(list_transform({rng},
               i -> (vq.q[i] - vn.q[i]) * (vq.q[i] - vn.q[i])))
               AS BIGINT) AS score_d2
      FROM probe p
      JOIN enc e ON e.cell = p.cell
      JOIN {src} vq ON vq.vec_id = p.query_id
      JOIN {src} vn ON vn.vec_id = e.vec_id
      WHERE e.vec_id <> p.query_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, neighbour_id, score_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score_d2, neighbour_id) AS INT) AS rank
    FROM scores
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY score_d2, neighbour_id) <= {k}
    """)


def _pq_sql(m=4, sub=16, k_codes=16, queries=(0, 1, 2), k=10, seed="pq",
            rerank=0, train_where=None, final_select=None):
    """DuckDB replay of similarity.pq_topk: per-subspace fixed-point
    Lloyd's (the kmeans_assign oracle's CTE chain, generated instead of
    hand-unrolled), final-codebook encoding, exact-integer ADC scoring,
    and (rerank>0) the exact full-dimension re-rank of the ADC
    shortlist — the product-quantization result hash-matches, it is
    not a recall bound.  ``train_where`` restricts the TRAINING set
    only (the ann_index write/append split) — codebook seeding and
    Lloyd passes run over the filtered rows, encode/score over all.
    ``final_select`` (the churn replay): encode and query slices read
    the FINAL logical corpus ``qf``; training stays on the original
    rows."""
    if rerank and final_select:
        raise ValueError("_pq_sql: rerank re-reads qq; not wired for "
                         "final_select — churn replays use rerank=0")
    rng = f"range(1, {sub + 1})"
    qlist = ", ".join(str(q) for q in queries)

    def d2(va, vb):
        return (f"CAST(list_sum(list_transform({rng}, "
                f"i -> ({va}.q[i] - {vb}.c[i]) * ({va}.q[i] - {vb}.c[i])))"
                f" AS BIGINT)")

    parts = [f"""qq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0)
                         AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL
    )"""]
    enc_src = "qs"
    if final_select:
        enc_src = "fs"
        parts.append(f"""qf AS (
      {final_select}
    )""")
    for s in range(m):
        lo = s * sub
        parts.append(f"""qs{s} AS (
      SELECT vec_id, q[{lo + 1}:{lo + sub}] AS q,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                                      || ':{seed}{s}'), 1, 8)) AS BIGINT) AS h
      FROM qq
    )""")
        if final_select:
            parts.append(f"""fs{s} AS (
      SELECT vec_id, q[{lo + 1}:{lo + sub}] AS q FROM qf
    )""")
        tr_s = f"qs{s}"
        if train_where:
            tr_s = f"ts{s}"
            parts.append(f"""ts{s} AS (
      SELECT * FROM qs{s} WHERE {train_where}
    )""")
        parts.append(f"""c0_{s} AS (
      SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, q AS c
      FROM {tr_s} QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {k_codes}
    )""")
        prev = f"c0_{s}"
        for it in (1, 2):
            parts.append(f"""d{it}_{s} AS (
      SELECT v.vec_id, v.q, c.cluster, {d2('v', 'c')} AS d2
      FROM {tr_s} v CROSS JOIN {prev} c
    )""")
            parts.append(f"""a{it}_{s} AS (
      SELECT vec_id, q, cluster FROM d{it}_{s}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
            parts.append(f"""u{it}_{s} AS (
      SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS sm, COUNT(*) AS n
      FROM a{it}_{s} a, (SELECT unnest({rng}) AS i) t
      GROUP BY a.cluster, t.i
    )""")
            parts.append(f"""c{it}_{s} AS (
      SELECT {prev}.cluster, COALESCE(upd.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cluster, list(CAST(sm // n AS BIGINT) ORDER BY dim) AS c
        FROM u{it}_{s} GROUP BY cluster
      ) upd USING (cluster)
    )""")
            prev = f"c{it}_{s}"
        parts.append(f"""enc{s} AS (
      SELECT vec_id, cluster AS code FROM (
        SELECT v.vec_id, c.cluster, {d2('v', 'c')} AS d2
        FROM {enc_src}{s} v CROSS JOIN {prev} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cluster) = 1
    )""")
        parts.append(f"""qd{s} AS (
      SELECT quer.vec_id AS query_id, cc.cluster AS code,
             {d2('quer', 'cc')} AS d2
      FROM {enc_src}{s} quer CROSS JOIN {prev} cc
      WHERE quer.vec_id IN ({qlist})
    )""")
    joins = "\n      ".join(
        f"JOIN enc{s} e{s} ON e{s}.vec_id = e0.vec_id" for s in range(1, m)
    )
    qd_joins = "\n      ".join(
        f"JOIN qd{s} ON qd{s}.code = e{s}.code"
        + ("" if s == 0 else f" AND qd{s}.query_id = qd0.query_id")
        for s in range(m)
    )
    total = " + ".join(f"qd{s}.d2" for s in range(m))
    parts.append(f"""scores AS (
      SELECT qd0.query_id, e0.vec_id AS neighbour_id, {total} AS approx_d2
      FROM enc0 e0
      {joins}
      {qd_joins}
    )""")
    if not rerank:
        return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, neighbour_id,
           CAST(approx_d2 AS BIGINT) AS score_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY approx_d2, neighbour_id) AS INT) AS rank
    FROM scores WHERE neighbour_id <> query_id
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY approx_d2, neighbour_id) <= {k}
    """)
    rng_full = f"range(1, {m * sub + 1})"
    parts.append(f"""shortlist AS (
      SELECT query_id, neighbour_id FROM scores
      WHERE neighbour_id <> query_id
      QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY approx_d2, neighbour_id) <= {rerank}
    )""")
    parts.append(f"""exact_s AS (
      SELECT s.query_id, s.neighbour_id,
             CAST(list_sum(list_transform({rng_full},
               i -> (vq.q[i] - vn.q[i]) * (vq.q[i] - vn.q[i])))
               AS BIGINT) AS score_d2
      FROM shortlist s
      JOIN qq vq ON vq.vec_id = s.query_id
      JOIN qq vn ON vn.vec_id = s.neighbour_id
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, neighbour_id, score_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score_d2, neighbour_id) AS INT) AS rank
    FROM exact_s
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY score_d2, neighbour_id) <= {k}
    """)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-k (similarity.pq_topk — the third
    leg of the FAISS triad next to lsh_topk and ivf_topk): vectors
    compress to 4 codebook indices (4×16 codes ≈ 4 bytes/vector — the
    only index that fits a memory tier at 100 TB of embeddings);
    queries score against CODES via exact-integer ADC lookup tables.
    Codebooks train with the deterministic fixed-point Lloyd's
    (kmeans.train_kmeans_fixed) per 16-dim subspace, so the oracle
    replays training, encoding, AND scoring bit-exactly (generated CTE
    chain, _pq_sql) — hash equality, not a recall bound.  The ADC
    top-50 shortlist is re-ranked with the EXACT fixed-point distance
    (the FAISS recall repair; characterized in tests).  Encode and
    score are map-only; both top-k windows are WindowGroupLimit-pruned."""
    from gdp_etl_spark.operators.similarity import pq_topk

    return pq_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2], k=10,
        m=4, k_codes=16, n_iter=2, rerank=50,
    )


def q_stratified_split(spark, sf_dir):
    """EXACT-proportion stratified split (sampling.stratified_split):
    every language is hash-ordered and ntile-cut 8/1/1 into
    train/val/test — quotas are exact to ntile granularity WITHIN each
    stratum (hash_split's Bernoulli gates only hit them in
    expectation, which an eval set cannot accept).  The ntile is the
    de-skewed grouped_ntile (range partitions + prefix sums — ntile
    has no WindowGroupLimit rescue), bit-identical to the windowed
    form the oracle replays."""
    from gdp_etl_spark.operators.sampling import stratified_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_split(
        d, "doc_id", "lang", {"train": 8, "val": 1, "test": 1}
    )


def q_source_overlap(spark, sf_dir):
    """Pairwise corpus-slice overlap from per-slice MinHash signatures
    (sketches.source_minhash_overlap): "how much of source B is
    already in source A" without shuffling a single shingle — the
    slice signature is the elementwise min of its documents'
    signatures (map-side partial-min to |slices|×32 values), pairwise
    agreement estimates Jaccard.  The permutation hash is the portable
    md5 fold, so the oracle replays the ESTIMATE bit-exactly — unlike
    the HLL demo, this sketch is engine-replayable, not just
    error-bounded."""
    from gdp_etl_spark.operators.sketches import source_minhash_overlap

    return source_minhash_overlap(
        _t(spark, sf_dir, "documents"), "text", "source", num_perm=32
    )


def q_epoch_shuffle(spark, sf_dir):
    """Reproducible per-epoch corpus shuffle + sharding
    (sampling.epoch_shuffle): every epoch serves the same rows in a
    different but fully deterministic (engine-replayable md5) order —
    shard = hash(id:epoch) mod 8, position = rank of the hash within
    the shard.  Epochs 0 and 1 are unioned to pin that re-folding the
    epoch yields an independent permutation.  The only non-map work is
    the per-shard rank, whose partitions are hash-uniform and sized by
    the caller's shard count."""
    from gdp_etl_spark.operators.sampling import epoch_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        epoch_shuffle(d, "doc_id", epoch=0, n_shards=8)
        .unionByName(epoch_shuffle(d, "doc_id", epoch=1, n_shards=8))
        .select("doc_id", "shard", "position", "epoch")
    )


def q_pack_segments(spark, sf_dir):
    """GPT-style spanning sequence packing (packing.pack_segments —
    the global, de-skewed sibling of pack_sequences' per-shard
    first-token tagging): documents lay end to end in the reproducible
    md5-fold order and the token stream cuts into exact 128-token
    training sequences — one row per (doc, pack) SEGMENT with in-doc
    and in-pack offsets; docs span pack boundaries (zero padding
    waste), every pack but the last is exactly full.  The global
    token-offset cumsum is the two-pass prefix-sum (range partitions +
    broadcast offsets), never a single-partition global window; all
    arithmetic is pure integer on the portable hash order, so the
    oracle replays the layout with one window cumsum + range unnest."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import pack_segments

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_segments(d, "doc_id", "n_tokens", seq_len=128)


def q_train_batches(spark, sf_dir):
    """The SERVING path end to end — the trainer-side mirror of
    crawl_corpus' ingest-side composition: clean_corpus (quality gate,
    language routing, PII redaction, exact dedup) → hash_split train
    slice (leak-free, engine-replayable thresholds) → pack_segments
    over the CLEANED token counts (spanning 128-token training
    sequences in the reproducible md5-fold order).  One query proves
    corpus curation feeds batch materialization unchanged; the oracle
    composes the corpus_clean CTE fragments, the hash_split threshold
    rule and the pack cumsum+unnest replay — a regression in ANY stage
    breaks the hash.  Scale: each stage keeps its individually-probed
    shape (skew-safe dedup agg, map-only split, two-pass prefix-sum
    packing)."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import pack_segments
    from gdp_etl_spark.operators.sampling import hash_split
    from gdp_etl_spark.plans.corpus import clean_corpus

    d = _t(spark, sf_dir, "documents")
    cleaned = clean_corpus(d, min_quality=0.85, langs=("en",))
    train = hash_split(cleaned, "doc_id", seed="42").filter(
        F.col("split") == "train"
    )
    toks = train.select(
        "doc_id", token_count_ws(F.col("text_clean")).alias("n_tokens")
    )
    return pack_segments(toks, "doc_id", "n_tokens", seq_len=128)


def q_batch_screen(spark, sf_dir):
    """Within-batch near-dup admission screen (dedup.within_batch_screen
    — the third stage of streaming.ingest.run_near_dup_ingest, factored
    out as a pure batch operator): the batch = documents plus a
    suffix-edited mirror of every %6==0 doc (id+20000); mutual
    near-dups arriving in ONE batch are invisible to the corpus-index
    screens (neither is indexed yet), so the screen LSH-pairs the
    batch, clusters connected components, and admits only each
    cluster's canonical (minimum-id) member.  Oracle = exact all-pairs
    Jaccard + recursive reachability; admit iff doc_id = min reachable
    id.  Banding is 16 bands x 1 row: at the J=0.8 threshold itself,
    P[candidate miss] = (1-J)^16 <= 6.6e-12 per true pair — exhaustive
    recall AT the threshold, not just far above it (8x2 banding's bound
    at exactly J=0.8 is (1-J^2)^8 ~ 2.8e-4: a borderline fixture pair
    could flake the driver gate; single-row bands trade extra
    — exactly-verified — candidates for a sound bound)."""
    from gdp_etl_spark.operators.dedup import within_batch_screen

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mirror = docs.filter(F.pmod(F.col("doc_id"), F.lit(6)) == 0).select(
        (F.col("doc_id") + F.lit(20000)).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" slightly changed mirror")).alias(
            "text"
        ),
        F.col("lang"),
    )
    admitted = within_batch_screen(
        docs.unionByName(mirror), "text", "doc_id",
        num_perm=16, bands=16, jaccard_threshold=0.8,
    )
    return admitted.select("doc_id", "lang")


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


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer-vocabulary training
    (operators/bpe.py): word frequencies via ONE map-side-combined
    groupBy over the corpus (the only corpus-scale stage — its output
    is the vocabulary, bounded by language, not by corpus size), then
    10 merge rounds on the frequency table.  Under the
    ``driver_threshold`` the merge loop runs driver-side on the
    collected counts (the closure.py fast-path rule and the structure
    of every production trainer: distributed count, local train);
    above it each round is one vocab-bounded pair aggregate + a 1-row
    collect + one left-to-right fold pass — pytest pins both paths to
    the identical table.  All-integer/string output, so the DuckDB
    replay (``_bpe_sql``: the same fold as a recursive CTE per round)
    is HASH-exact.  Beyond-reference LLM-pipeline surface (Sennrich et
    al. 2016; the reference repo has no tokenizer training)."""
    from gdp_etl_spark.operators.bpe import bpe_word_freq, train_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    words = bpe_word_freq(docs, "text", lowercase=True, min_count=2)
    return train_bpe_merges(words, num_merges=10)


#: bpe_encode fixture — a constant merge table (rank order) and a
#: constant corpus covering every encoder behavior: rank priority
#: (the LOWEST-rank applicable pair merges first, e.g. "lowest"
#: must run (l,o) before (s,t) despite position), greedy i+=2 on
#: same-symbol runs, cascading merges ((a,a) then
#: (aa,aa)), lowercase folding, digit runs, punctuation symbols,
#: empty and NULL text.  Expected token strings below were generated
#: by an INDEPENDENT GPT-2-style reference encoder (get_pairs + min-
#: rank bigram loop, structurally different from bpe.encode_word) and
#: hand-checked for rows 1/2/9 — the warc_parsed_fidelity pattern:
#: constant fixture, verbatim-VALUES oracle, cross-engine hash pin.
_BPE_ENC_MERGES = [
    ("a", "a"), ("aa", "aa"), ("l", "o"), ("lo", "w"), ("e", "r"),
    ("t", "h"), ("th", "e"), ("1", "2"), ("s", "t"), ("e", "st"),
]
_BPE_ENC_FIX = [
    (1, "the lowest rate", "the low est r a t e"),
    (2, "aaaa aaa aaaaa", "aaaa aa a aaaa a"),
    (3, "Lower THE stakes!", "low er the st a k e s !"),
    (4, "est123 12 21", "est 12 3 12 2 1"),
    (5, "", ""),
    (6, None, ""),
    (7, "lol low lowest", "lo l low low est"),
    (8, "a1a2 r2r", "a 1 a 2 r 2 r"),
    (9, "theater esther", "the a t er e s th er"),
    (10, "!?., {}", "! ? . , { }"),
]


def q_bpe_encode(spark, sf_dir):
    """BPE serving-path encoder (operators/bpe.bpe_encode): rank-
    priority merge application — always the LOWEST-rank applicable
    merge next, the Sennrich/GPT-2 encoder — as an Arrow-batched
    pandas UDF with a per-batch word cache (the honest shape: the
    priority loop is inherently iterative per word, exactly how
    production tokenizers run it).  Encodes a constant fixture corpus
    with a constant 10-merge table; tokens join to a space string
    (BPE tokens never contain whitespace) so the verbatim-VALUES
    oracle pins the arrays hash-exactly cross-engine — the driver
    evidence the r12 verdict asked for on the one first-class LLM
    operator that was pytest-only."""
    from gdp_etl_spark.operators.bpe import bpe_encode
    from gdp_etl_spark.session import local_df

    docs = local_df(
        spark,
        [(i, t) for i, t, _ in _BPE_ENC_FIX],
        "doc_id bigint, text string",
    )
    enc = bpe_encode(docs, _BPE_ENC_MERGES, "text", "toks")
    return enc.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.array_join("toks", " ").alias("tokens_str"),
    )


def _bpe_encode_sql():
    vals = ",\n              ".join(
        f"({i}, {len(e.split(' ')) if e else 0}, {_sql_str(e)})"
        for i, _, e in _BPE_ENC_FIX
    )
    return f"""
            SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                   tokens_str
            FROM (VALUES
              {vals}) t(doc_id, n_tokens, tokens_str)
        """


def _bpe_sql(num_merges=10, min_count=2):
    """DuckDB replay of bpe_word_freq + train_bpe_merges: the word
    aggregate, then per round (a) the argmax pair with the same
    (count DESC, lhs, rhs) tie-break and (b) the identical greedy
    left-to-right merge fold as a recursive CTE over symbol positions.
    Every non-recursive CTE is MATERIALIZED — without the hint DuckDB
    re-inlines the whole upstream chain into each recursive iteration
    and the plan goes exponential in the round count."""
    # imported, not re-spelled: the literal is compiled by Java, RE2
    # AND Python re, and \s drifts between them (review finding, r13)
    from gdp_etl_spark.functions.text import BPE_TOKEN_RE as tok_re
    parts = [f"""w0 AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS syms
      FROM (SELECT unnest(regexp_extract_all(lower(text),
                   '{tok_re}')) AS word
            FROM documents WHERE text IS NOT NULL)
      GROUP BY word
      HAVING COUNT(*) >= {min_count} AND length(word) >= 2
    )"""]
    for k in range(1, num_merges + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
      SELECT lhs, rhs, lhs || rhs AS merged, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT syms[i] AS lhs, syms[i + 1] AS rhs, cnt
            FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
                  FROM w{k - 1}))
      GROUP BY lhs, rhs ORDER BY c DESC, lhs, rhs LIMIT 1
    )""")
        parts.append(f"""s{k} AS (
      SELECT cnt, syms, CAST([] AS VARCHAR[]) AS acc, 1 AS i FROM w{k - 1}
      UNION ALL
      SELECT s.cnt, s.syms,
        CASE WHEN len(s.acc) > 0 AND s.acc[-1] = p.lhs
                  AND s.syms[s.i] = p.rhs
             THEN list_append(s.acc[1:len(s.acc) - 1], p.merged)
             ELSE list_append(s.acc, s.syms[s.i]) END,
        s.i + 1
      FROM s{k} s, p{k} p WHERE s.i <= len(s.syms)
    )""")
        parts.append(f"""w{k} AS MATERIALIZED (
      SELECT cnt, acc AS syms FROM s{k}
      WHERE i = len(syms) + 1 AND len(acc) >= 2
    )""")
    fin = "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rank, lhs, rhs, merged, "
        f"c AS pair_count FROM p{k}"
        for k in range(1, num_merges + 1)
    )
    return (
        "WITH RECURSIVE " + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({fin}) ORDER BY rank"
    )


#: unicode_clean fixture: decomposed marks, Hangul jamo, ligature,
#: controls (incl. NUL — the DuckDB nfc_normalize truncation case),
#: CRLF/CR, tabs, padding, NBSP, NULL text.
_UNICODE_FIX = [
    (1000001, "Cafe\u0301  du   Monde"),
    (1000002, "A\u030angstro\u0308m"),
    (1000003, "\u1100\u1161\u11a8 hangul"),
    (1000004, "\ufb01le ligature"),
    (1000005, "a\x00b\x01c\x9fd controls"),
    (1000006, "line1\r\nline2\rline3"),
    (1000007, "  x\t\t y  "),
    (1000008, "\xa0nbsp kept\xa0"),
    (1000009, None),
]


def _sql_str(s):
    """Render a Python string as a DuckDB expression: printable-ASCII
    runs as quoted literals, everything else as chr(codepoint) — no
    escape-dialect assumptions at all."""
    if s is None:
        return "CAST(NULL AS VARCHAR)"
    parts, run = [], []

    def flush():
        if run:
            parts.append("'" + "".join(run).replace("'", "''") + "'")
            run.clear()

    for ch in s:
        if 0x20 <= ord(ch) < 0x7F:
            run.append(ch)
        else:
            flush()
            parts.append(f"chr({ord(ch)})")
    flush()
    return " || ".join(parts) if parts else "''"


def q_unicode_clean(spark, sf_dir):
    """Unicode corpus cleaning (functions/unicode.py): control strip →
    NFC canonical composition (the ONE Python step — Spark SQL has no
    normalization function; Arrow-batched pandas Series.str.normalize)
    → whitespace collapse → trim, over the documents table UNIONed
    with a constant fixture covering combining marks, Hangul jamo,
    ligatures, C0/C1 controls (incl. NUL), CRLF/CR, tabs and NBSP.
    Pure per-row map work — no shuffle at any corpus size.  The oracle
    replays the chain via DuckDB nfc_normalize + the SAME generated
    control-class regex (clean_unicode_sql), hash-exact."""
    from gdp_etl_spark.functions.unicode import clean_unicode
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fix = local_df(spark, _UNICODE_FIX, "doc_id bigint, text string")
    u = d.unionByName(fix)
    # clean ONCE in an inner select: two clean_unicode() calls build
    # two distinct pandas_udf instances Spark cannot CSE, doubling the
    # Arrow/NFC traffic of the only Python step (review finding)
    c = u.select(
        "doc_id",
        F.length("text").alias("n_before"),
        clean_unicode(F.col("text")).alias("cleaned"),
    )
    return c.select(
        "doc_id", "cleaned", "n_before",
        F.length("cleaned").alias("n_after"),
    )


def _unicode_clean_sql():
    from gdp_etl_spark.functions.unicode import clean_unicode_sql

    vals = ",\n              ".join(
        f"({i}, {_sql_str(t)})" for i, t in _UNICODE_FIX
    )
    return f"""
            WITH fix(doc_id, text) AS (VALUES
              {vals}),
            u AS (SELECT doc_id, text FROM documents
                  UNION ALL SELECT doc_id, text FROM fix)
            SELECT doc_id, {clean_unicode_sql('text')} AS cleaned,
                   CAST(length(text) AS INT) AS n_before,
                   CAST(length({clean_unicode_sql('text')}) AS INT)
                     AS n_after
            FROM u
        """


def q_k_anon(spark, sf_dir):
    """k-anonymity suppression-ladder release of customer
    quasi-identifiers (operators/anonymize.py): level 0 =
    (nation, segment, $2000 balance band), level 1 = (nation,
    segment, *), k = 6 — drop the most-identifying numeric first; rows neither level can anonymize are
    suppressed with NULL QIs.  One count-over-QI-window shuffle per
    level over a shrinking remainder; integer counts + string QI
    renderings make the release hash-exact.  Extends the privacy
    family (pii_redact, pseudonymize) to record-level release."""
    from gdp_etl_spark.operators.anonymize import k_anonymize

    cust = _t(spark, sf_dir, "customer")
    ladder = [
        {
            "nation": F.col("c_nationkey").cast("string"),
            "segment": F.col("c_mktsegment"),
            "balance": (F.floor(F.col("c_acctbal") / 2000) * 2000),
        },
        {
            "nation": F.col("c_nationkey").cast("string"),
            "segment": F.col("c_mktsegment"),
            "balance": F.lit("*"),
        },
    ]
    return k_anonymize(cust, ladder, k=6, id_col="c_custkey")


#: c4_clean fixture: one row per C4 rule — javascript line, short
#: line, missing terminal punctuation, lorem-ipsum page drop, curly-
#: brace page drop, a clean multi-sentence keeper, NULL text.
_C4_FIX = [
    (2000001, "This javascript line must go away now.\n"
              "This line is long enough and ends well.\n"
              "Second proper sentence stays right here.\n"
              "Third proper sentence stays right here too.\n"
              "Fourth proper sentence remains in the page.\n"
              "Fifth proper sentence closes the page out."),
    (2000002, "too short.\nno terminal punctuation at all\n"
              "Only one good sentence survives this page."),
    (2000003, "Lorem ipsum dolor sit amet is boilerplate filler.\n"
              "Even five good sentences cannot save it. Yes. Yes. Yes."),
    (2000004, "function f() { return 1; } is code not prose.\n"
              "Curly braces drop the page. Yes. Yes. Yes. Yes."),
    (2000005, None),
    # CRLF: '\r'-terminated lines must FAIL the punctuation rule in
    # both engines (Java's $-before-final-terminator trap)
    (2000006, "CRLF line ends properly so it stays.\r\n"
              "no terminal punctuation after the carriage return\r\n"
              "Sentence three is here. Four here. Five here too."),
    # NBSP-edged line: neither engine's trim may eat the NBSP
    (2000007, "NBSP after the period stays untrimmed.\xa0\n"
              "Proper one two three. More. More. More. And more."),
    # Unicode line terminators (NEL U+0085, LS U+2028): Java's $
    # matches before a FINAL one, RE2's does not — the shared trim
    # class must remove them so both engines see the period (r13)
    (2000008, "Unicode NEL line ends here.\x85\n"
              "LS terminated line stays fine. \n"
              "Proper one two three more. More. More. And more."),
]


def q_c4_clean(spark, sf_dir):
    """The C4 heuristic cleaning rules (functions/text.c4_rules;
    Raffel et al. 2020 §2.2) over documents plus a constant fixture
    exercising every rule: line-level terminal-punctuation /
    min-words / javascript filters and doc-level min-sentences /
    lorem-ipsum / curly-brace drops.  One per-row struct expression —
    higher-order array filters, zero shuffle at any corpus size; the
    oracle mirrors each rule with list_filter + regexp, hash-exact.
    Complements the corpus-frequency boilerplate stage
    (dedup.boilerplate_line_filter): C4 is per-row heuristics, no
    corpus statistics needed."""
    from gdp_etl_spark.functions.text import (
        C4_NWS_CLASS,
        C4_WS_CLASS,
        c4_rules,
    )
    from gdp_etl_spark.session import local_df

    # the synthetic corpus is single-line prose without punctuation —
    # synthesize line structure (5-word sentences) so the line rules
    # discriminate on real data too (the pii_redact augmentation rule).
    # \S/\s spelled via the shared classes: Java's \s has \x0B, RE2's
    # does not (review finding, round 13)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.col("text"),
            f"(({C4_NWS_CLASS}+{C4_WS_CLASS}+){{4}}{C4_NWS_CLASS}+)"
            f"{C4_WS_CLASS}+",
            "$1.\n",
        ).alias("text"),
    )
    fix = local_df(spark, _C4_FIX, "doc_id bigint, text string")
    u = d.unionByName(fix).withColumn("__c4", c4_rules(F.col("text")))
    return u.select(
        "doc_id",
        F.col("__c4.text_c4").alias("text_c4"),
        F.col("__c4.n_lines").alias("n_lines"),
        F.col("__c4.n_kept").alias("n_kept"),
        F.col("__c4.n_sentences").alias("n_sentences"),
        F.col("__c4.keep").alias("keep"),
    )


def _c4_sql(min_words=3, min_sentences=5):
    from gdp_etl_spark.functions.text import C4_NWS_CLASS as _NW
    from gdp_etl_spark.functions.text import C4_WS_CLASS as _W

    vals = ",\n              ".join(
        f"({i}, {_sql_str(t)})" for i, t in _C4_FIX
    )
    # the SAME explicit whitespace class as c4_rules (imported, cannot
    # drift): DuckDB's bare trim() strips Unicode spaces (NBSP) that
    # Spark's does not, and RE2's \s excludes \x0B — both divergences
    # vanish with one shared class (review findings)
    trim_l = f"regexp_replace(l, '^{_W}+|{_W}+$', '', 'g')"
    line_keep = (
        f"l -> regexp_matches({trim_l}, '[.!?\"]$') "
        f"AND len(list_filter(string_split_regex({trim_l}, '{_W}+'), "
        f"w -> w <> '')) >= {min_words} "
        f"AND NOT contains(lower({trim_l}), 'javascript')"
    )
    return f"""
            WITH fix(doc_id, text) AS (VALUES
              {vals}),
            u AS (SELECT doc_id,
                         regexp_replace(text,
                           '(({_NW}+{_W}+){{4}}{_NW}+){_W}+',
                           '\\1.' || chr(10), 'g') AS text
                  FROM documents
                  UNION ALL SELECT doc_id, text FROM fix),
            r AS (
              SELECT doc_id, text,
                     string_split(coalesce(text, ''), chr(10)) AS ls,
                     list_filter(string_split(coalesce(text, ''),
                                 chr(10)), {line_keep}) AS kept
              FROM u),
            s AS (
              SELECT doc_id, text,
                     coalesce(array_to_string(kept, chr(10)), '')
                       AS text_c4,
                     len(ls) AS n_lines, len(kept) AS n_kept
              FROM r)
            SELECT doc_id, text_c4,
                   CAST(n_lines AS INT) AS n_lines,
                   CAST(n_kept AS INT) AS n_kept,
                   CAST(len(regexp_extract_all(text_c4, '[.!?]'))
                        AS INT) AS n_sentences,
                   (len(regexp_extract_all(text_c4, '[.!?]'))
                      >= {min_sentences}
                    AND NOT contains(lower(coalesce(text, '')),
                                     'lorem ipsum')
                    AND NOT contains(coalesce(text, ''), '{{'))
                     AS keep
            FROM s
        """


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


#: url_frontier fixture: one row per admission rule.
_FRONTIER_FIX = [
    (3000001, "mailto:someone@example.com"),
    (3000002, "javascript:void(0)"),
    (3000003, "https://ok.example.com/a/b/c/page.html"),
    (3000004, "https://trap.example.com/a/b/a/b/a/b/"),
    (3000005, "https://deep.example.com/1/2/3/4/5/6/7/8/9/x"),
    (3000006, "https://bin.example.com/download/build.zip"),
    (3000007, "https://long.example.com/?q=" + "x" * 2100),
    (3000008, "https:///no-host-here"),
    (3000009, None),
    (3000010, "HTTP://UPPER.example.com/Mixed/Case.HTML"),
    # per-segment boundary (r13 semantics fix): two DISTINCT doubled
    # segments — max single-segment count 2 <= cap 2, ADMITTED (the
    # old duplicate-mass rule wrongly rejected it)
    (3000011, "https://ok2.example.com/x/a/b/a/b"),
]


def q_url_frontier(spark, sf_dir):
    """Crawl-frontier admission (text.url_frontier_flags — the
    Heritrix/Nutch scope-filter class): scheme allowlist, URL-length
    cap, path-depth cap, repeated-segment trap rule, binary/media
    extension blocklist — one per-row struct expression, zero shuffle
    at link-stream scale.  Runs over URLs synthesized from documents
    (varying extension/depth by doc_id — the pii_redact augmentation
    rule) UNIONed with a fixture exercising every rule, incl. the
    /a/b/a/b trap and a 2100-char URL.  Completes the crawl front
    door: read_warc → extract_links → canonical_url → THIS →
    per-host politeness."""
    from gdp_etl_spark.functions.text import url_frontier_flags
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/docs/p"), F.col("doc_id").cast("string"),
            F.element_at(
                F.array(F.lit(".html"), F.lit(".pdf"), F.lit(""),
                        F.lit(".jpg")),
                (F.col("doc_id") % 4).cast("int") + 1,
            ),
        ).alias("url"),
    )
    fix = local_df(spark, _FRONTIER_FIX, "doc_id bigint, url string")
    u = d.unionByName(fix).withColumn(
        "__f", url_frontier_flags(F.col("url"))
    )
    return u.select(
        "doc_id",
        F.col("__f.host").alias("host"),
        F.col("__f.ext").alias("ext"),
        F.col("__f.depth").alias("depth"),
        F.col("__f.scheme_ok").alias("scheme_ok"),
        F.col("__f.trap_ok").alias("trap_ok"),
        F.col("__f.ext_ok").alias("ext_ok"),
        F.col("__f.admit").alias("admit"),
    )


def _url_frontier_sql():
    from gdp_etl_spark.functions.text import FRONTIER_BLOCKED_EXT

    vals = ",\n              ".join(
        f"({i}, {_sql_str(t)})" for i, t in _FRONTIER_FIX
    )
    exts = ", ".join(f"'{e}'" for e in FRONTIER_BLOCKED_EXT)
    return f"""
            WITH fix(doc_id, url) AS (VALUES
              {vals}),
            u AS (
              SELECT doc_id,
                     'https://site' || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/docs/p'
                       || CAST(doc_id AS VARCHAR)
                       || (['.html', '.pdf', '', '.jpg'])
                          [CAST(doc_id % 4 AS INT) + 1] AS url
              FROM documents
              UNION ALL SELECT doc_id, url FROM fix),
            p AS (
              SELECT doc_id,
                     trim(coalesce(url, '')) AS uu
              FROM u),
            f AS (
              SELECT doc_id, uu,
                     lower(regexp_extract(uu,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     lower(regexp_extract(uu,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
                     regexp_extract(uu,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                       AS path
              FROM p),
            g AS (
              SELECT doc_id, uu, scheme, host, path,
                     list_filter(string_split(path, '/'),
                                 s -> s <> '') AS segs,
                     lower(regexp_extract(path,
                       '\\.([A-Za-z0-9]{{1,5}})$', 1)) AS ext
              FROM f),
            h AS (
              SELECT doc_id, host, ext,
                     CAST(len(segs) AS INT) AS depth,
                     scheme IN ('http', 'https') AS scheme_ok,
                     length(uu) <= 2048 AS len_ok,
                     len(segs) <= 8 AS depth_ok,
                     coalesce(list_max(list_transform(
                       list_distinct(segs),
                       d -> len(list_filter(segs, s -> s = d))))
                       <= 2, true) AS trap_ok,
                     NOT (ext IN ({exts})) AS ext_ok
              FROM g)
            SELECT doc_id,
                   CASE WHEN host = '' THEN NULL ELSE host END AS host,
                   ext, depth, scheme_ok, trap_ok, ext_ok,
                   (scheme_ok AND len_ok AND depth_ok AND trap_ok
                    AND ext_ok AND host <> '') AS admit
            FROM h
        """


def q_crawl_schedule(spark, sf_dir):
    """Politeness scheduling of the admitted frontier
    (operators/crawl.schedule_frontier — the Heritrix per-host fetch
    cap): the url_frontier admission chain runs first (same synthetic
    URL set + fixture), admitted links rank within their host by
    (depth, doc_id) and split into fetch cycles of at most 4 links
    per host per wave.  ONE window shuffle keyed on the host; all
    integer arithmetic, so the oracle replays admission → ranking →
    cycle layout exactly.  Completes the crawl chain: read_warc →
    extract_links → canonical_url → url_frontier_flags → THIS."""
    from gdp_etl_spark.functions.text import url_frontier_flags
    from gdp_etl_spark.operators.crawl import schedule_frontier
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/docs/p"), F.col("doc_id").cast("string"),
            F.element_at(
                F.array(F.lit(".html"), F.lit(".pdf"), F.lit(""),
                        F.lit(".jpg")),
                (F.col("doc_id") % 4).cast("int") + 1,
            ),
        ).alias("url"),
    )
    fix = local_df(spark, _FRONTIER_FIX, "doc_id bigint, url string")
    u = d.unionByName(fix).withColumn(
        "__f", url_frontier_flags(F.col("url"))
    )
    admitted = u.filter(F.col("__f.admit")).select(
        "doc_id",
        F.col("__f.host").alias("host"),
        F.col("__f.depth").alias("depth"),
    )
    return schedule_frontier(
        admitted, "host", "doc_id", priority_cols=["depth"],
        per_host_budget=4,
    )


def _crawl_schedule_sql():
    return f"""
            WITH a AS (
              SELECT doc_id, host, depth
              FROM ({_url_frontier_sql()})
              WHERE admit
            ), r AS (
              SELECT doc_id, host, depth,
                     row_number() OVER (PARTITION BY host
                       ORDER BY depth, doc_id) - 1 AS rn
              FROM a
            )
            SELECT doc_id, host, depth,
                   CAST(rn AS INT) AS host_rank,
                   CAST(rn // 4 AS BIGINT) AS fetch_cycle,
                   CAST(rn % 4 AS INT) AS slot
            FROM r
        """


def q_curriculum(spark, sf_dir):
    """Curriculum data ordering (sampling.curriculum_stages, Bengio et
    al. 2009): documents ranked easy→hard by the deterministic quality
    score, cut into 4 exact equal-count stages, md5-shuffled WITHIN
    each stage, and laid out as stage-pure 16-doc batches whose global
    batch_id order walks the curriculum.  Both global rankings use the
    two-pass prefix-sum row-id recipe (no single-partition window);
    all layout arithmetic is integer, so the oracle replays rank →
    stage cut → shuffle → batch numbering exactly."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.sampling import curriculum_stages

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("difficulty")
    )
    return curriculum_stages(
        d, "difficulty", "doc_id", n_stages=4, batch_size=16
    )


def q_kn_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM (operators/ngram_lm.py —
    Kneser & Ney 1995 / Chen & Goodman 1998 eq. 4.26, the KenLM
    estimator behind CCNet's quality filter), trained on the EVEN
    doc_ids and scoring ALL documents, so the odd docs exercise every
    backoff branch (unseen bigram / unseen context / unseen
    continuation) cross-engine, not just the seen-bigram fast path.
    Training is one corpus-scale bigram-count groupBy (output = the
    bigram vocabulary) + two vocab-bounded derived aggregates; scoring
    left-joins the three model frames and sums integer-quantized
    log-probs per doc (the char_trigram_lm_score determinism
    contract).  The oracle replays counts, the exact double formula
    and the quantized sum, hash-exact."""
    from gdp_etl_spark.operators.ngram_lm import kn_bigram_score

    d = _t(spark, sf_dir, "documents")
    return kn_bigram_score(
        d.filter(F.col("doc_id") % 2 == 0), d, "text", "doc_id"
    )


def _kn_bigram_sql(discount=0.75, quantize=10**6):
    toks = ("CASE WHEN text IS NULL OR length(trim(text)) = 0 "
            f"THEN CAST([] AS VARCHAR[]) ELSE {_TOKS_LOW} END")
    D = f"CAST({discount} AS DOUBLE)"
    pairs = (
        "unnest(list_transform(range(1, len(t)), "
        "i -> {'w1': t[i], 'w2': t[i + 1]}), recursive := true)"
    )
    return f"""
            WITH td AS (
              SELECT doc_id, {toks} AS t FROM documents
              WHERE doc_id % 2 = 0
            ), tb AS (
              SELECT doc_id, {pairs} FROM td WHERE len(t) >= 2
            ), big AS (
              SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
              FROM tb GROUP BY w1, w2
            ), ctx AS (
              SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                     CAST(COUNT(*) AS BIGINT) AS n1l
              FROM big GROUP BY w1
            ), cont AS (
              SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r
              FROM big GROUP BY w2
            ), tot AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM big
            ), sd AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), sb AS (
              SELECT doc_id, {pairs} FROM sd WHERE len(t) >= 2
            ), sj AS (
              SELECT s.doc_id, big.c12, ctx.c1, ctx.n1l, cont.n1r, tot.nb
              FROM sb s
              LEFT JOIN big USING (w1, w2)
              LEFT JOIN ctx USING (w1)
              LEFT JOIN cont USING (w2), tot
            ), pr AS (
              SELECT doc_id,
                CASE WHEN c12 IS NOT NULL THEN
                       greatest(CAST(c12 AS DOUBLE) - {D},
                                CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE)
                       + (({D} * CAST(n1l AS DOUBLE))
                          / CAST(c1 AS DOUBLE)) * pc
                     WHEN c1 IS NOT NULL THEN
                       (({D} * CAST(n1l AS DOUBLE))
                        / CAST(c1 AS DOUBLE)) * pc
                     ELSE pc END AS p
              FROM (SELECT *,
                      CASE WHEN n1r IS NOT NULL
                           THEN CAST(n1r AS DOUBLE) / nb
                           ELSE CAST(1 AS DOUBLE)
                                / (nb + CAST(1 AS DOUBLE)) END AS pc
                    FROM sj)
            ), per AS (
              SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
                     CAST(SUM(CAST(floor(ln(p) * {quantize})
                          AS BIGINT)) AS BIGINT) AS sum_logp_q
              FROM pr GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(per.n_bigrams, 0) AS n_bigrams,
                   CAST(COALESCE(per.sum_logp_q, 0) AS BIGINT)
                     AS sum_logp_q,
                   CASE WHEN per.n_bigrams IS NOT NULL THEN
                     (CAST(per.sum_logp_q AS DOUBLE)
                      / CAST({quantize} AS DOUBLE))
                     / CAST(per.n_bigrams AS DOUBLE)
                   END AS avg_logp
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN per USING (doc_id)
        """


def q_preference_pairs(spark, sf_dir):
    """Preference-pair construction for reward-model / DPO training
    (operators/preference.py — the InstructGPT comparison-collection
    step): documents grouped into 5-response "prompts" (doc_id div 5),
    scored with the deterministic quality score, and paired
    best-vs-worst per prompt with min-id tie-breaks and a 0.02
    minimum gap.  ONE struct-ordered max_by/min_by aggregate —
    map-side partial, the group never materializes (the "all
    comparisons" mode is a group-keyed self-join with a loud
    max_group_size guard, pytest-covered).  The oracle replays the
    argmax/argmin via the two row_number windows; all-double
    arithmetic is shared with the quality oracle, hash-exact."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.preference import preference_pairs

    d = _t(spark, sf_dir, "documents").select(
        F.expr("doc_id div 5").alias("prompt_id"),
        F.col("doc_id"),
        quality_score(F.col("text")).alias("score"),
    )
    return preference_pairs(
        d, "prompt_id", "doc_id", "score", mode="extreme", min_gap=0.02
    )


def q_curriculum_batches(spark, sf_dir):
    """Curriculum ordering composed into the SERVING path
    (sampling.curriculum_stages → packing.pack_segments_staged): the
    difficulty ramp survives batch materialization — documents rank
    easy→hard, cut into 4 stages, md5-shuffle within stage, and the
    token stream packs into 128-token training sequences SEPARATELY
    per stage, so no pack ever mixes two difficulty stages and
    consuming packs in pack_id order replays the curriculum exactly
    (property-pinned in pytest).  Scale: both global rankings and the
    token cumsum are two-pass prefix-sums (no single-partition
    window); the per-stage re-base is a 4-row driver aggregate.  The
    oracle replays rank → stage cut → shuffle → batch layout → per-
    stage cumsum → segment unnest; a regression in ANY stage breaks
    the hash."""
    from gdp_etl_spark.functions.text import quality_score, token_count_ws
    from gdp_etl_spark.operators.packing import pack_segments_staged
    from gdp_etl_spark.operators.sampling import curriculum_stages

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        quality_score(F.col("text")).alias("difficulty"),
        token_count_ws(F.col("text")).alias("n_tokens"),
    )
    cur = curriculum_stages(
        d.select("doc_id", "difficulty"), "difficulty", "doc_id",
        n_stages=4, batch_size=16,
    )
    j = cur.join(d.select("doc_id", "n_tokens"), "doc_id")
    return pack_segments_staged(
        j, "doc_id", "n_tokens", seq_len=128,
        stage_col="stage", order_cols=["batch_id", "pos_in_batch"],
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order is load-bearing: the driver's correctness
    gate verifies the FIRST 50 keys each round, and EXACTLY 50 must
    precede the end-of-window marker (pinned by
    tests/test_driver_window.py; the r6/r7 windows mis-registered 54
    and silently dropped the last four).  Since round 9 the window is
    COMPUTED, not hand-picked: ``tools/window_staleness.py`` reads
    every CORRECTNESS_r*.json ledger and ranks (1) queries whose code,
    fixture, or oracle changed this round, (2) queries with no driver
    row in any round, (3) everything else stalest-first (last-green
    round ascending, name tie-break).  The round-15 window: the nine
    queries whose code, fixture or oracle moved this round (the four
    _churn_fixture consumers index_stats/ivf_asof/ivf_upsert/
    pq_upsert, the asof-extended semantic_dedup_indexed, the
    asof-param semantic_dedup_increment, crawl_schedule's folded
    guard window, and ivf_index/pq_index over the new __vectors twin
    + guarded-bump operator code), then the ENTIRE 19-query
    last-green-r9 bucket the r14 verdict named (pack_sequences …
    variant_extract), then the first 22 of the 47-query
    last-green-r10 bucket (ab_test … multimodal_features).
    Everything rotated out stays registered below with identical
    local oracle coverage (``tools/check_correctness.py``)."""
    return {
        "index_stats": q_index_stats,
        "ivf_asof": q_ivf_asof,
        "ivf_upsert": q_ivf_upsert,
        "pq_upsert": q_pq_upsert,
        "semantic_dedup_indexed": q_semantic_dedup_indexed,
        "semantic_dedup_increment": q_semantic_dedup_increment,
        "crawl_schedule": q_crawl_schedule,
        "ivf_index": q_ivf_index,
        "pq_index": q_pq_index,
        "pack_sequences": q_pack_sequences,
        "pii_redact": q_pii_redact,
        "profile_table": q_profile_table,
        "range_join": q_range_join,
        "recursive_cte": q_recursive_cte,
        "repetition_stats": q_repetition_stats,
        "resample_locf": q_resample_locf,
        "returned_revenue": q_returned_revenue,
        "rolling_corr": q_rolling_corr,
        "scalar_share": q_scalar_share,
        "scd2": q_scd2,
        "scd2_lookup": q_scd2_lookup,
        "shipping_priority": q_shipping_priority,
        "source_overlap": q_source_overlap,
        "sql_udf": q_sql_udf,
        "stratified_split": q_stratified_split,
        "table_checksum": q_table_checksum,
        "trade_volume": q_trade_volume,
        "variant_extract": q_variant_extract,
        "ab_test": q_ab_test,
        "batch_screen": q_batch_screen,
        "calendar_dim": q_calendar_dim,
        "category_drift": q_category_drift,
        "cdc_apply": q_cdc_apply,
        "closure_leaves": q_closure_leaves,
        "compute_project": q_compute_project,
        "conditional_agg": q_conditional_agg,
        "content_hash": q_content_hash,
        "datetime_funcs": q_datetime_funcs,
        "decontam_screen": q_decontam_screen,
        "decontam_scrub": q_decontam_scrub,
        "diff_classify": q_diff_classify,
        "distinct_values": q_distinct_values,
        "drift_psi": q_drift_psi,
        "drop_na": q_drop_na,
        "dsir_weights": q_dsir_weights,
        "epoch_shuffle": q_epoch_shuffle,
        "ivf_topk": q_ivf_topk,
        "market_share": q_market_share,
        "min_cost_supplier": q_min_cost_supplier,
        "multimodal_features": q_multimodal_features,
        # -- end of driver window (50) -----------------------------------
        # below the window: alphabetical; all keep local oracle
        # coverage via tools/check_correctness.py
        "ann_topk": q_ann_topk,
        "array_agg": q_array_agg,
        "array_map_funcs": q_array_map_funcs,
        "asof_join": q_asof_join,
        "bankers_round": q_bankers_round,
        "base_broadcast": q_base_broadcast,
        "benford": q_benford,
        "big_order_customers": q_big_order_customers,
        "binary_header": q_binary_header,
        "blocklist_filter": q_blocklist_filter,
        "bloom_screen": q_bloom_screen,
        "bm25_topk": q_bm25_topk,
        "boilerplate_lines": q_boilerplate_lines,
        "bpe_encode": q_bpe_encode,
        "bpe_merges": q_bpe_merges,
        "build_fact": q_build_fact,
        "c4_clean": q_c4_clean,
        "cdc_dedup": q_cdc_dedup,
        "chunk_embed_pool": q_chunk_embed_pool,
        "cluster_split": q_cluster_split,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "cogroup_reconcile": q_cogroup_reconcile,
        "cohort_retention": q_cohort_retention,
        "column_entropy": q_column_entropy,
        "conditional_overwrite": q_conditional_overwrite,
        "contamination_frac": q_contamination_frac,
        "corpus_clean": q_corpus_clean,
        "corpus_curate": q_corpus_curate,
        "corpus_diff": q_corpus_diff,
        "corpus_mix": q_corpus_mix,
        "corr_matrix": q_corr_matrix,
        "crawl_corpus": q_crawl_corpus,
        "csv_roundtrip": q_csv_roundtrip,
        "csv_trimmed": q_csv_trimmed,
        "cube": q_cube,
        "curation_audit": q_curation_audit,
        "curriculum": q_curriculum,
        "curriculum_batches": q_curriculum_batches,
        "decontaminate": q_decontaminate,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "disjunctive_revenue": q_disjunctive_revenue,
        "doc_chunks": q_doc_chunks,
        "dq_checks": q_dq_checks,
        "dsir_select": q_dsir_select,
        "dup_ngram_profile": q_dup_ngram_profile,
        "embed_transform": q_embed_transform,
        "embedding_gram": q_embedding_gram,
        "embedding_near_dup": q_embedding_near_dup,
        "equidepth": q_equidepth,
        "events_sessions": q_events_sessions,
        "events_sliding": q_events_sliding,
        "events_tumbling": q_events_tumbling,
        "exact_dedup": q_exact_dedup,
        "excel_scan": q_excel_scan,
        "excess_suppliers": q_excess_suppliers,
        "filter_band": q_filter_band,
        "filter_compound": q_filter_compound,
        "filter_in": q_filter_in,
        "filter_strlen": q_filter_strlen,
        "fingerprint": q_fingerprint,
        "fixed_width": q_fixed_width,
        "flagship_revenue": q_flagship_revenue,
        "forecast_revenue": q_forecast_revenue,
        "funnel": q_funnel,
        "fuzzy_pairs": q_fuzzy_pairs,
        "gaps_islands": q_gaps_islands,
        "golden_comments": q_golden_comments,
        "golden_release_diff": q_golden_release_diff,
        "golden_rollup": q_golden_rollup,
        "golden_usis_export": q_golden_usis_export,
        "group_extrema": q_group_extrema,
        "group_first": q_group_first,
        "group_stats": q_group_stats,
        "grouped_topk": q_grouped_topk,
        "grouping_sets": q_grouping_sets,
        "hamming_d4": q_hamming_d4,
        "hard_negatives": q_hard_negatives,
        "hash_sample": q_hash_sample,
        "hash_split": q_hash_split,
        "heavy_hitters": q_heavy_hitters,
        "hist_incremental": q_hist_incremental,
        "histogram": q_histogram,
        "html_strip": q_html_strip,
        "http_csv_scan": q_http_csv_scan,
        "hybrid_rrf": q_hybrid_rrf,
        "important_parts": q_important_parts,
        "incremental_dedup": q_incremental_dedup,
        "index_dedup": q_index_dedup,
        "interpolate": q_interpolate,
        "interval_overlap": q_interval_overlap,
        "inverted_index": q_inverted_index,
        "ivf_recall": q_ivf_recall,
        "join_composite": q_join_composite,
        "join_label": q_join_label,
        "join_suffix": q_join_suffix,
        "json_extract": q_json_extract,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "k_anon": q_k_anon,
        "kmeans_assign": q_kmeans_assign,
        "kn_bigram": q_kn_bigram,
        "late_orders": q_late_orders,
        "left_join_sum_zero": q_left_join_sum_zero,
        "length_batches": q_length_batches,
        "line_dedup_doc": q_line_dedup_doc,
        "linear_trend": q_linear_trend,
        "link_graph": q_link_graph,
        "lm_buckets": q_lm_buckets,
        "lm_score": q_lm_score,
        "lsh_topk": q_lsh_topk,
        "mad_outliers": q_mad_outliers,
        "mean_pool": q_mean_pool,
        "merge_upsert": q_merge_upsert,
        "minhash_index": q_minhash_index,
        "minhash_lsh": q_minhash_lsh,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_meta": q_multimodal_meta,
        "nation_profit": q_nation_profit,
        "native_rollup": q_native_rollup,
        "ndv_incremental": q_ndv_incremental,
        "neg_projection": q_neg_projection,
        "ngram_jaccard": q_ngram_jaccard,
        "norm_dedup": q_norm_dedup,
        "observed_profile": q_observed_profile,
        "orc_roundtrip": q_orc_roundtrip,
        "order_count_dist": q_order_count_dist,
        "outlier_fences": q_outlier_fences,
        "pack_segments": q_pack_segments,
        "pad_codes": q_pad_codes,
        "pagerank": q_pagerank,
        "paragraph_dedup": q_paragraph_dedup,
        "pareto_share": q_pareto_share,
        "part_supplier_counts": q_part_supplier_counts,
        "phash_dedup": q_phash_dedup,
        "pivot_wide": q_pivot_wide,
        "pq_topk": q_pq_topk,
        "preference_pairs": q_preference_pairs,
        "prefix_jaccard": q_prefix_jaccard,
        "priority_by_flag": q_priority_by_flag,
        "projection": q_projection,
        "promo_ratio": q_promo_ratio,
        "pseudonymize": q_pseudonymize,
        "python_datasource": q_python_datasource,
        "qa_added_years": q_qa_added_years,
        "qa_deflator_check": q_qa_deflator_check,
        "qa_discrepancies": q_qa_discrepancies,
        "qa_missing_years": q_qa_missing_years,
        "qa_top_log_ratio": q_qa_top_log_ratio,
        "quality_gate": q_quality_gate,
        "quality_lang": q_quality_lang,
        "range_frame": q_range_frame,
        "rank_windows": q_rank_windows,
        "recode_values": q_recode_values,
        "record_linkage": q_record_linkage,
        "ref_date_stamp": q_ref_date_stamp,
        "regional_volume": q_regional_volume,
        "rolling_window": q_rolling_window,
        "rollup_hierarchy": q_rollup_hierarchy,
        "row_ids": q_row_ids,
        "salted_join": q_salted_join,
        "sample_per_group": q_sample_per_group,
        "schema_evolution": q_schema_evolution,
        "sci_format": q_sci_format,
        "seasonal_anomalies": q_seasonal_anomalies,
        "semantic_decontam": q_semantic_decontam,
        "semantic_dedup": q_semantic_dedup,
        "semi_anti_join": q_semi_anti_join,
        "shard_assign": q_shard_assign,
        "shard_manifest": q_shard_manifest,
        "simhash_pairs": q_simhash_pairs,
        "sketch_bounds": q_sketch_bounds,
        "sketch_rollup": q_sketch_rollup,
        "sketch_stats": q_sketch_stats,
        "small_qty_revenue": q_small_qty_revenue,
        "source_report": q_source_report,
        "source_terciles": q_source_terciles,
        "sql_api": q_sql_api,
        "sql_api_q3": q_sql_api_q3,
        "string_funcs": q_string_funcs,
        "substring_dedup": q_substring_dedup,
        "temperature_mix": q_temperature_mix,
        "token_stats": q_token_stats,
        "top_acctbal_no_orders": q_top_acctbal_no_orders,
        "top_bigrams": q_top_bigrams,
        "top_supplier": q_top_supplier,
        "topk_orders": q_topk_orders,
        "train_batches": q_train_batches,
        "triangle_count": q_triangle_count,
        "udtf_matches": q_udtf_matches,
        "unicode_clean": q_unicode_clean,
        "union_by_name": q_union_by_name,
        "unpivot_long": q_unpivot_long,
        "url_dedup": q_url_dedup,
        "url_frontier": q_url_frontier,
        "usis_export": q_usis_export,
        "value_windows": q_value_windows,
        "vocab_coverage": q_vocab_coverage,
        "waiting_supplier": q_waiting_supplier,
        "warc_ingest": q_warc_ingest,
        "warc_parsed_fidelity": q_warc_parsed_fidelity,
        "weighted_sample": q_weighted_sample,
        "wet_ingest": q_wet_ingest,
        "zorder_stats": q_zorder_stats,
    }


# ===========================================================================
# oracles
# ===========================================================================

def _rproj_sql(j: int, col: str = "embedding", dim: int = 64, seed: str = "rp") -> str:
    """Mirror of functions.vectors.random_projection component j: signed
    fixed-point fold with the md5-parity ±1 sign."""
    sign = (
        f"CASE WHEN substr(md5(CAST(i - 1 AS VARCHAR) || ':' || '{j}'"
        f" || ':' || '{seed}'), 1, 1)"
        f" IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END"
    )
    return (
        f"(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(floor(CAST({col}[i] AS DOUBLE) * 1e12) AS BIGINT)"
        f" * {sign})) AS DOUBLE) / 1e12)"
    )


#: the reference checkout the golden oracles read their published
#: artifacts from (same root the Spark golden queries load inputs from)
from gdp_etl_spark.plans.golden import REFERENCE_DIR as _GOLDEN_DIR


def oracle_sql() -> dict[str, str]:
    sh = _shingles_sql(5)
    # the minhash_index batch mirrors: same shingling over the
    # suffix-edited text
    sh_mirror = sh.replace(
        "trim(text)", "trim(text || ' slightly changed mirror')"
    )
    sh8 = _shingles_sql(8)
    g2 = _ngrams_raw_sql(2)
    g3 = _ngrams_raw_sql(3)
    sw_list = _sql_list(STOPWORDS)
    lang_score = {
        lang: f"len(list_filter({_TOKS_LOW}, t -> list_contains({_sql_list(m)}, t)))"
        for lang, m in sorted(LANG_MARKERS.items())
    }
    best = "greatest(" + ", ".join(lang_score[k] for k in sorted(lang_score)) + ")"
    lang_case = (
        "CASE WHEN " + best + " = 0 THEN 'und' "
        + " ".join(
            f"WHEN {lang_score[k]} = {best} THEN '{k}'" for k in sorted(lang_score)
        )
        + " ELSE 'und' END"
    )
    _norm = r"lower(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))"
    tg_score = {
        lang: " + ".join(
            f"(length({_norm}) - length(replace({_norm}, '{t}', '')))"
            for t in p
        )
        for lang, p in sorted(LANG_TRIGRAMS.items())
    }
    tg_best = "greatest(" + ", ".join(tg_score[k] for k in sorted(tg_score)) + ")"
    tg_case = (
        "CASE WHEN " + tg_best + " <= 0 THEN 'und' "
        + " ".join(
            f"WHEN {tg_score[k]} = {tg_best} THEN '{k}'" for k in sorted(tg_score)
        )
        + " ELSE 'und' END"
    )
    # PUNCT_CLASS imported, not re-spelled: Java/RE2/Python \s drift
    # on \x0B and Unicode whitespace (review finding, round 13)
    from gdp_etl_spark.functions.text import BPE_TOKEN_RE as _BPE_RE
    from gdp_etl_spark.functions.text import PUNCT_CLASS as _PCLS

    pr = (
        "CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 "
        f"ELSE CAST(len(regexp_extract_all(text, '{_PCLS}')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE) END"
    )
    swr = (
        f"CASE WHEN len({_TOKS_RAW}) = 0 THEN 0.0 "
        f"ELSE CAST(len(list_filter({_TOKS_RAW}, t -> list_contains({sw_list}, t))) AS DOUBLE)"
        f" / CAST(len({_TOKS_RAW}) AS DOUBLE) END"
    )
    mtl = (
        f"CASE WHEN len({_TOKS_RAW}) = 0 THEN 0.0 "
        f"ELSE CAST(list_sum(list_transform({_TOKS_RAW}, t -> length(t))) AS DOUBLE)"
        f" / CAST(len({_TOKS_RAW}) AS DOUBLE) END"
    )
    n_tok_d = f"CAST(len({_TOKS_RAW}) AS DOUBLE)"
    quality = (
        f"(least({n_tok_d} / 50.0, 1.0) * 0.4"
        f" + greatest(0.0, 1.0 - ({pr}) * 4.0) * 0.2"
        f" + (CASE WHEN ({swr}) >= 0.01 AND ({swr}) <= 0.6 THEN 1.0 ELSE 0.5 END) * 0.2"
        f" + (CASE WHEN ({mtl}) >= 2.0 AND ({mtl}) <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2)"
    )
    jaccard = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)"
    )
    # mirror of functions.text.redact_pii applied to the `text` column
    # (plain string: the regexes contain literal braces)
    _pii_red_text = (
        r"regexp_replace(regexp_replace(regexp_replace(text,"
        r" 'https?://[^\s]+', '<URL>', 'g'),"
        r" '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
        r" '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g')"
    )
    seg_values = ", ".join(f"('{s}', '{l}')" for s, l in _SEGMENT_LABELS)

    return {
        # -- REAL-DATA golden replays: the oracle is the reference's own
        # published artifact, read straight off disk — a hash match is
        # bit-exact reproduction of the real deliverable ----------------
        "golden_rollup": f"""
            SELECT Economy_Code, Economy_Label, Year, Variable, Value
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_update.csv',
                          header=true, nullstr='NA',
                          columns={{'Economy_Code':'VARCHAR',
                                    'Economy_Label':'VARCHAR',
                                    'Year':'INTEGER','Variable':'VARCHAR',
                                    'Value':'DOUBLE','CommentEN':'VARCHAR',
                                    'CommentFR':'VARCHAR'}})
            WHERE length(Economy_Code) = 4
        """,
        # published update verbatim: the Spark side recomputes both
        # comment columns from (Economy_Code, Year) and must agree on
        # every row
        "golden_comments": f"""
            SELECT Economy_Code, Economy_Label, Year, Variable, Value,
                   CommentEN, CommentFR
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_update.csv',
                          header=true, nullstr='NA',
                          columns={{'Economy_Code':'VARCHAR',
                                    'Economy_Label':'VARCHAR',
                                    'Year':'INTEGER','Variable':'VARCHAR',
                                    'Value':'DOUBLE','CommentEN':'VARCHAR',
                                    'CommentFR':'VARCHAR'}})
        """,
        "golden_release_diff": f"""
            SELECT Code, Economy_Label, Year, Variable,
                   "Value.old" AS Value_old, "Value.new" AS Value_new,
                   CommentEN, CommentFR
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_comparison.csv',
                          header=true, nullstr='NA',
                          columns={{'Code':'VARCHAR','Economy_Label':'VARCHAR',
                                    'Year':'INTEGER','Variable':'VARCHAR',
                                    'Value.old':'DOUBLE','Value.new':'DOUBLE',
                                    'CommentEN':'VARCHAR','CommentFR':'VARCHAR'}})
            -- the (2024, current) slice is where the reference's own two
            -- artifacts disagree with each other; excluded on both sides
            WHERE NOT (Year = 2024 AND Variable = 'GDP_at_current_prices')
        """,
        "golden_usis_export": f"""
            SELECT Series, Country, Year, Period, NAComponent, Measure,
                   Source, DataSource, Value, DataStatus,
                   DataConfidentiality, CommentEN, CommentFR,
                   CommentConfidentiality, RefDate
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_update_usis.csv',
                          header=true, nullstr='NA',
                          columns={{'Series':'VARCHAR','Country':'VARCHAR',
                                    'Year':'INTEGER','Period':'VARCHAR',
                                    'NAComponent':'VARCHAR','Measure':'VARCHAR',
                                    'Source':'VARCHAR','DataSource':'VARCHAR',
                                    'Value':'DOUBLE','DataStatus':'VARCHAR',
                                    'DataConfidentiality':'VARCHAR',
                                    'CommentEN':'VARCHAR','CommentFR':'VARCHAR',
                                    'CommentConfidentiality':'VARCHAR',
                                    'RefDate':'VARCHAR'}})
        """,
        "paragraph_dedup": """
            WITH g AS (
              SELECT CAST(floor(doc_id / 5) AS BIGINT) AS gid,
                     string_agg(text, chr(10)||chr(10) ORDER BY doc_id)
                       AS text
              FROM documents GROUP BY 1
            ),
            p AS (
              SELECT gid,
                     unnest(string_split(text, chr(10)||chr(10))) AS para,
                     unnest(range(1, len(string_split(text,
                       chr(10)||chr(10))) + 1)) AS pos
              FROM g
            ),
            r AS (
              SELECT gid, pos, para,
                     CASE WHEN length(trim(para)) >= 1
                          THEN row_number() OVER (
                            PARTITION BY md5(trim(para))
                            ORDER BY gid, pos)
                          ELSE 1 END AS rn
              FROM p
            )
            SELECT gid,
                   coalesce(string_agg(para, chr(10)||chr(10)
                     ORDER BY pos) FILTER (WHERE rn = 1), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_paragraphs,
                   CAST(count(*) FILTER (WHERE rn <> 1) AS BIGINT)
                     AS n_removed
            FROM r GROUP BY gid
        """,
        "doc_chunks": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\\s+')
                     END AS t
              FROM documents
            ),
            sized AS (
              SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0
            ),
            starts AS (
              SELECT doc_id, t, n,
                     unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS i
              FROM sized
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_id,
                   array_to_string(t[i*16 + 1 : i*16 + 32], ' ')
                     AS chunk_text,
                   CAST(least(32, n - i*16) AS INT) AS chunk_tokens
            FROM starts
            WHERE least(32, n - i*16) >= 1
        """,
        # chunking + md5-projection + fixed-point pooling replayed
        # end-to-end
        "chunk_embed_pool": r"""
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\s+')
                     END AS t
              FROM documents WHERE doc_id % 2 = 0
            ),
            sized AS (
              SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0
            ),
            starts AS (
              SELECT doc_id, t, n,
                     unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS i
              FROM sized
            ),
            chunks AS (
              SELECT doc_id,
                     array_to_string(t[i*16 + 1 : i*16 + 32], ' ')
                       AS chunk_text
              FROM starts
              WHERE least(32, n - i*16) >= 1
            ),
            emb AS (
              SELECT doc_id, r.k,
                     CAST(CAST(('0x' || substr(md5(chunk_text),
                            3 * CAST(r.k AS INT) + 1, 8)) AS BIGINT)
                          % 2001 - 1000 AS DOUBLE) / 1000.0 AS v
              FROM chunks, range(0, 8) r(k)
            ),
            s AS (
              SELECT doc_id, k,
                     CAST(SUM(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT)
                       AS sq,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM emb GROUP BY 1, 2
            )
            SELECT doc_id,
                   min(n) AS n_vecs,
                   string_agg(
                     CAST(CAST(floor(((CAST(sq AS DOUBLE) / 1e6) / n) * 1e6)
                               AS BIGINT) AS VARCHAR),
                     ',' ORDER BY k) AS centroid_csv
            FROM s GROUP BY doc_id
        """,
        "dedup_keep_best": """
            WITH m AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents
            ),
            s AS (
              SELECT doc_id, text,
                     CAST((doc_id * 2654435761) % 997 AS BIGINT) AS quality
              FROM m
              UNION ALL
              -- NULL-branch fixture rows (mirror the Spark query): NULL
              -- texts are ONE dup group; NULL quality ranks last
              SELECT * FROM (VALUES
                (CAST(900001 AS BIGINT), CAST(NULL AS VARCHAR),
                 CAST(7 AS BIGINT)),
                (CAST(900002 AS BIGINT), CAST(NULL AS VARCHAR),
                 CAST(NULL AS BIGINT)),
                (CAST(900003 AS BIGINT), CAST(NULL AS VARCHAR),
                 CAST(3 AS BIGINT)),
                (CAST(900004 AS BIGINT), 'null-quality-duel',
                 CAST(NULL AS BIGINT)),
                (CAST(900005 AS BIGINT), 'null-quality-duel',
                 CAST(5 AS BIGINT))
              ) t(doc_id, text, quality)
            )
            SELECT doc_id, text, quality,
                   CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                     AS dup_count
            FROM s
            QUALIFY row_number() OVER (
              PARTITION BY md5(text)
              ORDER BY quality DESC NULLS LAST, doc_id) = 1
        """,
        "boilerplate_lines": """
            WITH g AS (
              SELECT CAST(floor(doc_id / 5) AS BIGINT) AS gid,
                     '== SITE BANNER: accept cookies ==' || chr(10) ||
                     string_agg(text, chr(10) ORDER BY doc_id) || chr(10)
                     || 'lang: ' || min(lang) AS text
              FROM documents GROUP BY 1
            ),
            p AS (
              SELECT gid,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(1, len(string_split(text, chr(10)))
                       + 1)) AS pos
              FROM g
            ),
            f AS (
              SELECT gid, pos, line,
                     length(trim(line)) >= 1
                       AND count(DISTINCT gid) OVER (
                             PARTITION BY md5(trim(line))) > 2
                       AS dropped
              FROM p
            )
            SELECT gid,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                     FILTER (WHERE NOT dropped), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(count(*) FILTER (WHERE dropped) AS BIGINT)
                     AS n_removed
            FROM f GROUP BY gid
        """,
        "dup_ngram_profile": f"""
            WITH sh AS (SELECT doc_id, {sh8} AS sh FROM documents),
            e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            w AS (
              SELECT doc_id, g,
                     count(*) OVER (PARTITION BY g) AS freq
              FROM e
            ),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(count(*) FILTER (WHERE freq > 1) AS BIGINT)
                       AS n_dup
              FROM w GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
                   CASE WHEN coalesce(a.n_shingles, 0) > 0
                        THEN CAST(a.n_dup AS DOUBLE)
                             / CAST(a.n_shingles AS DOUBLE)
                        ELSE 0.0 END AS dup_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "vocab_coverage": f"""
            WITH tok AS (
              SELECT unnest({_TOKS_LOW}) AS token FROM documents
            ),
            c AS (
              SELECT token, CAST(count(*) AS BIGINT) AS cnt
              FROM tok WHERE token <> '' GROUP BY token
            ),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM c),
            top AS (
              SELECT token, cnt,
                     CAST(row_number() OVER (
                       ORDER BY cnt DESC, token) AS INT) AS rank
              FROM c ORDER BY cnt DESC, token LIMIT 200
            )
            SELECT token, cnt, rank,
                   CAST(cnt AS DOUBLE) / t AS share,
                   CAST(sum(cnt) OVER (ORDER BY rank) AS DOUBLE) / t
                     AS cum_share
            FROM top, tot
        """,
        "zorder_stats": f"""
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
        """,
        "incremental_dedup": """
            WITH corpus AS (
              SELECT doc_id, text, lang, source FROM documents
              WHERE doc_id % 5 < 3
            ),
            newdocs AS (
              SELECT doc_id, text, lang, source FROM documents
              WHERE doc_id % 5 >= 3
            ),
            batch AS (
              SELECT * FROM newdocs
              UNION ALL
              SELECT doc_id + 400000, text, lang, source FROM newdocs
              UNION ALL
              SELECT doc_id + 200000, text, lang, source FROM corpus
            ),
            surv AS (
              SELECT *,
                     CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                       AS batch_dup_count
              FROM batch
              QUALIFY row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id) = 1
            )
            SELECT doc_id, text, lang, source, batch_dup_count
            FROM surv s
            WHERE NOT EXISTS (
              SELECT 1 FROM corpus c WHERE md5(c.text) = md5(s.text))
        """,
        # same admission semantics as incremental_dedup, exercised
        # through the PERSISTED bucketed index; text equality stands in
        # for md5 equality (injective for dedup purposes on both sides)
        "index_dedup": """
            WITH corpus AS (
              SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
            ),
            batch AS (
              SELECT doc_id, text, lang, source FROM documents
              WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 10000, text, lang, source FROM documents
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000, text, lang, source FROM documents
              WHERE doc_id % 10 = 5
            ),
            surv AS (
              SELECT *,
                     CAST(count(*) OVER (PARTITION BY text) AS BIGINT)
                       AS batch_dup_count
              FROM batch
              QUALIFY row_number() OVER (
                PARTITION BY text ORDER BY doc_id) = 1
            )
            SELECT doc_id, lang, source, batch_dup_count
            FROM surv s
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = s.text)
        """,
        # first-principles expected canonical form (the variant
        # construction is known), NOT a regex replay — an independent
        # check of the Spark-side normalizer
        "url_dedup": """
            WITH urls AS (
              SELECT doc_id,
                     CAST(doc_id % 25 AS VARCHAR) AS r,
                     doc_id % 4 AS v
              FROM documents
            ),
            built AS (
              SELECT doc_id,
                     CASE v
                       WHEN 0 THEN 'https://www.example.com/p/' || r
                                   || '?utm_source=feed'
                       WHEN 1 THEN 'HTTPS://EXAMPLE.COM:443/p/' || r || '/'
                       WHEN 2 THEN 'https://example.com/p/' || r || '?b=2&a=1'
                       ELSE 'https://example.com/p/' || r || '#section'
                     END AS url,
                     'https://example.com/p/' || r
                       || CASE WHEN v = 2 THEN '?a=1&b=2' ELSE '' END
                       AS canonical
              FROM urls
            )
            SELECT doc_id, url, canonical,
                   CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
                     AS dup_count
            FROM built
            QUALIFY row_number() OVER (
              PARTITION BY canonical ORDER BY doc_id) = 1
        """,
        # windows of 20 whitespace tokens, global first occurrence by
        # (doc_id, position), token-granularity rebuild
        "substring_dedup": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''),
                                                    '\s+'),
                                 x -> x <> '') AS tk
              FROM documents
            ),
            wins AS (
              SELECT doc_id, i AS pos,
                     array_to_string(tk[(i*20+1):((i+1)*20)], ' ') AS win
              FROM toks, unnest(
                CASE WHEN len(tk) = 0 THEN [0]
                     ELSE range(0, CAST(ceil(len(tk) / 20.0) AS INT))
                END) AS u(i)
            ),
            ranked AS (
              SELECT doc_id, pos, win,
                     CASE WHEN length(win) > 0
                          THEN row_number() OVER (
                            PARTITION BY win ORDER BY doc_id, pos)
                          ELSE 1 END AS rk
              FROM wins
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN rk = 1 THEN win END, ' '
                                       ORDER BY pos), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_removed
            FROM ranked
            GROUP BY doc_id
        """,
        # per-source p25 on the replayed quality formula; ties at the
        # threshold kept; p25 position is integer (25 docs/source at
        # sf0.01) so quantile_cont == Spark percentile bit-for-bit
        "quality_gate": f"""
            WITH q AS (
              SELECT doc_id, source, {quality} AS quality FROM documents
            ),
            thr AS (
              SELECT source, quantile_cont(quality, 0.25) AS threshold
              FROM q GROUP BY source
            )
            SELECT doc_id, q.source, quality, threshold
            FROM q JOIN thr USING (source)
            WHERE quality >= threshold
        """,
        # distinct-shingle overlap fraction vs the %50 benchmark;
        # dirty at integer-millis >= 500/1000
        "contamination_frac": f"""
            WITH bs AS (
              SELECT DISTINCT unnest({sh8}) AS s
              FROM documents WHERE doc_id % 50 = 0),
            ds AS (
              SELECT DISTINCT doc_id, unnest({sh8}) AS s FROM documents),
            agg AS (
              SELECT ds.doc_id,
                     CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(count(bs.s) AS BIGINT) AS n_overlap
              FROM ds LEFT JOIN bs USING (s) GROUP BY ds.doc_id)
            SELECT d.doc_id,
                   coalesce(a.n_shingles, 0) AS n_shingles,
                   coalesce(a.n_overlap, 0) AS n_overlap,
                   CASE WHEN coalesce(a.n_shingles, 0) > 0
                        THEN CAST(a.n_overlap AS DOUBLE)
                             / CAST(a.n_shingles AS DOUBLE) END AS overlap_frac,
                   coalesce(a.n_shingles, 0) > 0
                     AND coalesce(a.n_overlap, 0) * 1000
                         >= 500 * coalesce(a.n_shingles, 0) AS is_dirty
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        # exhaustive brute-force near-dup oracle: every (batch, corpus)
        # pair's exact Jaccard over the same distinct 5-token shingles;
        # LSH recall at 0.8 with 8 bands x 2 rows is lossless whp
        "minhash_index": f"""
            WITH corpus AS (
              SELECT doc_id AS corpus_id, {sh} AS sh
              FROM documents WHERE doc_id % 4 = 0
            ),
            batch AS (
              SELECT doc_id AS batch_id, {sh} AS sh
              FROM documents WHERE doc_id % 4 = 2
              UNION ALL
              SELECT doc_id + 10000 AS batch_id, {sh_mirror} AS sh
              FROM documents WHERE doc_id % 20 = 0
            ),
            scored AS (
              SELECT batch_id, corpus_id,
                     len(list_intersect(b.sh, c.sh)) AS i,
                     len(b.sh) + len(c.sh)
                       - len(list_intersect(b.sh, c.sh)) AS u
              FROM batch b JOIN corpus c
                ON len(b.sh) > 0 AND len(c.sh) > 0
            )
            SELECT batch_id, corpus_id,
                   CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
            FROM scored WHERE i * 1000 >= 800 * u
        """,
        # availability^0.5 shares, ppm-floored rates, md5 keep —
        # integer everywhere except sqrt (IEEE-exact both engines)
        "temperature_mix": r"""
            WITH toks AS (
              SELECT doc_id, source,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS n_tokens
              FROM documents
            ),
            avail AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS f
              FROM toks GROUP BY source
            ),
            tot AS (SELECT SUM(sqrt(CAST(f AS DOUBLE))) AS t FROM avail),
            rates AS (
              SELECT source,
                     least(1000000, CAST(floor(
                       20000.0 * sqrt(CAST(f AS DOUBLE)) / t
                       / CAST(f AS DOUBLE) * 1000000.0) AS BIGINT))
                       AS rate_ppm
              FROM avail, tot
            )
            SELECT t.doc_id, t.source, CAST(t.n_tokens AS INT) AS n_tokens,
                   r.rate_ppm
            FROM toks t JOIN rates r USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)
                        || ':' || 'temp'), 1, 8)) AS BIGINT) % 1000000
                  < r.rate_ppm
        """,
        "shard_assign": """
            WITH h AS (
              SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR) || ':' || '42') AS hh
              FROM documents
            ),
            s AS (
              SELECT doc_id, hh,
                     CAST(CAST('0x' || substr(hh, 1, 8) AS BIGINT) % 16
                          AS INT) AS shard_id
              FROM h
            )
            SELECT doc_id, shard_id,
                   CAST(row_number() OVER (
                     PARTITION BY shard_id ORDER BY hh, doc_id) AS BIGINT)
                     AS shard_pos
            FROM s
        """,
        "shard_manifest": f"""
            SELECT CAST(CAST('0x' || substr(
                     md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8)
                     AS BIGINT) % 16 AS INT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS_RAW})) AS BIGINT) AS n_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
                        AS BIGINT) AS content_checksum
            FROM documents GROUP BY 1
        """,
        "blocklist_filter": r"""
            WITH t AS (
              SELECT doc_id,
                     list_sort(list_intersect(
                       list_distinct(
                         string_split_regex(lower(trim(text)), '\s+')),
                       ['slow', 'stream', 'vector'])) AS m
              FROM documents
            )
            SELECT doc_id,
                   coalesce(array_to_string(m, ','), '') AS matched_terms,
                   CAST(len(m) AS INT) AS n_matched,
                   len(m) > 1 AS flagged
            FROM t
        """,
        "norm_dedup": r"""
            WITH m AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, '** ' || upper(text) || ' ... '
              FROM documents
            ),
            n AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(regexp_replace(
                       translate(lower(coalesce(text, '')),
                         'áàâäãåéèêëíìîïóòôöõúùûüçñýÿ',
                         'aaaaaaeeeeiiiiooooouuuucnyy'),
                       '[0-9]', '0', 'g'),
                       '[^\p{L}\p{N}\s]', '', 'g'),
                       '\s+', ' ', 'g')) AS norm
              FROM m
            )
            SELECT min(doc_id) AS doc_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM n GROUP BY md5(norm)
        """,
        "source_report": f"""
            WITH per AS (
              SELECT source, lang, md5(text) AS h,
                     CAST(len({_TOKS_RAW}) AS BIGINT) AS tok,
                     CAST(floor(({quality}) * 1e9) AS BIGINT) AS q
              FROM documents
            ),
            base AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
                     CAST(sum(tok) AS BIGINT) AS n_tokens,
                     CAST(sum(q) AS BIGINT) AS qsum
              FROM per GROUP BY 1
            ),
            lc AS (
              SELECT source, lang, count(*) AS n FROM per GROUP BY 1, 2
            ),
            ent AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_langs,
                     CAST(sum(CAST(floor(
                       -((CAST(n AS DOUBLE) / t)
                         * ln(CAST(n AS DOUBLE) / t)) * 1e9)
                       AS BIGINT)) AS BIGINT) AS csum
              FROM (SELECT source, lang, n,
                           CAST(sum(n) OVER (PARTITION BY source)
                                AS DOUBLE) AS t
                    FROM lc)
              GROUP BY 1
            )
            SELECT b.source, n_docs, n_distinct_texts,
                   CAST(1 AS DOUBLE)
                     - CAST(n_distinct_texts AS DOUBLE)
                     / CAST(n_docs AS DOUBLE) AS dup_rate,
                   n_tokens,
                   CAST(qsum AS DOUBLE) / 1e9 / CAST(n_docs AS DOUBLE)
                     AS mean_quality,
                   n_langs,
                   CAST(csum AS DOUBLE) / 1e9 AS lang_entropy
            FROM base b JOIN ent e USING (source)
        """,
        "mean_pool": """
            WITH e AS (
              SELECT label,
                     unnest(range(1, len(embedding) + 1)) AS pos,
                     unnest(embedding) AS v
              FROM embeddings
            ),
            s AS (
              SELECT label, pos,
                     CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6)
                                   AS BIGINT)) AS BIGINT) AS sq,
                     CAST(count(*) AS BIGINT) AS n
              FROM e GROUP BY 1, 2
            )
            SELECT label,
                   min(n) AS n_vecs,
                   string_agg(
                     CAST(CAST(floor(((CAST(sq AS DOUBLE) / 1e6) / n) * 1e6)
                               AS BIGINT) AS VARCHAR),
                     ',' ORDER BY pos) AS centroid_csv
            FROM s GROUP BY label
        """,
        "flagship_revenue": _FLAGSHIP_SQL,
        "projection": "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
        "neg_projection": "SELECT n_nationkey, n_name FROM nation",
        "compute_project": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1.0 - l_discount) AS revenue,
                   (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charge
            FROM lineitem
        """,
        "filter_in": f"""
            SELECT o_orderpriority, count(*) AS n, {_dsum_sql('o_totalprice')} AS total
            FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY o_orderpriority
        """,
        "filter_band": f"""
            SELECT l_returnflag, count(*) AS n, {_dsum_sql('l_quantity')} AS sum_qty
            FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
            GROUP BY l_returnflag
        """,
        "filter_strlen": """
            SELECT n_name, CAST(length(n_name) AS INT) AS name_len
            FROM nation WHERE length(n_name) < 9
        """,
        "filter_compound": """
            SELECT o_orderstatus, count(*) AS n FROM orders
            WHERE (o_orderstatus = 'F' AND o_totalprice > 100000)
               OR o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus
        """,
        "drop_na": """
            SELECT c.c_custkey, c.c_mktsegment, o.n_orders
            FROM customer c
            JOIN (SELECT o_custkey AS c_custkey, count(*) AS n_orders
                  FROM orders GROUP BY o_custkey) o USING (c_custkey)
        """,
        "distinct_values": "SELECT DISTINCT c_mktsegment FROM customer",
        "join_composite": """
            WITH daily AS (
              SELECT user_id, event_type, date_trunc('day', ts) AS day, count(*) AS n_day
              FROM events GROUP BY 1, 2, 3),
            totals AS (
              SELECT user_id, event_type, count(*) AS n_total
              FROM events GROUP BY 1, 2)
            SELECT d.user_id, d.event_type, CAST(d.day AS TIMESTAMP) AS day,
                   d.n_day, t.n_total
            FROM daily d JOIN totals t USING (user_id, event_type)
        """,
        "left_join_sum_zero": """
            SELECT n_name,
                   COALESCE(CAST(SUM(CAST(s_acctbal AS DECIMAL(28,6))) AS DOUBLE), 0.0)
                     AS rich_bal,
                   count(s_suppkey) AS n_rich
            FROM nation LEFT JOIN (SELECT * FROM supplier WHERE s_acctbal > 4000) s
              ON n_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "join_suffix": """
            WITH sup AS (SELECT s_nationkey AS nationkey,
                           CAST(SUM(CAST(s_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                             / COUNT(s_acctbal) AS avg_bal_sup
                         FROM supplier GROUP BY 1),
                 cus AS (SELECT c_nationkey AS nationkey,
                           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                             / COUNT(c_acctbal) AS avg_bal_cus
                         FROM customer GROUP BY 1)
            SELECT nationkey, avg_bal_sup, avg_bal_cus FROM sup JOIN cus USING (nationkey)
        """,
        "join_label": f"""
            SELECT d.label, count(*) AS n, {_dsum_sql('c_acctbal')} AS total_bal
            FROM customer c LEFT JOIN (VALUES {seg_values}) d(seg, label)
              ON c.c_mktsegment = d.seg
            GROUP BY d.label
        """,
        "diff_classify": f"""
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
        """,
        "closure_leaves": _CLOSURE_SQL,
        "rollup_hierarchy": f"""
            WITH closure AS ({_CLOSURE_SQL}),
                 fact AS (SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS code, c_acctbal
                          FROM customer)
            SELECT closure.parent AS group_code,
                   COALESCE(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 0.0)
                     AS total_bal
            FROM fact JOIN closure ON fact.code = closure.child
            GROUP BY closure.parent
        """,
        "scalar_share": f"""
            WITH j AS (SELECT n_name, o_totalprice
                       FROM orders JOIN customer ON o_custkey = c_custkey
                                   JOIN nation ON c_nationkey = n_nationkey)
            SELECT n_name, {_dsum_sql('o_totalprice')} AS revenue,
                   {_dsum_sql('o_totalprice')} /
                     (SELECT {_dsum_sql('o_totalprice')} FROM j) AS share
            FROM j GROUP BY n_name
        """,
        "group_first": """
            SELECT user_id, min(event_type) AS first_type, count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "gaps_islands": """
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
        """,
        "base_broadcast": f"""
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
        """,
        "group_extrema": """
            SELECT user_id, event_id, value FROM events
            QUALIFY abs(value) = max(abs(value)) OVER (PARTITION BY user_id)
        """,
        "topk_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 19
        """,
        "union_by_name": """
            SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
                   c_mktsegment AS segment
            FROM customer
            UNION ALL
            SELECT s_suppkey, s_name, s_acctbal, CAST(NULL AS VARCHAR) FROM supplier
        """,
        "conditional_overwrite": """
            SELECT CASE WHEN n_name = 'NATION_3' THEN 'EU-FR'
                        WHEN n_regionkey = 2 THEN 'ASIA-X'
                        WHEN n_nationkey >= 20 THEN 'HIGH'
                        ELSE n_name END AS code,
                   count(*) AS n
            FROM nation GROUP BY 1
        """,
        "recode_values": """
            SELECT CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V'
                        WHEN 'purchase' THEN 'P' ELSE 'OTHER' END AS code,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "pad_codes": """
            SELECT n_name,
                   lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS code,
                   CAST(length(lpad(CAST(n_nationkey AS VARCHAR), 3, '0')) AS INT)
                     AS code_len,
                   lpad(CAST(n_nationkey AS VARCHAR), 3, '0') || '-' || n_name AS tag
            FROM nation
        """,
        "ref_date_stamp": """
            SELECT r_name, strftime(DATE '2025-08-29', '%-d-%b-%y') AS stamp FROM region
        """,
        "csv_roundtrip": """
            SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS code,
                   n_name, CAST(n_regionkey AS VARCHAR) AS region_code
            FROM nation
        """,
        "salted_join": f"""
            SELECT c_mktsegment, count(*) AS n, {_dsum_sql('o_totalprice')} AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "rolling_window": f"""
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
        """,
        "bankers_round": """
            SELECT l_returnflag,
                   CAST(SUM(CAST(round_even(l_quantity / 2.0, 0) AS BIGINT)) AS BIGINT)
                     AS sum_half_qty,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "interpolate": f"""
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
        """,
        "sci_format": f"""
            SELECT o_orderpriority,
                   printf('%.3e', {_dsum_sql('o_totalprice')}) AS total_sci
            FROM orders GROUP BY o_orderpriority
        """,
        "pivot_wide": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN l_returnflag = 'A'
                            THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "A",
                   CAST(SUM(CASE WHEN l_returnflag = 'N'
                            THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "N",
                   CAST(SUM(CASE WHEN l_returnflag = 'R'
                            THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS "R"
            FROM lineitem GROUP BY l_linestatus
        """,
        "unpivot_long": f"""
            SELECT l_linestatus, l_returnflag, {_dsum_sql('l_quantity')} AS sum_qty
            FROM lineitem GROUP BY 1, 2
        """,
        "hash_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8))
                       AS BIGINT)
                  < CASE WHEN lang = 'en' THEN 429496729
                         WHEN lang = 'de' THEN 4294967296
                         ELSE 2147483648 END
        """,
        # SemDeDup: shared k-means CTE chain + intra-cell cosine pairs
        "semantic_dedup": _semantic_dedup_sql(),
        "semantic_decontam": f"""
            WITH d AS (SELECT vec_id, embedding,
                       {", ".join(f"{_rademacher_bucket_sql(4, 64, f'sd:{t}')} AS b{t}" for t in range(4))}
                       FROM embeddings WHERE vec_id >= 50),
            b AS (SELECT vec_id, embedding,
                  {", ".join(f"{_rademacher_bucket_sql(4, 64, f'sd:{t}')} AS b{t}" for t in range(4))}
                  FROM embeddings WHERE vec_id < 50),
            -- OR-join = union of the 4 tables' candidates with per-pair
            -- dedup built in (each (d,b) pair emitted at most once)
            p AS (
              SELECT d.vec_id AS d_id,
                     {_cos_sql('d.embedding', 'b.embedding')} AS sim
              FROM d JOIN b
                ON (d.b0 = b.b0 OR d.b1 = b.b1 OR d.b2 = b.b2
                    OR d.b3 = b.b3))
            SELECT d_id AS vec_id, COUNT(*) AS n_hits, MAX(sim) AS max_sim
            FROM p WHERE sim >= 0.3 GROUP BY d_id
        """,
        # the ORC write/read is Spark-side plumbing; the oracle checks
        # the data contract (same rows as filtering the source table)
        "orc_roundtrip": """
            SELECT c_nationkey, COUNT(*) AS n_cust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                     AS total_bal
            FROM customer WHERE c_mktsegment = 'BUILDING'
            GROUP BY c_nationkey
        """,
        # Q2 shape: the correlated scalar subquery, decorrelated the
        # same way on both engines (group-wise min + equi-join back)
        "min_cost_supplier": """
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
        """,
        # Q22 shape: global scalar threshold (deterministic decimal-sum
        # mean) + NOT EXISTS anti-join + aggregation
        "top_acctbal_no_orders": """
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
        """,
        # Q5 shape: 5-way star + same-nation residual
        "regional_volume": f"""
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
        """,
        # Q8 shape: conditional-numerator market-share ratio per year
        "market_share": f"""
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
        """,
        # Q9 shape: profit by supplier nation x order year
        "nation_profit": f"""
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
        """,
        # Q13 shape: orders-per-customer distribution incl. zero
        "order_count_dist": """
            WITH per_cust AS (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN (
                SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'
              ) o ON c_custkey = o.o_custkey
              GROUP BY c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        # Q14 shape: promo revenue share for one ship month
        "promo_ratio": f"""
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
        """,
        # Q15 shape: supplier(s) at the quarterly revenue max
        "top_supplier": f"""
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
        """,
        # Q17 shape: decorrelated per-part AVG threshold
        "small_qty_revenue": """
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
        """,
        # Q18 shape: HAVING-sum survivors joined back, top-100
        "big_order_customers": f"""
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
        """,
        # Q19 shape: OR-of-ANDs residual over the partkey equi-join
        "disjunctive_revenue": f"""
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
        """,
        # Q4 shape: EXISTS with a cross-table lateness predicate
        "late_orders": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate <  TIMESTAMP '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate
                                               + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        # Q6 shape: pure pushdown + map-side agg, no join
        "forecast_revenue": f"""
            SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue_delta,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        # Q11 shape: group agg HAVING > global-scalar share
        "important_parts": f"""
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
        """,
        # Q12 shape: lateness join residual + conditional CASE sums
        "priority_by_flag": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            GROUP BY l_returnflag
        """,
        # Q16 shape: blacklist anti-join BEFORE a grouped distinct count
        "part_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size IN (1, 9, 19, 23)
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        # Q20 shape: decorrelated share-threshold + semi-join chain
        "excess_suppliers": f"""
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
        """,
        # per-column value histograms, fixed-point -p ln p sums
        "column_entropy": _COLUMN_ENTROPY_SQL,
        # prefix filter replayed: same rarest-first order, exact prefix
        # len, integer-millis verification
        # integer-millis verification
        "prefix_jaccard": r"""
            WITH sampled AS (
              SELECT * FROM documents
              WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ':' || 'pj'), 1, 8)) AS BIGINT) < 1288490188
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(list_distinct(string_split_regex(
                         lower(trim(text)), '\s+')), x -> x <> '') AS tk
              FROM sampled
              WHERE len(list_filter(list_distinct(string_split_regex(
                         lower(trim(text)), '\s+')), x -> x <> '')) > 0
            ),
            tok_rows AS (
              SELECT t.doc_id, u.tok
              FROM toks t, unnest(t.tk) AS u(tok)
            ),
            freq AS (SELECT tok, COUNT(*) AS tf FROM tok_rows GROUP BY tok),
            ordered AS (
              SELECT tr.doc_id, list(tr.tok ORDER BY f.tf, tr.tok) AS ord
              FROM tok_rows tr JOIN freq f USING (tok)
              GROUP BY tr.doc_id
            ),
            pref AS (
              SELECT doc_id,
                     unnest(list_slice(ord, 1,
                       CAST(len(ord)
                            - floor((800 * len(ord) + 999) / 1000)
                            + 1 AS INT))) AS tok
              FROM ordered
            ),
            cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM pref a JOIN pref b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
            ),
            v AS (
              SELECT id_a, id_b,
                     CAST(len(list_filter(ta.tk,
                          x -> list_contains(tb.tk, x))) AS BIGINT) AS i,
                     CAST(len(ta.tk) AS BIGINT) + CAST(len(tb.tk) AS BIGINT)
                       - CAST(len(list_filter(ta.tk,
                          x -> list_contains(tb.tk, x))) AS BIGINT) AS u
              FROM cands
              JOIN toks ta ON id_a = ta.doc_id
              JOIN toks tb ON id_b = tb.doc_id
            )
            SELECT id_a, id_b, i AS n_common,
                   CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
            FROM v WHERE i * 1000 >= 800 * u
        """,
        # seasonal-naive residuals + robust flags, grid-densified
        "seasonal_anomalies": """
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
        """,
        # drifted-schema merge: NULL tag for pre-drift rows
        "schema_evolution": """
            SELECT CAST(id AS BIGINT) AS id, CAST(v AS DOUBLE) AS v,
                   CAST(tag AS VARCHAR) AS tag
            FROM (VALUES (1, 10.0, NULL), (2, 20.0, NULL),
                         (3, 30.0, 'x'), (4, 40.0, 'y')) t(id, v, tag)
        """,
        # 14 sufficient sums, one aggregation, identical closed forms
        "corr_matrix": """
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
        """,
        # Fellegi-Sunter replayed: same md5 dirt, same millis weights
        "record_linkage": """
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
        """,
        # Benford screen: identical expectation literals both engines,
        # digit from the exact cents string
        "benford": """
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
        """,
        # calendar family: ISO fields and truncations mirrored exactly
        "datetime_funcs": """
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
        """,
        # HOF array family: list_* mirrors, BIGINT-cents fold
        "array_map_funcs": """
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
        """,
        # relational replay of the cogroup path: exact integer cents
        "cogroup_reconcile": """
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
        """,
        # the tick feed regenerated row-for-row from generate_series
        "python_datasource": f"""
            WITH feed AS (
              SELECT i AS tick_id,
                     'SYM' || CAST(i % 23 AS VARCHAR) AS symbol,
                     CAST((i * 2654435761) % 100000 AS DOUBLE) / 100.0
                       AS price,
                     CASE WHEN (i * 40503) % 7 < 4 THEN 'B' ELSE 'S' END
                       AS side
              FROM (SELECT unnest(generate_series(0, 9999)) AS i)
            )
            SELECT symbol, COUNT(*) AS n_ticks,
                   {_dsum_sql('price')} AS price_sum,
                   CAST(SUM(CASE WHEN side = 'B' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_buys
            FROM feed GROUP BY symbol
        """,
        # same md5-bucket rank replayed: hash_sample's portable recipe
        "sample_per_group": """
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY CAST(concat('0x', substring(md5(
                                  concat_ws(':', CAST(doc_id AS VARCHAR),
                                            'pg')), 1, 8)) AS BIGINT),
                                doc_id) AS rk
              FROM documents) t
            WHERE rk <= 5
        """,
        # count-min sketch rebuilt cell-for-cell: same md5 bucketing,
        # same min-over-rows readout — full hash equality on estimates
        "cms_heavy_hitters": """
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
        """,
        # id-ordered triangle recount (per-vertex counts are
        # orientation-independent, so this mirrors the degree-ordered
        # engine exactly)
        "triangle_count": """
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
        """,
        # corpus trigram LM rebuilt end-to-end: same normalization,
        # same top-4096 vocabulary (count desc, trigram tie-break),
        # same floor(ln * 1e9) quantization, exact integer sums
        "lm_score": r"""
            WITH docs AS (
              SELECT * FROM documents WHERE doc_id % 2 = 0
            ),
            norm AS (
              SELECT doc_id,
                     lower(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))
                       AS nt
              FROM docs
            ),
            tri AS (
              SELECT doc_id, unnest(
                       CASE WHEN length(nt) >= 3
                            THEN list_transform(range(1, length(nt) - 1),
                                                i -> substr(nt, CAST(i AS INT), 3))
                            ELSE [] END) AS tri
              FROM norm
            ),
            counts AS (SELECT tri, COUNT(*) AS c FROM tri GROUP BY tri),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total FROM counts),
            model AS (
              SELECT tri,
                     CAST(floor(ln(CAST(c + 1 AS DOUBLE)
                                   / CAST(t_total + 4097 AS DOUBLE))
                                * 1000000) AS BIGINT) AS logp_q
              FROM counts, tot
              ORDER BY c DESC, tri LIMIT 4096
            ),
            unseen AS (
              SELECT CAST(floor(ln(1.0 / CAST(t_total + 4097 AS DOUBLE))
                                * 1000000) AS BIGINT) AS unseen_q
              FROM tot
            ),
            scored AS (
              SELECT t.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tri,
                     CAST(SUM(coalesce(m.logp_q, u.unseen_q)) AS BIGINT)
                       AS sum_logp_q
              FROM tri t LEFT JOIN model m USING (tri), unseen u
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_tri, 0) AS n_tri,
                   s.sum_logp_q,
                   CASE WHEN coalesce(s.n_tri, 0) > 0
                        THEN (CAST(s.sum_logp_q AS DOUBLE) / 1000000)
                             / CAST(s.n_tri AS DOUBLE) END AS avg_logp
            FROM docs d LEFT JOIN scored s USING (doc_id)
        """,
        # lm_score's scoring replayed, then per-language ntile(3) with
        # the same (avg_logp DESC, doc_id) tie-broken order
        "lm_buckets": r"""
            WITH docs AS (
              SELECT * FROM documents WHERE doc_id % 2 = 0
            ),
            norm AS (
              SELECT doc_id,
                     lower(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))
                       AS nt
              FROM docs
            ),
            tri AS (
              SELECT doc_id, unnest(
                       CASE WHEN length(nt) >= 3
                            THEN list_transform(range(1, length(nt) - 1),
                                                i -> substr(nt, CAST(i AS INT), 3))
                            ELSE [] END) AS tri
              FROM norm
            ),
            counts AS (SELECT tri, COUNT(*) AS c FROM tri GROUP BY tri),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total FROM counts),
            model AS (
              SELECT tri,
                     CAST(floor(ln(CAST(c + 1 AS DOUBLE)
                                   / CAST(t_total + 4097 AS DOUBLE))
                                * 1000000) AS BIGINT) AS logp_q
              FROM counts, tot
              ORDER BY c DESC, tri LIMIT 4096
            ),
            unseen AS (
              SELECT CAST(floor(ln(1.0 / CAST(t_total + 4097 AS DOUBLE))
                                * 1000000) AS BIGINT) AS unseen_q
              FROM tot
            ),
            scored AS (
              SELECT t.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tri,
                     CAST(SUM(coalesce(m.logp_q, u.unseen_q)) AS BIGINT)
                       AS sum_logp_q
              FROM tri t LEFT JOIN model m USING (tri), unseen u
              GROUP BY t.doc_id
            ),
            avg AS (
              SELECT d.doc_id, d.lang,
                     CASE WHEN coalesce(s.n_tri, 0) > 0
                          THEN (CAST(s.sum_logp_q AS DOUBLE) / 1000000)
                               / CAST(s.n_tri AS DOUBLE) END AS avg_logp
              FROM docs d LEFT JOIN scored s USING (doc_id)
            ),
            bucketed AS (
              SELECT doc_id, lang, avg_logp,
                     CAST(ntile(3) OVER (PARTITION BY lang
                                         ORDER BY avg_logp DESC, doc_id)
                          AS INT) AS bucket
              FROM avg WHERE avg_logp IS NOT NULL
            )
            SELECT doc_id, lang, avg_logp, bucket,
                   CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket_label
            FROM bucketed
            UNION ALL
            SELECT doc_id, lang, avg_logp, CAST(NULL AS INT) AS bucket,
                   'unscored' AS bucket_label
            FROM avg WHERE avg_logp IS NULL
        """,
        # dense global ordinals: the oracle IS the naive global
        # row_number the distributed prefix-sum must reproduce exactly
        "row_ids": """
            SELECT o_orderkey, o_orderdate, o_totalprice,
                   CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                        AS BIGINT) - 1 AS row_id
            FROM orders
        """,
        # half-open interval overlap, per-customer
        "interval_overlap": """
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
        """,
        # Q21 shape: EXISTS + NOT EXISTS double self-join on the fact
        "waiting_supplier": """
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
        """,
        # full unrolled replay of the fixed-point Lloyd iterations:
        # hash-seeded centroids (c0), two assignment+update passes
        # (a1/c1, a2/c2), final assignment vs c2.  All-integer
        # arithmetic (quantize floor((x+1)*1e6), exact squared
        # distances, floor-division updates) makes every intermediate
        # bit-identical to the Spark run.
        "kmeans_assign": """
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000.0)
                                 AS BIGINT)) AS q,
                     CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':km'),
                                          1, 8)) AS BIGINT) AS h
              FROM embeddings
            ),
            c0 AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster,
                     q AS c
              FROM q QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 8
            ),
            d1 AS (
              SELECT v.vec_id, v.q, c.cluster,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])))
                       AS BIGINT) AS d2
              FROM q v CROSS JOIN c0 c
            ),
            a1 AS (
              SELECT vec_id, q, cluster FROM d1
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster) = 1
            ),
            u1 AS (
              SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS s, COUNT(*) AS n
              FROM a1 a, (SELECT unnest(range(1, 65)) AS i) t
              GROUP BY a.cluster, t.i
            ),
            c1 AS (
              SELECT c0.cluster, COALESCE(upd.c, c0.c) AS c
              FROM c0 LEFT JOIN (
                SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY dim) AS c
                FROM u1 GROUP BY cluster
              ) upd USING (cluster)
            ),
            d2_ AS (
              SELECT v.vec_id, v.q, c.cluster,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])))
                       AS BIGINT) AS d2
              FROM q v CROSS JOIN c1 c
            ),
            a2 AS (
              SELECT vec_id, q, cluster FROM d2_
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster) = 1
            ),
            u2 AS (
              SELECT a.cluster, t.i AS dim, SUM(a.q[t.i]) AS s, COUNT(*) AS n
              FROM a2 a, (SELECT unnest(range(1, 65)) AS i) t
              GROUP BY a.cluster, t.i
            ),
            c2 AS (
              SELECT c1.cluster, COALESCE(upd.c, c1.c) AS c
              FROM c1 LEFT JOIN (
                SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY dim) AS c
                FROM u2 GROUP BY cluster
              ) upd USING (cluster)
            ),
            d3 AS (
              SELECT v.vec_id, c.cluster,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])))
                       AS BIGINT) AS d2
              FROM q v CROSS JOIN c2 c
            )
            SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, d2 AS dist2
            FROM d3
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cluster) = 1
        """,
        # rates in exact BIGINT ppm, membership by md5-bucket mod 1e6 —
        # bit-for-bit the mix_to_budget recipe
        "corpus_mix": """
            WITH avail AS (
              -- CAST: DuckDB SUM(int) is HUGEINT, which would infect
              -- rate_ppm and break the driver's int64 hash (r3 red)
              SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS av
              FROM documents GROUP BY lang
            ),
            w(lang, wt) AS (
              VALUES ('en', 4), ('de', 2), ('fr', 2), ('es', 1), ('zh', 1)
            ),
            rates AS (
              SELECT a.lang,
                     CAST(LEAST(CAST(1000000 AS BIGINT),
                           (CAST(60000 AS BIGINT) * w.wt * 1000000)
                             // (10 * a.av)) AS BIGINT) AS rate_ppm
              FROM avail a JOIN w USING (lang)
            )
            SELECT d.doc_id, d.lang, d.n_chars, r.rate_ppm
            FROM documents d JOIN rates r USING (lang)
            WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                            || ':mix'), 1, 8)) AS BIGINT)
                   % 1000000) < r.rate_ppm
        """,
        "array_agg": """
            SELECT user_id,
                   CAST(len(list_sort(list(DISTINCT event_type))) AS INT)
                     AS n_types,
                   list_contains(list(DISTINCT event_type), 'purchase')
                     AS has_purchase,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                     AS types_csv
            FROM events GROUP BY user_id
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "minhash_lsh": f"""
            WITH sh AS (SELECT doc_id, {sh} AS sh FROM documents)
            SELECT * FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               AND len(a.sh) * 5 >= len(b.sh) * 4
               AND len(b.sh) * 5 >= len(a.sh) * 4)
            WHERE jaccard >= 0.8
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE
            sh AS (SELECT doc_id, {sh} AS sh FROM documents),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                 AND len(a.sh) * 5 >= len(b.sh) * 4
                 AND len(b.sh) * 5 >= len(a.sh) * 4)
              WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS u, id_b AS v FROM p
                      UNION SELECT id_b, id_a FROM p),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, w.reach FROM edges e JOIN walk w ON e.v = w.node),
            comp AS (SELECT node, min(reach) AS component
                     FROM walk GROUP BY node)
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS cluster_id,
                   d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """,
        # the within-batch admission stage: 16 bands x 1 row ->
        # P[candidate miss] = (1-J)^16 <= 6.6e-12 AT J=0.8, so the
        # exact all-pairs oracle is exhaustive at the threshold itself;
        # admit = min reachable id of the exact-Jaccard pair graph
        # over the batch + mirror corpus
        "batch_screen": f"""
            WITH RECURSIVE
            corpus AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 20000, text || ' slightly changed mirror',
                     lang
              FROM documents WHERE doc_id % 6 = 0
            ),
            sh AS (SELECT doc_id, {sh} AS sh FROM corpus),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       {jaccard} AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                 AND len(a.sh) * 5 >= len(b.sh) * 4
                 AND len(b.sh) * 5 >= len(a.sh) * 4)
              WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS u, id_b AS v FROM p
                      UNION SELECT id_b, id_a FROM p),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, w.reach FROM edges e JOIN walk w ON e.v = w.node),
            comp AS (SELECT node, min(reach) AS component
                     FROM walk GROUP BY node)
            SELECT c.doc_id, c.lang
            FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
            WHERE coalesce(comp.component, c.doc_id) = c.doc_id
        """,
        # the Observation contract is "these aggregates over the rows
        # that flowed through the observed stage" — replayed declaratively
        # (the NULL-lang literal row exercises the null counters)
        "observed_profile": """
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
        """,
        # extract_links + url_host replayed pattern-for-pattern (both
        # RE2); relative links' empty host nullifies and drops
        "link_graph": r"""
            WITH h AS (
              SELECT doc_id,
                     '<p>Doc</p><a href="https://WWW.Site'
                     || CAST(doc_id % 7 AS VARCHAR) || '.example.com:443/p/'
                     || CAST(doc_id AS VARCHAR)
                     || '">x</a> <a class=l href=''//cdn'
                     || CAST(doc_id % 3 AS VARCHAR)
                     || '.example.net/asset''>y</a> <a href="/rel/'
                     || CAST(doc_id AS VARCHAR)
                     || '">z</a> <a href="https://crawler@WWW.Site'
                     || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/u">u</a> <a href=''http://[2001:db8::'
                     || CAST(doc_id % 2 AS VARCHAR)
                     || ']:8080/v''>v</a>' AS t
              FROM documents
            ),
            links AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(t,
                       '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["'']', 1))
                       AS link
              FROM h
            ),
            hosts AS (
              SELECT doc_id,
                     nullif(regexp_replace(regexp_replace(
                       regexp_replace(
                         lower(regexp_extract(trim(link),
                           '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]+)', 1)),
                         '^[^@]*@', ''),
                       '^(\[[^\]]*\]|[^:\[]*)(:[0-9]+)$', '\1'),
                       '^www\.', ''), '') AS host
              FROM links
            )
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc
            FROM hosts WHERE host IS NOT NULL
            GROUP BY host
        """,
        # generated CTE replay of PQ train/encode/ADC (see _pq_sql)
        "pq_topk": _pq_sql(rerank=50),
        # the persisted-index lifecycle: same generated chain, training
        # set restricted to the day-1 write batch (see q_pq_index)
        "pq_index": _pq_sql(queries=(0, 1, 2), k=10,
                            train_where="vec_id % 2 = 0"),
        # generated CTE replay of the fixed-point IVF train/assign/
        # probe/score chain (see _ivf_sql) — upgraded from rows-only
        "ivf_topk": _ivf_sql(),
        # the persisted-index lifecycle: same generated chain, training
        # set restricted to the day-1 write batch (see q_ivf_index)
        "ivf_index": _ivf_sql(train_where="vec_id % 2 = 0"),
        # index CHURN replays (see q_ivf_upsert / q_pq_upsert): train
        # on original day-1 rows, assign/encode/probe the FINAL logical
        # corpus (negated upserts, deletes gone), duplicated into the
        # pre/post-compaction stages the driver queries return
        "ivf_upsert": _staged_sql(_ivf_sql(
            train_where="vec_id % 2 = 0", queries=(0, 1, 2, 3, 100),
            final_select=_churn_final_select(),
        )),
        "pq_upsert": _staged_sql(_pq_sql(
            train_where="vec_id % 2 = 0", queries=(0, 1, 100), k=10,
            final_select=_churn_final_select(),
        )),
        # SemDeDup from the persisted index: bit-identical contract to
        # the in-query path, so the oracle IS the same generated chain
        "semantic_dedup_indexed": _semantic_dedup_sql(),
        # the nightly increment screen: train on day-1, assign all,
        # verdicts for the new batch only (see q_semantic_dedup_increment)
        "semantic_dedup_increment": _semantic_dedup_inc_sql(),
        # snapshot-vs-latest under churn (see q_ivf_asof): the pinned
        # stage replays the plain post-append lifecycle; the latest
        # stage replays the churned corpus
        "ivf_asof": (
            "SELECT 'asof_append' AS stage, * FROM ("
            + _ivf_sql(train_where="vec_id % 2 = 0",
                       queries=(0, 1, 2, 3, 100))
            + ") UNION ALL SELECT 'latest' AS stage, * FROM ("
            + _ivf_sql(train_where="vec_id % 2 = 0",
                       queries=(0, 1, 2, 3, 100),
                       final_select=_churn_final_select())
            + ")"
        ),
        # churn dashboards replayed as pure counts over embeddings
        # (the shared _churn_fixture scenario: upsert ids 0-19, delete
        # ids 20-39, write seq 0 / append 1 / upsert 2 / delete 3 ->
        # next_seq 4; dashboards captured PRE-compaction).  ids_up
        # counts NULL-filtered ids: upsert tombstones derive from the
        # same NULL-vector-guarded frame the posting append uses
        "index_stats": """
            WITH nn AS (
              SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
            ),
            c AS (SELECT
              CAST((SELECT count(*) FROM nn) AS BIGINT) AS n_all,
              CAST((SELECT count(*) FROM nn WHERE vec_id < 20)
                   AS BIGINT) AS n_up,
              CAST((SELECT count(*) FROM nn
                    WHERE vec_id >= 20 AND vec_id < 40) AS BIGINT) AS n_del,
              CAST((SELECT count(DISTINCT vec_id) FROM nn
                    WHERE vec_id < 20) AS BIGINT) AS ids_up)
            SELECT k.index_kind,
                   c.n_all + c.n_up AS rows_total,
                   c.n_all - c.n_del AS rows_live,
                   c.n_up + c.n_del AS rows_dead,
                   c.ids_up + 20 AS tombstoned_ids,
                   CAST(4 AS BIGINT) AS next_seq
            FROM (SELECT 'ivf' AS index_kind
                  UNION ALL SELECT 'pq') k CROSS JOIN c
        """,
        # the slice-signature estimate replayed exactly: same md5 fold,
        # same elementwise min, same pairwise agreement count
        "source_overlap": f"""
            WITH sh AS (
              SELECT source, unnest({sh}) AS s FROM documents
            ),
            hx AS (
              SELECT source, i,
                     min(CAST(('0x' || substr(md5(s || ':'
                           || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT))
                       AS hmin
              FROM sh, range(0, 32) t(i)
              GROUP BY source, i
            ),
            sig AS (
              SELECT source, list(hmin ORDER BY i) AS sig
              FROM hx GROUP BY source
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(len(list_filter(range(1, 33),
                        j -> a.sig[j] = b.sig[j])) AS INT) AS n_matches,
                   CAST(len(list_filter(range(1, 33),
                        j -> a.sig[j] = b.sig[j])) AS DOUBLE) / 32.0
                     AS est_jaccard
            FROM sig a JOIN sig b ON a.source < b.source
        """,
        # the grouped_ntile contract: bit-identical to windowed ntile
        # over the same (hash, id) total order; tile runs -> labels
        "stratified_split": """
            WITH t AS (
              SELECT doc_id, lang,
                     ntile(10) OVER (PARTITION BY lang
                       ORDER BY CAST(('0x' || substr(md5(
                         CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
                         AS BIGINT), doc_id) AS tile
              FROM documents)
            SELECT doc_id, lang,
                   CASE WHEN tile <= 8 THEN 'train'
                        WHEN tile = 9 THEN 'val'
                        ELSE 'test' END AS split
            FROM t
        """,
        # the md5 epoch fold + per-shard rank replayed verbatim
        "epoch_shuffle": """
            WITH e AS (
              SELECT doc_id, 0 AS epoch,
                     md5(CAST(doc_id AS VARCHAR) || ':0:epoch') AS h
              FROM documents
              UNION ALL
              SELECT doc_id, 1,
                     md5(CAST(doc_id AS VARCHAR) || ':1:epoch')
              FROM documents
            )
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 8
                        AS INT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY epoch,
                       CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 8
                     ORDER BY h, doc_id) AS INT) AS position,
                   CAST(epoch AS INT) AS epoch
            FROM e
        """,
        # the same window in SQL — WindowGroupLimit is a physical
        # rewrite, invisible to semantics
        "grouped_topk": """
            SELECT o_orderpriority, o_orderkey, o_totalprice
            FROM orders
            QUALIFY row_number() OVER (
              PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) <= 5
        """,
        # exact all-pairs 8-gram Jaccard: sound oracle for the LSH-blocked
        # Spark side because P[band miss] <= (1 - J^2)^16 ~ 2e-6 at J=0.75
        # (equality with the exact set verified at sf0.01 and sf0.1)
        "ngram_jaccard": f"""
            WITH sh AS (SELECT doc_id, {sh8} AS sh FROM documents)
            SELECT * FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            WHERE jaccard >= 0.75
        """,
        # buckets recomputed exactly (md5-parity Rademacher signs +
        # fixed-point projections) -> full hash equality, not a bound
        "embedding_near_dup": f"""
            WITH v AS (SELECT vec_id, embedding,
                       {_rademacher_bucket_sql(4, 64, 'nd:0')} AS bkt
                       FROM embeddings)
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
              FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.bkt = b.bkt)
            WHERE cos_sim >= 0.3
        """,
        "ann_topk": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5)
            SELECT query_id, neighbour_id, cos_sim, CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
                  FROM scored)
            WHERE rn <= 10
        """,
        "simhash_pairs": f"""
            WITH {_simhash_sig_sql()}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                     AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        # the fake decoder's md5-pixel recipe + integer aHash bits +
        # all-pairs hamming (bounded corpus; Spark stays pigeonholed)
        "phash_dedup": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            ),
            pix AS (
              SELECT doc_id, g.g * 4 + j.j AS i,
                     CAST(concat('0x',
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+3)+1, 2),
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+2)+1, 2),
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+1)+1, 2),
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+0)+1, 2)) AS BIGINT) AS p
              FROM base, range(0, 16) g(g), range(0, 4) j(j)
            ),
            tot AS (
              SELECT doc_id, CAST(SUM(p) AS BIGINT) AS s FROM pix
              GROUP BY doc_id
            ),
            sig AS (
              SELECT pix.doc_id,
                     CAST(SUM(CASE WHEN pix.p * 64 > t.s THEN
                       CASE WHEN pix.i = 63
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE CAST(1 AS BIGINT) << CAST(pix.i AS INT)
                       END ELSE 0 END) AS BIGINT) AS h
              FROM pix JOIN tot t USING (doc_id) GROUP BY pix.doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h, b.h)) <= 3
        """,
        # polynomial rolling hashes of both snapshots + the J6/C2
        # classification replayed
        "corpus_diff": """
            WITH ch AS (
              SELECT doc_id,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(text, ''),
                                        c -> CAST(ascii(c) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS h,
                     text
              FROM documents
            ),
            new AS (SELECT doc_id, h AS chash FROM ch),
            old AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN
                       list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(text || ' OLD', ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                         (acc, x) -> (acc * 31 + x) % 2147483647)
                     ELSE h END AS chash
              FROM ch WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 50000 AS doc_id, h AS chash
              FROM ch WHERE doc_id % 11 = 0
            )
            SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
                   n.chash AS chash_new, o.chash AS chash_old,
                   CASE
                     WHEN n.chash IS NULL AND o.chash IS NOT NULL
                       THEN 'missing'
                     WHEN n.chash IS NOT NULL AND o.chash IS NULL
                       THEN 'added'
                     WHEN abs(n.chash - o.chash) > 0 THEN 'changed'
                     ELSE 'unchanged'
                   END AS status
            FROM new n FULL OUTER JOIN old o USING (doc_id)
        """,
        "lsh_topk": f"""
            WITH b AS (
              SELECT vec_id, embedding, t.tbl,
                     CASE t.tbl
                       WHEN 0 THEN {_rademacher_bucket_sql(8, 64, '42:0')}
                       WHEN 1 THEN {_rademacher_bucket_sql(8, 64, '42:1')}
                       WHEN 2 THEN {_rademacher_bucket_sql(8, 64, '42:2')}
                       ELSE {_rademacher_bucket_sql(8, 64, '42:3')}
                     END AS bucket
              FROM embeddings, (VALUES (0), (1), (2), (3)) t(tbl)),
            cand AS (
              SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbour_id
              FROM b a JOIN b c
                ON a.tbl = c.tbl AND a.bucket = c.bucket
               AND a.vec_id <> c.vec_id),
            scored AS (
              SELECT cand.query_id, cand.neighbour_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM cand JOIN embeddings q ON cand.query_id = q.vec_id
                        JOIN embeddings c ON cand.neighbour_id = c.vec_id)
            SELECT query_id, neighbour_id, cos_sim, CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
                  FROM scored)
            WHERE rn <= 10
        """,
        "ivf_recall": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5),
            topk AS (
              SELECT query_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
                FROM scored)
              WHERE rn <= 10)
            SELECT query_id, count(*) AS n_exact, count(*) AS n_hit,
                   CAST(1.0 AS DOUBLE) AS recall
            FROM topk GROUP BY query_id
        """,
        "csv_trimmed": """
            SELECT CAST(period AS INT) AS period,
                   CAST(gdp AS DOUBLE) AS gdp,
                   CAST(deflator AS DOUBLE) AS deflator
            FROM (VALUES (2020, 100.5, NULL),
                         (2021, 110.25, 1.02),
                         (2022, NULL, 1.05)) t(period, gdp, deflator)
        """,
        "fixed_width": """
            SELECT CAST(code AS VARCHAR) AS code,
                   CAST(year AS INT) AS year,
                   CAST(gdp AS DOUBLE) AS gdp,
                   CAST(flag AS VARCHAR) AS flag
            FROM (VALUES ('ALB', 2020, 100.5, 'A'),
                         ('AND', 2021, NULL, 'B'),
                         ('AUT', 2022, 2000.25, NULL),
                         ('BEL', 2020, 33.1, 'A')) t(code, year, gdp, flag)
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKS_RAW}) AS INT) AS n_ws,
                   CAST(len(regexp_extract_all(text,
                        '{_BPE_RE}')) AS INT) AS n_bpe,
                   {pr} AS punct_ratio,
                   {swr} AS stopword_ratio,
                   {mtl} AS mean_token_len
            FROM documents
        """,
        "quality_lang": f"""
            SELECT doc_id, {quality} AS quality, {lang_case} AS lang_pred,
                   {tg_case} AS lang_ngram
            FROM documents
        """,
        "fingerprint": f"""
            SELECT doc_id, list_min(list_transform({sh}, s -> md5(s))) AS fp
            FROM documents
        """,
        "content_hash": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 2147483647) AS content_hash
            FROM documents
        """,
        "bm25_topk": r"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                       END AS dl,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\s+')
                       END AS toks
                FROM documents
            ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM tok
            ), ex AS (
                SELECT doc_id, dl, unnest(toks) AS term FROM tok
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                FROM ex
                WHERE term <> '' AND term IN ('spark', 'join', 'fast')
                GROUP BY doc_id, term
            ), dfs AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id,
                       ln(CAST(n_docs - df + 0.5 AS DOUBLE)
                          / CAST(df + 0.5 AS DOUBLE) + 1.0)
                         * (tf * 2.5)
                         / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl)) AS term_score
                FROM tf JOIN dfs USING (term) CROSS JOIN stats
            )
            SELECT doc_id,
                   CAST(SUM(CAST(floor(term_score * 1e12) AS BIGINT)) AS DOUBLE)
                     / 1e12 AS score,
                   CAST(count(*) AS INT) AS n_terms
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 10
        """,
        "c4_clean": _c4_sql(),
        "hist_incremental": r"""
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
        """,
        "k_anon": r"""
            WITH l0 AS (
              SELECT c_custkey,
                     CAST(c_nationkey AS VARCHAR) AS nation,
                     c_mktsegment AS segment,
                     CAST(CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT)
                          AS VARCHAR) AS balance,
                     c_nationkey, c_mktsegment AS seg_o, c_acctbal,
                     COUNT(*) OVER (PARTITION BY
                       CAST(c_nationkey AS VARCHAR), c_mktsegment,
                       CAST(CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT)
                            AS VARCHAR)) AS n
              FROM customer
            ), e0 AS (
              SELECT c_custkey, nation, segment, balance,
                     CAST(0 AS INT) AS anon_level, FALSE AS suppressed
              FROM l0 WHERE n >= 6
            ), r0 AS (
              SELECT c_custkey, c_nationkey, seg_o AS c_mktsegment,
                     c_acctbal
              FROM l0 WHERE n < 6
            ), l1 AS (
              SELECT c_custkey,
                     CAST(c_nationkey AS VARCHAR) AS nation,
                     c_mktsegment AS segment,
                     '*' AS balance,
                     COUNT(*) OVER (PARTITION BY
                       CAST(c_nationkey AS VARCHAR), c_mktsegment) AS n
              FROM r0
            ), e1 AS (
              SELECT c_custkey, nation, segment, balance,
                     CAST(1 AS INT) AS anon_level, FALSE AS suppressed
              FROM l1 WHERE n >= 6
            ), sup AS (
              SELECT c_custkey, CAST(NULL AS VARCHAR) AS nation,
                     CAST(NULL AS VARCHAR) AS segment,
                     CAST(NULL AS VARCHAR) AS balance,
                     CAST(2 AS INT) AS anon_level, TRUE AS suppressed
              FROM l1 WHERE n < 6
            )
            SELECT * FROM e0 UNION ALL SELECT * FROM e1
            UNION ALL SELECT * FROM sup
        """,
        "unicode_clean": _unicode_clean_sql(),
        "url_frontier": _url_frontier_sql(),
        # admission chain composed with per-host politeness scheduling
        "crawl_schedule": _crawl_schedule_sql(),
        # interpolated Kneser-Ney bigram LM replay (counts + formula)
        "kn_bigram": _kn_bigram_sql(),
        "curriculum": f"""
            WITH s AS (
                SELECT doc_id, {quality} AS difficulty FROM documents
            ), r AS (
                SELECT doc_id, difficulty,
                       row_number() OVER (ORDER BY difficulty, doc_id)
                         - 1 AS r0,
                       COUNT(*) OVER () AS n
                FROM s
            ), st AS (
                SELECT doc_id, difficulty,
                       CAST(r0 * 4 // n AS INT) AS stage,
                       md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS h
                FROM r
            ), p AS (
                SELECT *, row_number() OVER (ORDER BY stage, h, doc_id)
                          - 1 AS pos
                FROM st
            ), q AS (
                SELECT *, pos - MIN(pos) OVER (PARTITION BY stage) AS rel
                FROM p
            )
            SELECT doc_id, difficulty, stage,
                   CAST(CAST(stage AS BIGINT) * 1000000000
                        + rel // 16 AS BIGINT) AS batch_id,
                   CAST(rel % 16 AS INT) AS pos_in_batch
            FROM q
        """,
        # DPO/RLHF preference pairs: per-prompt argmax/argmin replay
        "preference_pairs": f"""
            WITH s AS (
                SELECT doc_id, doc_id // 5 AS prompt_id,
                       {quality} AS score
                FROM documents
            ), c AS (
                SELECT prompt_id, doc_id, score,
                       row_number() OVER (PARTITION BY prompt_id
                         ORDER BY score DESC, doc_id ASC) AS rc,
                       row_number() OVER (PARTITION BY prompt_id
                         ORDER BY score ASC, doc_id ASC) AS rr
                FROM s
            )
            SELECT ch.prompt_id, ch.doc_id AS chosen_id,
                   rj.doc_id AS rejected_id,
                   ch.score AS chosen_score, rj.score AS rejected_score,
                   ch.score - rj.score AS gap
            FROM (SELECT * FROM c WHERE rc = 1) ch
            JOIN (SELECT * FROM c WHERE rr = 1) rj USING (prompt_id)
            WHERE ch.doc_id <> rj.doc_id
              AND ch.score - rj.score >= CAST(0.02 AS DOUBLE)
              AND ch.score - rj.score > CAST(0 AS DOUBLE)
        """,
        # curriculum -> stage-pure packing: the curriculum layout replay
        # extended with per-stage token cumsum + segment unnest
        "curriculum_batches": f"""
            WITH s AS (
                SELECT doc_id, {quality} AS difficulty,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN 0 ELSE len({_TOKS_RAW}) END AS nt
                FROM documents
            ), r AS (
                SELECT doc_id, nt,
                       row_number() OVER (ORDER BY difficulty, doc_id)
                         - 1 AS r0,
                       COUNT(*) OVER () AS n
                FROM s
            ), st AS (
                SELECT doc_id, nt,
                       CAST(r0 * 4 // n AS INT) AS stage,
                       md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS h
                FROM r
            ), p AS (
                SELECT *, row_number() OVER (ORDER BY stage, h, doc_id)
                          - 1 AS pos
                FROM st
            ), q AS (
                SELECT doc_id, nt, stage,
                       pos - MIN(pos) OVER (PARTITION BY stage) AS rel
                FROM p
            ), o AS (
                SELECT doc_id, stage, CAST(nt AS BIGINT) AS nt,
                       CAST(SUM(nt) OVER (PARTITION BY stage
                            ORDER BY rel) - nt AS BIGINT) AS srel
                FROM q WHERE nt > 0
            ), segs AS (
                SELECT doc_id, stage, nt, srel,
                       unnest(range(srel // 128,
                                    (srel + nt - 1) // 128 + 1)) AS pk
                FROM o
            )
            SELECT doc_id, CAST(stage AS INT) AS stage,
                   CAST(stage AS BIGINT) * 1000000000 + pk AS pack_id,
                   CAST(GREATEST(srel, pk * 128) - srel AS BIGINT)
                     AS doc_offset,
                   CAST(GREATEST(srel, pk * 128) - pk * 128 AS BIGINT)
                     AS pack_offset,
                   CAST(LEAST(srel + nt, (pk + 1) * 128)
                        - GREATEST(srel, pk * 128) AS BIGINT)
                     AS seg_tokens
            FROM segs
        """,
        # generated recursive-CTE replay of the BPE trainer (see _bpe_sql)
        "bpe_merges": _bpe_sql(),
        # verbatim-VALUES pin of the rank-priority encoder on a
        # constant fixture (independent-encoder-generated, see fixture)
        "bpe_encode": _bpe_encode_sql(),
        "hard_negatives": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
                     {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
              FROM embeddings q JOIN embeddings c
                ON q.vec_id <> c.vec_id AND q.label <> c.label
              WHERE q.vec_id < 5
                AND q.label IS NOT NULL AND c.label IS NOT NULL)
            SELECT query_id, neg_id, cos_sim, CAST(rn AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neg_id ASC) AS rn
                  FROM scored WHERE cos_sim < 0.9999)
            WHERE rn <= 10
        """,
        # BM25 top-20 (the bm25_topk chain, LIMIT 20 + rank) fused with
        # exact-cosine top-20 for query vector 0 via integer RRF
        "hybrid_rrf": f"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
                       END AS dl,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\\s+')
                       END AS toks
                FROM documents
            ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM tok
            ), ex AS (
                SELECT doc_id, dl, unnest(toks) AS term FROM tok
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                FROM ex
                WHERE term <> '' AND term IN ('spark', 'join', 'fast')
                GROUP BY doc_id, term
            ), dfs AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), scored AS (
                SELECT tf.doc_id,
                       ln(CAST(n_docs - df + 0.5 AS DOUBLE)
                          / CAST(df + 0.5 AS DOUBLE) + 1.0)
                         * (tf * 2.5)
                         / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl)) AS term_score
                FROM tf JOIN dfs USING (term) CROSS JOIN stats
            ), bm AS (
                SELECT doc_id,
                       CAST(SUM(CAST(floor(term_score * 1e12) AS BIGINT))
                            AS DOUBLE) / 1e12 AS score
                FROM scored GROUP BY doc_id
                ORDER BY score DESC, doc_id LIMIT 20
            ), lex AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                FROM bm
            ), cos AS (
                SELECT c.vec_id AS doc_id,
                       {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
                FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
                WHERE q.vec_id = 0
            ), sem AS (
                SELECT doc_id, rn AS rank
                FROM (SELECT doc_id, row_number() OVER (
                        ORDER BY cos_sim DESC, doc_id ASC) AS rn FROM cos)
                WHERE rn <= 20
            ), u AS (
                SELECT * FROM lex UNION ALL SELECT * FROM sem
            )
            SELECT doc_id,
                   CAST(SUM(1000000000000 // (60 + rank)) AS BIGINT)
                     AS rrf_score,
                   CAST(COUNT(*) AS INT) AS n_lists,
                   CAST(MIN(rank) AS INT) AS best_rank
            FROM u GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id LIMIT 10
        """,
        "inverted_index": r"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\s+')
                       END AS toks
                FROM documents
            ), pairs AS (
                SELECT DISTINCT doc_id, term
                FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
                WHERE term <> ''
            )
            SELECT term, CAST(count(*) AS INT) AS df,
                   array_to_string(list(doc_id ORDER BY doc_id), ',')
                     AS postings_csv
            FROM pairs GROUP BY term
        """,
        "pii_redact": r"""
            WITH aug AS (
                SELECT doc_id,
                       coalesce(text, '') || ' contact user'
                         || CAST(doc_id AS VARCHAR)
                         || '@example.com or https://ex.com/d/'
                         || CAST(doc_id AS VARCHAR)
                         || ' call +1 555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS a
                FROM documents
            )
            , r1 AS (
                SELECT doc_id, a,
                       regexp_replace(a, 'https?://[^\s]+', '<URL>', 'g') AS a1
                FROM aug
            ), r2 AS (
                SELECT doc_id, a, a1,
                       regexp_replace(a1,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS a2
                FROM r1
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(a,
                        'https?://[^\s]+')) AS INT) AS n_url,
                   CAST(len(regexp_extract_all(a1,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                     AS n_email,
                   CAST(len(regexp_extract_all(a2,
                        '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS INT) AS n_phone,
                   CAST(length(regexp_replace(a2,
                        '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g')) AS INT)
                     AS redacted_len
            FROM r2
        """,
        "top_bigrams": r"""
            WITH tok AS (
                SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE string_split_regex(lower(trim(text)), '\s+')
                       END AS t
                FROM documents
            ), bg AS (
                SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                              i -> t[i] || ' ' || t[i + 1])) AS bigram
                FROM tok
            )
            SELECT bigram, count(*) AS n
            FROM bg GROUP BY bigram
            ORDER BY n DESC, bigram LIMIT 20
        """,
        "value_windows": """
            SELECT o_custkey, o_orderkey,
                   first_value(o_totalprice) OVER w AS first_price,
                   last_value(o_totalprice) OVER w AS last_price,
                   nth_value(o_totalprice, 2) OVER w AS second_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
        """,
        "hash_split": """
            SELECT doc_id, lang,
                   CASE WHEN b < 3865470566 THEN 'train'
                        WHEN b < 4080218931 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, lang,
                         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                              || ':' || '42'), 1, 8)) AS BIGINT) AS b
                  FROM documents)
        """,
        "merge_upsert": """
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
        """,
        "fuzzy_pairs": """
            WITH v AS (
                SELECT doc_id AS id,
                       lower(trim(coalesce(text, ''))) AS t,
                       CAST(floor(length(lower(trim(coalesce(text, '')))) / 16)
                            AS BIGINT) AS band
                FROM documents
            ), lft AS (
                SELECT id, t, unnest([band - 1, band, band + 1]) AS band FROM v
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS INT) AS dist
            FROM lft a JOIN v b ON a.band = b.band AND a.id < b.id
            WHERE abs(length(a.t) - length(b.t)) <= 16
              AND levenshtein(a.t, b.t) <= 16
        """,
        "corpus_clean": f"""
            WITH scored AS (
                SELECT doc_id, text, {quality} AS quality,
                       {lang_case} AS lang_pred
                FROM documents
            ), kept AS (
                SELECT doc_id, lang_pred, quality, {_pii_red_text} AS text_clean
                FROM scored WHERE quality >= 0.85 AND lang_pred IN ('en')
            ), dedup AS (
                SELECT doc_id, lang_pred, quality, text_clean FROM kept
                QUALIFY row_number()
                        OVER (PARTITION BY md5(text_clean) ORDER BY doc_id) = 1
            )
            SELECT doc_id, lang_pred, quality, text_clean FROM dedup
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'),
                       1, 8) AS BIGINT) < 2147483648
        """,
        # serving path composed: corpus_clean fragments -> hash_split
        # train threshold -> pack cumsum+unnest replay over the CLEANED
        # token counts
        "train_batches": f"""
            WITH scored AS (
                SELECT doc_id, text, {quality} AS quality,
                       {lang_case} AS lang_pred
                FROM documents
            ), kept AS (
                SELECT doc_id, lang_pred, quality,
                       {_pii_red_text} AS text_clean
                FROM scored WHERE quality >= 0.85 AND lang_pred IN ('en')
            ), dedup AS (
                SELECT doc_id, text_clean FROM kept
                QUALIFY row_number()
                        OVER (PARTITION BY md5(text_clean)
                              ORDER BY doc_id) = 1
            ), train AS (
                SELECT doc_id, text_clean FROM dedup
                WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || ':' || '42'), 1, 8)) AS BIGINT)
                      < 3865470566
            ), d AS (
                SELECT doc_id,
                       CASE WHEN text_clean IS NULL
                            OR len(trim(text_clean)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text_clean),
                                                        '\\s+'))
                       END AS nt,
                       md5(CAST(doc_id AS VARCHAR) || ':0:pack') AS h
                FROM train
            ), c AS (
                SELECT doc_id, CAST(nt AS BIGINT) AS nt,
                       CAST(COALESCE(SUM(nt) OVER (ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS b
                FROM d WHERE nt > 0
            ), seg AS (
                SELECT doc_id, b, b + nt AS e,
                       unnest(range(b // 128, (b + nt - 1) // 128 + 1))
                         AS pack_id
                FROM c)
            SELECT doc_id, pack_id,
                   greatest(b, pack_id * 128) - b AS doc_offset,
                   greatest(b, pack_id * 128) - pack_id * 128
                     AS pack_offset,
                   least(e, (pack_id + 1) * 128)
                     - greatest(b, pack_id * 128) AS seg_tokens
            FROM seg
        """,
        # crawl front door -> curation: the PARSE+STRIP half is pinned
        # verbatim (constant fixture; doc_id = Spark xxhash64(uri,text)
        # seed 42, text = strip_markup output), the curation half —
        # quality gate, language routing, PII redaction, exact dedup —
        # is REPLAYED by the same generated fragments corpus_clean uses
        "crawl_corpus": f"""
            WITH docs(doc_id, text) AS (VALUES
              (CAST(-8767184678506436964 AS BIGINT),
               'Guide A practical guide This page explains how the data pipeline works and why the quality of the training corpus matters for every model we build. It keeps many common English words so the classifier is confident about the language of the document. See https://see.example.com/ref or mail a.b@example.com for details.'),
              (CAST(3367110237569064559 AS BIGINT),
               'Guide A practical guide This page explains how the data pipeline works and why the quality of the training corpus matters for every model we build. It keeps many common English words so the classifier is confident about the language of the document. See https://see.example.com/ref or mail a.b@example.com for details.'),
              (CAST(4567551937992625475 AS BIGINT),
               'Der schnelle braune Fuchs springt und die Seite ist auf Deutsch geschrieben. Das ist ein guter Text mit vielen deutschen Worten und einer klaren Sprache fuer den Klassifikator.'),
              (CAST(7734203982136530895 AS BIGINT),
               '$$$ !!! ### @@@ %%%')),
            scored AS (
                SELECT doc_id, text, {quality} AS quality,
                       {lang_case} AS lang_pred
                FROM docs
            ), kept AS (
                SELECT doc_id, lang_pred, quality,
                       {_pii_red_text} AS text_clean
                FROM scored
                WHERE quality >= 0.5 AND lang_pred IN ('de', 'en')
            )
            SELECT doc_id, lang_pred, quality, text_clean FROM kept
            QUALIFY row_number()
                    OVER (PARTITION BY md5(text_clean) ORDER BY doc_id) = 1
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INT) AS payload_len,
                   lower(substr(hex(encode(text)), 1, 8)) AS magic
            FROM documents
        """,
        "native_rollup": f"""
            SELECT r_name, n_name, {_dsum_sql('o_totalprice')} AS revenue,
                   count(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "grouping_sets": f"""
            SELECT o_orderpriority, o_orderstatus,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
                   {_dsum_sql('o_totalprice')} AS revenue,
                   count(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                    (o_orderstatus), ())
        """,
        "rank_windows": """
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
        """,
        "string_funcs": """
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
        """,
        "conditional_agg": f"""
            SELECT c_mktsegment,
                   count(*) FILTER (WHERE c_acctbal > 0) AS n_pos,
                   bool_and(c_acctbal > 0) AS all_pos,
                   bool_or(c_acctbal > 9000) AS any_rich,
                   {_dsum_sql('CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END')}
                     AS pos_bal
            FROM customer GROUP BY c_mktsegment
        """,
        "json_extract": """
            SELECT event_type, count(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS min_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS max_k
            FROM events GROUP BY event_type
        """,
        "group_stats": """
            SELECT c_mktsegment,
                   median(c_acctbal) AS median_bal,
                   min(c_acctbal) AS min_bal,
                   max(c_acctbal) AS max_bal,
                   count(*) AS n
            FROM customer GROUP BY c_mktsegment
        """,
        "semi_anti_join": """
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
        """,
        "asof_join": """
            SELECT l.event_id, l.user_id, l.ts,
                   r.ts AS ts_asof, r.value AS value_asof
            FROM events l ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events
                  WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "events_tumbling": f"""
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
                   event_type, count(*) AS n, {_dsum_sql('value')} AS total_value
            FROM events GROUP BY 1, 2
        """,
        "range_join": """
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
        """,
        "events_sessions": """
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
        """,
        "sql_api": _SQL_API_TEXT,
        "sql_api_q3": _SQL_API_Q3_TEXT,
        "events_sliding": """
            SELECT ws AS window_start, event_type, count(*) AS n
            FROM (SELECT unnest([
                       date_trunc('hour', CAST(ts AS TIMESTAMP))
                         - INTERVAL 1 HOUR,
                       date_trunc('hour', CAST(ts AS TIMESTAMP))
                   ]) AS ws, event_type
                  FROM events)
            GROUP BY 1, 2
        """,
        "cohort_retention": """
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
        """,
        "funnel": """
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
        """,
        "qa_discrepancies": _QA_DIFF_SQL + """
            , bad AS (
              SELECT * FROM labeled
              WHERE Year <> 2001 AND abs(Value_new - Value_old) > 100000.0),
            lab AS (SELECT Economy_Code, 'revenue' AS Variable,
                           min(Economy_Label) AS Economy_Label
                    FROM bad GROUP BY 1),
            isl AS (SELECT Economy_Code, Year,
                      Year - CAST(row_number() OVER (PARTITION BY Economy_Code
                                  ORDER BY Year) AS INT) AS island
                    FROM (SELECT DISTINCT Economy_Code, Year FROM bad)),
            runs AS (SELECT Economy_Code, island, min(Year) AS lo, max(Year) AS hi
                     FROM isl GROUP BY 1, 2),
            yrs AS (SELECT Economy_Code,
                      string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                 ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                                 END, ', ' ORDER BY lo) AS Years
                    FROM runs GROUP BY 1)
            SELECT lab.Economy_Code, lab.Variable, lab.Economy_Label, yrs.Years
            FROM lab JOIN yrs USING (Economy_Code)
        """,
        "qa_top_log_ratio": _QA_DIFF_SQL + """
            SELECT Economy_Code, Economy_Label, Value_new, Value_old
            FROM labeled WHERE Year = 2001
            ORDER BY abs(ln(Value_new / Value_old)) DESC, Economy_Code
            LIMIT 10
        """,
        "qa_added_years": _QA_DIFF_BIG_SQL + """
            , addv AS (
              SELECT * FROM labeled
              WHERE Value_new IS NOT NULL AND Value_old IS NULL),
            lab AS (SELECT Economy_Code, 'revenue' AS Variable,
                           min(Economy_Label) AS Economy_Label
                    FROM addv GROUP BY 1),
            isl AS (SELECT Economy_Code, Year,
                      Year - CAST(row_number() OVER (PARTITION BY Economy_Code
                                  ORDER BY Year) AS INT) AS island
                    FROM (SELECT DISTINCT Economy_Code, Year FROM addv)),
            runs AS (SELECT Economy_Code, island, min(Year) AS lo, max(Year) AS hi
                     FROM isl GROUP BY 1, 2),
            yrs AS (SELECT Economy_Code,
                      string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                 ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                                 END, ', ' ORDER BY lo) AS Years
                    FROM runs GROUP BY 1)
            SELECT lab.Economy_Code, lab.Variable, lab.Economy_Label, yrs.Years
            FROM lab JOIN yrs USING (Economy_Code)
        """,
        "qa_missing_years": _QA_DIFF_MISS_SQL + """
            , msng AS (
              SELECT * FROM labeled
              WHERE Value_new IS NULL AND Value_old IS NOT NULL),
            lab AS (SELECT Economy_Code, 'revenue' AS Variable,
                           min(Economy_Label) AS Economy_Label
                    FROM msng GROUP BY 1),
            isl AS (SELECT Economy_Code, Year,
                      Year - CAST(row_number() OVER (PARTITION BY Economy_Code
                                  ORDER BY Year) AS INT) AS island
                    FROM (SELECT DISTINCT Economy_Code, Year FROM msng)),
            runs AS (SELECT Economy_Code, island, min(Year) AS lo, max(Year) AS hi
                     FROM isl GROUP BY 1, 2),
            yrs AS (SELECT Economy_Code,
                      string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                 ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                                 END, ', ' ORDER BY lo) AS Years
                    FROM runs GROUP BY 1)
            SELECT lab.Economy_Code, lab.Variable, lab.Economy_Label, yrs.Years
            FROM lab JOIN yrs USING (Economy_Code)
        """,
        "qa_deflator_check": """
            WITH j AS (
              SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS Economy_Code,
                     n_name AS Economy_Label,
                     CAST(year(o_orderdate) AS INT) AS Year,
                     l_extendedprice AS ep, l_discount AS disc, l_quantity AS q
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                   JOIN customer ON o_custkey = c_custkey
                   JOIN nation ON c_nationkey = n_nationkey),
            agg AS (
              SELECT Economy_Code, Economy_Label, Year,
                     CAST(SUM(CAST(ep AS DECIMAL(28,6))) AS DOUBLE) AS cur,
                     CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) AS dq,
                     CAST(SUM(CAST(ep * (1.0 - disc) AS DECIMAL(28,6))) AS DOUBLE)
                       AS dep
              FROM j GROUP BY 1, 2, 3),
            imp AS (
              SELECT Economy_Code, Economy_Label, Year,
                     CASE WHEN Year = 1998 THEN NULL
                          ELSE 100.0 * cur / (dq * 100.0) END AS Deflator_implied,
                     dep / dq AS Deflator_USD
              FROM agg),
            bad AS (
              SELECT *, Deflator_implied - Deflator_USD AS Diff FROM imp
              WHERE abs(Deflator_implied - Deflator_USD) > 1.0)
            SELECT Economy_Code, Economy_Label, Year,
                   Deflator_implied, Deflator_USD, Diff
            FROM bad
            QUALIFY abs(Diff) = max(abs(Diff)) OVER (PARTITION BY Economy_Label)
        """,
        "decontaminate": f"""
            WITH bs AS (
              SELECT DISTINCT unnest({sh8}) AS s
              FROM documents WHERE doc_id % 50 = 0),
            ds AS (SELECT doc_id, unnest({sh8}) AS s FROM documents),
            ov AS (SELECT doc_id, count(DISTINCT s) AS n
                   FROM ds JOIN bs USING (s) GROUP BY doc_id)
            SELECT d.doc_id, CAST(coalesce(o.n, 0) AS INT) AS n_overlap,
                   coalesce(o.n, 0) >= 1 AS is_contaminated
            FROM documents d LEFT JOIN ov o USING (doc_id)
        """,
        # the Bloom filter replayed bit-for-bit (same md5 folds, same
        # 63-bit words) plus the exact membership it prefilters
        "bloom_screen": """
            WITH corpus AS (
              SELECT DISTINCT coalesce(md5(text), 'NULLTEXT') AS ck
              FROM documents WHERE doc_id % 4 = 0),
            hpos AS (
              SELECT ck,
                     CAST(('0x' || substr(md5(ck || ':' ||
                       CAST(j AS VARCHAR) || ':bloom'), 1, 15)) AS BIGINT)
                       % 65536 AS pos
              FROM corpus, (VALUES (0), (1), (2), (3)) t(j)),
            words AS (
              SELECT CAST(pos // 63 AS INT) AS widx,
                     bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))
                       AS word
              FROM hpos GROUP BY 1),
            batch AS (
              SELECT doc_id, coalesce(md5(text), 'NULLTEXT') AS k
              FROM documents WHERE doc_id % 4 = 2
              UNION ALL
              SELECT -doc_id, coalesce(md5(text), 'NULLTEXT')
              FROM documents WHERE doc_id % 20 = 0),
            bp AS (
              SELECT doc_id, k,
                     CAST(('0x' || substr(md5(k || ':' ||
                       CAST(j AS VARCHAR) || ':bloom'), 1, 15)) AS BIGINT)
                       % 65536 AS pos
              FROM batch, (VALUES (0), (1), (2), (3)) t(j)),
            hit AS (
              SELECT doc_id, k,
                     bool_and((COALESCE(w.word, 0) &
                       (CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))) <> 0)
                       AS bloom_hit
              FROM bp LEFT JOIN words w ON w.widx = CAST(pos // 63 AS INT)
              GROUP BY 1, 2)
            SELECT h.doc_id, h.bloom_hit,
                   h.bloom_hit AND EXISTS (
                     SELECT 1 FROM corpus c WHERE c.ck = h.k) AS is_dup
            FROM hit h
        """,
        "decontam_screen": f"""
            WITH fx(doc_id, text) AS (VALUES
              (CAST(-1 AS BIGINT), '{_DS_BELOW}'),
              (CAST(-2 AS BIGINT), '{_DS_AT}')),
            docs AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM fx),
            bt AS (SELECT text FROM documents WHERE doc_id % 50 = 0
                   UNION ALL SELECT '{_DS_BENCH}'),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s FROM bt),
            ds AS (SELECT doc_id, unnest({sh8}) AS s FROM docs),
            ov AS (SELECT doc_id, count(DISTINCT s) AS n
                   FROM ds JOIN bs USING (s) GROUP BY doc_id)
            SELECT d.doc_id FROM docs d LEFT JOIN ov o USING (doc_id)
            WHERE coalesce(o.n, 0) < 3
        """,
        # the fixture is a CONSTANT, so the expected rows mirror
        # verbatim (the html_strip pattern): any drift in record
        # splitting, header matching, body trimming, host
        # normalization or link extraction breaks the hash
        "warc_ingest": f"""
            SELECT * FROM (VALUES
              ('https://user@www.Ex.com:8443/page', CAST(200 AS INT),
               'text/html', 'ex.com',
               'https://WWW.Ex.COM:8443/a|//cdn.ex.net/b',
               CAST({len(_WARC_HTML)} AS BIGINT)),
              ('https://other.net/missing', CAST(404 AS INT),
               'text/plain', 'other.net', '',
               CAST(8 AS BIGINT))
            ) t(target_uri, http_status, content_type, host, links,
                payload_len)
        """,
        # constant-fixture verbatim mirror (the warc_ingest pattern):
        # doc_id = Spark xxhash64(uri, text) seed 42 (deterministic),
        # quality_micro = floor(quality * 1e6) — any drift in record
        # split, header parse, id hashing, host/lang derivation or the
        # clean_corpus quality path breaks the hash
        "wet_ingest": """
            SELECT * FROM (VALUES
              (CAST(-5030445573121216355 AS BIGINT),
               'https://www.Example.COM:8443/en/article', 'example.com',
               'en', CAST(92 AS BIGINT), '2024-03-01 12:00:00.123',
               CAST(743304 AS BIGINT), CAST(92 AS BIGINT)),
              (CAST(-1710350269278354878 AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               'und', CAST(28 AS BIGINT), '2024-03-01 14:00:00.000',
               CAST(519428 AS BIGINT), CAST(28 AS BIGINT)),
              (CAST(-6413988944502235877 AS BIGINT),
               'http://de.beispiel.org/seite', 'de.beispiel.org',
               'de', CAST(64 AS BIGINT), '2024-03-01 15:00:00.500',
               CAST(575500 AS BIGINT), CAST(64 AS BIGINT))
            ) t(doc_id, url, source, lang, n_chars, fetched_iso,
                quality_micro, clean_len)
        """,
        # verbatim mirror; payload md5s computed from the same constant
        # bytes by hashlib — only the length-aware reader produces them
        "warc_parsed_fidelity": f"""
            SELECT * FROM (VALUES
              ('https://ex.com/quote', CAST(200 AS INT), 'text/plain',
               CAST({len(_WPF_EVIL.decode())} AS BIGINT),
               '{hashlib.md5(_WPF_EVIL).hexdigest()}',
               '2024-03-01 12:00:00.000'),
              ('https://ex.com/tail', CAST(200 AS INT), 'text/plain',
               CAST({len(_WPF_TAIL.decode())} AS BIGINT),
               '{hashlib.md5(_WPF_TAIL).hexdigest()}',
               '2024-03-01 13:00:00.250')
            ) t(target_uri, http_status, content_type, payload_len,
                payload_md5, fetched_iso)
        """,
        # DSIR replayed end to end: hashed-bigram counting, add-one
        # smoothing, the floor(ln·1e9) quantization of all four log
        # terms, and per-doc occurrence-weighted scoring
        "dsir_weights": f"""
            WITH tg AS (
              SELECT unnest({g2}) AS g FROM documents
              WHERE lang = 'en' AND doc_id % 3 = 0),
            tc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS ct
              FROM tg GROUP BY 1),
            rg AS (SELECT unnest({g2}) AS g FROM documents),
            rc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS cr
              FROM rg GROUP BY 1),
            tot AS (
              SELECT (SELECT COALESCE(sum(ct), 0) FROM tc) AS nt,
                     (SELECT COALESCE(sum(cr), 0) FROM rc) AS nr),
            w AS (
              SELECT COALESCE(tc.b, rc.b) AS b,
                     CAST(floor(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   - CAST(floor(ln(CAST(nt + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT)
                   - CAST(floor(ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   + CAST(floor(ln(CAST(nr + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT) AS wq
              FROM tc FULL JOIN rc USING (b), tot),
            db AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, unnest({g2}) AS g FROM documents)),
            agg AS (
              SELECT db.doc_id, count(*) AS n_grams,
                     CAST(sum(w.wq) AS BIGINT) AS dsir_qsum
              FROM db JOIN w USING (b) GROUP BY db.doc_id)
            SELECT d.doc_id,
                   COALESCE(a.n_grams, 0) AS n_grams,
                   CAST(COALESCE(a.dsir_qsum, 0) AS BIGINT) AS dsir_qsum
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        # dsir_weights' scoring chain + the budget cut: one window
        # cumsum in rank order, selection = the prefix within budget
        "dsir_select": f"""
            WITH tg AS (
              SELECT unnest({g2}) AS g FROM documents
              WHERE lang = 'en' AND doc_id % 3 = 0),
            tc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS ct
              FROM tg GROUP BY 1),
            rg AS (SELECT unnest({g2}) AS g FROM documents),
            rc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS cr
              FROM rg GROUP BY 1),
            tot AS (
              SELECT (SELECT COALESCE(sum(ct), 0) FROM tc) AS nt,
                     (SELECT COALESCE(sum(cr), 0) FROM rc) AS nr),
            w AS (
              SELECT COALESCE(tc.b, rc.b) AS b,
                     CAST(floor(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   - CAST(floor(ln(CAST(nt + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT)
                   - CAST(floor(ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   + CAST(floor(ln(CAST(nr + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT) AS wq
              FROM tc FULL JOIN rc USING (b), tot),
            db AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, unnest({g2}) AS g FROM documents)),
            agg AS (
              SELECT db.doc_id, count(*) AS n_grams,
                     CAST(sum(w.wq) AS BIGINT) AS dsir_qsum
              FROM db JOIN w USING (b) GROUP BY db.doc_id),
            toks AS (
              SELECT doc_id,
                     CAST(CASE WHEN text IS NULL
                               OR length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text),
                                                      '\\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents),
            sel AS (
              SELECT d.doc_id,
                     COALESCE(a.n_grams, 0) AS n_grams,
                     CAST(COALESCE(a.dsir_qsum, 0) AS BIGINT)
                       AS dsir_qsum,
                     t.n_tokens
              FROM documents d LEFT JOIN agg a USING (doc_id)
                               JOIN toks t USING (doc_id)),
            c AS (
              SELECT *,
                     CAST(sum(n_tokens)
                          OVER (ORDER BY dsir_qsum DESC, doc_id)
                          AS BIGINT) AS cum_tokens
              FROM sel)
            SELECT doc_id, n_grams, dsir_qsum, n_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 11000
        """,
        # windows + membership + covered-token removal replayed; DuckDB
        # list lambdas index 1-based (Spark's filter lambda is 0-based —
        # both sides compare 1-based token positions)
        "decontam_scrub": f"""
            WITH fx(doc_id, text) AS (VALUES
              (CAST(-1 AS BIGINT), '{_DS_BELOW}'),
              (CAST(-2 AS BIGINT), '{_DS_AT}')),
            docs AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM fx),
            bt AS (SELECT text FROM documents WHERE doc_id % 50 = 0
                   UNION ALL SELECT '{_DS_BENCH}'),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s FROM bt),
            tok AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR len(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[]) ELSE {_TOKS_LOW}
                     END AS tl,
                     CASE WHEN text IS NULL OR len(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[]) ELSE {_TOKS_RAW}
                     END AS tr
              FROM docs),
            st AS (
              SELECT doc_id, tl,
                     unnest(range(1, greatest(len(tl) - 7, 1) + 1)) AS s0
              FROM tok),
            hit AS (
              SELECT t.doc_id, t.s0
              FROM (SELECT doc_id, s0,
                           array_to_string(tl[s0:s0+7], ' ') AS g
                    FROM st) t
              JOIN bs ON bs.s = t.g),
            spans AS (SELECT doc_id, list(s0) AS sp FROM hit
                      GROUP BY doc_id),
            kept AS (
              SELECT t.doc_id,
                     list_filter(t.tr, (x, i) ->
                       len(list_filter(COALESCE(spans.sp, []),
                           s -> s <= i AND i < s + 8)) = 0) AS kp,
                     t.tr
              FROM tok t LEFT JOIN spans USING (doc_id))
            SELECT doc_id,
                   -- DuckDB array_to_string([]) is NULL; Spark
                   -- array_join([]) is '' — align on ''
                   COALESCE(array_to_string(kp, ' '), '') AS text_clean,
                   CAST(len(tr) - len(kp) AS INT) AS n_removed_tokens
            FROM kept
        """,
        "repetition_stats": f"""
            SELECT doc_id,
                   CASE WHEN len({g2}) = 0 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct({g2})) AS DOUBLE)
                             / CAST(len({g2}) AS DOUBLE) END AS dup_bigram_ratio,
                   CASE WHEN len({g3}) = 0 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct({g3})) AS DOUBLE)
                             / CAST(len({g3}) AS DOUBLE) END AS dup_trigram_ratio,
                   CASE WHEN len({_TOKS_LOW}) = 0 THEN 0.0
                        ELSE CAST(list_max(list_transform(
                               list_distinct({_TOKS_LOW}),
                               u -> len(list_filter({_TOKS_LOW}, x -> x = u))))
                             AS DOUBLE) / CAST(len({_TOKS_LOW}) AS DOUBLE)
                   END AS top_token_share,
                   CAST(len({_TOKS_RAW})
                        - len(list_filter({_TOKS_RAW},
                              (x, i) -> i = 1 OR x <> ({_TOKS_RAW})[i - 1]))
                        AS INT) AS n_collapsed
            FROM documents
        """,
        "length_batches": f"""
            WITH d AS (
              SELECT doc_id, lang, CAST(len({_TOKS_RAW}) AS INT) AS n_tok
              FROM documents),
            b AS (
              SELECT *,
                     CASE WHEN n_tok <= 1 THEN 0
                          ELSE CAST(ceil(ln(CAST(n_tok AS DOUBLE))
                               / ln(CAST(1.25 AS DOUBLE))) AS INT)
                     END AS length_bucket
              FROM d),
            c AS (
              SELECT *,
                     CAST(least(CAST(2048 AS BIGINT),
                          CAST(ceil(power(CAST(1.25 AS DOUBLE),
                               length_bucket)) AS BIGINT)) AS INT)
                       AS bucket_cap
              FROM b),
            r AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY lang, length_bucket
                       ORDER BY doc_id) - 1 AS rn,
                     -- floor(): DuckDB CAST(double AS BIGINT) ROUNDS
                     -- where Spark truncates
                     CAST(floor(CAST(2048 AS DOUBLE) / bucket_cap)
                          AS BIGINT) AS rpb
              FROM c)
            SELECT doc_id, lang, n_tok, length_bucket, bucket_cap,
                   CAST(floor(CAST(rn AS DOUBLE) / rpb) AS BIGINT)
                     AS batch_id,
                   CAST(rn % rpb AS BIGINT) AS batch_slot
            FROM r
        """,
        "pack_sequences": f"""
            WITH d AS (
              SELECT doc_id, lang, CAST(len({_TOKS_RAW}) AS INT) AS n_tok
              FROM documents),
            s AS (
              SELECT *,
                     CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tok AS BIGINT) AS start
              FROM d)
            SELECT doc_id, lang, n_tok,
                   CAST(floor(start / 512.0) AS BIGINT) AS seq_id,
                   CAST(start % 512 AS BIGINT) AS seq_offset
            FROM s
        """,
        # global spanning packing: one window cumsum over the md5-fold
        # order + range unnest per (doc, pack) segment — the de-skewed
        # two-pass prefix-sum on the Spark side is bit-identical to it
        "pack_segments": f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR len(trim(text)) = 0
                          THEN 0 ELSE len({_TOKS_RAW}) END AS nt,
                     md5(CAST(doc_id AS VARCHAR) || ':0:pack') AS h
              FROM documents),
            c AS (
              SELECT doc_id, CAST(nt AS BIGINT) AS nt,
                     CAST(COALESCE(SUM(nt) OVER (ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS b
              FROM d WHERE nt > 0),
            seg AS (
              SELECT doc_id, b, b + nt AS e,
                     unnest(range(b // 128, (b + nt - 1) // 128 + 1))
                       AS pack_id
              FROM c)
            SELECT doc_id, pack_id,
                   greatest(b, pack_id * 128) - b AS doc_offset,
                   greatest(b, pack_id * 128) - pack_id * 128
                     AS pack_offset,
                   least(e, (pack_id + 1) * 128)
                     - greatest(b, pack_id * 128) AS seg_tokens
            FROM seg
        """,
        "embed_transform": f"""
            WITH b AS (
              SELECT vec_id, embedding,
                     {_dot_sql('embedding', 'embedding')} AS n2,
                     list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS mx
              FROM embeddings)
            SELECT vec_id,
                   CASE WHEN n2 <= 0 THEN NULL
                        ELSE array_to_string(list_transform(embedding,
                               x -> CAST(CAST(floor(
                                      (CAST(x AS DOUBLE) / sqrt(n2)) * 1e9)
                                    AS BIGINT) AS VARCHAR)), ',')
                   END AS unit_fp,
                   CASE WHEN mx <= 0 THEN NULL
                        ELSE array_to_string(list_transform(embedding,
                               x -> CAST(CAST(floor(CAST(x AS DOUBLE)
                                          * (127.0 / mx) + 0.5)
                                    AS INT) AS VARCHAR)), ',')
                   END AS q8_csv,
                   array_to_string([{", ".join(
                       f"CAST(CAST(floor(({_rproj_sql(j)}) * 1e9)"
                       f" AS BIGINT) AS VARCHAR)" for j in range(4)
                   )}], ',') AS proj_fp
            FROM b
        """,
        "heavy_hitters": f"""
            WITH tc AS (SELECT unnest({_TOKS_LOW}) AS item FROM documents),
            g AS (SELECT item, count(*) AS cnt FROM tc GROUP BY item)
            SELECT item, cnt,
                   CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE)
                     AS share
            FROM g QUALIFY cnt >= 0.002 * CAST(SUM(cnt) OVER () AS DOUBLE)
        """,
        "outlier_fences": """
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
        """,
        "corpus_curate": f"""
            WITH RECURSIVE
            base AS (
              SELECT doc_id, lang, text, {quality} AS q,
                     CASE WHEN len({g3}) = 0 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct({g3})) AS DOUBLE)
                               / CAST(len({g3}) AS DOUBLE) END AS d3,
                     CAST(len({_TOKS_RAW}) AS INT) AS n_tok
              FROM documents),
            filt AS (SELECT * FROM base WHERE q >= 0.8 AND d3 <= 0.6),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s
                   FROM documents WHERE doc_id % 50 = 0),
            contaminated AS (
              SELECT DISTINCT d.doc_id
              FROM (SELECT doc_id, unnest({sh8}) AS s FROM filt) d
              JOIN bs USING (s)),
            decon AS (SELECT * FROM filt
                      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
            exact AS (
              SELECT * FROM decon
              QUALIFY row_number()
                      OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
            shx AS (SELECT doc_id, {sh} AS sh FROM exact),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
                FROM shx a JOIN shx b ON a.doc_id < b.doc_id
                 AND len(a.sh) * 5 >= len(b.sh) * 4
                 AND len(b.sh) * 5 >= len(a.sh) * 4)
              WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS u, id_b AS v FROM p
                      UNION SELECT id_b, id_a FROM p),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, w.reach FROM edges e JOIN walk w ON e.v = w.node),
            comp AS (SELECT node, min(reach) AS component
                     FROM walk GROUP BY node),
            canon AS (
              SELECT e.* FROM exact e
              LEFT JOIN comp c ON e.doc_id = c.node
              WHERE coalesce(c.component, e.doc_id) = e.doc_id),
            spl AS (
              SELECT doc_id, lang, n_tok,
                     CASE WHEN b < 3865470566 THEN 'train'
                          WHEN b < 4080218931 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT *,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || ':' || '42'), 1, 8)) AS BIGINT) AS b
                    FROM canon)),
            packed AS (
              SELECT doc_id, lang, split, n_tok,
                     CAST(SUM(n_tok) OVER (PARTITION BY split, lang
                            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n_tok AS BIGINT) AS start
              FROM spl)
            SELECT doc_id, lang, split, n_tok,
                   CAST(floor(start / 128.0) AS BIGINT) AS seq_id,
                   CAST(start % 128 AS BIGINT) AS seq_offset
            FROM packed
        """,
        # the curate CTE chain re-used to emit per-doc verdicts in the
        # exact admission order instead of the surviving manifest
        "curation_audit": f"""
            WITH RECURSIVE
            base AS (
              SELECT doc_id, text, {quality} AS q,
                     CASE WHEN len({g3}) = 0 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct({g3})) AS DOUBLE)
                               / CAST(len({g3}) AS DOUBLE) END AS d3
              FROM documents WHERE doc_id % 2 = 0),
            s1 AS (SELECT * FROM base WHERE q >= 0.8 AND d3 <= 0.6),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s
                   FROM documents
                   WHERE doc_id % 2 = 0 AND doc_id % 50 = 0),
            contaminated AS (
              SELECT DISTINCT d.doc_id
              FROM (SELECT doc_id, unnest({sh8}) AS s FROM s1) d
              JOIN bs USING (s)),
            s2 AS (SELECT * FROM s1
                   WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
            ranked AS (
              SELECT *, row_number()
                     OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM s2),
            s3 AS (SELECT * FROM ranked WHERE rn = 1),
            shx AS (SELECT doc_id, {sh} AS sh FROM s3),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
                FROM shx a JOIN shx b ON a.doc_id < b.doc_id
                 AND len(a.sh) * 5 >= len(b.sh) * 4
                 AND len(b.sh) * 5 >= len(a.sh) * 4)
              WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS u, id_b AS v FROM p
                      UNION SELECT id_b, id_a FROM p),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, w.reach FROM edges e JOIN walk w ON e.v = w.node),
            comp AS (SELECT node, min(reach) AS component
                     FROM walk GROUP BY node)
            SELECT doc_id, q AS quality,
                   CASE
                     WHEN q < 0.8 THEN 'quality'
                     WHEN d3 > 0.6 THEN 'repetition'
                     WHEN doc_id IN (SELECT doc_id FROM contaminated)
                       THEN 'decontaminated'
                     WHEN doc_id IN (SELECT doc_id FROM ranked WHERE rn > 1)
                       THEN 'exact_dup'
                     WHEN doc_id IN (SELECT node FROM comp
                                     WHERE component <> node)
                       THEN 'near_dup'
                     ELSE 'kept'
                   END AS verdict
            FROM base
        """,
        # quantized outer-product sums replayed exactly; same
        # fixed-order double covariance formula
        "embedding_gram": """
            WITH q AS (
              SELECT list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                 AS BIGINT)) AS qv
              FROM embeddings
            ),
            idx AS (
              SELECT CAST(t1.i AS INT) AS i, CAST(t2.j AS INT) AS j
              FROM range(0, 64) t1(i), range(0, 64) t2(j)
            ),
            sums AS (
              SELECT i, j,
                     CAST(SUM(qv[i + 1] * qv[j + 1]) AS BIGINT) AS sq,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM q, idx GROUP BY i, j
            ),
            comp AS (
              SELECT CAST(t.k AS INT) AS k,
                     CAST(SUM(qv[CAST(t.k AS INT) + 1]) AS BIGINT) AS ci,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM q, range(0, 64) t(k) GROUP BY t.k
            )
            SELECT s.i, s.j, s.n,
                   CAST(s.sq AS DOUBLE)
                     / (CAST(s.n AS DOUBLE) * 1000000.0 * 1000000.0)
                   - (CAST(mi.ci AS DOUBLE)
                      / (CAST(mi.n AS DOUBLE) * 1000000.0))
                     * (CAST(mj.ci AS DOUBLE)
                        / (CAST(mj.n AS DOUBLE) * 1000000.0)) AS cov
            FROM sums s
            JOIN comp mi ON mi.k = s.i
            JOIN comp mj ON mj.k = s.j
        """,
        "jsonl_roundtrip": "SELECT doc_id, lang, text FROM documents",
        "pseudonymize": """
            SELECT c_custkey,
                   sha256('s3cret' || ':' || CAST(c_custkey AS VARCHAR))
                     AS pseudo_id,
                   c_mktsegment
            FROM customer
        """,
        "weighted_sample": f"""
            WITH d AS (
              SELECT doc_id, lang, CAST(len({_TOKS_RAW}) AS INT) AS w
              FROM documents),
            s AS (
              SELECT *,
                ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                     || ':' || 'ws'), 1, 8)) AS BIGINT) + 1)
                   / 4294967296.0) / w AS score
              FROM d WHERE w > 0)
            SELECT doc_id, lang, w FROM s
            ORDER BY score DESC, doc_id LIMIT 50
        """,
        "profile_table": " UNION ALL ".join(
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
        ),
        "resample_locf": """
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
        """,
        "scd2": """
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
        """,
        "histogram": """
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
        """,
        "mad_outliers": """
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
        """,
        "linear_trend": """
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
        """,
        "pagerank": _pagerank_sql(iters=5),
        # fake decoder mirror: md5 digest repeated 4x -> 16 LE uint32 ->
        # /2^32 in float64 (exact).  Corpus is ASCII so md5(text) ==
        # md5(utf8 payload); frombuffer is little-endian (x86).
        "multimodal_features": """
            WITH d AS (SELECT doc_id, md5(text) AS hx FROM documents)
            SELECT doc_id, CAST(pos AS INT) AS pos,
                   CAST(CAST(concat('0x',
                       substring(hx, 2*((4*(pos%4)+3)%16)+1, 2),
                       substring(hx, 2*((4*(pos%4)+2)%16)+1, 2),
                       substring(hx, 2*((4*(pos%4)+1)%16)+1, 2),
                       substring(hx, 2*((4*(pos%4)+0)%16)+1, 2))
                     AS BIGINT) AS DOUBLE) / 4294967296.0 AS feature
            FROM d, unnest(range(0, 16)) t(pos)
        """,
        # fake frame chunker mirror: payload = utf8(text); frames are
        # 16-byte slices at every 4th index over max(len/16, 1) chunks,
        # replayed as 32-hex-char slices
        "multimodal_frames": """
            WITH d AS (
              SELECT doc_id, lower(hex(encode(text))) AS hx,
                     greatest(octet_length(encode(text)) // 16, 1) AS nf
              FROM documents)
            SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                   substring(hx, CAST(fi AS INT) * 32 + 1, 32) AS frame_hex
            FROM d, unnest(range(0, nf, 4)) t(fi)
        """,
        "sketch_bounds": """
            SELECT DISTINCT o_orderpriority,
                   TRUE AS ndv_ok, TRUE AS p50_ok, TRUE AS p95_ok
            FROM orders
        """,
        # the stored-table lifecycle (write day-1 + append day-2 +
        # merge-on-read) is bit-identical to sketching ALL orders
        # directly — register max-merge is associative — so the oracle
        # is the plain portable-HLL replay at (priority, status)
        "ndv_incremental": f"""
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
        """,
        # register state built once at (priority, status), each rollup
        # level re-merged by max(rho) and estimated with the identical
        # fixed-point + linear-counting pipeline as sketch_stats
        "sketch_rollup": f"""
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
        """,
        # portable HLL replayed end to end: 60-bit md5 hash, register
        # index/remainder split, rho via leading-zero count (bin strips
        # leading zeros in both engines), register maxima, the two-limb
        # fixed-point register sum, the single IEEE double division of
        # the estimator (numerator = alpha*m^2*2^(p+53) as a literal),
        # and the linear-counting small-range switch via the same
        # precomputed round(m*ln(m/V)) literal lookup
        "sketch_stats": f"""
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
        """,
        "table_checksum": """
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
        """,
        "binary_header": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(trim(text), '\\s+'))
                          AS BIGINT) AS n_tok,
                     text
              FROM documents),
            hx AS (
              SELECT doc_id,
                     concat(
                       '52494646',
                       -- u32-LE of n_tok: pad big-endian hex, reverse pairs
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 7, 2),
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 5, 2),
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 3, 2),
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 1, 2),
                       '0200',                     -- u16-LE channels=2
                       '3e00',                     -- u16-LE rate/256=62
                       lower(hex(encode(text)))
                     ) AS h
              FROM toks)
            SELECT doc_id,
                   substring(h, 1, 8) = '52494646' AS is_riff,
                   CAST(concat('0x', substring(h, 15, 2), substring(h, 13, 2),
                               substring(h, 11, 2), substring(h, 9, 2))
                        AS BIGINT) AS declared_size,
                   CAST(concat('0x', substring(h, 19, 2), substring(h, 17, 2))
                        AS BIGINT) AS channels,
                   CAST(concat('0x', substring(h, 23, 2), substring(h, 21, 2))
                        AS BIGINT) AS rate_div256,
                   CAST(len(h) / 2 AS BIGINT) AS total_bytes
            FROM hx
        """,
        "rolling_corr": f"""
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
        """,
        "trade_volume": f"""
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
        """,
        "returned_revenue": f"""
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
        """,
        "udtf_matches": """
            WITH m AS (
              SELECT doc_id,
                     regexp_extract_all(text, '[a-z]{6,}') AS ms
              FROM documents)
            SELECT doc_id, ms[i + 1] AS "match", CAST(i AS INT) AS match_idx
            FROM m, unnest(range(0, len(ms))) AS t(i)
        """,
        "equidepth": """
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
        """,
        "category_drift": """
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
        """,
        "scd2_lookup": """
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
        """,
        "cube": f"""
            SELECT o_orderpriority, o_orderstatus,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
                   {_dsum_sql('o_totalprice')} AS revenue,
                   count(*) AS n
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "cdc_apply": """
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
        """,
        "http_csv_scan": """
            SELECT Country_Code, CAST(Year AS INT) AS Year,
                   CAST(Value AS DOUBLE) AS Value
            FROM (VALUES ('004', 2015, 80.5),
                         ('004', 2016, NULL),
                         ('076', 2015, 91.25))
                 t(Country_Code, Year, Value)
        """,
        "excel_scan": """
            SELECT CAST(CountryID AS DOUBLE) AS CountryID, Country,
                   CAST(v2015 AS DOUBLE) AS "2015"
            FROM (VALUES (4, 'Afghanistan', 20.25),
                         (76, 'Brazil', 2490.0),
                         (840, 'USA', 18000.0))
                 t(CountryID, Country, v2015)
        """,
        "build_fact": """
            WITH cw(cid, country, ind, y2013, y2014, y2015, y2016) AS (
              VALUES (4, 'Afghanistan', 'Gross Domestic Product (GDP)',
                      18.0, 19.5, 20.25, 21.0),
                     (76, 'Brazil', 'Gross Domestic Product (GDP)',
                      2400.0, 2450.0, NULL, 2500.0),
                     (76, 'Brazil', 'Imports of goods and services',
                      1.0, 1.0, 1.0, 1.0),
                     (840, 'USA', 'Gross Domestic Product (GDP)',
                      16000.0, 16500.0, 17000.0, 17500.0)
            ),
            uw(cid, country, ind, y2013, y2014, y2015, y2016) AS (
              VALUES (4, 'Afghanistan', 'Gross Domestic Product (GDP)',
                      20.0, 20.5, 20.25, 22.0),
                     (76, 'Brazil', 'Gross Domestic Product (GDP)',
                      2452.0, 2472.0, 2490.0, NULL),
                     (250, 'France', 'Gross Domestic Product (GDP)',
                      2800.0, 2850.0, 2900.0, 2950.0),
                     (840, 'USA', 'Gross Domestic Product (GDP)',
                      16800.0, 17400.0, 18000.0, 18600.0)
            ),
            -- melt keeps NULL cells (R pivot_longer default); every
            -- value literal casts to DOUBLE (DuckDB parses 18.0 as
            -- DECIMAL otherwise)
            cc AS (
              SELECT cid, y, v FROM (
                SELECT cid, 2013 AS y, CAST(y2013 AS DOUBLE) AS v FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2014, CAST(y2014 AS DOUBLE) FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2015, CAST(y2015 AS DOUBLE) FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2016, CAST(y2016 AS DOUBLE) FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)')
            ),
            uc AS (
              SELECT cid, y, v FROM (
                SELECT cid, 2013 AS y, CAST(y2013 AS DOUBLE) AS v FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2014, CAST(y2014 AS DOUBLE) FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2015, CAST(y2015 AS DOUBLE) FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2016, CAST(y2016 AS DOUBLE) FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)')
            ),
            j AS (
              SELECT cc.cid, cc.y, cc.v AS vconst, uc.v AS vcurr
              FROM cc JOIN uc ON cc.cid = uc.cid AND cc.y = uc.y
            ),
            unsd AS (
              SELECT lpad(CAST(cid AS VARCHAR), 3, '0') AS Economy_Code,
                     CAST(y AS INT) AS Year,
                     'GDP_at_constant_prices_2015' AS Variable,
                     vconst AS Value
              FROM j
              UNION ALL
              SELECT lpad(CAST(cid AS VARCHAR), 3, '0'),
                     CAST(y AS INT), 'GDP_at_current_prices', vcurr
              FROM j
            ),
            pr(period, ntd, usd) AS (
              VALUES (1979, 35000.0, 1000.0), (1980, 36300.0, 1100.0),
                     (2013, 480000.0, 15000.0), (2014, 495000.0, 16000.0),
                     (2015, 512000.0, 16000.0), (2016, 500000.0, 16129.0)
            ),
            fxr AS (SELECT period,
                           CAST(ntd AS DOUBLE) / CAST(usd AS DOUBLE) AS fx
                    FROM pr),
            pre(period, exp, curr, chained) AS (
              VALUES (1979, '6.GDP', 30000.0, 90000.0),
                     (1980, '6.GDP', 33000.0, 95000.0),
                     (1980, '7. Imports', 1.0, 1.0)
            ),
            post(period, exp, curr, chained) AS (
              VALUES (2013, '8. GDP', 460000.0, 470000.0),
                     (2014, '8. GDP', 475000.0, 480000.0),
                     (2015, '8. GDP', 490000.0, 500000.0),
                     (2016, '8. GDP', 505000.0, NULL),
                     (2015, '7. Imports', 2.0, 2.0)
            ),
            rb AS (SELECT CAST(curr AS DOUBLE) / CAST(chained AS DOUBLE)
                            AS rebase
                   FROM post WHERE period = 2015 AND exp = '8. GDP'),
            bfx AS (SELECT fx AS fx_base FROM fxr WHERE period = 2015),
            nso AS (
              SELECT n.period, CAST(n.chained AS DOUBLE) AS chained,
                     CAST(n.curr AS DOUBLE) AS curr, f.fx
              FROM (SELECT * FROM pre UNION ALL SELECT * FROM post) n
              LEFT JOIN fxr f ON n.period = f.period
              WHERE n.exp IN ('6.GDP', '8. GDP')
            ),
            -- operand order mirrors the Spark plan exactly:
            -- ((chained*1e6)/fx_base)*rebase, (curr*1e6)/fx
            tw0 AS (
              SELECT period,
                     chained * 1e6 / bfx.fx_base * rb.rebase AS c2015,
                     curr * 1e6 / fx AS ccurr
              FROM nso, bfx, rb
            ),
            tw AS (
              SELECT '158' AS Economy_Code, CAST(period AS INT) AS Year,
                     'GDP_at_constant_prices_2015' AS Variable,
                     c2015 AS Value
              FROM tw0
              UNION ALL
              SELECT '158', CAST(period AS INT),
                     'GDP_at_current_prices', ccurr
              FROM tw0
            )
            SELECT * FROM unsd UNION ALL SELECT * FROM tw
        """,
        "usis_export": f"""
            WITH rev AS (
              SELECT n_nationkey,
                     CAST(year(o_orderdate) + 26 AS INT) AS yr,
                     {_dsum_sql('o_totalprice')} AS v
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1, 2),
            coded AS (
              SELECT CASE WHEN n_nationkey = 15 THEN '158'
                          ELSE lpad(CAST(n_nationkey AS VARCHAR), 3, '0') END
                       AS economy_code,
                     yr, v
              FROM rev),
            b2 AS (
              SELECT economy_code, yr,
                     'GDP_at_current_prices' AS variable, v FROM coded
              UNION ALL
              SELECT economy_code, yr,
                     'GDP_at_constant_prices_2015', v * 0.9 FROM coded)
            SELECT '5100' AS Series, economy_code AS Country, yr AS Year,
                   'A00' AS Period, '00' AS NAComponent,
                   CASE variable WHEN 'GDP_at_current_prices' THEN '0100'
                                 ELSE '0940' END AS Measure,
                   '0101' AS Source,
                   CASE WHEN yr = 2024 THEN '0001'
                        WHEN economy_code = '158' THEN '3001'
                        ELSE '4809' END AS DataSource,
                   v AS Value, '00' AS DataStatus,
                   '0' AS DataConfidentiality,
                   CAST(NULL AS VARCHAR) AS CommentEN,
                   CAST(NULL AS VARCHAR) AS CommentFR,
                   '0' AS CommentConfidentiality,
                   '29-Aug-25' AS RefDate
            FROM b2 WHERE length(economy_code) < 4
        """,
        "ab_test": """
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
        """,
        "range_frame": """
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
        """,
        "shipping_priority": f"""
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
        """,
        "calendar_dim": """
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
        """,
        "pareto_share": f"""
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
        """,
        "drift_psi": """
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
        """,
        "dq_checks": """
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
        """,
        # simhash_pairs, lsh_topk, pagerank: approximate / iterative /
        # non-SQL-expressible → intentionally omitted (driver records
        # rows-only checks).
        # grouped_ntile in a second context: windowed ntile(3) replay
        # per source over the quantized quality score
        "source_terciles": f"""
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN NULL
                          ELSE source END AS source,
                     CAST(floor(({quality}) * 1e9) AS BIGINT) AS q9
              FROM documents
            )
            SELECT doc_id, source, q9,
                   CAST(ntile(3) OVER (PARTITION BY source
                                       ORDER BY q9 DESC, doc_id)
                        AS INT) AS bucket
            FROM s
        """,
        # exact all-pairs Hamming filter over the same md5-derived
        # 60-bit signatures (spread-bit mask = 2^0+2^16+2^32+2^48)
        "hamming_d4": """
            WITH sig AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 1
                          THEN xor(CAST(('0x' || substr(md5('g' ||
                                     CAST(doc_id % 25 AS VARCHAR)), 1, 15))
                                   AS BIGINT),
                                   CAST(281479271743489 AS BIGINT))
                          ELSE CAST(('0x' || substr(md5('g' ||
                                 CAST(doc_id % 25 AS VARCHAR)), 1, 15))
                               AS BIGINT)
                     END AS sig
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 4
        """,
        # WET-style extraction replayed operator-for-operator (RE2-safe
        # patterns; &amp; decodes last so &amp;lt; stays &lt;)
        "html_strip": r"""
            WITH h AS (
              SELECT doc_id,
                     '<html><head><style>p{c:red}</style></head><body>'
                     || '<script>var id="' || CAST(doc_id AS VARCHAR)
                     || '";</script><h1>Doc ' || CAST(doc_id AS VARCHAR)
                     || '</h1><p class="main">' || coalesce(text, '')
                     || ' &amp; more&nbsp;&#39;end&#39;</p><!-- crawl '
                     || CAST(doc_id AS VARCHAR) || ' --></body></html>'
                       AS t
              FROM documents
              UNION ALL
              SELECT * FROM (VALUES
                (CAST(-1 AS BIGINT),
                 '<div><p>nested <b>tags</b><p>unclosed</div> tail'),
                (CAST(-2 AS BIGINT),
                 'chain &amp;lt;b&amp;gt; stays; &amp;amp; once'),
                (CAST(-3 AS BIGINT),
                 '<a title="a>b">attr-gt</a> <P CLASS=x>case</P>'),
                (CAST(-4 AS BIGINT),
                 '<SCRIPT type="t">var s=1;</SCRIPT><STYLE>q{}</STYLE>kept'),
                (CAST(-5 AS BIGINT),
                 'before<!-- multi' || chr(10) || 'line' || chr(10)
                 || 'comment -->after')
              ) v(doc_id, t)
            )
            SELECT doc_id,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(t,
                               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                         '<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                     '\s+', ' ', 'g')) AS clean_text
            FROM h
        """,
        # indexed list_filter keep-first replay (1-based i; prefix =
        # lines[1:i-1]); single-char separator always survives
        "line_dedup_doc": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES
                (CAST(-1 AS BIGINT),
                 'a.b' || chr(10) || 'axb' || chr(10) || 'a.b'
                 || chr(10) || '[x]+' || chr(10) || '[x]+'),
                (CAST(-2 AS BIGINT),
                 'dup line' || chr(10) || 'dup line' || chr(10)
                 || 'unique' || chr(10) || 'dup line')
              ) v(doc_id, text)
            ),
            m AS (
              SELECT doc_id,
                     '== SITE BANNER ==' || chr(10) || coalesce(text, '')
                     || chr(10) || '-' || chr(10) || '== SITE BANNER =='
                     || chr(10) || coalesce(text, '') AS t,
                     '== SITE BANNER ==' || '|' || coalesce(text, '')
                     || '|' || '-' || '|' || '== SITE BANNER =='
                     || '|' || coalesce(text, '') AS tp
              FROM base
            )
            SELECT doc_id,
                   array_to_string(
                     list_filter(string_split(t, chr(10)),
                       (x, i) -> length(trim(x)) < 2
                              OR list_position(
                                   string_split(t, chr(10))[1:i-1], x) = 0),
                     chr(10)) AS text,
                   array_to_string(
                     list_filter(string_split(tp, '|'),
                       (x, i) -> length(trim(x)) < 2
                              OR list_position(
                                   string_split(tp, '|')[1:i-1], x) = 0),
                     '|') AS text_pipe
            FROM m
        """,
        # content-defined chunking replayed: boundary after any token
        # whose md5-prefix bigint has low 4 bits zero; keep-first per
        # chunk text ordered by (doc_id, pos); token-granular rebuild
        "cdc_dedup": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     'shifted mirror prefix ' || coalesce(text, '')
              FROM documents WHERE doc_id % 5 = 0
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''),
                                                    '\s+'),
                                 x -> x <> '') AS tk
              FROM corpus
            ),
            bounds AS (
              SELECT doc_id, tk,
                     list_filter(range(0, len(tk)),
                       i -> CAST(('0x' || substr(
                                    md5(tk[CAST(i + 1 AS INT)]), 1, 8))
                                 AS BIGINT) % 16 = 0) AS closes
              FROM toks
            ),
            segs AS (
              SELECT doc_id, tk,
                     list_prepend(0, list_transform(closes, c -> c + 1))
                       AS starts,
                     list_append(closes, len(tk) - 1) AS ends
              FROM bounds
            ),
            chunked AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(range(0, len(starts)),
                         k -> array_to_string(
                                tk[CAST(starts[CAST(k + 1 AS INT)] + 1
                                        AS INT)
                                   : CAST(ends[CAST(k + 1 AS INT)] + 1
                                          AS INT)], ' ')),
                       x -> x <> '') AS cs
              FROM segs
            ),
            chunks AS (
              SELECT doc_id,
                     CASE WHEN len(cs) = 0 THEN [''] ELSE cs END AS cs
              FROM chunked
            ),
            wins AS (
              SELECT doc_id,
                     unnest(cs) AS win,
                     unnest(range(0, len(cs))) AS pos
              FROM chunks
            ),
            ranked AS (
              SELECT doc_id, pos, win,
                     CASE WHEN length(win) > 0
                          THEN row_number() OVER (
                            PARTITION BY win ORDER BY doc_id, pos)
                          ELSE 1 END AS rk
              FROM wins
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN rk = 1 THEN win END, ' '
                                       ORDER BY pos), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_removed
            FROM ranked GROUP BY doc_id
        """,
        # chain construction gives the closed-form component (min of the
        # chain); split replays hash_split's md5-bucket thresholds on
        # the CLUSTER id
        "cluster_split": """
            WITH c AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 <= 2
                          THEN doc_id - doc_id % 10
                          ELSE doc_id END AS cluster_id
              FROM documents
            )
            SELECT doc_id, cluster_id,
                   CASE WHEN b < 3865470566 THEN 'train'
                        WHEN b < 4080218931 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, cluster_id,
                         CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                              || ':' || '42'), 1, 8)) AS BIGINT) AS b
                  FROM c)
        """,
        # the same JSON blob replayed through DuckDB's JSON functions
        # (integer/string transit only — no double-format parity risk)
        "variant_extract": """
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
        """,
        # the SAME recursive SQL text — DuckDB runs it verbatim
        "recursive_cte": _RECURSIVE_CLOSURE_SQL,
        # SQL UDFs are macro expansion: the oracle inlines the body
        "sql_udf": """
            SELECT CASE WHEN doc_id % 100 < 10 THEN 'low'
                        WHEN doc_id % 100 < 60 THEN 'mid'
                        ELSE 'high' END AS band,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(min(doc_id) AS BIGINT) AS min_id
            FROM documents
            GROUP BY 1
        """,
    }
