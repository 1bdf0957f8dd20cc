"""Physical-plan quality guards: the properties that make these queries
survive a 100× scale-up must hold in the compiled plan, not just in
intent.  A regression that drops a pushdown or introduces a cartesian
join fails here before it ever reaches a benchmark."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e
from gdp_etl_spark.operators.similarity import brute_force_topk, ivf_topk
from gdp_etl_spark.functions.text import rolling_content_hash

from .conftest import rows

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_pushes_band_filter_to_scan(spark):
    df = e.queries()["flagship_revenue"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual" in plan
    # column pruning: the lineitem scan must not read all 11 columns
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_flagship_broadcasts_dimensions(spark):
    plan = _plan(e.queries()["flagship_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_broadcast_hint_on_fact_scaling_tables(spark):
    """customer/supplier/orders/lineitem are fact-scaling (rows × SF):
    an explicit broadcast hint would override Catalyst/AQE's size check
    and OOM at the 100-TB north star.  Only true dims (nation, region,
    inline literal dims) may carry hints — the fact joins must rely on
    AQE, which still picks broadcast at small SF and degrades to
    shuffle-hash at scale instead of failing."""
    opt = _optimized(e.queries()["flagship_revenue"](spark, SF))
    # exactly the two dim hints survive into the optimized plan
    assert opt.count("strategy=broadcast") == 2, opt
    # ...and the physical plan still broadcasts the dims without help
    plan = _plan(e.queries()["flagship_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # the QA fact builders and TPC-H shapes carry no broadcast hint on
    # the orders⋈customer join edge (hints on the dim edges are fine)
    for q in ("scalar_share", "returned_revenue", "trade_volume", "usis_export"):
        for line in _optimized(e.queries()[q](spark, SF)).splitlines():
            if "Join" in line and "c_custkey" in line:
                assert "strategy=broadcast" not in line, (q, line)


def test_topk_plans_take_ordered(spark):
    plan = _plan(e.queries()["topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_in_bucketed_dedup(spark):
    # LSH/blocked paths must never degenerate to a cross join
    for q in ("minhash_lsh", "ngram_jaccard", "simhash_pairs"):
        plan = _plan(e.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, q


def test_projection_prunes_scan_schema(spark):
    plan = _plan(e.queries()["projection"](spark, SF))
    assert "o_orderdate" not in plan  # unused column never scanned


def test_rollup_closure_joins_are_broadcast(spark):
    plan = _plan(e.queries()["rollup_hierarchy"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# new operators: ivf / rolling hash
# ---------------------------------------------------------------------------
def test_ivf_topk_recall_and_determinism(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbour_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    a = {
        (r["query_id"], r["neighbour_id"])
        for r in ivf_topk(emb, q, k=5, num_centroids=4, nprobe=4).collect()
    }
    b = {
        (r["query_id"], r["neighbour_id"])
        for r in ivf_topk(emb, q, k=5, num_centroids=4, nprobe=4).collect()
    }
    assert a == b  # deterministic
    # probing every cell (nprobe == num_centroids) must be exact
    assert a == exact


def test_rolling_content_hash_known_value(spark):
    df = spark.createDataFrame([(1, "ab"), (2, None), (3, "")], "id long, t string")
    got = dict(rows(df.select("id", rolling_content_hash(F.col("t")).alias("h"))))
    # h("ab") = (0*31+97)*31 + 98 = 3105
    assert got == {1: 3105, 2: 0, 3: 0}


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both sides of a repeated join key removes the Exchange:
    the defining co-location property at 100-TB scale."""
    from gdp_etl_spark.io import write_bucketed_table

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    try:
        # force the sort-merge path: broadcast would also avoid the
        # shuffle but says nothing about bucket co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(li, "li_b", ["l_orderkey"], num_buckets=4)
        write_bucketed_table(o, "o_b", ["o_orderkey"], num_buckets=4)
        joined = spark.table("li_b").join(
            spark.table("o_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        # and it still computes the right thing
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned sink + filter => partition pruning at the scan:
    the filter must land in PartitionFilters (directory skipping), not as
    a post-scan row filter over every partition."""
    from gdp_etl_spark.io import write_partitioned_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    out = str(tmp_path / "ev_part")
    write_partitioned_parquet(ev, out, partition_by=["event_type"])
    one_type = ev.select("event_type").first()[0]
    back = spark.read.parquet(out).filter(F.col("event_type") == one_type)
    plan = _plan(back)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert back.count() == ev.filter(F.col("event_type") == one_type).count()


def test_bm25_plan_is_shuffle_free_on_the_data_path(spark):
    """BM25 scoring must never shuffle document rows: per-doc tf for
    the query vocabulary is map-side array-HOF work, df/corpus stats
    collapse to ONE broadcast scalar row, and the top-k plans as
    TakeOrderedAndProject (k-bounded partial heaps, no sort exchange).
    The only Exchange allowed is the SinglePartition gather of the
    scalar stats row's partial aggregates."""
    from gdp_etl_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_topk(
        docs, ["spark", "join", "fast"], k=10, materialize=False
    ))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # no explode, no (doc, term) shuffle, no global sort exchange
    assert "Generate explode" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    # lazy-plan path pins no cache
    assert "InMemoryTableScan" not in plan


def test_sketch_error_bounds(spark):
    """HLL NDV within 3·rsd of exact; approx percentile within rank
    tolerance of the exact interpolated percentile."""
    from gdp_etl_spark.operators.sketches import (
        group_cardinality_sketch,
        group_quantile_sketch,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet")
    exact = {
        r["o_orderpriority"]: r["ndv"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("ndv"))
        .collect()
    }
    approx = {
        r["o_orderpriority"]: r["ndv_approx"]
        for r in group_cardinality_sketch(
            o, ["o_orderpriority"], "o_custkey", rsd=0.05
        ).collect()
    }
    assert set(approx) == set(exact)
    for k, nd in exact.items():
        assert abs(approx[k] - nd) <= max(3, 3 * 0.05 * nd), k

    qa = {
        r["o_orderpriority"]: r["quantiles_approx"]
        for r in group_quantile_sketch(
            o, ["o_orderpriority"], "o_totalprice", (0.5,), accuracy=10_000
        ).collect()
    }
    med = {
        r["o_orderpriority"]: r["m"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.expr("percentile(o_totalprice, 0.5)").alias("m"))
        .collect()
    }
    for k in med:
        # rank error 1e-4 on ~1-2k rows per group: the approx median must
        # be within a handful of ranks — use a generous 2% value band
        assert qa[k][0] == pytest.approx(med[k], rel=0.02), k


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast — the corpus side of a
    decontamination pass can be 100 TB and must never shuffle."""
    plan = _plan(e.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_window_exchange(spark):
    """Packing is one hash exchange on the shard key (plus the window
    sort) — no global single-partition window."""
    df = e.queries()["pack_sequences"](spark, SF)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_embed_transform_is_shuffle_free(spark):
    """Vector transforms are pure per-row map work: no key shuffle (the
    only Exchange is the loader's round-robin split-spread, which at
    real scale is the writer's file layout, not a reader step)."""
    plan = _plan(e.queries()["embed_transform"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_repetition_stats_is_shuffle_free(spark):
    plan = _plan(e.queries()["repetition_stats"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_outlier_fences_broadcasts_bands(spark):
    """Quartile bands (group-count rows) broadcast back to the tagging
    pass; the fact table itself shuffles once for the percentile agg
    and once for the count agg — never for the band join."""
    plan = _plan(e.queries()["outlier_fences"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_plans_take_ordered(spark):
    """The weighted draw must plan per-partition heaps + driver merge,
    never a global sort-shuffle."""
    plan = _plan(e.queries()["weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_dq_checks_fk_is_broadcast_anti_join(spark):
    plan = _plan(e.queries()["dq_checks"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # dim side must never shuffle


def test_drift_psi_broadcasts_bounds_no_real_cartesian(spark):
    """The scalar bounds/totals rows ride broadcast nested loops; the
    data-sized sides must never meet in a cartesian or sort-merge."""
    plan = _plan(e.queries()["drift_psi"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_resample_locf_single_window_exchange(spark):
    """The union-window formulation: exactly one window operator and no
    join in the optimized plan."""
    opt = _optimized(e.queries()["resample_locf"](spark, SF))
    assert opt.count("Window ") == 1
    assert "Join" not in opt


def test_min_cost_supplier_pushes_size_filter_no_cartesian(spark):
    """Q2 shape: the p_size predicate reaches the part scan; the
    decorrelated min-join stays equi (no cartesian); nation broadcasts."""
    plan = _plan(e.queries()["min_cost_supplier"](spark, SF))
    assert "LessThanOrEqual(p_size,10)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_top_acctbal_anti_join_and_pushed_date(spark):
    """Q22 shape: NOT EXISTS compiles to an anti join, the order-date
    filter is pushed to the orders scan, and the scalar threshold is a
    broadcast nested loop of ONE row — the only non-equi join allowed."""
    plan = _plan(e.queries()["top_acctbal_no_orders"](spark, SF))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """At 100-TB scale a selective dim predicate propagates to the fact
    side as an injected runtime bloom filter (Spark's runtime-filter
    rule, on by default in the session factory).  Locally the fact scan
    is below the 10 GB application-side threshold, so lower it to the
    test scale and assert the `might_contain(bloom_filter_agg(...))`
    semi-filter lands above the fact scan when broadcast is off — the
    exact mechanism that prunes shuffled fact rows on a real cluster."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{SF}/orders.parquet")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = _optimized(j)
        assert "might_contain" in opt
        assert "bloom_filter_agg" in opt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_orc_roundtrip_prunes_partition_directory(spark):
    """The segment filter must become a partition filter on the ORC
    scan (one directory read), not a post-scan predicate."""
    plan = _plan(e.queries()["orc_roundtrip"](spark, SF))
    assert "PartitionFilters: [isnotnull(c_mktsegment" in plan
    assert "= BUILDING" in plan


def test_pagerank_reuses_src_partitioning(spark):
    """The per-iteration join must hash on src (edge side pre-partitioned
    and cached) — no cartesian, no broadcast of the big rank side."""
    from gdp_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], "src int, dst int"
    )
    plan = _plan(pagerank(edges, iterations=1))
    assert "CartesianProduct" not in plan


def test_shipping_priority_pushes_both_date_filters(spark):
    plan = _plan(e.queries()["shipping_priority"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_trade_volume_broadcasts_all_four_dims(spark):
    plan = _plan(e.queries()["trade_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_rolling_corr_single_window_partitioned_on_group(spark):
    """One groupBy exchange + one window exchange, both keyed on the
    group column — the RANGE-frame sums must not add extra shuffles."""
    opt = _optimized(e.queries()["rolling_corr"](spark, SF))
    assert opt.count("Window ") == 1
    plan = _plan(e.queries()["rolling_corr"](spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2


def test_tpch_sweep_no_cartesian_anywhere(spark):
    """Every query in the TPC-H topology sweep compiles to equi-joins:
    the disjunctive Q19 predicate must yield a hash join + residual
    (partkey factored out of the OR), and the Q21 self-semi/anti pair
    must stay keyed on orderkey — a cartesian in any of these is a
    100-TB outage, not a slowdown."""
    for q in (
        "regional_volume", "market_share", "nation_profit",
        "order_count_dist", "promo_ratio", "top_supplier",
        "small_qty_revenue", "big_order_customers",
        "disjunctive_revenue", "late_orders", "waiting_supplier",
        "forecast_revenue", "important_parts", "priority_by_flag",
        "part_supplier_counts", "excess_suppliers",
    ):
        plan = _plan(e.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, q
        if q != "important_parts":
            # important_parts joins a 1-ROW global-total scalar — that
            # broadcast nested loop is the intended scalar-subquery plan
            assert "BroadcastNestedLoopJoin" not in plan, q


def test_regional_volume_pushes_date_broadcasts_dims(spark):
    plan = _plan(e.queries()["regional_volume"](spark, SF))
    assert "GreaterThanOrEqual(o_orderdate" in plan   # band on the scan
    assert "BroadcastHashJoin" in plan                # region→nation dim
    assert "r_name" not in plan.split("FileScan parquet")[0]  # pruned out


def test_big_order_customers_aggregates_below_join(spark):
    """Q18's heavy sum(qty) HAVING filter must run BEFORE the joins —
    the survivor set (not the raw fact) is the join input — and the
    final top-100 must compile to TakeOrderedAndProject."""
    opt = _optimized(e.queries()["big_order_customers"](spark, SF))
    agg_pos = opt.find("Aggregate")
    join_pos = opt.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert agg_pos > join_pos  # optimized plan prints top-down: joins above the agg
    plan = _plan(e.queries()["big_order_customers"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_late_orders_is_semi_join(spark):
    plan = _plan(e.queries()["late_orders"](spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_waiting_supplier_semi_and_anti(spark):
    plan = _plan(e.queries()["waiting_supplier"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_cms_sketch_single_scan_broadcast_probe(spark):
    """The CMS build must be ONE scan of orders (explode + map-side
    combined agg — no self-join), and the probe side must broadcast
    the 4096-cell sketch, never shuffle the probes against it."""
    plan = _plan(e.queries()["cms_heavy_hitters"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_all_equi_joins(spark):
    """Degree-oriented triangle counting is three equi-joins; any
    cartesian/BNLJ here means the orientation failed to key a join."""
    plan = _plan(e.queries()["triangle_count"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_forecast_revenue_full_pushdown_no_join(spark):
    """Q6 is the pushdown benchmark: every band predicate must reach
    the parquet scan and the plan must contain no join at all."""
    plan = _plan(e.queries()["forecast_revenue"](spark, SF))
    assert "Join" not in plan
    # column pruning: 4 of 11 lineitem columns read
    assert ("ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
            "l_discount:double,l_shipdate:timestamp_ntz>") in plan
    # band predicates all present below the aggregate (the FileScan
    # PushedFilters string is elided by toString truncation, so assert
    # on the optimized plan's single Filter instead)
    opt = _optimized(e.queries()["forecast_revenue"](spark, SF))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in opt


def test_record_linkage_blocked_equi_join(spark):
    """Candidate generation must ride the blocking equi-keys — a
    cartesian over customers is the classic linkage blow-up."""
    plan = _plan(e.queries()["record_linkage"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round3_tail_queries_no_cartesian(spark):
    for q in ("corr_matrix", "seasonal_anomalies", "sample_per_group",
              "benford", "datetime_funcs", "array_map_funcs",
              "schema_evolution"):
        plan = _plan(e.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, q


def test_cdc_apply_reuses_window_partitioning(spark):
    """apply_changes claims ONE hash partitioning serves both the
    compaction window and the merge join: exactly two exchanges total
    (one per input side), no third between window and join, and the
    corr_matrix-class codegen split stays in place (no cartesian)."""
    df = e.queries()["cdc_apply"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_corr_matrix_limb_split_survives_optimizer(spark):
    """corr_matrix's decimal->double limb conversions must stay in
    their own projection: if CollapseProject re-inlines them into the
    pair structs, the explode's generated method exceeds the JVM 64 KB
    limit and whole-stage codegen silently falls back to interpreted.
    The __sd aliases existing in the optimized plan is the signal."""
    from gdp_etl_spark.operators.regression import corr_matrix

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount",
                          "l_tax"])
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__sd0_1" in opt


#: queries whose plans legitimately contain a nested-loop join: every
#: one is a 1-row scalar broadcast (base-year value, rebase factor,
#: global threshold, centroid/model state) — bounded by construction.
#: Anything NOT in this list growing a BNLJ/cartesian is a regression.
_SCALAR_BNLJ_OK = {
    "scalar_share", "base_broadcast", "build_fact", "corr_matrix",
    "top_acctbal_no_orders", "market_share", "promo_ratio",
    "drift_psi", "category_drift", "ab_test", "linear_trend",
    "table_checksum", "heavy_hitters", "pareto_share", "histogram",
    "equidepth", "mad_outliers", "outlier_fences", "lm_score",
    "corpus_mix", "benford", "column_entropy", "seasonal_anomalies",
    "repetition_stats", "profile_table", "kmeans_assign", "ivf_topk",
    "ivf_recall", "dedup_clusters", "corpus_clean", "corpus_curate",
    "decontaminate", "semantic_decontam", "bm25_topk", "sketch_stats",
    "sketch_bounds", "cms_heavy_hitters", "weighted_sample",
    "forecast_revenue", "small_qty_revenue", "excess_suppliers",
    "important_parts", "waiting_supplier", "record_linkage",
    # dq_checks: the FK rule crossJoins two 1-row aggregates
    # (orphan count x total count) — scalar x scalar
    "dq_checks",
    # index_stats: the dashboard row is three 1-row count aggregates
    # crossJoined (total x live x tombstoned) — scalar x scalar
    "index_stats",
    # temperature_mix: the |domains|-row rate table crossJoins the
    # 1-row pow-sum total — scalar broadcast, the documented pattern
    "temperature_mix",
    # ann_topk: the exact brute-force ANN baseline broadcasts the
    # BOUNDED query-vector set against the corpus by definition; the
    # scale paths are lsh_topk / ivf_topk
    "ann_topk",
    # source_overlap: the inequality self-pairing of the |slices|-row
    # signature frame (sources × 32 mins — fixed-size sketch state,
    # never data-scale); the corpus itself is map-side partial-min
    "source_overlap",
    # hard_negatives: the ann_topk class — the bounded anchor batch
    # broadcasts against the corpus (non-equi label predicate); the
    # scale path probes the anchors' IVF cells
    "hard_negatives",
    # hybrid_rrf: inherits bm25_topk's 1-row stats broadcast and
    # ann_topk's bounded query-vector broadcast; the fused lists are
    # producer-k-bounded
    "hybrid_rrf",
    # hist_incremental: the 2-row quantile frame crossJoins the
    # |groups|·|bins|-row merged sketch — sketch-state-scale, never
    # data-scale
    "hist_incremental",
}


def test_every_registered_query_plan_is_scale_safe(spark):
    """The global backstop behind the per-query guards: NO registered
    query may plan a CartesianProduct, and a BroadcastNestedLoopJoin
    is allowed only for the named 1-row scalar broadcasts.  Runs on
    sf0.001 so plan construction (some queries execute driver-side
    model steps while building) stays cheap."""
    from gdp_etl_spark.plans.golden import reference_available

    failures = []
    for name, fn in e.queries().items():
        if name.startswith("golden_") and not reference_available():
            continue  # env-gated like the golden pytest module
        try:
            plan = _plan(fn(spark, SF))
        except Exception as ex:
            failures.append(f"{name}: plan build failed: {ex}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _SCALAR_BNLJ_OK:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not failures, "\n".join(failures)


def test_dedup_index_antijoin_is_shuffle_free_on_index_side(spark, tmp_path):
    """The materialized dedup index's defining property: the persisted
    bucketed+sorted md5 index streams straight into the SortMergeJoin
    LeftAnti — NO Exchange and NO Sort on the index side; the only
    shuffle in the whole admission plan is the batch's own window+join
    redistribution.  At 100-TB corpus scale this is the difference
    between re-shuffling the index nightly and never touching it."""
    import shutil

    from gdp_etl_spark.operators.dedup import (
        dedup_against_index,
        write_dedup_index,
    )

    table = "t_idx_plan"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    corpus = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_dedup_index(corpus, "text", table, n_buckets=4)
        batch = corpus.limit(50)
        out = dedup_against_index(spark, batch, "text", "doc_id", table)
        plan = _plan(out)
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        # the index scan reads bucket files in place
        assert "Bucketed: true" in plan
        # every Exchange is on the BATCH side (the skew-safe keep-first
        # adds its agg + join-back exchanges there); the index side has
        # none: no Exchange line may directly feed the index FileScan
        assert plan.count("Exchange hashpartitioning") == 3
        lines = [l.strip() for l in plan.splitlines()]
        for i, l in enumerate(lines):
            if "FileScan parquet" in l and "t_idx_plan" in l:
                assert not any("Exchange" in p for p in lines[max(0, i-1):i])
        # compaction must preserve the probe plan bit-for-bit in shape:
        # same bucket spec, still zero index-side Exchange/Sort
        from gdp_etl_spark.operators.dedup import (
            append_to_dedup_index,
            compact_dedup_index,
        )

        append_to_dedup_index(
            corpus.limit(200).withColumn(
                "text", F.concat(F.lit("v2 "), "text")
            ),
            "text",
            table,
        )
        before, after = compact_dedup_index(spark, table)
        assert after == 4 and before > after
        plan2 = _plan(
            dedup_against_index(spark, batch, "text", "doc_id", table)
        )
        assert "SortMergeJoin" in plan2 and "Bucketed: true" in plan2
        assert plan2.count("Exchange hashpartitioning") == 3
        # correctness of the admission itself is covered by
        # tests/test_text_dedup.py::TestDedupIndex
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_minhash_index_probe_is_shuffle_free_on_both_index_sides(spark):
    """Both persisted tables of the MinHash near-dup index — band
    memberships and shingle-hash sets — must stream into their joins
    bucket-in-place: every Exchange in the probe plan repartitions a
    BATCH-derived frame (banding fan-out, candidate distinct, the
    redistribution INTO each table's bucketing), never an index scan."""
    import shutil

    from gdp_etl_spark.operators.dedup import (
        near_dup_against_index,
        write_minhash_index,
    )

    table = "t_mh_plan"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    corpus = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_minhash_index(
            corpus, "text", "doc_id", table, num_perm=16, bands=8, n_buckets=4
        )
        batch = corpus.limit(20)
        plan = _plan(near_dup_against_index(
            spark, batch, "text", "doc_id", table,
            num_perm=16, bands=8, materialize=False,
        ))
        assert plan.count("Bucketed: true") == 2
        # no Exchange directly over either bucketed FileScan: the line
        # sequence "Exchange ... FileScan parquet <table>" never occurs
        lines = [l.strip() for l in plan.splitlines()]
        for i, l in enumerate(lines):
            if "FileScan parquet" in l and table in l:
                assert not any(
                    "Exchange" in prev
                    for prev in lines[max(0, i - 1):i]
                ), f"Exchange feeds the index scan: {lines[i-1]}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in (table, f"{table}_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """DPP: joining a partitioned fact to a FILTERED dim must inject a
    dynamicpruning subquery into the fact scan's partition filters —
    at 100 TB this is the difference between scanning every partition
    and scanning only the dim-selected ones, decided at runtime."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    fact_dir = str(tmp_path / "fact")
    ev.write.partitionBy("event_type").parquet(fact_dir)
    dim_dir = str(tmp_path / "dim")
    ev.select("event_type").distinct().withColumn(
        "flag", (F.length("event_type") % 2).cast("int")
    ).write.parquet(dim_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("flag") == 1)
    plan = _plan(fact.join(dim, "event_type"))
    assert "dynamicpruning" in plan.lower()
    # and the pruned join still computes correctly
    kept_types = {r["event_type"] for r in dim.collect()}
    got = fact.join(dim, "event_type").select("event_type").distinct()
    assert {r["event_type"] for r in got.collect()} == kept_types


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning: with a selective build side,
    Spark must inject a bloom_filter_agg on the build side and apply
    might_contain on the probe scan — rows that cannot match are
    dropped BEFORE the shuffle, the runtime analogue of predicate
    pushdown for join keys.  Thresholds are tuned down because the
    sf0.001 tables are far below the production defaults."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_totalprice") > 400000
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = _plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the filtered join equals the unfiltered-semantics join
        n = j.count()
        assert n == li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey).count()
        assert n > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold"
        )


def test_text_granular_dedup_plans_have_no_window(spark):
    """paragraph/token-window/boilerplate dedup must plan hash
    AGGREGATIONS (+ skew-splittable joins), never a rank/count window
    keyed on the content hash: window partitions are not
    AQE-divisible, so a mega-duplicated paragraph/line — the operators'
    own target case — would pin every occurrence on one task."""
    from gdp_etl_spark.operators.dedup import (
        boilerplate_line_filter,
        cdc_window_dedup,
        paragraph_exact_dedup,
        token_window_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    for frame in (
        paragraph_exact_dedup(docs, "text", "doc_id"),
        token_window_dedup(docs, "text", "doc_id", 20),
        boilerplate_line_filter(docs, "text", "doc_id"),
        cdc_window_dedup(docs, "text", "doc_id"),
    ):
        plan = _plan(frame)
        assert "Window" not in plan
        assert "HashAggregate" in plan


def test_markup_and_line_dedup_queries_are_map_only(spark):
    """strip_markup / dedup_lines_in_doc are pure expressions: their
    registered queries must plan ZERO exchanges — a scan and projection
    work, nothing else (the 100-TB claim is 'inherits the scan
    partitioning', which an Exchange would falsify)."""
    import __spark_entry__ as e

    for name in ("html_strip", "line_dedup_doc"):
        plan = _plan(e.queries()[name](spark, SF))
        # the table loader's round-robin repartition (tiny-SF
        # parallelism) is fixture plumbing; the OPERATOR must add no
        # keyed redistribution of any kind
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert "Exchange SinglePartition" not in plan, name
        assert "Scan parquet" in plan or "FileScan" in plan, name


def test_keep_best_join_back_never_keys_on_the_hash_alone(spark):
    """The dedup join-backs are better than 'AQE will split the hot
    key': Catalyst pushes the survivor filter INTO the equi-join keys,
    so the SortMergeJoin keys are (survivor-struct, hash) — a text
    duplicated 10⁹× distributes across partitions by (quality, id)
    instead of concentrating on md5(text).  AQE skew-join remains the
    backstop; this pins the structural de-skew."""
    from gdp_etl_spark.operators.dedup import exact_dedup_keep_best

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") % 97).cast("double").alias("q")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(exact_dedup_keep_best(docs, "text", "doc_id", "q"))
        smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
        assert smj, plan
        # the join-key list carries the survivor struct (__nq/__id),
        # not just the 16-byte hash
        assert "__nq" in smj[0] and "__h" in smj[0], smj[0]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_portable_hll_matches_invariants(spark):
    """Portable HLL: estimate within raw-estimator tolerance of exact
    NDV (no small-range correction → generous bound), register-limb
    invariants hold (hi bounded by 2^2p, lo by m·2^52, n_vals = row
    count), NULL values ignored, and the p guard rejects out-of-range
    precisions."""
    import pytest as _pytest

    from gdp_etl_spark.operators.sketches import portable_hll_ndv

    o = spark.read.parquet(f"{SF}/orders.parquet")
    exact = {
        r["o_orderpriority"]: r["ndv"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("ndv"))
        .collect()
    }
    n_by_grp = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = {
        r["o_orderpriority"]: r
        for r in portable_hll_ndv(
            o, ["o_orderpriority"], "o_custkey", p=8
        ).collect()
    }
    assert set(got) == set(exact)
    for k, r in got.items():
        # raw estimator at NDV ≈ 5m carries +~10% bias on top of the
        # ±6.5% rsd — accept 30%
        assert abs(r["ndv_portable"] - exact[k]) <= 0.30 * exact[k], k
        assert 0 <= r["v_zero"] <= 256
        assert 0 < r["reg_hi"] <= 1 << 16
        assert 0 <= r["reg_lo"] <= 256 * (1 << 52)
        assert r["n_vals"] == n_by_grp[k]

    # NULLs ignored like count(distinct)
    withnull = o.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_custkey")).alias(
            "ck"
        ),
    )
    half = {
        r["o_orderpriority"]: r["n_vals"]
        for r in portable_hll_ndv(
            withnull, ["o_orderpriority"], "ck", p=8
        ).collect()
    }
    assert all(half[k] < n_by_grp[k] for k in half)

    with _pytest.raises(ValueError, match="p must be"):
        portable_hll_ndv(o, ["o_orderpriority"], "o_custkey", p=3)
    with _pytest.raises(ValueError, match="p must be"):
        portable_hll_ndv(o, ["o_orderpriority"], "o_custkey", p=12)


def test_portable_hll_merge_equals_direct(spark):
    """Mergeability: estimating a coarse group by max-merging the fine
    (priority, status) register state is bit-identical to sketching
    the coarse group directly — the associativity that lets a stored
    sketch table answer any rollup without rescanning base data."""
    from gdp_etl_spark.operators.sketches import (
        portable_hll_merge,
        portable_hll_ndv,
        portable_hll_registers,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet")
    regs = portable_hll_registers(
        o, ["o_orderpriority", "o_orderstatus"], "o_custkey", p=8
    ).localCheckpoint()

    def as_map(df, keys):
        return {
            tuple(r[k] for k in keys): (
                r["ndv_portable"], r["reg_hi"], r["reg_lo"],
                r["v_zero"], r["n_vals"],
            )
            for r in df.collect()
        }

    for keys in (["o_orderpriority"], []):
        merged = as_map(portable_hll_merge(regs, keys), keys)
        direct = as_map(
            portable_hll_ndv(o, keys, "o_custkey", p=8), keys
        )
        assert merged == direct, keys


def test_ndv_sketch_table_incremental_lifecycle(spark):
    """The persisted NDV sketch table: write day-1, APPEND day-2 (no
    rescan of day-1), and merge-on-read estimates are bit-identical to
    sketching the full union directly — at the stamped granularity AND
    any coarser rollup.  Compaction folds appended rows back to one
    per (group, register) without changing a single estimate.  Guards:
    unstamped tables are rejected, finer-than-stamped rollups are
    rejected, double-create errors."""
    import shutil

    import pytest as _pytest

    from gdp_etl_spark.operators.sketches import (
        append_to_ndv_sketch,
        compact_ndv_sketch,
        ndv_from_sketch,
        portable_hll_ndv,
        write_ndv_sketch,
    )

    table = "t_ndv_sketch"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)

    o = spark.read.parquet(f"{SF}/orders.parquet")
    day1 = o.filter(F.col("o_orderkey") % 2 == 0)
    day2 = o.filter(F.col("o_orderkey") % 2 == 1)

    write_ndv_sketch(
        day1, ["o_orderpriority", "o_orderstatus"], "o_custkey", table
    )
    with _pytest.raises(ValueError, match="already exists"):
        write_ndv_sketch(
            day1, ["o_orderpriority", "o_orderstatus"], "o_custkey", table
        )
    append_to_ndv_sketch(day2, table)

    def as_map(df, keys):
        return {
            tuple(r[k] for k in keys): (
                r["ndv_portable"], r["reg_hi"], r["reg_lo"],
                r["v_zero"], r["n_vals"],
            )
            for r in df.collect()
        }

    for keys in (["o_orderpriority", "o_orderstatus"],
                 ["o_orderpriority"], []):
        from_table = as_map(
            ndv_from_sketch(spark, table,
                            None if len(keys) == 2 else keys),
            keys,
        )
        direct = as_map(portable_hll_ndv(o, keys, "o_custkey", p=8), keys)
        assert from_table == direct, keys

    n_before = spark.table(table).count()
    compact_ndv_sketch(spark, table)
    n_after = spark.table(table).count()
    assert n_after < n_before            # appended rows folded
    assert as_map(ndv_from_sketch(spark, table),
                  ["o_orderpriority", "o_orderstatus"]) == as_map(
        portable_hll_ndv(
            o, ["o_orderpriority", "o_orderstatus"], "o_custkey", p=8
        ),
        ["o_orderpriority", "o_orderstatus"],
    )

    with _pytest.raises(ValueError, match="FINER"):
        ndv_from_sketch(spark, table, ["o_orderpriority", "o_clerk"])

    plain = "t_ndv_plain"
    spark.sql(f"DROP TABLE IF EXISTS {plain}")
    shutil.rmtree(f"{wh}/{plain}", ignore_errors=True)
    day1.select("o_orderkey").limit(5).write.saveAsTable(plain)
    with _pytest.raises(ValueError, match="not an NDV sketch table"):
        append_to_ndv_sketch(day2, plain)
    spark.sql(f"DROP TABLE IF EXISTS {plain}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    # GLOBAL sketch (no group columns): stamps the empty string and
    # must round-trip — review finding: ''.split(',') is [''], which
    # bricked the table for its whole lifecycle
    g = "t_ndv_global"
    spark.sql(f"DROP TABLE IF EXISTS {g}")
    shutil.rmtree(f"{wh}/{g}", ignore_errors=True)
    write_ndv_sketch(day1, [], "o_custkey", g)
    append_to_ndv_sketch(day2, g)
    got = ndv_from_sketch(spark, g).collect()
    want = portable_hll_ndv(o, [], "o_custkey", p=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    compact_ndv_sketch(spark, g)
    assert [tuple(r) for r in ndv_from_sketch(spark, g).collect()] == [
        tuple(r) for r in want
    ]
    spark.sql(f"DROP TABLE IF EXISTS {g}")


def test_portable_hll_register_agg_is_map_side_partial(spark):
    """The portable HLL's ONLY raw-row shuffle is the (group, register)
    exchange, and the register maxima partial-aggregate BEFORE it
    (map-side combine) — a hot group ships at most 2^p rows per input
    split, the same dampening the built-in sketch gets from its
    partial merge."""
    from gdp_etl_spark.operators.sketches import portable_hll_ndv

    o = spark.read.parquet(f"{SF}/orders.parquet")
    plan = (
        portable_hll_ndv(o, ["o_orderpriority"], "o_custkey", p=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    # partial max over (group, reg) exists...
    assert "partial_max(rho" in plan
    # ...and it sits UPSTREAM of the (group, reg) exchange — the tree
    # prints root-first, so the map-side partial must appear AFTER the
    # exchange that consumes it (not after the later group-level one)
    m = re.search(
        r"Exchange hashpartitioning\(o_orderpriority#\d+, reg#\d+", plan
    )
    assert m, plan
    # rindex: the DEEPEST partial_max (the raw-row map-side combine —
    # the registers→merge chain adds a second, shallower one)
    assert plan.rindex("partial_max(rho") > m.start()


def test_hist_sketch_lifecycle(spark, tmp_path):
    """write + append + merge-on-read quantiles == binning the full
    union directly; rollup subsets work; compaction preserves
    estimates and shrinks rows; guards fire."""
    import pytest as _pytest

    from gdp_etl_spark.operators.sketches import (
        append_to_hist_sketch,
        compact_hist_sketch,
        hist_bins,
        quantiles_from_hist,
        write_hist_sketch,
    )

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    day1 = o.filter(F.col("o_orderkey") % 2 == 0)
    day2 = o.filter(F.col("o_orderkey") % 2 == 1)
    table = "t_hist_lifecycle"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    import shutil
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)

    write_hist_sketch(day1, ["o_orderpriority"], "o_totalprice",
                      table, bin_width=1000.0)
    append_to_hist_sketch(day2, table)

    got = {
        (r["o_orderpriority"], r["q"]): (r["n"], r["est"])
        for r in quantiles_from_hist(spark, table, (0.5, 0.9)).collect()
    }
    # reference: same rank rule over exact values, bounded by bin width
    import math
    vals = {}
    for r in o.select("o_orderpriority", "o_totalprice").collect():
        vals.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    for pri, v in vals.items():
        v.sort()
        for q in (0.5, 0.9):
            n, est = got[(pri, q)]
            assert n == len(v)
            true_stat = v[math.ceil(q * n) - 1]
            assert abs(est - true_stat) <= 1000.0, (pri, q, est, true_stat)

    # coarser rollup (global) comes free
    g = quantiles_from_hist(spark, table, (0.5,), group_cols=[]).collect()
    assert len(g) == 1 and g[0]["n"] == o.count()

    # compaction: same estimates, fewer-or-equal rows
    before = spark.table(table).count()
    compact_hist_sketch(spark, table)
    after = spark.table(table).count()
    assert after <= before
    got2 = {
        (r["o_orderpriority"], r["q"]): (r["n"], r["est"])
        for r in quantiles_from_hist(spark, table, (0.5, 0.9)).collect()
    }
    assert got2 == got

    with _pytest.raises(ValueError, match="FINER"):
        quantiles_from_hist(spark, table, (0.5,), group_cols=["o_orderstatus"])
    with _pytest.raises(ValueError, match="already exists"):
        write_hist_sketch(day1, [], "o_totalprice", table, 1000.0)
    with _pytest.raises(ValueError, match="bin_width"):
        hist_bins(o, [], "o_totalprice", 0.0)
    with _pytest.raises(ValueError, match="quantiles"):
        quantiles_from_hist(spark, table, (1.5,))
    spark.sql(f"DROP TABLE IF EXISTS {table}")
