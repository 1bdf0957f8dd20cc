"""Relational operator semantics: closure, rollup, windows, reshape,
diff, sessionization (SURVEY.md §2.3-2.9)."""

import pytest
from pyspark.sql import functions as F

from gdp_etl_spark.operators.closure import (
    closure_all_pairs,
    rollup_hierarchy,
    transitive_closure,
)
from gdp_etl_spark.operators.diff import classify_diff, full_outer_diff
from gdp_etl_spark.operators.reshape import pivot_wide, union_by_name, unpivot
from gdp_etl_spark.operators.sessions import session_stats, sessionize
from gdp_etl_spark.operators.windows import (
    base_value_broadcast,
    gaps_and_islands,
    group_extrema,
    rebase_index,
)

from .conftest import rows


# ---------------------------------------------------------------------------
# J7 closure
# ---------------------------------------------------------------------------
def _edges(spark):
    # 3-level DAG: W -> {G1, G2}; G1 -> {a, b}; G2 -> {b, c}; plus deep chain
    # W -> G3 -> G4 -> d  (depth 4, needs >2 passes)
    return spark.createDataFrame(
        [
            ("W", "G1"), ("W", "G2"), ("G1", "a"), ("G1", "b"),
            ("G2", "b"), ("G2", "c"), ("W", "G3"), ("G3", "G4"), ("G4", "d"),
        ],
        "parent string, child string",
    )


def test_transitive_closure_leaves(spark):
    got = rows(transitive_closure(_edges(spark)))
    assert got == sorted(
        [
            ("W", "a"), ("W", "b"), ("W", "c"), ("W", "d"),
            ("G1", "a"), ("G1", "b"), ("G2", "b"), ("G2", "c"),
            ("G3", "d"), ("G4", "d"),
        ]
    )


def test_closure_all_pairs_keeps_intermediate_levels(spark):
    got = set(rows(closure_all_pairs(_edges(spark))))
    assert ("W", "G4") in got and ("W", "d") in got and ("W", "G1") in got


def test_transitive_closure_distributed_path_matches(spark):
    # driver_threshold=0 forces the iterative distributed loop; results
    # must be identical to the driver-side fast path
    fast = rows(transitive_closure(_edges(spark)))
    dist = rows(transitive_closure(_edges(spark), driver_threshold=0))
    assert fast == dist


def test_closure_cycle_raises(spark):
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "parent string, child string")
    with pytest.raises(RuntimeError, match="converge"):
        transitive_closure(cyc, max_iterations=5)
    with pytest.raises(RuntimeError, match="converge"):
        transitive_closure(cyc, max_iterations=5, driver_threshold=0)


def test_rollup_sum_children_equals_parent(spark):
    closure = transitive_closure(_edges(spark))
    fact = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 4.0), ("d", 8.0)], "code string, v double"
    )
    out = dict(
        rows(
            rollup_hierarchy(
                fact, closure, "code", "parent", "child", group_keys=[], value_col="v"
            )
        )
    )
    # property: each parent's total == sum over its leaf members
    assert out == {"W": 15.0, "G1": 3.0, "G2": 6.0, "G3": 8.0, "G4": 8.0}


def test_rollup_all_null_group_is_zero(spark):
    closure = transitive_closure(_edges(spark))
    fact = spark.createDataFrame(
        [("a", None), ("b", None), ("c", 1.0), ("d", None)], "code string, v double"
    )
    out = dict(
        rows(rollup_hierarchy(fact, closure, "code", "parent", "child", [], "v"))
    )
    assert out["G1"] == 0.0  # all-NULL members -> 0, not NULL (R semantics)
    assert out["G2"] == 1.0


# ---------------------------------------------------------------------------
# W1/W3/A5 windows
# ---------------------------------------------------------------------------
def test_base_broadcast_guard_missing_and_duplicate(spark):
    df = spark.createDataFrame(
        [
            ("ok", 2015, 10.0), ("ok", 2016, 20.0),
            ("missing", 2016, 5.0),
            ("dup", 2015, 1.0), ("dup", 2015, 2.0), ("dup", 2016, 3.0),
        ],
        "g string, year int, v double",
    )
    out = base_value_broadcast(df, ["g"], "year", "v", 2015, "base")
    got = {(r["g"], r["year"]): r["base"] for r in out.collect()}
    assert got[("ok", 2016)] == 10.0
    assert got[("missing", 2016)] is None  # base year absent -> NULL
    assert got[("dup", 2016)] is None      # base year duplicated -> NULL


def test_rebase_index_base_year_is_100(spark):
    df = spark.createDataFrame(
        [("g", 2015, 50.0), ("g", 2016, 75.0)], "g string, year int, v double"
    )
    got = {r["year"]: r["idx"] for r in rebase_index(df, ["g"], "year", "v", 2015, "idx").collect()}
    assert got[2015] == 100.0 and got[2016] == 150.0


def test_group_extrema_keeps_max_abs_with_ties(spark):
    df = spark.createDataFrame(
        [("g", 1, -5.0), ("g", 2, 5.0), ("g", 3, 1.0), ("h", 4, 0.0)],
        "g string, id int, v double",
    )
    got = rows(group_extrema(df, ["g"], F.col("v")), "id")
    assert got == [(1,), (2,), (4,)]


def test_gaps_and_islands_reference_example(spark):
    df = spark.createDataFrame(
        [("x", 1999), ("x", 2000), ("x", 2001), ("x", 2005), ("y", 2020)],
        "g string, y int",
    )
    got = dict(rows(gaps_and_islands(df, ["g"], "y")))
    assert got == {"x": "1999-2001, 2005", "y": "2020"}


# ---------------------------------------------------------------------------
# R1-R3 / U1 reshape
# ---------------------------------------------------------------------------
def test_unpivot_pivot_roundtrip(spark):
    long = spark.createDataFrame(
        [("k1", "A", 1.0), ("k1", "B", 2.0), ("k2", "A", 3.0)],
        "k string, var string, val double",
    )
    wide = pivot_wide(long, ["k"], "var", ["A", "B"], "val")
    assert rows(wide) == [("k1", 1.0, 2.0), ("k2", 3.0, None)]
    back = unpivot(wide, ["k"], ["A", "B"], "var", "val").na.drop(subset=["val"])
    assert rows(back) == rows(long)


def test_union_by_name_null_fills_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id int, extra string")
    b = spark.createDataFrame([(2,)], "id int")
    got = rows(union_by_name([a, b]))
    assert got == [(1, "x"), (2, None)]


# ---------------------------------------------------------------------------
# J6/F3/F4 diff
# ---------------------------------------------------------------------------
def test_diff_classify_all_statuses(spark):
    new = spark.createDataFrame([("a", 10.0), ("b", 20.0), ("d", 1.0)], "k string, v double")
    old = spark.createDataFrame([("a", 10.5), ("b", 99.0), ("c", 7.0)], "k string, v double")
    d = classify_diff(full_outer_diff(new, old, ["k"], "v"), "v", tol=2.0)
    got = {r["k"]: r["status"] for r in d.collect()}
    assert got == {"a": "unchanged", "b": "changed", "c": "missing", "d": "added"}


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------
def test_sessionize_gap_splits(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 01:00:00"),  # 50-min gap -> new session
            (2, "2024-01-01 00:00:00"),
        ],
        "uid int, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    s = sessionize(df, "uid", "ts", gap_seconds=1800)
    got = rows(s, "uid", "session_id")
    assert got == [(1, 0), (1, 0), (1, 1), (2, 0)]


def test_session_stats_duration(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00")], "uid int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    st = session_stats(df, "uid", "ts").first()
    assert st["n_events"] == 2 and st["duration_sec"] == 600.0


# ---------------------------------------------------------------------------
# skew salting
# ---------------------------------------------------------------------------
def test_salted_join_equals_plain_join(spark):
    from gdp_etl_spark.operators.skew import salted_join

    # hot key: 100 of 103 rows share k=1
    left = spark.createDataFrame(
        [(1, i) for i in range(100)] + [(2, 100), (3, 101), (4, 102)], "k int, v int"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "a"), (3, "b")], "k int, tag string")
    plain = rows(left.join(right, ["k"], "inner"))
    salted = rows(salted_join(left, right, ["k"], num_salts=4))
    assert salted == plain
    # salts actually spread the hot key
    from pyspark.sql import functions as F2
    salts = (
        left.withColumn(
            "__salt",
            F2.pmod(F2.xxhash64(F2.struct(*[F2.col(c) for c in left.columns])), F2.lit(4)),
        )
        .filter("k = 1")
        .select("__salt")
        .distinct()
        .count()
    )
    assert salts > 1


def test_salted_join_left_parity_with_unmatched_left_rows(spark):
    """``left`` keeps unmatched SKEWED-side rows exactly once: the salt
    column rides on the left, so the null-extended row is not
    replicated — parity with the plain left join including its
    unmatched rows."""
    from gdp_etl_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(9, 900)], "k int, v int"
    )  # k=9 has no match on the right
    right = spark.createDataFrame([(1, "hot")], "k int, tag string")
    plain = rows(left.join(right, ["k"], "left"))
    salted = rows(salted_join(left, right, ["k"], num_salts=4, how="left"))
    assert salted == plain
    assert (9, 900, None) in salted


def test_salted_join_rejects_replicated_side_outer_hows(spark):
    """right/full/outer would emit each unmatched replicated-side row
    once per salt — the guard raises instead of multiplying rows."""
    from gdp_etl_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, 1)], "k int, v int")
    right = spark.createDataFrame([(2, "x")], "k int, tag string")
    for how in ("right", "rightouter", "full", "outer", "full_outer", "cross"):
        with pytest.raises(ValueError, match="unsafe"):
            salted_join(left, right, ["k"], num_salts=4, how=how)
    # the safe set still works, spelled any of Spark's accepted ways
    assert salted_join(left, right, ["k"], how="left_semi").count() == 0
    assert salted_join(left, right, ["k"], how="leftanti").count() == 1


def test_epoch_shuffle_rejects_nonpositive_shards(spark):
    from gdp_etl_spark.operators.sampling import epoch_shuffle

    d = spark.range(3).select(F.col("id").alias("doc_id"))
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_shards"):
            epoch_shuffle(d, "doc_id", 0, n)


def test_pq_topk_rejects_non_integral_query_ids(spark):
    """A string/float query id would cast to NULL bigint, null-fail the
    self-match filter and silently return an EMPTY frame — pq_topk must
    raise instead (and likewise for a non-integral id column)."""
    from gdp_etl_spark.operators.similarity import pq_topk

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(TypeError, match="ints"):
        pq_topk(vecs, ["0"], dim=8, m=2, k_codes=2)
    with pytest.raises(TypeError, match="ints"):
        pq_topk(vecs, [0.5], dim=8, m=2, k_codes=2)
    svecs = vecs.withColumn("vec_id", F.col("vec_id").cast("string"))
    with pytest.raises(TypeError, match="integral"):
        pq_topk(svecs, [0], dim=8, m=2, k_codes=2)
    # duplicated ids double-emit every candidate and silently halve the
    # effective top-k — loud error instead (r10 self-review)
    with pytest.raises(ValueError, match="duplicates"):
        pq_topk(vecs, [0, 0], dim=8, m=2, k_codes=2)


def test_all_pairs_guard_requires_opt_in(spark):
    from gdp_etl_spark.operators.dedup import (
        embedding_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(docs, "text", "doc_id")
    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_dup_pairs(vecs, "embedding", "vec_id")
    # explicit opt-in works
    assert ngram_jaccard_pairs(docs, "text", "doc_id", allow_all_pairs=True).count() == 0


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------
def test_asof_join_semantics(spark):
    from gdp_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 10), (3, 1, 20), (4, 2, 7)], "id int, k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 999.0)], "k int, ts int, v double"
    )
    out = asof_join(left, right, ["k"], "ts", "ts", ["v"])
    got = {r["id"]: (r["ts_asof"], r["v_asof"]) for r in out.collect()}
    assert got[1] == (None, None)       # nothing at or before ts=5
    assert got[2] == (10, 100.0)        # exact-timestamp match included
    assert got[3] == (15, 150.0)        # latest of the two earlier rows
    assert got[4] == (None, None)       # right rows exist only later
    assert out.count() == left.count()  # left-join cardinality preserved


def test_asof_join_null_payload_is_matched(spark):
    from gdp_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1, 10)], "id int, k int, ts int")
    right = spark.createDataFrame([(1, 5, None)], "k int, ts int, v double")
    r = asof_join(left, right, ["k"], "ts", "ts", ["v"]).first()
    # the matched row's NULL value must surface as NULL-with-a-match,
    # not fall through to an earlier row
    assert r["ts_asof"] == 5 and r["v_asof"] is None


# ---------------------------------------------------------------------------
# grouped linear interpolation
# ---------------------------------------------------------------------------
def test_interpolate_gaps(spark):
    from gdp_etl_spark.operators.interpolate import interpolate_gaps

    df = spark.createDataFrame(
        [
            ("a", 2000, 10.0), ("a", 2003, 40.0), ("a", 2004, 0.0),
            ("b", 2001, 5.0),
        ],
        "g string, y int, v double",
    )
    out = interpolate_gaps(df, ["g"], "y", "v")
    got = {(r["g"], r["y"]): (r["v"], r["was_observed"]) for r in out.collect()}
    assert got[("a", 2001)] == (20.0, False)   # linear between 10 and 40
    assert got[("a", 2002)] == (30.0, False)
    assert got[("a", 2000)] == (10.0, True)
    assert got[("a", 2004)] == (0.0, True)
    assert got[("b", 2001)] == (5.0, True)     # single point, dense range = itself
    assert len(got) == 6


def test_interpolate_leading_gap_stays_null(spark):
    from gdp_etl_spark.operators.interpolate import interpolate_gaps

    # NULL observation at the series head: no left neighbour -> stays NULL
    df = spark.createDataFrame(
        [("a", 2000, None), ("a", 2001, 10.0)], "g string, y int, v double"
    )
    out = {r["y"]: r["v"] for r in interpolate_gaps(df, ["g"], "y", "v").collect()}
    assert out[2000] is None and out[2001] == 10.0


# ---------------------------------------------------------------------------
# banded range join
# ---------------------------------------------------------------------------
def test_point_in_interval_join(spark):
    from gdp_etl_spark.operators.rangejoin import point_in_interval_join

    points = spark.createDataFrame(
        [(1, 5), (2, 15), (3, 99), (4, 25)], "pid int, p long"
    )
    intervals = spark.createDataFrame(
        [("a", 0, 10), ("b", 10, 20), ("c", 14, 30)], "iv string, lo long, hi long"
    )
    out = point_in_interval_join(points, intervals, "p", "lo", "hi", band_width=7)
    got = sorted((r["pid"], r["iv"]) for r in out.collect())
    # p=15 is inside both b and c (overlap); p=99 matches nothing
    assert got == [(1, "a"), (2, "b"), (2, "c"), (4, "c")]
    # inclusive bounds: p=10 hits both a (hi) and b (lo)
    edge = point_in_interval_join(
        spark.createDataFrame([(9, 10)], "pid int, p long"),
        intervals, "p", "lo", "hi", band_width=7,
    )
    assert sorted(r["iv"] for r in edge.collect()) == ["a", "b"]


def test_point_in_interval_left_join(spark):
    from gdp_etl_spark.operators.rangejoin import point_in_interval_join

    points = spark.createDataFrame([(1, 5), (2, 99)], "pid int, p long")
    intervals = spark.createDataFrame([("a", 0, 10)], "iv string, lo long, hi long")
    out = point_in_interval_join(
        points, intervals, "p", "lo", "hi", band_width=7, how="left"
    )
    got = {r["pid"]: r["iv"] for r in out.collect()}
    assert got == {1: "a", 2: None}  # matchless point kept with NULLs


def test_udtf_regex_matches_rows_with_ordinals_and_offsets(spark):
    from gdp_etl_spark.operators.udtf import RegexMatches

    spark.udtf.register("t_regex_matches", RegexMatches)
    spark.createDataFrame(
        [(1, "ab 12 cd 34"), (2, None), (3, "no digits")],
        "id int, text string",
    ).createOrReplaceTempView("t_udtf_in")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT i.id, m.match, m.match_idx, m.char_offset "
            "FROM t_udtf_in i, LATERAL t_regex_matches(i.text, '[0-9]+') m"
        ).collect()
    )
    # NULL text and no-match rows yield no rows; ordinals and offsets exact
    assert got == [(1, "12", 0, 3), (1, "34", 1, 9)]


def test_array_agg_raw_array_variant(spark):
    # The registered array_agg query serializes the collected set as a
    # CSV so the driver canonicalizer can hash it; the raw array<string>
    # form (collect_set + array_sort) is pinned here instead.
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "view"), (1, "purchase"), (1, "view"), (2, "click")],
        "user_id int, event_type string",
    )
    types = F.array_sort(F.collect_set("event_type"))
    got = {
        r["user_id"]: (r["types"], r["n"], r["has_purchase"])
        for r in ev.groupBy("user_id")
        .agg(
            types.alias("types"),
            F.size(types).alias("n"),
            F.array_contains(types, "purchase").alias("has_purchase"),
        )
        .collect()
    }
    assert got == {
        1: (["purchase", "view"], 2, True),
        2: (["click"], 1, False),
    }


class TestCountMinSketch:
    def test_estimate_upper_bounds_and_tightness(self, spark):
        from gdp_etl_spark.operators.sketches import (
            cms_estimate,
            count_min_sketch,
        )

        rows = [(f"k{i % 37}",) for i in range(2000)] + [("hot",)] * 500
        df = spark.createDataFrame(rows, "k string")
        sk = count_min_sketch(df, "k", depth=4, width=256)
        # sketch is bounded state: at most depth*width cells, each row
        # of the sketch sums to the full stream length
        assert sk.count() <= 4 * 256
        from pyspark.sql import functions as F
        per_row = sk.groupBy("sk_row").agg(F.sum("sk_count").alias("s"))
        assert {r["s"] for r in per_row.collect()} == {2500}
        exact = df.groupBy("k").count()
        est = cms_estimate(sk, exact.select("k"), "k", depth=4, width=256)
        joined = est.join(exact, "k").collect()
        assert len(joined) == 38
        for r in joined:
            assert r["est_count"] >= r["count"]          # never undershoots
            assert r["est_count"] <= r["count"] + 2500 * 2 // 256  # CM bound
        hot = [r for r in joined if r["k"] == "hot"][0]
        assert hot["est_count"] >= 500

    def test_missing_key_reads_zero_or_collision(self, spark):
        from gdp_etl_spark.operators.sketches import (
            cms_estimate,
            count_min_sketch,
        )

        df = spark.createDataFrame([("a",), ("b",)], "k string")
        sk = count_min_sketch(df, "k", depth=4, width=1024)
        probe = spark.createDataFrame([("zzz",)], "k string")
        [r] = cms_estimate(sk, probe, "k", depth=4, width=1024).collect()
        assert 0 <= r["est_count"] <= 2

    def test_weighted_build(self, spark):
        from gdp_etl_spark.operators.sketches import (
            cms_estimate,
            count_min_sketch,
        )

        df = spark.createDataFrame(
            [("a", 10), ("a", 5), ("b", 1)], "k string, w int"
        )
        sk = count_min_sketch(df, "k", depth=4, width=1024, weight_col="w")
        est = {
            r["k"]: r["est_count"]
            for r in cms_estimate(
                sk, df.select("k").distinct(), "k", depth=4, width=1024
            ).collect()
        }
        assert est["a"] >= 15 and est["b"] >= 1


class TestAssignRowIds:
    def test_matches_global_row_number(self, spark):
        from pyspark.sql import Window
        from gdp_etl_spark.operators.ids import assign_row_ids

        df = spark.range(0, 1000).select(
            (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("payload")
        )
        out = assign_row_ids(df, ["k"], num_partitions=7)
        expected = df.withColumn(
            "row_id",
            F.row_number().over(Window.orderBy("k")).cast("long") - 1,
        )
        assert sorted(r["row_id"] for r in out.collect()) == list(range(1000))
        got = {r["k"]: r["row_id"] for r in out.collect()}
        want = {r["k"]: r["row_id"] for r in expected.collect()}
        assert got == want

    def test_partition_count_invariant_and_start(self, spark):
        from gdp_etl_spark.operators.ids import assign_row_ids

        df = spark.range(0, 500).select(F.col("id").alias("k"))
        a = {r["k"]: r["row_id"]
             for r in assign_row_ids(df, ["k"], num_partitions=3).collect()}
        b = {r["k"]: r["row_id"]
             for r in assign_row_ids(df, ["k"], num_partitions=17).collect()}
        assert a == b
        c = assign_row_ids(df, ["k"], start=100, num_partitions=5)
        assert c.agg(F.min("row_id"), F.max("row_id")).collect()[0][:] == (100, 599)

    def test_no_single_partition_exchange_on_data_path(self, spark):
        """The whole point: the data-side plan must use range
        partitioning + per-partition windows, never Exchange
        SinglePartition on the big frame (the offsets frame is
        #partitions rows — driver-scale)."""
        from gdp_etl_spark.operators.ids import assign_row_ids

        df = spark.range(0, 1000).select(F.col("id").alias("k"))
        plan = assign_row_ids(df, ["k"], num_partitions=8)._jdf.queryExecution().executedPlan().toString()
        # the row_number window on the DATA path is partitioned by the
        # range-partition id — never a global (empty-spec) window
        assert "windowspecdefinition(__pid" in plan


class TestGroupedNtile:
    """Distributed per-group ntile: bit-identical to
    ntile(b) OVER (PARTITION BY group ORDER BY ...) without the
    per-group window partition (the dominant-language straggler)."""

    def _fixture(self, spark):
        # skewed groups: 'big' has 700 rows, 'mid' 250, 'tiny' 2 —
        # exercises remainder buckets and the n < b edge
        return spark.range(0, 952).select(
            F.when(F.col("id") < 700, "big")
            .when(F.col("id") < 950, "mid")
            .otherwise("tiny")
            .alias("g"),
            (F.col("id") * 37 % 953).alias("score"),
            F.col("id"),
        )

    def test_matches_windowed_ntile_exactly(self, spark):
        from pyspark.sql import Window
        from gdp_etl_spark.operators.ids import grouped_ntile

        df = self._fixture(spark)
        order = [F.col("score").desc(), F.col("id").asc()]
        for b in (3, 4, 7):
            got = {
                r["id"]: r["bucket"]
                for r in grouped_ntile(
                    df, ["g"], order, b, num_partitions=11
                ).collect()
            }
            want = {
                r["id"]: r["bucket"]
                for r in df.withColumn(
                    "bucket",
                    F.ntile(b).over(Window.partitionBy("g").orderBy(*order)),
                ).collect()
            }
            assert got == want

    def test_null_group_rows_are_kept_as_one_group(self, spark):
        # PARTITION BY treats NULL as one partition; the prefix-sum
        # formulation must too — a name-list equi-join would silently
        # DROP every NULL-group row (lang = NULL in a corpus pipeline)
        from pyspark.sql import Window
        from gdp_etl_spark.operators.ids import grouped_ntile

        df = spark.createDataFrame(
            [(1, "en", 5), (2, "en", 3), (3, None, 7),
             (4, None, 1), (5, None, 4)],
            "id long, g string, score long",
        )
        order = [F.col("score").desc(), F.col("id").asc()]
        got = {
            r["id"]: r["bucket"]
            for r in grouped_ntile(
                df, ["g"], order, 2, num_partitions=3
            ).collect()
        }
        want = {
            r["id"]: r["bucket"]
            for r in df.withColumn(
                "bucket",
                F.ntile(2).over(Window.partitionBy("g").orderBy(*order)),
            ).collect()
        }
        assert len(got) == 5 and got == want

    def test_partition_count_invariant(self, spark):
        from gdp_etl_spark.operators.ids import grouped_ntile

        df = self._fixture(spark)
        order = [F.col("score").desc(), F.col("id").asc()]
        a = {r["id"]: r["bucket"]
             for r in grouped_ntile(df, ["g"], order, 3,
                                    num_partitions=2).collect()}
        b = {r["id"]: r["bucket"]
             for r in grouped_ntile(df, ["g"], order, 3,
                                    num_partitions=19).collect()}
        assert a == b

    def test_no_group_keyed_window_on_data_path(self, spark):
        """The de-skew contract: every data-path window partitions by
        the range-partition id (splittable), never by the group alone,
        and no ntile expression survives in the plan."""
        from gdp_etl_spark.operators.ids import grouped_ntile

        df = self._fixture(spark)
        plan = (
            grouped_ntile(
                df, ["g"], [F.col("score").desc(), "id"], 3,
                num_partitions=8,
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ntile(" not in plan
        assert "windowspecdefinition(__pid" in plan
        # the only group-keyed window is the offsets prefix-sum over
        # the #partitions × #groups COUNTS frame (statistics-scale) —
        # its aggregate is sum(__n), never a data-row function
        for line in plan.splitlines():
            if ("windowspecdefinition(g#" in line
                    and "windowspecdefinition(__pid" not in line):
                assert "sum(__n" in line, line


class TestIntervalOverlapJoin:
    def test_known_pairs_half_open(self, spark):
        from gdp_etl_spark.operators.rangejoin import interval_overlap_join

        left = spark.createDataFrame(
            [("a", 0, 5), ("b", 10, 20), ("c", 100, 200)],
            "lid string, lo long, hi long",
        )
        right = spark.createDataFrame(
            [("x", 5, 10), ("y", 4, 6), ("z", 15, 300)],
            "rid string, rlo long, rhi long",
        )
        out = interval_overlap_join(
            left, right, "lo", "hi", "rlo", "rhi", band_width=7
        )
        pairs = {(r["lid"], r["rid"]) for r in out.collect()}
        # [0,5) vs [5,10) touch but do NOT overlap (half-open)
        assert pairs == {("a", "y"), ("b", "z"), ("c", "z")}
        # emitted exactly once each, even though c×z share ~15 bands
        assert out.count() == 3

    def test_keys_separate_groups(self, spark):
        from gdp_etl_spark.operators.rangejoin import interval_overlap_join

        left = spark.createDataFrame(
            [(1, 0, 10), (2, 0, 10)], "g int, lo long, hi long"
        )
        right = spark.createDataFrame(
            [(1, 5, 15), (2, 50, 60)], "g int, rlo long, rhi long"
        )
        out = interval_overlap_join(
            left, right, "lo", "hi", "rlo", "rhi", band_width=8, keys=("g",)
        )
        assert [r["g"] for r in out.collect()] == [1]

    def test_matches_bruteforce(self, spark):
        import random

        from gdp_etl_spark.operators.rangejoin import interval_overlap_join

        rng = random.Random(11)
        L = [(i, rng.randrange(0, 500), 0) for i in range(60)]
        L = [(i, lo, lo + rng.randrange(1, 80)) for i, lo, _ in L]
        R = [(j, rng.randrange(0, 500), 0) for j in range(60)]
        R = [(j, lo, lo + rng.randrange(1, 80)) for j, lo, _ in R]
        expected = {
            (i, j)
            for i, llo, lhi in L
            for j, rlo, rhi in R
            if llo < rhi and rlo < lhi
        }
        ldf = spark.createDataFrame(L, "lid long, lo long, hi long")
        rdf = spark.createDataFrame(R, "rid long, rlo long, rhi long")
        # emit-once dedup must hold whatever the band width: narrower
        # than, comparable to, and wider than every interval
        for width in (7, 32, 200, 1000):
            out = interval_overlap_join(
                ldf, rdf, "lo", "hi", "rlo", "rhi", band_width=width
            )
            got = [(r["lid"], r["rid"]) for r in out.collect()]
            assert len(got) == len(set(got)) == len(expected), width
            assert set(got) == expected, width


class TestSamplePerGroup:
    def test_exact_quota_and_determinism(self, spark):
        from gdp_etl_spark.operators.sampling import sample_per_group

        df = spark.createDataFrame(
            [(g, i) for g in ("a", "b") for i in range(50)] + [("tiny", 0)],
            "g string, k long",
        )
        out = sample_per_group(df, ["g"], "k", 10)
        sizes = {r["g"]: r["n"] for r in
                 out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sizes == {"a": 10, "b": 10, "tiny": 1}
        again = sample_per_group(df, ["g"], "k", 10)
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
        # a different seed draws a different sample
        other = sample_per_group(df, ["g"], "k", 10, seed="other")
        assert sorted(map(tuple, out.collect())) != sorted(map(tuple, other.collect()))


class TestCogroupReconcile:
    def test_parity_with_relational_form_and_outer_semantics(self, spark):
        from gdp_etl_spark.operators.cogroup import reconcile_orders_lines

        orders = spark.createDataFrame(
            [(1, 100.0), (2, 50.0), (3, 7.0)],  # 3 has no lines
            "o_orderkey long, o_totalprice double",
        )
        lines = spark.createDataFrame(
            [(1, 60.0, 0.0), (1, 50.0, 0.2), (2, 50.0, 0.0),
             (9, 1.0, 0.0)],                    # 9 has no header
            "l_orderkey long, l_extendedprice double, l_discount double",
        )
        out = {r["orderkey"]: r for r in
               reconcile_orders_lines(orders, lines).collect()}
        assert abs(out[1]["line_total"] - 100.0) < 1e-9
        assert abs(out[1]["delta"]) < 1e-9
        assert out[2]["n_lines"] == 1
        assert out[3]["line_total"] is None and out[3]["n_lines"] == 0
        assert out[9]["header_total"] is None and out[9]["delta"] is None
        # parity with the relational form on a real table slice
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        cg = reconcile_orders_lines(o, li)
        rel = (
            o.join(
                li.groupBy("l_orderkey").agg(
                    F.sum(
                        F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
                    ).alias("r_line_total"),
                    F.count(F.lit(1)).alias("r_n_lines"),
                ),
                o.o_orderkey == F.col("l_orderkey"),
                "full",
            )
            .select(
                F.coalesce("o_orderkey", "l_orderkey").alias("r_key"),
                "r_line_total",
                F.coalesce("r_n_lines", F.lit(0)).alias("r_n_lines"),
            )
        )
        assert cg.count() == rel.count()
        # float sums differ only by accumulation order across engines
        mism = cg.join(rel, cg.orderkey == rel.r_key).filter(
            (F.abs(F.col("line_total") - F.col("r_line_total")) > 1e-6)
            | (F.col("n_lines") != F.col("r_n_lines"))
        )
        assert mism.count() == 0


def test_interval_overlap_same_named_bounds(spark):
    """The natural call: both sides use conventional lo/hi names — must
    analyze (frame-qualified predicates), not throw AMBIGUOUS_REFERENCE."""
    from gdp_etl_spark.operators.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [("a", 0, 10)], "lid string, lo long, hi long"
    )
    right = spark.createDataFrame(
        [("x", 5, 15), ("y", 20, 30)], "rid string, lo long, hi long"
    )
    out = interval_overlap_join(left, right, "lo", "hi", "lo", "hi", 8)
    got = [(r["lid"], r["rid"]) for r in out.select("lid", "rid").collect()]
    assert got == [("a", "x")]


def test_benford_digits(spark):
    import math

    from gdp_etl_spark.operators.profile import benford_digits

    df = spark.createDataFrame(
        [(1.0,), (19.99,), (150.0,), (2.5,), (999.0,), (-5.0,), (0.0,)],
        "v double",
    )
    out = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    # 0 excluded (no significant digit at cent resolution); -5 counts
    # via |value| (Benford reads the first significant digit of the
    # magnitude — an all-refunds feed must not profile empty);
    # digits: 1.00->1, 19.99->1, 150.0->1, 2.5->2, 999->9, -5->5
    assert out[1]["n"] == 3 and out[2]["n"] == 1 and out[9]["n"] == 1
    assert out[5]["n"] == 1
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-12
    assert abs(out[1]["benford_p"] - math.log10(2)) < 1e-15
    assert out[1]["chi2_contrib"] >= 0.0
    # all-negative feed profiles exactly like its positive mirror
    neg = spark.createDataFrame([(-1.0,), (-19.99,), (-2.5,)], "v double")
    got = {r["digit"]: r["n"] for r in benford_digits(neg, "v").collect()}
    assert got == {1: 2, 2: 1}


class TestRecordLinkage:
    def test_scoring_and_classes(self, spark):
        from gdp_etl_spark.operators.linkage import (
            FieldRule,
            block_candidates,
            fellegi_sunter_score,
        )

        left = spark.createDataFrame(
            [(1, "alice smith", "NY", 100.0),
             (2, "bob jones", "NY", 50.0),
             (3, "carol king", "CA", 70.0)],
            "lid long, lname string, lstate string, lbal double",
        )
        right = spark.createDataFrame(
            [(11, "ALICE SMITH", "NY", 100.01),   # match (case-insensitive)
             (12, "bobby jones", "NY", 50.0),     # name off, bal on -> possible
             (13, "dave hall", "CA", 1.0)],       # nothing agrees
            "rid long, rname string, rstate string, rbal double",
        )
        cands = block_candidates(
            left, right, [(F.col("lstate"), F.col("rstate"))]
        )
        rules = [
            FieldRule("name", F.lower("lname") == F.lower("rname"), 4000, 2000),
            FieldRule("bal", F.abs(F.col("lbal") - F.col("rbal")) <= 0.05, 2000, 1000),
        ]
        out = fellegi_sunter_score(cands, rules, upper_millis=5000,
                                   lower_millis=500)
        got = {(r["lid"], r["rid"]): (r["score_millis"], r["link_class"])
               for r in out.collect()}
        assert got[(1, 11)] == (6000, "match")
        assert got[(2, 12)] == (0, "non_match")       # -2000 + 2000
        assert got[(1, 12)] == (-3000, "non_match")
        assert got[(3, 13)] == (-3000, "non_match")
        # blocking: cross-state pairs never generated
        assert (1, 13) not in got

    def test_null_field_contributes_nothing(self, spark):
        from gdp_etl_spark.operators.linkage import (
            FieldRule,
            fellegi_sunter_score,
        )

        cands = spark.createDataFrame(
            [(1, None, "x", "x")], "id long, a string, l string, r string"
        )
        rules = [
            FieldRule("a", F.col("a") == "y", 9000, 9000),   # NULL verdict
            FieldRule("lr", F.col("l") == F.col("r"), 1000, 1000),
        ]
        [row] = fellegi_sunter_score(cands, rules, 10_000, 500).collect()
        assert row["score_millis"] == 1000 and row["a_agree"] is None
        assert row["link_class"] == "possible"


def test_corr_matrix_matches_numpy(spark):
    import numpy as np

    from gdp_etl_spark.operators.regression import corr_matrix

    rng = np.random.RandomState(3)
    a = rng.rand(500).round(4)
    b = (2 * a + rng.rand(500) * 0.1).round(4)   # strongly correlated
    c = rng.rand(500).round(4)                    # independent
    rows = [(float(a[i]), float(b[i]), float(c[i])) for i in range(500)]
    rows.append((None, 1.0, 1.0))                 # listwise-deleted
    df = spark.createDataFrame(rows, "a double, b double, c double")
    out = {(r["col_x"], r["col_y"]): r for r in
           corr_matrix(df, ["a", "b", "c"]).collect()}
    assert len(out) == 3 and all(r["n"] == 500 for r in out.values())
    for (x, y), r in out.items():
        arr = {"a": a, "b": b, "c": c}
        expect = float(np.corrcoef(arr[x], arr[y])[0, 1])
        assert abs(r["corr"] - expect) < 1e-5, (x, y)
    assert out[("a", "b")]["corr"] > 0.95
    assert abs(out[("a", "c")]["corr"]) < 0.2


def test_corr_matrix_large_magnitude_exceeds_two_limb_bound(spark):
    """Squared sums beyond _dec2dbl's 2^85 bound: 100k rows of ~1e7
    values give Σq² ≈ 1e31 — the wide 3-limb path must still match
    NumPy (and stay finite), where the 2-limb cast would be
    engine-divergent."""
    import numpy as np

    from gdp_etl_spark.operators.regression import corr_matrix

    rng = np.random.RandomState(5)
    a = (rng.rand(100_000) * 1e7).round(2)
    b = (a * 3.0 + rng.rand(100_000) * 1e6).round(2)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], "a double, b double"
    )
    [row] = corr_matrix(df, ["a", "b"]).collect()
    expect = float(np.corrcoef(a, b)[0, 1])
    assert abs(row["corr"] - expect) < 1e-6


def test_column_entropy(spark):
    import math

    from gdp_etl_spark.operators.profile import column_entropy

    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, None), ("b", 3, None), ("b", 4, None)],
        "cat string, uniq int, const string",
    )
    out = {r["column"]: r for r in
           column_entropy(df, ["cat", "uniq", "const"]).collect()}
    assert abs(out["cat"]["entropy"] - math.log(2)) < 1e-8
    assert abs(out["uniq"]["entropy"] - math.log(4)) < 1e-8
    assert out["const"]["entropy"] == 0.0 and out["const"]["n_distinct"] == 1


def test_corr_matrix_13_columns_no_alias_collision(spark):
    """≥13 columns: the positional alias layers need a separator
    ('__sd1_2' pair vs '__sd12' single) or aliases collide into an
    ambiguous-reference failure."""
    import numpy as np

    from gdp_etl_spark.operators.regression import corr_matrix

    rng = np.random.RandomState(7)
    k, n = 13, 60
    data = rng.rand(n, k).round(4)
    cols = [f"c{i}" for i in range(k)]
    df = spark.createDataFrame(
        [tuple(float(v) for v in row) for row in data],
        ", ".join(f"{c} double" for c in cols),
    )
    out = {(r["col_x"], r["col_y"]): r["corr"]
           for r in corr_matrix(df, cols).collect()}
    assert len(out) == k * (k - 1) // 2
    expect = float(np.corrcoef(data[:, 1], data[:, 2])[0, 1])
    assert abs(out[("c1", "c2")] - expect) < 1e-5


class TestExpandHierarchyReference:
    """Reference-exact hierarchy expansion (operators.hierarchy):
    target-leaf filter, the 'Other territories' exemption, and the
    final-pass quirk that keeps non-target leaves reached in the last
    executed pass (``gpd_etl_pipeline.R:347-388``)."""

    SCHEMA = (
        "Parent_Code string, Parent_Label string, Parent_ValidFrom string, "
        "Parent_ValidTo string, Parent_IsTarget string, "
        "Child_Code string, Child_Label string, Child_ValidFrom string, "
        "Child_ValidTo string, Child_IsTarget string"
    )

    def _edge(self, p, pl, c, cl, target):
        return (p, pl, "1940", "2102", "False", c, cl, "1940", "2102", target)

    def _expand(self, spark, rows, **kw):
        from gdp_etl_spark.operators.hierarchy import expand_hierarchy
        from gdp_etl_spark.session import local_df

        return expand_hierarchy(local_df(spark, rows, self.SCHEMA), **kw)

    def test_drops_nontarget_leaf_when_other_rows_expand_deeper(self, spark):
        # G's children: leaf "x" (non-target) and group "H" whose chain
        # needs TWO more passes (H -> I -> t2).  Pass 1 expands H->I and
        # x stays unexpanded; pass 2's filter drops x (non-target,
        # unexpanded, parent not exempt) while I -> t2 resolves.
        rows = [
            self._edge("G", "Group", "x", "NES", "False"),
            self._edge("G", "Group", "H", "Sub", "False"),
            self._edge("H", "Sub", "I", "SubSub", "False"),
            self._edge("I", "SubSub", "t2", "Leaf2", "True"),
        ]
        got = {(r["Parent_Code"], r["Child_Code"])
               for r in self._expand(spark, rows).collect()}
        assert got == {("G", "t2"), ("H", "t2"), ("I", "t2")}

    def test_final_pass_quirk_keeps_nontarget_leaf(self, spark):
        # "u" (non-target) is reached by expanding G -> H in the FINAL
        # executed pass; the recursion then terminates before any
        # filter can drop it — the reference's World/Developing rows
        # depend on this exact behavior.
        rows = [
            self._edge("G", "Group", "H", "Sub", "False"),
            self._edge("H", "Sub", "u", "NES", "False"),
            self._edge("H", "Sub", "t", "Leaf", "True"),
        ]
        got = {(r["Parent_Code"], r["Child_Code"], r["Child_IsTarget"])
               for r in self._expand(spark, rows).collect()}
        assert ("G", "u", "False") in got
        assert ("G", "t", "True") in got
        # H's own non-target child "u" was present from pass 0 and
        # unexpanded, so the pass-1 filter dropped it for H
        assert ("H", "u", "False") not in got
        assert ("H", "t", "True") in got

    def test_other_territories_exemption(self, spark):
        rows = [
            self._edge("G", "Group", "H", "Other territories", "False"),
            self._edge("H", "Other territories", "n1", "NES", "False"),
            self._edge("H", "Other territories", "t1", "Leaf", "True"),
            self._edge("G", "Group", "t9", "Leaf9", "True"),
        ]
        # H's label is NOT 'Other territories' in the (G, ...) rows —
        # the exemption keys on the PARENT label of the row itself
        got = {(r["Parent_Code"], r["Child_Code"])
               for r in self._expand(spark, rows).collect()}
        assert ("H", "n1") in got          # exempt parent keeps NES child
        assert ("H", "t1") in got
        assert ("G", "t1") in got and ("G", "t9") in got

    def test_distributed_loop_matches_driver_path(self, spark):
        rows = [
            self._edge("G", "Group", "H", "Sub", "False"),
            self._edge("H", "Sub", "u", "NES", "False"),
            self._edge("H", "Sub", "t", "Leaf", "True"),
            self._edge("G", "Group", "x", "NES2", "False"),
            self._edge("W", "Other territories", "n1", "NES3", "False"),
        ]
        fast = self._expand(spark, rows)
        dist = self._expand(spark, rows, driver_threshold=0)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, dist.collect())
        )

    def test_cycle_raises(self, spark):
        rows = [
            self._edge("A", "La", "B", "Lb", "False"),
            self._edge("B", "Lb", "A", "La", "False"),
        ]
        import pytest as _pytest

        with _pytest.raises(Exception, match="converge|cycle|recursion"):
            self._expand(spark, rows).collect()

    def test_missing_contract_columns_rejected(self, spark):
        import pytest as _pytest

        from gdp_etl_spark.operators.hierarchy import expand_hierarchy
        from gdp_etl_spark.session import local_df

        df = local_df(spark, [("a", "b")], "Parent_Code string, Child_Code string")
        with _pytest.raises(ValueError, match="missing columns"):
            expand_hierarchy(df)


def test_expand_hierarchy_null_codes_paths_agree(spark):
    """NULL codes (blank CSV cells): R's %in% and dplyr's default
    na_matches='na' treat NA as matching NA, the driver-side mirror
    does too (dict lookup), and the distributed loop must as well
    (eqNullSafe, not null-rejecting ==)."""
    from gdp_etl_spark.operators.hierarchy import expand_hierarchy
    from gdp_etl_spark.session import local_df

    schema = TestExpandHierarchyReference.SCHEMA
    rows = [
        ("A", "La", "1940", "2102", "False",
         None, "Lnull", "1940", "2102", "False"),
        (None, "Lnullp", "1940", "2102", "False",
         "t", "Lt", "1940", "2102", "True"),
    ]
    from collections import Counter

    df = local_df(spark, rows, schema)
    fast = Counter(map(tuple, expand_hierarchy(df).collect()))
    dist = Counter(
        map(tuple, expand_hierarchy(df, driver_threshold=0).collect())
    )
    assert fast == dist
    # the NULL child expanded through the NULL parent to the target
    assert any(r[0] == "A" and r[5] == "t" for r in fast)


class TestObservedProfile:
    """Observation-API telemetry: metrics piggyback on the caller's
    action — no second scan."""

    def test_metrics_arrive_with_the_action(self, spark):
        from gdp_etl_spark.operators.observe import observed_profile

        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 30.0), (4, None)],
            "id long, v double",
        )
        observed, obs = observed_profile(df, ["v"], name="t1")
        # the caller's own action; metrics cost no extra pass
        assert observed.filter(F.col("id") > 1).count() == 3
        got = obs.get
        assert got["n_rows"] == 4          # observe sits ABOVE the filter
        assert got["v_nulls"] == 2
        assert got["v_min"] == 10.0 and got["v_max"] == 30.0

    def test_fresh_observation_per_call(self, spark):
        from gdp_etl_spark.operators.observe import observed_profile

        df = spark.range(5).select(F.col("id"), F.col("id").alias("v"))
        a_df, a = observed_profile(df, ["v"], name="ta")
        b_df, b = observed_profile(df, ["v"], name="tb")
        a_df.write.format("noop").mode("overwrite").save()
        b_df.write.format("noop").mode("overwrite").save()
        assert a.get["n_rows"] == 5 and b.get["n_rows"] == 5


def test_grouped_topk_semantics(spark):
    """Ordering + edge semantics on a skewed distribution: one hot key
    holding half the rows, NULL order values (rank last), a
    non-orderable payload column (map) riding along, and k larger than
    a small group (all rows survive)."""
    from gdp_etl_spark.operators.skew import grouped_topk

    rows_in = [
        ("hot", i, float(i % 97), {"m": str(i)}) for i in range(500)
    ] + [
        ("cold%d" % (i % 7), 1000 + i, float(i), {"m": str(i)})
        for i in range(140)
    ] + [("nullish", 2000, None, {"m": "null-order"}),
         ("nullish", 2001, 5.0, {"m": "real"})]
    df = spark.createDataFrame(
        rows_in, "k string, id long, v double, payload map<string,string>"
    )
    got = grouped_topk(df, ["k"], "v", "id", k=5)
    by_key = {}
    for r in got.collect():
        by_key.setdefault(r.k, []).append((r.id, r.v))
    # hot: v = id % 97 peaks at 96 for ids 96, 193, 290, 387, 484 —
    # value ties break by ascending id
    assert sorted(by_key["hot"]) == [(96, 96.0), (193, 96.0), (290, 96.0),
                                     (387, 96.0), (484, 96.0)]
    # NULL order ranks last but still fills k when the group is small
    assert sorted(by_key["nullish"]) == [(2000, None), (2001, 5.0)]
    assert all(len(v) == 5 for key, v in by_key.items()
               if key.startswith("cold"))


def test_grouped_topk_plan_partial_limit(spark):
    """The operator's scale claim: Catalyst's rank-limit pushdown
    (SPARK-37099) must insert a PARTIAL WindowGroupLimit — the
    map-side ≤k-per-(key, partition) prune that runs BEFORE the
    exchange, bounding per-key shuffle volume by k instead of group
    size.  If a Spark upgrade ever drops this rewrite, the operator's
    100-TB story breaks and this test says so."""
    from gdp_etl_spark.operators.skew import grouped_topk

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("k"),
        F.col("id").alias("id"),
        F.col("id").cast("double").alias("v"),
    )
    plan = (
        grouped_topk(df, ["k"], "v", "id", k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1] or \
        sum("WindowGroupLimit" in l and "Partial" in l
            for l in plan.splitlines()) >= 1


def test_source_minhash_overlap_estimates(spark):
    """Slice-signature containment: identical slices agree on every
    permutation, disjoint slices on (essentially) none, and a planted
    half-overlap estimates within the sketch's standard error."""
    from gdp_etl_spark.operators.sketches import source_minhash_overlap

    mk = lambda i: f"shared tokens {' '.join(str(j) for j in range(i, i + 12))}"
    rows_in = (
        [("a", mk(i)) for i in range(20)]
        + [("b", mk(i)) for i in range(20)]          # b == a
        + [("c", mk(i + 1000)) for i in range(20)]   # c disjoint
        + [("d", mk(i)) for i in range(10, 30)]      # d half-overlaps a
    )
    df = spark.createDataFrame(rows_in, "source string, text string")
    got = {
        (r.source_a, r.source_b): (r.n_matches, r.est_jaccard)
        for r in source_minhash_overlap(df, "text", "source", num_perm=64).collect()
    }
    assert got[("a", "b")] == (64, 1.0)
    assert got[("a", "c")][0] <= 3
    # true J(a, d) is ~1/3 (shared 10 of ~30 distinct starts); 64 perms
    # -> se ~ 0.06, assert within 4 se
    assert abs(got[("a", "d")][1] - 1 / 3) < 0.25


def test_epoch_shuffle_deterministic_permutations(spark):
    """Same epoch twice -> identical (shard, position); different
    epochs -> different order of the same rows; positions contiguous
    from 1 within every shard."""
    from gdp_etl_spark.operators.sampling import epoch_shuffle

    d = spark.range(200).select(F.col("id").alias("doc_id"))
    e0a = {(r.doc_id): (r.shard, r.position)
           for r in epoch_shuffle(d, "doc_id", 0, 4).collect()}
    e0b = {(r.doc_id): (r.shard, r.position)
           for r in epoch_shuffle(d, "doc_id", 0, 4).collect()}
    e1 = {(r.doc_id): (r.shard, r.position)
          for r in epoch_shuffle(d, "doc_id", 1, 4).collect()}
    assert e0a == e0b                      # reproducible
    assert e0a != e1                       # epochs permute independently
    assert set(e0a) == set(e1) == set(range(200))  # same rows, once each
    from collections import defaultdict
    by_shard = defaultdict(list)
    for _, (s, p) in e0a.items():
        by_shard[s].append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_stratified_split_exact_quotas(spark):
    """Quotas are EXACT per stratum (not Bernoulli-expected): 100 rows
    per stratum at 8/1/1 weights give exactly 80/10/10; assignment is
    deterministic across calls; a stratum smaller than the weight sum
    still covers every label run the ntile rule reaches; collisions
    with an existing 'split' column raise."""
    import pytest as _pytest

    from gdp_etl_spark.operators.sampling import stratified_split

    df = spark.createDataFrame(
        [(s * 1000 + i, f"s{s}") for s in range(3) for i in range(100)],
        "id long, stratum string",
    )
    out = stratified_split(df, "id", "stratum",
                           {"train": 8, "val": 1, "test": 1})
    counts = {
        (r.stratum, r.split): r.n
        for r in out.groupBy("stratum", "split").count()
        .withColumnRenamed("count", "n").collect()
    }
    for s in range(3):
        assert counts[(f"s{s}", "train")] == 80
        assert counts[(f"s{s}", "val")] == 10
        assert counts[(f"s{s}", "test")] == 10
    again = stratified_split(df, "id", "stratum",
                             {"train": 8, "val": 1, "test": 1})
    assert {(r.id, r.split) for r in out.collect()} == {
        (r.id, r.split) for r in again.collect()
    }
    tiny = spark.createDataFrame([(1, "s"), (2, "s")], "id long, stratum string")
    lab = {r.split for r in stratified_split(
        tiny, "id", "stratum", {"train": 8, "val": 1, "test": 1}).collect()}
    assert lab == {"train"}  # 2 rows -> tiles 1..2 -> both in the train run
    with _pytest.raises(ValueError):
        stratified_split(out, "id", "stratum", {"a": 1})


def test_within_batch_screen_admits_canonicals_only(spark):
    """Direct operator-level check of the ingest's third admission
    stage: mutual near-dups inside ONE frame admit only the
    minimum-id member; dissimilar docs pass untouched; the schema is
    preserved (output rows are a subset of the input's)."""
    from gdp_etl_spark.operators.dedup import within_batch_screen

    base = "the quick brown fox jumps over the lazy dog again today ok"
    rows_in = [
        (1, base, "a"),
        (2, base + " indeed", "b"),          # near-dup of 1
        (3, "completely different words about spark engines", "c"),
        (4, base + " indeed", "d"),          # exact text of 2 -> J=1
    ]
    df = spark.createDataFrame(rows_in, "doc_id long, text string, src string")
    out = within_batch_screen(
        df, "text", "doc_id", num_perm=16, bands=16, jaccard_threshold=0.8
    )
    assert out.columns == df.columns
    got = {(r.doc_id, r.src) for r in out.collect()}
    assert got == {(1, "a"), (3, "c")}


def test_epoch_shuffle_collision_guard(spark):
    import pytest as _pytest

    from gdp_etl_spark.operators.sampling import epoch_shuffle

    d = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("shard")
    )
    with _pytest.raises(ValueError, match="collide"):
        epoch_shuffle(d, "doc_id", 0, 4)


def test_pq_full_rerank_equals_exact_brute_force(spark):
    """Exactness property: with rerank >= corpus size the ADC
    shortlist is everything, so pq_topk degenerates to the exact
    fixed-point brute force — quantization can reorder NOTHING.  Pins
    the re-rank join and the exact-distance expression end to end."""
    import heapq

    from gdp_etl_spark.operators.kmeans import _quantize
    from gdp_etl_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    got = [
        (r.query_id, r.rank, r.neighbour_id, r.score_d2)
        for r in pq_topk(emb, [0, 1], k=5, m=4, k_codes=8, n_iter=1,
                         rerank=n).collect()
    ]
    q = emb.select("vec_id", _quantize(F.col("embedding"), 1e6, 1.0).alias("q"))
    rows = {r.vec_id: list(r.q) for r in q.collect()}
    want = []
    for qi in (0, 1):
        d = [
            (sum((a - b) * (a - b) for a, b in zip(rows[qi], v)), vid)
            for vid, v in rows.items() if vid != qi
        ]
        for rank, (d2, vid) in enumerate(heapq.nsmallest(5, d), start=1):
            want.append((qi, rank, vid, d2))
    assert sorted(got) == sorted(want)


def test_ivf_fixed_exhaustive_probe_equals_brute_force(spark):
    """Exactness property (the ivf_recall harness for the fixed-point
    variant): with nprobe = num_centroids every cell is probed, so
    ivf_topk_fixed degenerates to the exact fixed-point brute force —
    cell partitioning can DROP nothing.  Pins training, assignment,
    probe selection and the exact-distance scoring end to end."""
    import heapq

    from gdp_etl_spark.operators.kmeans import _quantize
    from gdp_etl_spark.operators.similarity import ivf_topk_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = [
        (r.query_id, r.rank, r.neighbour_id, r.score_d2)
        for r in ivf_topk_fixed(
            emb, [0, 1], k=5, num_centroids=4, nprobe=4, n_iter=1
        ).collect()
    ]
    q = emb.select("vec_id", _quantize(F.col("embedding"), 1e6, 1.0).alias("q"))
    rows = {r.vec_id: list(r.q) for r in q.collect()}
    want = []
    for qi in (0, 1):
        d = [
            (sum((a - b) * (a - b) for a, b in zip(rows[qi], v)), vid)
            for vid, v in rows.items() if vid != qi
        ]
        for rank, (d2, vid) in enumerate(heapq.nsmallest(5, d), start=1):
            want.append((qi, rank, vid, d2))
    assert sorted(got) == sorted(want)


def test_ivf_fixed_sampled_training_stays_exact_under_full_probe(spark):
    """train_ppm caps the Lloyd training set via the portable hash
    gate — centroid QUALITY changes, correctness must not: with
    nprobe = num_centroids the result still equals the full-training
    exhaustive probe (both are the exact brute force), and the sampled
    variant is deterministic across repartitionings."""
    from gdp_etl_spark.operators.similarity import ivf_topk_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = ivf_topk_fixed(emb, [0, 1], k=5, num_centroids=4, nprobe=4,
                          n_iter=1).collect()
    sampled = ivf_topk_fixed(emb, [0, 1], k=5, num_centroids=4, nprobe=4,
                             n_iter=1, train_ppm=400_000).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbour_id, r.score_d2)
    assert sorted(map(key, sampled)) == sorted(map(key, full))
    again = ivf_topk_fixed(emb.repartition(7), [0, 1], k=5,
                           num_centroids=4, nprobe=4, n_iter=1,
                           train_ppm=400_000).collect()
    assert sorted(map(key, again)) == sorted(map(key, sampled))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="train_ppm"):
        ivf_topk_fixed(emb, [0], num_centroids=2, train_ppm=0)
    with _pytest.raises(ValueError, match="sample is empty"):
        ivf_topk_fixed(emb, [0], num_centroids=2, train_ppm=1)


def test_ivf_fixed_rejects_non_integral_ids(spark):
    from gdp_etl_spark.operators.similarity import ivf_topk_fixed

    emb = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(TypeError, match="ints"):
        ivf_topk_fixed(emb, ["0"], num_centroids=2)
    with pytest.raises(ValueError, match="duplicates"):
        ivf_topk_fixed(emb, [1, 1], num_centroids=2)


def test_ivf_nprobe_below_one_raises(spark):
    """``nprobe`` slices the ranked cells: 0 would probe nothing and a
    negative value all but the last cells.  Every IVF entry point
    raises at call time instead, before any job or table read."""
    from gdp_etl_spark.operators.ann_index import ivf_probe_index
    from gdp_etl_spark.operators.similarity import ivf_topk, ivf_topk_fixed

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    for nprobe in (0, -1):
        with pytest.raises(ValueError, match="nprobe"):
            ivf_topk(emb, emb, num_centroids=2, nprobe=nprobe)
        with pytest.raises(ValueError, match="nprobe"):
            ivf_topk_fixed(emb, [0], num_centroids=2, nprobe=nprobe)
        with pytest.raises(ValueError, match="nprobe"):
            ivf_probe_index(spark, "t_no_such_index", [0], nprobe=nprobe)
