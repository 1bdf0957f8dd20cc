"""Distributed deterministic k-means + budget-driven corpus mixing."""

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gdp_etl_spark.operators.kmeans import kmeans_fixed
from gdp_etl_spark.operators.sampling import mix_to_budget
from tests.conftest import rows

_SET = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _planted(spark, n_per=20):
    """Three well-separated 4-d blobs: cluster structure is unambiguous."""
    centers = [(-0.8, -0.8, -0.8, -0.8), (0.0, 0.8, -0.5, 0.5),
               (0.9, 0.9, 0.9, 0.9)]
    data = []
    i = 0
    for ci, c in enumerate(centers):
        for j in range(n_per):
            jit = ((i * 37) % 11 - 5) / 200.0  # deterministic +-0.025
            data.append((i, [x + jit for x in c], ci))
            i += 1
    return spark.createDataFrame(
        data, "id long, vec array<float>, truth int"
    )


def test_kmeans_recovers_planted_blobs(spark):
    df = _planted(spark)
    out = kmeans_fixed(df, "id", "vec", k=3, n_iter=3)
    joined = out.join(df, "id")
    # every truth-group maps to exactly one cluster and vice versa
    m = rows(joined.select("truth", "cluster").distinct())
    assert len(m) == 3
    assert len({c for _, c in m}) == 3


def test_kmeans_deterministic_across_runs_and_partitionings(spark):
    df = _planted(spark)
    a = rows(kmeans_fixed(df, "id", "vec", k=3, n_iter=2))
    b = rows(kmeans_fixed(df.repartition(7), "id", "vec", k=3, n_iter=2))
    assert a == b


def test_kmeans_k_capped_and_empty_input(spark):
    df = _planted(spark, n_per=1)  # 3 rows
    out = kmeans_fixed(df, "id", "vec", k=10, n_iter=1)
    assert out.count() == 3
    assert rows(out.select("dist2")) == [(0,), (0,), (0,)]  # own centroid
    empty = kmeans_fixed(df.limit(0), "id", "vec", k=3)
    assert empty.count() == 0


def test_kmeans_assignment_is_map_work(spark):
    """Final assignment plan: no join, no window — centroids are literals."""
    df = _planted(spark)
    plan = (
        kmeans_fixed(df, "id", "vec", k=3, n_iter=1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Join" not in plan
    assert "Window" not in plan


def test_mix_to_budget_rates_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "en" if i < 80 else "de", 100) for i in range(100)],
        "doc_id long, lang string, toks long",
    )
    # budget 5000, weights en:1 de:1 -> target 2500 each;
    # en avail 8000 -> 312500 ppm; de avail 2000 -> capped 1000000 ppm
    out = mix_to_budget(df, "doc_id", "lang", "toks", 5000, {"en": 1, "de": 1})
    got = {r["lang"]: r["rate_ppm"] for r in out.collect()}
    assert got["de"] == 1_000_000
    assert got["en"] == 312_500
    # all of de kept (rate 100%), en subsampled
    cnt = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert cnt["de"] == 20
    assert 0 < cnt["en"] < 80
    # deterministic across partitionings
    out2 = mix_to_budget(
        df.repartition(5), "doc_id", "lang", "toks", 5000, {"en": 1, "de": 1}
    )
    assert rows(out) == rows(out2)


@_SET
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**6),               # doc_id
            st.sampled_from(["a", "b", "c"]),    # domain
            st.integers(1, 500),                 # tokens
        ),
        min_size=1, max_size=50,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 10**5),                       # budget
)
def test_mix_matches_independent_python_model(spark, docs, budget):
    """The exact sample equals an independent pure-Python replay of the
    recipe (hashlib md5 + integer arithmetic) — full determinism, not
    just statistical shape."""
    weights = {"a": 3, "b": 2, "c": 1}
    avail = {}
    for _, d, t in docs:
        avail[d] = avail.get(d, 0) + t
    expect = set()
    for doc_id, d, t in docs:
        rate = min(
            1_000_000, budget * weights[d] * 1_000_000 // (6 * avail[d])
        )
        h = int(
            hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[:8], 16
        )
        if h % 1_000_000 < rate:
            expect.add(doc_id)
    df = spark.createDataFrame(docs, "doc_id long, dom string, toks long")
    got = {
        r["doc_id"]
        for r in mix_to_budget(df, "doc_id", "dom", "toks", budget, weights)
        .select("doc_id").collect()
    }
    assert got == expect


@_SET
@given(
    st.lists(
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=40,
    ),
    st.integers(1, 5),
)
def test_kmeans_invariants_random(spark, vecs, k):
    """Over random inputs: every row assigned exactly once, cluster ids
    in [0, min(k, n)), dist2 >= 0, and the result is partitioning-
    independent."""
    data = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(data, "id long, vec array<float>")
    out = rows(kmeans_fixed(df, "id", "vec", k=k, n_iter=1))
    assert len(out) == len(vecs)
    assert {t[0] for t in out} == set(range(len(vecs)))
    keff = min(k, len(vecs))
    assert all(0 <= t[1] < keff and t[2] >= 0 for t in out)
    out2 = rows(kmeans_fixed(df.repartition(3), "id", "vec", k=k, n_iter=1))
    assert out == out2


def test_mix_to_budget_unlisted_domain_dropped_and_bad_weights(spark):
    df = spark.createDataFrame(
        [(1, "en", 10), (2, "xx", 10)], "doc_id long, lang string, toks long"
    )
    out = mix_to_budget(df, "doc_id", "lang", "toks", 100, {"en": 1})
    assert {r["lang"] for r in out.collect()} <= {"en"}
    with pytest.raises(ValueError):
        mix_to_budget(df, "doc_id", "lang", "toks", 100, {})


def test_mix_to_budget_overflow_guard(spark):
    """budget*max(w)*1e6 past int64 would WRAP under ANSI-off and
    silently drop domains — must raise driver-side before any job."""
    df = spark.createDataFrame([(1, "en", 100)], "doc_id long, lang string, toks long")
    with pytest.raises(ValueError, match="int64"):
        mix_to_budget(df, "doc_id", "lang", "toks",
                      10**13, {"en": 1000, "de": 1})
    # at the boundary the guard stays quiet (2^63-1 // 1e6 // 1000)
    mix_to_budget(df, "doc_id", "lang", "toks",
                  9_223_372_036, {"en": 1000, "de": 1})


def test_mix_to_budget_gavail_clash_rejected(spark):
    """__gavail is a work column mix_to_budget creates and drops — an
    input column with that name would be silently overwritten and
    destroyed, so the clash guard must cover it (advisor finding)."""
    df = spark.createDataFrame(
        [(1, "en", 10, 7)],
        "doc_id long, lang string, toks long, __gavail long",
    )
    with pytest.raises(ValueError, match="__gavail"):
        mix_to_budget(df, "doc_id", "lang", "toks", 100, {"en": 1})


def test_curriculum_stages_layout(spark):
    """Stage assignment is an exact easy->hard rank cut; batches are
    stage-pure, fixed-size (ragged tail), deterministic across
    partitionings; NULL scores raise."""
    from pyspark.errors import SparkRuntimeException

    from gdp_etl_spark.operators.sampling import curriculum_stages

    rows_in = [(i, float((i * 37) % 100)) for i in range(100)]
    df = spark.createDataFrame(rows_in, "doc_id bigint, difficulty double")
    out = curriculum_stages(
        df, "difficulty", "doc_id", n_stages=4, batch_size=8
    ).collect()
    assert len(out) == 100
    by_id = {r.doc_id: r for r in out}
    # exact rank cut: 25 per stage, stage monotone in difficulty rank
    ranked = sorted(rows_in, key=lambda t: (t[1], t[0]))
    for rank, (i, _) in enumerate(ranked):
        assert by_id[i].stage == rank * 4 // 100
    # batches stage-pure and fixed-size with ragged tail (25 = 3*8+1)
    from collections import Counter
    sizes = Counter(r.batch_id for r in out)
    for r in out:
        assert r.batch_id // 1_000_000_000 == r.stage
        assert 0 <= r.pos_in_batch < 8
    per_stage = Counter()
    for b, n in sizes.items():
        per_stage[b // 1_000_000_000] += 1
        assert n <= 8
    assert all(v == 4 for v in per_stage.values())  # ceil(25/8) = 4
    # batch_id order walks the curriculum: stage of batch ids ascending
    # determinism across partitionings
    again = curriculum_stages(
        df.repartition(7), "difficulty", "doc_id", n_stages=4, batch_size=8
    ).collect()
    assert {(r.doc_id, r.stage, r.batch_id, r.pos_in_batch) for r in out} == \
           {(r.doc_id, r.stage, r.batch_id, r.pos_in_batch) for r in again}

    withnull = spark.createDataFrame(
        [(1, 2.0), (2, None)], "doc_id bigint, difficulty double"
    )
    with pytest.raises(SparkRuntimeException, match="NULL score"):
        curriculum_stages(withnull, "difficulty", "doc_id").collect()
    with pytest.raises(ValueError, match="n_stages"):
        curriculum_stages(df, "difficulty", "doc_id", n_stages=0)
    with pytest.raises(ValueError, match="batch_size"):
        curriculum_stages(df, "difficulty", "doc_id", batch_size=0)
    # stride guard (r13 review finding): a stage needing more batches
    # than the batch_id stride must raise, not collide silently —
    # 100 rows / 2 stages / batch_size 1 = 50 batches > stride 4
    with pytest.raises(ValueError, match="stride"):
        curriculum_stages(
            df, "difficulty", "doc_id", n_stages=2, batch_size=1,
            batch_id_stride=4,
        )


def test_train_pq_codebooks_equals_sequential(spark):
    """The fused multi-subspace trainer (r15: one persisted frame, one
    action per Lloyd's step for ALL subspaces) must be bit-identical to
    m sequential train_kmeans_fixed calls over the vector slices with
    per-subspace seeds — the equivalence write_pq_index / pq_topk rely
    on when they swap the sequential loop for the fused one."""
    from gdp_etl_spark.operators.kmeans import (
        train_kmeans_fixed,
        train_pq_codebooks,
    )

    # 8-dim vectors from the planted 4-d blobs: concat vec with its
    # reverse so subspaces carry different geometry
    df = _planted(spark).select(
        "id", F.concat("vec", F.reverse("vec")).alias("vec")
    )
    m, sub = 4, 2
    seq = []
    for s in range(m):
        sliced = df.select(
            "id", F.slice("vec", s * sub + 1, sub).alias("vec")
        )
        seq.append(
            train_kmeans_fixed(
                sliced, "id", "vec", k=5, n_iter=2, seed=f"pq{s}"
            )
        )
    fused = train_pq_codebooks(
        df, "id", "vec", m=m, sub=sub, k=5, n_iter=2, seed="pq"
    )
    assert fused == seq

    # k larger than the corpus: both cap at the row count, same order
    small = df.limit(3)
    seq_small = [
        train_kmeans_fixed(
            small.select(
                "id", F.slice("vec", s * sub + 1, sub).alias("vec")
            ),
            "id", "vec", k=10, n_iter=1, seed=f"pq{s}",
        )
        for s in range(m)
    ]
    fused_small = train_pq_codebooks(
        small, "id", "vec", m=m, sub=sub, k=10, n_iter=1, seed="pq"
    )
    assert fused_small == seq_small

    # empty corpus: every subspace book is empty (the caller raises)
    fused_empty = train_pq_codebooks(
        df.limit(0), "id", "vec", m=m, sub=sub, k=5, n_iter=1, seed="pq"
    )
    assert fused_empty == [[] for _ in range(m)]


def _lloyd_reference(vecs, k, n_iter, seed):
    """Pure-Python fixed-point Lloyd's, written from the recipe alone:
    seeds are the ``k`` ids with the smallest ``md5(id:seed)`` 8-hex
    prefix (ties by id), distances are exact integer squared sums with
    ties to the smallest cluster id, updates floor-divide the integer
    sums, and an empty cluster keeps its centroid.  Returns the final
    centroids and how many (iteration, cluster) updates found a
    cluster empty."""
    def h(i):
        return int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16)

    cents = [list(vecs[i]) for i in sorted(vecs, key=lambda i: (h(i), i))[:k]]
    empty = 0
    for _ in range(n_iter):
        sums = [[0] * len(c) for c in cents]
        counts = [0] * len(cents)
        for v in vecs.values():
            d = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents]
            best = d.index(min(d))
            counts[best] += 1
            sums[best] = [s + x for s, x in zip(sums[best], v)]
        empty += counts.count(0)
        cents = [
            [s // n for s in sm] if n else c
            for c, sm, n in zip(cents, sums, counts)
        ]
    return cents, empty


def test_lloyd_engine_matches_python_reference(spark):
    """The one Lloyd's engine against an independent model: plain
    k-means (``train_kmeans_fixed``) and the m=2 product quantizer
    (``train_pq_codebooks``, subspace ``s`` seeded ``pq{s}``) equal
    :func:`_lloyd_reference` on the planted blobs.  Blob points repeat
    every 11 ids, so at large k some clusters empty out and the
    keep-the-centroid rule is exercised (asserted, so the fixture
    cannot drift away from it)."""
    from gdp_etl_spark.operators.kmeans import (
        _quantize,
        train_kmeans_fixed,
        train_pq_codebooks,
    )

    df = _planted(spark)
    q = {
        r["id"]: list(r["q"])
        for r in df.select(
            "id", _quantize(F.col("vec"), 1e6, 1.0).alias("q")
        ).collect()
    }
    n_empty = 0
    for k in (3, 20):
        want, empty = _lloyd_reference(q, k, 3, "km")
        n_empty += empty
        assert train_kmeans_fixed(df, "id", "vec", k=k, n_iter=3) == want
    assert n_empty > 0, "fixture no longer empties a k-means cluster"

    m, sub = 2, 2
    ref = [
        _lloyd_reference(
            {i: v[s * sub:(s + 1) * sub] for i, v in q.items()},
            12, 3, f"pq{s}",
        )
        for s in range(m)
    ]
    assert all(empty > 0 for _, empty in ref), \
        "fixture no longer empties a cluster in every subspace"
    got = train_pq_codebooks(
        df, "id", "vec", m=m, sub=sub, k=12, n_iter=3, seed="pq"
    )
    assert got == [books for books, _ in ref]


def test_quantizer_exprs_build_in_bounded_py4j_round_trips(spark,
                                                            monkeypatch):
    """Each quantizer expression is ONE parse of SQL text, so building
    the assignment (k=16, d=16) and the PQ encoder (m=4) costs a fixed
    handful of py4j round trips whatever k·d is — a Column-operator
    lambda pays a py4j call per operator per element (hundreds here).
    The built columns still score the exact argmin, ties to the
    smallest cluster id."""
    from py4j.java_gateway import GatewayClient

    from gdp_etl_spark.operators.kmeans import _pq_encode, _sqdist, assign_expr

    vecs = [[(i * 7 + j * 3) % 11 for j in range(16)] for i in range(6)]
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "id long, q array<bigint>")

    def build(k, d, m):
        cents = [[(c * 5 + j) % 13 for j in range(d)] for c in range(k)]
        cell, dist2 = assign_expr(cents, "q")
        sub = d // m
        books = [[c[s * sub:(s + 1) * sub] for c in cents] for s in range(m)]
        return df.selectExpr("id", f"{cell} AS cell", f"{dist2} AS d2",
                             f"{_pq_encode('q', books, sub)} AS codes")

    trips = []
    orig = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        # "m d": py4j detaching a freed proxy, sent whenever Python's
        # collector gets to it — not a call the build makes
        if not command.startswith("m\nd\n"):
            trips.append(command)
        return orig(self, command, *args, **kwargs)

    build(2, 4, 4)  # warm py4j's per-name lookups
    monkeypatch.setattr(GatewayClient, "send_command", counted)
    build(2, 4, 4)
    small = len(trips)
    trips.clear()
    big = build(16, 16, 4)
    n_big = len(trips)
    monkeypatch.undo()
    assert n_big == small and n_big <= 30, (small, n_big)

    cents = [[(c * 5 + j) % 13 for j in range(16)] for c in range(16)]
    for r in big.collect():
        d = [_sqdist(vecs[r["id"]], c) for c in cents]
        assert (r["cell"], r["d2"]) == (d.index(min(d)), min(d))
        sub_d = [[_sqdist(vecs[r["id"]][s * 4:(s + 1) * 4],
                          c[s * 4:(s + 1) * 4]) for c in cents]
                 for s in range(4)]
        assert r["codes"] == [sd.index(min(sd)) for sd in sub_d]


def test_seed_hash_escapes_quotes_and_backslashes(spark):
    """A seed string is one escaped SQL literal: ``'`` and ``\\`` hash
    exactly as Python's ``md5(f"{id}:{seed}")`` 8-hex prefix."""
    from gdp_etl_spark.operators.kmeans import _quantized_frame

    df = _planted(spark, n_per=2)
    for seed in ("it's", "a\\b", "\\'", "'\\n%", "\\"):
        got = {r["__id"]: r["__h"] for r in _quantized_frame(
            df, "id", "vec", 1e6, 1.0, [seed], None).collect()}
        want = {
            i: int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16)
            for i in range(6)
        }
        assert got == want, seed


def test_caller_column_names_are_not_captured(spark):
    """Lambda variables are ``__``-prefixed and names backtick-quoted:
    id/vector columns named ``x``, ``c``, ``acc`` (or holding a backtick
    and a dot) train the same books as under ordinary names, and an
    assignment over a quantized column named ``c`` is not shadowed by
    the centroid variable."""
    from gdp_etl_spark.operators.kmeans import (
        _quantize,
        assign_expr,
        train_kmeans_fixed,
        train_pq_codebooks,
    )

    df = _planted(spark).select("id", "vec")
    want_pq = train_pq_codebooks(df, "id", "vec", m=2, sub=2, k=3)
    want_km = train_kmeans_fixed(df, "id", "vec", k=3)
    for i, v in (("x", "c"), ("c", "acc"), ("acc", "x"), ("i`d", "v.e`c")):
        renamed = df.toDF(i, v)
        assert train_pq_codebooks(renamed, i, v, m=2, sub=2, k=3) == want_pq
        assert train_kmeans_fixed(renamed, i, v, k=3) == want_km

    q = df.select("id", _quantize("vec", 1e6, 1.0).alias("q"))
    cell = assign_expr(want_km, "q")[0]
    want = rows(q.selectExpr("id", f"{cell} AS cell"))
    for name in ("x", "c", "acc", "__q"):
        cell = assign_expr(want_km, name)[0]
        assert rows(q.toDF("id", name).selectExpr("id", f"{cell} AS cell")) \
            == want, name


def test_non_finite_scale_or_offset_raises(spark):
    """``scale``/``offset`` render as DOUBLE literals; a non-finite one
    would quantize every element to a clamped garbage bigint, so it
    raises before any job."""
    from gdp_etl_spark.operators.kmeans import _quantize, train_kmeans_fixed

    df = _planted(spark, n_per=1)
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="finite"):
            train_kmeans_fixed(df, "id", "vec", k=2, scale=bad)
        with pytest.raises(ValueError, match="finite"):
            train_kmeans_fixed(df, "id", "vec", k=2, offset=bad)
        with pytest.raises(ValueError, match="finite"):
            _quantize("vec", 1e6, bad)
