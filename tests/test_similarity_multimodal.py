"""Similarity search, vector math, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from gdp_etl_spark.functions.vectors import cosine, cosine_exact, dot, dot_fixed, norm
from gdp_etl_spark.operators.multimodal import (
    attach_payload,
    binary_meta,
    decode_features,
    frame_sample,
    payload_stats,
)
from gdp_etl_spark.operators.similarity import (
    brute_force_topk,
    expected_bucket_collision_prob,
    hyperplane_lsh_bucket,
    lsh_topk,
)

from .conftest import rows


def _vecs(spark):
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # antipodal to 0
        ],
        "vec_id long, embedding array<float>",
    )


def test_dot_norm_cosine_known_values(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<float>, b array<float>",
    )
    got = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("n"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()
    assert got[0]["d"] == 25.0 and got[0]["n"] == 5.0 and got[0]["c"] == pytest.approx(1.0)
    assert got[1]["d"] == 0.0 and got[1]["c"] == pytest.approx(0.0)


def test_fixed_point_matches_float_dot(spark):
    df = _vecs(spark).select(
        dot(F.col("embedding"), F.col("embedding")).alias("d"),
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("dfp"),
    )
    for r in df.collect():
        assert r["dfp"] == pytest.approx(r["d"], abs=1e-9)


def test_cosine_exact_zero_norm_is_null(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0])], "a array<float>, b array<float>"
    )
    assert df.select(cosine_exact(F.col("a"), F.col("b")).alias("c")).first()["c"] is None


def test_cosine_exact_arrow_equals_hof_fold(spark):
    """r16: the Arrow-vectorized pair scorer must be BIT-identical to
    the interpreted dot_fixed fold it replaces on every edge the fold
    defines: plain pairs, negatives, zero norms, NULL vectors, NULL
    elements, mismatched and empty dims, float32 representation
    noise.  Exact equality (==, not approx): the swap is an
    evaluation-strategy change and the DuckDB oracles replay values."""
    import math

    from gdp_etl_spark.functions.vectors import cosine_exact_arrow

    pairs = [
        ([1.0, 0.0, 0.0], [0.9, 0.1, 0.0]),
        ([3.0, 4.0], [3.0, 4.0]),
        ([-1.0, 2.5, -3.25], [0.5, -0.125, 2.0]),
        ([0.0, 0.0], [1.0, 0.0]),          # zero norm -> NULL
        ([1.0, 0.0], [0.0, 0.0]),          # zero norm other side
        (None, [1.0, 0.0]),                # NULL vector
        ([1.0, 0.0], None),
        ([1.0, None, 0.0], [1.0, 1.0, 0.0]),  # NULL element -> NULL
        ([1.0, 1.0, 0.0], [1.0, None, 0.0]),
        ([1.0, 2.0], [1.0, 2.0, 3.0]),     # mismatched dims -> NULL
        ([], []),                          # empty -> NULL
        ([1e-7, 2e-7], [3e-7, -4e-7]),     # sub-quantum magnitudes
        ([0.1, 0.2, 0.3], [0.1, 0.2, 0.3]),  # float32 repr noise
        ([123.456, -789.012], [0.001, 0.002]),
    ] + [
        (
            [math.sin(i * 7 + j) for j in range(16)],
            [math.cos(i * 3 + j) for j in range(16)],
        )
        for i in range(25)
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<float>, b array<float>",
    )
    got = {
        r["i"]: (r["jvm"], r["arrow"])
        for r in df.select(
            "i",
            cosine_exact(F.col("a"), F.col("b")).alias("jvm"),
            cosine_exact_arrow(F.col("a"), F.col("b")).alias("arrow"),
        ).collect()
    }
    for i, (jvm, arrow) in sorted(got.items()):
        assert (jvm is None) == (arrow is None), (i, jvm, arrow)
        if jvm is not None:
            # bitwise equality, not approx
            assert math.copysign(1, jvm) == math.copysign(1, arrow) and \
                jvm == arrow, (i, jvm.hex(), arrow.hex())

    # ±Inf elements score NULL, as the docstring says (the interpreted
    # fold coerces them instead, so they sit outside the sweep above).
    # Two infinities wrap the int64 self-norm back to a positive value,
    # which is how an unmasked Inf once produced a finite garbage score.
    inf = float("inf")
    nonfinite = [
        ([inf, 0.0], [1.0, 0.0]),
        ([1.0, 0.0], [-inf, 1.0]),
        ([inf, inf, 1000.0], [1.0, 1.0, 1.0]),
        ([1.0, 1.0, 1.0], [-inf, -inf, 1000.0]),
    ]
    nf = spark.createDataFrame(nonfinite, "a array<float>, b array<float>")
    scores = nf.select(
        cosine_exact_arrow(F.col("a"), F.col("b")).alias("c")
    ).collect()
    assert [r["c"] for r in scores] == [None] * len(nonfinite)


def test_brute_force_topk_ordering(spark):
    out = brute_force_topk(
        _vecs(spark).filter(F.col("vec_id") == 0), _vecs(spark), k=3
    ).collect()
    ranked = [r["neighbour_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]  # cos: ~0.994, 0.0, -1.0


def test_hyperplane_bucket_deterministic(spark):
    b1 = dict(rows(hyperplane_lsh_bucket(_vecs(spark), "embedding", 8, seed=7), "vec_id", "bucket"))
    b2 = dict(rows(hyperplane_lsh_bucket(_vecs(spark), "embedding", 8, seed=7), "vec_id", "bucket"))
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_lsh_topk_finds_closest_neighbour(spark):
    out = lsh_topk(_vecs(spark), "vec_id", "embedding", k=2, num_bits=2, num_tables=6)
    got = {(r["query_id"], r["neighbour_id"]) for r in out.collect()}
    assert (0, 1) in got and (1, 0) in got  # near-identical pair found


def test_collision_prob_identity():
    assert expected_bucket_collision_prob(1.0, 16) == pytest.approx(1.0)
    assert expected_bucket_collision_prob(0.0, 1) == pytest.approx(0.5)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------
def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello"), (2, "worlds!")], "doc_id long, text string"
    )


def test_binary_meta_len_and_magic(spark):
    d = attach_payload(_docs(spark), "text", "payload")
    got = {r["doc_id"]: (r["payload_len"], r["magic"]) for r in binary_meta(d, "payload", "doc_id").collect()}
    assert got[1] == (5, "68656c6c")  # 'hell'
    assert got[2] == (7, "776f726c")  # 'worl'


def test_decode_features_deterministic_shape(spark):
    d = attach_payload(_docs(spark), "text", "payload")
    f1 = dict(rows(decode_features(d, "payload", "doc_id", dim=16)))
    f2 = dict(rows(decode_features(d, "payload", "doc_id", dim=16)))
    assert f1 == f2
    assert len(f1[1]) == 16 and all(0.0 <= x < 1.0 for x in f1[1])
    assert f1[1] != f1[2]


def test_real_decoder_is_stubbed(spark):
    # in codec-free environments (like this container) the optional-dep
    # real paths must fail fast at plan-build time, not inside executors
    d = attach_payload(_docs(spark), "text", "payload")
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            decode_features(d, "payload", "doc_id", decoder="pillow")
    try:
        import av  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            frame_sample(d, "payload", "doc_id", decoder="pyav")


def test_frame_sample_fanout(spark):
    # 40-byte payload -> 2 fake 16-byte frames at every_n=1 (idx 0, 1)
    df = spark.createDataFrame([(1, b"x" * 40), (2, b"y" * 10)], "doc_id long, payload binary")
    out = frame_sample(df, "payload", "doc_id", every_n=1)
    got = {(r["doc_id"], r["frame_idx"]): bytes(r["frame"]) for r in out.collect()}
    assert set(got) == {(1, 0), (1, 1), (2, 0)}
    assert got[(1, 0)] == b"x" * 16 and got[(2, 0)] == b"y" * 10
    # sampling stride
    df3 = spark.createDataFrame([(3, b"z" * 80)], "doc_id long, payload binary")
    idxs = sorted(r["frame_idx"] for r in frame_sample(df3, "payload", "doc_id", every_n=2).collect())
    assert idxs == [0, 2, 4]


def test_payload_stats(spark):
    d = attach_payload(_docs(spark), "text", "payload")
    r = payload_stats(d, "payload").first()
    assert r["n_payloads"] == 2 and r["total_bytes"] == 12
    assert r["min_bytes"] == 5 and r["max_bytes"] == 7


def test_resize_payload_fake_kernel(spark):
    from gdp_etl_spark.operators.multimodal import resize_payload

    df = spark.createDataFrame(
        [(1, bytes(range(16))), (2, b"abc")], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r for r in resize_payload(df, "payload", "doc_id", factor=4).collect()}
    assert bytes(out[1]["resized"]) == bytes([0, 4, 8, 12])
    assert out[1]["orig_len"] == 16 and out[1]["resized_len"] == 4
    assert bytes(out[2]["resized"]) == b"a"
    with pytest.raises(NotImplementedError):
        resize_payload(df, "payload", "doc_id", decoder="pillow")


def test_fixed_header_parse_roundtrips_jvm_side(spark):
    """Synthesized RIFF header fields parse back exactly — no Python in
    the plan (whole-stage hex slicing)."""
    import struct

    from gdp_etl_spark.operators.multimodal import parse_fixed_header

    payload = b"RIFF" + struct.pack("<IHH", 70000, 2, 62) + b"body-bytes"
    df = spark.createDataFrame([(1, payload), (2, b"XXXX" + b"\x00" * 8)],
                               "id long, payload binary")
    got = {r["id"]: r for r in parse_fixed_header(df, "payload", "id").collect()}
    assert got[1]["is_riff"] is True
    assert got[1]["declared_size"] == 70000
    assert got[1]["channels"] == 2
    assert got[1]["rate_div256"] == 62
    assert got[1]["total_bytes"] == len(payload)
    assert got[2]["is_riff"] is False and got[2]["declared_size"] == 0
    # the parse plan must be pure JVM: no python UDF / arrow eval nodes
    plan = parse_fixed_header(df, "payload", "id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# optional-dep real codec paths (Pillow / pyav)
# ---------------------------------------------------------------------------
def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_real_decoder_gate_raises_cleanly_without_pillow(spark):
    from gdp_etl_spark.operators.multimodal import decode_features

    if _has_pil():
        pytest.skip("Pillow present: gate test is for codec-free envs")
    df = spark.createDataFrame([(1, b"xx")], "doc_id long, payload binary")
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_features(df, "payload", "doc_id", decoder="pillow")


def test_unknown_decoder_rejected(spark):
    from gdp_etl_spark.operators.multimodal import (
        decode_features,
        frame_sample,
        resize_payload,
    )

    df = spark.createDataFrame([(1, b"xx")], "doc_id long, payload binary")
    for fn in (decode_features, frame_sample, resize_payload):
        with pytest.raises(NotImplementedError, match="supported decoders"):
            fn(df, "payload", "doc_id", decoder="nope")


def test_pillow_decode_and_resize_real_bytes(spark):
    # runs only where the optional codec dep exists (not this container)
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from gdp_etl_spark.operators.multimodal import decode_features, resize_payload

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, buf.getvalue())], "doc_id long, payload binary"
    )
    feats = decode_features(df, "payload", "doc_id", dim=4, decoder="pillow").collect()
    assert len(feats[0]["features"]) == 4
    assert all(abs(v - 128 / 255) < 1e-6 for v in feats[0]["features"])
    resized = resize_payload(df, "payload", "doc_id", factor=2, decoder="pillow").collect()
    assert Image.open(io.BytesIO(bytes(resized[0]["resized"]))).size == (4, 4)


def test_rademacher_buckets_deterministic_and_bounded(spark):
    from gdp_etl_spark.operators.similarity import (
        rademacher_lsh_buckets,
        rademacher_signs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    b1 = {
        r["vec_id"]: r["b"]
        for r in rademacher_lsh_buckets(
            emb, "embedding", num_bits=8, num_tables=4, dim=64, seed="42"
        ).selectExpr("vec_id", "buckets AS b").collect()
    }
    b2 = {
        r["vec_id"]: r["b"]
        for r in rademacher_lsh_buckets(
            emb, "embedding", num_bits=8, num_tables=4, dim=64, seed="42"
        ).selectExpr("vec_id", "buckets AS b").collect()
    }
    assert b1 == b2                      # bit-identical across runs
    for bs in b1.values():
        assert len(bs) == 4
        assert all(0 <= b < 256 for b in bs)
    # sign matrix is ±1 and stable under the md5 recipe
    signs = rademacher_signs(4, 8, "s")
    assert signs == rademacher_signs(4, 8, "s")
    assert all(s in (-1, 1) for row in signs for s in row)


class TestMeanPoolEmbeddings:
    """Fixed-point grouped mean pooling: exact int64 sums, packed Arrow
    transfer, hard errors on ragged/NULL vectors."""

    def test_known_means_and_counts(self, spark):
        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        df = spark.createDataFrame(
            [
                ("a", [1.0, 2.0]),
                ("a", [3.0, 6.0]),
                ("b", [10.0, -10.0]),
            ],
            "label string, embedding array<double>",
        )
        got = {r["label"]: r for r in
               mean_pool_embeddings(df, "label", "embedding").collect()}
        assert got["a"]["n_vecs"] == 2 and got["b"]["n_vecs"] == 1
        assert got["a"]["centroid"] == [2.0, 4.0]
        assert got["b"]["centroid"] == [10.0, -10.0]

    def test_partitioning_invariant_bit_exact(self, spark):
        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        import random
        rng = random.Random(7)
        rows = [("g%d" % (i % 3), [rng.uniform(-1, 1) for _ in range(16)])
                for i in range(90)]
        df = spark.createDataFrame(
            rows, "label string, embedding array<double>"
        )
        a = {r["label"]: r["centroid"] for r in
             mean_pool_embeddings(df, "label", "embedding").collect()}
        b = {r["label"]: r["centroid"] for r in
             mean_pool_embeddings(
                 df.repartition(11), "label", "embedding").collect()}
        assert a == b  # bit-exact, not approx: int64 sums inside

    def test_ragged_dimensions_raise(self, spark):
        import pytest as _pytest

        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        df = spark.createDataFrame(
            [("a", [1.0, 2.0]), ("a", [1.0, 2.0, 3.0])],
            "label string, embedding array<double>",
        )
        with _pytest.raises(Exception, match="inconsistent|dimensions"):
            mean_pool_embeddings(df, "label", "embedding").collect()

    def test_stream_pooling_batch_boundaries_and_null_keys(self, spark):
        """r16: pooling runs as ONE mapInArrow stream per partition
        (not one pandas frame per group), so two internals need pins:
        a group spanning several Arrow batches must merge its partial
        sums exactly, and NULL group keys must pool as ONE group (the
        pandas path coerced int+NULL keys to NaN, and NaN != NaN split
        the run — caught in review; Arrow keeps keys exact)."""
        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            rows = [(i // 20, [float(i % 5), 1.0]) for i in range(100)]
            rows += [(None, [9.0, 9.0]), (None, [11.0, 11.0])]
            df = spark.createDataFrame(rows, "g int, v array<double>")
            out = {r["g"]: r for r in
                   mean_pool_embeddings(df, "g", "v").collect()}
            assert out[None]["n_vecs"] == 2
            assert out[None]["centroid"] == [10.0, 10.0]
            for g in range(5):  # 20 rows per group, batches of 7 -> spans
                assert out[g]["n_vecs"] == 20, (g, out[g])
                assert out[g]["centroid"] == [2.0, 1.0]
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )

    def test_null_vector_raises(self, spark):
        import pytest as _pytest

        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        df = spark.createDataFrame(
            [("a", [1.0]), ("a", None)],
            "label string, embedding array<double>",
        )
        with _pytest.raises(Exception, match="NULL"):
            mean_pool_embeddings(df, "label", "embedding").collect()

    def test_infinite_element_raises_naming_group(self, spark):
        """A ±Inf element would pass a NaN-only mask and cast to a
        garbage int64 sum (group 1 pooled to [0.75, -4.6e12])."""
        import pytest as _pytest

        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        for bad in (float("inf"), float("-inf")):
            df = spark.createDataFrame(
                [(1, [1.0, bad]), (1, [0.5, 0.5]), (2, [1.0, 1.0])],
                "g int, v array<double>",
            )
            with _pytest.raises(Exception, match="Inf 'v' element in "
                                                 "group 1"):
                mean_pool_embeddings(df, "g", "v").collect()

    def test_nan_keys_pool_as_one_group(self, spark):
        """NaN group keys are one group, as groupBy counts them — also
        across an Arrow batch boundary (batches of 2 rows)."""
        from gdp_etl_spark.operators.similarity import mean_pool_embeddings

        nan = float("nan")
        df = spark.createDataFrame(
            [(nan, [1.0]), (nan, [3.0]), (nan, [5.0]), (0.5, [2.0])],
            "g double, v array<double>",
        )
        want = {(r["g"] != r["g"], r["n"]) for r in
                df.groupBy("g").agg({"*": "count"})
                .withColumnRenamed("count(1)", "n").collect()}
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        try:
            out = mean_pool_embeddings(df, "g", "v").collect()
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        assert {(r["g"] != r["g"], r["n_vecs"]) for r in out} == want
        assert want == {(True, 3), (False, 1)}
        (nan_row,) = [r for r in out if r["g"] != r["g"]]
        assert nan_row["centroid"] == [3.0]


class TestEmbeddingGram:
    """Distributed fixed-point covariance: exact integer partials,
    partition-stable, numpy-verifiable."""

    def _data(self, spark, n=200, dim=4):
        import numpy as np

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(n, dim)).round(3)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        return df, vecs

    def test_matches_numpy_reference_exactly(self, spark):
        import numpy as np

        from gdp_etl_spark.operators.similarity import embedding_gram

        df, vecs = self._data(spark)
        got = {
            (r["i"], r["j"]): r["cov"]
            for r in embedding_gram(df.repartition(7), "embedding", 4).collect()
        }
        q = np.floor(vecs * 1e6).astype(np.int64)
        n = len(vecs)
        second = (q.T @ q) / (n * 1e12)
        means = q.sum(axis=0) / (n * 1e6)
        for i in range(4):
            for j in range(4):
                assert got[(i, j)] == second[i, j] - means[i] * means[j]

    def test_bit_stable_across_partitionings(self, spark):
        from gdp_etl_spark.operators.similarity import embedding_gram

        df, _ = self._data(spark)
        a = sorted(embedding_gram(df.repartition(2), "embedding", 4).collect())
        b = sorted(embedding_gram(df.repartition(11), "embedding", 4).collect())
        assert a == b

    def test_uncentered_is_second_moment_and_dim_mismatch_raises(self, spark):
        import numpy as np
        import pytest

        from gdp_etl_spark.operators.similarity import embedding_gram

        df, vecs = self._data(spark)
        raw = {
            (r["i"], r["j"]): r["cov"]
            for r in embedding_gram(
                df, "embedding", 4, center=False
            ).collect()
        }
        q = np.floor(vecs * 1e6).astype(np.int64)
        assert raw[(0, 0)] == (q.T @ q)[0, 0] / (len(vecs) * 1e12)
        with pytest.raises(Exception, match="dim"):
            embedding_gram(df, "embedding", 5).collect()


class TestPcaProject:
    def test_recovers_dominant_direction_and_matches_numpy(self, spark):
        import numpy as np

        from gdp_etl_spark.operators.similarity import pca_project

        rng = np.random.default_rng(5)
        # variance concentrated along a known direction
        direction = np.array([3.0, 1.0, 0.0, 0.0]) / np.sqrt(10)
        base = rng.normal(size=(300, 1)) @ direction[None, :]
        noise = 0.05 * rng.normal(size=(300, 4))
        vecs = (base + noise).round(4)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        out = pca_project(df, "embedding", dim=4, k=2)
        got = {r["vec_id"]: r["pca"] for r in out.collect()}
        assert all(len(v) == 2 for v in got.values())
        # first PC aligns with the planted direction
        q = np.floor(vecs * 1e6).astype(np.int64)
        n = len(vecs)
        cov = (q.T @ q) / (n * 1e12)
        means = q.sum(axis=0) / (n * 1e6)
        cov = cov - np.outer(means, means)
        vals, evs = np.linalg.eigh(cov)
        pc1 = evs[:, -1]
        if pc1[np.argmax(np.abs(pc1))] < 0:
            pc1 = -pc1
        assert abs(abs(pc1 @ direction) - 1.0) < 0.01
        # projection equals numpy matmul to ~1 ulp: numpy's @ may take a
        # blocked/SIMD summation order while Spark folds sequentially,
        # so bit-for-bit equality is environment-dependent (observed
        # flipping by host CPU dispatch) — the sound contract is a
        # tight tolerance.  Engine-exactness of the DRIVER surface is
        # separately guaranteed by the fixed-point Gram/transform
        # oracles (embedding_gram, embed_transform).
        comps = evs[:, ::-1][:, :2]
        for c in range(2):
            m = np.argmax(np.abs(comps[:, c]))
            if comps[m, c] < 0:
                comps[:, c] = -comps[:, c]
        proj = vecs @ comps
        for i in range(0, 300, 37):
            assert np.allclose(got[i], proj[i], rtol=1e-12, atol=1e-13)

    def test_deterministic_across_partitionings_and_k_guard(self, spark):
        import numpy as np
        import pytest

        from gdp_etl_spark.operators.similarity import pca_project

        rng = np.random.default_rng(6)
        vecs = rng.normal(size=(60, 4)).round(3)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        a = {r["vec_id"]: r["pca"] for r in pca_project(
            df.repartition(3), "embedding", 4, 2).collect()}
        b = {r["vec_id"]: r["pca"] for r in pca_project(
            df.repartition(9), "embedding", 4, 2).collect()}
        assert a == b
        with pytest.raises(ValueError, match="k must"):
            pca_project(df, "embedding", 4, 0)


class TestPerceptualHash:
    """Block-mean perceptual hash (aHash) + pigeonhole Hamming pairing
    over binary payloads."""

    def test_identical_payloads_hash_equal_and_pair_at_zero(self, spark):
        from gdp_etl_spark.operators.multimodal import (
            attach_payload,
            image_near_dup_pairs,
            perceptual_hash,
        )

        docs = spark.createDataFrame(
            [(1, "image one"), (2, "image two"), (3, "image one")],
            "doc_id long, text string",
        )
        p = attach_payload(docs, "text")
        h = {r["doc_id"]: r["phash"] for r in
             perceptual_hash(p, "payload", "doc_id").collect()}
        assert h[1] == h[3] != h[2]
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 image_near_dup_pairs(p, "payload", "doc_id").collect()}
        assert pairs == {(1, 3): 0}

    def test_matches_python_reference_and_is_integer_exact(self, spark):
        import hashlib

        from gdp_etl_spark.operators.multimodal import (
            attach_payload,
            perceptual_hash,
        )

        def ref(raw):
            pix = []
            for g in range(16):
                d = hashlib.md5(raw + b":" + str(g).encode()).digest()
                pix += [int.from_bytes(d[4*j:4*j+4], "little") for j in range(4)]
            total = sum(pix)
            h = 0
            for i in range(63):
                if pix[i] * 64 > total:
                    h |= 1 << i
            if pix[63] * 64 > total:
                h -= 1 << 63
            return h

        texts = ["alpha", "beta", "a longer payload with more bytes"]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["phash"] for r in perceptual_hash(
            attach_payload(docs, "text"), "payload", "doc_id").collect()}
        for i, t in enumerate(texts):
            assert got[i] == ref(t.encode())

    def test_pillow_decoder_gated_with_clear_error(self, spark):
        import pytest

        from gdp_etl_spark.operators.multimodal import perceptual_hash

        docs = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
        try:
            import PIL  # noqa: F401
            pytest.skip("Pillow installed: gate not exercised")
        except ImportError:
            pass
        with pytest.raises(NotImplementedError, match="Pillow"):
            perceptual_hash(docs, "payload", "doc_id", decoder="pillow")
        with pytest.raises(ValueError, match="decoder"):
            perceptual_hash(docs, "payload", "doc_id", decoder="webp")


def test_pq_topk_recall_and_arity_pin(spark):
    """PQ is approximate by design — characterize recall@10 against
    the exact fixed-point brute force on the sf0.01 embeddings (the
    ivf_recall pattern; sf0.001's 50 uniform-random vectors are
    structureless for any quantizer), and pin the HOF-arity trap: the codes must
    differ across subspaces for a vector whose subvectors differ (the
    `lambda c, _s=s` bug encoded every subspace with index-shifted
    slices and produced near-constant scores)."""
    from gdp_etl_spark.operators.kmeans import _dist2, _quantize
    from gdp_etl_spark.operators.similarity import pq_topk

    # sf0.01 (500 vectors): sf0.001's 50 uniform-random vectors are
    # statistically structureless for any quantizer (ADC ordering is
    # noise at that size).  At 500, pure ADC recall@10 = 0.17 (vs 0.02
    # random) and the exact re-rank of the ADC top-100 reaches 0.6 —
    # both measured; the threshold pins the re-ranked figure with slack
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    approx = pq_topk(emb, [0, 1, 2], k=10, m=4, k_codes=16, n_iter=2,
                     rerank=100)
    got = {
        (r.query_id, r.neighbour_id) for r in approx.collect()
    }
    # exact integer d2 brute force over the same quantization
    q = emb.select("vec_id", _quantize(F.col("embedding"), 1e6, 1.0).alias("q"))
    rows = {r.vec_id: list(r.q) for r in q.collect()}
    import heapq
    exact = set()
    for qi in (0, 1, 2):
        d = [
            (sum((a - b) * (a - b) for a, b in zip(rows[qi], v)), vid)
            for vid, v in rows.items() if vid != qi
        ]
        for _, vid in heapq.nsmallest(10, d):
            exact.add((qi, vid))
    recall = len(got & exact) / len(exact)
    assert recall >= 0.45, f"PQ recall@10 collapsed: {recall}"
    # every query produced a full, strictly-ranked top-10
    ranks = {}
    for r in approx.collect():
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 11)) for v in ranks.values())
    # scores must VARY across neighbours (the arity bug made them
    # near-constant: every subspace sliced by array index, not s)
    d2s = [r.score_d2 for r in approx.filter("query_id = 0").collect()]
    assert len(set(d2s)) > 3


def test_pq_recall_on_clustered_embeddings(spark):
    """PQ recall on CLUSTERED embeddings (what real encoder outputs
    look like — the uniform synthetic table is PQ's worst case):
    planted Gaussian clusters, generator shared with
    tools/probe_pq_recall.py.  Measured there (n=500, 10 clusters,
    sigma=0.05): ADC alone resolves only to CLUSTER granularity —
    same-cluster members share codes, so within-cluster order is
    quantization-invisible (recall@10 ≈ 0.27) — while the exact
    re-rank of the ADC top-R shortlist restores recall ≈ 0.99 once R
    reaches the expected cluster size (~50 here).  Pins both: re-rank
    R=50 ≥ 0.9, and re-rank strictly beats pure ADC."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "probe_pq_recall",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "probe_pq_recall.py"),
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    from gdp_etl_spark.operators.similarity import pq_topk

    n, k = 500, 10
    vecs = probe.clustered_embeddings(n, 10)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    query_ids = list(range(5))
    exact = probe.exact_topk_fixed(vecs, query_ids, k)

    def recall(rerank):
        got = pq_topk(df, query_ids, k=k, m=4, k_codes=16, n_iter=2,
                      rerank=rerank).collect()
        by_q: dict[int, set] = {}
        for r in got:
            by_q.setdefault(r.query_id, set()).add(r.neighbour_id)
        return sum(
            len(by_q.get(qi, set()) & exact[qi]) / k for qi in query_ids
        ) / len(query_ids)

    adc, reranked = recall(0), recall(50)
    df.unpersist()
    assert reranked >= 0.9, f"re-ranked recall collapsed: {reranked}"
    assert reranked > adc, (adc, reranked)


def test_mine_hard_negatives_semantics(spark):
    """Same-label and NULL-label candidates are never mined; max_sim
    drops near-identical cross-label pairs; top-k orders by similarity
    with id tie-break."""
    from gdp_etl_spark.operators.similarity import mine_hard_negatives

    v = [1.0, 0.0, 0.0, 0.0]
    rows_in = [
        (0, v, "a"),                        # anchor
        (1, [x + 0.00001 for x in v], "a"),  # same label: excluded
        (2, [0.9999999, 0.001, 0.0, 0.0], "b"),  # ~identical: max_sim cut
        (3, [0.9, 0.1, 0.0, 0.0], "b"),     # hard negative
        (4, [0.5, 0.5, 0.0, 0.0], "b"),     # easier negative
        (5, [0.9, 0.1, 0.0, 0.0], None),    # NULL label: excluded
    ]
    emb = spark.createDataFrame(
        rows_in, "vec_id bigint, embedding array<float>, label string"
    )
    out = mine_hard_negatives(
        emb.filter(F.col("vec_id") == 0), emb, k=3, max_sim=0.999
    ).collect()
    assert [(r.query_id, r.neg_id, r.rank) for r in out] == [
        (0, 3, 1), (0, 4, 2),
    ]
    assert out[0].cos_sim > out[1].cos_sim

    # without the cap the near-identical cross-label pair is mined
    nocap = mine_hard_negatives(
        emb.filter(F.col("vec_id") == 0), emb, k=3
    ).collect()
    assert [r.neg_id for r in nocap] == [2, 3, 4]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must"):
        mine_hard_negatives(emb, emb, k=0)


def test_mine_hard_negatives_distinct_corpora(spark):
    """exclude_same_id=False: a coincidental id match across DISTINCT
    query/corpus collections is a different object and must be mined
    (review finding)."""
    from gdp_etl_spark.operators.similarity import mine_hard_negatives

    q = spark.createDataFrame(
        [(3, [1.0, 0.0], "a")],
        "vec_id bigint, embedding array<float>, label string",
    )
    corpus = spark.createDataFrame(
        [(3, [0.9, 0.1], "b"), (4, [0.1, 0.9], "b")],
        "vec_id bigint, embedding array<float>, label string",
    )
    default = mine_hard_negatives(q, corpus, k=5).collect()
    assert [r.neg_id for r in default] == [4]          # id 3 excluded
    both = mine_hard_negatives(q, corpus, k=5, exclude_same_id=False)
    assert [r.neg_id for r in both.collect()] == [3, 4]


# ---------------------------------------------------------------------------
# persisted IVF serving state (operators/ann_index.py)
# ---------------------------------------------------------------------------


def _drop_ivf_tables(spark, table):
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__centroids", f"{table}__new",
              f"{table}__centroids__new", f"{table}__compacting",
              f"{table}__old", f"{table}__tombstones",
              f"{table}__tombstones__new", f"{table}__vectors",
              f"{table}__vectors__new", f"{table}__vectors__compacting",
              f"{table}__vectors__old"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def test_ivf_index_probe_matches_in_query_path(spark):
    """A stored-state probe over an index built on the SAME rows is
    row-identical to ivf_topk_fixed — the train-once/serve-many shape
    pays the training cost at build time, not per query."""
    from gdp_etl_spark.operators.ann_index import (
        ivf_probe_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.similarity import ivf_topk_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_idx_eq"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=8, n_iter=2)
        got = ivf_probe_index(spark, table, [0, 1, 2], k=5, nprobe=3)
        want = ivf_topk_fixed(
            emb, [0, 1, 2], k=5, num_centroids=8, nprobe=3, n_iter=2
        )
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        assert sorted(map(tuple, got.collect()), key=lambda t: t[:2]) == \
               sorted(map(tuple, want.collect()), key=lambda t: t[:2])
    finally:
        _drop_ivf_tables(spark, table)


def test_ivf_index_append_compact_and_guards(spark):
    """Append assigns with the STORED centroids (no retrain: the
    centroid table is unchanged and still equals the day-1 training),
    compaction folds files without changing the probe result or losing
    the parameter stamp, and the guard rails raise loudly."""
    import pytest as _pytest

    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_probe_index,
        write_ivf_index,
        _read_stamp,
    )
    from gdp_etl_spark.operators.kmeans import train_kmeans_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_all = emb.filter(F.col("embedding").isNotNull()).count()
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    table = "t_ivf_idx_app"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(evens, table, num_centroids=4, n_iter=2)
        append_to_ivf_index(odds, table)
        assert spark.table(table).count() == n_all
        # centroids still the day-1 training (append never retrains)
        stored = [list(r["c"]) for r in
                  spark.table(f"{table}__centroids").orderBy("cell").collect()]
        trained = train_kmeans_fixed(
            evens.filter(F.col("embedding").isNotNull()),
            "vec_id", "embedding", k=4, n_iter=2, seed="ivf",
        )
        assert stored == trained
        before = sorted(map(tuple,
                        ivf_probe_index(spark, table, [1, 2], k=4,
                                        nprobe=2).collect()))
        files_before, files_after = compact_ivf_index(spark, table)
        assert files_after <= files_before
        after = sorted(map(tuple,
                       ivf_probe_index(spark, table, [1, 2], k=4,
                                       nprobe=2).collect()))
        assert before == after
        assert _read_stamp(spark, table)["num_centroids"] == 4  # stamp kept
        # guards
        with _pytest.raises(ValueError, match="already exists"):
            write_ivf_index(evens, table)
        with _pytest.raises(ValueError, match="not in index"):
            ivf_probe_index(spark, table, [999_999_999], k=2)
        with _pytest.raises(ValueError, match="duplicates"):
            ivf_probe_index(spark, table, [1, 1], k=2)
        with _pytest.raises(TypeError, match="ints"):
            ivf_probe_index(spark, table, ["1"], k=2)
    finally:
        _drop_ivf_tables(spark, table)


def test_ivf_index_probe_plan_is_bucket_pruned(spark):
    """Plan pin: the probe's posting-list scan is bucket-pruned (cell
    IN (...) on the bucketed key — SelectedBucketsCount in the scan)
    and the index side contributes NO Exchange; the only shuffle in
    the whole probe is the bounded candidate set entering the
    per-query top-k window."""
    from gdp_etl_spark.operators.ann_index import (
        ivf_probe_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_idx_plan"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=8, n_iter=1)
        probe = ivf_probe_index(spark, table, [0, 1], k=3, nprobe=2)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan
        assert plan.count("Exchange hashpartitioning") == 1  # window only
        assert "Exchange rangepartitioning" not in plan
    finally:
        _drop_ivf_tables(spark, table)


def _drop_pq_tables(spark, table):
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}__codebooks", f"{table}__new",
              f"{table}__codebooks__new", f"{table}__compacting",
              f"{table}__old", f"{table}__tombstones",
              f"{table}__tombstones__new"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def test_pq_index_probe_matches_in_query_path(spark):
    """A stored-state ADC probe over a PQ index built on the SAME rows
    is row-identical to pq_topk (rerank=0) — train/encode paid at
    build time; plus append-with-stored-codebooks, compaction
    invariance and the guard rails."""
    import pytest as _pytest

    from gdp_etl_spark.operators.ann_index import (
        append_to_pq_index,
        compact_pq_index,
        pq_probe_index,
        write_pq_index,
    )
    from gdp_etl_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_pq_idx"
    _drop_pq_tables(spark, table)
    try:
        write_pq_index(emb, table, m=4, k_codes=8, n_iter=2, dim=64)
        got = pq_probe_index(
            spark, emb.filter(F.col("vec_id") < 3), table, k=5
        )
        want = pq_topk(
            emb, [0, 1, 2], k=5, m=4, k_codes=8, n_iter=2, dim=64
        )
        assert sorted(map(tuple, got.collect())) == \
               sorted(map(tuple, want.collect()))
        # guards on the live index
        with _pytest.raises(ValueError, match="already exists"):
            write_pq_index(emb, table)
        with _pytest.raises(ValueError, match="max_queries"):
            pq_probe_index(spark, emb, table, k=2, max_queries=3)
        dupq = emb.filter(F.col("vec_id") == 0).unionByName(
            emb.filter(F.col("vec_id") == 0))
        with _pytest.raises(ValueError, match="duplicate"):
            pq_probe_index(spark, dupq, table, k=2)
    finally:
        _drop_pq_tables(spark, table)

    # day-1/day-2 split: append encodes with the STORED (day-1)
    # codebooks; compaction folds files without changing the probe
    _drop_pq_tables(spark, table)
    try:
        evens = emb.filter(F.col("vec_id") % 2 == 0)
        odds = emb.filter(F.col("vec_id") % 2 == 1)
        write_pq_index(evens, table, m=4, k_codes=8, n_iter=2, dim=64)
        books_before = sorted(map(tuple, spark.table(
            f"{table}__codebooks").collect()))
        append_to_pq_index(odds, table)
        assert sorted(map(tuple, spark.table(
            f"{table}__codebooks").collect())) == books_before
        n_all = emb.filter(F.col("embedding").isNotNull()).count()
        assert spark.table(table).count() == n_all
        q = emb.filter(F.col("vec_id") < 2)
        before = sorted(map(tuple,
                        pq_probe_index(spark, q, table, k=4).collect()))
        fb, fa = compact_pq_index(spark, table)
        assert fa <= fb
        after = sorted(map(tuple,
                       pq_probe_index(spark, q, table, k=4).collect()))
        assert before == after
    finally:
        _drop_pq_tables(spark, table)


def test_ivf_index_vector_queries_and_dim_guard(spark):
    """r13 self-review fixes: (1) probing with a raw-vector queries
    frame (quantized via the stamp) returns exactly the id-fetch
    result — the production path that avoids the unpruned id scan;
    (2) appending wrong-dimension vectors raises instead of silently
    truncating into wrong cells/codes."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        append_to_pq_index,
        ivf_probe_index,
        write_ivf_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_idx_vq"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=4, n_iter=1)
        by_id = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1], k=4, nprobe=2).collect()))
        by_vec = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1], k=4, nprobe=2,
            queries=emb.filter(F.col("vec_id") < 2)).collect()))
        assert by_id == by_vec
        with _pytest.raises(ValueError, match="queries frame"):
            ivf_probe_index(spark, table, [0, 99999], k=2,
                            queries=emb.filter(F.col("vec_id") == 0))
        bad = emb.filter(F.col("vec_id") < 3).select(
            "vec_id", F.slice("embedding", 1, 32).alias("embedding"))
        with _pytest.raises(SparkRuntimeException, match="dimension"):
            append_to_ivf_index(bad, table)
    finally:
        _drop_ivf_tables(spark, table)

    table = "t_pq_idx_dim"
    _drop_pq_tables(spark, table)
    try:
        write_pq_index(emb, table, m=4, k_codes=4, n_iter=1, dim=64)
        bad = emb.filter(F.col("vec_id") < 3).select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding"))
        with _pytest.raises(SparkRuntimeException, match="dimension"):
            append_to_pq_index(bad, table)
    finally:
        _drop_pq_tables(spark, table)


def test_ann_probe_batch_bound_and_query_dim_guard(spark):
    """r13 verdict task 4 + advisor finding: ivf_probe_index bounds the
    query batch loudly (the pq_probe_index discipline — the per-row
    scoring array is |Q| structs wide, so an unbounded batch is a
    plan-size blowup), and BOTH probe legs validate query-vector
    dimension against the stamped index dim instead of silently
    truncating (driver-side zip) or null-padding (zip_with)."""
    import pytest as _pytest

    from gdp_etl_spark.operators.ann_index import (
        ivf_probe_index,
        pq_probe_index,
        write_ivf_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    table = "t_ivf_idx_bound"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=4, n_iter=1)
        with _pytest.raises(ValueError, match="max_queries"):
            ivf_probe_index(spark, table, [0, 1, 2, 3], k=2, max_queries=3)
        with _pytest.raises(ValueError, match="dimension mismatch"):
            ivf_probe_index(spark, table, [0, 1], k=2,
                            queries=half.filter(F.col("vec_id") < 2))
    finally:
        _drop_ivf_tables(spark, table)

    table = "t_pq_idx_bound"
    _drop_pq_tables(spark, table)
    try:
        write_pq_index(emb, table, m=4, k_codes=4, n_iter=1, dim=64)
        with _pytest.raises(ValueError, match="dimension mismatch"):
            pq_probe_index(spark, half.filter(F.col("vec_id") < 2),
                           table, k=2)
    finally:
        _drop_pq_tables(spark, table)


def test_write_index_reclaims_orphaned_companion(spark):
    """r13 advisor finding: a crash between the companion rename and
    the postings rename leaves a live ``__centroids``/``__codebooks``
    with no index table; the retry must reclaim the orphan instead of
    failing with 'already exists' (the postings table, renamed LAST,
    is the liveness marker)."""
    import pytest as _pytest

    from gdp_etl_spark.operators.ann_index import (
        ivf_probe_index,
        write_ivf_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_idx_orphan"
    _drop_ivf_tables(spark, table)
    try:
        # simulate the crash window: companion live, postings absent
        write_ivf_index(emb, table, num_centroids=4, n_iter=1)
        want = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1], k=3, nprobe=2).collect()))
        spark.sql(f"DROP TABLE {table}")
        assert spark.catalog.tableExists(f"{table}__centroids")
        write_ivf_index(emb, table, num_centroids=4, n_iter=1)  # retry
        got = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1], k=3, nprobe=2).collect()))
        assert got == want
        # a live INDEX still refuses to be overwritten
        with _pytest.raises(ValueError, match="already exists"):
            write_ivf_index(emb, table)
    finally:
        _drop_ivf_tables(spark, table)

    table = "t_pq_idx_orphan"
    _drop_pq_tables(spark, table)
    try:
        write_pq_index(emb, table, m=4, k_codes=4, n_iter=1, dim=64)
        spark.sql(f"DROP TABLE {table}")
        write_pq_index(emb, table, m=4, k_codes=4, n_iter=1, dim=64)
        assert spark.catalog.tableExists(table)
    finally:
        _drop_pq_tables(spark, table)


def test_ivf_index_churn_upsert_delete_compact(spark):
    """r13 verdict task 7 — index maintenance under churn: upserts
    (re-crawled documents, possibly moving cells) and deletes (removed
    documents) via tombstones.  Invariants: (1) a probe NEVER serves a
    deleted or superseded vector, even before compaction (read-time
    broadcast resolution); (2) probe results are identical before and
    after the compaction fold; (3) the compacted posting table equals
    what assigning the FINAL logical corpus with the stored centroids
    would write — churn + compact ≡ rebuild on the same logical rows
    with the same model."""
    from gdp_etl_spark.operators.ann_index import (
        _load_centroids,
        _postings,
        _read_stamp,
        append_to_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_probe_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    # upsert ids 0..9 with NEGATED vectors (cells can move), delete 10..19
    up = emb.filter(F.col("vec_id") < 10).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    deleted = list(range(10, 20))
    table = "t_ivf_idx_churn"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(evens, table, num_centroids=4, n_iter=2)
        append_to_ivf_index(odds, table)
        upsert_to_ivf_index(up, table)
        delete_from_ivf_index(spark, table, deleted)
        assert spark.catalog.tableExists(f"{table}__tombstones")
        pre = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1, 20], k=50, nprobe=4).collect()))
        assert pre and not any(t[1] in deleted for t in pre)
        fb, fa = compact_ivf_index(spark, table)
        assert fa <= fb
        assert not spark.catalog.tableExists(f"{table}__tombstones")
        post = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1, 20], k=50, nprobe=4).collect()))
        assert pre == post
        # physical contents == assigning the final logical corpus with
        # the STORED (day-1) centroids
        p = _read_stamp(spark, table)
        cents = _load_centroids(spark, table)
        final = (
            emb.filter(~F.col("vec_id").isin(deleted))
            .filter(F.col("vec_id") >= 10)
            .select("vec_id", "embedding")
            .unionByName(up)
        )
        want = sorted(map(tuple, _postings(
            final, "vec_id", "embedding", cents,
            p["scale"], p["offset"], seq=0,
        ).select("cell", "vec_id", "q").collect()))
        got = sorted(map(tuple, spark.table(table)
                         .select("cell", "vec_id", "q").collect()))
        assert got == want
    finally:
        _drop_ivf_tables(spark, table)


def test_pq_index_churn_upsert_delete_compact(spark):
    """The PQ twin of the churn test: tombstone upsert/delete on the
    codes table, probe-invariant compaction, and compacted contents ==
    encoding the final logical corpus with the stored codebooks."""
    from gdp_etl_spark.operators.ann_index import (
        _PQ,
        _PQ_KEYS,
        _load_codebooks,
        _pq_codes,
        _read_stamp,
        append_to_pq_index,
        compact_pq_index,
        delete_from_pq_index,
        pq_probe_index,
        upsert_to_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    up = emb.filter(F.col("vec_id") < 10).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    deleted = list(range(10, 20))
    table = "t_pq_idx_churn"
    _drop_pq_tables(spark, table)
    try:
        write_pq_index(evens, table, m=4, k_codes=8, n_iter=2, dim=64)
        append_to_pq_index(odds, table)
        upsert_to_pq_index(up, table)
        delete_from_pq_index(spark, table, deleted)
        q = emb.filter(F.col("vec_id") >= 20).filter(F.col("vec_id") < 22)
        pre = sorted(map(tuple, pq_probe_index(spark, q, table,
                                               k=50).collect()))
        assert pre and not any(t[1] in deleted for t in pre)
        fb, fa = compact_pq_index(spark, table)
        assert fa <= fb
        post = sorted(map(tuple, pq_probe_index(spark, q, table,
                                                k=50).collect()))
        assert pre == post
        p = _read_stamp(spark, table, _PQ, _PQ_KEYS)
        books = _load_codebooks(spark, table, p["m"])
        final = (
            emb.filter(~F.col("vec_id").isin(deleted))
            .filter(F.col("vec_id") >= 10)
            .select("vec_id", "embedding")
            .unionByName(up)
        )
        want = sorted(map(tuple, _pq_codes(
            final, "vec_id", "embedding", books, p["dim"] // p["m"],
            p["scale"], p["offset"], seq=0,
        ).select("vec_id", "codes").collect()))
        got = sorted(map(tuple, spark.table(table)
                         .select("vec_id", "codes").collect()))
        assert got == want
    finally:
        _drop_pq_tables(spark, table)


def test_semantic_dedup_from_index_matches_in_query(spark):
    """r13 verdict task 5 — the SemDeDup × persisted-IVF composition:
    cell assignments read from stored postings (no in-query k-means)
    produce verdicts bit-identical to semantic_dedup when the index
    was built on the same rows with the same parameters; tombstoned
    rows drop out of the candidate corpus."""
    from gdp_etl_spark.operators.ann_index import (
        delete_from_ivf_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_semdedup_idx"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=8, n_iter=2,
                        seed="semdedup")
        got = sorted(map(tuple, semantic_dedup_from_index(
            emb, table, threshold=0.35).collect()))
        want = sorted(map(tuple, semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.35, num_cells=8,
            n_iter=2, seed="semdedup").collect()))
        assert got == want
        # tombstoned rows leave the corpus: dropping every dup anchor's
        # id removes it both as a row and as a dup_of target
        anchors = sorted({t[2] for t in want if t[2] is not None})
        if anchors:
            delete_from_ivf_index(spark, table, [int(a) for a in anchors])
            after = semantic_dedup_from_index(emb, table, threshold=0.35)
            rows = after.collect()
            ids = {r["vec_id"] for r in rows}
            assert not (ids & set(anchors))
            assert not any(r["dup_of"] in set(anchors) for r in rows
                           if r["dup_of"] is not None)
    finally:
        _drop_ivf_tables(spark, table)


def test_ann_index_asof_snapshot_and_stats(spark):
    """Dataset versioning (r14): a probe pinned to asof_seq reads the
    index as it was when next_seq was asof_seq+1 — later upserts and
    deletes cannot change it; asof at the latest seq equals the
    unpinned probe.  ivf_index_stats reports the churn dashboard
    (total/live/dead/tombstoned/next_seq) exactly, and compaction
    zeroes the debt columns."""
    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_index_stats,
        ivf_probe_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_all = emb.filter(F.col("embedding").isNotNull()).count()
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    table = "t_ivf_idx_asof"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(evens, table, num_centroids=4, n_iter=2)
        append_to_ivf_index(odds, table)           # seq 1; next_seq 2
        snap = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1], k=5, nprobe=2).collect()))
        # churn AFTER the snapshot point
        up = emb.filter(F.col("vec_id") < 6).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"))
        upsert_to_ivf_index(up, table)             # seq 2
        delete_from_ivf_index(spark, table, [6, 7])  # seq 3
        # asof the append point: identical to the pre-churn probe
        asof = sorted(map(tuple, ivf_probe_index(
            spark, table, [0, 1], k=5, nprobe=2, asof_seq=1).collect()))
        assert asof == snap
        # asof at the latest seq == the unpinned probe
        now = ivf_probe_index(spark, table, [0, 1], k=5, nprobe=2)
        now3 = ivf_probe_index(spark, table, [0, 1], k=5, nprobe=2,
                               asof_seq=3)
        assert sorted(map(tuple, now.collect())) == \
               sorted(map(tuple, now3.collect()))
        # stats: 6 upserted (old versions dead) + 2 deleted = 8 dead
        s = ivf_index_stats(spark, table).collect()[0]
        assert s["rows_total"] == n_all + 6
        assert s["rows_live"] == n_all - 2
        assert s["rows_dead"] == 8
        assert s["tombstoned_ids"] == 8
        assert s["next_seq"] == 4
        compact_ivf_index(spark, table)
        s2 = ivf_index_stats(spark, table).collect()[0]
        assert s2["rows_dead"] == 0 and s2["tombstoned_ids"] == 0
        assert s2["rows_live"] == n_all - 2
    finally:
        _drop_ivf_tables(spark, table)


def test_semantic_dedup_increment_equals_rescreen(spark):
    """The nightly screen: semantic_dedup_increment judges a new batch
    against the live index with stored-centroid cell assignment;
    screen-then-append must equal append-then-rescreen — verdicts for
    the new ids are bit-identical to semantic_dedup_from_index over
    the post-append index."""
    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.dedup import (
        semantic_dedup_from_index,
        semantic_dedup_increment,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    day1 = emb.filter(F.col("vec_id") < 40)
    day2 = emb.filter(F.col("vec_id") >= 40)
    n_new = day2.filter(F.col("embedding").isNotNull()).count()
    table = "t_semdedup_inc"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(day1, table, num_centroids=4, n_iter=2,
                        seed="semdedup")
        got = sorted(map(tuple, semantic_dedup_increment(
            day2, day1, table, threshold=0.35).collect()))
        assert len(got) == n_new
        append_to_ivf_index(day2, table)
        want = sorted(map(tuple, semantic_dedup_from_index(
            emb, table, threshold=0.35)
            .filter(F.col("vec_id") >= 40).collect()))
        assert got == want
    finally:
        _drop_ivf_tables(spark, table)


def test_ivf_probe_twin_fetch_is_bucket_pruned(spark):
    """The r15 id-keyed store: write/append/upsert maintain an
    id-bucketed __vectors twin, the convenience probe (no ``queries``
    frame) fetches query vectors from it with BUCKET PRUNING (id IN
    (...) on the bucket key — SelectedBucketsCount in the scan, and
    the scan reads the twin's files, not the posting table), and the
    fetched vectors track churn: after an upsert the twin serves the
    NEW vector, bit-identical to passing the raw frame explicitly."""
    from gdp_etl_spark.operators.ann_index import (
        _vectors_table,
        append_to_ivf_index,
        ivf_probe_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_twin"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), table,
                        num_centroids=4, n_iter=1)
        append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), table)
        up = emb.filter(F.col("vec_id") < 4).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"))
        upsert_to_ivf_index(up, table)
        vtable = _vectors_table(table)
        assert spark.catalog.tableExists(vtable)
        # the exact fetch frame the convenience path builds, under the
        # same forced-bucketed-scan toggle _twin_query_rows collects it
        # with (DisableUnnecessaryBucketedScan would otherwise discard
        # the pruning for a bare point lookup)
        from gdp_etl_spark.operators.ann_index import _twin_query_frame

        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            fetch = _twin_query_frame(spark, table, "vec_id", [0, 1],
                                      None)
            plan = fetch._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, prev)
        assert "SelectedBucketsCount" in plan
        assert "__vectors" in plan
        assert "t_ivf_twin[" not in plan  # posting table never scanned
        # convenience probe == explicit-queries probe on the churned
        # corpus (twin serves the upserted vectors)
        final = up.unionByName(
            emb.filter(F.col("vec_id").isin([5]))
            .select("vec_id", "embedding"))
        got = ivf_probe_index(spark, table, [0, 5], k=4, nprobe=2)
        want = ivf_probe_index(spark, table, [0, 5], k=4, nprobe=2,
                               queries=final)
        assert sorted(map(tuple, got.collect())) == \
               sorted(map(tuple, want.collect()))
    finally:
        _drop_ivf_tables(spark, table)


def test_single_writer_tripwire_raises_on_concurrent_bump(spark, monkeypatch):
    """The single-writer contract is enforced by detection (r14
    verdict task 3 / advisor finding): a mutator that commits between
    another writer's stamp read and its bump moves next_seq, and the
    first writer's guarded bump raises instead of silently sharing or
    skipping a seq."""
    import pytest as _pytest

    import gdp_etl_spark.operators.ann_index as ai

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_tripwire"
    _drop_ivf_tables(spark, table)
    try:
        ai.write_ivf_index(emb, table, num_centroids=4, n_iter=1)
        orig = ai._append_tombstones
        state = {"raced": False}

        def race(spark_, table_, id_col_, ids_df_, seq_):
            orig(spark_, table_, id_col_, ids_df_, seq_)
            if not state["raced"]:
                # a SECOND writer lands after the first's data write
                # but before its bump — both planned against the same
                # stamped next_seq
                state["raced"] = True
                ai.delete_from_ivf_index(spark_, table_, [999_999])

        monkeypatch.setattr(ai, "_append_tombstones", race)
        with _pytest.raises(RuntimeError, match="single-writer"):
            ai.delete_from_ivf_index(spark, table, [5])
    finally:
        _drop_ivf_tables(spark, table)


def test_compaction_preserves_concurrent_tombstones(spark, monkeypatch):
    """The r15 advisor's medium finding: a tombstone appended DURING
    the compaction rewrite must never be dropped unapplied.  A delete
    racing the rewrite is preserved into the rewritten companion, the
    quiet-window violation raises loudly, and a probe afterwards still
    excludes BOTH the pre-compaction delete and the racing one."""
    import pytest as _pytest

    import gdp_etl_spark.operators.ann_index as ai

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_racetomb"
    _drop_ivf_tables(spark, table)
    try:
        ai.write_ivf_index(emb, table, num_centroids=4, n_iter=1)
        ai.delete_from_ivf_index(spark, table, [3])        # seq 1
        orig = ai.compact_table
        state = {"raced": False}

        def race(spark_, tbl, bucket_cols, **kw):
            if not state["raced"]:
                state["raced"] = True
                # a delete lands mid-compaction, after the fold read
                ai.delete_from_ivf_index(spark_, table, [7])  # seq 2
            return orig(spark_, tbl, bucket_cols, **kw)

        monkeypatch.setattr(ai, "compact_table", race)
        with _pytest.raises(RuntimeError, match="quiet window"):
            ai.compact_ivf_index(spark, table)
        monkeypatch.setattr(ai, "compact_table", orig)
        # the racing tombstone survived the clear
        tomb = {r["vec_id"] for r in
                spark.table(f"{table}__tombstones").collect()}
        assert tomb == {7}
        got = {r["neighbour_id"] for r in ai.ivf_probe_index(
            spark, table, [0], k=50, nprobe=4).collect()}
        assert 3 not in got and 7 not in got
        # the next (quiet) compaction folds the preserved tombstone
        ai.compact_ivf_index(spark, table)
        assert not spark.catalog.tableExists(f"{table}__tombstones")
        got2 = {r["neighbour_id"] for r in ai.ivf_probe_index(
            spark, table, [0], k=50, nprobe=4).collect()}
        assert got2 == got
    finally:
        _drop_ivf_tables(spark, table)


def test_upsert_null_vector_raises_not_deletes(spark):
    """The r15 advisor finding: an upsert row with a NULL embedding
    must RAISE, not silently delete the id (the posting append drops
    NULL vectors, so an unguarded tombstone would kill the id with no
    replacement).  The failed batch leaves no tombstone behind."""
    import pytest as _pytest

    from gdp_etl_spark.operators.ann_index import (
        ivf_probe_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_ivf_nullup"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=4, n_iter=1)
        bad = spark.createDataFrame(
            [(2, None)], "vec_id bigint, embedding array<double>")
        with _pytest.raises(Exception, match="NULL embedding"):
            upsert_to_ivf_index(bad, table)
        # prefer-missing would be acceptable, silent-delete is not:
        # no tombstone landed and id 2 is still probe-able (it serves
        # as its own query — a deleted id raises "not in index")
        assert not spark.catalog.tableExists(f"{table}__tombstones")
        got = ivf_probe_index(spark, table, [2], k=3, nprobe=2).collect()
        assert len(got) == 3
    finally:
        _drop_ivf_tables(spark, table)


def test_compaction_collapses_redelivered_appends(spark):
    """The r15 advisor finding on redelivery: a retried append that
    landed at a SECOND seq produces physically identical vectors at
    two seqs — both live, both served (two top-k slots) until
    compaction.  The churn fold collapses them on content to the max
    seq, and the probe afterwards serves each neighbour once."""
    from gdp_etl_spark.operators.ann_index import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_probe_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    n_all = emb.filter(F.col("embedding").isNotNull()).count()
    table = "t_ivf_redeliver"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(evens, table, num_centroids=4, n_iter=1)
        append_to_ivf_index(odds, table)   # seq 1
        append_to_ivf_index(odds, table)   # seq 2: the redelivery
        n_odds = odds.filter(F.col("embedding").isNotNull()).count()
        assert spark.table(table).count() == n_all + n_odds
        compact_ivf_index(spark, table)
        assert spark.table(table).count() == n_all
        rows = ivf_probe_index(
            spark, table, [0], k=20, nprobe=4).collect()
        ids = [r["neighbour_id"] for r in rows]
        assert len(ids) == len(set(ids))
    finally:
        _drop_ivf_tables(spark, table)


def test_semantic_dedup_asof_reaches_composition(spark):
    """r14 verdict task 4: the SemDeDup composition takes asof_seq, so
    a nightly screen is reproducible against a pinned corpus version.
    Pinned at the build snapshot, verdicts under later churn are
    bit-identical to the in-query semantic_dedup on the original
    corpus; the unpinned (latest) run sees the churn."""
    from gdp_etl_spark.operators.ann_index import (
        delete_from_ivf_index,
        upsert_to_ivf_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    table = "t_semdedup_asof"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(emb, table, num_centroids=4, n_iter=2,
                        seed="semdedup")
        want = sorted(map(tuple, semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.35, num_cells=4,
            n_iter=2).collect()))
        # churn AFTER the snapshot point (write = seq 0)
        up = emb.filter(F.col("vec_id") < 4).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"))
        upsert_to_ivf_index(up, table)             # seq 1
        delete_from_ivf_index(spark, table, [5, 6])  # seq 2
        got = sorted(map(tuple, semantic_dedup_from_index(
            emb, table, threshold=0.35, asof_seq=0).collect()))
        assert got == want
        latest_ids = {r["vec_id"] for r in semantic_dedup_from_index(
            emb, table, threshold=0.35).collect()}
        assert 5 not in latest_ids and 6 not in latest_ids
    finally:
        _drop_ivf_tables(spark, table)


def test_semantic_dedup_increment_asof_pins_corpus(spark):
    """The increment's asof contract: a screen pinned to the day-1
    snapshot returns tonight's verdicts forever, regardless of churn
    applied to the index after the pin."""
    from gdp_etl_spark.operators.ann_index import (
        delete_from_ivf_index,
        write_ivf_index,
    )
    from gdp_etl_spark.operators.dedup import semantic_dedup_increment

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    day1 = emb.filter(F.col("vec_id") < 40)
    day2 = emb.filter(F.col("vec_id") >= 40)
    table = "t_semdedup_incasof"
    _drop_ivf_tables(spark, table)
    try:
        write_ivf_index(day1, table, num_centroids=4, n_iter=2,
                        seed="semdedup")
        want = sorted(map(tuple, semantic_dedup_increment(
            day2, day1, table, threshold=0.35).collect()))
        delete_from_ivf_index(spark, table, list(range(0, 10)))
        got = sorted(map(tuple, semantic_dedup_increment(
            day2, day1, table, threshold=0.35, asof_seq=0).collect()))
        assert got == want
        # the unpinned run no longer judges against the deleted rows
        unpinned = sorted(map(tuple, semantic_dedup_increment(
            day2, day1, table, threshold=0.35).collect()))
        assert unpinned != want or all(
            r[2] is None or r[2] >= 10 for r in unpinned)
    finally:
        _drop_ivf_tables(spark, table)
