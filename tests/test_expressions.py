"""Expression-library semantics (SURVEY.md §2.8), including the
R-vs-Spark semantic gaps the reference build hinges on."""

import pytest
from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import (
    bankers_round,
    bigint_array_lit,
    bigint_matrix_lit,
    conditional_overwrite,
    near,
    pad_code,
    prefer_new,
    recode,
    ref_date,
    sum_na_zero,
)

from .conftest import rows


def test_bankers_round_half_to_even(spark):
    # R round() is IEC 60559 half-to-even: 0.5->0, 1.5->2, 2.5->2, 3.5->4
    df = spark.createDataFrame([(0.5,), (1.5,), (2.5,), (3.5,), (-0.5,), (-2.5,)], "x double")
    got = rows(df.select(bankers_round(F.col("x")).alias("r")))
    assert got == sorted([(0.0,), (2.0,), (2.0,), (4.0,), (-0.0,), (-2.0,)])


def test_sum_na_zero_all_null_group(spark):
    # R sum(x, na.rm=TRUE) over an all-NA group returns 0, not NULL.
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None), ("b", None)], "g string, v double"
    )
    got = dict(rows(df.groupBy("g").agg(sum_na_zero("v").alias("s"))))
    assert got == {"a": 1.0, "b": 0.0}


def test_pad_code_roundtrip(spark):
    # "004" must survive: int -> padded string, never re-inferred.
    df = spark.createDataFrame([(4,), (70,), (840,)], "code int")
    got = rows(df.select(pad_code("code").alias("c")))
    assert got == [("004",), ("070",), ("840",)]


def test_conditional_overwrite_first_match_wins(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, v string")
    rules = [
        (F.col("k") <= 2, "low"),   # matches k=1,2
        (F.col("k") == 2, "mid"),   # shadowed by the first rule
    ]
    got = dict(rows(df.select("k", conditional_overwrite(F.col("v"), rules).alias("v2"))))
    assert got == {1: "low", 2: "low", 3: "z"}


def test_recode_with_default(spark):
    df = spark.createDataFrame([("click",), ("view",), ("error",)], "t string")
    got = rows(df.select(recode(F.col("t"), {"click": "C"}, default=F.lit("O")).alias("c")))
    assert got == [("C",), ("O",), ("O",)]


def test_near_tolerance(spark):
    df = spark.createDataFrame([(10.0, 11.5), (10.0, 13.0)], "a double, b double")
    got = rows(df.select(near(F.col("a"), F.col("b"), 2.0).alias("n")))
    assert got == [(False,), (True,)]


def test_prefer_new_is_coalesce(spark):
    df = spark.createDataFrame([(None, 1.0), (2.0, 3.0)], "new double, old double")
    got = rows(df.select(prefer_new(F.col("new"), F.col("old")).alias("v")))
    assert got == [(1.0,), (2.0,)]


def test_ref_date_injectable(spark):
    df = spark.range(1).select(ref_date("2025-08-29").alias("d"))
    assert df.first()["d"] == "29-Aug-25"


def test_bigint_literals_exact_or_loud(spark):
    """Centroid, codebook and query literals must carry exact integers:
    integral values (ints, integral floats) render as bigint, while a
    fractional value, an empty array or an empty matrix row raises
    instead of truncating or parsing as an untyped ``array()``."""
    got = spark.range(1).select(
        bigint_array_lit([3, -2, 7.0]).alias("a"),
        bigint_matrix_lit([[1, 2], [-3, 4.0]]).alias("m"),
    )
    assert dict(got.dtypes) == {"a": "array<bigint>",
                                "m": "array<array<bigint>>"}
    r = got.first()
    assert r["a"] == [3, -2, 7] and r["m"] == [[1, 2], [-3, 4]]
    for bad in ([1, 2.5], [0.999], [float("nan")], [float("inf")],
                [None], []):
        with pytest.raises(ValueError, match="bigint literal"):
            bigint_array_lit(bad)
    for bad in ([], [[1, 2], []], [[1, 2], [3, 4.5]]):
        with pytest.raises(ValueError, match="bigint literal"):
            bigint_matrix_lit(bad)
