"""Explicit schemas for every table the engine touches.

The reference's #1 correctness hazard is silent type corruption of
zero-padded economy codes ("004", "070", "0000") — R coerces freely
(reference ``gpd_etl_pipeline.R:80,154,182``); Spark must declare
``StringType`` for every code column and never use ``inferSchema``
(SURVEY.md §1.3).  All reference-side schemas below follow FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# --------------------------------------------------------------------------
# Reference (GDP ETL) tables — FIXTURES.md §1-§9
# --------------------------------------------------------------------------

#: economy validity dimension (reference data/Dim_Countries.csv)
DIM_COUNTRIES = StructType(
    [
        _f("Code", StringType()),
        _f("Label", StringType()),
        _f("ValidFrom", IntegerType()),
        _f("ValidTo", IntegerType()),
        _f("IsTarget", StringType()),  # "True"/"False" *string*, per reference
    ]
)

#: group-membership edge list (reference data/Dim_Countries_Hierarchy_All.csv)
ECONOMY_HIERARCHY = StructType(
    [
        _f("Parent_Code", StringType()),
        _f("Parent_Label", StringType()),
        _f("Parent_ValidFrom", IntegerType()),
        _f("Parent_ValidTo", IntegerType()),
        _f("Parent_IsTarget", StringType()),
        _f("Child_Code", StringType()),
        _f("Child_Label", StringType()),
        _f("Child_ValidFrom", IntegerType()),
        _f("Child_ValidTo", IntegerType()),
        _f("Child_IsTarget", StringType()),
    ]
)

#: code → label lookup (reference data/lab_all.csv)
LABELS = StructType([_f("Code", StringType()), _f("Label", StringType())])

#: canonical long fact table — the grain everything operates on
#: (reference gpd_etl_pipeline.R:83-85)
GDP_LONG = StructType(
    [
        _f("Economy_Code", StringType()),
        _f("Year", IntegerType()),
        _f("Variable", StringType()),
        _f("Value", DoubleType()),
    ]
)

#: USIS long series (CPI / FX / deflators) — consumed columns only
USIS_FEED = StructType(
    [
        _f("Country_Code", StringType()),
        _f("Country_Label", StringType()),
        _f("Year", IntegerType()),
        _f("Value", DoubleType()),
    ]
)

#: previous UNCTADstat release (wide; no code column — label-joined)
OLD_RELEASE = StructType(
    [
        _f("Economy_Label", StringType()),
        _f("Year", IntegerType()),
        _f("US_at_current_prices_Value", DoubleType()),
        _f("US_at_current_prices_Footnote", StringType()),
        _f("US_at_current_prices_MissingValue", StringType()),
        _f("US_at_constant_prices_2015_Value", DoubleType()),
        _f("US_at_constant_prices_2015_Footnote", StringType()),
        _f("US_at_constant_prices_2015_MissingValue", StringType()),
    ]
)

#: final generic output (reference output/gdp_update.csv header)
GDP_UPDATE = StructType(
    [
        _f("Economy_Code", StringType()),
        _f("Economy_Label", StringType()),
        _f("Year", IntegerType()),
        _f("Variable", StringType()),
        _f("Value", DoubleType()),
        _f("CommentEN", StringType()),
        _f("CommentFR", StringType()),
    ]
)


# --------------------------------------------------------------------------
# Driver test tables (TESTDATA.md) — read only through ``io.load_table``,
# which declares these so no read infers; tests/test_testdata_schemas.py
# asserts each equals the files' own schema at every shipped scale.
# --------------------------------------------------------------------------

#: table name -> Spark DDL; ``events.ts`` is the MICROS encoding (the
#: NANOS one reads as bigint — see ``io.events_schema``)
TESTDATA_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
