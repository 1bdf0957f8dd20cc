"""Declared testdata schemas vs the files, and the loader's job count.

``io.load_table`` reads with ``schemas.TESTDATA_SCHEMAS`` instead of the
files' footers.  A declared schema NULL-fills a column the file lacks and
reads a column under the declared type, so any drift between the map and
the shipped parquet must fail here, never surface as silent NULLs.
"""

import os
import uuid

import pytest
from pyspark.sql.types import StructType

from gdp_etl_spark import io
from gdp_etl_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

TESTDATA = os.path.dirname(io.DEFAULT_SF_DIR)
SCALES = ("sf0.001", "sf0.01", "sf0.1")


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_declared_schema_equals_file_schema(spark, sf, name):
    sf_dir = os.path.join(TESTDATA, sf)
    # events declares the ts encoding the footer probe finds
    ddl = io.events_schema(spark, sf_dir) if name == "events" else TESTDATA_SCHEMAS[name]
    inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    assert StructType.fromDDL(ddl) == inferred


def _jobs_launched(spark, fn):
    sc = spark.sparkContext
    gid = f"load_jobs_{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("name", [t for t in TESTDATA_TABLES if t != "events"])
def test_load_table_launches_no_job(spark, name):
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    assert _jobs_launched(spark, lambda: io.load_table(spark, sf_dir, name)) == []


def test_events_footer_probe_is_the_one_load_that_launches_a_job(spark):
    # positive control: the same counter does see an inferring read
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    assert _jobs_launched(spark, lambda: io.load_table(spark, sf_dir, "events"))


def test_load_table_rejects_undeclared_name(spark):
    with pytest.raises(KeyError, match="no_such_table"):
        io.load_table(spark, os.path.join(TESTDATA, "sf0.001"), "no_such_table")


def test_entry_table_reader_is_io_load_table():
    import __spark_entry__

    assert __spark_entry__._t is io.load_table
