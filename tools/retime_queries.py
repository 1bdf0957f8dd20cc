#!/usr/bin/env python
"""Quiet-host standalone re-timer: median-of-N warm noop-sink runs for
named queries, one fresh Spark session, same methodology as bench.py
(cold sample dropped).  Usage:

    python tools/retime_queries.py [--n 4] query [query ...]

Prints one JSON line {"queries": {name: warm_median}, "n": N, "cold":
{name: first_sample}, "build_py4j": {name: warm_median}, "build_sql":
{name: warm_median}} for splice/A-B adjudication (the r13/r14 refresh
protocol).  ``build_py4j`` counts the py4j round trips the query builder
makes before the sink runs (DataFrame and Column construction plus any
eager action), by wrapping py4j's ``GatewayClient.send_command`` inside
this tool.  ``build_sql`` counts the builder's ``SparkSession.sql``
calls (the metastore layer: DDL, ``SHOW``/``DESCRIBE``, property
stamps), by wrapping that method the same way.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from py4j.java_gateway import GatewayClient
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from gdp_etl_spark.io import DEFAULT_SF_DIR as SF_DIR
from gdp_etl_spark.session import get_spark

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_ROUND_TRIPS = [0]
_SQL_CALLS = [0]
_send_command = GatewayClient.send_command
_sql = SparkSession.sql


def _counted_send_command(self, *args, **kwargs):
    _ROUND_TRIPS[0] += 1
    return _send_command(self, *args, **kwargs)


def _counted_sql(self, *args, **kwargs):
    _SQL_CALLS[0] += 1
    return _sql(self, *args, **kwargs)


def main() -> None:
    argv = sys.argv[1:]
    n = 4
    if argv and argv[0] == "--n":
        n = int(argv[1])
        argv = argv[2:]
    names = argv
    spark = get_spark(
        "retime", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) if CPUS.isdigit() else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    GatewayClient.send_command = _counted_send_command
    SparkSession.sql = _counted_sql
    out, cold, trips, sqls = {}, {}, {}, {}
    for name in names:
        fn = queries[name]
        samples, build_trips, build_sqls = [], [], []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"retime {name} #{i}")
            t0 = time.time()
            _ROUND_TRIPS[0] = _SQL_CALLS[0] = 0
            df = fn(spark, SF_DIR)
            build_trips.append(_ROUND_TRIPS[0])
            build_sqls.append(_SQL_CALLS[0])
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        cold[name] = round(samples[0], 3)
        out[name] = round(statistics.median(samples[1:]), 3)
        trips[name] = statistics.median(build_trips[1:])
        sqls[name] = statistics.median(build_sqls[1:])
    print(json.dumps({"queries": out, "cold": cold, "n": n,
                      "build_py4j": trips, "build_sql": sqls,
                      "loadavg": os.getloadavg()[0]}))


if __name__ == "__main__":
    main()
