#!/usr/bin/env python
"""Quiet-host standalone re-timer: median-of-N warm noop-sink runs for
named queries, one fresh Spark session, same methodology as bench.py
(cold sample dropped).  Usage:

    python tools/retime_queries.py [--n 4] query [query ...]

Prints one JSON line {"queries": {name: warm_median}, "n": N, "cold":
{name: first_sample}} for splice/A-B adjudication (the r13/r14 refresh
protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from gdp_etl_spark.io import DEFAULT_SF_DIR as SF_DIR
from gdp_etl_spark.session import get_spark

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


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
    out, cold = {}, {}
    for name in names:
        fn = queries[name]
        samples = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"retime {name} #{i}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        cold[name] = round(samples[0], 3)
        warm = sorted(samples[1:])
        mid = len(warm) // 2
        med = warm[mid] if len(warm) % 2 else (warm[mid - 1] + warm[mid]) / 2
        out[name] = round(med, 3)
    print(json.dumps({"queries": out, "cold": cold, "n": n,
                      "loadavg": os.getloadavg()[0]}))


if __name__ == "__main__":
    main()
