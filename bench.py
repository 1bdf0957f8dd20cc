#!/usr/bin/env python
"""The query runner: times registered queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py [--repeat N] [--plans DIR] [NAME ...]

With no NAME every registered query runs, which is the benchmark; with
names only those run, in the same loop.  The ``golden_*`` replays read
the reference checkout's real files and are skipped on hosts without it.

Each sample builds the query's frame and forces it end-to-end with the
``noop`` sink (full computation of every output column, no driver
collect overhead).  Queries run round-robin over N passes (``--repeat``,
else SPARK_GRAFT_REPEAT, default 3) and report the per-query warm
MEDIAN: BASELINE.md documents up to 2.5× host-load variance on single
runs, so medians are what make round-over-round comparisons (and the 2×
regression gate) trustworthy.

Prints a compact headline summary line (total, query count, top-10
slowest), then the per-query JSON line {"metric": ..., "value":
sum_of_medians, "unit": "sec", "queries": {name: sec}, "sf": ...} LAST,
so a tail-truncated capture of stdout still carries both.

Every build is counted: ``build_py4j`` is the py4j round trips the query
builder makes before the sink runs (DataFrame and Column construction
plus any eager action) and ``build_sql`` its ``SparkSession.sql`` calls
(the metastore layer: DDL, ``SHOW``/``DESCRIBE``, property stamps), both
warm medians; ``cold`` is each query's first sample.  They go to the
SPARK_GRAFT_BENCH_OUT ledger and, when names are given, into the last
stdout line too.

``--plans DIR`` writes DIR/<name>.txt: ``explain("formatted")`` of the
frame built for each query's first sample.  A query that computes
eagerly inside its builder (index DDL, checkpoints) shows the plan of the
returned frame only; its build cost is in the timings.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import statistics
import sys
import time

import pandas as pd
from py4j.java_gateway import GatewayClient
from pyspark.sql import SparkSession
from pyspark.sql import functions as _F

import __spark_entry__ as entry_mod
from gdp_etl_spark.io import DEFAULT_SF_DIR as SF_DIR
from gdp_etl_spark.plans.golden import reference_available
from gdp_etl_spark.session import get_spark

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: stop starting new repeat passes once this much bench wall-clock has
#: elapsed — keeps the default median mode from tripling a slow run
_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))


def resolve(parser: argparse.ArgumentParser,
            names: list[str]) -> tuple[dict, list[str]]:
    """The queries to run, ``{name: builder}`` in registration order —
    every registered query, or only the named ones — and the names among
    them this host skips.  An unregistered name is a usage error (exit 2
    through ``parser``).  The golden_* replays are skipped (like their
    pytest module) on hosts without the reference checkout, whose real
    files are their inputs."""
    registered = entry_mod.queries()
    unknown = [n for n in names if n not in registered]
    if unknown:
        parser.error(f"unknown queries: {', '.join(unknown)}")
    picked = {n: fn for n, fn in registered.items()
              if not names or n in names}
    skipped = [] if reference_available() else [
        n for n in picked if n.startswith("golden_")
    ]
    return {n: fn for n, fn in picked.items() if n not in skipped}, skipped


def warm_median(xs: list[float]) -> float:
    """Median of the warm samples: the first sample carries one-time
    codegen compile + persist materialization (corpus_curate: 18.7 s
    cold vs ~7 s warm) — with an even sample count it would skew the
    median by up to 2x, so drop it whenever warm samples exist."""
    return statistics.median(xs[1:] if len(xs) >= 2 else xs)


class BuildCounters:
    """Counts py4j round trips (``GatewayClient.send_command``) and
    ``SparkSession.sql`` calls while installed as a context manager."""

    def __init__(self) -> None:
        self.py4j = self.sql = 0

    def __enter__(self) -> "BuildCounters":
        send, sql = self._saved = GatewayClient.send_command, SparkSession.sql

        # py4j's own signature, not *args/**kwargs: the packing would
        # cost ~5x the rest of the wrapper on a call every build makes
        # thousands of times
        def counted_send(client, command, retry=True, binary=False):
            self.py4j += 1
            return send(client, command, retry, binary)

        def counted_sql(session, *args, **kwargs):
            self.sql += 1
            return sql(session, *args, **kwargs)

        GatewayClient.send_command = counted_send
        SparkSession.sql = counted_sql
        return self

    def __exit__(self, *exc) -> None:
        GatewayClient.send_command, SparkSession.sql = self._saved


def _warmup(spark) -> None:
    """One-time session warmup so per-query timings measure the queries,
    not interpreter startup: spins up the Python worker pool (numpy
    import per worker) and primes whole-stage codegen."""

    @_F.pandas_udf("double")
    def _noop(x: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.asarray(x, dtype=np.float64))

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 10).repartition(n).select(
        _noop(_F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()


def _write_plan(df, path: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as fh:
        fh.write(buf.getvalue())


def main() -> None:
    parser = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    parser.add_argument(
        "--repeat", type=int, metavar="N",
        default=int(os.environ.get("SPARK_GRAFT_REPEAT", "3")),
        help="samples per query (default: $SPARK_GRAFT_REPEAT or 3)",
    )
    parser.add_argument(
        "--plans", metavar="DIR",
        help="write each query's formatted plan to DIR/<name>.txt",
    )
    parser.add_argument(
        "names", nargs="*", metavar="NAME",
        help="registered queries to run (default: all)",
    )
    args = parser.parse_args()
    repeat = max(1, args.repeat)
    queries, skipped = resolve(parser, args.names)
    for name in skipped:
        print(f"skip {name}: reference checkout not available",
              file=sys.stderr)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    spark = get_spark(
        "bench", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) if CPUS.isdigit() else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    # round-robin over repeats (not query-by-query back-to-back) so a
    # transient host-load spike lands on different queries per pass and
    # the median sees it at most once per query
    samples: dict[str, list[float]] = {name: [] for name in queries}
    trips: dict[str, list[int]] = {name: [] for name in queries}
    sql_calls: dict[str, list[int]] = {name: [] for name in queries}
    # per-sample 1-min loadavg at query START: ambient hypervisor load
    # arrives in ~20-min windows and inflates every query 9-15%
    # uniformly (two full r10 runs were discarded to learn this) — the
    # ledger records the evidence so tools/bench_refresh.py can flag a
    # contaminated run mechanically instead of by post-hoc forensics
    loads: dict[str, list[float]] = {name: [] for name in queries}
    bench_t0 = time.time()
    passes = 0
    with BuildCounters() as counters:
        for _ in range(repeat):
            for name, fn in queries.items():
                # mid-pass budget guard: once the wall-clock budget is
                # spent, only queries still missing their first TWO
                # samples run.  Two samples are the integrity floor, not
                # a luxury: a cold-only query's number carries one-time
                # codegen + persist cost (up to 2× high), so a budget
                # that starves the warm pass silently breaks
                # round-over-round comparison for exactly the queries
                # registered last — the bug that left 44/200 cold-only
                # for two rounds.  Passes ≥ 3 degrade gracefully under
                # the budget as before.
                if (time.time() - bench_t0 > _BUDGET_SEC
                        and len(samples[name]) >= 2):
                    continue
                loads[name].append(round(os.getloadavg()[0], 1))
                t0 = time.time()
                counters.py4j = counters.sql = 0
                df = fn(spark, SF_DIR)
                trips[name].append(counters.py4j)
                sql_calls[name].append(counters.sql)
                df.write.format("noop").mode("overwrite").save()
                samples[name].append(time.time() - t0)
                if args.plans and len(samples[name]) == 1:
                    _write_plan(df, os.path.join(args.plans, f"{name}.txt"))
            passes += 1
            # the warm pass is exempt from the budget (same integrity
            # floor as the inner guard): never break before pass 2 when
            # the caller asked for repeats
            if time.time() - bench_t0 > _BUDGET_SEC and passes >= 2:
                break
    repeat = passes
    timings = {name: round(warm_median(ts), 3) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    # queries whose budget-cut sampling left only the COLD run: their
    # "median" carries one-time codegen/persist cost (up to 2x high) —
    # name them so round-over-round comparison can exclude them instead
    # of reading spurious regressions
    cold_only = sorted(
        name for name, ts in samples.items() if len(ts) == 1
    )
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    all_loads = [x for xs in loads.values() for x in xs]
    loadavg_max = max(all_loads) if all_loads else 0.0
    out = {
        "metric": "total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "loadavg_max": loadavg_max,
    }
    if repeat > 1 or args.names:
        out["repeat"] = repeat
        if cold_only:
            out["cold_only"] = cold_only
    builds = {
        "cold": {name: round(ts[0], 3) for name, ts in samples.items()},
        "build_py4j": {name: warm_median(xs) for name, xs in trips.items()},
        "build_sql": {name: warm_median(xs) for name, xs in sql_calls.items()},
    }
    # a named run's line is small, so it carries the build counts; the
    # full run's counts and per-query load series go to the ledger only
    # (that stdout line must stay compact for the driver's tail window)
    if args.names:
        out.update(builds)
    ledger = {**out, **builds, "loadavg": loads}
    # full per-query ledger to a file when asked: the driver's BENCH
    # artifact truncates stdout to its tail, which blinds
    # round-over-round comparison for two-thirds of the suite — the
    # builder commits bench_full_r{N}.json at each round close instead
    # (SPARK_GRAFT_BENCH_OUT=bench_full_r9.json python bench.py)
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(ledger, fh, indent=1, sort_keys=True)
            fh.write("\n")
    # The driver's BENCH artifact keeps only the TAIL of stdout and its
    # round-over-round comparison parses per-query medians out of that
    # tail — so the LAST line printed must be the full per-query JSON
    # (r15 printed it FIRST and the tail truncated it, blinding
    # PERF_r15's per_query/geomean/scaling blocks).  A compact headline
    # summary goes out first so even a few-hundred-byte capture still
    # carries the totals; the per-query line is emitted last with
    # minimal separators (~6 KB at 253 queries, inside a 16 KB tail).
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = {
        "metric": "total_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "repeat": repeat,
        "n_queries": len(timings),
        "cold_only_n": len(cold_only),
        "loadavg_max": loadavg_max,
        "top10_slowest": slowest,
    }
    print(json.dumps(summary))
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
