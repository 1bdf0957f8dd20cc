#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query is forced end-to-end with the ``noop`` sink (full computation
of every output column, no driver collect overhead).  Prints the full
per-query JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} followed by a compact headline
summary line (total, query count, top-10 slowest) so a tail-truncated
capture of stdout still carries the round's headline numbers.

``--repeat N`` (or SPARK_GRAFT_REPEAT=N) runs every query N times and
reports the per-query MEDIAN: BASELINE.md documents up to 2.5× host-load
variance on single runs, so medians are what make round-over-round
comparisons (and the 2× regression gate) trustworthy.  The JSON then
carries "repeat": N and "value" = sum of medians.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from gdp_etl_spark.io import DEFAULT_SF_DIR as SF_DIR
from gdp_etl_spark.session import get_spark

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: queries to EXCLUDE from the bench.  Empty by design since round 4:
#: the bench enumerates every registered query (registration order), so
#: a new operator cannot ship without a benchmark row and a regression
#: in any family is catchable round-over-round.  Add a name here only
#: with a written reason (e.g. a deliberately quadratic demo).
BENCH_EXCLUDE: frozenset[str] = frozenset()


def _env_excluded() -> frozenset[str]:
    """Queries whose INPUTS are host-gated: the golden_* replays read
    the reference checkout's real files and are skipped (like their
    pytest module) on hosts without it."""
    from gdp_etl_spark.plans.golden import reference_available

    if reference_available():
        return frozenset()
    return frozenset(
        n for n in entry_mod.queries() if n.startswith("golden_")
    )

#: pre-round-4 curated headline set, kept for subset comparisons
#: against BENCH_r01-r03 (BASELINE.md reads this list).
HEADLINE_QUERIES = [
    "flagship_revenue",     # multi-join star + agg
    "compute_project",      # scan-heavy projection math
    "filter_band",          # pushed-down band predicate
    "diff_classify",        # full-outer diff (sort-merge join)
    "closure_leaves",       # iterative closure (driver loop)
    "rollup_hierarchy",     # fan-out join + agg
    "gaps_islands",         # window + double agg
    "base_broadcast",       # partitioned window w/ guard
    "group_extrema",        # window extrema
    "topk_orders",          # TakeOrderedAndProject
    "pivot_wide",           # pivot agg
    "exact_dedup",          # hash dedup
    "minhash_lsh",          # banded LSH near-dup
    "simhash_pairs",        # pandas-UDF signatures + pigeonhole join
    "token_stats",          # HOF text expressions
    "quality_lang",         # HOF text scoring
    "ann_topk",             # brute-force cosine top-k
    "lsh_topk",             # bucketed approximate top-k
    "ivf_topk",             # centroid-cell approximate top-k
    "content_hash",         # rolling-hash char fold
    "asof_join",            # most-recent-match join (union + window)
    "rolling_window",       # 3-year frame + lag
    "interpolate",          # densify + ignorenulls windows
    "dedup_clusters",       # pairs -> connected components -> canonical
    "events_tumbling",      # time windows
    "events_sessions",      # sessionization windows
    "bm25_topk",            # ranked retrieval (explode + filtered agg)
    "pii_redact",           # regex scrub map work
    "corpus_clean",         # composed clean pipeline (score+redact+dedup+sample)
    "decontaminate",        # benchmark shingle-hash broadcast semi-join
    "repetition_stats",     # intra-doc repetition HOFs
    "pack_sequences",       # per-shard running-sum packing window
    "embed_transform",      # fixed-point vector transforms
    "heavy_hitters",        # explode + partial-agg frequent items
    "outlier_fences",       # exact quartiles + broadcast band tagging
    "weighted_sample",      # weighted TakeOrdered draw
    "profile_table",        # one-pass multi-distinct profile
    "corpus_curate",        # the full curation DAG end-to-end
    "resample_locf",        # time-grid densify + LOCF window
    "histogram",            # two-pass equi-width bins
    "pagerank",             # iterative power iteration (5 rounds)
    "scd2",                 # gaps-and-islands interval build
    "mad_outliers",         # two-pass exact-median robust fences
    "linear_trend",         # fixed-point OLS sufficient sums
    "dq_checks",            # fused-scan rules + group + anti-join
    "drift_psi",            # reference-binned drift contributions
    "pareto_share",         # cumulative-share window over rollup
    "shipping_priority",    # TPC-H Q3 shape: 3-way join + top-k
    "scd2_lookup",          # SCD2 build + point-in-time interval join
    "cube",                 # full CUBE grouping pass
    "equidepth",            # exact quantile-boundary bucketize
    "category_drift",       # chi-square contingency drift
    "returned_revenue",     # TPC-H Q10 shape: 4-way join + top-k
    "trade_volume",         # TPC-H Q7 shape: two-leg nation join
    "rolling_corr",         # windowed fixed-point correlation
    "binary_header",        # JVM-side binary header parse
    "table_checksum",       # orderless content checksum scan
    "kmeans_assign",        # distributed fixed-point Lloyd's k-means
    "corpus_mix",           # budget-driven domain mixing sample
    "min_cost_supplier",    # Q2 shape: decorrelated group-min join-back
    "regional_volume",      # Q5 shape: 5-way star + same-nation residual
    "nation_profit",        # Q9 shape: profit rollup over 5 tables
    "order_count_dist",     # Q13 shape: left join + stacked aggs
    "big_order_customers",  # Q18 shape: HAVING-sum survivors + top-k
    "disjunctive_revenue",  # Q19 shape: OR-of-ANDs join residual
    "waiting_supplier",     # Q21 shape: double self semi/anti join
    "semantic_decontam",    # embedding decontam: bucket join + exact cosine
]


import pandas as pd
from pyspark.sql import functions as _F


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


def _parse_repeat(argv: list[str]) -> int:
    if "--repeat" in argv:
        return max(1, int(argv[argv.index("--repeat") + 1]))
    return max(1, int(os.environ.get("SPARK_GRAFT_REPEAT", "3")))


#: stop starting new repeat passes once this much bench wall-clock has
#: elapsed — keeps the default median mode from tripling a slow run
_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))


def main() -> None:
    repeat = _parse_repeat(sys.argv[1:])
    spark = get_spark(
        "bench", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) if CPUS.isdigit() else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    queries = entry_mod.queries()
    excluded = BENCH_EXCLUDE | _env_excluded()
    BENCH_QUERIES = [n for n in queries if n not in excluded]
    # round-robin over repeats (not query-by-query back-to-back) so a
    # transient host-load spike lands on different queries per pass and
    # the median sees it at most once per query
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    # per-sample 1-min loadavg at query START: ambient hypervisor load
    # arrives in ~20-min windows and inflates every query 9-15%
    # uniformly (two full r10 runs were discarded to learn this) — the
    # ledger records the evidence so tools/bench_refresh.py can flag a
    # contaminated run mechanically instead of by post-hoc forensics
    loads: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    bench_t0 = time.time()
    passes = 0
    for _ in range(repeat):
        for name in BENCH_QUERIES:
            # mid-pass budget guard: once the wall-clock budget is
            # spent, only queries still missing their first TWO samples
            # run.  Two samples are the integrity floor, not a luxury:
            # a cold-only query's number carries one-time codegen +
            # persist cost (up to 2× high), so a budget that starves
            # the warm pass silently breaks round-over-round comparison
            # for exactly the queries registered last — the bug that
            # left 44/200 cold-only for two rounds.  Passes ≥ 3 degrade
            # gracefully under the budget as before.
            if time.time() - bench_t0 > _BUDGET_SEC and len(samples[name]) >= 2:
                continue
            fn = queries[name]
            loads[name].append(round(os.getloadavg()[0], 1))
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
        passes += 1
        # the warm pass is exempt from the budget (same integrity floor
        # as the inner guard): never break before pass 2 when the
        # caller asked for repeats
        if time.time() - bench_t0 > _BUDGET_SEC and passes >= 2:
            break
    repeat = passes
    def median(xs: list[float]) -> float:
        # warm median: the first sample carries one-time codegen compile
        # + persist materialization (corpus_curate: 18.7 s cold vs ~7 s
        # warm) — with an even sample count it would skew the median by
        # up to 2x, so drop it whenever warm samples exist
        if len(xs) >= 2:
            xs = xs[1:]
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
    timings = {name: round(median(ts), 3) for name, ts in samples.items()}
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
    if repeat > 1:
        out["repeat"] = repeat
        if cold_only:
            out["cold_only"] = cold_only
    # the per-query load series goes to the FULL ledger only (the
    # stdout line must stay compact for the driver's tail window)
    ledger = dict(out)
    ledger["loadavg"] = loads
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
