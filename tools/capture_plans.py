#!/usr/bin/env python
"""Capture .explain("formatted") output for declared queries.

Usage: python tools/capture_plans.py <suffix> [query ...]

Writes plans/r15/<query>_<suffix>.txt for each named query (default:
the round-15 optimization target list).  The judge reads these files to
verify plan-shape claims in OPTIMIZATION_r15.md, so the capture is the
plan of the EXACT frame the driver benches (``queries()[name](spark,
sf_dir)``), at the bench scale factor.

Note: queries whose value is computed eagerly inside the function
(index DDL, the churn fixture's localCheckpoint captures) show the plan
of the RETURNED frame only; their cost story lives in the jobs they run
while building, which the timing harness (bench.py) prices.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from gdp_etl_spark.io import DEFAULT_SF_DIR as SF_DIR
from gdp_etl_spark.session import get_spark


DEFAULT = [
    "pq_index", "pq_topk", "semantic_dedup", "semantic_dedup_indexed",
    "semantic_dedup_increment", "curation_audit", "chunk_embed_pool",
    "ivf_index", "pagerank", "minhash_index", "lm_buckets",
    "cogroup_reconcile", "train_batches", "ivf_topk",
]


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"plan: {name}")
        df = queries[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
