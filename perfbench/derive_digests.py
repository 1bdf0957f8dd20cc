#!/usr/bin/env python3
"""Derive ``expected_digests.json``: the orderless output digest of every
benchmark query at sf0.1, computed from its ``oracle_sql()`` in DuckDB.

    python3 perfbench/derive_digests.py [query ...]

Run from the repository root. Every oracle must finish within
``ORACLE_TIMEOUT_S`` seconds; the script fails naming the first one that
does not. A query whose oracle returns no rows is kept but marked
vacuous: a match there is no evidence of correctness.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path

import duckdb

import helpers
from workloads import all_queries

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ORACLE_TIMEOUT_S = 600


def oracle_digest(name, sql, sf_dir):
    """``(digest, rows, seconds)`` of ``sql`` in DuckDB."""
    from gdp_etl_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    t0 = time.perf_counter()
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    except duckdb.InterruptException:
        sys.exit(f"derive_digests: the oracle of {name} did not finish in {ORACLE_TIMEOUT_S} s")
    finally:
        timer.cancel()
        con.close()
    digest, n = helpers.digest_rows(cols, rows)
    return digest, n, time.perf_counter() - t0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry
    from gdp_etl_spark.io import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    oracles = entry.oracle_sql()
    out_path = BENCH_DIR / "expected_digests.json"
    # naming queries updates their entries; naming none rebuilds the file
    doc = {"queries": {}}
    if args.queries and out_path.exists():
        doc = json.loads(out_path.read_text())
    doc["sf"] = os.path.basename(sf_dir)
    for name in args.queries or all_queries():
        digest, rows, secs = oracle_digest(name, oracles[name], sf_dir)
        rec = {"digest": digest, "rows": rows, "oracle_s": round(secs, 1), "vacuous": rows == 0}
        doc["queries"][name] = rec
        print(name, json.dumps(rec), flush=True)
        out_path.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
