#!/usr/bin/env python
"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 (or on another
fixture directory) on Spark AND its ``oracle_sql()`` on DuckDB, then
compares:

* row count,
* column name set,
* order-insensitive values (columns sorted by name, rows sorted, doubles
  compared exactly first and with rel-tol 1e-9 as a diagnostic fallback).

Usage: python tools/check_correctness.py [--sf-dir DIR] [NAME ...]

``--sf-dir`` names the testdata directory (default: the sf0.01 fixtures);
with no query names, every registered query runs.  Names resolve as in
``bench.py``: an unregistered name exits 2 before any query runs, and the
golden_* replays are skipped on hosts without the reference checkout.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def driver_hazards(name, spark_rows, sdf_dtypes, oracle_rows, oracle_typecodes):
    """Lint for the two classes of driver-harness failure that pass the
    local value comparison but break the driver's pandas canonicalizer
    (seen in rounds 2/3):

    * unhashable cells — any array/map/struct column crashes
      ``pd.unique`` with ``TypeError: unhashable type: 'list'``
      (r2 ``array_agg``, r3 ``embed_transform``);
    * cross-engine integer-width drift — DuckDB ``SUM(BIGINT)`` is
      HUGEINT (int128), which pandas widens to object/float while the
      Spark side stays int64, so the value hashes diverge even when the
      numbers are equal (r3 ``dq_checks``/``corpus_mix``).

    Returns warning strings; a clean driver window needs zero."""
    import decimal

    warns = []
    # schema-based, not row-based: an empty/NULL-first-row result would
    # hide an array column from a cell probe, yet the driver still
    # crashes on the real (non-empty) run
    for col, dtype in sdf_dtypes:
        if dtype.startswith(("array<", "map<", "struct<")):
            warns.append(
                f"driver-hazard: spark col {col!r} is {dtype} "
                f"(unhashable for the driver canonicalizer) — "
                f"serialize (concat_ws/to_json) in the registered query"
            )
    # the dtype check above covers array/map/struct; the row probe only
    # backstops what schemas can't show (binary arrives as bytearray)
    probe = spark_rows[0] if spark_rows else ()
    for i, cell in enumerate(probe):
        if isinstance(cell, (bytearray, set)):
            warns.append(
                f"driver-hazard: spark col #{i} holds {type(cell).__name__} "
                f"cells (unhashable for the driver canonicalizer) — "
                f"serialize (hex/concat_ws) in the registered query"
            )
    # NaN/Inf: NaN != NaN breaks value comparison even when both
    # engines agree cell-for-cell — scan every row (cheap: results are
    # already collected)
    n_nan = sum(
        1
        for r in spark_rows
        for v in r
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v))
    )
    if n_nan:
        warns.append(
            f"driver-hazard: {n_nan} NaN/Inf double cells — guard with "
            f"nanvl/NULLIF so the driver hash compares NULLs instead"
        )
    for col, tc in oracle_typecodes:
        if tc in ("HUGEINT", "UHUGEINT"):
            warns.append(
                f"driver-hazard: oracle col {col!r} is {tc} (int128) — "
                f"CAST(... AS BIGINT) in the oracle SQL"
            )
        if tc.startswith("DECIMAL"):
            warns.append(
                f"driver-hazard: oracle col {col!r} is {tc} — pandas "
                f"renders Decimal objects; CAST to DOUBLE/BIGINT"
            )
    oprobe = oracle_rows[0] if oracle_rows else ()
    for i, cell in enumerate(oprobe):
        if isinstance(cell, (list, tuple, dict, set, bytearray)):
            warns.append(
                f"driver-hazard: oracle col #{i} holds "
                f"{type(cell).__name__} cells — serialize in the SQL"
            )
        if isinstance(cell, decimal.Decimal):
            warns.append(
                f"driver-hazard: oracle col #{i} holds Decimal cells — "
                f"CAST to DOUBLE/BIGINT in the oracle SQL"
            )
    return warns


def sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def compare(name, spark_rows, spark_cols, oracle_rows, oracle_cols):
    issues = []
    if len(spark_rows) != len(oracle_rows):
        issues.append(f"rowcount spark={len(spark_rows)} oracle={len(oracle_rows)}")
    if sorted(spark_cols) != sorted(oracle_cols):
        issues.append(f"cols spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
        return issues
    # align column order by sorted name
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_idx = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    s = sorted(
        (tuple(norm_cell(r[i]) for i in s_idx) for r in spark_rows), key=sort_key
    )
    o = sorted(
        (tuple(norm_cell(r[i]) for i in o_idx) for r in oracle_rows), key=sort_key
    )
    if issues:
        return issues
    n_exact_bad = 0
    n_tol_bad = 0
    example = None
    for sr, orow in zip(s, o):
        for a, b in zip(sr, orow):
            if a == b:
                continue
            n_exact_bad += 1
            ok_tol = (
                isinstance(a, float)
                and isinstance(b, (float, int))
                and math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-12)
            )
            if not ok_tol:
                n_tol_bad += 1
                if example is None:
                    example = (sr, orow)
    if n_exact_bad:
        issues.append(f"value mismatches: exact={n_exact_bad} beyond-tol={n_tol_bad}")
        if example:
            issues.append(f"  e.g. spark={example[0]}\n       oracle={example[1]}")
    return issues


def main():
    from gdp_etl_spark.schemas import TESTDATA_TABLES
    from gdp_etl_spark.session import get_spark

    parser = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    parser.add_argument("--sf-dir", default=SF_DIR, metavar="DIR",
                        help=f"testdata directory (default: {SF_DIR})")
    parser.add_argument("names", nargs="*", metavar="NAME",
                        help="registered queries to check (default: all)")
    args = parser.parse_args()
    queries, skipped = bench.resolve(parser, args.names)
    oracles = bench.entry_mod.oracle_sql()
    print(f"fixtures: {args.sf_dir}")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    spark = get_spark("check", master="local[8]", shuffle_partitions=8)
    n_pass = n_fail = n_vacuous = n_hazard = 0
    for name in skipped:
        print(f"skip  {name}: reference checkout not available")
    for name, fn in queries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: SPARK ERROR {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        try:
            # DESCRIBE gives real logical types (DB-API description is
            # just 'NUMBER'), which is what the HUGEINT lint needs
            oracle_typecodes = [
                (r[0], str(r[1]))
                for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            ]
            cur = con.execute(oracles[name])
            oracle_cols = [d[0] for d in cur.description]
            oracle_rows = cur.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: ORACLE ERROR {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        hazards = driver_hazards(
            name, spark_rows, sdf.dtypes, oracle_rows, oracle_typecodes
        )
        for h in hazards:
            print(f"WARN  {name}: {h}")
        n_hazard += bool(hazards)
        issues = compare(name, spark_rows, spark_cols, oracle_rows, oracle_cols)
        if issues:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for i in issues:
                print(f"      {i}")
            n_fail += 1
        else:
            # a 0==0 comparison proves nothing — flag it so a vacuous
            # filter (e.g. a date band outside the data) can't pass
            # silently (this bit once: a TPC-H-dated quarter on data
            # spanning 1995-2001)
            vac = "  ** VACUOUS (0 rows both sides)" if not spark_rows else ""
            print(
                f"PASS  {name}: {len(spark_rows)} rows "
                f"[{time.time()-t0:.1f}s]{vac}"
            )
            n_pass += 1
            n_vacuous += not spark_rows
    env = f", {len(skipped)} env-skip" if skipped else ""
    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_vacuous} vacuous, "
        f"{n_hazard} driver-hazard{env} =="
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
