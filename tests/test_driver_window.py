"""Driver-contract structure: the correctness gate verifies the FIRST
50 names of ``queries()``, so the contract spells them once, as
``DRIVER_WINDOW``, and orders everything else by name.  No Spark
session needed: these read the query registry."""

import subprocess
import sys
from pathlib import Path

import pytest

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def test_driver_window_is_50_unique_registered_names():
    import __spark_entry__ as e
    from gdp_etl_spark.queries import REGISTRY

    window = e.DRIVER_WINDOW
    assert len(window) == 50 and len(set(window)) == 50, (
        f"the driver checks the FIRST 50 queries; DRIVER_WINDOW holds "
        f"{len(window)} names, {len(set(window))} distinct"
    )
    assert not [n for n in window if n not in REGISTRY]


def test_queries_order_is_window_then_the_rest_sorted():
    import __spark_entry__ as e
    from gdp_etl_spark.queries import REGISTRY

    rest = [n for n in REGISTRY if n not in e.DRIVER_WINDOW]
    assert list(e.queries()) == [*e.DRIVER_WINDOW, *sorted(rest)]


def test_every_registered_query_has_an_oracle():
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    assert list(oracles) == list(e.queries())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_duplicate_query_name_raises():
    import __spark_entry__ as e
    from gdp_etl_spark.queries import REGISTRY, query

    builder = e.queries()["projection"]

    def q_projection(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="projection"):
        query(oracle="SELECT 1")(q_projection)
    assert REGISTRY["projection"][0] is builder


def test_check_correctness_rejects_an_unknown_query_name():
    """A misspelled name must fail loudly, not run nothing and pass."""
    out = subprocess.run(
        [sys.executable, str(ENTRY.parent / "tools" / "check_correctness.py"),
         "pq_idex"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode != 0
    assert "pq_idex" in out.stderr


def _uncovered(registered, window, ledger_keys):
    """Queries with neither a slot in the current window nor a driver
    row in ANY ledger — the class that shipped unverified in r12
    (curriculum/url_frontier registered after the window was cut)."""
    covered = set(window) | set(ledger_keys)
    return [q for q in registered if q not in covered]


def test_every_registered_query_is_window_covered_or_ledgered():
    """Close gate (r12 verdict): a registered query must either sit in
    the current 50-slot window or already have a driver row in some
    CORRECTNESS ledger.  Without this, a query registered after the
    window is cut ships with zero driver evidence and no complaint."""
    import json

    import __spark_entry__ as e

    root = ENTRY.parent
    ledger_keys: set[str] = set()
    for p in root.glob("CORRECTNESS_r*.json"):
        ledger_keys |= set(json.loads(p.read_text()))
    names = list(e.queries())
    missing = _uncovered(names, names[:50], ledger_keys)
    assert not missing, (
        f"registered queries with no window slot AND no driver row: "
        f"{missing} — put them in the current window"
    )


def test_uncovered_detector_catches_a_fresh_query():
    """The gate actually fires: a synthetic query that is neither in
    the window nor in any ledger is reported."""
    registered = ["a", "b", "brand_new"]
    assert _uncovered(registered, ["a"], {"b"}) == ["brand_new"]
    assert _uncovered(registered, ["a", "brand_new"], {"b"}) == []
    assert _uncovered(registered, ["a"], {"b", "brand_new"}) == []


def test_window_staleness_compose_ranking():
    """The rotation tool's ranking contract: changed first (in given
    order), then never-checked (alphabetical), then stalest-first by
    last-green round with name tie-break; rows-only queries rotate on
    their last-any round; slots cap respected."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "window_staleness",
        Path(__file__).resolve().parent.parent / "tools" / "window_staleness.py",
    )
    ws = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ws)

    queries = ["a", "b", "c", "d", "e", "f", "g", "r"]
    last_green = {"a": 3, "b": 8, "c": 4, "d": 0, "e": 3, "f": 0, "g": 5,
                  "r": 4}
    last_any = {"a": 3, "b": 8, "c": 4, "d": 0, "e": 3, "f": 7, "g": 5,
                "r": 9}
    # f is rows-only (any=7, green=0); d is never-checked; r REGRESSED
    # (green r4, then a non-green row in r9 — must jump the queue, not
    # sort as r9-fresh)
    window, never = ws.compose(
        queries, last_green, last_any, changed=["g", "zz"], slots=6
    )
    assert never == ["d"]
    # g changed (zz ignored: not registered), r regressed, d never,
    # then a/e (r3, name tie-break), then c (r4)
    assert window == ["g", "r", "d", "a", "e", "c"]
    # full ordering without the cap: rows-only f sorts at its last_any
    window_all, _ = ws.compose(
        queries, last_green, last_any, changed=[], slots=99
    )
    assert window_all == ["r", "d", "a", "e", "c", "g", "f", "b"]


def test_bench_refresh_block_and_blockers(tmp_path):
    """The round-close refresh block is generated, not hand-typed:
    totals over shared queries, new/removed listed with cost, movers
    beyond the absolute floor tabled, >1.3x regressions (and 0.0s->N
    no-ratio growth) marked as close blockers and returned."""
    import importlib.util
    import json
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_refresh",
        Path(__file__).parent.parent / "tools" / "bench_refresh.py",
    )
    br = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(br)

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {
        "a": 2.0, "b": 1.0, "c": 4.0, "gone": 1.0, "z": 0.0,
    }}))
    new.write_text(json.dumps({"queries": {
        "a": 3.2,          # 1.6x, 1.2s delta -> blocker
        "b": 1.2,          # 0.2s delta, below floor -> not listed
        "c": 2.0,          # 0.5x improvement
        "fresh": 1.5,      # added
        "z": 0.9,          # grew from 0.0 median -> no-ratio blocker
    }}))
    block, blockers, uniform = br.build_block(str(old), str(new), 10, 0.5, 1.3)
    assert sorted(blockers) == ["a", "z"]
    assert not uniform  # structural movers present -> not uniform
    assert "## Round-10 refresh" in block
    assert "`fresh` 1.5 s" in block and "`gone`" in block
    assert "1.60× | — | — | **⚠ blocker**" in block
    assert "CLOSE BLOCKER" in block
    assert "`b`" not in block  # below the floor
    # flat self-diff: no blockers, explicit flat message
    block2, blockers2, uniform2 = br.build_block(str(old), str(old),
                                                 11, 0.5, 1.3)
    assert blockers2 == [] and "flat round" in block2
    assert not uniform2
    # an all-zero old total must not divide by zero (sub-ms medians
    # record 0.0; a salvaged truncated ledger can be all zeros)
    z_old = tmp_path / "z_old.json"
    z_new = tmp_path / "z_new.json"
    z_old.write_text(json.dumps({"queries": {"z": 0.0}}))
    z_new.write_text(json.dumps({"queries": {"z": 0.9}}))
    block3, blockers3, _ = br.build_block(str(z_old), str(z_new), 12, 0.5, 1.3)
    assert blockers3 == ["z"] and "no ratio" in block3


def test_bench_refresh_flags_uniform_inflation(tmp_path):
    """A ledger where (almost) every query drifted up ~10% with no
    structural mover is a CONTAMINATED RUN (ambient host load), not
    ten real regressions — build_block must flag it (and main exits 3)
    so the manual discard rule that cost two full r10 runs is
    mechanized.  A run with one genuine 2x blocker is NOT uniform."""
    import importlib.util
    import json
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_refresh",
        Path(__file__).parent.parent / "tools" / "bench_refresh.py",
    )
    br = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(br)

    base = {f"q{i}": 1.0 + i * 0.3 for i in range(12)}
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"queries": base}))

    # (a) uniform +11% inflation, no mover beyond the 1.3x blocker
    infl = tmp_path / "inflated.json"
    infl.write_text(json.dumps(
        {"queries": {k: round(v * 1.11, 3) for k, v in base.items()},
         "loadavg_max": 9.4}))
    block, blockers, uniform = br.build_block(
        str(old), str(infl), 11, 0.5, 1.3)
    assert uniform and blockers == []
    assert "SUSPECT LEDGER" in block and "9.4" in block

    # (b) one genuine 2x structural mover, everything else flat
    mover = dict(base)
    mover["q3"] = base["q3"] * 2.0
    mv = tmp_path / "mover.json"
    mv.write_text(json.dumps({"queries": mover}))
    block_b, blockers_b, uniform_b = br.build_block(
        str(old), str(mv), 11, 0.5, 1.3)
    assert blockers_b == ["q3"] and not uniform_b
    assert "SUSPECT LEDGER" not in block_b

    # (c) flat self-diff: neither
    _, blockers_c, uniform_c = br.build_block(
        str(old), str(old), 11, 0.5, 1.3)
    assert blockers_c == [] and not uniform_c


def test_bench_refresh_detrend_and_load_classes(tmp_path):
    """r13 verdict task 2: when a ledger pair carries a uniform load
    shift, per-query ratios are de-trended by the median ratio and
    blockers judged AFTER de-trending — a real regression hidden
    inside uniform deflation (old ledger loud) must still surface,
    while a mover whose new endpoint ran under visibly more load is
    classed load-suspect, not structural."""
    import importlib.util
    import json
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_refresh",
        Path(__file__).parent.parent / "tools" / "bench_refresh.py",
    )
    br = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(br)

    base = {f"q{i}": 2.0 + i * 0.1 for i in range(12)}
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"queries": base}))

    # (a) old ledger was loud: everything deflates x0.82 EXCEPT q5,
    # which is raw 1.15x — i.e. a ~1.40x de-trended regression
    defl = {k: round(v * 0.82, 3) for k, v in base.items()}
    defl["q5"] = round(base["q5"] * 1.15, 3)
    newp = tmp_path / "new.json"
    newp.write_text(json.dumps({"queries": defl}))
    block, blockers, uniform = br.build_block(
        str(old), str(newp), 14, 0.5, 1.3)
    assert blockers == ["q5"]          # surfaced despite raw 1.15x
    assert not uniform                  # deflation != suspect ledger
    assert "uniform deflation" in block.lower()
    assert "de-trended" in block

    # (b) same shape, but q5's NEW sample ran under much higher load
    # than its old one -> load-suspect, NOT a close blocker
    old_l = tmp_path / "old_l.json"
    old_l.write_text(json.dumps(
        {"queries": base, "loadavg": {"q5": [1.0]}}))
    new_l = tmp_path / "new_l.json"
    new_l.write_text(json.dumps(
        {"queries": defl, "loadavg": {"q5": [8.0, 8.5]}}))
    block_b, blockers_b, _ = br.build_block(
        str(old_l), str(new_l), 14, 0.5, 1.3)
    assert blockers_b == []
    assert "load-suspect" in block_b
