#!/usr/bin/env python3
"""Compute the next driver-window composition from the CORRECTNESS ledgers.

The driver verifies only the FIRST 50 keys of ``queries()`` each round
(the "window"), so which queries get fresh evidence is a scheduling
problem.  Manual curation caused the r6/r7 off-by-four bug (54 keys
before the marker, last four silently unchecked); this tool makes the
rotation computed instead of hand-picked:

  1. Read every ``CORRECTNESS_r*.json`` in the repo root and record,
     per query, the LAST round with a fully-green row (rows_match &&
     schema_match && hash_match) and the last round with any row at
     all (rows-only evidence counts for never-green detection).
  2. Rank candidates: (a) queries named on the command line via
     ``--changed`` (code/fixture/oracle moved this round — always
     re-verify), then (b) registered queries with NO driver row in any
     round, then (c) everything else by last-green round ascending
     (stalest first), name as tie-break for determinism.
  3. Emit the top ``--slots`` (default 50) as the next window, plus a
     staleness histogram so the burn-down is visible round-over-round,
     and print the window as a ``DRIVER_WINDOW`` tuple to paste into
     ``__spark_entry__.py``.

Usage:
    python tools/window_staleness.py                 # histogram + window
    python tools/window_staleness.py --changed a b   # pin changed queries
    python tools/window_staleness.py --json          # machine-readable
"""
from __future__ import annotations

import argparse
import json
import re
import sys
import textwrap
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def registered_queries() -> list[str]:
    """Registered query names in the contract's order (no Spark session
    starts: importing the contract only fills the query registry)."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__

    return list(__spark_entry__.queries())


def window_tuple(window: list[str]) -> str:
    """The window as a ``DRIVER_WINDOW`` tuple to paste into
    ``__spark_entry__.py``."""
    body = textwrap.fill(
        " ".join(f'"{q}",' for q in window), width=76,
        initial_indent="    ", subsequent_indent="    ",
    )
    return f"DRIVER_WINDOW = (\n{body}\n)"


def ledger_rounds() -> list[tuple[int, dict]]:
    out = []
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.match(r"CORRECTNESS_r(\d+)\.json", p.name)
        if not m:
            continue
        try:
            out.append((int(m.group(1)), json.loads(p.read_text())))
        except json.JSONDecodeError:
            print(f"warning: unparseable ledger {p.name}", file=sys.stderr)
    return out


def evidence(queries: list[str]) -> tuple[dict[str, int], dict[str, int]]:
    """Return (last_green, last_any) maps; 0 = never."""
    last_green = {q: 0 for q in queries}
    last_any = {q: 0 for q in queries}
    for rnd, rows in ledger_rounds():
        for q, row in rows.items():
            if q not in last_green:
                continue  # de-registered or renamed since
            last_any[q] = max(last_any[q], rnd)
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                last_green[q] = max(last_green[q], rnd)
    return last_green, last_any


def compose(queries, last_green, last_any, changed, slots):
    changed = [q for q in changed if q in set(queries)]
    seen = set(changed)
    # REGRESSED: was green once, but a LATER driver row is non-green —
    # the one class that must never wait out a rotation (sorting these
    # by max(green, any) would treat the failure round as freshness
    # and push the known-bad query to the BACK of the queue)
    regressed = sorted(
        q for q in queries
        if q not in seen and 0 < last_green[q] < last_any[q]
    )
    seen.update(regressed)
    never = sorted(
        (q for q in queries if q not in seen and last_any[q] == 0),
    )
    seen.update(never)
    # rows-only-by-design queries (green never, but rows exist) sort by
    # last_any so they still rotate through on the normal cadence
    rest = sorted(
        (q for q in queries if q not in seen),
        key=lambda q: (last_green[q] or last_any[q], q),
    )
    window = (changed + regressed + never + rest)[:slots]
    return window, never


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--changed", nargs="*", default=[],
                    help="queries whose code/fixture/oracle changed this round")
    ap.add_argument("--slots", type=int, default=50)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    queries = registered_queries()
    last_green, last_any = evidence(queries)
    window, never = compose(queries, last_green, last_any, args.changed, args.slots)

    hist = Counter(last_green[q] for q in queries)
    if args.json:
        print(json.dumps({
            "window": window,
            "never_checked": never,
            "histogram_last_green": {str(k): v for k, v in sorted(hist.items())},
            "registered": len(queries),
        }, indent=2))
        return

    print(f"registered queries: {len(queries)}")
    print("last-green histogram (0 = never):")
    for rnd in sorted(hist):
        print(f"  r{rnd}: {hist[rnd]}")
    if never:
        print(f"never driver-checked ({len(never)}): {', '.join(never)}")
    print(f"\nnext window ({len(window)} slots):")
    for q in window:
        tag = "CHANGED" if q in args.changed else (
            "NEVER" if last_any[q] == 0 else f"green r{last_green[q]}"
            + ("" if last_green[q] else f", rows r{last_any[q]}"))
        print(f"  {q}  [{tag}]")
    print(f"\n{window_tuple(window)}")


if __name__ == "__main__":
    main()
