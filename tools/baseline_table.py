#!/usr/bin/env python3
"""Generate the CURRENT OPERATIVE BASELINE table for the top of
BASELINE.md (r10 verdict task 8): the 22-query headline gate —
recorded round-2 baseline vs the last two committed ledgers, with the
2x gate status per query — checkable from one screen, computed from
the ledgers rather than hand-typed.

    python tools/baseline_table.py bench_full_r9.json bench_full_r10.json

Prints markdown to stdout; paste (or script) it into BASELINE.md's
"Current operative baseline" section at each round close.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_refresh import load  # noqa: E402

#: the recorded round-2 per-query baseline at sf0.1 (BASELINE.md
#: "regression baseline for round 3+") — the operative BENCH gate is
#: "within 2x of these at the same scale factor"
R2_BASELINE: dict[str, float] = {
    "flagship_revenue": 4.33, "minhash_lsh": 3.80,
    "compute_project": 0.29, "simhash_pairs": 2.14,
    "filter_band": 0.50, "token_stats": 0.78,
    "diff_classify": 1.34, "quality_lang": 0.96,
    "closure_leaves": 6.16, "ann_topk": 0.94,
    "rollup_hierarchy": 4.17, "lsh_topk": 3.68,
    "gaps_islands": 1.76, "ivf_topk": 5.81,
    "base_broadcast": 0.99, "content_hash": 3.11,
    "group_extrema": 0.45, "events_tumbling": 3.72,
    "topk_orders": 0.30, "events_sessions": 0.59,
    "pivot_wide": 0.88, "exact_dedup": 0.87,
}


def build_table(prev_path: str, cur_path: str) -> tuple[str, list[str]]:
    prev, cur = load(prev_path), load(cur_path)
    lines = [
        "| query | r2 baseline | "
        f"{os.path.basename(prev_path)} | {os.path.basename(cur_path)} |"
        " vs baseline | gate (≤2×) |",
        "|---|---|---|---|---|---|",
    ]
    fails: list[str] = []
    t_base = t_prev = t_cur = 0.0
    for q in sorted(R2_BASELINE):
        b = R2_BASELINE[q]
        p, c = prev.get(q), cur.get(q)
        t_base += b
        t_prev += p or 0.0
        t_cur += c or 0.0
        if c is None:
            fails.append(q)
            lines.append(f"| `{q}` | {b:.2f} | "
                         f"{'—' if p is None else f'{p:.2f}'} | — | — | "
                         "**MISSING** |")
            continue
        ratio = c / b
        ok = ratio <= 2.0
        if not ok:
            fails.append(q)
        lines.append(
            f"| `{q}` | {b:.2f} | "
            f"{'—' if p is None else f'{p:.2f}'} | {c:.2f} | "
            f"{ratio:.2f}× | {'ok' if ok else '**FAIL**'} |"
        )
    verdict = (
        f"**Headline totals: {t_base:.1f} s baseline → {t_prev:.1f} s "
        f"previous → {t_cur:.1f} s "
        f"current ({t_cur / t_base:.2f}× of baseline); gate "
        + ("PASS (every query ≤2× its baseline).**" if not fails else
           f"FAIL: {', '.join(f'`{q}`' for q in fails)}.**")
    )
    return "\n".join(lines) + "\n\n" + verdict + "\n", fails


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("prev")
    ap.add_argument("cur")
    args = ap.parse_args()
    table, fails = build_table(args.prev, args.cur)
    print(table)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
