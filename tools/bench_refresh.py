#!/usr/bin/env python3
"""Generate BASELINE.md's round-close refresh block from the bench
ledgers — computed, not hand-typed (r9 verdict task 6).

Diffs the previous round's committed full ledger against this round's
(both written via SPARK_GRAFT_BENCH_OUT) and emits a markdown block:
totals over shared queries, the new/removed query cost, and every
per-query mover beyond the noise floor.  Either ledger may also be a
driver BENCH_r{N}.json artifact: its per-query entries are salvaged from
the truncated stdout ``tail`` it keeps.

Load-aware since r14 (the r13 verdict's task 2 — three rounds running,
the raw blocker table was >90% ambient-load noise): when the suite
drifted uniformly (median per-query ratio beyond ±8%), every ratio is
ALSO shown DE-TRENDED (divided by the median ratio), and blocker status
is judged on the de-trended ratio.  Each mover row carries the
per-query 1-min loadavg endpoints from the ledgers' ``loadavg`` series
(recorded by bench.py per sample); a mover whose new endpoint ran under
>=3 more load than its old one is classed *load-suspect*, not
*structural*.  Only STRUCTURAL movers beyond ``--blocker`` (default
1.3x, after de-trend, with the absolute floor) are CLOSE BLOCKERS: the
block says so and the exit code is 1 — re-time the query standalone
(median-of-3, nothing else running; see SCALE.md round-9 on
contaminated runs) and either fix it or document why before closing.
Uniform inflation (this ledger loud) still exits 3 / SUSPECT; uniform
deflation (the PREVIOUS ledger was loud — the r13→r14 case) is an
informational note, since the new ledger is the cleaner one.

    python tools/bench_refresh.py bench_full_r9.json bench_full_r10.json \
        --round 10 [--write]

``--write`` appends the block to BASELINE.md (refusing if that round's
auto block already exists); without it the block prints to stdout for
review.  Narrative context (what the new queries are, probe results)
belongs in a hand-written paragraph AFTER the generated block — the
numbers themselves should never be retyped.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: uniform-shift threshold: a contaminated run (ambient hypervisor
#: load) inflates nearly EVERY query 9-15% with no structural movers —
#: the signature that cost two discarded full runs in r10, mechanized.
#: The same signature runs in reverse when the OLD ledger carried the
#: load (the r13 verdict's predicted "spurious uniform improvements").
UNIFORM_RATIO = 1.08

#: a mover whose NEW measurement ran under this much more 1-min load
#: than its OLD one is load-suspect regardless of the round's median:
#: the endpoints are not comparable (r13 verdict task 2)
LOAD_DELTA = 3.0


def load(path: str) -> dict[str, float]:
    """Per-query seconds from a bench ledger: any JSON with a "queries"
    map, or a driver BENCH_r{N}.json artifact, whose per-query entries
    are salvaged from its truncated stdout ``tail``."""
    with open(path) as fh:
        doc = json.load(fh)
    if isinstance(doc, dict) and "queries" in doc:
        return doc["queries"]
    if isinstance(doc, dict) and "tail" in doc:
        # driver BENCH_r{N}.json: {n, rc, cpus, sf, tail, parsed} where
        # tail is TRUNCATED stdout — salvage the per-query fragments it
        # kept ("name": seconds pairs; partial by design, which is why
        # the full committed ledger exists)
        got = {
            m.group(1): float(m.group(2))
            for m in re.finditer(r'"([a-z0-9_]+)": ([0-9.]+)', doc["tail"])
            if m.group(1) not in {
                "value", "sf", "repeat", "n_queries", "cold_only_n",
            }
        }
        print(f"note: {path} is a truncated driver artifact — "
              f"only {len(got)} per-query entries were recoverable")
        return got
    return doc


def _query_loads(path: str) -> dict[str, float]:
    """Per-query median 1-min loadavg from a full ledger's ``loadavg``
    series (recorded per sample since r13); empty for older ledgers."""
    try:
        with open(path) as fh:
            series = json.load(fh).get("loadavg") or {}
    except Exception:
        return {}
    out = {}
    for q, xs in series.items():
        if xs:
            s = sorted(xs)
            out[q] = s[len(s) // 2]
    return out


def build_block(old_path: str, new_path: str, rnd: int,
                floor: float, blocker: float) -> tuple[str, list[str], bool]:
    old, new = load(old_path), load(new_path)
    load_old, load_new = _query_loads(old_path), _query_loads(new_path)
    shared = sorted(set(old) & set(new))
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    t_old = sum(old[q] for q in shared)
    t_new = sum(new[q] for q in shared)

    # round-level de-trend factor: the median per-query ratio over
    # non-trivial shared queries.  When the whole suite drifted together
    # (either ledger carried ambient load), per-query ratios are judged
    # AFTER dividing the trend out — three rounds running, the raw
    # blocker table was >90% load noise (7/7 in r12, 43/43 in r13),
    # which is how a real regression hides (r13 verdict task 2).
    ratios = sorted(
        new[q] / old[q] for q in shared if old[q] >= 0.2 and new[q] > 0
    )
    med_ratio = ratios[len(ratios) // 2] if ratios else 1.0
    # a "trend" needs a population: never infer one from a handful of
    # shared queries (a 3-query ledger's median is just one query)
    enough = len(ratios) >= 8
    uniform_up = enough and med_ratio > UNIFORM_RATIO
    uniform_down = enough and med_ratio < 1.0 / UNIFORM_RATIO
    detrend = med_ratio if (uniform_up or uniform_down) else 1.0

    # the absolute mover floor applies to the DE-TRENDED delta: under a
    # deflating trend (old ledger loud) a real regression can sit at a
    # raw delta under the floor while being a large de-trended move —
    # judge significance where the blockers are judged
    moved = [
        (new[q] / old[q], q, old[q], new[q])
        for q in shared
        if old[q] > 0 and abs(new[q] - old[q] * detrend) >= floor
    ]
    from_zero = [(float("inf"), q, 0.0, new[q]) for q in shared
                 if old[q] == 0 and new[q] >= floor]
    regress = sorted((m for m in moved + from_zero if m[0] > 1),
                     reverse=True)
    improve = sorted(m for m in moved if m[0] < 1)

    def classify(r: float, q: str) -> str:
        """structural / load-suspect / trend for a regression row."""
        adj = r / detrend if r != float("inf") else r
        lo, ln = load_old.get(q), load_new.get(q)
        load_differs = (lo is not None and ln is not None
                        and ln - lo >= LOAD_DELTA)
        if adj > blocker:
            return "load-suspect" if load_differs else "structural"
        if r > blocker:
            return "load-suspect" if load_differs else "trend"
        return ""

    blockers = [m for m in regress
                if classify(m[0], m[1]) == "structural"
                and (m[0] / detrend if m[0] != float("inf") else m[0])
                > blocker]

    lines = [
        f"## Round-{rnd} refresh (auto-generated by tools/bench_refresh.py)",
        "",
        f"Ledgers: `{os.path.basename(old_path)}` → "
        f"`{os.path.basename(new_path)}`.",
        f"Shared queries: **{len(shared)}**, "
        f"{t_old:.1f} s → {t_new:.1f} s "
        # all-zero old totals are possible (sub-ms medians record as
        # 0.0; a salvaged truncated ledger can be all zeros) — emit an
        # explicit no-ratio instead of dividing by zero
        + (f"(**{t_new / t_old:.2f}×**)." if t_old else "(no ratio — "
           "old total is 0.0).")
        if shared else "No shared queries.",
    ]
    if detrend != 1.0:
        lines.append(
            f"Uniform {'inflation' if uniform_up else 'deflation'} "
            f"detected: median per-query ratio **{med_ratio:.3f}×** — "
            f"per-query ratios below are ALSO shown de-trended (÷"
            f"{med_ratio:.3f}); blockers are judged on the de-trended "
            "ratio with per-query load endpoints "
            "(`loadavg` series in the full ledgers) as the tie-breaker."
        )
    if only_new:
        t_add = sum(new[q] for q in only_new)
        lines.append(f"New this round ({len(only_new)}, {t_add:.1f} s): "
                     + ", ".join(f"`{q}` {new[q]:.1f} s" for q in only_new)
                     + ".")
    if only_old:
        lines.append(f"Removed ({len(only_old)}): "
                     + ", ".join(f"`{q}`" for q in only_old) + ".")
    if regress or improve:
        lines += ["",
                  "| query | prev | now | ratio | de-trended | "
                  "load prev→now | class |",
                  "|---|---|---|---|---|---|---|"]
        for r, q, a, b in regress + improve:
            ratio = "—" if r == float("inf") else f"{r:.2f}×"
            adj = ("—" if r == float("inf") or detrend == 1.0
                   else f"{r / detrend:.2f}×")
            lo, ln = load_old.get(q), load_new.get(q)
            ld = (f"{lo:.0f}→{ln:.0f}"
                  if lo is not None and ln is not None else "—")
            cls = classify(r, q) if r > 1 else ""
            flag = " **⚠ blocker**" if any(q == m[1] for m in blockers) \
                else (f" *{cls}*" if cls else "")
            lines.append(f"| `{q}` | {a:.2f} s | {b:.2f} s | {ratio} | "
                         f"{adj} | {ld} |{flag} |")
    else:
        lines.append(f"No per-query move beyond the {floor:.1f} s floor — "
                     "flat round.")
    if blockers:
        lines += [
            "",
            f"**CLOSE BLOCKER**: {len(blockers)} quer"
            f"{'y' if len(blockers) == 1 else 'ies'} regressed beyond "
            f"{blocker}× AFTER de-trending, with comparable load "
            "endpoints — re-time standalone (median-of-3, quiet host) "
            "and fix or explain before closing the round.",
        ]
    # uniform-INFLATION still means the NEW ledger is the suspect one;
    # uniform deflation means the OLD one carried the load (the r13
    # case) and this ledger is the cleaner of the two — note, don't warn
    uniform = uniform_up and not blockers
    if uniform:
        load_note = ""
        try:
            with open(new_path) as fh:
                lmax = json.load(fh).get("loadavg_max")
            if lmax is not None:
                load_note = f" (ledger loadavg_max = {lmax})"
        except Exception:
            pass
        lines += [
            "",
            f"**SUSPECT LEDGER**: median per-query ratio "
            f"{med_ratio:.3f}× with no structural mover — the "
            f"signature of ambient host load{load_note} "
            "(SCALE.md r10: hypervisor windows inflate everything "
            "9-15% uniformly).  Re-run on a quiet host before "
            "believing or committing this ledger.",
        ]
    elif uniform_down:
        lines += [
            "",
            f"Note: uniform deflation ({med_ratio:.3f}×) — the PREVIOUS "
            "ledger carried ambient load (see its note); the apparent "
            "across-the-board improvements are the load washing out, "
            "not speedups.  This ledger is the cleaner baseline.",
        ]
    return "\n".join(lines) + "\n", [m[1] for m in blockers], uniform


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--round", type=int, required=True, dest="rnd")
    ap.add_argument("--floor", type=float, default=0.5)
    ap.add_argument("--blocker", type=float, default=1.3)
    ap.add_argument("--write", action="store_true",
                    help="append the block to BASELINE.md")
    args = ap.parse_args()

    block, blockers, uniform = build_block(args.old, args.new, args.rnd,
                                           args.floor, args.blocker)
    if args.write:
        baseline = os.path.join(REPO, "BASELINE.md")
        with open(baseline) as fh:
            existing = fh.read()
        header = block.splitlines()[0]
        if header in existing:
            print(f"refusing: {header!r} already in BASELINE.md",
                  file=sys.stderr)
            return 2
        with open(baseline, "a") as fh:
            fh.write("\n" + block)
        print(f"appended to BASELINE.md ({header})")
    else:
        print(block)
    if blockers:
        print(f"CLOSE BLOCKERS: {', '.join(blockers)}", file=sys.stderr)
        return 1
    if uniform:
        print("SUSPECT LEDGER: uniform inflation — re-run on a quiet "
              "host", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
