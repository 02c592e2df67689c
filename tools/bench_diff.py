#!/usr/bin/env python
"""Round-over-round bench diff.

Compares two BENCH_DETAIL.json files (default: the newest two
``*_detail.json`` in bench_history/, or pass explicit paths) and
prints total delta plus the biggest per-query regressions/improvements.
Queries present in only one file are listed separately so catalog
growth doesn't read as a perf regression. Between two single sweeps
(bench.py runs each entry once; ``reps`` 1 or absent) a per-entry
delta under ``UNRESOLVED`` is marked unresolved:
tools/profile_entries.py (interleaved min-of-N) resolves it.

Usage:
    python tools/bench_diff.py [old.json new.json]
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A sweep runs the entries once each in a fixed order, so a burst of
# host load lands on one contiguous block of them. On a 4-core host two
# back-to-back sweeps read 336.8 s and 386.3 s (one block of 20 entries
# 34.3 -> 55.9 s) where an interleaved min-of-3 A/B of 30 of those
# entries differed by 4 %.
UNRESOLVED = 0.15


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main() -> int:
    if len(sys.argv) == 3:
        old_p, new_p = sys.argv[1], sys.argv[2]
    else:
        hist = sorted(glob.glob(os.path.join(REPO, "bench_history", "*_detail.json")))
        if len(hist) < 2:
            print("need two *_detail.json files in bench_history/ (or pass paths)")
            return 1
        old_p, new_p = hist[-2], hist[-1]
    old, new = load(old_p), load(new_p)
    oq, nq = old["queries"], new["queries"]
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    old_shared = sum(oq[k] for k in shared)
    new_shared = sum(nq[k] for k in shared)
    print(f"old: {os.path.basename(old_p)}  total={old['value']:.1f}s  n={len(oq)}")
    print(f"new: {os.path.basename(new_p)}  total={new['value']:.1f}s  n={len(nq)}")
    print(
        f"shared {len(shared)} queries: {old_shared:.1f}s -> {new_shared:.1f}s "
        f"({(new_shared / old_shared - 1) * 100:+.1f}%)"
    )
    # Ambient-load readout (NOTES_r09.md adjudication, mechanical):
    # the shared container inflates runs UNIFORMLY — a high median
    # per-entry ratio with a tight spread means "divide before reading
    # per-entry deltas", while a ~1.0 median with isolated spikes
    # means the spikes are real code effects worth chasing.
    ratios = sorted(nq[k] / oq[k] for k in shared if oq[k] >= 0.3)
    if ratios:
        med = ratios[len(ratios) // 2]
        p25 = ratios[len(ratios) // 4]
        p75 = ratios[3 * len(ratios) // 4]
        verdict = (
            "UNIFORM ambient inflation — divide per-entry deltas by the median"
            if med > 1.15 and p75 / max(p25, 1e-9) < 1.5
            else "per-entry deltas are attributable"
        )
        print(
            f"per-entry ratio (entries >=0.3s): median {med:.3f} "
            f"[p25 {p25:.3f}, p75 {p75:.3f}] -> {verdict}"
        )
    single = old.get("reps", 1) == 1 and new.get("reps", 1) == 1

    def row(k: str) -> str:
        d = nq[k] - oq[k]
        mark = "  (unresolved)" if single and abs(d) < UNRESOLVED * oq[k] else ""
        return f"  {d:+6.2f}s  {oq[k]:6.2f} -> {nq[k]:6.2f}  {k}{mark}"

    deltas = sorted(shared, key=lambda k: nq[k] - oq[k])
    print("\nbiggest regressions:")
    for k in deltas[-8:][::-1]:
        if nq[k] - oq[k] > 0.2:
            print(row(k))
    print("biggest improvements:")
    for k in deltas[:8]:
        if nq[k] - oq[k] < -0.2:
            print(row(k))
    if single:
        print(
            f"both files are single sweeps: a per-entry delta under {UNRESOLVED:.0%} is "
            "unresolved; run tools/profile_entries.py -n N on each side, alternated "
            "(interleaved min-of-N), to resolve it"
        )
    if added:
        print(f"\nadded ({len(added)}): " + ", ".join(f"{k}={nq[k]:.2f}s" for k in added))
    if removed:
        print(f"removed ({len(removed)}): " + ", ".join(removed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
