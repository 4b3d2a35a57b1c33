"""Round-over-round bench comparator (r12 verdict item 7).

The driver's PERF_r*.json could not compare r11→r12 because its
correctness samples rotate with zero overlap. This script diffs two
full per-query bench records (the committed BENCH_full.json of any two
rounds) on their COMMON query set and prints what the verdict needs:
common-set totals, geomean speedup, the >10% improvement/regression
lists, and the frozen subset22/subset38 comparators.

    python scripts/compare_bench.py <prev.json> <now.json>
    python scripts/compare_bench.py HEAD~1:BENCH_full.json BENCH_full.json

A `rev:path` argument is resolved through `git show`.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(spec: str) -> dict:
    if ":" in spec and not os.path.exists(spec):
        raw = subprocess.check_output(
            ["git", "show", spec],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        rec = json.loads(raw)
    else:
        with open(spec) as f:
            rec = json.load(f)
    return rec["queries"] if "queries" in rec else rec


def main() -> None:
    from bench import SUBSET22, SUBSET38

    prev_spec, now_spec = sys.argv[1], sys.argv[2]
    prev, now = load(prev_spec), load(now_spec)
    common = sorted(set(prev) & set(now))
    if not common:
        print("no common queries")
        return
    # a timing that rounds to 0 on either side has no meaningful ratio
    ratios = {q: now[q] / prev[q] for q in common if prev[q] > 0 and now[q] > 0}
    geomean = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    improved = sorted(
        (q for q, r in ratios.items() if r < 0.9), key=lambda q: ratios[q]
    )
    regressed = sorted(
        (q for q, r in ratios.items() if r > 1.1), key=lambda q: -ratios[q]
    )
    # frozen comparators: sum both sides over the members BOTH records hold
    subsets = {"subset22": SUBSET22, "subset38": SUBSET38}
    shared = {k: [q for q in members if q in prev and q in now] for k, members in subsets.items()}
    out = {
        "n_common": len(common),
        "prev_total_common": round(sum(prev[q] for q in common), 3),
        "now_total_common": round(sum(now[q] for q in common), 3),
        "total_ratio_common": round(
            sum(now[q] for q in common) / sum(prev[q] for q in common), 4
        ),
        "geomean_now_over_prev": round(geomean, 4),
        "n_improved_gt10pct": len(improved),
        "n_regressed_gt10pct": len(regressed),
        "dropped": sorted(set(prev) - set(now)),
        "added": sorted(set(now) - set(prev)),
    }
    for k, qs in shared.items():
        out[f"{k}_prev"] = round(sum(prev[q] for q in qs), 3)
        out[f"{k}_now"] = round(sum(now[q] for q in qs), 3)
    print(json.dumps(out, indent=2))
    for k, members in subsets.items():
        missing = [q for q in members if q not in shared[k]]
        if missing:
            print(f"\n{k}: missing from a record, left out of both sums: {missing}")
    print("\nregressed >10% (worst first):")
    for q in regressed:
        print(f"  {ratios[q]:6.2f}x  {prev[q]:7.3f} -> {now[q]:7.3f}  {q}")
    print("\nimproved >10% (best first):")
    for q in improved:
        print(f"  {ratios[q]:6.2f}x  {prev[q]:7.3f} -> {now[q]:7.3f}  {q}")


if __name__ == "__main__":
    main()
