"""Interleaved parent-vs-change comparison.

Runs this benchmark (the copy next to this file, so both sides use the
same benchmark code) in two checkouts, pair by pair, alternating which
side runs first, each pair on a fresh seed. For every end-to-end metric
it applies the pair rule: a gain needs the change to win at least nine
tenths of the pairs and the medians to differ by more than the parent's
inter-quartile distance; a regression is a change median worse than the
parent's by more than the metric's bound.

    python3 perfbench/compare.py PARENT_CHECKOUT CHANGE_CHECKOUT
    python3 perfbench/compare.py ../parent . --workload curation_stream --pairs 10
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import pair_verdict  # noqa: E402
from steady import load_spec, run_once  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", action="append", help="default: all")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    args = p.parse_args(argv)

    spec = load_spec(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    regressed = False
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_once(sides[side], w, args.seed0 + i,
                                           spec["run_seconds"]))
        print(f"{w}: {args.pairs} pairs")
        for m in spec["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[s]] for s in runs}
            v = pair_verdict(vals["parent"], vals["change"], m["better"], m["bound"])
            regressed |= v["verdict"] == "regression"
            print(f"  {m['name']:<20} parent {v['parent_median']:.6g}"
                  f"  change {v['change_median']:.6g} {m['unit']}"
                  f"  wins {v['wins']}/{v['pairs']}  losses {v['losses']}"
                  f"  parent IQR {v['parent_iqr']:.4g}  -> {v['verdict']}")
        for s in runs:
            bad = sum(r["failed"] for r in runs[s])
            if bad:
                print(f"  {s}: {bad} failed operations")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
