"""Steadiness check: repeat each workload over several seeds and report
the median, quartiles and spread of every metric against its bound.

Run from the root of a checkout:

    python3 perfbench/steady.py                      # every workload, 10 seeds
    python3 perfbench/steady.py --workload relational --runs 5 --seed0 100
    python3 perfbench/steady.py --trace 1 --runs 3   # per-layer metrics

A metric is steady when its spread (inter-quartile distance over the
median) is below a third of its bound; ``setup_s`` is reported but only
its median is bounded.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import quartiles, spread  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    """One benchmark run with ``root`` as the checkout; its result line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{workload} seed {seed} in {root} exited {proc.returncode}:\n"
            f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append", help="default: all")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    spec = load_spec(root)
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    steady = True
    for w in workloads:
        results = [run_once(root, w, args.seed0 + i, spec["run_seconds"], args.trace)
                   for i in range(args.runs)]
        failed = sum(r["failed"] for r in results)
        print(f"{w}: {args.runs} runs, {failed} failed operations,"
              f" all correct: {all(r['correct'] for r in results)}")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = quartiles(vals)
            sp = spread(vals)
            line = (f"  {m['name']:<40} median {med:.6g} {m['unit']}"
                    f"  q1 {q1:.6g}  q3 {q3:.6g}  spread {sp:.3f}")
            if "bound" in m and m["name"] != "setup_s":
                ok = sp < m["bound"] / 3
                steady &= ok
                line += f"  bound {m['bound']}  {'steady' if ok else 'NOT STEADY'}"
            print(line)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
