"""Steadiness check: two sets of runs of the same tree.

    python3 kbbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]

Run from the repository root. Every run is a fresh ``run.py`` process
with its own working directory and its own seed (set 1 uses seeds
1..runs, set 2 seeds 101..100+runs). For every end-to-end metric of
every workload it prints, per set, the median and the spread (distance
between the first and third quartile, as a share of the median), and the
change of the median from set 1 to set 2, each against the metric's
bound in ``BENCHMARK.json``. ``setup_s`` spreads are shown but not held
to the bound. Exits 1 if a spread or a change exceeds its bound, or if
the failed share differs between the sets.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=240)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(args)}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            runs = [
                one_run(bench["command"], w, 100 * s + k + 1, bench["run_seconds"]) for k in range(args.runs)
            ]
            sets.append(runs)
            print(f"{w} set {s + 1}: " + " ".join(json.dumps(r["metrics"]) for r in runs), file=sys.stderr)
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
        print(f"\n{w}: failed share per set {shares}, correct {all(r['correct'] for rs in sets for r in rs)}")
        if len(set(shares)) > 1 or not all(r["correct"] for rs in sets for r in rs):
            ok = False
        print(f"{'metric':32} {'bound':>6} " + " ".join(f"{'median' + str(i + 1):>12} {'spread' + str(i + 1):>8}" for i in range(len(sets))) + f" {'change':>8}")
        for name, bound in bounds.items():
            vals = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            change = (meds[-1] - meds[0]) / meds[0]
            bad = change > bound or (name != "setup_s" and max(spreads) > bound)
            ok = ok and not bad
            cells = " ".join(f"{m:12.5g} {sp:8.3f}" for m, sp in zip(meds, spreads))
            print(f"{name:32} {bound:6.2f} {cells} {change:+8.3f}{'  OVER BOUND' if bad else ''}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
