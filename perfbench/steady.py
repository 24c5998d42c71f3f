#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same commit.

    python3 perfbench/steady.py [--workloads relational,neardup] [--runs 10]

Runs the command from ``BENCHMARK.json`` ``--runs`` times per set and
workload, each run with its own seed (set A seeds 1..runs, set B
runs+1..2*runs), and prints for every end-to-end metric:

- each set's median and quartiles (``statistics.quantiles(n=4)``);
- each set's spread, (Q3 - Q1) / median, against the metric's bound;
- the change of set B's median over set A's, in either direction, against
  the bound;
- whether every run reported ``correct`` and no failed operation.

Exit code 0 when every rule holds. The full table also goes to
``.perfbench_out/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    return out


def summarize(runs: list[dict], bench: dict) -> dict:
    s = {"failed": sum(r["failed"] for r in runs),
         "all_correct": all(r["correct"] for r in runs),
         "wall_s": statistics.median(r["wall_s"] for r in runs)}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        s[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med, "values": vals}
    return s


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    args = p.parse_args(argv)

    ok, report = True, {}
    for w in args.workloads.split(","):
        sets = [summarize([one_run(bench, w, seed) for seed in seeds], bench)
                for seeds in (range(1, args.runs + 1), range(args.runs + 1, 2 * args.runs + 1))]
        report[w] = sets
        a, b = sets
        for name, x in (("A", a), ("B", b)):
            if x["failed"] or not x["all_correct"]:
                ok = False
                print(f"{w} set {name}: {x['failed']} failed operations, "
                      f"all correct: {x['all_correct']}")
        print(f"{w}  (median run wall {a['wall_s']:.1f}s / {b['wall_s']:.1f}s)")
        for m in bench["end_to_end"]:
            n, bound = m["name"], m["bound"]
            sa, sb = a[n], b[n]
            drift = (sb["median"] - sa["median"]) / sa["median"]
            rule_ok = max(sa["spread"], sb["spread"]) <= bound and abs(drift) <= bound
            ok &= rule_ok
            print(f"  {n:12s} A {sa['median']:10.4g} [{sa['q1']:.4g}, {sa['q3']:.4g}] "
                  f"spread {sa['spread']:6.1%}   B {sb['median']:10.4g} [{sb['q1']:.4g}, "
                  f"{sb['q3']:.4g}] spread {sb['spread']:6.1%}   B vs A {drift:+6.1%} "
                  f"bound {bound:.0%}  {'ok' if rule_ok else 'FAIL'}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
