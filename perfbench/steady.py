#!/usr/bin/env python3
"""Steadiness self-check: runs one workload K times and prints, for every
metric, the median, the quartiles and the spread (q3 - q1) / median.

    python3 perfbench/steady.py --workload NAME [--runs 5] [--seed0 1]
        [--same-seed] [--trace 0|1]

Run i uses seed seed0 + i (or seed0 every time with --same-seed), for
BENCHMARK.json's run_seconds. The tool flags an end-to-end metric whose
spread is wider than its bound in
BENCHMARK.json ("WIDE"; "ok*" when it is within the bound but above a
third of it), and a count metric (unit "count") that does not repeat
exactly across the runs ("NOT EXACT"). Exits 1 when anything is flagged or
a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    defs = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    values, bad = {}, False
    for i in range(a.runs):
        seed = a.seed0 if a.same_seed else a.seed0 + i
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", a.trace],
                           cwd=ROOT, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(last)
        except ValueError:
            res = None
        if p.returncode != 0 or not res or not res["correct"]:
            print(f"run {i} seed {seed}: FAILED rc={p.returncode} "
                  f"{last[:300] or p.stderr[-300:]}")
            bad = True
            continue
        print(f"run {i} seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, xs in values.items():
        m = defs[k]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        flag = ""
        if "bound" in m:
            flag = "WIDE" if spread > m["bound"] else ("ok*" if spread > m["bound"] / 3 else "ok")
            bad |= flag == "WIDE"
        elif m["unit"] == "count" and len(set(xs)) > 1:
            flag = "NOT EXACT"
            bad = True
        print(f"{k:34s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.4f} "
              f"{m.get('bound', ''):>6} {flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
