#!/usr/bin/env python3
"""Run one workload repeatedly and print, for each metric, its median,
quartiles and spread (quartile distance over the median) across runs.

    python3 perfbench/repeat.py --workload scd_daily --runs 10 [--first-seed 1]
                                [--seconds N] [--trace 0|1]

Seeds are first-seed, first-seed + 1, ...; the run length defaults to
BENCHMARK.json's. Also prints each run's attempted and failed counts,
and exits non-zero if a run fails or reports incorrect outputs. The
bounds in BENCHMARK.json were set from this script's spreads. With
`--trace 1` the table also holds the traced runs' end-to-end figures
(which such runs log, prefixed `traced.`), for comparison with untraced
runs: the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seconds = a.seconds or json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]

    values, ok = {}, True
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True)
        if p.returncode != 0:
            print(f"seed {seed}: run failed (exit {p.returncode})")
            ok = False
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        ok &= r["correct"]
        print(f"seed {seed}: {time.time() - t0:.0f} s, correct={r['correct']} "
              f"attempted={r['attempted']} "
              f"failed={r['failed']} " +
              " ".join(f"{k}={m['value']:.6g}" for k, m in r["metrics"].items()), flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        for line in p.stderr.splitlines():
            if line.startswith("end_to_end: "):
                for k, m in json.loads(line[len("end_to_end: "):]).items():
                    values.setdefault("traced." + k, []).append(m["value"])

    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for k, vs in values.items():
        vs = [v for v in vs if v is not None]
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
