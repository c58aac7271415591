#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with another seed, and
prints each end-to-end metric's median, quartiles and spread (quartile
distance over median) next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload catalog_cycles --runs 10 [--first-seed 1]
        [--jsonl results.jsonl]

Run from the root of a checkout. Exits 1 if a run fails, is not correct, or a
spread (other than setup_s) exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--jsonl", help="append every run's result line to this file")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, shares, ok = {}, set(), True
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed ({r.returncode})")
            ok = False
            continue
        res = json.loads(lines[-1])
        if a.jsonl:
            with open(a.jsonl, "a") as f:
                f.write(json.dumps(dict(res, workload=a.workload, seed=seed, wall_s=wall)) + "\n")
        ok &= res["correct"]
        shares.add((res["failed"], res["attempted"]) if res["failed"] else 0)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {len(values.get('setup_s', []))} runs, failed shares {shares}")
    print(f"{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        flag = "" if b is None or k == "setup_s" or spread <= b else "  OVER"
        ok &= not flag
        print(f"{k:<18}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{b or 0:>8.2f}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
