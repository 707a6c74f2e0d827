#!/usr/bin/env python3
"""Run every workload on the default and the held-out seed (workloads.json)
and print each run's metrics, then one summary row per run.

Usage: python3 perfbench/all.py [--seconds S] [--trace 0|1]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        seeds = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    rows = []
    for w in (w["name"] for w in spec["workloads"]):
        for seed in (seeds["seed"], seeds["heldout_seed"]):
            print(f"== {w} seed {seed}", flush=True)
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)], cwd=ROOT, capture_output=True,
                text=True)
            print(p.stdout, end="")
            if p.returncode != 0:
                print(p.stderr[-3000:], end="")
                rows.append((w, seed, "ERROR", {}))
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            rows.append((w, seed, f"correct={r['correct']} "
                         f"failed={r['failed']}/{r['attempted']}",
                         r["metrics"]))
    print("\n== summary")
    for w, seed, status, m in rows:
        shown = "  ".join(f"{k}={v['value']:.4g} {v['unit']}"
                          for k, v in m.items() if a.trace == 0)
        print(f"{w:<16} seed {seed:<5} {status}  {shown}")
    sys.exit(0 if all(s.startswith("correct=True failed=0") for _, _, s, _
                      in rows) else 1)


if __name__ == "__main__":
    main()
