#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each named workload and prints,
per metric, the median and the quartile spread (Q3 - Q1) / median
next to the bound BENCHMARK.json gives it. Used to size a run so
that every spread stays well inside its bound.

    python3 perfbench/spread.py --seeds 1-10 mart_sql cdc_ingest corpus_clean
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads:
        values = {}
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", flush=True)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"{w} {k}: median={med:.4g} spread={(q3 - q1) / med:.3f} "
                  f"bound={bounds.get(k)} n={len(xs)}", flush=True)


if __name__ == "__main__":
    main()
