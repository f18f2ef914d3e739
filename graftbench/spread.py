#!/usr/bin/env python3
"""Runs the benchmark once per seed on each named workload, one run at a time, and
prints per metric the median and the distance between the first and third quartiles
as a share of the median, next to a third of the metric's bound.

    python3 graftbench/spread.py --seeds 1-10 keyed_fold query_mix
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
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in a.workloads:
        vals, bad = {}, 0
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", flush=True)
                bad += 1
                continue
            lines = r.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            bad += 0 if out["correct"] else 1
            for k, v in out["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            steal = next((x.split(" timed, ")[1].split(" s CPU")[0] for x in lines if " CPU stolen" in x), "?")
            print(f"{w} seed {s}: correct={out['correct']} steal_s={steal} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
        for k, xs in vals.items():
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
            share = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else (" ok" if share < b / 3 else " WIDE")
            print(f"{w} {k}: median {med:.5g} iqr/median {share:.4f}" +
                  ("" if b is None else f" (bound/3 {b / 3:.4f}){flag}"), flush=True)
        print(f"{w}: {bad} incorrect or failed runs", flush=True)


if __name__ == "__main__":
    main()
