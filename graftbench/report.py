#!/usr/bin/env python3
"""Traced-run tooling. Reads the results and span dumps that run.py keeps in
.bench_build/results/ and prints, per workload:

  * the self time of each span kind, as the traced result gives it (`self_s.*`, median
    per op), with its share of the traced op median and the layer it stands for;
  * the tracing overhead: traced against untraced op_p50_s and queries_per_s, over the
    seeds that have both runs.

The span dump (<workload>-s<seed>-t1.spans.jsonl) is the raw record behind these figures.

    python3 graftbench/run.py --workload keyed_fold --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --workload keyed_fold --seed 1 --seconds 10 --trace 1
    python3 graftbench/report.py
"""
import glob
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".bench_build", "results")

# span kind -> what its self time measures
LAYER = {
    "op": "benchmark client loop",
    "build": "driver: graft DataFrame builders + Catalyst, eager jobs excluded",
    "execute": "driver: planning and result handling outside jobs",
    "job": "scheduler: job time not covered by a stage",
    "stage": "executors: state, kernels, dedup operators, cache",
}


def main():
    by = defaultdict(dict)
    for p in sorted(glob.glob(os.path.join(RESULTS, "*-t[01].json"))):
        w, seed, trace = os.path.basename(p)[:-5].rsplit("-", 2)
        with open(p) as fh:
            by[w][(seed, trace)] = json.load(fh)
    if not by:
        print(f"no results under {RESULTS}; run run.py first")
        return
    for w, runs in sorted(by.items()):
        print(f"== {w}")
        for (seed, trace), r in sorted(runs.items()):
            if trace != "t1":
                continue
            layers = r["layers"]
            p50 = layers["traced_op_p50_s"]
            print(f"  self time per op, median over {r['attempted']} timed ops ({seed}), "
                  f"traced op median {p50:.3f} s (medians need not add up):")
            for name, what in LAYER.items():
                v = layers.get(f"self_s.{name}", 0.0)
                print(f"    {name:8s} {v:9.4f} s  {v / p50:6.1%}  {what}")
        pairs = [(runs[(s, "t0")]["e2e"], runs[(s, "t1")]["e2e"]) for (s, t) in runs
                 if t == "t0" and (s, "t1") in runs]
        if pairs:
            p50 = statistics.median(b["op_p50_s"] / a["op_p50_s"] - 1 for a, b in pairs)
            qps = statistics.median(1 - b["queries_per_s"] / a["queries_per_s"] for a, b in pairs)
            print(f"  tracing overhead over {len(pairs)} seed(s): op_p50_s {p50:+.1%}, queries_per_s {-qps:+.1%}")
        else:
            print("  tracing overhead: needs a traced and an untraced run of the same seed")


if __name__ == "__main__":
    main()
