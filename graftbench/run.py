#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload keyed_fold --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (graftbench/build.py), generates the
workload's inputs from --seed, runs the workload in one JVM on local[N] for --seconds
of timed closed-loop ops, checks the outputs and prints one JSON object as the last
line of standard output: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Lines before it give the run record and every metric by name and unit.
Run files land in .bench_build/runs/<workload>-s<seed>-t<trace>-<pid>/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("keyed_fold", "keyed_stream", "dedup_corpus", "query_mix")
DEADLINE_S = 170
# N in local[N]: half the cores, at most 4. On a shared host the hypervisor steals up to
# a whole CPU from this machine, and the client thread, the JIT and the GC need the rest.
CORES = max(1, min(4, (os.cpu_count() or 2) // 2))
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            # the JVM's own children, if any, go with it
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    classes, digest = build.ensure_built()
    deadline = time.time() + DEADLINE_S  # the first run in a checkout also compiles

    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir, "--cores", str(CORES)]
    gen_s = 0.0
    table_info = {}
    if a.workload == "query_mix":
        import tables
        tables_dir = os.path.join(run_dir, "tables")
        times = []
        for _ in range(3):  # set-up runs the generation three times; its median counts
            t0 = time.time()
            table_info = tables.generate(tables_dir, a.seed)
            times.append(time.time() - t0)
        gen_s = statistics.median(times)
        args += ["--tables", tables_dir]

    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_jars(), "graftbench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    rc = run_jvm(cmd, log_path, deadline)
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-8000:])
        sys.stderr.write(f"\nworkload JVM {'timed out' if rc is None else f'exited with {rc}'}\n")
        sys.exit(1)
    with open(result_path) as fh:
        res = json.load(fh)
    # keep the result (and the span dump of a traced run) for report.py
    keep_dir = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(keep_dir, exist_ok=True)
    stem = os.path.join(keep_dir, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.copy(result_path, stem + ".json")
    if a.trace:
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), stem + ".spans.jsonl")

    e2e = res["e2e"]
    e2e["setup_s"] += gen_s
    ops = [o for o in res["ops"] if not o["warmup"]]
    failed_kinds = set()
    if a.workload == "query_mix":
        import oracle
        for name, ok, detail in oracle.check(run_dir, os.path.join(run_dir, "tables")):
            res["checks"].append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
            if not ok:
                failed_kinds.add(name)
        res["inputs"].update(table_info)
    failed = sum(1 for o in ops if o["error"] or o["check"] or o["kind"] in failed_kinds)
    attempted = len(ops)
    e2e["failed_frac"] = failed / attempted if attempted else 1.0

    record = dict(res["record"], git_commit=git_commit(), source_digest=digest,
                  workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  run_wall_s=round(time.time() - start, 3))
    print("record " + json.dumps(record))
    print("inputs " + json.dumps(res["inputs"]))
    for c in res["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    print(f"op_tail_s is p{e2e['op_tail_pct']:g} of {e2e['op_samples']} ops; {e2e['passes']} passes "
          f"in {e2e['timed_wall_s']:.3f} s timed, {e2e['steal_s']:.2f} s CPU stolen by other guests; "
          f"failed_frac {e2e['failed_frac']:g}; retained_cache_mb {e2e['retained_cache_mb']!r} MB")

    if a.trace:
        layers = res["layers"]
        # 0 marks a layer the workload does not exercise
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in bench["end_to_end"]}
    for name, v in metrics.items():
        print(f"metric {name} = {v['value']!r} {v['unit']}")
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
