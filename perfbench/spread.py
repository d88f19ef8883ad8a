#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread over two sets of runs.

    python3 perfbench/spread.py --workloads decode_stream,cdc_ingest --seeds 1-10

Runs perfbench/run.py untraced, with BENCHMARK.json's run_seconds, twice per
(workload, seed): once for set 1 and once for set 2, one right after the
other, so both sets see the same stretch of the machine's time. Prints for
every end-to-end metric and set the median, the quartiles, and the quartile
distance as a share of the median (statistics.quantiles(values, n=4)), next
to the metric's bound, and how far set 2's median moved from set 1's. Each
run's result line, with its wall time, is appended to --log as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    last = p.stdout.strip().split("\n")[-1]
    res = json.loads(last)
    res["exit"] = p.returncode
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--log", default=os.path.join(ROOT, "perfbench", "traces", "spread.jsonl"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(a.log), exist_ok=True)
    workloads = a.workloads.split(",")
    results = {}
    for seed in seeds(a.seeds):
        for w in workloads:
            for s in range(SETS):
                r = run(w, seed, bench["run_seconds"])
                r.update(set=s + 1, workload=w, seed=seed)
                with open(a.log, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                results.setdefault((w, s), []).append(r)
                print(f"set {s + 1} {w} seed {seed}: exit {r['exit']} correct {r['correct']} "
                      f"failed {r['failed']}/{r['attempted']} wall {r['wall_s']} s " +
                      " ".join(f"{k}={v['value']:.6g}" for k, v in sorted(r["metrics"].items())),
                      flush=True)
    print()
    print("| workload | metric | bound | set | median [q1, q3] | spread | set 2 vs set 1 | failed share |")
    print("|---|---|---|---|---|---|---|---|")
    for w in workloads:
        for m in sorted(bounds):
            first = None
            for s in range(SETS):
                rs = results[(w, s)]
                med, q1, q3, spread = summary([r["metrics"][m]["value"] for r in rs])
                moved = "" if first is None else f"{(med - first) / first:+.3f}"
                first = med if first is None else first
                shares = sorted({r["failed"] / r["attempted"] for r in rs})
                print(f"| `{w}` | `{m}` | {bounds[m]} | {s + 1} | {med:.4g} [{q1:.4g}, {q3:.4g}] | "
                      f"{spread:.3f} | {moved} | {' '.join(f'{x:.6g}' for x in shares)} |")


if __name__ == "__main__":
    main()
