#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarizes each metric.

    python3 perfbench/record.py --out runs.jsonl --seeds 1-10 [--trace 1]
        [--workloads analytics,reactive_ingest,curation_loops]

Run from the repository root. Appends one JSON line per run to --out
(seed, exit code, wall time, the printed metrics and the run's context)
and prints, per workload and metric, the median and the spread: the
distance between the first and third quartile as a share of the median.
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


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", default="0")
    ap.add_argument("--workloads", default="analytics,reactive_ingest,curation_loops")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {}
    with open(a.out, "a") as out:
        for w in a.workloads.split(","):
            for seed in a.seeds:
                t = time.time()
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                    "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                rec = {"workload": w, "seed": seed, "trace": int(a.trace), "rc": p.returncode,
                       "wall_s": round(time.time() - t, 1)}
                if len(lines) >= 2:
                    rec["result"], rec["context"] = json.loads(lines[-1]), json.loads(lines[-2])
                    for k, v in rec["result"]["metrics"].items():
                        values.setdefault((w, k), []).append(v["value"])
                else:
                    rec["stderr"] = p.stderr[-3000:]
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"{w} seed={seed} rc={p.returncode} wall={rec['wall_s']}s", flush=True)
    for (w, k), xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q = statistics.quantiles(xs, n=4)
            print(f"{w:16s} {k:40s} n={len(xs):2d} median={med:.6g} spread={(q[2] - q[0]) / med:.3f}")


if __name__ == "__main__":
    main()
