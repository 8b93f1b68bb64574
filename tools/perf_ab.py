#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload over two checkouts.

    python3 tools/perf_ab.py --base <checkout> --change <checkout>
        --workload reactive_ingest --seeds 21,22,23 [--trace 0|1]
        [--out pairs.jsonl]

For each seed it runs `python3 perfbench/run.py` once in each checkout,
one run at a time (two graft JVMs on one box compete for its cores). The
side that runs first alternates from pair to pair (base first in the
first pair, change first in the second, ...), so a drift of the box over
the session falls on both sides alike. Each checkout builds and runs its
own perfbench/ from its own sources, at the benchmark's own run length;
this script only reads their output.

For every end-to-end metric that BENCHMARK.json declares (the change's
copy), it prints one line per pair (seed, base value, change value,
change/base), then the medians, each side's interquartile range over its
median, the number of pairs the change won (lower is better for every
perfbench metric) and the metric's bound against the median ratio, so one
A/B covers the whole no-regression check. A run whose outputs failed their
checks is reported, counted, and left out of its pair. With --out, every
run's result line is appended there as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, a, seed):
    """One perfbench run in `checkout`; returns (metrics, correct)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", a.workload,
           "--seed", str(seed), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"perf_ab: no result from {checkout} (exit {p.returncode}):\n{p.stderr[-2000:]}")
    line = json.loads(lines[-1])
    return line, p.returncode == 0 and line.get("correct", False)


def iqr_over_median(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds, one pair each")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run's result line here (JSON lines)")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]
    pairs = {m["name"]: [] for m in metrics}
    failed = {"base": 0, "change": 0}
    for i, seed in enumerate(seeds):
        vals = {}
        sides = (("base", a.base), ("change", a.change))
        for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
            line, ok = run(checkout, a, seed)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "ok": ok, "result": line}) + "\n")
            failed[side] += not ok
            vals[side] = {name: (m or {}).get("value") if ok else None
                          for name, m in ((n, line.get("metrics", {}).get(n)) for n in pairs)}
        for name in pairs:
            b, c = vals["base"][name], vals["change"][name]
            if b is None or c is None:
                print(f"seed {seed} {name}: base {b} change {c} (a run failed or lacks it)", flush=True)
                continue
            pairs[name].append((seed, b, c))
            print(f"seed {seed} {name}: base {b:.4f} change {c:.4f} change/base {c / b:.3f}", flush=True)
    print(f"{a.workload}: {len(seeds)} pairs, failed runs base {failed['base']} change {failed['change']}")
    for m in metrics:
        ps = pairs[m["name"]]
        if not ps:
            print(f"{m['name']}: no complete pair")
            continue
        bs, cs = [p[1] for p in ps], [p[2] for p in ps]
        ratio = statistics.median(cs) / statistics.median(bs)
        print(f"{m['name']} ({m['unit']}, bound {m['bound']}): {len(ps)} pairs")
        print(f"  median base {statistics.median(bs):.4f}  change {statistics.median(cs):.4f}"
              f"  change/base {ratio:.3f}  within bound: {ratio <= 1 + m['bound']}")
        print(f"  IQR/median base {iqr_over_median(bs):.3f}  change {iqr_over_median(cs):.3f}")
        print(f"  change lower in {sum(c < b for _, b, c in ps)} of {len(ps)} pairs")
    if not any(pairs.values()):
        sys.exit("perf_ab: no complete pair")


if __name__ == "__main__":
    main()
