#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload <analytics|reactive_ingest|curation_loops>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the harness and graft
from source with sbt (offline) into perfbench/.build; later runs reuse the
build while the sources are unchanged. Each run generates its inputs,
starts one JVM with one local[nproc] Spark session, and prints, as the
last line of stdout, one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named
in BENCHMARK.json. A line before it carries the run's context: session
config, calibration loop, CPU steal ticks, failures. Any failed output
check makes the command exit non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("analytics", "reactive_ingest", "curation_loops")
JVM_TIMEOUT_S = 165
INGEST_SLICES = 20
# Metric-name prefixes of the layers a workload never calls.
INGEST_LAYERS = ("sources.", "streaming.", "gen.", "freshness_s.", "commit_s.", "read_s.",
                 "space_amp")
NOT_EXERCISED = {"analytics": INGEST_LAYERS, "curation_loops": INGEST_LAYERS,
                 "reactive_ingest": ("operators.",)}
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/ (run from a full checkout)")
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                             "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log}:\n" + "\n".join(lines[-30:]), 1)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def steal_ticks():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def calibrate():
    """A fixed integer loop; its time says how fast this box ran today."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return round((time.perf_counter() - t) * 1000, 3)


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def jvm(classpath, work, args, heap):
    """Runs the harness JVM in `work` (its scratch and temp directory) and
    waits for it; exits non-zero with the log tail if it fails.
    """
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
            "--work", work, "--cores", str(os.cpu_count() or 1)] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read().splitlines()[-40:]
        die(f"harness exited {rc}:\n" + "\n".join(tail), 1)


def run_once(a, classpath):
    """One measured run; returns (result line dict, context dict)."""
    e2e_spec, layer_spec = metric_spec()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    t_gen = time.time()
    data = os.path.join(work, f"sf{a.sf}")
    warm = os.path.join(work, "warm")
    gen.write_tables(data, a.sf)
    gen.write_tables(warm, 0.001)
    if a.workload == "reactive_ingest":
        gen.write_slices(os.path.join(data, "events.parquet"), os.path.join(work, "slices"),
                         a.seed, INGEST_SLICES)
    gen_s = time.time() - t_gen
    digests = os.path.join(HERE, "digests", f"sf{a.sf}.tsv")
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--warm", warm, "--out", out,
            "--digests", digests]
    if a.workload == "reactive_ingest":
        args += ["--slices", os.path.join(work, "slices")]
    if a.passes:
        args += ["--passes", str(a.passes)]
    if a.corrupt:
        args += ["--corrupt", a.corrupt]
    context = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "sf": a.sf,
               "gen_s": round(gen_s, 3),
               "calibration_ms_before": calibrate(), "steal_ticks_before": steal_ticks()}
    jvm(classpath, work, args, "2g" if a.sf < 0.05 else "3g")
    context["steal_ticks_after"] = steal_ticks()
    context["calibration_ms_after"] = calibrate()
    if not os.path.exists(out):
        die("harness wrote no result", 1)
    with open(out) as f:
        res = json.load(f)
    context.update(res["context"])
    context["failures"] = res["failures"]
    values = dict(res["e2e"])
    values.update(res["layer"])
    if a.trace:
        # Layers this workload never calls read zero: it is their control.
        for m in layer_spec:
            if m["name"].startswith(NOT_EXERCISED[a.workload]):
                values.setdefault(m["name"], 0.0)
    attempted, failed = max(res["attempted"], 1), res["failed"]
    values["failed_ratio"] = failed / attempted
    spec = layer_spec if a.trace else e2e_spec
    metrics, missing = {}, []
    for m in spec:
        v = values.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    context["all_values"] = values
    if missing:
        context["failures"].append(f"metrics not emitted: {missing}")
        failed += 1
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return line, context


def selftest():
    """sf0.001, one traced pass per workload: every named metric is emitted
    with its unit, self times add up to step wall time, and a corrupted
    digest or invariant fails the command.
    """
    e2e_spec, layer_spec = metric_spec()
    me = [sys.executable, os.path.abspath(__file__), "--sf", "0.001", "--seconds", "1",
          "--passes", "1", "--seed", "1"]
    problems = []
    for w in WORKLOADS:
        for trace in ("0", "1"):
            p = subprocess.run(me + ["--workload", w, "--trace", trace],
                               capture_output=True, text=True, cwd=ROOT)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"{w} trace={trace}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            line, ctx = json.loads(lines[-1]), json.loads(lines[-2])
            spec = layer_spec if trace == "1" else e2e_spec
            for m in spec:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w}: metric {m['name']} missing or wrong unit: {got}")
            if not line["correct"]:
                problems.append(f"{w}: outputs failed: {ctx.get('failures')}")
            if trace == "1":
                residual = int(ctx.get("trace_self_residual_ns", "-1"))
                if not 0 <= residual <= 1_000_000:
                    problems.append(f"{w}: self times miss step wall time by {residual} ns")
                if int(ctx.get("trace_spans", "0")) == 0:
                    problems.append(f"{w}: no spans recorded")
    for w, corrupt in (("analytics", "q1_pricing_summary"), ("reactive_ingest", "snapshot")):
        p = subprocess.run(me + ["--workload", w, "--trace", "0", "--corrupt", corrupt],
                           capture_output=True, text=True, cwd=ROOT)
        if p.returncode == 0:
            problems.append(f"{w}: corrupted {corrupt} check did not fail the command")
    for p in problems:
        print("SELFTEST FAIL:", p, file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "pass", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    # Self-test and development knobs.
    ap.add_argument("--sf", type=float, default=0.1, help="input scale factor")
    ap.add_argument("--passes", type=int, default=0, help="cap on timed passes")
    ap.add_argument("--corrupt", default="", help="a check to corrupt (self-test)")
    a = ap.parse_args()
    if a.sf == int(a.sf):
        a.sf = int(a.sf)
    classpath = build()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        die("--workload is required")
    line, context = run_once(a, classpath)
    print(json.dumps(context, sort_keys=True))
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
