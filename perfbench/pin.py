#!/usr/bin/env python3
"""Re-pins the closed-loop workloads' output digests, verified by DuckDB.

    python3 perfbench/pin.py

Run from the repository root of a full checkout. For each scale factor the
benchmark uses (0.1 for measured runs, 0.001 for the self-test) it
generates the inputs, runs every analytics and curation_loops step once in
the harness's dump mode, checks each output against its graft oracle SQL
on DuckDB 1.0.0 with tools/oracle_check.py, and only if all of them match
writes perfbench/digests/sf<sf>.tsv. Not part of a benchmark run.
"""
import os
import shutil
import subprocess
import sys

import run

ORACLE = os.path.join(run.ROOT, "tools", "oracle_check.py")


def main():
    classpath = run.build()
    for sf in (0.1, 0.001):
        work = os.path.join(run.WORK, f"pin-sf{sf}")
        shutil.rmtree(work, ignore_errors=True)
        data = os.path.join(work, "data")
        run.gen.write_tables(data, sf)
        lines = []
        for workload in ("analytics", "curation_loops"):
            dump = os.path.join(work, workload)
            os.makedirs(dump)
            run.jvm(classpath, work, ["--workload", workload, "--data", data, "--dump", dump], "3g")
            check = subprocess.run([sys.executable, ORACLE, data, dump], capture_output=True, text=True)
            print(check.stdout, end="")
            if check.returncode != 0:
                run.die(f"sf{sf} {workload}: outputs disagree with the DuckDB oracle", 1)
            with open(os.path.join(dump, "digests.tsv")) as f:
                lines += f.read().splitlines()
        out = os.path.join(run.HERE, "digests", f"sf{sf}.tsv")
        with open(out, "w") as f:
            f.write(f"# gate<TAB>rows:sha256 at sf{sf}; written by perfbench/pin.py\n")
            f.write("\n".join(lines) + "\n")
        print(f"pinned {len(lines)} digests in {out}")


if __name__ == "__main__":
    main()
