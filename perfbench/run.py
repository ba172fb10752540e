#!/usr/bin/env python3
"""Run one benchmark workload (see perfbench/README.md).

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the program and the
benchmark from source into .bench_build/ (see build.py); every run then
starts one JVM that sets the workload up, measures it and prints the result
JSON as the last line of stdout. Diagnostics go to stderr.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, HERE)
import build  # noqa: E402

# The JVM is killed if one run outlasts this (the build is not counted).
RUN_TIMEOUT_S = 170


def main(argv):
    out = build.build(ROOT, os.path.join(ROOT, ".bench_build"))
    rundir = os.path.join(out, "run")
    os.makedirs(rundir, exist_ok=True)
    proc = subprocess.Popen(build.java_command(out, argv), cwd=rundir,
                            stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0:
        sys.stderr.write(stdout)
        return proc.returncode or 1
    if "--self-test" in argv:
        return 0
    if not lines:
        print("perfbench: no result line", file=sys.stderr)
        return 4
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    json.loads(lines[-1])
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
