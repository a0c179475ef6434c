#!/usr/bin/env python3
"""Self-test of the benchmark harness. Run from the repository root:

    python3 perfbench/selftest.py

Checks, at the workloads' full size with a one-second timed window:
  1. untraced and traced runs print every declared metric by name with its
     unit, and end with the result object carrying exactly those metrics;
  2. a planted output corruption is reported: correct=false, failed>0;
  3. in a directory holding only BENCHMARK.json and perfbench/, the
     benchmark exits non-zero without printing a result.
"""
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, RUN] + args, cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(lines):
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    short = ["--seconds", "1"]

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        rc, lines, err = run(["--workload", "extract_pdf", "--seed", "11", "--trace", str(trace)] + short)
        res = result(lines)
        if rc != 0 or res is None:
            failures.append(f"trace {trace}: exit {rc}\n{err[-2000:]}")
            continue
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            failures.append(f"trace {trace}: result keys {sorted(res)}")
        if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
            failures.append(f"trace {trace}: clean run reported correct={res['correct']} "
                            f"failed={res['failed']} attempted={res['attempted']}")
        declared = [(m["name"], m["unit"]) for m in spec[key]]
        got = [(k, v["unit"]) for k, v in res["metrics"].items()]
        if got != declared:
            failures.append(f"trace {trace}: metrics {got} != declared {declared}")
        for name, unit in declared:
            v = res["metrics"].get(name, {}).get("value")
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                failures.append(f"trace {trace}: {name} has no numeric value")
            if not any(l.split()[:1] == [name] and unit in l.split() for l in lines[:-1]):
                failures.append(f"trace {trace}: no printed line for {name} [{unit}]")

    rc, lines, err = run(["--workload", "extract_html", "--seed", "11", "--trace", "0",
                          "--corrupt"] + short)
    res = result(lines)
    if rc != 0 or res is None:
        failures.append(f"corrupt: exit {rc}\n{err[-2000:]}")
    elif res["correct"] or res["failed"] == 0:
        failures.append(f"corrupt: planted corruption not reported: {res}")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.dirname(RUN), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "extract_pdf",
                        "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                       capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or result(p.stdout.strip().splitlines()) is not None:
        failures.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-500:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL:", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
