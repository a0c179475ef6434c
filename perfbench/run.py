#!/usr/bin/env python3
"""Benchmark of the shipped ExtractJob path (see perfbench/README.md).

    python3 perfbench/run.py --workload extract_pdf --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the benchmark from
source with the Scala compiler shipped in Spark's jars, generates the
workload's inputs from --seed, measures, checks the outputs, and prints
one JSON object as the last line of standard output.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")


def spark_home():
    """$SPARK_HOME, else the Spark install whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")
RUN_TIMEOUT_S = 175  # JVM time per invocation, the build excluded
# Workloads run by hand only, not listed in BENCHMARK.json: a campaign
# repeats every listed workload 22 times within a fixed time budget, and a
# run of either would not fit beside extract_pdf and extract_html.
# extract_lm reports the BENCHMARK.json metrics; corpus_ops reports
# end-to-end metrics of its own (ops_wall_s, ops_ok_share, setup_s).
OPS_WORKLOAD = "corpus_ops"
HAND_WORKLOADS = ["extract_lm", OPS_WORKLOAD]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpu_ticks():
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_bounded(cmd, log_path, timeout):
    """Run cmd with output to log_path; kill and reap it on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die("no library sources under src/main/scala: run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main + bench


def build():
    """Compile library + benchmark once per source state; returns the class
    directory and the hash of the sources it was built from."""
    srcs = sources()
    res = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True))
    h = hashlib.sha256()
    for p in srcs + [r for r in res if os.path.isfile(r)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_HOME)")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    log = os.path.join(BUILD, "build.log")
    if run_bounded(cmd, log, 600) != 0:
        die("build failed:\n" + tail(log))
    res_root = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res_root):
        shutil.copytree(res_root, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def corpus_cache(stamp):
    """Corpus cache of this source state. Corpora are written by program
    code (the fixture generators, SpanCodec, ExtractJob.bucketizeInput),
    so caches of other source states are deleted, never read."""
    root = os.path.join(WORK, "corpus")
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):
        if d != stamp[:16]:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return os.path.join(root, stamp[:16])


def jvm(classes, corpora, args, tag, deadline):
    """Run perfbench.Main in its own JVM, killed at `deadline` (a
    time.monotonic() value); returns its JSON result."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    out = os.path.join(WORK, f"result-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "perfbench.Main", "--work", WORK, "--corpora", corpora, "--out", out] + args)
    log = os.path.join(WORK, "logs", f"{tag}.log")
    rc = run_bounded(cmd, log, max(1.0, deadline - time.monotonic()))
    if rc != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (exit {rc}):\n" + tail(log))
    with open(out) as f:
        return json.load(f)


def frame_digest(df):
    """Order-free digest of a result frame: columns by name, floats to 6
    places, rows sorted (the oracle gate's comparison)."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    body = df.to_csv(index=False, float_format="%.6f").encode()
    return list(df.columns), len(df), hashlib.md5(body).hexdigest()


def check_ops(corpora, seed):
    """corpus_ops: every pass's result of every query must equal its DuckDB
    oracle over the same documents table. Returns (failed, problems)."""
    import duckdb
    ops = os.path.join(WORK, "ops")
    docs = glob.glob(os.path.join(corpora, f"corpus_ops-s{seed}-n*", "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs[0]}/*.parquet')")
    with open(os.path.join(ops, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failed, problems = 0, []
    for q, sql in sorted(oracles.items()):
        want = frame_digest(con.execute(sql).df())
        for out in sorted(glob.glob(os.path.join(ops, "pass*", q))):
            got = frame_digest(duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{out}/*.parquet')").df())
            if got != want:
                failed += 1
                problems.append(f"{os.path.basename(os.path.dirname(out))} {q}: "
                                f"{got[:2]} != oracle {want[:2]} or values differ")
    return failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="plant an output corruption (self-test: must be reported)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    ops = a.workload == OPS_WORKLOAD
    if a.workload not in [w["name"] for w in spec["workloads"]] + HAND_WORKLOADS:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes, stamp = build()
    corpora = corpus_cache(stamp)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + (["--corrupt"] if a.corrupt else [])
    ticks0 = cpu_ticks()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    res = jvm(classes, corpora, args, tag, deadline)
    if not ops and res["metrics"]["setup.cold_s"]["value"] is None:
        # that JVM only generated the fixed set-up corpus: measure in a cold one
        res = jvm(classes, corpora, args, tag, deadline)
    got = dict(res["metrics"])
    attempted, failed, problems = res["attempted"], res["failed"], res["problems"]
    if ops:
        f, p = check_ops(corpora, a.seed)
        failed += f
        problems += p
        e2e = [("ops_wall_s", "s"), ("ops_ok_share", "ratio"), ("setup_s", "s")]
        names = [n for n, _ in e2e]
        wanted = ([{"name": n, "unit": u} for n, u in e2e] if not a.trace else
                  [{"name": k, "unit": v["unit"]} for k, v in got.items() if k not in names])
    elif not a.trace:
        got["setup_s"] = got.pop("setup.cold_s")

    got["ops_ok_share" if ops else "docs_ok_share"] = {
        "value": 1.0 - failed / attempted, "unit": "ratio", "samples": attempted}

    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            die(f"metric {m['name']} was not measured")
        if v["unit"] != m["unit"]:
            die(f"metric {m['name']} measured in {v['unit']}, declared {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        print(f"{m['name']:<26} {v['value']:>14.6g} {m['unit']:<6} (n={v['samples']})")
    ticks1 = cpu_ticks()
    if ticks1[0] > ticks0[0]:
        # CPU time the hypervisor gave to other tenants: wall-time metrics
        # of a run with a large share are slower for that reason alone
        print(f"host steal share during the run: {(ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0]):.4f}")
    for p in problems[:20]:
        print(f"check failed: {p}")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
