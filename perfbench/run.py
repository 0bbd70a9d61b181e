#!/usr/bin/env python3
"""Benchmark of the analytics pack and the graph-database statement path.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine plus the benchmark
(sbt, only when a source changed), writes the seeded inputs, runs one JVM
and prints one JSON line: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
ones with --trace 1). The traced run also writes `trace.jsonl` into its
work directory, perfbench/out/<workload>-s<seed>-t1/.

    python3 perfbench/run.py --report noop-count --data DIR --out FILE

writes the noop-drain vs `.count()` table for all pack queries on DIR.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

# workload -> (JVM workload, TPC-H scale factor of its inputs or None)
WORKLOADS = {
    "pack-sf0.001": ("pack", 0.001),
    "db-mixed-small": ("db-mixed-small", None),
}
JVM_TIMEOUT_S = 170


T0 = time.time()


def log(msg):
    print(f"perfbench: {time.time() - T0:6.1f}s {msg}", file=sys.stderr)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    pats = ["perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala", "src/main/**/*"]
    files = sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                   if os.path.isfile(f))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark install whose jars the engine compiles and runs against:
    $SPARK_HOME, else the install that `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found: set SPARK_HOME")
    return home


def build():
    stamp = sources()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    print("perfbench: building", file=sys.stderr)
    env = dict(os.environ, SPARK_HOME=spark_home())
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_cmd(args, work, heap):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", f"{jars}{os.pathsep}{CLASSES}", "perfbench.Main"] + args
    return cmd


def run_jvm(args, work, heap="4g", timeout=JVM_TIMEOUT_S):
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(java_cmd(args, work, heap), cwd=ROOT, stdout=log, stderr=log,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"JVM timed out; see {log.name}")
    if r.returncode != 0:
        die(f"JVM exited with {r.returncode}; see {log.name}")


def oracle_check(work, data, queries):
    """The repo's DuckDB oracle check (tools/check_oracle.py) over the
    queries the JVM dumped; (queries checked, failure lines)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data,
                        os.path.join(work, "pack_out"), ",".join(queries)],
                       capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    ok = [ln for ln in lines if ln.startswith("OK ")]
    bad = [ln for ln in lines if ln.startswith("FAIL")]
    # a query without oracle SQL is skipped by the check: count it as failed
    seen = {ln.split()[1].rstrip(":") for ln in ok + bad}
    bad += [f"FAIL {q}: not checked" for q in queries if q not in seen]
    if r.returncode != 0:
        bad.append(f"check_oracle.py exited with {r.returncode}: {r.stderr.strip()[-300:]}")
    return len(queries), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--report")
    ap.add_argument("--data")
    ap.add_argument("--out")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))
            and os.path.isfile(spec_path)):
        die("run from the root of a full checkout (engine sources not found)")
    spec = json.load(open(spec_path))
    build()
    sys.path.insert(0, HERE)
    import gen

    if a.report == "noop-count":
        work = os.path.join(HERE, "out", "report")
        os.makedirs(work, exist_ok=True)
        run_jvm(["--report", "noop-count", "--data", os.path.abspath(a.data),
                 "--out", os.path.abspath(a.out), "--work", work], work, heap="6g", timeout=3600)
        return
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")

    jvm_workload, sf = WORKLOADS[a.workload]
    work = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    if sf is not None:
        gen.tpch(data, sf, a.seed)
    if jvm_workload == "db-mixed-small":
        gen.write_stmts(os.path.join(work, "stmts.jsonl"), gen.mixed(data, a.seed, 120))

    log("inputs written")
    run_jvm(["--workload", jvm_workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work], work)
    log("JVM done")
    res = json.load(open(os.path.join(work, "result.json")))
    attempted, failed = res["attempted"], res["failed"]
    checks = res["checks"]
    if jvm_workload == "pack":
        n, bad = oracle_check(work, data, res["oracle_queries"])
        failed += len(bad)
        checks["pack.oracle"] = (f"FAILED: {bad}" if bad else "ok: ") + f"{n - len(bad)} of {n} queries DuckDB-exact"
    log("checks done")
    for k, v in checks.items():
        print(f"check {k}: {v}", file=sys.stderr)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in names:
        # a per-layer metric the workload does not exercise reads 0
        v = got.get(m["name"], {}).get("value", 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    missing = [m["name"] for m in spec["end_to_end"] if not a.trace and m["name"] not in got]
    if missing:
        die(f"metrics not measured: {missing}")
    with open(os.path.join(work, "result_all.json"), "w") as f:
        json.dump({"checks": checks, "metrics": got}, f, indent=1)
    correct = failed == 0 and not any(v.startswith("FAILED") for v in checks.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
