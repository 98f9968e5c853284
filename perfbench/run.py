#!/usr/bin/env python3
"""Benchmark entry point: runs one workload of the engine and prints one
JSON result line.

    python3 perfbench/run.py --workload <hits|micro|rest_mixed|wal_ingest>
        --seed <n> --seconds <s> --trace <0|1> [--toy]

Run from the root of a checkout. On first use it compiles the engine's
sources together with the benchmark driver (sbt, offline) and then starts
the JVM directly. Generated inputs are cached under perfbench/.data by
(seed, size); everything else a run writes goes to a pid-suffixed
directory under perfbench/.run that is removed when the run ends. The
per-run record (every metric, sample counts, per-query medians) is kept in
perfbench/out/, and a traced run also writes its spans there.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. --toy shrinks every input for a self-test in
seconds.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
WORKLOADS = ("hits", "micro", "rest_mixed", "wal_ingest")
JVM_TIMEOUT_S = 165
HEAP = "3g"  # fixed size, so collector sizing does not vary between runs
MICRO_SF, TOY_SF = 0.01, 0.001
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the JVM classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        saved_stamp, cp = open(CLASSPATH_FILE).read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def micro_tables(sf, seed=42):
    """The registry's tables at scale `sf`, generated once and reused."""
    d = os.path.join(HERE, ".data", f"tables-sf{sf}-s{seed}")
    if not os.path.isdir(d):
        tmp = f"{d}.{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tmp, str(sf),
                        str(seed)], check=True, timeout=120)
        try:
            os.rename(tmp, d)
        except OSError:  # another run generated it first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def oracle_check(tables_dir, verify_dir):
    """Hash-match each written query result against its DuckDB oracle SQL
    over the same parquet files with the repo's checker, tools/check.py.
    Returns (checked, mismatch messages)."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                           tables_dir, verify_dir], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, encoding="utf-8", timeout=120,
                          env=dict(os.environ, PYTHONIOENCODING="utf-8"))
    lines = proc.stdout.splitlines()
    bad = [l.strip()[:300] for l in lines if l.lstrip().startswith("\u2717")]
    summary = [l for l in lines if l.startswith("PASS=")]
    if not summary:
        return 0, bad + [f"tools/check.py failed: {proc.stdout[-300:]}"]
    counts = dict(kv.split("=") for kv in summary[-1].split())
    return int(counts["PASS"]) + int(counts["FAIL"]), bad


def run_jvm(args, classpath, scratch, record):
    data = os.path.join(HERE, ".data")
    os.makedirs(data, exist_ok=True)
    kv = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
          "trace": args.trace, "toy": int(args.toy), "scratch": scratch, "data": data,
          "record": record}
    if args.workload == "micro":
        kv["data"] = micro_tables(TOY_SF if args.toy else MICRO_SF)
    ingest_rate, search_rate = args.rest_rates.split(",")
    kv.update({"ingest_rate": ingest_rate, "search_rate": search_rate,
               "wal_rate": args.wal_rate})
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={scratch}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main"] + [f"{k}={v}" for k, v in kv.items()]
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = ""
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RECORD ")]
    if not lines:
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"the {args.workload} run ended without a result (exit {proc.returncode})")
    return json.loads(lines[-1][len("PERFBENCH_RECORD "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for self-tests")
    ap.add_argument("--rest-rates", default="0.5,3",
                    help="rest_mixed ingest,search requests per second")
    ap.add_argument("--wal-rate", default="1000", help="wal_ingest records per second")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(spec_path):
        fail("run from the root of a checkout: the engine sources are missing")
    spec = json.load(open(spec_path))
    classpath = build()

    scratch = os.path.join(HERE, ".run", str(os.getpid()))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    record_path = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-t{args.trace}{'-toy' if args.toy else ''}.json")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        rec = run_jvm(args, classpath, scratch, record_path)
        correct, failed = bool(rec["correct"]), int(rec["failed"])
        if args.workload == "micro":
            checked, bad = oracle_check(
                micro_tables(TOY_SF if args.toy else MICRO_SF),
                os.path.join(scratch, "verify"))
            rec["detail"]["oracle_checked"] = checked
            rec["problems"] += bad
            failed += len(bad)
            correct = correct and not bad
        rec["failed"], rec["correct"] = failed, correct
        with open(record_path, "w") as f:
            json.dump(rec, f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for p in rec["problems"][:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    group = "per_layer" if args.trace else "end_to_end"
    source = rec["layers"] if args.trace else rec["e2e"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in spec[group]}
    print(json.dumps({"correct": correct, "attempted": int(rec["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
