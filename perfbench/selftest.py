#!/usr/bin/env python3
"""Self-test of the benchmark at toy size: every workload, untraced and
traced, must report correct answers and every metric of BENCHMARK.json.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("micro", "rest_mixed", "wal_ingest", "hits")


def main():
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    failures = []
    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                   w, "--seed", "7", "--seconds", "1", "--trace", str(trace),
                                   "--toy"], stdout=subprocess.PIPE, text=True)
            try:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                failures.append(f"{w} trace={trace}: no result line (exit {proc.returncode})")
                continue
            missing = {m["name"] for m in spec[group]} - set(res["metrics"])
            if not res["correct"] or res["failed"] or missing:
                failures.append(f"{w} trace={trace}: {res['correct']=} {res['failed']=} {missing=}")
            print(f"{w} trace={trace}: correct={res['correct']} attempted={res['attempted']}")
    if failures:
        print("\n".join(failures), file=sys.stderr)
        sys.exit(1)
    print("selftest: all workloads correct")


if __name__ == "__main__":
    main()
