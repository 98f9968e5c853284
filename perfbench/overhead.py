#!/usr/bin/env python3
"""Tracing overhead: runs one workload untraced and then traced with the
same seed, and prints traced minus untraced for every end-to-end metric.

    python3 perfbench/overhead.py --workload micro --seed 1 --seconds 10

Extra arguments after the known ones are passed to run.py unchanged.
Both runs' records come from perfbench/out/.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args, extra = ap.parse_known_args()
    records = []
    for trace in (0, 1):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        args.workload, "--seed", str(args.seed), "--seconds",
                        str(args.seconds), "--trace", str(trace)] + extra,
                       check=True, stdout=subprocess.DEVNULL)
        path = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{trace}.json")
        records.append(json.load(open(path)))
    plain, traced = (r["e2e"] for r in records)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": {
        k: {"untraced": plain[k], "traced": traced[k], "delta": traced[k] - plain[k],
            "delta_share": (traced[k] - plain[k]) / plain[k] if plain[k] else None}
        for k in plain}}))


if __name__ == "__main__":
    main()
