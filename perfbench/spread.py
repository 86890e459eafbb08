#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/spread.py --workloads build_zipf ingest_rounds --seeds 1-10

For every workload and end-to-end metric it prints the median over the
seeds whose run was correct (failed seeds are listed) and the spread:
the distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median, next to the metric's bound from
BENCHMARK.json. A spread above the bound means the
metric cannot tell a regression of that size from noise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", help="append each run's output lines here")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        values, failed = {}, []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(args.seconds),
                                    "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            out = proc.stdout.decode().strip().splitlines()
            if args.out:
                with open(args.out, "a") as fh:
                    for line in out:
                        fh.write("%s %d %s\n" % (w, seed, line))
            last = out[-1:]
            try:
                res = json.loads(last[0]) if last else {}
            except ValueError:
                res = {}
            print("%s seed %d: exit %d, %.1f s, correct=%s" % (
                w, seed, proc.returncode, time.time() - t0,
                res.get("correct")), file=sys.stderr, flush=True)
            if res.get("correct") is not True:
                failed.append(seed)
                continue
            for k, v in res.get("metrics", {}).items():
                values.setdefault(k, []).append(v["value"])
        if failed:
            print("%-14s failed or incorrect on seeds %s" % (w, failed))
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med] * 3
            share = (q[2] - q[0]) / med if med else float("nan")
            print("%-14s %-24s median %-12.6g spread %.3f  bound %s  n=%d" % (
                w, k, med, share, bounds.get(k), len(vs)))


if __name__ == "__main__":
    main()
