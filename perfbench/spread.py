#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each named workload and prints, per
metric, the median and the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next to
the metric's bound from BENCHMARK.json.

Usage (from the repository root):
    python3 perfbench/spread.py --workloads stream,query_mix --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append every result line to this file")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        vals = {}
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, capture_output=True, text=True)
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": s, "rc": out.returncode,
                                         "result": json.loads(line)}) + "\n")
            res = json.loads(line)
            if out.returncode != 0 or not res.get("correct"):
                print(f"{w} seed {s}: rc={out.returncode} correct={res.get('correct')}", file=sys.stderr)
                continue
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        for k, v in vals.items():
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) >= 2 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            print(f"{w:10s} {k:18s} n={len(v):2d} median={med:12.4f} spread={spread:6.3f} "
                  f"bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
