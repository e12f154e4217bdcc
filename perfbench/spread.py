#!/usr/bin/env python3
"""Measure the run-to-run spread of the end-to-end metrics.

Usage, from the root of a checkout:

    python3 perfbench/spread.py [--record] [--out FILE] [workload ...]

Runs every named workload (default: all in BENCHMARK.json) once for each
of the seeds 1-10, with run_seconds from BENCHMARK.json and tracing off.
Writes, for each workload and end-to-end metric, the values, their median
and quartiles (as statistics.quantiles(values, n=4) gives them) and the
spread: the distance between the quartiles as a share of the median, next
to the metric's bound.
`--record` passes through to run.py, storing each seed's check values.
"""
import argparse
import json
import statistics
import subprocess
import sys

SEEDS = range(1, 11)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--out", default="perfbench/SPREAD.json")
    a = ap.parse_args()

    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "seeds": list(SEEDS), "workloads": {}}
    for w in names:
        values = {m: [] for m in bounds}
        failed = 0
        for seed in SEEDS:
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd + (["--record"] if a.record else []),
                                 stdout=subprocess.PIPE, text=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            failed += res["failed"] + (not res["correct"])
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(w, seed, {m: round(v[-1], 3) for m, v in values.items()}, flush=True)
        stats = {}
        for m, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            stats[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                        "bound": bounds[m], "values": vs}
            print(f"  {m}: median {med:.3f} spread {(q3 - q1) / med:.3f} bound {bounds[m]}")
        report["workloads"][w] = {"failed": failed, "metrics": stats}
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
