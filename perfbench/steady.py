#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, checked against the bounds
in BENCHMARK.json.

    python3 perfbench/steady.py SET [SET2]

SET is a directory of run records (perfbench/run.py keeps them in
.bench_work/records) or a JSON file written by --save. For each workload
and end-to-end metric it prints the median over the untraced runs and the
spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. A spread
above the metric's bound fails, except for setup_s, which is gated on
its median alone (a run sets up few times, so its spread is wide). With
SET2 it also
fails any metric whose SET2 median is worse than SET's by more than the
bound.

    python3 perfbench/steady.py --save OUT.json SET

writes SET's untraced runs compactly (workload, seed, start, load, JVM
launch time, counts and end-to-end metrics) so a set of runs can be kept.
"""
import glob
import json
import os
import statistics
import sys

KEEP = ("workload", "seed", "seconds", "started", "load_avg", "load_above_nproc", "steal_frac",
        "launch_s", "attempted", "failed", "warm_passes", "warm_executions", "wall_s",
        "end_to_end")


def load(path):
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    runs = []
    for p in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            runs.append({k: r.get(k) for k in KEEP})
    return runs


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv):
    if argv[:1] == ["--save"]:
        with open(argv[1], "w") as f:
            json.dump(load(argv[2]), f, indent=1)
        return 0
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    sets = [load(p) for p in argv]
    ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        print(f"== {wl} ==")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells = []
            medians = []
            for runs in sets:
                vals = [r["end_to_end"][name] for r in runs if r["workload"] == wl]
                if len(vals) < 2:
                    cells.append(f"{len(vals)} runs")
                    medians.append(None)
                    continue
                sp = spread(vals)
                med = statistics.median(vals)
                medians.append(med)
                flag = ""
                if name != "setup_s" and sp > bound:
                    flag, ok = " SPREAD>BOUND", False
                elif name != "setup_s" and sp > bound / 3:
                    flag = " (>bound/3)"
                cells.append(f"n={len(vals)} median={med:.4g} spread={sp:.3f}{flag}")
            if len(medians) == 2 and None not in medians:
                shift = medians[1] / medians[0] - 1
                worse = shift if m["better"] == "lower" else -shift
                flag = " WORSE>BOUND" if worse > bound else ""
                ok = ok and not flag
                cells.append(f"shift={shift:+.3f}{flag}")
            print(f"  {name:<14} bound={bound:<5} " + " | ".join(cells))
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
