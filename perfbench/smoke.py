#!/usr/bin/env python3
"""Smoke test of the benchmark itself: one short traced run per workload
and one untraced run with a planted wrong expected hash.

    python3 perfbench/smoke.py [--fixture DIR]

Run from the repository root. --fixture runs every workload on an
existing fixture directory (for example the engine's smallest reference
fixture) instead of a generated one. Asserts that:

- every metric named in BENCHMARK.json is emitted with its unit;
- each traced run's span tree is well formed: every parent exists and
  every child lies inside its parent's interval;
- a planted wrong expected hash is reported as a failure: the run is not
  correct, counts the query's executions as failed and exits non-zero.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402
from summarize import check_spans  # noqa: E402


def bench(args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + args,
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stdout + p.stderr


def newest_record(workload, trace):
    paths = glob.glob(os.path.join(".bench_work", "records",
                                   f"{workload}-seed*-trace{trace}-*.json"))
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


def expect_metrics(result, declared, what, problems):
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{what}: metric {m['name']} not emitted")
        elif got["unit"] != m["unit"]:
            problems.append(f"{what}: {m['name']} unit {got['unit']} != {m['unit']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture")
    opts = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    common = ["--seed", "1", "--seconds", "1"]
    if opts.fixture:
        common += ["--fixture", opts.fixture]
    problems = []

    for wl in spec["workloads"]:
        name = wl["name"]
        code, result, out = bench(["--workload", name, "--trace", "1"] + common)
        if code != 0 or result is None or not result["correct"]:
            problems.append(f"{name} traced run failed (exit {code}):\n{out[-3000:]}")
            continue
        expect_metrics(result, spec["per_layer"], f"{name} --trace 1", problems)
        spans = newest_record(name, 1)["spans"]
        problems += [f"{name}: {p}" for p in check_spans(spans)]
        kinds = {s["kind"] for s in spans}
        for k in ("workload", "pass", "query", "construct", "plan", "execute", "job", "stage"):
            if k not in kinds:
                problems.append(f"{name}: no {k} span recorded")
        print(f"smoke: {name} traced run ok, {len(spans)} spans", flush=True)

    name = spec["workloads"][0]["name"]
    planted = WORKLOADS[name]["queries"][0]
    code, result, out = bench(["--workload", name, "--trace", "0",
                               "--plant-wrong-hash", planted] + common)
    if result is None:
        problems.append(f"planted-hash run printed no result (exit {code}):\n{out[-3000:]}")
    else:
        expect_metrics(result, spec["end_to_end"], f"{name} --trace 0", problems)
        rec = newest_record(name, 0)
        runs = sum(1 for p in rec["passes"] for e in p["execs"] if e["query"] == planted)
        flagged = [f for f in rec["failures"] if f["query"] == planted]
        if code == 0 or result["correct"] or result["failed"] != runs or len(flagged) != runs:
            problems.append(f"planted wrong hash for {planted} not reported: exit {code}, "
                            f"correct {result['correct']}, failed {result['failed']} "
                            f"of {runs} executions")
        else:
            print(f"smoke: planted wrong hash for {planted} reported "
                  f"({runs} failed executions, exit {code})", flush=True)

    for p in problems:
        print(f"smoke: FAIL {p}")
    print("smoke: " + ("FAILED" if problems else "all checks passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
