#!/usr/bin/env python3
"""Summarize benchmark records: per workload, the per-layer table, the
self-time split per query (construct / plan / execute), the top five
queries by self time, and trace.overhead_frac.

    python3 perfbench/summarize.py [RECORDS ...]

RECORDS are directories of run records, single records or sets saved by
perfbench/steady.py --save; the default is .bench_work/records, where
perfbench/run.py keeps one record per run. Per workload the newest traced
record supplies the layers and spans. trace.overhead_frac is the traced
run's median warm pass over the median of the untraced runs'
warm_pass_s, minus one.

A span's self time is its duration minus the part of it that its child
spans cover. For a phase span (construct, plan, execute) the children are
the Spark jobs it started, so its self time is time the query spent
outside any of its Spark jobs.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import unit_of  # noqa: E402

PHASES = ("construct", "plan", "execute")


def check_spans(spans):
    """Problems with a span tree: unknown parents, children outside their
    parent's interval, spans left open. Empty when well formed."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    for s in spans:
        if s["end_us"] < s["start_us"]:
            problems.append(f"span {s['id']} ({s['kind']}) not closed")
        if s["parent"] == -1:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            problems.append(f"span {s['id']} ({s['kind']}) has unknown parent {s['parent']}")
        elif s["start_us"] < p["start_us"] or s["end_us"] > p["end_us"]:
            problems.append(f"span {s['id']} ({s['kind']} {s['name']}) "
                            f"[{s['start_us']}, {s['end_us']}] outside parent {p['id']} "
                            f"({p['kind']}) [{p['start_us']}, {p['end_us']}]")
    return problems


def self_times(spans):
    """{span id: self time in seconds}."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, s["start_us"]), min(b, s["end_us"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def query_split(spans):
    """Per query, mean per warm pass of each phase's duration and self
    time, and of jobs started."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    warm = {s["id"] for s in spans if s["kind"] == "pass" and s["name"] != "cold"}
    acc = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["kind"] not in PHASES:
            continue
        q = by_id[s["parent"]]
        if q["parent"] not in warm:
            continue
        a = acc[q["name"]]
        a[f"{s['kind']}_s"] += (s["end_us"] - s["start_us"]) / 1e6
        a[f"{s['kind']}_self_s"] += selfs[s["id"]]
        a["self_s"] += selfs[s["id"]]
    for s in spans:
        if s["kind"] == "job":
            ph = by_id[s["parent"]]
            if ph["kind"] in PHASES and by_id[ph["parent"]]["parent"] in warm:
                acc[by_id[ph["parent"]]["name"]][f"{ph['kind']}_jobs"] += 1
    n = max(1, len(warm))
    return {q: {k: v / n for k, v in a.items()} for q, a in acc.items()}


def load(paths):
    """Run records from directories of records, single records, and the
    compact untraced sets perfbench/steady.py --save writes."""
    recs = []
    for p in paths:
        for path in sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]:
            with open(path) as f:
                r = json.load(f)
            if isinstance(r, list):
                recs += [dict(x, trace=0) for x in r]
            elif "workload" in r:
                recs.append(r)
    return recs


def summarize(recs, out=sys.stdout):
    by_wl = defaultdict(list)
    for r in recs:
        by_wl[r["workload"]].append(r)
    for wl, rs in sorted(by_wl.items()):
        traced = sorted((r for r in rs if r["trace"] == 1), key=lambda r: r["started"])
        plain = [r for r in rs if r["trace"] == 0]
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs ==", file=out)
        if plain:
            print("  end-to-end (median over untraced runs):", file=out)
            for k in plain[0]["end_to_end"]:
                vals = [r["end_to_end"][k] for r in plain]
                print(f"    {k:<26} {statistics.median(vals):>12.6g} {unit_of(k)}", file=out)
        if not traced:
            continue
        t = traced[-1]
        print(f"  per layer (traced run, seed {t['seed']}, per warm pass):", file=out)
        for k, v in sorted(t["per_layer"].items()):
            print(f"    {k:<42} {v:>12.6g} {unit_of(k)}", file=out)
        layers = t["per_layer"]
        cpu = statistics.median(p["cpu_s"] for p in t["passes"][1:])
        n_queries = len(t["queries"])
        print(f"  shares: task CPU / process CPU = {layers['execution.task_cpu_s'] / cpu:.3f}, "
              f"kernel share = {layers['expressions.kernel_share']:.3f}, "
              f"construction jobs per query = {layers['operators.construct_jobs'] / n_queries:.2f}, "
              f"execution jobs per query = {layers['execution.jobs'] / n_queries:.2f}", file=out)
        split = query_split(t["spans"])
        print("  self-time split per query (s per warm pass; self = no job running):",
              file=out)
        print(f"    {'query':<32} {'construct':>9} {'(self)':>8} {'jobs':>5} {'plan':>8} "
              f"{'execute':>8} {'(self)':>8} {'jobs':>5}", file=out)
        for q, a in sorted(split.items()):
            print(f"    {q:<32} {a['construct_s']:>9.4f} {a['construct_self_s']:>8.4f} "
                  f"{a.get('construct_jobs', 0):>5.1f} {a['plan_s']:>8.4f} "
                  f"{a['execute_s']:>8.4f} {a['execute_self_s']:>8.4f} "
                  f"{a.get('execute_jobs', 0):>5.1f}", file=out)
        print("  top 5 queries by self time:", file=out)
        for q, a in sorted(split.items(), key=lambda x: -x[1]["self_s"])[:5]:
            print(f"    {q:<32} {a['self_s']:.4f} s", file=out)
        if plain:
            traced_warm = statistics.median(p["wall_s"] for p in t["passes"][1:])
            base = statistics.median(r["end_to_end"]["warm_pass_s"] for r in plain)
            print(f"  trace.overhead_frac = {traced_warm / base - 1:.4f} "
                  f"(traced warm pass {traced_warm:.3f} s vs untraced {base:.3f} s)", file=out)
        problems = check_spans(t["spans"])
        print(f"  span tree: {len(t['spans'])} spans, "
              f"{'well formed' if not problems else f'{len(problems)} problems'}", file=out)


if __name__ == "__main__":
    summarize(load(sys.argv[1:] or [os.path.join(".bench_work", "records")]))
