#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. builds the engine and the harness (perfbench/build.sh; skipped when
   the sources are unchanged);
2. generates the workload's parquet fixture (perfbench/fixture.py, a
   fixed data seed) in a fresh run directory under .bench_work/;
3. launches one JVM (perfbench/src/perfbench/Harness.scala) that sets
   up three times, runs a cold pass and then the warm passes that fill
   --seconds on a nominal host, closed loop, one query at a time, in a
   seed-drawn order, and, unless every query's result is certified
   already, finally dumps every query result untimed;
4. has DuckDB certify every dump against the query's declared oracle
   SQL (tools/check_oracle.py), remembering each certified row count and
   content hash in .bench_work/certified.json under the build and the
   fixture, and checks each timed execution's row count and content hash
   against the certified ones;
5. prints every metric with its unit and, as the last line, one JSON
   object {"correct", "attempted", "failed", "metrics"}: end-to-end
   metrics with --trace 0, per-layer metrics with --trace 1.

A full record of the run, spans included when traced, is kept under
.bench_work/records/; perfbench/summarize.py reads those records. Runs
never overlap: each holds an exclusive lock on .bench_work/lock from its
build to its clean-up. The command exits 1 when any execution failed or
returned a wrong result, and 2 when the run could not be made at all.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixture  # noqa: E402

CORES = 4
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
# The certified row count and content hash of each query, by
# certification_keys(); see run().
CERTIFIED = os.path.join(WORK_DIR, "certified.json")
MIN_EXECUTIONS = 40
# Every run measures the same fixture; --seed draws the query order of
# each pass. A per-seed fixture made the connected-component rounds of
# q_dedup_clusters, and so dedup_text's pass time, vary by up to 25%
# between seeds, which no bound a regression gate can use would absorb.
FIXTURE_SEED = 42

# Each workload: queries from the engine's registry, the fixture's row
# counts where they differ from fixture.BASE, and the nominal warm pass
# time on a 4-core host. A run makes round(seconds / pass_s) warm passes,
# at least two: the pass count, and so the work measured, does not depend
# on how fast the host happens to be while the JIT is still speeding
# passes up. Why each workload was chosen is in BENCHMARK.json.
WORKLOADS = {
    "vector_search": {
        "queries": ["q_knn_cosine", "q_knn_euclid", "q_filter_search",
                    "q_knn_join", "q_sim_histogram", "q_ivfpq_refine_scaled"],
        "rows": {"embeddings": 3000},
        "pass_s": 6.5,
    },
    "dedup_text": {
        "queries": ["q_minhash_sig", "q_simhash", "q_dedup_clusters",
                    "q_stream_dedup"],
        "rows": {},
        "pass_s": 8.5,
    },
}


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def java_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def warm_passes(wl, seconds):
    return max(2, math.floor(seconds / wl["pass_s"] + 0.5))


def cpu_ticks():
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_mb(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total / 1048576.0


def tree_digest(path):
    """sha256 over the relative names and contents of every file under path."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def certification_keys(fixture_dir, queries):
    """One cache key per query: the fixture's digest, the build stamp
    (every engine and harness source, so every query's oracle SQL too),
    the comparator's digest and the query's name."""
    with open(os.path.join(BUILD_DIR, "stamp")) as f:
        stamp = f.read().strip()
    with open("tools/check_oracle.py", "rb") as f:
        checker = hashlib.sha256(f.read()).hexdigest()
    digest = tree_digest(fixture_dir)
    return {q: hashlib.sha256(json.dumps([digest, stamp, checker, q]).encode()).hexdigest()
            for q in queries}


def certify(fixture_dir, dump_dir, queries, log, timeout):
    """DuckDB runs each query's oracle SQL on the same fixture and compares
    it with the dumped engine result. Returns {query: "pass" | reason}."""
    out_json = os.path.join(dump_dir, "oracle_check.json")
    env = dict(os.environ, CHECK_JSON_OUT=out_json, CHECK_ONLY=",".join(queries))
    try:
        with open(log, "w") as f:
            subprocess.run([sys.executable, "tools/check_oracle.py", fixture_dir, dump_dir],
                           stdout=f, stderr=subprocess.STDOUT, env=env, timeout=timeout)
        with open(out_json) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        res = {q: {"status": "oracle timed out"} for q in queries}
    except (OSError, ValueError):
        res = {}
    return {q: res.get(q, {}).get("status", "no oracle result") for q in queries}


def query_times(execs):
    """Each query's best time over its warm executions.

    The percentiles are taken over these, one value per query, not over
    the executions themselves: with a few executions of a few queries
    whose times differ several-fold, an execution percentile falls in the
    gap between two queries and jumps with whichever side one slow
    execution lands on. A query's best time ignores a single slow
    execution (a collection or a compilation that happened to land in
    it); a median of two executions would move by half of it."""
    by_query = {}
    for e in execs:
        by_query.setdefault(e["query"], []).append(e["construct_s"] + e["plan_s"] + e["execute_s"])
    return [min(ts) for ts in by_query.values()]


def end_to_end(rec, warm, execs):
    times = query_times(execs)
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "cold_pass_s": rec["passes"][0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": percentile(times, 0.5),
        "query_p75_s": percentile(times, 0.75),
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "heap_peak_mb": statistics.median(p["heap_peak_mb"] for p in rec["passes"]),
    }


def per_layer(rec, warm, tmp_mb):
    """Mean per warm pass of every layer total, plus the kernel probes."""
    keys = list(warm[0]["layers"])
    out = {k: statistics.fmean(p["layers"][k] for p in warm) for k in keys}
    probes = rec["probes"]
    out.update(probes)
    kernel_s = sum(out.get(f"expressions.{k}_rows", 0.0) *
                   probes.get(f"expressions.{k}_ns_per_row", 0.0) / 1e9
                   for k in ("vec_cosine", "vec_dot", "vec_euclid", "lsh_buckets",
                             "pq_adc", "shingle_hash", "rep_stats"))
    out["expressions.kernel_share"] = (kernel_s / out["execution.task_run_s"]
                                       if out["execution.task_run_s"] > 0 else 0.0)
    out["expressions.kernel_rows"] = sum(
        v for k, v in out.items() if k.startswith("expressions.") and k.endswith("_rows")
        and k != "expressions.kernel_rows")
    out["sources.tmp_mb"] = tmp_mb / len(rec["passes"])
    return out


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ns_per_row"):
        return "ns/row"
    if name.endswith("_per_row"):
        return name.rsplit("_", 3)[-3] + "/row"
    if name.endswith("_frac") or name.endswith("_share"):
        return "fraction"
    if name.endswith("skew_max") or name.endswith("per_result"):
        return "ratio"
    return "count"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", help="use this fixture directory instead of generating one")
    ap.add_argument("--plant-wrong-hash", metavar="QUERY",
                    help="corrupt QUERY's expected hash (tests the output check)")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    t_start = time.time()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    if not os.path.isfile("tools/check_oracle.py"):
        print("perfbench: run from the repository root (tools/check_oracle.py not found)",
              file=sys.stderr)
        return 2
    jars = spark_jars()
    os.makedirs(os.path.join(WORK_DIR, "records"), exist_ok=True)
    lock = open(os.path.join(WORK_DIR, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)  # held from the build to the clean-up
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh"), jars, BUILD_DIR])
    if build.returncode != 0:
        print("perfbench: build failed", file=sys.stderr)
        lock.close()
        return 2
    t_built = time.time()
    load_avg = os.getloadavg()[0]
    run_dir = os.path.abspath(os.path.join(
        WORK_DIR, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return run(args, wl, spec, jars, run_dir, load_avg, t_start, t_built)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        lock.close()


def run(args, wl, spec, jars, run_dir, load_avg, t_start, t_built):
    if args.fixture:
        base = os.path.abspath(args.fixture)
    else:
        base = os.path.join(run_dir, "fixture")
        fixture.generate(base, FIXTURE_SEED, wl["rows"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_CPUS=str(CORES))
    queries = wl["queries"]
    # A query's result is certified once per build and fixture: the
    # first run dumps every result and has DuckDB check it; later runs
    # check every timed execution against the certified row count and
    # hash and skip the dump, which on vector_search costs as much as a
    # warm pass.
    keys = certification_keys(base, queries)
    try:
        with open(CERTIFIED) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    certified = {q: dict(cache[keys[q]]) for q in queries if keys[q] in cache}
    dump = os.path.join(run_dir, "dump")
    harness_args = ["--fixture", base, "--queries", ",".join(queries),
                    "--seed", str(args.seed), "--warm-passes", str(warm_passes(wl, args.seconds)),
                    "--trace", str(args.trace), "--out", os.path.join(run_dir, "record.json")]
    if len(certified) < len(queries):
        harness_args += ["--dump", dump]
    classpath = os.path.abspath(os.path.join(BUILD_DIR, "classes")) + os.pathsep + \
        os.path.join(jars, "*")
    cmd = (["java"] + java_opens() +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Harness"])
    log_path = os.path.join(run_dir, "jvm.log")
    ticks0 = cpu_ticks()
    launched_us = time.time_ns() // 1000
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + harness_args + ["--launched-at-us", str(launched_us)],
                                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_built)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return 2
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        print(f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
        return 2
    ticks1 = cpu_ticks()
    steal_frac = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    with open(os.path.join(run_dir, "record.json")) as f:
        rec = json.load(f)
    tmp_mb = dir_mb(os.path.join(run_dir, "target", "tmp"))

    # ---- output check ------------------------------------------------
    t_oracle = time.time()
    if len(certified) < len(queries):
        expected = rec["expected"]
        verdict = certify(base, dump, queries, os.path.join(run_dir, "oracle.log"),
                          timeout=max(10, RUN_LIMIT_S - (time.time() - t_built)))
        for q in queries:
            if verdict[q] == "pass" and "hash" in expected[q]:
                cache[keys[q]] = {"rows": expected[q]["rows"], "hash": expected[q]["hash"]}
        with open(CERTIFIED, "w") as f:
            json.dump(cache, f)
    else:
        expected = certified
        verdict = {q: "pass" for q in queries}
    t_oracle = time.time() - t_oracle
    if args.plant_wrong_hash:
        exp = expected.get(args.plant_wrong_hash, {})
        if "hash" in exp:
            exp["hash"] = str(int(exp["hash"]) ^ 1)
    execs = [dict(e, pass_index=i) for i, p in enumerate(rec["passes"]) for e in p["execs"]]
    failures = []
    for e in execs:
        q, exp = e["query"], expected.get(e["query"], {})
        why = None
        if e["error"]:
            why = e["error"]
        elif verdict[q] != "pass":
            why = f"oracle: {verdict[q]}"
        elif "hash" not in exp:
            why = f"certification dump failed: {exp.get('error')}"
        elif e["rows"] != exp["rows"] or e["hash"] != exp["hash"]:
            why = f"rows/hash {e['rows']}/{e['hash']} != certified {exp['rows']}/{exp['hash']}"
        if why:
            failures.append({"pass": e["pass_index"], "query": q, "why": why})

    warm = rec["passes"][1:]
    warm_execs = [e for p in warm for e in p["execs"]]
    e2e = end_to_end(rec, warm, warm_execs)
    layers = per_layer(rec, warm, tmp_mb) if args.trace else {}
    nproc = os.cpu_count() or CORES

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "queries": queries, "started": t_start,
        "load_avg": load_avg, "load_above_nproc": load_avg > nproc, "nproc": nproc,
        "load_avg_end": rec["load_avg_end"], "steal_frac": steal_frac,
        "attempted": len(execs), "failed": len(failures), "failures": failures,
        "failed_frac": len(failures) / len(execs) if execs else 1.0,
        "warm_passes": len(warm), "warm_executions": len(warm_execs),
        "oracle": verdict, "expected": expected,
        "setups_s": rec["setup_s"], "launch_s": rec["setup_s"][0],
        "untimed_s": dict(rec["untimed_s"], oracle=t_oracle),
        "passes": rec["passes"],
        "end_to_end": e2e, "per_layer": layers, "spans": rec["spans"],
    }
    record["wall_s"] = time.time() - t_start
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}.json"
    with open(os.path.join(WORK_DIR, "records", name), "w") as f:
        json.dump(record, f)

    if load_avg > nproc:
        print(f"perfbench: WARNING run started at load {load_avg:.2f} > nproc {nproc}")
    if steal_frac > 0.05:
        print(f"perfbench: WARNING the host took {steal_frac:.1%} of this VM's CPU time")
    if len(warm_execs) < MIN_EXECUTIONS:
        print(f"perfbench: WARNING only {len(warm_execs)} timed executions "
              f"(< {MIN_EXECUTIONS}); query_p75_s rests on few samples")
    for f in failures[:20]:
        print(f"perfbench: FAILED {f['query']}: {f['why']}")
    shown = layers if args.trace else e2e
    declared = spec["per_layer" if args.trace else "end_to_end"]
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {len(warm)} warm passes, "
          f"{len(warm_execs)} timed executions, failed_frac={record['failed_frac']:.4f}")
    for k, v in shown.items():
        print(f"  {k} = {v:.6g} {unit_of(k)}")
    metrics = {m["name"]: {"value": shown[m["name"]], "unit": unit_of(m["name"])}
               for m in declared}
    print(json.dumps({"correct": not failures, "attempted": len(execs),
                      "failed": len(failures), "metrics": metrics}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
