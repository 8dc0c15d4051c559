#!/usr/bin/env python3
"""Repository benchmark: workloads over the program's public entry points,
end-to-end metrics untraced and per-layer metrics traced.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed,
drives one closed-loop client on local[N] in a JVM (perfbench/src),
checks every output against a DuckDB oracle outside the timed window, and
prints a report line and, last, the result line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). Everything it writes stays under perfbench/.work.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
for needed in ("src/main/scala", "tools/check_oracle.py", "tools/gen_crime_fixture.py"):
    if not os.path.exists(os.path.join(ROOT, needed)):
        sys.exit(f"[perfbench] missing {needed}: run from the root of a full checkout")

import build  # noqa: E402
import gen_crime  # noqa: E402
import gen_tables  # noqa: E402
import oracle_crime  # noqa: E402

MB = 1024.0 * 1024.0
# A run must end within 180 s; the first run in a checkout also builds,
# which this limit leaves out. The oracle check gets what the JVM leaves.
RUN_LIMIT_S = 170
ORACLE_RESERVE_S = 15

# Input size and the least number of measured passes, per workload. The
# table workloads read the TESTDATA-shaped tables at scale factor `sf`.
# `min_passes` takes longer than the window, so every run measures the
# same number of passes. crime_etl's operation is a whole pass, so it needs
# four for a latency tail below the maximum. Sizes are set so that a run
# takes under a minute on a 4-core host and stays inside the time limit on
# one twice as slow: a pass is dominated by per-query fixed cost at any of
# these sizes, and every run pays a fresh JVM, a cold pass and the oracle
# check. olap_interactive (the 20 OLAP queries, ~14 s a pass) is not in
# BENCHMARK.json for that reason; run it by hand.
WORKLOADS = {
    "crime_etl": {"rows": 20_000, "min_passes": 4},
    "corpus_heavy": {"sf": 0.02, "min_passes": 4},
    "olap_interactive": {"sf": 0.02, "min_passes": 2},
}

# The tables each query of the Harness workloads names (its SparkEntry
# definition), for the wasted-work ratio scan.read_amplification.
QUERY_TABLES = {
    **{q: ["events"] for q in [
        "a2_weekly_histogram", "a2_weekly_long", "a2_dotw_histogram",
        "a3_daily_cube", "a3_daily_cube_indexed", "a4_category_totals",
        "a6_dict_event_type", "p5_date_normalize", "win_session_30m"]},
    **{q: ["orders"] for q in [
        "star_dim_category", "star_dim_time", "olap_rollup_time",
        "profile_equidepth_hist", "win_ntile_priority"]},
    **{q: ["customer", "nation", "orders"] for q in [
        "star_fact", "a5_sum_by_category", "a5_sum_by_district",
        "olap_grouping_sets", "olap_cube_cat_district"]},
    "dedup_minhash_lsh": ["documents"],
    "star_dim_district": ["nation"],
    "q1_pricing_summary": ["lineitem"],
    "q3_top_urgent_orders": ["customer", "lineitem", "orders"],
}

# Flags Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# The parallel collector with a fixed young generation reuses the same
# young-gen pages every cycle and grows the old generation only by what is
# promoted, so peak_rss_mb tracks what the program keeps live; under G1 it
# followed which free regions the allocator happened to touch.
#
# The JIT stops at its first tier (C1). With the optimising tier, background
# compilation took half the CPU of every measured pass and was still busy
# after 20 passes, so a pass's time depended on how far the compiler had
# got; C1 does nearly all its compiling in the cold pass.
#
# The JVM sees half the host's CPUs, so Spark runs local[N] with N = nproc/2
# and sizes its JIT and GC threads to match. At local[nproc] the task,
# driver, compiler and collector threads outnumbered the CPUs. Over four
# interleaved runs each on a shared 4-core host, a crime_etl pass spread
# 0.17 at local[4] and 0.07 at local[2], and neither workload got slower.
CPUS = max(1, (os.cpu_count() or 2) // 2)
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xmx3g",
             "-Xmn512m", f"-XX:ActiveProcessorCount={CPUS}"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def digest(path):
    """sha256 over a file, or over every file of a directory in name order."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
    for name in files:
        with open(name, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def inputs(workload, seed):
    """Generate (or reuse) the workload's inputs for this seed, outside any
    timed window; inputs of other seeds are deleted to keep the work
    directory small. Returns (path, row counts and digest, cache key)."""
    cfg = WORKLOADS[workload]
    data = os.path.join(WORK, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "crime_etl":
        key = f"crime-{seed}-{cfg['rows']}"
        path = os.path.join(data, key + ".csv")
        generate = lambda: gen_crime.generate(path, seed, cfg["rows"])  # noqa: E731
    else:
        key = f"tables-{seed}-{cfg['sf']}"
        path = os.path.join(data, key)
        generate = lambda: gen_tables.generate(fresh_dir(path), seed, cfg["sf"])  # noqa: E731
    meta = os.path.join(data, key + ".json")
    if not os.path.exists(meta):
        info = {**generate(), "sha256": digest(path)}
        with open(meta, "w") as f:
            json.dump(info, f)
    prefix = key.split("-")[0] + "-"
    for old in os.listdir(data):
        if old.startswith(prefix) and old != key and not old.startswith(key + "."):
            p = os.path.join(data, old)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    with open(meta) as f:
        return path, json.load(f), key


def run_jvm(classes, workload, seed, seconds, trace, input_path, work, timeout):
    cfg = WORKLOADS[workload]
    cmd = (["java"] + JVM_FLAGS + ["-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", f"-Dderby.system.home={work}/derby"] +
           build.jvm_flags() +
           [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(classes), "perfbench.Harness", workload,
            str(seed), str(seconds), str(trace), input_path, work,
            str(cfg["min_passes"])])
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness JVM timed out; see {logfile}")
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(logfile) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def check_queries(tables_dir, verify_dir, timeout):
    """The repo's DuckDB-oracle comparator over the verification dump."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         tables_dir, verify_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=timeout, env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"})
    lines = r.stdout.strip().splitlines()
    failures = [ln for ln in lines if ln.startswith("FAIL")]
    passes = [ln for ln in lines if ln.startswith("PASS")]
    if r.returncode not in (0, 1) or not (passes or failures):
        failures.append(f"comparator exited {r.returncode}: {r.stdout[-500:]}")
    return len(passes) + len(failures), failures


# ------------------------------------------------------------- metrics --

def median(xs):
    return statistics.median(xs) if xs else 0.0


def dur_s(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def tail(latencies):
    """The highest percentile with at least ten samples beyond it. A run
    with fewer than 40 samples keeps a quarter of them (at least one)
    beyond it instead, so the tail is never the sample maximum and never
    below the 75th percentile."""
    xs = sorted(latencies)
    n = len(xs)
    beyond = min(n - 1, max(1, min(10, n // 4)))
    k = n - 1 - beyond
    return xs[k], 100.0 * (k + 1) / n, beyond


def end_to_end(res, measured):
    ops = [s for s in res["spans"] if s["kind"] == "op"
           and s["pass"] in {p["pass"] for p in measured}]
    lat = [dur_s(s) for s in ops]
    t, pct, beyond = tail(lat)
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in measured]), "s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (t, "s"),
        "cpu_s": (median([p["cpu_s"] for p in measured]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    detail = {"jit_s": median([p["jit_s"] for p in measured]),
              "latency_samples": len(lat), "tail_percentile": round(pct, 2),
              "tail_samples_beyond": beyond, "measured_passes": len(measured)}
    return metrics, detail


def layers(res, pass_no, input_rows):
    """Per-layer metrics of one traced pass, from its spans."""
    spans = [s for s in res["spans"] if s["kind"] != "pass"]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["kind"] == "op" and s["pass"] == pass_no]
    op_ids = {s["id"] for s in ops}
    phases = [s for s in spans if s["kind"] in ("build", "execute")
              and s["parent"] in op_ids]
    phase_ids = {s["id"] for s in phases}
    jobs = [s for s in spans if s["kind"] == "job"
            and (s["parent"] in phase_ids or s["parent"] in op_ids)]
    job_ids = {s["id"] for s in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in job_ids]

    def total(xs, key):
        return float(sum(x.get(key, 0) for x in xs))

    def jobs_in(file):
        js = [j for j in jobs if j["file"] == file]
        return len(js), sum(dur_s(j) for j in js)

    def self_s(parents, children):
        out = 0.0
        for p in parents:
            kids = [(c["start_ms"], c["end_ms"]) for c in children
                    if c["parent"] == p["id"]]
            out += (p["end_ms"] - p["start_ms"]) - union_ms(
                kids, p["start_ms"], p["end_ms"])
        return out / 1e3

    builds = [p for p in phases if p["kind"] == "build"]
    executes = [p for p in phases if p["kind"] == "execute"]
    wall = sum(dur_s(o) for o in ops)
    tables_jobs, tables_s = jobs_in("Tables.scala")
    mat_jobs, mat_s = jobs_in("Materialize.scala")
    sink_stage_jobs = {s["parent"] for s in stages if s.get("out_records", 0) > 0}
    sinks = [j for j in jobs if j["id"] in sink_stage_jobs or j["file"] == "Sinks.scala"]
    task_ms = total(stages, "run_ms")
    biggest = max(stages, key=lambda s: s["task_ms"], default=None)
    named_rows = sum(input_rows(o["name"]) for o in ops)
    in_records = total(stages, "in_records")
    return {
        "tables.jobs": (tables_jobs, "count"),
        "tables.s": (tables_s, "s"),
        "build.s": (sum(dur_s(b) for b in builds), "s"),
        "build.jobs": (sum(1 for j in jobs if j["parent"] in
                           {b["id"] for b in builds}), "count"),
        "plan.analysis_ms": (total(ops, "phase_analysis_ms"), "ms"),
        "plan.optimization_ms": (total(ops, "phase_optimization_ms"), "ms"),
        "plan.planning_ms": (total(ops, "phase_planning_ms"), "ms"),
        "sched.jobs": (len(jobs), "count"),
        "sched.stages": (len(stages), "count"),
        "sched.stages_skipped": (max(0.0, total(jobs, "declared_stages") -
                                     len(stages)), "count"),
        "sched.tasks": (total(stages, "tasks"), "count"),
        "sched.task_deser_ms": (total(stages, "deser_ms"), "ms"),
        "mat.jobs": (mat_jobs, "count"),
        "mat.s": (mat_s, "s"),
        "mat.cached_mb": (max((o["cached_bytes"] for o in ops), default=0) / MB,
                          "MB"),
        "scan.read_amplification": (in_records / named_rows if named_rows else 0.0,
                                    "ratio"),
        "exec.s": (sum(dur_s(e) for e in executes), "s"),
        "exec.task_s": (task_ms / 1e3, "s"),
        "exec.cpu_s": (total(stages, "cpu_ns") / 1e9, "s"),
        "exec.gc_s": (total(stages, "gc_ms") / 1e3, "s"),
        "exec.parallelism": (task_ms / 1e3 / wall if wall else 0.0, "ratio"),
        # skew: the longest task's share of the biggest stage's task time
        "exec.max_task_share": (biggest["max_task_ms"] / biggest["task_ms"]
                                if biggest and biggest["task_ms"] else 0.0,
                                "ratio"),
        "shuffle.write_mb": (total(stages, "shuffle_write_bytes") / MB, "MB"),
        "shuffle.read_mb": (total(stages, "shuffle_read_bytes") / MB, "MB"),
        "shuffle.fetch_wait_ms": (total(stages, "fetch_wait_ms"), "ms"),
        "spill_mb": (total(stages, "spill_bytes") / MB, "MB"),
        "scan.rows": (in_records, "count"),
        "scan.mb": (total(stages, "in_bytes") / MB, "MB"),
        "sink.rows": (total(stages, "out_records"), "count"),
        "sink.mb": (total(stages, "out_bytes") / MB, "MB"),
        "sink.s": (sum(dur_s(j) for j in sinks), "s"),
        "self.op_s": (self_s(ops, phases), "s"),
        "self.build_s": (self_s(builds, jobs), "s"),
        "self.execute_s": (self_s(executes, jobs), "s"),
        "self.job_s": (self_s(jobs, stages), "s"),
        "self.stage_s": (sum(dur_s(s) for s in stages), "s"),
    }


def per_layer(res, traced, untraced, input_rows):
    per_pass = [layers(res, p["pass"], input_rows) for p in traced]
    metrics = {k: (median([pp[k][0] for pp in per_pass]), unit)
               for k, (_, unit) in per_pass[0].items()}
    traced_s = median([p["wall_s"] for p in traced])
    metrics["trace.pass_s"] = (traced_s, "s")
    metrics["trace.overhead_s"] = (
        traced_s - median([p["wall_s"] for p in untraced]), "s")
    return metrics


# ---------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2
    t_built = time.time()
    deadline = t_built + RUN_LIMIT_S
    input_path, info, data_key = inputs(a.workload, a.seed)
    work = fresh_dir(os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}"))
    t_inputs = time.time()
    ticks0 = cpu_ticks()
    res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, input_path,
                  work, deadline - ORACLE_RESERVE_S - time.time())
    t_jvm = time.time()
    steal = [b - a for a, b in zip(ticks0, cpu_ticks())]

    verify_dir = os.path.join(work, "verify")
    if a.workload == "crime_etl":
        checked, failures = oracle_crime.check(
            input_path, os.path.join(work, "tsv"), verify_dir)
    else:
        checked, failures = check_queries(input_path, verify_dir,
                                          max(5.0, deadline - time.time()))
    failures += res["verify_failures"]
    t_oracle = time.time()
    log(f"{a.workload} seed={a.seed}: build {t_built - t_start:.1f}s, inputs "
        f"{t_inputs - t_built:.1f}s, jvm {t_jvm - t_inputs:.1f}s, oracle "
        f"{t_oracle - t_jvm:.1f}s")
    for f in failures:
        log(f"ORACLE MISMATCH: {f}")

    passes = [p for p in res["passes"] if p["kind"] == "measured"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e, detail = end_to_end(res, untraced)
    if a.workload == "crime_etl":
        def input_rows(_):
            return info["rows"]
    else:
        def input_rows(name):
            return sum(info[t] for t in QUERY_TABLES[name])
    metrics = per_layer(res, traced, untraced, input_rows) if a.trace else e2e
    attempted, failed = res["attempted"], res["failed"]
    correct = not failures and failed == 0 and checked > 0
    if not correct:
        log("INCORRECT: outputs differ from the oracle or operations failed")
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "posture": {**res["posture"], **WORKLOADS[a.workload],
                    "host_nproc": os.cpu_count(),
                    "jvm_flags": JVM_FLAGS, "inputs": data_key,
                    "inputs_sha256": info["sha256"],
                    # CPU time the hypervisor gave other guests during the JVM
                    "host_steal_pct": round(100.0 * steal[0] / max(1, steal[1]), 2)},
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, **detail,
        "failed_frac": failed / attempted if attempted else 1.0,
        "oracle_checked": checked, "oracle_mismatches": len(failures),
        "run_s": round(time.time() - t_start, 2),
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({**report, "metrics": metrics}, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
