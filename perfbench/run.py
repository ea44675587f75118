#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into the checkout; later runs reuse
the build while the sources are unchanged. Inputs are generated from
the seed (gen.py) and cached by seed under the work directory
($CARGO_TARGET_DIR/perfbench, default .bench_build/perfbench).

One JVM (perfbench.Main) sets the session up, timed from JVM start,
writes every result once as parquet for the checks, then runs whole
timed rounds for --seconds. This script checks the outputs (checks.py)
and prints, as its last line, {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    # relational core: short TPC-H and window queries, planning and
    # small-task scheduling dominate, graft.functions idle
    "etl_fixture": {
        "data": "fixture",
        "queries": ["q_tpch_q3", "q_tpch_q13", "q_win_distribution",
                    "q_win_rownumber_topk"],
        "sinks": ["noop", "count"],
        "min_rounds": 2,
    },
    # LLM-data tier: the dotF and LSH kernels, banded and LSH candidate
    # scoring and the top-k tails over a small scan
    "corpus_fixture": {
        "data": "fixture",
        "queries": ["q_sim_cosine_topk_banded", "q_sim_ann_neighbors"],
        "sinks": ["noop", "count"],
        "min_rounds": 2,
    },
    # raw CSV/JSON ingest to parquet, then scale-sensitive queries over
    # the ingested tables, each result written as parquet
    "ingest_scaled": {
        "data": "scaled",
        "base_sf": 0.01,
        "factor": 3,
        "queries": ["q_tpch_q15", "q_orders_abc_analysis",
                    "q_text_zipf_fit", "q_dedup_near_ngram"],
        "sinks": ["parquet", "count"],
        "min_rounds": 2,
        # count_s covers the window queries only: the dedup query under
        # count() would add about 7 s to every run, past the run budget
        "uncounted": ["q_dedup_near_ngram"],
        # a table's ingest takes about a second and its CSV reader is
        # still warming up over the first rounds: twice per round
        "ingest_reps": 2,
    },
}

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

RUN_LIMIT_S = 170  # a run must end within 180 s


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def work_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


# ---------------------------------------------------------------- build

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(work):
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    cp_file = "perfbench/target/classpath.txt"
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(work, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd="perfbench", stdout=f, stderr=subprocess.STDOUT, env=env,
            timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- inputs

def inputs(work, spec, seed):
    """Generated inputs for (workload kind, seed), cached by seed."""
    import gen
    if spec["data"] == "fixture":
        key = f"fixture-s{seed}"
    else:
        key = f"scaled-s{seed}-sf{spec['base_sf']}-f{spec['factor']}"
    root = os.path.join(work, "data")
    path = os.path.join(root, key)
    if not os.path.isdir(path):
        os.makedirs(root, exist_ok=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if spec["data"] == "fixture":
            gen.fixture(tmp, seed, 0.1)
        else:
            gen.scaled(tmp, seed, spec["base_sf"], spec["factor"])
        os.rename(tmp, path)
    os.utime(path)
    # keep the cache small: the eight most recently used input sets
    kept = sorted((os.path.join(root, d) for d in os.listdir(root)
                   if not d.endswith(".tmp")),
                  key=os.path.getmtime, reverse=True)
    for old in kept[8:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_query(rounds, sink, field="total_s"):
    """{operation: median over rounds} of one sink's samples; ingest steps
    count as operations of the main sink."""
    by = {}
    for r in rounds:
        for s in r["samples"]:
            if "error" not in s and s["sink"] == sink:
                by.setdefault(s["query"], []).append(s[field])
    return {q: median(v) for q, v in by.items()}


def e2e_metrics(rec, spec):
    rounds = rec["rounds"]
    main = spec["sinks"][0]
    mat = per_query(rounds, main)
    cnt = per_query(rounds, "count")
    queries = [q for q in mat if not q.startswith("ingest:")]
    ingest = [q for q in mat if q.startswith("ingest:")]
    materialize = sum(mat.values())
    if ingest:
        rows = per_query(rounds, main, "rows")
        rows_per_s = sum(rows[q] for q in ingest) / sum(mat[q] for q in ingest)
    else:
        # fixtures ingest nothing: the rows their queries read from
        # storage (while built and while run), which the input fixes, per
        # second of materialize_s, so there it mirrors materialize_s
        scanned = per_query(rounds, main, "scan_rows")
        built = per_query(rounds, main, "build_scan_rows")
        rows_per_s = sum(scanned[q] + built[q] for q in queries) / materialize
    stored = sum(s.get("written_bytes", 0)
                 for s in rec["check"]["samples"]) / 1e6
    return {
        "setup_s": (rec["setup_s"], "s"),
        "materialize_s": (materialize, "s"),
        "count_s": (sum(cnt.values()), "s"),
        "query_p50_s": (median([mat[q] for q in queries]), "s"),
        "ingest_rows_per_s": (rows_per_s, "rows/s"),
        "stored_mb": (stored, "MB"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


LAYER_SUMS = {
    # metric: (sample field, unit)
    "queries.build_s": ("build_s", "s"),
    "queries.build_jobs": ("build_jobs", "count"),
    "planner.analysis_s": ("analysis_s", "s"),
    "planner.optimization_s": ("optimization_s", "s"),
    "planner.physical_s": ("physical_s", "s"),
    "planner.plan_nodes": ("plan_nodes", "count"),
    "planner.exchanges": ("exchanges", "count"),
    "planner.sorts": ("sorts", "count"),
    "planner.scans": ("scans", "count"),
    "engine.scan_rows": ("scan_rows", "count"),
    "engine.scan_mb": ("scan_mb", "MB"),
    "exec.action_s": ("action_s", "s"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.task_run_s": ("task_run_s", "s"),
    "exec.task_cpu_s": ("task_cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "exec.critical_path_s": ("critical_path_s", "s"),
    "exec.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "exec.shuffle_records": ("shuffle_records", "count"),
    "exec.spill_mb": ("spill_mb", "MB"),
    "exec.join_rows_out": ("join_rows_out", "count"),
    "exec.rows_out": ("rows", "count"),
}

SELF_SPANS = ["query", "queries.build", "planner.analysis",
              "planner.optimization", "planner.planning", "exec.action",
              "exec.job", "exec.stage", "sources.read", "sources.write"]


def layer_metrics(rec, spec):
    main_sink = spec["sinks"][0]
    traced = [r for r in rec["rounds"] if r["traced"]]
    plain = [r for r in rec["rounds"] if not r["traced"]]
    per_round = []
    for r in traced:
        ss = [s for s in r["samples"]
              if "error" not in s and s["sink"] == main_sink]
        m = {k: sum(s.get(f, 0) for s in ss)
             for k, (f, _) in LAYER_SUMS.items()}
        m["queries.cached_mb_peak"] = max(
            [s.get("cached_mb", 0.0) for s in ss] or [0.0])
        m["exec.busy_cores"] = m["exec.task_run_s"] / max(
            m["exec.action_s"], 1e-9)
        for name in SELF_SPANS:
            m[f"self.{name}_s"] = sum(s["self_s"].get(name, 0.0) for s in ss)
        m["engine.scan_rows"] += sum(s.get("build_scan_rows", 0) for s in ss)
        m["materialize_traced_s"] = sum(s["total_s"] for s in ss)
        per_round.append(m)
    out = {}
    units = {k: u for k, (_, u) in LAYER_SUMS.items()}
    units.update({"queries.cached_mb_peak": "MB", "exec.busy_cores": "cores"})
    for k in per_round[0]:
        if k == "materialize_traced_s":
            continue
        out[k] = (median([m[k] for m in per_round]),
                  units.get(k, "s"))
    traced_mat = median([m["materialize_traced_s"] for m in per_round])
    plain_mat = median([
        sum(s["total_s"] for s in r["samples"]
            if "error" not in s and s["sink"] == main_sink)
        for r in plain])
    out["trace.overhead_pct"] = (100.0 * (traced_mat - plain_mat) /
                                 max(plain_mat, 1e-9), "%")
    # sources: the check pass, where every workload writes its results
    # (and ingest_scaled its tables) through graft.sources.Readers
    check = [s for s in rec["check"]["samples"] if "error" not in s]
    out["sources.read_s"] = (sum(s.get("readback_s", 0.0) for s in check) +
                             sum(s["build_s"] for s in check
                                 if s.get("ingest")), "s")
    out["sources.write_s"] = (sum(s["action_s"] for s in check), "s")
    out["sources.written_mb"] = (
        sum(s.get("written_bytes", 0) for s in check) / 1e6, "MB")
    out["sources.files_written"] = (
        sum(s.get("written_files", 0) for s in check), "count")
    fn = rec["functions"]
    out["functions.dot_rows_per_s"] = (fn["dot_rows_per_s"], "rows/s")
    out["functions.lsh_rows_per_s"] = (fn["lsh_rows_per_s"], "rows/s")
    out["functions.simhash_rows_per_s"] = (fn["simhash_rows_per_s"],
                                           "rows/s")
    out["functions.ann_topk_s"] = (fn["ann_topk_s"], "s")
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    spec = WORKLOADS[args.workload]
    work = work_dir()
    os.makedirs(work, exist_ok=True)
    classpath = build(work)
    # a run that builds may take 900 s; the 180 s run limit counts from here
    started = time.time()
    data = inputs(work, spec, args.seed)

    out = os.path.join(work, "runs", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    fixture_dir = data if spec["data"] == "fixture" else \
        os.path.join(data, "tables")
    warmup = data if spec["data"] == "fixture" else os.path.join(data, "base")
    # the heap is sized by the JVM's defaults under a 4 GB cap and is not
    # pre-touched, so VmHWM (peak_rss_mb) follows what the program uses
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.abspath(out)}/tmp",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--data", os.path.abspath(fixture_dir),
            "--warmup", os.path.abspath(warmup),
            "--out", os.path.abspath(out), "--seconds", str(args.seconds),
            # leaves time for the kernel probe, the JVM's exit and checks
            "--deadline", str(RUN_LIMIT_S - 35 - (time.time() - started)),
            "--trace", str(args.trace),
            "--queries", ",".join(spec["queries"]),
            "--sinks", ",".join(spec["sinks"]),
            "--min-rounds", str(spec["min_rounds"]),
            "--ingest-reps", str(spec.get("ingest_reps", 1)),
            "--uncounted", ",".join(spec.get("uncounted", []))]
    if spec["data"] == "scaled":
        cmd += ["--raw", os.path.abspath(os.path.join(data, "raw"))]
    left = RUN_LIMIT_S - (time.time() - started)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(left, 30))
        except subprocess.TimeoutExpired:
            fail("the benchmark JVM ran out of time")
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "run.json")):
        fail(f"the benchmark JVM failed, see {out}/jvm.log")
    rec = json.load(open(os.path.join(out, "run.json")))

    t_jvm = time.time()
    import checks
    verdict = checks.check_run(rec, spec, data, out)
    print(f"perfbench: JVM done after {t_jvm - started:.1f} s, checks took "
          f"{time.time() - t_jvm:.1f} s", file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(rec, spec)
    else:
        metrics = e2e_metrics(rec, spec)
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
