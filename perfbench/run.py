#!/usr/bin/env python3
"""Benchmark of the pedestrian-flow engine: the paper pipeline and a catalog mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine from source
(`build.py`), generates the workload's inputs from the seed (`gen.py`),
runs them through `graft.SparkEntry.queries` in one JVM at local[nproc]
(`src/perfbench/Main.scala`), checks every output, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of one traced pass and writes the full span record to
`.bench_build/traces/<workload>-seed<n>.json` (compare two records with
`countdiff.py`). Workloads:

* flow_mixed -- one pass is the pipeline stages g40, g05, g06, g10 and g22
  over a seeded CDR slice of dense and sparse users.
* catalog_mix -- one pass is a seeded order of judged catalog queries over
  seeded tables of the sf0.01 shape.

An operation fails when it throws, when its output hash differs from the
warm pass's, or (warm pass only) when its output differs from DuckDB running
the query's oracle SQL on the same inputs.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

FLOW_STAGES = ["g40_pipeline", "g05_presence_by_region", "g06_home_region",
               "g10_mobility_frac", "g22_siar_step"]

# One query per prefix family of the round-17 catalog bench
# (bench_r17_opt_final.json): the family's median query, the fastest one for
# the t and v families (their medians cost several times more), and for the
# g, o, s and st families the queries that exercise the HaversineBoundingBox
# rule, TopKPerKey, ledger compaction and the ledger stream source.
CATALOG = [
    "a19_drift_report", "f27_observed_metrics", "j10_semi_reduction", "m07_media_pipeline",
    "p16_transpose", "q01_pricing_summary", "t05_dedup_exact", "u03_upsert_merge",
    "v06_native_dot_parity", "w07_sessionize",
    "g15_radius_filter", "o04_native_topk", "s17_compaction", "st17_ledger_stream",
]

WORKLOADS = ("flow_mixed", "catalog_mix")

MODULES = ["queries.Relational", "queries.GeoQueries", "queries.EpiQueries",
           "queries.TextQueries", "queries.VectorQueries", "queries.MultimodalQueries",
           "operators.TopKPerKey", "sources", "streaming"]
SPARK_COUNTERS = [
    "spark.plan.analysis_s", "spark.plan.optimizer_s", "spark.plan.planning_s",
    "spark.plan.exchanges", "spark.plan.scans", "spark.codegen.compiles",
    "spark.codegen.compile_s", "spark.sched.jobs", "spark.sched.stages",
    "spark.sched.tasks", "spark.sched.delay_s", "spark.task.run_s", "spark.task.cpu_s",
    "spark.task.gc_s", "spark.task.deser_s", "spark.task.failed",
    "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.shuffle.fetch_wait_s",
    "spark.shuffle.spill_bytes", "spark.scan.bytes", "spark.scan.rows",
    "streaming.batches", "streaming.triggerExecution_ms", "streaming.addBatch_ms",
    "streaming.queryPlanning_ms", "streaming.walCommit_ms", "streaming.commitOffsets_ms",
    "streaming.state_rows"]
LAYER_ATTRS = [
    ("engine.Tables.events", ["s", "rows"]),
    ("engine.RegionAssign.assign", ["s", "rows", "hit_share", "dict_cells"]),
    ("engine.Trajectory.hourlyState", ["s", "rows", "keep_share"]),
    ("engine.Trajectory.gapFill", ["s", "rows", "fill_share"]),
    ("engine.Trajectory.transitions", ["s", "rows"]),
    ("functions.GeoFunctions.geohash", ["rows_per_s"]),
    ("functions.GeoFunctions.haversine", ["rows_per_s"]),
]
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def declared_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json declares for this mode."""
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def operations(workload, seed):
    if workload == "catalog_mix":
        order = list(CATALOG)
        random.Random(seed).shuffle(order)
        return order
    return list(FLOW_STAGES)


def generate(workload, seed, data_dir):
    """Generates the inputs three times; returns (properties, median seconds)."""
    times = []
    for _ in range(3):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        props = (gen.catalog(data_dir, seed) if workload == "catalog_mix"
                 else gen.flow(data_dir, seed))
        times.append(time.perf_counter() - t0)
    return props, statistics.median(times)


def class_archive(classpath):
    """JVM flags that map the classes a run loads from the build's class-data
    archive instead of loading and verifying them from the jars: session
    start falls from about 10 s to 3.5 s and the warm pass by about 3 s.
    The first run after a build makes the archive with a training run over
    seed-0 catalog inputs that runs every operation of both workloads and
    no measured pass. If that fails, runs load classes from the jars."""
    if not (os.path.exists(build.ARCHIVE) or os.path.exists(build.ARCHIVE + ".failed")):
        log("making the class-data archive (once per build)")
        work = os.path.join(build.BUILD, "work", "train")
        shutil.rmtree(work, ignore_errors=True)
        data_dir, verify_dir = os.path.join(work, "data"), os.path.join(work, "verify")
        os.makedirs(verify_dir)
        gen.catalog(data_dir, 0)
        try:
            run_jvm(classpath, work, data_dir, verify_dir, CATALOG + FLOW_STAGES, 0, 0, "train",
                    main_args=["--min-passes", "0"],
                    jvm_flags=[f"-XX:ArchiveClassesAtExit={build.ARCHIVE}.tmp"])
            os.replace(build.ARCHIVE + ".tmp", build.ARCHIVE)
        except (RuntimeError, OSError) as e:
            log(f"no class-data archive: {e}")
            open(build.ARCHIVE + ".failed", "w").close()
        shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if os.path.exists(build.ARCHIVE) else []


def run_jvm(classpath, work, data_dir, verify_dir, ops, seconds, trace, run_id,
            main_args=(), jvm_flags=()):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: with -Xmx3g alone G1 commits about 1 GB and starts a
    # young collection and a marking cycle on nearly every large Spark page
    # it allocates (about 290 pauses in one flow run instead of about 30)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-Dspark.ui.enabled=false"]
           + list(jvm_flags) + build.ADD_OPENS
           + ["-cp", classpath, "perfbench.Main", "--data", data_dir, "--ops", ",".join(ops),
              "--seconds", str(seconds), "--trace", str(trace), "--out", out,
              "--verify-dir", verify_dir, "--local-dir", os.path.join(work, "local"),
              "--run-id", run_id] + list(main_args))
    with open(os.path.join(work, "jvm.log"), "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jvm_log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        raise RuntimeError(f"JVM exited with {proc.returncode}:\n{tail}")
    return json.load(open(out))


def verify(res, oracle_diff):
    """Returns (attempted, failed, failure notes) over every execution."""
    warm_hash = {op["name"]: op["hash"] for op in res["warm_ops"]}
    notes = []
    executions = [("warm", op) for op in res["warm_ops"]]
    executions += [(f"pass{i}", op) for i, p in enumerate(res["passes"]) for op in p["ops"]]
    if res["trace"]:
        executions += [("traced", op) for op in res["trace"]["pass_ops"]]
    failed = 0
    for where, op in executions:
        reason = op["error"]
        if reason is None and where != "warm" and op["hash"] != warm_hash[op["name"]]:
            reason = f"output hash {op['hash']} != warm {warm_hash[op['name']]}"
        if reason is None and where == "warm" and oracle_diff.get(op["name"]):
            reason = f"oracle mismatch: {oracle_diff[op['name']]}"
        if reason is not None:
            failed += 1
            notes.append(f"{where} {op['name']}: {reason}")
    return len(executions), failed, notes


def end_to_end(res, props, gen_s, failed_share):
    """Each operation's median time over the measured passes; their sum is
    the pass time of events_per_s, their median and third quartile are
    query_p50_s and query_p75_s. A slow outlier of one operation in one
    pass moves none of them."""
    passes = res["passes"]
    walls = [p["wall_s"] for p in passes]
    op_s = [statistics.median(p["ops"][i]["s"] for p in passes)
            for i in range(len(passes[0]["ops"]))]
    setup = gen_s + statistics.median(res["session_s"]) + res["warm_s"]
    return {
        "setup_s": setup,
        "events_per_s": props["events"] / sum(op_s),
        "query_p50_s": statistics.median(op_s),
        "query_p75_s": statistics.quantiles(op_s, n=4, method="inclusive")[2],
        "heap_retained_mb": passes[0]["heap_mb"],
    }, {"passes": len(walls), "ops_per_pass": len(op_s),
        "pass_wall_s": walls, "failed_share": failed_share,
        "op_median_s": {op["name"]: round(t, 3) for op, t in zip(passes[0]["ops"], op_s)}}


def self_times(spans):
    """Span duration minus the duration of its direct children, per span name."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def per_layer(res, failed_share):
    tr = res["trace"]
    spans = tr["spans"]
    by_name = {s["name"]: s for s in spans}
    m = {}
    for layer, attrs in LAYER_ATTRS:
        s = by_name.get(layer)
        for a in attrs:
            if s is None:
                m[f"{layer}.{a}"] = 0.0
            elif a == "s":
                m[f"{layer}.s"] = (s["end_ns"] - s["start_ns"]) / 1e9
            else:
                m[f"{layer}.{a}"] = s["attrs"].get(a, 0.0)
    pass_id = next(s["id"] for s in spans if s["name"] == "pass")
    op_spans = [s for s in spans if s["parent"] == pass_id]
    for stage in FLOW_STAGES:
        owner = "queries.EpiQueries" if stage.startswith("g22") else "queries.GeoQueries"
        m[f"{owner}.{stage}.s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in op_spans
                                      if s["name"] == f"{owner}.{stage}")
    for mod in MODULES:
        m[f"{mod}.s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in op_spans
                            if s["name"].rsplit(".", 1)[0] == mod)
    for c in SPARK_COUNTERS:
        m[c] = tr["pass_counters"].get(c, 0.0)
    m["spark.driver_only_s"] = tr["driver_only_s"]
    # the traced pass against the mean of the untraced passes around it
    m["tracing.overhead_s"] = tr["pass_s"] - tr["untraced_pass_s"]
    m["failed_share"] = failed_share
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    work = os.path.join(build.BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    verify_dir = os.path.join(work, "verify")
    os.makedirs(verify_dir)

    props, gen_s = generate(args.workload, args.seed, data_dir)
    log(f"{args.workload} seed={args.seed} inputs: {props}")
    ops = operations(args.workload, args.seed)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    res = run_jvm(classpath, work, data_dir, verify_dir, ops, args.seconds, args.trace, run_id,
                  jvm_flags=class_archive(classpath))
    oracle_diff = check.compare(verify_dir, data_dir)
    attempted, failed, notes = verify(res, oracle_diff)
    for n in notes:
        log(f"FAILED {n}")
    failed_share = failed / attempted

    if args.trace:
        metrics = per_layer(res, failed_share)
        trace_dir = os.path.join(build.BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        record = {"run_id": run_id, "inputs": props, "cpus": res["cpus"],
                  "metrics": metrics, "self_s": self_times(res["trace"]["spans"]),
                  "spans": res["trace"]["spans"]}
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1)
        log(f"trace record: {os.path.relpath(path, build.ROOT)}")
        for name, own in sorted(record["self_s"].items(), key=lambda kv: -kv[1]):
            log(f"  self {own:9.4f} s  {name}")
    else:
        metrics, info = end_to_end(res, props, gen_s, failed_share)
        log(f"summary: {info}")
    shutil.rmtree(work, ignore_errors=True)
    declared = declared_metrics(args.trace)
    missing = [n for n, _ in declared if n not in metrics]
    if missing:
        log(f"metrics declared but not measured: {missing}")
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
