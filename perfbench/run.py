#!/usr/bin/env python3
"""Benchmark of the TalkNet batch pipeline, its model forward and its
query catalog. Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_dag --seed 1 --seconds 10 --trace 0

Workloads (one kind of work each; see perfbench/README.md):
  pipeline_dag   q44, the whole reference DAG, on a generated events table;
                 its traced run also times the real S3FD + TalkNet forwards
  query_mix      a fixed list of sf0.1-sized queries in a seeded order

The first run compiles the program and the benchmark into .bench_build.
Each run generates its inputs from --seed, runs an untimed check pass
at the measured scale whose outputs are compared with the program's
DuckDB oracles, then measures passes for --seconds. --trace 1 adds the
per-layer figures. --fault OP (q44, q20, ...) corrupts the first
timed result of OP to show that a failure is counted and named. The last line of stdout is
one JSON object with the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pipeline_dag", "query_mix")
BUILD_DIR = ".bench_build/perfbench"
WORK_DIR = ".bench_work"
DEADLINE_S = 170
PIPELINE_STAGES = ("frames", "scenes", "detect", "assign", "track", "score", "segments")

# Every per-layer metric, printed on every traced run; a layer that did
# no work on a workload reports 0.
PER_LAYER = (
    [(f"pipeline.{s}_s", "s") for s in PIPELINE_STAGES]
    + [("pipeline.stages_sum_s", "s"), ("pipeline.fused_s", "s")]
    + [(f"pipeline.{c}", "count") for c in ("frames", "detections", "tracks", "scored_frames", "segments")]
    + [("pipeline.det_kept_ratio", "ratio"), ("pipeline.scored_ratio", "ratio")]
    + [(f"nn.talknet.{b}_s", "s") for b in ("audio", "visual_frontend", "visual_temporal", "fusion")]
    + [("nn.s3fd.forward_s", "s"), ("nn.s3fd.post_s", "s")]
    + [(f"nn.{k}.gflops", "GFLOP/s") for k in ("conv1d", "conv2d", "conv3d", "linear")]
    + [(f"nn.{k}.gflop", "GFLOP") for k in ("conv1d", "conv2d", "conv3d", "linear")]
    + [("nn.alloc_mb_per_clip", "MB"), ("nn.checkpoint_load_s", "s")]
    + [(f"queries.{q}_s", "s") for q in gen.QUERY_MIX]
    + [("queries.plan_s", "s"), ("queries.exec_s", "s"), ("queries.jobs", "count")]
    + [("streaming.batches", "count")]
    + [(f"streaming.{p}_s", "s") for p in ("trigger", "planning", "wal_commit", "state_commit", "start_stop")]
    + [("sources.input_mb", "MB"), ("sources.input_rows", "count"), ("sources.rows_per_result_row", "ratio")]
    + [("sinks.output_mb", "MB"), ("sinks.files_written", "count"), ("sinks.write_s", "s")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_s", "s"), ("spark.task_cpu_s", "s"), ("spark.cpu_util", "ratio"),
       ("spark.scheduler_delay_s", "s"), ("spark.shuffle_write_mb", "MB"),
       ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
       ("spark.peak_exec_mem_mb", "MB"), ("spark.stage_skew", "ratio")]
    + [("jvm.gc_s", "s"), ("jvm.alloc_mb", "MB"), ("jvm.jit_s", "s"),
       ("host.steal_frac", "ratio"), ("host.iowait_frac", "ratio")]
    + [("trace.overhead_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.traced_wall_s", "s")]
)

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the program's build.sbt compiles against."""
    if not os.path.isfile("build.sbt") or not os.path.isdir("src/main/scala/graft"):
        fail("run from the root of a checkout: build.sbt and src/main/scala/graft are missing")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', Path("build.sbt").read_text())
    if not m or not glob.glob(f"{m.group(1)}/spark-sql_*.jar"):
        fail("build.sbt names no unmanagedBase directory holding the Spark jars")
    return m.group(1)


def build(jars):
    """Compile the program and the benchmark with scalac, once per
    source tree (keyed by a hash of every source file)."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)) + \
        sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode() + b"\0" + Path(s).read_bytes())
    out = f"{BUILD_DIR}/{h.hexdigest()[:16]}"
    if os.path.exists(f"{out}/ok"):
        return f"{out}/classes"
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(f"{out}/classes")
    with open(f"{out}/scalac.log", "w") as log:
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                            "-nowarn", "-d", f"{out}/classes", "-classpath", f"{jars}/*", *srcs],
                           stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"compile failed, see {out}/scalac.log")
    open(f"{out}/ok", "w").close()
    return f"{out}/classes"


def generate(workload, seed, data):
    """Write the seed's inputs once; returns the write time and the
    generator's summary. The unit tests check that a seed always gives
    the same bytes."""
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    t = time.perf_counter()
    info = gen.GENERATORS[workload](seed, data)
    return time.perf_counter() - t, info


def run_jvm(args, jars, classes, data, result, deadline):
    heap = "3g"
    # a fixed set of JIT compiler threads, so their CPU can be told apart
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UseDynamicNumberOfCompilerThreads", *JDK_OPENS, f"-Djava.io.tmpdir={data}/work/tmp",
           "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
           "--workload", args.workload, "--data", data, "--out", result,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
           "--cores", str(len(os.sched_getaffinity(0))), "--fault", args.fault or ""]
    os.makedirs(f"{data}/work/tmp", exist_ok=True)
    with open(f"{data}/jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} did not finish within {DEADLINE_S} s")
    if r.returncode != 0 or not os.path.exists(result):
        tail = Path(f"{data}/jvm.log").read_text().splitlines()[-20:]
        fail(f"benchmark JVM exited with {r.returncode}:\n" + "\n".join(tail))
    return json.loads(Path(result).read_text())


def oracle_failures(data):
    """Op name -> reason, for ops whose check output differs from the
    program's oracle."""
    return {k.split("_")[0]: f"oracle: {m}"
            for k, m in oracle.check_queries(data, f"{data}/check").items() if m}


def per_layer(res, workload):
    traced = [p for p in res["passes"] if p["kind"] == "traced"]
    untraced = [p for p in res["passes"] if p["kind"] == "untraced"]
    n = max(1, len(traced))
    c = res["counters"]
    x = res["extras"]
    ms = metrics.mean_self_by_name(res["spans"])
    v = {}
    for s in PIPELINE_STAGES:
        v[f"pipeline.{s}_s"] = ms.get(f"pipeline.{s}", 0.0)
    v["pipeline.stages_sum_s"] = sum(v[f"pipeline.{s}_s"] for s in PIPELINE_STAGES)
    v["pipeline.fused_s"] = statistics.median(p["wall_s"] for p in untraced) \
        if workload == "pipeline_dag" else 0.0
    for k in ("frames", "detections", "tracks", "scored_frames", "segments",
              "det_kept_ratio", "scored_ratio"):
        v[f"pipeline.{k}"] = x.get(f"pipeline.{k}", 0.0)
    for b in ("audio", "visual_frontend", "visual_temporal", "fusion"):
        v[f"nn.talknet.{b}_s"] = x.get(f"nn.talknet.{b}_s", 0.0)
    v["nn.s3fd.forward_s"] = ms.get("nn.s3fd.forward", 0.0)
    v["nn.s3fd.post_s"] = ms.get("nn.s3fd.post", 0.0)
    for k in ("conv1d", "conv2d", "conv3d", "linear"):
        v[f"nn.{k}.gflops"] = x.get(f"nn.{k}.gflops", 0.0)
        v[f"nn.{k}.gflop"] = x.get(f"nn.{k}.gflop", 0.0)
    v["nn.alloc_mb_per_clip"] = x.get("nn.alloc_mb_per_clip", 0.0)
    v["nn.checkpoint_load_s"] = x.get("nn.checkpoint_load_s", 0.0)
    for q in gen.QUERY_MIX:
        v[f"queries.{q}_s"] = ms.get(f"queries.{q}", 0.0)
    v["queries.plan_s"] = c.get("queries.plan_s", 0.0) / n
    v["queries.exec_s"] = c.get("queries.exec_s", 0.0) / n
    v["queries.jobs"] = c.get("spark.jobs", 0.0) / n
    v["streaming.batches"] = c.get("streaming.batches", 0.0) / n
    for p in ("trigger", "planning", "wal_commit", "state_commit"):
        v[f"streaming.{p}_s"] = c.get(f"streaming.{p}_s", 0.0) / n
    v["streaming.start_stop_s"] = (c.get("streaming.lifetime_s", 0.0) - c.get("streaming.trigger_s", 0.0)) / n
    v["sources.input_mb"] = c.get("sources.input_mb", 0.0) / n
    v["sources.input_rows"] = c.get("sources.input_rows", 0.0) / n
    result_rows = sum(o["rows"] for p in traced for o in p["ops"]) / n
    v["sources.rows_per_result_row"] = v["sources.input_rows"] / result_rows if result_rows else 0.0
    for k in ("output_mb", "files_written", "write_s"):
        v[f"sinks.{k}"] = c.get(f"sinks.{k}", 0.0) / n
    for k in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "scheduler_delay_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        v[f"spark.{k}"] = c.get(f"spark.{k}", 0.0) / n
    v["spark.cpu_util"] = c["spark.task_cpu_s"] / c["spark.task_s"] if c.get("spark.task_s") else 0.0
    v["spark.peak_exec_mem_mb"] = c.get("spark.peak_exec_mem_mb", 0.0)
    v["spark.stage_skew"] = c.get("spark.stage_skew", 0.0)
    for k in ("gc_s", "alloc_mb", "jit_s"):
        v[f"jvm.{k}"] = statistics.mean(p["host"][k] for p in traced)
    for k in ("steal_frac", "iowait_frac"):
        v[f"host.{k}"] = statistics.mean(p["host"][k] for p in traced)
    tw = statistics.median(p["wall_s"] for p in traced)
    uw = statistics.median(p["wall_s"] for p in untraced)
    v["trace.overhead_s"], v["trace.untraced_wall_s"], v["trace.traced_wall_s"] = tw - uw, uw, tw
    print("span self times (mean s): " + ", ".join(f"{k}={t:.4f}" for k, t in sorted(ms.items())))
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", help="op name whose first timed result is corrupted")
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    deadline = time.monotonic() + DEADLINE_S  # the first run's build has its own limit
    data = os.path.abspath(f"{WORK_DIR}/{args.workload}")
    gen_s, info = generate(args.workload, args.seed, data)
    t_jvm = time.monotonic()
    res = run_jvm(args, jars, classes, data, f"{data}/result.json", deadline)
    t_oracle = time.monotonic()
    kinds = ("traced", "untraced") if args.trace else ("timed",)
    passes = [p for p in res["passes"] if p["kind"] in kinds]
    ops = metrics.judge(passes, oracle_failures(data))
    print(f"{args.workload} seed={args.seed} inputs={json.dumps(info)} gen_s={gen_s:.3f} "
          f"setup={json.dumps(res['setup_parts'])} jvm_s={t_oracle - t_jvm:.1f} "
          f"oracle_s={time.monotonic() - t_oracle:.1f}")
    for p in res["passes"]:
        h = p["host"]
        print(f"pass {p['index']:>2} {p['kind']:<8} wall_s={p['wall_s']:.3f} items={p['items']} "
              f"steal={h['steal_frac']:.4f} iowait={h['iowait_frac']:.4f} gc_s={h['gc_s']:.3f} "
              f"jit_s={h['jit_s']:.3f} jit_cpu_s={h['jit_cpu_s']:.3f} cpu_s={h['cpu_s']:.3f}")
        if len(p["ops"]) > 1:
            print("    ops: " + " ".join(f"{o['name']}={o['secs']:.3f}" for o in p["ops"]))
    t = metrics.tail([o["secs"] for o in ops])
    print(f"op_tail_s={t['value']:.4f} at p{t['pct']:.1f} of n={t['n']} ops" if t else
          f"op_tail_s omitted: {len(ops)} ops, fewer than 11")
    for o in ops:
        if o["error"]:
            print(f"FAILED op {o['name']}: {o['error']}")

    failed = sum(1 for o in ops if o["error"])
    if args.trace:
        out = per_layer(res, args.workload)
    else:
        e2e = metrics.end_to_end(passes, ops, gen_s + res["setup_s"], res["peak_rss_mb"])
        out = {k: {"value": val, "unit": u} for k, (val, u) in e2e.items()}
    shutil.rmtree(data, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
