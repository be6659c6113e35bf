#!/usr/bin/env python3
"""Link-graph engine benchmark.

Run from the root of a checkout:

    python3 linkbench/run.py --workload repo_resident --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (sbt, offline) on first use,
then runs the workload in a fresh JVM at up to 4 cores: two warm-up rounds,
then measured rounds until --seconds have passed. An end-to-end timing is
the best measured round; other metrics are the median round. The last line
of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics. With
--trace 1 measured rounds alternate traced and untraced (their difference is
the cost of tracing), and a fresh 1-core JVM then builds the same graph and
measures the same supersteps (the scaling pair); the metrics are the
per-layer metrics, and the spans are written as JSONL under
.bench_build/traces/. Exits non-zero on any correctness failure.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
OUT = ".bench_build"
WORKLOADS = ("repo_resident", "dense_scaling")
# fixed, pre-touched heaps that fit a 15 GB host with room to spare
HEAP = {"repo_resident": "3g", "dense_scaling": "5g"}
# a run's JVMs must all end within this many seconds of the build
RUN_TIMEOUT_S = 175

END_TO_END = {"setup_s": "s", "build_s": "s", "pagerank_s": "s", "superstep_eps": "edges/s",
              "answer_s": "s", "peak_heap_mb": "MB"}
# End-to-end timings take each run's best measured round: other tenants'
# interference only ever adds time. A round's peak heap moves with the timing
# of its collections, so the run reports the median round's.
BEST = {"build_s": min, "pagerank_s": min, "answer_s": min, "superstep_eps": max,
        "peak_heap_mb": statistics.median}

SOURCES = ("sources.extract_s", "sources.incidences")
ANALYTICS = (
    "analytics_s", "checkpoint_s",
    "engine.checkpoint_write_s", "engine.checkpoint_bytes", "engine.resume_s",
    "algo.cc_s", "algo.lpa_s", "algo.triangles_s", "algo.risk_s",
    "analytics.network_metrics_s", "analytics.high_risk_s")
PER_LAYER = {
    # name: unit; per-round samples (medians) and span counters alike
    "sources.extract_s": "s", "sources.incidences": "count",
    "graph.build_s": "s", "graph.build_jobs": "count", "graph.build_shuffle_bytes": "B",
    "graph.build_task_cpu_s": "s", "graph.degrees_s": "s",
    "graph.vertices": "count", "graph.edges": "count", "graph.blocks": "count",
    "engine.pre_superstep_s": "s", "engine.iterations": "count", "engine.pagerank_jobs": "count",
    "engine.superstep_ms.p50": "ms", "engine.superstep_ms.max": "ms",
    "engine.superstep_cpu_ms": "ms", "engine.superstep_gc_ms": "ms",
    "engine.superstep_shuffle_bytes": "B", "engine.superstep_shuffle_rows": "count",
    "engine.task_skew": "ratio", "engine.scaling_eff": "ratio",
    "engine.checkpoint_write_s": "s", "engine.checkpoint_bytes": "B", "engine.resume_s": "s",
    "algo.cc_s": "s", "algo.cc_jobs": "count", "algo.cc_shuffle_bytes": "B", "algo.cc_task_skew": "ratio",
    "algo.lpa_s": "s", "algo.lpa_jobs": "count", "algo.lpa_shuffle_bytes": "B", "algo.lpa_task_skew": "ratio",
    "algo.triangles_s": "s", "algo.triangles_jobs": "count", "algo.triangles_shuffle_bytes": "B",
    "algo.triangles_task_skew": "ratio",
    "algo.risk_s": "s", "algo.risk_jobs": "count", "algo.risk_shuffle_bytes": "B", "algo.risk_task_skew": "ratio",
    "analytics.network_metrics_s": "s", "analytics.high_risk_s": "s",
    "analytics_s": "s", "checkpoint_s": "s",
    "jvm.gc_s": "s", "jvm.driver_cpu_s": "s", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.spill_bytes": "B",
    "host.load1": "load", "host.steal_s": "s",
    "reference.pagerank_1thread_s": "s", "trace.overhead_s": "s",
}
# per-layer metrics of calls a workload does not make read 0
NOT_RUN = {"repo_resident": (), "dense_scaling": SOURCES + ANALYTICS}

# the engine's regime gates: the benchmark only reads them
GATES = ("ResidentFoldRows", "ResidentBuildBytes", "ResidentAssembleBytes", "BroadcastThresholdBytes",
         "LocalGatherBytes", "SlabBudgetBytes", "ResidentEdgeBytes")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_no_gate_writes():
    """Each regime must follow from input size alone, so no benchmark source
    may assign a gate; the JVM also checks that every gate ends as it began."""
    assign = re.compile(r"\b(%s)\s*=(?!=)" % "|".join(GATES))
    for d, _, fs in os.walk(f"{BENCH}/src"):
        for f in fs:
            for i, line in enumerate(open(os.path.join(d, f)), 1):
                if assign.search(line):
                    die(f"{os.path.join(d, f)}:{i} writes an engine gate")


def source_hash():
    """Hash of every file the build reads: a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties", f"{BENCH}/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compiles engine + benchmark once per source tree; returns the classpath
    and the tree's source hash."""
    stamp, cp_file = f"{OUT}/build.stamp", f"{OUT}/classpath.txt"
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.override.build.repos=true",
           "-Dsbt.offline=true", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    r = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    cp = r.stdout.strip().splitlines()[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, digest


def run_leg(cp, args, leg, cores, work, trace, deadline):
    cpus = ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:cores])
    cmd = ([shutil.which("taskset"), "-c", cpus] if shutil.which("taskset") else []) + [
        "java", *ADD_OPENS, f"-Xms{HEAP[args.workload]}", f"-Xmx{HEAP[args.workload]}",
        "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "linkbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace), "--cores", str(cores),
        "--work", work, "--leg", leg, "--spawn-ms", str(int(time.time() * 1000))]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    t0 = time.time()
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=max(1.0, deadline - t0))
    except subprocess.TimeoutExpired:
        die(f"{leg} leg ran past the {RUN_TIMEOUT_S} s run deadline")
    lines = [l for l in r.stdout.splitlines() if l.startswith("LINKBENCH ")]
    if not lines:
        sys.stderr.write(r.stderr[-6000:])
        die(f"{leg} leg exited {r.returncode} without a result")
    out = json.loads(lines[-1][len("LINKBENCH "):])
    if r.returncode != 0 and out["failed"] == 0:
        die(f"{leg} leg exited {r.returncode}")
    out["record"]["process_s"] = time.time() - t0
    return out


def compare_digests(args, legs, tree):
    """Digests of one seed must agree across legs and across runs of one
    source tree; another tree may compute the same answers differently."""
    path = f"{OUT}/digests/{tree}/{args.workload}-{args.seed}.json"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    known = json.load(open(path)) if os.path.exists(path) else {}
    attempted, failures = 0, []
    for leg in legs:
        for name, d in leg["digests"].items():
            if name in known:
                attempted += 1
                a, b = known[name]["value"], d["value"]
                same = a == b if d["exact"] else abs(float(a) - float(b)) <= 1e-9 * abs(float(a))
                if not same:
                    failures.append(f"{name} digest differs across runs of seed {args.seed}")
            else:
                known[name] = d
    with open(path, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return attempted, failures


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        die("run from the root of a checkout that holds the engine's sources")
    check_no_gate_writes()
    os.makedirs(OUT, exist_ok=True)
    cp, tree = classpath()
    deadline = time.time() + RUN_TIMEOUT_S

    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.abspath(f"{OUT}/work/{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        legs = [run_leg(cp, args, "round", cores, work, args.trace, deadline)]
        if args.trace:
            legs.append(run_leg(cp, args, "superstep", 1, work, 0, deadline))
        for f in os.listdir(f"{work}/trace") if os.path.isdir(f"{work}/trace") else ():
            os.makedirs(f"{OUT}/traces", exist_ok=True)
            shutil.move(f"{work}/trace/{f}", f"{OUT}/traces/{f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    main_leg = legs[0]
    values = dict(main_leg["values"])
    attempted = sum(l["attempted"] for l in legs)
    failures = [f for l in legs for f in l["failures"]]
    n, fs = compare_digests(args, legs, tree)
    attempted, failures = attempted + n, failures + fs

    if args.trace:
        values.update(main_leg["layers"])
        values["host.load1"] = main_leg["record"]["load1_before"]
        values["reference.pagerank_1thread_s"] = main_leg["reference_s"]
        values["trace.overhead_s"] = main_leg["record"]["round_s"] - main_leg["record"]["untraced_round_s"]
        values["engine.scaling_eff"] = legs[1]["values"]["superstep_s"] / values["superstep_s"] / cores
        for k in NOT_RUN[args.workload]:
            values.setdefault(k, 0.0)
        missing = [k for k in PER_LAYER if k not in values]
        if missing:
            die(f"no value for {missing}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values["setup_s"] = main_leg["setup_s"]
        for k, best in BEST.items():
            values[k] = best(r[k] for r in main_leg["round_values"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    record = {"commit": commit(), "source_sha256": tree,
              "nproc": len(os.sched_getaffinity(0)), "cores": cores, "heap": HEAP[args.workload],
              "legs": [dict(l["record"], values=l["values"], round_values=l["round_values"]) for l in legs],
              "seed": args.seed, "trace": args.trace,
              "failures": failures, "metrics": metrics}
    os.makedirs(f"{OUT}/records", exist_ok=True)
    with open(f"{OUT}/records/{int(time.time())}-{args.workload}-{args.seed}-t{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
