#!/usr/bin/env python3
"""Benchmark of the KASCADE Spark engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the harness and
the library together from source (sbt, offline); later runs reuse the build
until a source file changes. The run generates its inputs from the seed,
starts one JVM at local[nproc], sets up, runs passes of the workload in a
closed loop for S seconds, checks every output, and prints its metrics. The
last line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics when --trace 0 and the per-layer
metrics when --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170

CATALOG_QUERIES = [
    "q81_pagerank", "q230_hits", "q488_running_drawdown", "q139_equidepth_hist",
    "q346_youden_threshold", "q254_timer_sessions", "q241_native_asof",
]
# Input sizes, set by the run budget (README.md). The catalog tables have the
# row counts of the 0.01 scale factor fixtures.
SIZES = {
    "e2e_reference": {"events": 40000, "ingest": 2000},
    "curation_mix": {"docs": 500, "vectors": 500, "events": 10000, "users": 150,
                     "orders": 15000, "customers": 1500, "suppliers": 100, "parts": 2000},
}
UNITS = {"e2e_reference": "events", "curation_mix": "operations"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

ENGINE_METRICS = [
    ("catalyst.plan_s", "s"), ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.stages_skipped", "count"), ("scheduler.skipped_ratio", "ratio"),
    ("scheduler.tasks", "count"), ("scheduler.delay_s", "s"), ("executor.run_s", "s"),
    ("executor.cpu_s", "s"), ("executor.cpu_ratio", "ratio"), ("executor.gc_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.write_records", "count"),
    ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"), ("memory.spill_bytes", "bytes"),
    ("memory.peak_exec_bytes", "bytes"), ("storage.cached_bytes", "bytes"),
    ("sources.scan_bytes", "bytes"), ("sources.scan_records", "count"),
    ("output.write_bytes", "bytes"),
]
REF_SPANS = ["ref." + s for s in ("ingest", "build", "augment", "fit", "score", "curve")]
CUR_SPANS = ["cur." + s for s in ("blocked", "quality", "exact", "scrub", "near", "sem",
                                  "decon", "tilt", "packed", "mixed")]
Q_SPANS = ["q." + q for q in CATALOG_QUERIES]
ITERATIVE_SPANS = ["cur.near", "cur.sem"] + ["q." + q for q in CATALOG_QUERIES[:2]]


def per_layer_names():
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    names = [("session.start_s", "s")] + ENGINE_METRICS
    names += [("trace.untraced_s", "s"), ("trace.overhead_s", "s")]
    for span in REF_SPANS + CUR_SPANS + Q_SPANS:
        names += [(span + ".wall_s", "s"), (span + ".cpu_s", "s"),
                  (span + ".shuffle_bytes", "bytes")]
        if span in ITERATIVE_SPANS:
            names.append((span + ".jobs", "count"))
    return names


def source_digest():
    h = hashlib.sha1()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + library with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_file = os.path.join(BUILD_DIR, "perfbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(BUILD_DIR, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


def spark_home():
    """The Spark installation whose jars the build compiles against:
    SPARK_HOME, else the Spark that the pyspark package bundles."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        return spec.submodule_search_locations[0]
    raise SystemExit("perfbench: no Spark installation found; set SPARK_HOME")


def run_jvm(classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The throughput collector with a fixed heap and young generation: peak
    # RSS then follows the data the program retains, not the collector's
    # adaptive sizing, which moved it by 20-30% between identical runs.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: the JVM ran past the time limit")
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: the JVM exited with %d" % proc.returncode)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check_ops(result, seed):
    """Counts operations and failures; an output that differs from its
    golden fingerprint is a failure. The catalog queries' tables do not
    depend on the seed, so their goldens hold for every seed; the other
    goldens hold for the default seed."""
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    want = dict(golden["every_seed"])
    if seed == golden["default_seed"]:
        want.update(golden["default_seed_only"])
    attempted = failed = 0
    errors = []
    for p in result["passes"]:
        for op in p["ops"]:
            attempted += 1
            err = op["error"]
            if not err and op["name"] in want and op["out"] != want[op["name"]]:
                err = "output %s, golden %s" % (op["out"], want[op["name"]])
            if err:
                failed += 1
                errors.append("pass %d %s: %s" % (p["id"], op["name"], err))
    return attempted, failed, errors


def end_to_end(result, attempted, failed):
    passes = result["passes"]
    wall = median([p["wall_s"] for p in passes])
    return [
        ("setup_s", result["setup_s"], "s"),
        ("wall_s", wall, "s"),
        ("throughput", result["items"] / wall, "1/s"),
        ("cpu_s", median([p["cpu_s"] for p in passes]), "s"),
        ("peak_rss_mb", result["peak_rss_mb"], "MiB"),
        ("shuffle_bytes", median([p["engine"]["shuffle_bytes"] for p in passes]), "bytes"),
        ("ok_ratio", (attempted - failed) / attempted, "ratio"),
    ]


def per_layer(result):
    traced = result["passes"]

    def eng(p):
        e = p["engine"]
        stages_skipped = max(0, e["stages"] - e["stages_submitted"])
        return {
            "catalyst.plan_s": e["plan_ms"] / 1e3, "scheduler.jobs": e["jobs"],
            "scheduler.stages": e["stages"], "scheduler.stages_skipped": stages_skipped,
            "scheduler.skipped_ratio": stages_skipped / e["stages"] if e["stages"] else 0.0,
            "scheduler.tasks": e["tasks"], "scheduler.delay_s": e["sched_delay_ms"] / 1e3,
            "executor.run_s": e["run_ms"] / 1e3, "executor.cpu_s": e["cpu_ns"] / 1e9,
            "executor.cpu_ratio": e["cpu_ns"] / 1e6 / e["run_ms"] if e["run_ms"] else 0.0,
            "executor.gc_s": e["gc_ms"] / 1e3, "shuffle.write_bytes": e["shuffle_bytes"],
            "shuffle.write_records": e["shuffle_records"],
            "shuffle.write_s": e["shuffle_write_ns"] / 1e9,
            "shuffle.fetch_wait_s": e["fetch_wait_ms"] / 1e3,
            "memory.spill_bytes": e["spill_bytes"], "memory.peak_exec_bytes": p["peak_exec_bytes"],
            "storage.cached_bytes": p["cached_bytes"], "sources.scan_bytes": e["scan_bytes"],
            "sources.scan_records": e["scan_records"], "output.write_bytes": e["output_bytes"],
        }

    values = {name: median([eng(p)[name] for p in traced]) for name, _ in ENGINE_METRICS}
    values["session.start_s"] = result["session_s"]
    by_pass = {}
    for s in result["spans"]:
        by_pass.setdefault(s["pass"], []).append(s)
    untraced_s, overhead_s, span_vals = [], [], {}
    for pid, spans in by_pass.items():
        root = [s for s in spans if s["name"] == "pass"][0]
        children = [s for s in spans if s["parent"] == root["id"]]
        overhead_s.append(sum(s["overhead_s"] for s in spans))
        untraced_s.append((root["end_s"] - root["start_s"])
                          - sum(s["end_s"] - s["start_s"] for s in children))
        for s in children:
            v = span_vals.setdefault(s["name"], {"wall_s": [], "cpu_s": [],
                                                 "shuffle_bytes": [], "jobs": []})
            v["wall_s"].append(s["end_s"] - s["start_s"])
            v["cpu_s"].append(s["cpu_s"])
            v["shuffle_bytes"].append(s["engine"]["shuffle_bytes"])
            v["jobs"].append(s["engine"]["jobs"])
    values["trace.untraced_s"] = median(untraced_s)
    values["trace.overhead_s"] = median(overhead_s)
    out = []
    for name, unit in per_layer_names():
        if name in values:
            v = values[name]
        else:
            span, field = name.rsplit(".", 1)
            # spans of another workload did not run: 0
            v = median(span_vals[span][field]) if span in span_vals else 0
        out.append((name, v, unit))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: no program sources at %s; run from the root of a "
                         "source checkout" % PROGRAM_SRC)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    classpath = build()
    # the build may take long on the first run; the run itself gets the
    # remaining budget measured from here
    deadline = max(deadline, time.monotonic() + 150)

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    run_dir = os.path.join(WORK, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = os.path.join(run_dir, "data")
    size = SIZES[a.workload]
    if a.workload == "curation_mix":
        gen.curation_tables(os.path.join(data, "curation"), size, a.seed)
        gen.catalog_tables(os.path.join(data, "catalog"), size)
        size = {"queries": "+".join(CATALOG_QUERIES)}
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", os.path.join(run_dir, "work"),
            "--out", out, "--size", ",".join("%s=%s" % kv for kv in size.items())]
    try:
        run_jvm(classpath, args, run_dir, deadline)
        with open(out) as f:
            result = json.load(f)
    finally:
        for d in ("data", "work", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    attempted, failed, errors = check_ops(result, a.seed)
    for e in errors:
        print("FAILED " + e)
    host = result["host"]
    print("host: steal %.2f%%, per-thread spread %.2f%%" % (host["steal_pct"], host["spread_pct"]))
    print("%s: %d %s passes of %d %s, %d operations, %d failed" % (
        a.workload, len(result["passes"]), "traced" if a.trace else "timed", result["items"],
        UNITS[a.workload], attempted, failed))
    if a.trace:
        metrics = per_layer(result)
    else:
        metrics = end_to_end(result, attempted, failed)
        metrics.append(("fail_ratio", failed / attempted, "ratio"))
    for name, v, unit in metrics:
        print("  %-36s %16.6f %s" % (name, v, unit))
    if not a.trace:
        metrics.pop()  # fail_ratio is printed; the JSON carries attempted/failed
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, v, u in metrics}}))


if __name__ == "__main__":
    main()
