#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) under ``perfbench/target`` and
``target``; later runs reuse the build while the sources are unchanged.
Inputs are generated from ``--seed`` under ``.bench_build/perfbench/out``,
the harness runs the workload in one JVM on ``local[4]``, the outputs are
checked apart from the engine (and kept there, the inputs removed), and the
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
from a run with the benchmark's Spark listeners attached. A readable report,
including the workload-specific figures, goes to standard error.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

PM25_ROWS = 30000
# Per workload: the scale factor and tables it reads (None: the PM2.5
# input), and the nominal seconds of one warm pass on a 4-core machine.
# A run makes round(--seconds / nominal) warm passes, at least one. The count
# is fixed rather than stopped by elapsed time because warm passes still
# speed up pass by pass: runs split between one and two passes would report
# medians a quarter apart.
WORKLOADS = {
    "pm25_kmeans": (None, 4.0),
    "tpch_sf0.1": ((0.1, ("region", "nation", "customer", "supplier", "part", "orders",
                          "lineitem")), 5.0),
    "pipeline_sf0.01": ((0.01, ("documents", "embeddings")), 6.5),
}
END_TO_END = (("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"))
PER_LAYER = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("catalyst.actions", "count"), ("spark.driver_gap_s", "s"), ("spark.job_busy_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.cold_s", "s"), ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("spark.task_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.slot_use", "ratio"), ("scan.input_bytes", "bytes"), ("scan.input_rows", "rows"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes"), ("spill.bytes", "bytes"),
    ("output.bytes_written", "bytes"), ("spark.late_jobs", "count"),
    ("jvm.peak_heap_mb", "MB"), ("jvm.gc_s", "s"), ("trace.overhead_s", "s"),
)
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so an edited tree is rebuilt."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    for top in tops:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top)
                else sorted(os.walk(top)))
        for d, _, files in walk:
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file):
            saved_stamp, cp = open(cp_file).read().split("\n", 1)
            if saved_stamp == stamp:
                return cp.strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else ""))
        log("building engine and harness (sbt, offline)")
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
        lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and ":" in ln]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
            raise SystemExit("build failed")
        log(f"built in {time.time() - t0:.1f} s")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp)
        return cp


def make_inputs(workload, seed, data):
    """Generate the workload's inputs for ``seed`` into ``data``."""
    if workload == "pm25_kmeans":
        gen.write_pm25(data, PM25_ROWS, seed)
    else:
        sf, tables = WORKLOADS[workload][0]
        gen.write_tables(data, sf, seed, tables)


def run_harness(cp, workload, data, out, passes, trace):
    """Run the harness JVM; its working directory (where the engine keeps
    its index scratch) and temp directory live under ``out``."""
    run_dir, tmp = os.path.join(out, "cwd"), os.path.join(out, "tmp")
    for d in (run_dir, tmp):
        os.makedirs(d)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "graft.perfbench.PerfBench", workload, data, out, str(passes), str(trace)]
    with open(os.path.join(out, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(path):
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    return json.load(open(path))


def summarize(res, trace):
    """End-to-end or per-layer metrics from the harness result."""
    passes = res["passes"]
    cold = passes[0]
    warm = passes[1:]
    if trace:
        return {k: (res["layers"][k], u) for k, u in PER_LAYER}
    op_walls = [o["build"] + o["exec"] for p in warm for o in p["ops"]]
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_pass_s": cold["wall"],
        "pass_s": statistics.median(p["wall"] for p in warm),
        "op_p50_s": statistics.median(op_walls),
    }
    return {k: (values[k], u) for k, u in END_TO_END}


def details(workload, res):
    """Workload-specific figures for the report."""
    warm = res["passes"][1:]
    out = dict(res.get("detail", {}))
    by_op = {}
    for p in warm:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(o["build"] + o["exec"])
    for name, xs in by_op.items():
        out[f"{name}_s" if workload == "pm25_kmeans" else f"op.{name}.s"] = statistics.median(xs)
    if workload == "pm25_kmeans" and "KMeans.lloyd" in by_op:
        iters = out.get("KMeans.iterations", 5)
        out["kmeans_points_per_s"] = PM25_ROWS * iters / out["KMeans.lloyd_s"]
    if workload != "pipeline_sf0.01":
        out.pop("index_bytes", None)
    out["warm_passes"] = len(warm)
    return out


def main():
    # a terminated run still stops the harness JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from a checkout of the graft engine "
                         "(build.sbt and src/main/scala/graft not found)")
    cp = build()
    out = os.path.join(WORK, "out", f"{a.workload}-{a.seed}-{a.trace}")
    data = os.path.join(out, "data")
    shutil.rmtree(out, ignore_errors=True)
    make_inputs(a.workload, a.seed, data)
    try:
        passes = max(1, int(a.seconds / WORKLOADS[a.workload][1] + 0.5))
        res = run_harness(cp, a.workload, data, out, passes, a.trace)
        ops = [o for p in res["passes"] for o in p["ops"]]
        failed = sum(1 for o in ops if not o["ok"])
        if a.workload == "pm25_kmeans":
            problems = check.kmeans(data, out)
        else:
            problems = check.oracle(data, out, [o["name"] for o in res["passes"][0]["ops"]
                                                if o["ok"]])
    finally:
        for d in ("data", "cwd", "tmp"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    for p in problems:
        log(f"INCORRECT {p}")
    metrics = summarize(res, a.trace)
    for k, (v, u) in metrics.items():
        log(f"{k} = {v:.6g} {u}")
    for k, v in details(a.workload, res).items():
        log(f"  {k} = {v:.6g}")
    if a.trace:
        log(f"spans: {os.path.join(out, 'spans.jsonl')}")
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
