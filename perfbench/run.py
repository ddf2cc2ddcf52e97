#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: orchestration, lake_scan, txn_mixed (see BENCHMARK.json).

The command builds the engine from the checkout's sources together with
the harness in perfbench/ (sbt, first run only), generates the
workload's lake, runs the JVM harness (one process, one Spark session,
one closed-loop client), checks every result, and prints one JSON object
as the last line of standard output: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer metrics of a traced run.

Outputs are checked outside the timed interval: each query's rows against
the DuckDB oracle SQL the engine ships (`SparkEntry.oracleSql`), each txn
read against the model the harness keeps. A mismatch fails the
operation. Each run keeps its scratch in its own directory under
.bench_runs/ and removes it afterwards; the run artifact, with the
numbers behind every metric, goes to .bench_out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as git would commit it
import check  # noqa: E402
import gen_lake  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# Lake per workload: (scale factor, data seed). The lake is fixed input
# data; the run seed sets the operation order and the txn sequence.
LAKES = {
    "orchestration": (0.01, 42),
    "lake_scan": (0.1, 42),
    "txn_mixed": (0.02, 42),
}

# The end-to-end metrics of the result line: those every workload has,
# that are never 0, and that repeat across seeds within their bounds.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "retained_heap_mb": "MB",
}

# Further end-to-end figures, printed on the line before the result and
# stored in the artifact. Per-operation latency is here because one
# orchestration run makes only seven operations, too few for a median
# that repeats across seeds or for any tail; the rest apply to one
# workload only or read 0 when all is well.
EXTRA_END_TO_END = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "failed_frac": "ratio",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

TXN_VERBS = ["append", "merge", "delete_mor", "update_mor", "sql_dml", "compact_small",
             "read_tip", "read_pruned", "read_asof", "changes"]
FS_OPS = ["list", "open", "create", "rename", "status"]

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.staged_tables": "count", "queries.release_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_deser_s": "s", "sched.delay_s": "s",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s", "exec.cpu_util": "ratio",
    "exec.input_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.fetch_wait_s": "s", "exec.spill_bytes": "B",
    **{f"txn.{v}.{k}": u for v in TXN_VERBS[:6]
       for k, u in (("s", "s"), ("jobs", "count"), ("bytes_written", "B"))},
    **{f"txn.{v}.{k}": u for v in TXN_VERBS[6:] for k, u in (("s", "s"), ("jobs", "count"))},
    "txn.snapshot_tip_s": "s", "txn.snapshot_asof_s": "s",
    "txn.log_bytes_per_commit": "B", "txn.checkpoints": "count",
    **{f"fs.{p}.{o}": "count" for p in ("commit", "read") for o in FS_OPS},
    "observe.spans": "count", "observe.install_s": "s", "observe.uninstall_s": "s",
    "host.calib_s": "s", "host.calib_spread": "ratio",
    "bench.trace_overhead_frac": "ratio", "bench.span_coverage": "ratio",
}

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def sources_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(build_dir, "classpath.json")
    digest = sources_digest(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    log("building engine and harness with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation whose jars the build uses")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if "target/scala-2.13/classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1]}, fh)
    return cps[-1]


def lake_dir(build_dir, workload):
    """The workload's lake, generated once per checkout (it is fixed data)."""
    sf, data_seed = LAKES[workload]
    with open(os.path.join(HERE, "gen_lake.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    name = f"sf{sf}_seed{data_seed}_{tag}"
    path = os.path.join(build_dir, "lake", name, "lake")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_lake.generate(tmp, sf, data_seed)
        os.replace(tmp, path)
    return path


def run_jvm(classpath, args, lake, run_dir, record):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + run_dir, *opens,
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--lake", lake, "--run-dir", run_dir, "--out", record]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness exited with {rc}")
    with open(record) as fh:
        return json.load(fh)


def percentile(sorted_vals, p):
    """Nearest-rank percentile of an ascending list."""
    k = max(0, min(len(sorted_vals) - 1, math.ceil(p / 100.0 * len(sorted_vals)) - 1))
    return sorted_vals[k]


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def tail(vals):
    """The highest percentile with at least ten samples beyond it, or None
    when even the median has fewer."""
    s = sorted(vals)
    n = len(s)
    p = next((q for q in TAIL_PERCENTILES if n * (1 - q / 100.0) >= 10), None)
    return (percentile(s, p) if p else None), p, n


def end_to_end(rec, failed_ops):
    ops = rec["ops"]
    lat = [o["latency_s"] for o in ops]
    t, p, n = tail(lat)
    m = {
        "setup_s": statistics.median(rec["setup_s"]),
        "pass_s": statistics.median(rec["pass_s"]),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t,
        "retained_heap_mb": rec["retained_heap_mb"],
        "failed_frac": failed_ops / len(ops),
    }
    info = {"latency_tail": {"percentile": p, "samples": n}}
    if rec["workload"] == "txn_mixed":
        for kind, name in (("write", "commit"), ("read", "read")):
            vals = [o["latency_s"] for o in ops if o["kind"] == kind]
            if vals:
                t, p, n = tail(vals)
                m[f"{name}_p50_s"] = statistics.median(vals)
                m[f"{name}_tail_s"] = t
                info[f"{name}_tail"] = {"percentile": p, "samples": n}
        m["write_amp"] = rec["write_amp"]
        m["space_amp"] = rec["space_amp"]
    return m, info


def host_noise(calib):
    """The calibration probe's median time and its relative spread over the
    run's start, middle and end."""
    med = statistics.median(calib)
    return {"host.calib_s": med, "host.calib_spread": (max(calib) - min(calib)) / med}


def per_layer(rec):
    passes = max(1, len(rec["pass_s"]))
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in rec.get("layer_totals", {}).items():
        out[k] = v / passes
    for k, v in rec.get("layer_query", {}).items():
        out[k] = v / passes
    for k, v in rec.get("layer_txn", {}).items():
        # Per-verb figures are already means per operation; the file
        # system and checkpoint counts are run totals.
        out[k] = v / passes if k.startswith("fs.") or k == "txn.checkpoints" else v
    wall = sum(rec["pass_s"])
    out["exec.cpu_util"] = out["exec.cpu_s"] * passes / (4.0 * wall) if wall else 0.0
    calib = rec["calib_s"]
    out.update(host_noise(calib))
    timed = rec["timed_wall_s"] - (calib[1] if len(calib) > 2 else 0.0)
    # Tracing's cost to the timed section: the time it spent blocked
    # draining the listener bus so that every event lands in its operation.
    wait = rec["trace_wait_s"]
    out["bench.trace_overhead_frac"] = wait / (timed - wait) if timed > wait else 0.0
    out["bench.span_coverage"] = rec["op_span_s"] / timed if timed > 0 else 0.0
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(LAKES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) "
             "are not here")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    classpath = build(root, build_dir)
    lake = lake_dir(build_dir, args.workload)

    run_dir = os.path.join(root, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    record_path = os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}-record.json")
    try:
        t0 = time.time()
        rec = run_jvm(classpath, args, lake, run_dir, record_path)
        log(f"harness finished in {time.time() - t0:.1f}s")
        failed = {i for i, o in enumerate(rec["ops"]) if not o["ok"]}
        mismatched = check.oracle_check(lake, run_dir, rec) if "dumps" in rec else {}
        for q, why in mismatched.items():
            log(f"wrong result {q}: {why}")
            failed |= {i for i, o in enumerate(rec["ops"]) if o["name"] == q}
        scratch_peak = tree_bytes(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    left = tree_bytes(run_dir) if os.path.exists(run_dir) else 0

    e2e, info = end_to_end(rec, len(failed))
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "lake": {"sf": LAKES[args.workload][0],
                                      "data_seed": LAKES[args.workload][1],
                                      "bytes": tree_bytes(lake)},
        "end_to_end": {k: {"value": v, "unit": {**END_TO_END, **EXTRA_END_TO_END}[k]}
                       for k, v in e2e.items()},
        "tails": info, "ops_per_pass": rec["ops_per_pass"], "passes": len(rec["pass_s"]),
        "table": {k: rec[k] for k in ("commits", "table_rows") if k in rec},
        "attempted": len(rec["ops"]), "failed": len(failed),
        "wrong_results": mismatched, "calib_s": rec["calib_s"],
        "host": host_noise(rec["calib_s"]),
        "scratch": {"peak_bytes": scratch_peak, "left_behind_bytes": left},
        "ops": rec["ops"],
    }
    if args.trace:
        layers = per_layer(rec)
        artifact["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        artifact["span_self_s"] = rec.get("span_self_s", {})
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(artifact, fh, indent=1)

    print(json.dumps({"workload": args.workload, "end_to_end": artifact["end_to_end"],
                      **info, "host": artifact["host"], "scratch_left_behind_bytes": left}))
    print(json.dumps({"correct": not failed, "attempted": len(rec["ops"]),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
