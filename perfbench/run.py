#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|search --seed N --seconds S --trace 0|1

Run from the repository root.  Starts one local Spark session on
``local[nproc]``, sets up the seeded workload, measures it for at least
``--seconds`` seconds with one closed-loop client, runs the correctness
gates outside the timed region and prints two JSON lines: a report (inputs,
host, gate failures and the metrics under their long names), then the
result: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the program's layer
functions in spans and reports the per-layer metrics instead.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def metric_table() -> tuple[dict, dict, set]:
    """Units of the end-to-end and per-layer metrics, and the names whose
    higher value is better, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    higher = {m["name"] for m in spec["end_to_end"] + spec["per_layer"] if m["better"] == "higher"}
    return e2e, layers, higher


# the long names the metrics carry in each workload's report
ALIASES = {
    "ingest": {"wall.items_per_s": "refresh_docs_per_s", "wall.op_p50_ms": "refresh_ms",
               "wall.batch_s": "curate_s", "items_per_cpu_s": "refresh_docs_per_cpu_s",
               "op_cpu_ms": "refresh_cpu_ms", "batch_cpu_s": "curate_cpu_s"},
    "search": {"wall.items_per_s": "search_qps", "wall.op_p50_ms": "search_p50_ms",
               "wall.batch_s": "headline_total_s", "items_per_cpu_s": "search_queries_per_cpu_s",
               "op_cpu_ms": "search_cpu_ms", "batch_cpu_s": "headline_total_cpu_s"},
}
# The driver JVM's options; the report's host facts record them.  The JVM's
# temp files stay in the run's directory, and it writes no perf-data file
# (it would land under /tmp).  Two options depart from the program's JVM
# defaults; README.md gives the spreads and run times measured with and
# without them:
# - a fixed 128 MB young generation: with adaptive young-generation sizing
#   the JVM's resident high-water mark follows GC timing rather than the
#   data the driver holds, and peak_rss_mb spread twice as wide;
# - the C1 compiler only: a run's JVM lives about a minute, and C2
#   compilation added ~60% to the CPU time of a refresh pass and ~95% to
#   that of the headline queries, which made runs too slow for two sets of
#   ten runs per workload to finish within an hour.
JVM_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn128m -XX:TieredStopAtLevel=1"


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_facts(spark) -> dict:
    import pyspark

    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_head": head,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "driver_java_options": spark.conf.get("spark.driver.extraJavaOptions"),
    }


def start_spark():
    from coldata_spark.session import get_spark

    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the status-store reader
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=tmp),
        },
    )


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3


def stop_spark(spark) -> None:
    """Stop the session, close the py4j gateway and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "coldata_spark", "__init__.py")):
        print(f"perfbench: no coldata_spark package under {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units, higher = metric_table()
    # Python workers start from the JVM's environment: put the checkout on
    # their path, or mapInPandas fails with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    # spark-submit's launcher JVM: no perf-data file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    sys.path.insert(0, ROOT)

    from perfbench.spans import StatusStore, Tracer, totals
    from perfbench.workloads import WORKLOADS, Counters, measured_jobs

    workdir = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, args.seed, args.seconds, workdir)
        setup_s = w.setup()
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        host = host_facts(spark)

        def e2e(values: dict) -> dict:
            rss_kb = vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")
            return {"setup_s": session_s + setup_s, **values, "peak_rss_mb": rss_kb / 1024}

        # The traced run first measures untraced, then traced, in this one
        # process: the difference is the tracing overhead.  The traced
        # measurement runs second, on a warmer JVM.
        measured = e2e(w.measure())
        if args.trace:
            tracer, counters = Tracer(spark), Counters(spark.sparkContext)
            w.wrap(tracer)
            try:
                traced = e2e(w.measure(tracer, counters, tag="traced"))
            finally:
                tracer.unwrap_all()
            snapshot = counters.snapshot()
        gc_s = jvm_gc_s(spark)
        report = w.gates()
        failed = len(w.failures)
        measured["ok_ops_ratio"] = 1 - failed / w.attempted
        layers: dict = {}
        if args.trace:
            traced["ok_ops_ratio"] = measured["ok_ops_ratio"]
            jobs = StatusStore(spark).jobs()
            layers = {m: 0.0 for m in layer_units}
            layers.update(w.layers(tracer, jobs, snapshot))
            layers.update(totals(measured_jobs(jobs)))
            layers["session.start_s"] = session_s
            layers.update({m: traced[m] for m in traced if m.startswith("wall.")})
            layers["jvm.gc_s"] = gc_s
            for m in e2e_units:  # positive = tracing made the metric worse
                a, b = (measured[m], traced[m]) if m in higher else (traced[m], measured[m])
                layers[f"overhead.{m}"] = a / b - 1 if b else 0.0
            for span in tracer.spans:
                span["self_s"] = tracer.self_time(span)
            with open(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(tracer.spans, f)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    units = {**layer_units, **e2e_units}
    named = {ALIASES[args.workload].get(m, m): {"value": v, "unit": units[m]}
             for m, v in measured.items()}
    named["failed_ops_ratio"] = {"value": failed / w.attempted, "unit": "ratio"}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "session_start_s": session_s, "jvm_gc_s": gc_s,
        "inputs": w.shares, "metrics": named, "report": report, "failures": w.failures,
    }, default=str))
    metrics, units = (layers, layer_units) if args.trace else (measured, e2e_units)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": w.attempted,
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": units[m]} for m in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
