#!/usr/bin/env python3
"""Benchmark of openpoiservice_spark.

    python3 perfbench/run.py --workload service|batch --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The first run builds the cached inputs
(about a minute on 4 cores) under .bench_build/perfbench/.  Each run sets
the workload up several times (its SETUP_REPS), each on a new local Spark
session with the workload's task slots (the median is `setup_s`), measures for `--seconds`, checks
every output, and prints an information line and then, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}.  `--trace 0`
reports the end-to-end metrics; `--trace 1` enables the spans and the event
log and reports the per-layer ledger instead.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
#: driver heap for a 4-core, 15 GB host (the engine's own default is 16g)
DRIVER_MEM = "2g"
WORKLOADS = ("service", "batch")


def _environment(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and size the session for this host."""
    local, tmp, events = (os.path.join(run_dir, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the cached inputs are built on every core, whichever workload
        # builds them; the workloads' sessions set their own slots
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no JVM perf-data files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    # the driver heap is resident at its full size from the start: a heap
    # that grew during the window made the resident memory of runs of the
    # same code differ by a third, depending on when G1 expanded it and
    # which regions it touched
    submit = [f"--conf 'spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch'"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _session(slots: int):
    from openpoiservice_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{slots}]", shuffle_partitions=slots)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it (its Python workers go with
    it): the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)


def _jvm_gc() -> None:
    from pyspark import SparkContext

    SparkContext._jvm.System.gc()


def _install_service_hooks(tracer, spark):
    """Spans around the request path's layers, wrapped where the caller
    resolves them; returns the refine UDF's (rows in, rows kept)
    accumulators."""
    from pyspark.sql.classic.dataframe import DataFrame

    from openpoiservice_spark import api, cells

    import tracing

    def cover_size(rec, args, kwargs, out):
        cq = args[2] if len(args) > 2 else kwargs.get("cq")
        if cq is not None and getattr(cq, "cover", None) is not None:
            rec["attrs"]["cover_cells"] = int(cq.cover.size)

    tracer.wrap(api, "compile_geometry", "api.compile")
    for method in ("pois_df", "stats_df", "knn_df"):
        tracer.wrap(api.PoiEngine, method, "api.plan", after=cover_size)
    tracer.wrap(cells, "cover_geometry", "cells.cover")
    tracer.wrap(DataFrame, "collect", "spark.collect")
    acc_in = spark.sparkContext.accumulator(0)
    acc_kept = spark.sparkContext.accumulator(0)
    tracer.patch(api, "make_refine_udf",
                 tracing.counting_refine(api.make_refine_udf, acc_in, acc_kept))
    return acc_in, acc_kept


def _workload_class(name: str):
    import workloads

    return workloads.Service if name == "service" else workloads.Batch


def run(args, work: str, run_dir: str, slots: int) -> tuple[dict, dict]:
    import numpy as np

    import inputs as inputs_mod
    import ledger
    import sysstat
    import tracing
    import workloads

    inp = inputs_mod.ensure(ROOT, work)
    trace = bool(args.trace)

    cls = _workload_class(args.workload)

    def make():
        if cls is workloads.Service:
            return cls(inp, args.seed)
        return cls(inp, args.seed, work_dir=os.path.join(run_dir, "batch"))

    # set-up, the workload's SETUP_REPS times, each a new Spark session (new
    # executors and Python workers), the table and inputs opened, the lineage
    # stats loaded, the engine built and warmed up.  The first also holds the
    # process start and the JVM launch (from the end of the build when the
    # inputs were just built); the median is one on the running JVM.
    # Stopping the previous session and collecting its garbage is not timed,
    # so each set-up starts from the same state, and so does the window: its
    # memory does not depend on when GC last ran.
    t0 = time.time() if inp["built_now"] else T_PROCESS
    setups: list[float] = []
    session_s: list[float] = []
    spark = None
    for _ in range(cls.SETUP_REPS):
        if spark is not None:
            spark.stop()
            _jvm_gc()
            t0 = time.time()
        spark = _session(slots)
        session_s.append(time.time() - t0)
        wl = make()
        wl.open(spark)
        setups.append(time.time() - t0)
    tracer = wl.tracer = tracing.Tracer(spark.sparkContext) if trace else None
    _jvm_gc()

    accs = _install_service_hooks(tracer, spark) if trace and args.workload == "service" else None
    cpu0 = sysstat.cpu_sample()
    rss = sysstat.RssSampler().start()
    w0 = time.time()
    try:
        ops = wl.run(args.seconds)
    finally:
        wall = time.time() - w0
        peak = rss.stop()
        if tracer is not None:
            tracer.unwrap_all()
    cpu = sysstat.cpu_window(cpu0, sysstat.cpu_sample())
    refine_counts = (accs[0].value, accs[1].value) if accs else (0, 0)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    wl.check(ops)
    failed = [o for o in ops if o.get("fail")]
    e2e = ledger.end_to_end(ops, wl, wall, setups, rss.samples, wl.stored_bytes_per_row())
    info = {
        "workload": args.workload, "seed": args.seed, "trace": trace, "cores": CORES,
        "spark_slots": slots,
        "driver_mem": DRIVER_MEM, "ops": len(ops),
        "wall_s": round(wall, 3),
        "latency_p90_ms": round(e2e["latency_p90_ms"], 1),
        "latencies_ms": [round(t) for t in wl.latencies_ms(ops)],
        "setups_s": [round(s, 3) for s in setups],
        "setup_session_s": [round(s, 3) for s in session_s], "cpu": cpu,
        "rss_mb_peak": round(peak / 2 ** 20, 1),
        "input_key": inp["key"], "input_build_s": round(inp["build_s"], 1),
        "input_built_now": inp["built_now"], "inputs": inputs_mod.SIZES,
        "op_ms": {n: round(1000 * float(np.median([o["t1"] - o["t0"] for o in ops if o["name"] == n])))
                  for n in dict.fromkeys(o["name"] for o in ops)},
        "failures": sorted({f"{o['name']}: {o['fail']}" for o in failed})[:10],
    }
    if not trace:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit, _, _ in ledger.END_TO_END}
    else:
        ev = tracing.EventLog(os.path.join(run_dir, "events", app_id))
        led = ledger.Ledger(tracer, ev, ops, slots, refine_counts)
        values = {**(led.service() if args.workload == "service" else led.batch()),
                  **led.jobs(wall)}
        values["process.peak_rss_mb"] = peak / 2 ** 20
        values["trace.latency_ms"] = e2e["latency_ms"]
        values["trace.ops_per_s"] = e2e["ops_per_s"]
        info["traced_end_to_end"] = e2e
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                   for name, unit, _ in ledger.PER_LAYER}
    result = {"correct": not failed and len(ops) > 0, "attempted": len(ops),
              "failed": len(failed), "metrics": metrics}
    return info, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openpoiservice_spark")):
        print(f"perfbench: no openpoiservice_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    slots = min(_workload_class(args.workload).SLOTS, CORES)
    _environment(run_dir, bool(args.trace))
    try:
        info, result = run(args, work, run_dir, slots)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
