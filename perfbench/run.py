"""Flood-shaped benchmark of flood_data_spark.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 12 --trace 0

Runs one workload (see workloads.py and README.md) from the root of a
checkout: starts one local Spark session, makes the workload's inputs from
the seed, warms up, times a fixed number of whole rounds of operations
(sized from --seconds, not from how fast they run), checks every output,
and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 records spans around
each layer call and reports the per-layer metrics instead.  Everything the
run writes lives under .perfbench/ in the checkout and is removed at exit,
except the span file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# batch spans whose Spark counters are reported per op
BATCH_SPANS = ("sources.raster.ingest", "plans.daily_pipeline.run",
               "sources.parquet.publish_detailed",
               "sources.parquet.publish_summary",
               "sources.parquet.upsert_detailed",
               "sources.parquet.upsert_summary")
BACKFILL_SPANS = ("plans.daily_pipeline.run_approx",
                  "sources.parquet.upsert_detailed",
                  "sources.parquet.upsert_summary")
COUNTERS = (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
            ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
            ("gc_ms", "ms"))


def start_session(work: str, cores: int):
    """One local process, `cores` task threads, every file it writes
    (shuffle, spill, temp, warehouse) under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import flood_data_spark from the checkout and put
    # their temp files next to the driver's
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM started (the launcher too) keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from flood_data_spark.session import get_spark
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def heap_after_gc_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def end_to_end(wl, setup_s: float) -> dict:
    times = [t for _, t in wl.times]
    return {"setup_s": (setup_s, "s"),
            "op_p50_ms": (1000 * statistics.median(times), "ms"),
            "ops_per_s": (len(times) / sum(times), "1/s")}


def per_layer(wl, tracer, phases: dict, marks: tuple, cores: int,
              heap_mb: float) -> dict:
    # spans of the timed operations; the traced daily_cycle run adds the
    # backfill's after them
    spans = tracer.spans[marks[0]:marks[1]]
    backfill = tracer.spans[marks[1]:]
    times = [t for _, t in wl.times]
    m = {"session.start_s": (phases["start"], "s"),
         "setup.generate_s": (phases["generate"], "s"),
         "setup.warmup_s": (phases["warmup"], "s"),
         "session.heap_after_gc_mb": (heap_mb, "MB"),
         "trace.op_p50_ms": (1000 * statistics.median(times), "ms"),
         "trace.self_ms_per_op": (1000 * phases["trace_self"] / len(times),
                                  "ms")}

    def among(name):
        return backfill if name in BACKFILL_SPANS else spans

    def med(name, scale=1.0):
        vals = [s["end"] - s["start"] for s in among(name)
                if s["name"] == name]
        return scale * statistics.median(vals) if vals else 0.0

    def med_counter(name, key):
        vals = [s["counters"][key] for s in among(name) if s["name"] == name]
        return statistics.median(vals) if vals else 0

    rows = getattr(wl, "rows_per_op", 0)
    ingest = med("sources.raster.ingest")
    m["sources.raster.ingest_s"] = (ingest, "s")
    m["sources.raster.decode_rows_per_s"] = (rows / ingest if ingest else 0.0,
                                             "1/s")
    m["sources.parquet.read_plan_ms"] = (
        med("sources.parquet.read_plan", scale=1000), "ms")
    m["plans.daily_pipeline.run_s"] = (med("plans.daily_pipeline.run"), "s")
    m["plans.daily_pipeline.run_approx_s"] = (
        med("plans.daily_pipeline.run_approx"), "s")
    m["plans.daily_pipeline.eager_jobs"] = (
        med_counter("plans.daily_pipeline.run", "jobs"), "count")
    leaked = getattr(wl, "leaked", [])
    m["plans.daily_pipeline.cached_relations_left"] = (
        sum(leaked) / len(leaked) if leaked else 0.0, "count")
    for w in ("publish_detailed", "publish_summary", "upsert_detailed",
              "upsert_summary"):
        m[f"sources.parquet.{w}_s"] = (med(f"sources.parquet.{w}"), "s")
    publish = [s for s in spans
               if s["name"].startswith("sources.parquet.publish")]
    m["sources.parquet.bytes_written"] = (
        sum(s["counters"]["output_bytes"] for s in publish) / len(times)
        if publish else 0.0, "B")
    files = getattr(wl, "files_written", [])
    m["sources.parquet.files_written"] = (
        statistics.median(files) if files else 0, "count")
    for name in BATCH_SPANS:
        for key, unit in COUNTERS:
            m[f"{name}.{key}"] = (med_counter(name, key), unit)
    busy = sum(s["counters"]["task_s"] for s in spans if s["parent"] is None)
    m["spark.utilization"] = (busy / (sum(times) * cores), "ratio")
    for name in ("operators.threshold.summary_s",
                 "operators.threshold.summary_approx_s",
                 "operators.tendency.flood_tendency_s",
                 "operators.intensity.flood_intensity_s",
                 "operators.peak_timing.flood_peak_timing_s",
                 "operators.summary.assemble_s",
                 "functions.geometry.add_geometry_s"):
        m[name] = (wl.layer.get(name, 0.0), "s")

    lookups = [s for s in spans if s["name"].startswith("operators.serving.")]
    for kind in ("point", "neighbourhood", "batch"):
        ts = [s["lookup_s"] for s in lookups
              if s["name"] == f"operators.serving.{kind}_lookup"]
        m[f"operators.serving.{kind}_p50_ms"] = (
            1000 * statistics.median(ts) if ts else 0.0, "ms")
    for key, name in (("build_s", "build_ms"), ("plan_s", "plan_ms"),
                      ("execute_s", "execute_ms")):
        vals = [s[key] for s in lookups]
        m[f"operators.serving.{name}"] = (
            1000 * statistics.median(vals) if vals else 0.0, "ms")
    pts = [s["points_in_s"] for s in lookups if "points_in_s" in s]
    m["operators.serving.batch_points_in_ms"] = (
        1000 * statistics.median(pts) if pts else 0.0, "ms")
    n = max(len(lookups), 1)
    m["operators.serving.jobs_per_lookup"] = (
        sum(s["counters"]["jobs"] for s in lookups) / n, "count")
    m["operators.serving.tasks_per_lookup"] = (
        sum(s["counters"]["tasks"] for s in lookups) / n, "count")
    returned = sum(s.get("rows", 0) for s in lookups)
    m["sources.parquet.rows_scanned_per_row_returned"] = (
        sum(s.get("scan_rows", 0) for s in lookups) / returned
        if returned else 0.0, "ratio")
    m["sources.parquet.files_read_per_lookup"] = (
        sum(s.get("scan_files", 0) for s in lookups) / n if lookups else 0.0,
        "count")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.perf_counter()

    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from spans import NullTracer, Tracer

    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        phases = {}
        t = time.perf_counter()
        spark = start_session(work, cores)
        phases["start"] = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work,
                                               args.seed)
        t = time.perf_counter()
        wl.generate()
        phases["generate"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        phases["warmup"] = time.perf_counter() - t
        tracer.resolve()
        first_span = len(getattr(tracer, "spans", []))
        setup_s = time.perf_counter() - t0

        self_before = tracer.self_s
        start = time.perf_counter()
        for _ in range(wl.rounds(args.seconds)):
            wl.run_round()
        timed_s = time.perf_counter() - start
        phases["trace_self"] = tracer.self_s - self_before
        timed_spans = len(getattr(tracer, "spans", []))

        if args.trace:
            if hasattr(wl, "isolate_layers"):
                wl.isolate_layers()
            heap = heap_after_gc_mb(spark)
        print("perfbench: op seconds " + " ".join(
            f"{k}={t:.3f}" for k, t in wl.times), file=sys.stderr)
        t = time.perf_counter()
        problems, failed = wl.check()
        print(f"perfbench: setup {setup_s:.1f} s, timed {timed_s:.1f} s, "
              f"check {time.perf_counter() - t:.1f} s", file=sys.stderr)
        if args.trace:
            metrics = per_layer(wl, tracer, phases,
                                (first_span, timed_spans), cores, heap)
            tracer.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        else:
            metrics = end_to_end(wl, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems[:20]:
        print(f"perfbench: WRONG {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems, "attempted": len(wl.times),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
