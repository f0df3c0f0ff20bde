"""One fresh Spark driver process running one workload.

Started by run.py, once per workload and per mode, so no driver-side cache
(the pip cover memo, warm Python workers, JIT state) leaks from one workload
or run into another. Writes its result as JSON to --out.

Timeline: process start → SparkSession → input open → one cold rep →
the workload's warm-up reps (all of it is `setup_s`) → timed reps until
--seconds have passed (the timed window; RSS and CPU are sampled only here)
→ untimed checks → in traced mode, the prefix plans, kernel timing and
event-log parsing for the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

MIN_REPS = 3
MAX_WINDOW_S = 100.0  # a hung or crawling program still returns in time
PREFIX_REPS = 3
PIP_VERIFY_UDF = "_inside("  # the winding-verify pandas UDF of operators.pip
RECORDED_CONFS = {
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled", "spark.local.dir", "spark.eventLog.enabled",
}  # fmt: skip


def java_options(args) -> list[str]:
    """The whole heap committed from the start and a fixed young generation
    (a quarter of it): left to itself, G1 grows the heap and resizes the young
    generation from measured pause times, so the RSS a run reaches would
    follow the host's load as much as the program's memory."""
    heap_mb = int(args.driver_memory.rstrip("g")) * 1024
    return [
        f"-Djava.io.tmpdir={os.path.join(args.work, 'tmp')}",
        "-XX:-UsePerfData",
        f"-Xms{heap_mb}m",
        f"-Xmn{heap_mb // 4}m",
    ]


def build_session(args):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName(f"perfbench-{args.workload}")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.sql.shuffle.partitions", str(2 * args.cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(args.work, "warehouse"))
        .config("spark.driver.extraJavaOptions", " ".join(java_options(args)))
    )
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        b = b.config("spark.local.dir", os.path.join(args.work, "local"))
    if args.trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + os.path.join(args.work, "eventlog"))
        )
    return b.getOrCreate()


def run_rep(wl, tracer, rep: int, failures: list) -> float | None:
    """Seconds the rep took, or None if it raised or failed its check."""
    tracer.rep = rep
    t = time.perf_counter()
    try:
        out = wl.rep()
        dt = time.perf_counter() - t
        bad = wl.check(out)
        wl.last_out = out
    except Exception:
        failures.append(f"rep {rep}: " + traceback.format_exc(limit=3))
        return None
    if bad:
        failures.append(f"rep {rep}: " + "; ".join(bad[:5]))
        return None
    return dt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--inputs", required=True, help="JSON object: input kind → directory")
    ap.add_argument("--size", required=True, choices=sorted(workloads.SIZES))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--driver-memory", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(args.work, d), exist_ok=True)

    spark = build_session(args)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_START
    tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](spark, json.loads(args.inputs), args.work, args.size, tracer)
    failures: list[str] = []
    traced = {}
    tracer.rep = 0
    wl.open()
    if args.trace and isinstance(wl, workloads.PagesPip):
        from erased_cells_spark.operators.pip import polygon_cells_df

        with tracer.span("operators.pip.polygon_cells_df"):  # cold: fills the memo
            cover = polygon_cells_df(spark, wl.zones, workloads.PIP_RES)
        traced["operators.pip.cover_cells"] = cover.count()
    cold = run_rep(wl, tracer, 0, failures)
    warmup = [run_rep(wl, tracer, i, failures) for i in range(1, wl.warmup_reps + 1)]
    setup_s = time.perf_counter() - T_START

    sampler = procstat.Sampler()
    sampler.start()
    times: list[float | None] = []
    t0 = time.perf_counter()
    while True:
        times.append(run_rep(wl, tracer, wl.warmup_reps + len(times) + 1, failures))
        sampler.mark()
        spent = time.perf_counter() - t0
        if (spent >= args.seconds and len(times) >= MIN_REPS) or spent >= MAX_WINDOW_S:
            break
    sampler.stop()

    try:
        failures.extend(f"verify: {m}" for m in wl.verify_once())
    except Exception:
        failures.append("verify: " + traceback.format_exc(limit=3))
    ok = [t for t in times if t is not None]
    result = {
        "workload": args.workload,
        "attempted": len(times) + 1 + len(warmup),
        "failed": sum(t is None for t in [cold, *warmup, *times]),
        "failures": failures[:10],
        "cold_rep_s": cold,
        "warmup_rep_s": warmup,
        "rep_s": times,
        "rows": wl.rows,
        "setup_s": setup_s,
        "session_s": session_s,
        "window_s": time.perf_counter() - t0,
        # median over reps of each rep's peak: one rep that catches an extra
        # Python worker or a late heap expansion does not set the figure
        "peak_rss_mb": statistics.median(sampler.rep_peaks) / 2**20,
        "max_rss_mb": sampler.peak_rss / 2**20,
        "rep_peak_rss_mb": [x / 2**20 for x in sampler.rep_peaks],
        "peak_rss_parts_mb": sampler.peak_parts,
        "cpu_s": sampler.cpu_s,
        "confs": {k: v for k, v in spark.sparkContext.getConf().getAll() if k in RECORDED_CONFS},
    }
    if ok:
        result["rows_per_s"] = statistics.median(wl.rows / t for t in ok)
        result["cpu_s_per_mrow"] = sampler.cpu_s / (wl.rows * len(times) / 1e6)
    if args.trace:
        traced.update(trace_extras(wl, tracer, spark))
    spark.stop()
    if args.trace:
        traced.update(per_layer(wl, tracer, traced, len(times)))
        tracer.dump(os.path.join(args.work, "spans.json"))
        result["per_layer"] = traced
        result["self_s"] = tracer.self_times()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def time_median(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def trace_extras(wl, tracer, spark) -> dict:
    """Traced-mode measurements that need the live session: noop-sink prefix
    plans (median wall of PREFIX_REPS runs each) and in-process kernels."""
    out = {}
    tracer.rep = None
    for name, plan in wl.prefixes().items():
        def run(plan=plan, name=name):
            with tracer.span(f"prefix.{name}"):
                plan().write.format("noop").mode("overwrite").save()

        run()  # compile + warm
        out[f"prefix.{name}"] = time_median(run, PREFIX_REPS)
    if isinstance(wl, workloads.Raster):
        from erased_cells_spark.operators.pip import polygon_cover_keys

        arrays = wl.kernel_inputs()
        out["cells.kernel_s"] = time_median(lambda: workloads.ndvi_kernel(arrays), PREFIX_REPS)
        out["operators.raster.zonal_cover_cells"] = sum(
            len(polygon_cover_keys(z["ring"], workloads.RASTER_RES)) for z in wl.zones
        )
        data = os.path.join(wl.table.path, "data")
        files = [os.path.join(r, f) for r, _, fs in os.walk(wl.table.path) for f in fs]
        data_files = [f for f in files if f.startswith(data + os.sep) and f.endswith(".parquet")]
        out["sources.snapshot.files_written"] = len(data_files)
        out["sources.snapshot.bytes_written"] = sum(os.path.getsize(f) for f in files)
        out["sources.snapshot.bytes_per_tile"] = sum(os.path.getsize(f) for f in data_files) / wl.last_out["tiles"]
        out["sources.snapshot.metadata_files"] = sum(not f.startswith(data + os.sep) for f in files)
        scan = wl.last_out["last_scan"]
        out["sources.snapshot.pruned_ratio"] = 1 - scan["partitions_read"] / scan["partitions_total"]
    return out


def _scan_bytes(nodes, input_dir: str) -> int:
    """Compressed bytes of the parquet column chunks one scan reads: the
    columns of the scan nodes' ReadSchema, summed from the file footers.
    (The task-level "Bytes Read" does not count what the vectorized parquet
    reader reads, and the node's "size of files read" ignores column
    pruning.)"""
    import pyarrow.parquet as pq

    cols = set()
    for n in nodes:
        if n["name"].startswith("Scan parquet"):
            schema = re.fullmatch(r"struct<(.*)>", n["metadata"].get("ReadSchema", ""))
            cols |= set(re.findall(r"(\w+):", schema.group(1))) if schema else set()
    total = 0
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(input_dir, f)).metadata
            for g in range(md.num_row_groups):
                for c in range(md.num_columns):
                    chunk = md.row_group(g).column(c)
                    total += chunk.total_compressed_size if chunk.path_in_schema in cols else 0
    return total


def _node_sum(nodes, node_name: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes if n["name"] == node_name)


def per_layer(wl, tracer, extras: dict, n_reps: int) -> dict:
    """Every per-layer metric, from spans, the event log and extras; a
    layer the workload does not touch reads 0."""
    ev = tracing.EventLog(tracing.find_event_log(os.path.join(wl.work_dir, "eventlog")))
    warm = set(range(wl.warmup_reps + 1, wl.warmup_reps + n_reps + 1))
    per_rep = lambda v: v / n_reps
    med = lambda name: statistics.median(tracer.durations(name)) if tracer.durations(name) else 0.0
    prefix = lambda name: extras.get(f"prefix.{name}", 0.0)
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in extras.items() if k in PER_LAYER})
    m.update(tracing.spark_metrics(ev.tasks_of(tracer.ids(reps=warm))))
    for k in ("spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
              "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
              "spark.tasks", "spark.failed_tasks"):
        m[k] = per_rep(m[k])

    # both workloads scan the pages: pages_pip html+text+url, raster url only
    scan = tracer.ids("prefix.scan" if isinstance(wl, workloads.PagesPip) else "prefix.scan_url")
    m["sources.pages.scan_bytes"] = _scan_bytes(ev.nodes_of(scan), wl.inputs["pages"])
    m["sources.pages.scan_task_s"] = sum(t["run_s"] for t in ev.tasks_of(scan)) / (PREFIX_REPS + 1)
    m["functions.geocode.geocode_s"] = prefix("scan_geocode") - prefix("scan_url")

    if isinstance(wl, workloads.PagesPip):
        # the plan has two Arrow UDF nodes: text extraction below the join
        # and the winding verify above it; only the verify is operators.pip
        nodes = ev.nodes_of(tracer.ids("pipeline.collect", warm))
        verify = [n for n in nodes if n["name"] == "ArrowEvalPython" and PIP_VERIFY_UDF in n["desc"]]
        m["functions.text.extract_s"] = prefix("scan_extract") - prefix("scan")
        m["operators.pip.cover_s"] = med("operators.pip.polygon_cells_df")
        m["operators.pip.candidates"] = per_rep(_node_sum(verify, "ArrowEvalPython", "number of output rows"))
        m["operators.pip.matches"] = sum(v[0] for v in wl.last_out["zones"].values())
        m["operators.pip.match_ratio"] = m["operators.pip.matches"] / max(m["operators.pip.candidates"], 1.0)
        m["operators.pip.python_run_s"] = per_rep(_node_sum(verify, "ArrowEvalPython", "time to run Python workers"))
        m["operators.pip.python_boot_s"] = per_rep(_node_sum(verify, "ArrowEvalPython", "time to start Python workers"))
        m["operators.pip.python_bytes_sent"] = per_rep(_node_sum(verify, "ArrowEvalPython", "data sent to Python workers"))
        m["pipeline.agg_s"] = med("pipeline.collect") - prefix("join")

    if isinstance(wl, workloads.Raster):
        burn = ev.nodes_of(tracer.ids("operators.raster.rasterize_points", warm), into_cache=True)
        zonal = ev.nodes_of(tracer.ids("operators.raster.zonal_collect", warm))
        m["operators.raster.zonal_call_s"] = med("operators.raster.zonal_stats")
        m["operators.raster.rasterize_s"] = med("operators.raster.rasterize_points")
        m["operators.raster.tiles"] = wl.last_out["tiles"]
        m["operators.raster.burn_python_s"] = per_rep(_node_sum(burn, "MapInPandas", "time to run Python workers"))
        cand = per_rep(_node_sum(zonal, "BroadcastHashJoin", "number of output rows"))
        parts = per_rep(_node_sum(zonal, "MapInPandas", "number of output rows"))
        m["operators.raster.zonal_candidates"] = cand
        m["operators.raster.zonal_partials"] = parts
        m["operators.raster.zonal_hit_ratio"] = parts / max(cand, 1.0)
        m["operators.raster.partials_python_s"] = per_rep(_node_sum(zonal, "MapInPandas", "time to run Python workers"))
        m["sources.snapshot.write_s"] = med("sources.snapshot.write_partitions")
        m["sources.snapshot.read_s"] = med("sources.snapshot.read")

        nodes = ev.nodes_of(tracer.ids("tiles.udfs.collect", warm))
        py = [n for n in nodes if n["name"] in ("ArrowEvalPython", "BatchEvalPython")]
        # chained Python nodes run inside one task, so their times overlap:
        # in each execution the outermost (largest) one spans the whole chain
        chain = {}
        for n in py:
            chain[n["exec"]] = max(chain.get(n["exec"], 0.0), n["metrics"].get("time to run Python workers", 0.0))
        run_s = per_rep(sum(chain.values()))
        sent = sum(n["metrics"].get("data sent to Python workers", 0.0) for n in py)
        got = sum(n["metrics"].get("data returned from Python workers", 0.0) for n in py)
        m["tiles.udfs.python_run_s"] = run_s
        m["tiles.udfs.python_nodes"] = per_rep(len(py))
        cells = wl.oracle["cells"]
        m["tiles.udfs.arrow_bytes_per_cell"] = per_rep(sent + got) / cells
        m["cells.kernel_cells_per_s"] = cells / extras["cells.kernel_s"]
        m["tiles.udfs.overhead_ratio"] = run_s / extras["cells.kernel_s"]
        ndvi = wl.last_out["ndvi"]
        m["cells.nodata_share"] = ndvi["nodata"] / (ndvi["data"] + ndvi["nodata"])
    return m


# name → (unit, better); trace.overhead is added by run.py from two processes
PER_LAYER = {
    "sources.pages.scan_bytes": ("B", "lower"),
    "sources.pages.scan_task_s": ("s", "lower"),
    "functions.text.extract_s": ("s", "lower"),
    "functions.geocode.geocode_s": ("s", "lower"),
    "operators.pip.cover_s": ("s", "lower"),
    "operators.pip.cover_cells": ("count", "lower"),
    "operators.pip.candidates": ("count", "lower"),
    "operators.pip.matches": ("count", "higher"),
    "operators.pip.match_ratio": ("ratio", "higher"),
    "operators.pip.python_run_s": ("s", "lower"),
    "operators.pip.python_boot_s": ("s", "lower"),
    "operators.pip.python_bytes_sent": ("B", "lower"),
    "pipeline.agg_s": ("s", "lower"),
    "operators.raster.zonal_call_s": ("s", "lower"),
    "operators.raster.zonal_cover_cells": ("count", "lower"),
    "operators.raster.rasterize_s": ("s", "lower"),
    "operators.raster.tiles": ("count", "lower"),
    "operators.raster.burn_python_s": ("s", "lower"),
    "operators.raster.zonal_candidates": ("count", "lower"),
    "operators.raster.zonal_partials": ("count", "lower"),
    "operators.raster.zonal_hit_ratio": ("ratio", "higher"),
    "operators.raster.partials_python_s": ("s", "lower"),
    "sources.snapshot.write_s": ("s", "lower"),
    "sources.snapshot.files_written": ("count", "lower"),
    "sources.snapshot.bytes_written": ("B", "lower"),
    "sources.snapshot.bytes_per_tile": ("B", "lower"),
    "sources.snapshot.metadata_files": ("count", "lower"),
    "sources.snapshot.read_s": ("s", "lower"),
    "sources.snapshot.pruned_ratio": ("ratio", "higher"),
    "tiles.udfs.python_run_s": ("s", "lower"),
    "tiles.udfs.python_nodes": ("count", "lower"),
    "tiles.udfs.arrow_bytes_per_cell": ("B", "lower"),
    "cells.kernel_s": ("s", "lower"),
    "cells.kernel_cells_per_s": ("1/s", "higher"),
    "tiles.udfs.overhead_ratio": ("ratio", "lower"),
    "cells.nodata_share": ("ratio", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.jvm_gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.task_skew": ("ratio", "lower"),
}


if __name__ == "__main__":
    sys.exit(main())
