"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds seeded inputs under a private work
directory, starts one Spark driver on ``local[nproc]``, runs the workload
as a closed loop, checks its outputs, and prints report lines followed by
one JSON result line: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics (taken from a run that records spans
and reads Spark's status store per call).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = {
    "batch_queries": wl.QuerySet({"llm": (wl.LLM_QUERIES, 0.01), "sql": (wl.SQL_QUERIES, 0.1)}),
    "daily_ingest": wl.DailyIngest(backfill_days=30, sf=0.02),
}

#: (name, unit) of the end-to-end metrics, printed with ``--trace 0``.
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_ms", "ms"),
    ("driver_mem_mb", "MB"),
]


def _per_layer() -> list[tuple[str, str]]:
    out = [("session.start_s", "s"), ("session.warmup_s", "s"),
           ("sources.extract_s", "s"), ("sources.raw_files", "count"),
           ("sources.scan_mb", "MB"),
           ("pipeline.curate_s", "s"), ("pipeline.latest_s", "s"),
           ("pipeline.serve_ms", "ms"), ("pipeline.table_files", "count"),
           ("pipeline.table_bytes", "B")]
    units = {"build_s": "s", "exec_s": "s", "jobs": "count", "executor_run_s": "s",
             "shuffle_write_mb": "MB", "no_job_s": "s"}
    for mod in wl.OPERATOR_MODULES:
        out += [(f"operators.{mod}.{m}", units[m]) for m in wl.OPERATOR_METRICS]
    out += [("ml.fit_s", "s"), ("ml.score_s", "s"), ("ml.predict_s", "s"),
            ("ml.fit_jobs", "count")]
    out += [(f"streaming.{j}_s", "s") for j in wl.STREAM_JOBS]
    out += [("streaming.add_batch_ms", "ms"), ("streaming.planning_ms", "ms"),
            ("streaming.commit_ms", "ms"), ("streaming.input_rows", "count"),
            ("streaming.state_live_bytes", "B"), ("streaming.state_retained_bytes", "B")]
    out += [("spark.jobs", "count"), ("spark.tasks", "count"),
            ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
            ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
            ("spark.core_util", "ratio"), ("spark.no_job_s", "s"),
            ("spark.python_kernel_s", "s")]
    out += [("bench.peak_rss_mb", "MB"), ("bench.leaked_paths", "count"),
            ("bench.tracing_overhead_s", "s"),
            ("bench.span_coverage", "ratio"), ("bench.stored_bytes_per_input_byte", "ratio")]
    return out


PER_LAYER = _per_layer()


def _session(cores: int):
    """The engine's own session factory, on ``local[cores]``."""
    from weather_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _isolate(root: str, work: str, cores: int, driver_mem: str) -> None:
    """Size the driver and point every place Spark writes on its own at
    the work directory.  Read when the driver JVM starts, so this runs
    before the first session."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    # PySpark writes the gateway's connection file under Python's temp dir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata file in the system temp dir, from either JVM: the one
    # spark-submit runs to build the driver's command line, and the driver
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '{java_opts}'",
        "pyspark-shell",
    ])


def _setup(workload, seed: int, work: str, cores: int):
    """Stage the inputs (child processes write them while the driver
    starts), start the session, warm up.  Returns (spark, inputs,
    {"start_s", "stage_wait_s", "warmup_s"})."""
    t0 = time.perf_counter()
    inputs, children = workload.stage(seed, work)
    try:
        spark = _session(cores)
        t1 = time.perf_counter()
    finally:
        codes = [child.wait() for child in children]
    t2 = time.perf_counter()
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    workload.warmup(spark, inputs)
    t3 = time.perf_counter()
    return spark, inputs, {"start_s": t1 - t0, "stage_wait_s": t2 - t1, "warmup_s": t3 - t2}


def _layer_metrics(ctx, region: tuple[float, float], cores: int, setup: dict,
                   leaked: int, peak_rss: float) -> dict:
    L = ctx.layers
    v = L.values
    out = {name: float(v.get(name, 0.0)) for name, _ in PER_LAYER}
    for name, key in {
        "sources.extract_s": "sources.extract", "pipeline.curate_s": "pipeline.curate",
        "pipeline.latest_s": "pipeline.latest", "ml.fit_s": "ml.fit",
        "ml.score_s": "ml.score", "ml.predict_s": "ml.predict",
        **{f"streaming.{j}_s": f"streaming.{j}" for j in wl.STREAM_JOBS},
    }.items():
        out[name] = sum(L.samples.get(key, []))
    if L.samples.get("pipeline.serve"):
        out["pipeline.serve_ms"] = statistics.median(L.samples["pipeline.serve"]) * 1000.0
    wall = region[1] - region[0]
    t = L.total
    out.update({
        "session.start_s": setup["start_s"], "session.warmup_s": setup["warmup_s"],
        "spark.jobs": t.jobs, "spark.tasks": t.tasks,
        "spark.executor_run_s": t.executor_run_s, "spark.executor_cpu_s": t.executor_cpu_s,
        "spark.shuffle_write_mb": t.shuffle_write_mb, "spark.spill_mb": t.spill_mb,
        "spark.core_util": t.executor_run_s / (wall * cores),
        "spark.no_job_s": L.no_job_s, "spark.python_kernel_s": L.python_s,
        "bench.peak_rss_mb": peak_rss, "bench.leaked_paths": leaked,
        "bench.tracing_overhead_s": L.probe.read_s,
        "bench.span_coverage": ctx.tracer.coverage(*region),
    })
    return out


def _write_spans(root: str, args, tracer: harness.Tracer) -> str:
    """Spans of a traced run, with each span's self time, as one JSON file."""
    d = os.path.join(root, ".bench_traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "req": s.req,
             "self_s": harness.self_time(s, tracer.children(s.sid))}
            for s in tracer.spans
        ], f)
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="expected length of the timed region; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "weather_data_pipeline_spark")):
        print("perfbench: run from the repository root (weather_data_pipeline_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    workload = WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    driver_mem = harness.driver_memory()
    before = harness.snapshot(root)

    with harness.WorkDir(root, args.workload) as work:
        _isolate(root, work, cores, driver_mem)
        try:
            spark, inputs, setup = _setup(workload, args.seed, work, cores)
            stamp = harness.host_stamp(root, args.seed, cores, driver_mem, spark)
            tracer = harness.Tracer(enabled=bool(args.trace))
            probe = harness.SparkProbe(spark, read=bool(args.trace))
            ctx = wl.Ctx(spark, args.seed, harness.Layers(tracer, probe),
                         harness.Outcomes(), tracer, inputs)
            res = workload.run(ctx)
            # memory as the timed region left it, before the output checks
            # load their oracle
            py_rss = harness.python_rss_mb()
            peak = harness.jvm_hwm_mb(spark) + harness.python_maxrss_mb()
            heap_mb, nonheap_mb = harness.jvm_live_mb(spark)
            mem_mb = heap_mb + nonheap_mb + py_rss
            t_check = time.perf_counter()
            workload.check(ctx, res)
            t_stop = time.perf_counter()
        finally:
            harness.stop_driver()
        after = {"memory_s": t_check - res["region"][1], "check_s": t_stop - t_check,
                 "stop_s": time.perf_counter() - t_stop}
    leaked = sorted(harness.snapshot(root) - before)

    out, ops = ctx.out, res["ops_ms"]
    tail = harness.tail_percentile(len(ops))
    setup_s = res["region"][0] - T_PROCESS
    report = {
        "workload": args.workload, "host": stamp,
        "setup_s": setup_s, "setup_parts_s": setup, "after_s": after,
        "wall_s": res["wall"], "seconds_requested": args.seconds, "ops": len(ops),
        "peak_rss_mb": peak,
        "driver_mem_mb": {"jvm_heap": heap_mb, "jvm_nonheap": nonheap_mb, "python_rss": py_rss},
        "op_tail": None if tail is None else {"p": tail, "ms": harness.percentile(ops, tail)},
        "fail_ratio": out.fail_ratio, "failures": out.failures,
        "leaked_paths": leaked,
        "layer_s": {k: round(sum(v), 4) for k, v in ctx.layers.samples.items()},
        **res.get("report", {}),
    }
    if args.trace:
        metrics = _layer_metrics(ctx, res["region"], cores, setup, len(leaked), peak)
        units_of = dict(PER_LAYER)
        report["spans_file"] = _write_spans(root, args, tracer)
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": res["wall"],
            "op_p50_ms": statistics.median(ops),
            "driver_mem_mb": mem_mb,
        }
        units_of = dict(END_TO_END)
    harness.emit({"report": report})
    harness.emit({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
