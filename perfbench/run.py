"""Engine benchmark: one seeded workload run, timed end to end or traced.

Run from the root of a checkout:

    python3 perfbench/run.py --workload claims_queries --seed 1 --seconds 10 --trace 0

Set-up (session start, registry load, one JVM and one Python-UDF warm-up
query) is timed from process start.  The inputs are generated
from ``--seed`` after set-up, under ``perfbench/_work``, which the run
deletes before it exits.  Each run times one fixed pass of the workload;
``--seconds`` is accepted but does not change the work.  The outputs are
checked outside the timed region: ``claims_queries`` against the DuckDB
oracles in an untimed warm-up run before the pass, ``claims_etl`` after
it.  The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under ``--trace 0`` and the per-layer metrics
under ``--trace 1``.  When an op failed, ``wall_s`` and ``op_p50_s`` are
null, so a failing run cannot pass for a fast one.  The traced run also writes its spans to
``perfbench/_out/trace-<workload>-<seed>.json``; its ``trace.wall_s`` less
the untraced ``wall_s`` of the same seed is the whole tracing overhead.
"""


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
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402
import workloads as wl  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.slot_busy_frac": "ratio",
    "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.result_mb": "MB", "spark.failed_tasks": "count",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.cached_mb": "MB",
    "python.start_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.sent_mb": "MB", "python.returned_mb": "MB",
    "sinks.write_s": "s", "sinks.gate_s": "s", "sinks.output_mb": "MB",
    "sinks.files": "count", "sinks.rows_appended": "count",
    "streaming.tick_s": "s", "streaming.checkpoint_mb": "MB",
    "dag.task_s": "s", "dag.retries": "count",
    "pipelines.eligibility_s": "s", "pipelines.resubmission_s": "s",
    "pipelines.predictions_s": "s",
    "sink_mb": "MB", "peak_rss_mb": "MB", "trace.wall_s": "s", "trace.overhead_s": "s", "trace.poll_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark writes inside the run's work dir, and size the
    local master to this machine's cores."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.chdir(work)


def setup() -> tuple[object, object, dict[str, float]]:
    """Start the engine and warm it; returns (spark, registry, phases)."""
    phases: dict[str, float] = {}
    sys.path.insert(0, ROOT)
    from eligibility_etl_airflow_spark import registry
    from eligibility_etl_airflow_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    phases["session.start_s"] = time.perf_counter() - t

    t = time.perf_counter()
    registry.load_all()
    phases["registry.load_s"] = time.perf_counter() - t

    t = time.perf_counter()
    import pandas as pd
    from pyspark.sql import functions as F

    cores = cpu_count()
    spark.range(0, 100_000, numPartitions=cores).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 1_000, numPartitions=cores).select(plus_one("id")).collect()
    phases["session.warmup_s"] = time.perf_counter() - t
    phases["setup_s"] = process_age_s()
    return spark, registry, phases


def stop(spark) -> None:
    """Stop Spark and its JVM, then wait for every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while tr.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tr.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def layer_metrics(tracer, workload, phases: dict, wall: float) -> dict[str, float]:
    c = tracer.counts
    m = {k: c.get(k, 0.0) for k in PER_LAYER}
    m.update({k: phases[k] for k in ("session.start_s", "registry.load_s", "session.warmup_s")})
    op_time = tracer.total("op")
    exec_s = tracer.total("spark.exec") or op_time  # ETL ticks have no plan/exec split
    m["plans.build_s"] = tracer.total("plans.build", outermost=True)
    m["spark.plan_s"] = tracer.total("spark.plan")
    m["spark.exec_s"] = exec_s
    m["spark.slot_busy_frac"] = c["spark.task_run_s"] / (exec_s * tracer.cores) if exec_s else 0.0
    m["sinks.write_s"] = tracer.total_prefix("sinks.")
    m["sinks.gate_s"] = tracer.total("sinks.expect", outermost=True)
    m["streaming.tick_s"] = tracer.total("streaming.tick")
    m["dag.task_s"] = tracer.total("dag.task")
    m["dag.retries"] = c["dag.calls"] - c["dag.tasks"]
    for p in ("eligibility", "resubmission", "predictions"):
        m[f"pipelines.{p}_s"] = tracer.total(f"pipelines.{p}")
    m["trace.wall_s"] = wall
    m["trace.poll_s"] = tracer.total("trace.poll")
    # the tracer's own cost inside the timed region: status-store reads and
    # the forced physical planning that the noop write then repeats
    m["trace.overhead_s"] = m["trace.poll_s"] + m["spark.plan_s"]
    if isinstance(workload, wl.ClaimsEtl):
        m["streaming.checkpoint_mb"] = wl.dir_bytes(workload.ckpt) / tr.MB
        m["sinks.files"] = wl.count_files(workload.out) + wl.count_files(workload.dag_dir)
    m["sink_mb"] = workload.sink_bytes() / tr.MB
    return m


def install_tracer(tracer, registry) -> None:
    from eligibility_etl_airflow_spark import pipelines
    from eligibility_etl_airflow_spark.sources import sinks

    def count_appended(n):
        tracer.counts["sinks.rows_appended"] += n

    tracer.wrap_queries(registry.QUERIES)
    tracer.wrap(sinks, "append_dedup", "sinks.append_dedup", count_appended)
    for fn in ("merge_upsert", "resume_filter", "keep_last", "write_parquet",
               "write_csv", "expect"):
        tracer.wrap(sinks, fn, f"sinks.{fn}")
    for p in ("eligibility", "resubmission", "predictions"):
        tracer.wrap(pipelines, f"run_{p}_pipeline", f"pipelines.{p}")
    tracer.wrap(pipelines, "run_events_stream_pipeline", "streaming.tick")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(wl.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the benchmark's command line; every run "
                    "measures one fixed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: the workload's)")
    ap.add_argument("--ticks", type=int, help="claims_etl ticks per pass")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "eligibility_etl_airflow_spark")):
        print(f"no engine package under {ROOT}: run from a checkout of the repo",
              file=sys.stderr)
        return 2

    # Spark, the JVM and the engine may print to stdout; only the result
    # line goes there.
    result_fd = os.dup(1)
    os.dup2(2, 1)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_env(work)
        out = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    with os.fdopen(result_fd, "w") as f:
        f.write(json.dumps(out) + "\n")
    return 0


def run(args, work: str) -> dict:
    spark, registry, phases = setup()
    try:
        kwargs = {"sf": args.sf} if args.sf else {}
        if args.ticks:
            if args.workload != "claims_etl":
                raise SystemExit("--ticks applies to claims_etl only")
            kwargs["ticks"] = args.ticks
        workload = wl.WORKLOADS[args.workload](work, args.seed, **kwargs)
        workload.prepare()
        for name, info in workload.inputs.items():
            print(f"input {name}: {info['rows']} rows, {info['bytes']} bytes", file=sys.stderr)
        total_mb = sum(i["bytes"] for i in workload.inputs.values()) / tr.MB
        print(f"inputs: {total_mb:.1f} MB on disk, all held in memory", file=sys.stderr)

        workload.warm(spark, registry)
        tracer = None
        if args.trace:
            tracer = tr.Tracer(spark, cpu_count())
            install_tracer(tracer, registry)
        with tr.RssSampler() as rss:
            workload.run(spark, registry, tracer)
        if tracer is not None:
            tracer.close()
        failed = workload.check(spark, registry)
    finally:
        stop(spark)
    for line in workload.raised:
        print(f"FAILED {line}", file=sys.stderr)
    wall = workload.wall_s
    print(f"pass {wall:.3f} s, ops {workload.op_s}, "
          f"sink {workload.sink_bytes() / tr.MB:.2f} MB, peak rss {rss.peak_mb:.0f} MB",
          file=sys.stderr)

    if tracer is not None:
        metrics = layer_metrics(tracer, workload, phases, wall)
        metrics["peak_rss_mb"] = rss.peak_mb
        os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
        tracer.dump(os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.json"))
        for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"self {name}: {s:.3f} s", file=sys.stderr)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": phases["setup_s"],
            "wall_s": None if failed else wall,
            "op_p50_s": None if failed else statistics.median(workload.op_s),
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": workload.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
