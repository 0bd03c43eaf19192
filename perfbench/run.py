"""Lake benchmark: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload ingest_small_files --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, Spark at local[N], N <= 4):

- ``ingest_small_files``: seeded ~2,000-row yellow-taxi CSVs, one per
  ingest day, each through ``PipelineRunner.on_file``, until at least
  ``FIXED_FILES`` files and ``--seconds`` of warm ``on_file`` time; then
  the audit status and the lake tables are read back through the catalog.
- ``query_mix``: passes over 16 of the headline registry queries, in
  their fixed order, until at least one pass and ``--seconds``; the
  tables are a frozen copy of the sf0.01 test tables, rows permuted by
  the seed.

Every run starts Spark, builds its inputs from ``--seed`` in a
temporary directory under ``perfbench/.runs/``, checks every output,
and removes the directory.  With ``--trace 0`` the last stdout line
carries the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run; earlier lines are a readable report.

Every workload reports every end-to-end metric; an "operation" is one
``on_file`` call for ingest and one query (DataFrame build plus fetch of
its rows) for the query mix:

- ``setup_s``: median of ``SETUPS`` set-ups, each a session start plus a
  warm-up job.  Only the first also imports the package and launches the
  JVM, so the median is the cost of a session start in a running JVM;
  the first set-up's two parts are the per-layer ``session.start_s`` and
  ``session.warmup_s``.
- ``op_geomean_s``: geometric mean of the operation times after the
  first.  Each operation weighs the same, so halving any one query's time
  moves it by the same share.  Not the median: on the query mix that is
  one sample of whichever query lands in the middle, and over all 39
  headline queries two ten-seed sets of it spread 0.27 and 0.30 of their
  median, beyond the 0.25 bound.  The median and the tail are in the
  report lines.
- ``total_s``: a fixed amount of work, cold start included.  Ingest: the
  first ``FIXED_FILES`` files.  Query mix: the sum over all queries.

The first operation in the fresh session (the cold ``on_file``; the
first query) is in the report and the per-layer ``session.first_op_s``.
It is not an end-to-end metric: one cold sample per run, its ten-seed
spread reached 0.29 of its median on the query mix, beyond any
regression bound; ``total_s`` still counts it.

After the stream, ingest reads back ``AuditLog.latest_status()`` and the
lake (an aggregate over the conformed table and ``validate_table`` on
the purpose-built one), ``READS`` times each; their medians are in the
report and the per-layer ``audit.latest_status_s`` and ``lake.read_s``.
They are not end-to-end metrics: these sub-second reads moved by a
quarter or more from run to run, beyond any regression bound.
The peak resident memory of the driver JVM plus this process is the
per-layer ``session.peak_rss_mb``, and in every report: it depends on
when the JVM grows its heap, which varies too much from run to run for a
regression bound.  The error rate, failed over attempted operations (checks included), is
the result line's ``failed``/``attempted``; it is not a metric because it
is 0 on a correct build.  Tail latencies (the highest percentile with ten
samples above it) are in the report lines, omitted below eleven
samples.  A traced run also writes its spans to ``perfbench/.runs/`` and
prints the tracing overhead against the untraced run of the same
workload and seed, when that ran first.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
sys.path.insert(0, ROOT)

import lakegen  # noqa: E402
from stats import median  # noqa: E402
from spans import Tracer, install  # noqa: E402
from workloads import QUERIES, Context, ingest_small_files, query_mix  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
SETUPS = 5  # set-ups per run; setup_s is their median
WORKLOADS = ("ingest_small_files", "query_mix")

E2E_UNITS = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "total_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "session.first_op_s": "s",
    "runner.on_file_s": "s",
    "runner.self_s": "s",
    "runner.audit_share": "fraction",
    "runner.rows_per_s": "rows/s",
    "lake.read_s": "s",
    "lake.bytes_per_raw_byte": "ratio",
    "audit.append_s": "s",
    "audit.appends": "count",
    "audit.append_jobs": "count",
    "audit.files": "count",
    "audit.latest_status_s": "s",
    "csv_source.read_s": "s",
    "csv_source.jobs": "count",
    "conform.s": "s",
    "conform.self_s": "s",
    "conform.jobs": "count",
    "conform.bytes_written": "bytes",
    "conform.files_written": "count",
    "catalog.upsert_s": "s",
    "catalog.recover_partitions_s": "s",
    "catalog.partitions": "count",
    "transform.s": "s",
    "transform.run_sql_s": "s",
    "transform.self_s": "s",
    "transform.jobs": "count",
    "transform.bytes_written": "bytes",
    "transform.shuffle_write_bytes": "bytes",
    **{f"registry.{q}.{k}": "s" for q in QUERIES for k in ("build_s", "exec_s")},
    "registry.build_jobs": "count",
    "registry.exec_jobs": "count",
    "registry.shuffle_write_bytes": "bytes",
    "registry.spill_bytes": "bytes",
}


def set_up(work_dir: str, tracer: Tracer | None):
    """Start the session ``SETUPS`` times (the first start also
    imports the package and launches the JVM) and run a warm-up job
    after each.  Returns the session and the seconds of each start and
    each warm-up."""
    starts, warmups = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start") if tracer else nullcontext():
            from aws_cdk_pipelines_datalake_etl_spark.session import get_spark

            spark = get_spark(
                app_name="perfbench",
                master=f"local[{CPUS}]",
                shuffle_partitions=CPUS,
                warehouse_dir=os.path.join(work_dir, "warehouse"),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # keep JVM scratch files inside the run directory
                    "spark.driver.extraJavaOptions": (
                        f"-XX:-UsePerfData -Djava.io.tmpdir={work_dir}/tmp"
                    ),
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with tracer.span("session.warmup") if tracer else nullcontext():
            spark.range(0, 1_000_000, 1, CPUS).selectExpr("sum(id)").collect()
        starts.append(t1 - t0)
        warmups.append(time.perf_counter() - t1)
    return spark, starts, warmups


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, work_dir: str) -> Context:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    # Python workers import the package from pickled functions, so they
    # need the repository root on their path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")

    data_dir = os.path.join(work_dir, "tables")
    if args.workload == "query_mix":  # inputs first: generation is not timed
        lakegen.write_tables(data_dir, args.seed)

    tracer = Tracer() if args.trace else None
    spark, starts, warmups = set_up(work_dir, tracer)
    ctx = Context(spark, args.seed, args.seconds, work_dir, tracer)
    if tracer:
        tracer.spark = spark
        install(tracer)
    try:
        if args.workload == "query_mix":
            query_mix(ctx, data_dir)
        else:
            ingest_small_files(ctx)
        ctx.e2e["setup_s"] = median([s + w for s, w in zip(starts, warmups)])
        ctx.layers.update({
            "session.peak_rss_mb": peak_rss_mb(spark),
            "session.start_s": starts[0],
            "session.warmup_s": warmups[0],
        })
    finally:
        stop(spark)
    return ctx


def report(args, ctx: Context) -> dict:
    """Print the readable report and return the result line."""
    name = f"{args.workload}-seed{args.seed}"
    os.makedirs(RUNS, exist_ok=True)
    for line in ctx.notes:
        print(line)
    for k, unit in E2E_UNITS.items():
        print(f"{k:>14} {ctx.e2e[k]:12.4f} {unit}")
    print(f"   peak_rss_mb {ctx.layers['session.peak_rss_mb']:12.1f} MB")
    rate = ctx.ledger.failed / ctx.ledger.attempted
    print(f"    error_rate {rate:12.4f} ({ctx.ledger.failed}/{ctx.ledger.attempted} operations)")
    if args.trace:
        layers = {k: float(ctx.layers.get(k, 0.0)) for k in LAYER_UNITS}
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        ctx.tracer.dump(os.path.join(RUNS, f"{name}-spans.json"))
        if args.workload != "query_mix":
            print(f"audit share of warm on_file: {layers['runner.audit_share']:.3f}")
        untraced = os.path.join(RUNS, f"{name}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            for k, v in base.items():
                print(f"tracing overhead {k}: {ctx.e2e[k] - v:+.4f} ({(ctx.e2e[k] / v - 1) * 100:+.1f}%)")
    else:
        metrics = {k: {"value": ctx.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    with open(os.path.join(RUNS, f"{name}-trace{args.trace}.json"), "w") as f:
        json.dump(ctx.e2e, f)
    return {
        "correct": ctx.ledger.failed == 0,
        "attempted": ctx.ledger.attempted,
        "failed": ctx.ledger.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work_dir = os.path.join(RUNS, f"run-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        ctx = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(report(args, ctx)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
