"""The benchmark's workloads.  Each runs closed loop with one client and
fills ``ctx.e2e`` (end-to-end values), ``ctx.layers`` (per-layer values,
traced runs only) and ``ctx.notes`` (report lines)."""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

from checks import Ledger, check_status, check_sums
from stats import digest, geomean, median, tail
from taxi import Expected, taxi_csv
from spans import Span, Tracer, self_time, subtree, total

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A frozen subset of the headline query list (bench.py HEADLINE), in its
# fixed order: at least one query of each operator family (relational,
# time series, dedup, text, similarity, sketch, corpus, LM), and
# dedup_minhash_lsh, whose build stages eagerly.  One pass over all 39
# takes 55-80 s on a 4-vCPU host, too long for a run; a pass over these
# 16 takes 22-41 s.
QUERIES = (
    "q01_pricing_summary q02_taxi_shape_agg q06_broadcast_dim_join "
    "q31_shipping_priority q11_window_topk_per_group q13_sessionize "
    "ts_gapfill dedup_minhash_lsh dedup_simhash text_metrics "
    "text_tfidf_top_terms sim_brute_topk sketch_cm_topk "
    "corpus_quality_scores lm_kneser_ney_logprob dedup_block_units"
).split()
DIGESTS_PATH = os.path.join(HERE, "digests.json")

SMALL_FILE_ROWS = (1_800, 2_201)
SOURCE, TABLE = "tlc_taxi_data", "yellow_taxi_trip_record"
PURPOSEBUILT = f"{SOURCE}_purposebuilt"
FIRST_DAY = datetime(2020, 8, 1, tzinfo=timezone.utc)
READS = 3
FIXED_FILES = 4  # the files total_s counts, the cold one included
# span name -> (seconds metric, jobs metric) of the layers inside on_file
LAYER_SPANS = {
    "csv_source.read": ("csv_source.read_s", "csv_source.jobs"),
    "conform": ("conform.s", "conform.jobs"),
    "transform": ("transform.s", "transform.jobs"),
    "transform.run_sql": ("transform.run_sql_s", None),
}


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work_dir: str
    tracer: Tracer | None
    ledger: Ledger = field(default_factory=Ledger)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    digests: dict[str, str] = field(default_factory=dict)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def timed(self, name: str, fn):
        """``(result, seconds)`` of ``fn()``, inside a span when traced."""
        with self.span(name):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0


# --------------------------------------------------------------- ingest


def _data_files(root: str) -> list[str]:
    """Data files under ``root`` (not the hidden checksum and marker
    files the local file system and the committer leave)."""
    found = []
    for d, _, names in os.walk(root):
        found += [os.path.join(d, n) for n in names if not n.startswith((".", "_"))]
    return found


def ingest_small_files(ctx: Context) -> None:
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import validate_table
    from aws_cdk_pipelines_datalake_etl_spark.runner import LakeLayout, PipelineRunner

    spark = ctx.spark
    layout = LakeLayout(os.path.join(ctx.work_dir, "lake"))
    runner = PipelineRunner(
        spark=spark, layout=layout, transforms_dir=os.path.join(ROOT, "transforms")
    )
    rng = np.random.default_rng(ctx.seed)
    expected = Expected()
    file_s: list[float] = []
    warm_rows = 0
    files_written: list[int] = []
    while len(file_s) < FIXED_FILES or sum(file_s[1:]) < ctx.seconds:
        i = len(file_s)
        day = FIRST_DAY + timedelta(days=i)
        data, exp = taxi_csv(ctx.seed * 100_003 + i, int(rng.integers(*SMALL_FILE_ROWS)), i)
        key = f"{SOURCE}/{TABLE}/yellow_tripdata_{day:%Y-%m-%d}.csv"
        path = os.path.join(layout.raw, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        res, took = ctx.timed("runner.on_file", lambda: runner.on_file(key, as_of=day))
        file_s.append(took)
        expected.add(exp)
        if i:
            warm_rows += exp.good_rows
        problems = [] if res.status == "SUCCEEDED" else [f"{res.status}: {res.error_message}"]
        if res.conformed_rows != exp.good_rows:
            problems.append(f"conformed rows {res.conformed_rows} != {exp.good_rows}")
        ctx.ledger.record(problems, f"on_file #{i}")
        part = os.path.join(
            layout.conformed, TABLE, f"year={day:%Y}", f"month={day:%m}", f"day={day:%d}"
        )
        files_written.append(len(_data_files(part)))

    # Read back what the stream wrote: the audit status, then the lake
    # tables through the catalog, as a consumer would.  Each read runs
    # READS times and counts with its median.
    def lake_read():
        agg = spark.sql(
            "SELECT COUNT(*) AS n, SUM(fare_amount) AS fare_amount, "
            "SUM(tip_amount) AS tip_amount, SUM(total_amount) AS total_amount "
            f"FROM `{SOURCE}`.`{TABLE}`"
        ).collect()[0]
        return agg, validate_table(spark, PURPOSEBUILT, TABLE).collect()

    status_s, lake_s = [], []
    for _ in range(READS):
        latest, took = ctx.timed(
            "audit.latest_status", lambda: runner.audit.latest_status().collect()
        )
        status_s.append(took)
        (agg, sample), took = ctx.timed("lake.read", lake_read)
        lake_s.append(took)
    status_s, lake_s = median(status_s), median(lake_s)

    # Checks, outside the timed region.
    events = runner.audit.read().groupBy("execution_id").count().collect()
    ctx.ledger.record(
        check_status(
            [(r["execution_id"], r["job_latest_status"]) for r in latest],
            [r["count"] for r in events],
            len(file_s),
        ),
        "audit status",
    )
    pb = spark.sql(
        "SELECT SUM(count) AS n, SUM(total_fare_amount) AS fare_amount, "
        "SUM(total_tip_amount) AS tip_amount, SUM(total_amount) AS total_amount "
        f"FROM `{PURPOSEBUILT}`.`{TABLE}`"
    ).collect()[0]
    problems = check_sums("conformed", expected, agg["n"], agg.asDict())
    problems += check_sums("purpose-built", expected, pb["n"], pb.asDict())
    if len(sample) != 10:
        problems.append(f"validate_table gave {len(sample)} rows, not 10")
    ctx.ledger.record(problems, "lake read")

    warm = file_s[1:]
    lake_bytes = sum(
        os.path.getsize(p)
        for zone in (layout.conformed, layout.purposebuilt, layout.audit)
        for p in _data_files(zone)
    )
    ctx.e2e.update(op_geomean_s=geomean(warm), total_s=sum(file_s[:FIXED_FILES]))
    ctx.layers.update({
        "session.first_op_s": file_s[0],
        "runner.rows_per_s": warm_rows / sum(warm),
        "lake.bytes_per_raw_byte": lake_bytes / expected.raw_bytes,
        "audit.latest_status_s": status_s,
        "lake.read_s": lake_s,
    })
    t = tail(warm)
    ctx.notes.append(
        f"files: {len(file_s)} ({len(warm)} warm); cold {file_s[0]:.3f} s; warm p50 "
        f"{median(warm):.3f} s, geomean {geomean(warm):.3f} s; "
        + (f"tail p{t[0]:.0f} {t[1]:.3f} s" if t else "tail omitted (< 11 warm files)")
        + f"; status read {status_s:.3f} s; lake read {lake_s:.3f} s; "
        f"{ctx.layers['runner.rows_per_s']:.0f} rows/s; "
        f"{ctx.layers['lake.bytes_per_raw_byte']:.3f} lake bytes per raw byte"
    )
    if ctx.tracer:
        _ingest_layers(ctx, files_written)
        ctx.layers["catalog.partitions"] = spark.sql(
            f"SHOW PARTITIONS `{SOURCE}`.`{TABLE}`"
        ).count()
        ctx.layers["audit.files"] = len(_data_files(layout.audit))


def _ingest_layers(ctx: Context, files_written: list[int]) -> None:
    """Per-layer values: medians over the warm ``on_file`` spans."""
    files = [s for s in ctx.tracer.spans if s.name == "runner.on_file"][1:]
    per: dict[str, list[float]] = {}

    def put(name: str, value: float) -> None:
        per.setdefault(name, []).append(value)

    def first(f: Span, name: str) -> Span | None:
        return next((s for s in subtree(f) if s.name == name), None)

    for f, n_files in zip(files, files_written[1:]):
        appends = [s for s in subtree(f) if s.name == "audit.append"]
        put("runner.on_file_s", f.seconds)
        put("runner.self_s", self_time(f))
        put("runner.audit_share", sum(a.seconds for a in appends) / f.seconds)
        put("audit.appends", len(appends))
        put("audit.append_jobs", sum(a.jobs for a in appends))
        for a in appends:
            put("audit.append_s", a.seconds)
        for span_name, (seconds, jobs) in LAYER_SPANS.items():
            s = first(f, span_name)
            if s:
                put(seconds, s.seconds)
                if jobs:
                    put(jobs, total(s, "jobs"))
        for layer in ("conform", "transform"):
            s = first(f, layer)
            if s:
                put(f"{layer}.self_s", self_time(s))
                put(f"{layer}.bytes_written", total(s, "output_bytes"))
        s = first(f, "transform")
        if s:
            put("transform.shuffle_write_bytes", total(s, "shuffle_write_bytes"))
        put("conform.files_written", n_files)
        put("catalog.upsert_s", total(f, "seconds", "catalog.upsert"))
        put("catalog.recover_partitions_s", total(f, "seconds", "catalog.recover_partitions"))
    ctx.layers.update({k: median(v) for k, v in per.items()})


# ------------------------------------------------------------ query mix


def load_digests() -> dict[str, str]:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def query_mix(ctx: Context, data_dir: str) -> None:
    """One or more passes over the queries, in order; each
    query counts its DataFrame build plus the fetch of its rows."""
    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import build_registry

    registry = build_registry()
    expected = load_digests()
    per: dict[str, list[float]] = {}
    got = ctx.digests
    passes = 0
    started = time.perf_counter()
    while not passes or time.perf_counter() - started < ctx.seconds:
        passes += 1
        for name in QUERIES:
            fn = registry[name].fn
            try:
                df, build_s = ctx.timed(f"registry.{name}.build", lambda: fn(ctx.spark, data_dir))
                rows, exec_s = ctx.timed(f"registry.{name}.exec", df.toPandas)
            except Exception as exc:  # noqa: BLE001 — one failed query is one failed op
                ctx.ledger.record([f"{type(exc).__name__}: {exc}"[:300]], name)
                continue
            for k, v in (("", build_s + exec_s), (".build_s", build_s), (".exec_s", exec_s)):
                per.setdefault(name + k, []).append(v)
            got[name] = digest(rows)
            ok = got[name] == expected.get(name)
            ctx.ledger.record([] if ok else [f"digest {got[name]} != {expected.get(name)}"], name)
    # A query that failed in every pass has no time; the ledger counts it.
    query_s = [median(per[n]) for n in QUERIES if n in per]
    first = per[QUERIES[0]][0] if QUERIES[0] in per else 0.0
    ctx.e2e.update(op_geomean_s=geomean(query_s[1:]), total_s=sum(query_s))
    ctx.layers["session.first_op_s"] = first
    t = tail(query_s[1:])
    ctx.notes.append(
        f"queries: {len(query_s)} timed, {passes} pass(es); total "
        f"{sum(query_s):.3f} s; first {first:.3f} s; the rest: p50 "
        f"{median(query_s[1:]):.3f} s, geomean {ctx.e2e['op_geomean_s']:.3f} s; "
        + (f"tail p{t[0]:.0f} {t[1]:.3f} s (n={len(query_s) - 1})" if t else "tail omitted")
    )
    if ctx.tracer:
        for name in QUERIES:
            for k in ("build_s", "exec_s"):
                ctx.layers[f"registry.{name}.{k}"] = median(per.get(f"{name}.{k}", []))
        spans = [s for s in ctx.tracer.spans if s.name.startswith("registry.")]
        for kind in ("build", "exec"):
            ctx.layers[f"registry.{kind}_jobs"] = sum(
                total(s, "jobs") for s in spans if s.name.endswith(kind)
            ) / passes
        ctx.layers["registry.shuffle_write_bytes"] = sum(
            total(s, "shuffle_write_bytes") for s in spans) / passes
        ctx.layers["registry.spill_bytes"] = sum(total(s, "spill_bytes") for s in spans) / passes
