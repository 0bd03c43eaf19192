"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Usage: python bench.py [query ...]   (default: the HEADLINE queries)

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
and writes BENCH_DETAIL_last.json next to this file, with one record
per slot under ``slots`` (see :func:`measure`).

Each query is fully materialized with the noop sink (count() would let
column pruning skip projection work).  The session set-up, the warm-up
and :func:`measure` are also what scripts/gen_bench_scale.py times
with.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from py4j.protocol import Py4JJavaError

from aws_cdk_pipelines_datalake_etl_spark.plans.registry import build_registry
from aws_cdk_pipelines_datalake_etl_spark.session import get_spark
from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
    TESTDATA_TABLES,
    load_table,
)

JOB_GROUP = "spark.jobGroup.id"

# Host-drift calibration (VERDICT r5 #4): a fixed, sf-independent,
# pure-codegen workload whose cost depends only on the host (CPU +
# JVM), never on repo code or data.  Its best-of-N time divided by the
# frozen reference below scales the normalized total, so cross-round
# deltas are attributable to code; the raw total is still reported.
# Sized at 4B rows (~2 s) after the first 1B-row version proved too
# short to be stable (best-of-5 varied ±20% with task-scheduling
# noise; at ~2 s the warm spread is ~2-3%).  CALIBRATION_REF_SEC was
# measured IN BENCH CONTEXT (after the headline warmup, where the JIT
# state matches how it runs) on the quiet round-6 host and is FROZEN —
# do not re-measure it in later rounds, that would defeat the
# normalization.
CALIBRATION_REF_SEC = 2.03  # round-6 quiet-host floor, best of 5 (frozen)


def _calibration(spark) -> float:
    from pyspark.sql import functions as F

    best = None
    for _ in range(5):
        t0 = time.time()
        (
            spark.range(0, 4_000_000_000, 1, 64)
            .select(
                F.sum((F.col("id") % 7) * (F.col("id") % 11)).alias("s"),
                F.sum(F.xxhash64("id") % 13).alias("h"),
                F.avg(F.col("id") % 97).alias("a"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        took = time.time() - t0
        best = took if best is None else min(best, took)
    return round(best, 4)


HEADLINE = [
    "q01_pricing_summary",
    "q02_taxi_shape_agg",
    "q04_topk_orders",
    "q06_broadcast_dim_join",
    "q07_revenue_top_orders",
    "q31_shipping_priority",
    "q32_regional_supplier_volume",
    "q11_window_topk_per_group",
    "q13_sessionize",
    "q41_large_orders",
    "q47_reaggregation_rollup",
    "ts_gapfill",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_metrics",
    "text_tfidf_top_terms",
    "sim_brute_topk",
    "stream_tumbling",
    # round-4 operator families, benched from round 5 on (appended so
    # the original 18 stay directly comparable across rounds)
    "dedup_winnow_overlap",
    "sim_ivf_index_full_probe",
    "sketch_cm_heavy_hitters",
    # round-6 additions: the production-shaped sketch probe (bounded
    # candidate list, no exact-count join) and the semantic-dedup
    # block-grid skew guard
    "sketch_cm_topk",
    "dedup_semantic_skewguard",
    # round-6 operator families: web canonicalization, substring-span
    # dedup, Gopher repetition metrics.  Round 7 switched the
    # substring-span slot to the PRODUCTION xxhash64-key form
    # (VERDICT r6 #6) — the text-key oracle form it replaces measured
    # 11.29x at 10x data by design (it shuffles gram text); the two
    # are proven to produce the identical relation.
    "web_url_normalize",
    "dedup_substring_spans_prod",
    "text_repetition_metrics",
    # round-8 additions: the Gopher rule pass (threshold corrected to
    # the published rule this round), the char-trigram NB language ID
    # (pure Catalyst, broadcast model), and the tokenize->pack
    # junction (BPE ids -> fixed-budget training sequences)
    "text_gopher_rules",
    "text_langid_nb",
    "corpus_packed_ids",
    # round-9 addition: the oracle-backed classifier scoring path
    # (one-step-GD integer weights + broadcast integer dot product)
    "corpus_quality_scores",
    # round-9 late additions: DSIR importance weighting (hashed n-gram
    # log-ratio selection, the data-selection family's headline) and
    # interpolated Kneser-Ney scoring (the LM family's standard
    # smoothing next to the stupid-backoff slot)
    "corpus_dsir_weights",
    "lm_kneser_ney_logprob",
    # round-10 addition: the script-level pre-classifier (7 positive
    # run-quantified regex counts + row-local argmax, pure Catalyst)
    "text_script_id",
    # round-11 additions: exact block-unit dedup (the CCNet line-dedup
    # step), trigram stupid backoff (the LM family's depth slot), and
    # the UL2 denoiser mixture (three row-local branches, one pass)
    "dedup_block_units",
    "lm_trigram_backoff",
    "text_ul2_mixture",
    # round-12 additions: the production 128-bit-key block dedup (no
    # unit text through any shuffle), the UniMax water-filling budget
    # allocator (one source-cardinality agg + a bounded driver loop),
    # and RHO-1 selective token scoring (per-doc rank windows over the
    # trigram/unigram excess stream)
    "dedup_block_units_md5",
    "sample_unimax_budget",
    "corpus_rho1_selection",
]


def start_session(app_name: str = "bench"):
    """The bench session: local[$SPARK_GRAFT_CPUS], one shuffle
    partition per core."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, registry, names, sf_dirs) -> None:
    """Touch every input table at each of ``sf_dirs`` once (parquet
    footers + OS page cache + JVM/codegen warm) so timings measure
    query work, not first-touch I/O — the steady state a resident
    cluster runs in.

    Then run every named query once at the smallest SF so
    whole-stage-codegen compilation (Janino) happens outside the timed
    loop — the minhash signature pass alone costs ~9 s of one-time
    compile, and the generated-code cache is keyed on source text, so
    a tiny-SF run warms the exact same plans the timed run uses."""
    for d in sf_dirs:
        for t in TESTDATA_TABLES:
            try:
                load_table(spark, d, t).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — table absent at this sf
                pass
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    timed = {os.path.realpath(d) for d in sf_dirs}
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) not in timed:
        for name in names:
            try:
                registry[name].fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001 — keep bench robust
                pass


def _shuffle_counters(spark, group: str) -> dict[str, int]:
    """Shuffle writes and stage count of the jobs run under job group
    ``group``, read from Spark's in-process status store (kept with the
    UI off) once the listener bus has delivered every event.  A stage
    that several jobs share (an adaptive query stage) counts once."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_ids = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(job_id).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = {"shuffle_write_bytes": 0, "shuffle_write_records": 0, "stages": 0}
    for stage_id in stage_ids:
        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # stage skipped, or evicted from the store
            continue
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_write_records"] += st.shuffleWriteRecords()
        out["stages"] += 1
    return out


def _record(spark, passes: list[tuple]) -> dict:
    walls = [wall for wall, _, _, _ in passes]
    _, _, df, group = passes[-1]
    t0 = time.time()
    df._jdf.queryExecution().executedPlan()
    return {
        "wall_s": round(statistics.median(walls), 3),
        "best_s": min(walls),
        "build_s": round(statistics.median(b for _, b, _, _ in passes), 3),
        "plan_s": round(time.time() - t0, 3),
        **_shuffle_counters(spark, group),
    }


def measure(spark, fn, sf_dirs, reps: int = 3) -> list[dict]:
    """Time query ``fn`` ``reps`` times at each of ``sf_dirs``, the
    dirs interleaved within each rep (s,b,s,b,...) so session aging hits
    every leg alike, and return one record per dir:

    - ``wall_s`` / ``best_s``: median / best of the timed passes; a
      pass runs from before ``fn()`` to after the noop ``save()``;
    - ``build_s``: median time until ``fn()`` returned (Python
      DataFrame construction plus any eager staging jobs);
    - ``plan_s``: one untimed Catalyst optimization + physical planning
      of the last pass's DataFrame, after the timed passes;
    - ``shuffle_write_bytes`` / ``shuffle_write_records`` / ``stages``:
      of the last pass, from the status store (each pass runs under a
      job group of its own); ``stages`` counts the distinct stages of
      the pass's jobs that the store holds an attempt of.

    An exception from ``fn`` or the write propagates."""
    sc = spark.sparkContext
    passes: list[list[tuple]] = [[] for _ in sf_dirs]
    try:
        for _rep in range(reps):
            for sf_dir, done in zip(sf_dirs, passes):
                group = f"bench-{uuid.uuid4().hex}"
                sc.setLocalProperty(JOB_GROUP, group)
                t0 = time.time()
                df = fn(spark, sf_dir)
                built = time.time()
                df.write.format("noop").mode("overwrite").save()
                done.append((round(time.time() - t0, 3), built - t0, df, group))
    finally:
        sc.setLocalProperty(JOB_GROUP, None)
    return [_record(spark, done) for done in passes]


def measure_all(spark, registry, names, sf_dirs) -> tuple[dict, dict]:
    """:func:`measure` for each named query: ``({name: records},
    {name: error})``."""
    runs: dict[str, list[dict]] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            runs[name] = measure(spark, registry[name].fn, sf_dirs)
        except Exception as exc:  # noqa: BLE001 — one bad query must
            # not zero out the whole benchmark; record it and keep
            # timing the rest (the error surfaces in the JSON line).
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
    return runs, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or HEADLINE
    spark = start_session()
    registry = build_registry()
    warm(spark, registry, names, [sf_dir])

    # Calibration sample BEFORE the timed loop (and again after):
    # host noise fluctuates on minute timescales, so one end-of-run
    # sample can misrepresent the load the queries actually ran under;
    # the mean of the two brackets the run.
    cal_start = _calibration(spark)

    # 3 timed passes per query; the PRIMARY number is the per-query
    # MEDIAN (VERDICT r8 #7: BENCH_r08 vs the same-methodology
    # BENCH_SCALE_r08 sf0.1 leg differed 14% on identical untouched
    # queries — best-of-N tracks the single luckiest scheduling window,
    # medians damp that).  The best-of-3 is still emitted
    # (queries_best / value_best) so rounds 1-8, which reported best,
    # stay directly comparable; from round 9 on, compare medians.
    runs, errors = measure_all(spark, registry, names, [sf_dir])
    slots = {name: rec for name, (rec,) in runs.items()}
    timings = {n: r["wall_s"] for n, r in slots.items()}
    timings_best = {n: r["best_s"] for n, r in slots.items()}

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    cal_end = _calibration(spark)
    cal = round((cal_start + cal_end) / 2, 4)
    total = round(sum(timings.values()), 3)
    # The ONE-LINE stdout payload stays compact (VERDICT r12 #9: the
    # r11 line was truncated in the driver's tail capture, which
    # nulled the whole round-over-round PERF comparison).  The primary
    # medians (the contract: metric/value/unit/queries/sf) plus the
    # calibration summary stay on the line; best-of-3 (rounds-1-8
    # comparability) and methodology prose move to a full-detail side
    # file written next to bench.py.
    payload: dict = {
        "metric": "headline_queries_total_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "calibration_sec": cal,
        "host_factor": round(cal / CALIBRATION_REF_SEC, 4),
        "value_normalized": round(total * CALIBRATION_REF_SEC / cal, 3),
    }
    if errors:
        payload["errors"] = errors
    detail = {
        **payload,
        "queries_best": timings_best,
        "value_best": round(sum(timings_best.values()), 3),
        "methodology": (
            "per-query MEDIAN of 3 warm passes (primary, round 9+); "
            "best-of-3 in queries_best/value_best for comparison "
            "with rounds 1-8, which reported best"
        ),
        "calibration_samples": [cal_start, cal_end],
        "slots": slots,
    }
    try:
        with open(os.path.join(HERE, "BENCH_DETAIL_last.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as exc:  # read-only checkout: the line still prints
        print(f"BENCH DETAIL WRITE FAILED: {exc}", file=sys.stderr)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
