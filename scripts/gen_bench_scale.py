"""Assemble the BENCH_SCALE artifact: the headline bench (or the named
registry queries) at sf0.1 AND at the 10x replica (.scale/sf1, built
by scripts/gen_scale_data.py), timed by bench.py's harness.

Each query's sf0.1 and sf1 passes alternate back-to-back in one
session (s,b,s,b,s,b), median of 3 per leg, so session aging (GC
pressure, page-cache state, JIT churn) hits both legs of a slot
equally and the per-slot ratio is defensible per-plan.  (Through r11
the two legs ran as separate whole-bench passes; a slot's sf1 leg then
ran ~10 minutes of session drift after its sf0.1 leg, which produced
>2x phantom spread on the worst slots.)

Usage: python scripts/gen_bench_scale.py [--out PATH] [query ...]
Env: PROBE_BIG_DIR (default .scale/sf1), SPARK_GRAFT_SF_DIR
     (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_WARM_SF_DIR (the codegen warm-up scale factor).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from aws_cdk_pipelines_datalake_etl_spark.plans.registry import build_registry  # noqa: E402

SUMMARY = ("total_scaling", "max_query_scaling", "all_queries_sub_linear")


def run_interleaved(names: list[str], small_dir: str, big_dir: str) -> dict:
    spark = bench.start_session("bench-scale-interleaved")
    registry = build_registry()
    bench.warm(spark, registry, names, [small_dir, big_dir])
    runs, errors = bench.measure_all(spark, registry, names, [small_dir, big_dir])
    small = {name: s["wall_s"] for name, (s, _) in runs.items()}
    big = {name: b["wall_s"] for name, (_, b) in runs.items()}
    spark.stop()
    ratios = {q: round(big[q] / small[q], 2) for q in small if small[q] > 0}
    doc = {
        "sf0.1_queries": small,
        "sf1_queries": big,
        "ratios": ratios,
        "total_sf0.1": round(sum(small.values()), 3),
        "total_sf1": round(sum(big.values()), 3),
        "total_scaling": round(sum(big.values()) / sum(small.values()), 2),
        "max_query_scaling": max(ratios.values()),
        "all_queries_sub_linear": all(r < 10 for r in ratios.values()),
    }
    if errors:
        doc["errors"] = errors
    return doc


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="default: bench.HEADLINE")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALE.json"))
    args = ap.parse_args()
    small_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    big_dir = os.environ.get("PROBE_BIG_DIR", os.path.join(REPO, ".scale/sf1"))
    inter = run_interleaved(args.queries or bench.HEADLINE, small_dir, big_dir)
    doc = {
        "metric": "headline_queries_scaling_10x",
        "unit": "sec",
        "method": (
            "10x shape-preserving replication of sf0.1 into disjoint key "
            "shards (scripts/gen_scale_data.py; docs shingle-salted per "
            "copy, embeddings perturbed). Per-query interleaved A/B in "
            "one session (bench.py's harness) — each slot's sf0.1/sf1 "
            "passes alternate back-to-back, median of 3 per leg, so "
            "session aging cancels in the ratio."
        ),
        "interleaved": inter,
        **{k: inter[k] for k in SUMMARY},
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in SUMMARY[:2]} | {"out": args.out}))


if __name__ == "__main__":
    main()
