"""Dump `.explain("formatted")` for headline queries to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag-dir-suffix> [query ...]
e.g.   python scripts/dump_plans.py r12/q01_pricing_summary_before q01_pricing_summary
or     python scripts/dump_plans.py r12 --all --suffix before

Writes plans/r12/<query>_<suffix>.txt for each query at
$SPARK_GRAFT_SF_DIR (default sf0.1) — the judge's plan-claim evidence
(guide §1/§7.2).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from aws_cdk_pipelines_datalake_etl_spark.plans.explain import formatted_plan  # noqa: E402
from aws_cdk_pipelines_datalake_etl_spark.plans.registry import build_registry  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    args = sys.argv[2:]
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.start_session("dump-plans")
    registry = build_registry()
    names = bench.HEADLINE if args == ["--all"] else args

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(df))
        print("wrote", path)


if __name__ == "__main__":
    main()
