"""bench.py's slot harness: one timed pass of a registry query yields a
record of its wall, build and plan times and of the shuffle writes its
own jobs made (read from the status store under the pass's job
group)."""

from __future__ import annotations

from bench import measure

from aws_cdk_pipelines_datalake_etl_spark.plans.registry import q01_pricing_summary
from tests.conftest import SF_DIR_SMOKE

RECORD_KEYS = {
    "wall_s",
    "best_s",
    "build_s",
    "plan_s",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "stages",
}


def test_measure_records_one_slot(spark):
    (rec,) = measure(spark, q01_pricing_summary, [SF_DIR_SMOKE], reps=1)
    assert set(rec) == RECORD_KEYS
    assert 0 < rec["build_s"] <= rec["wall_s"]
    assert rec["shuffle_write_bytes"] > 0
    assert rec["stages"] >= 1
