"""Audit trail appends: driver-side, atomic, no Spark job (audit.py)."""

from __future__ import annotations

import os
from datetime import datetime, timezone

from aws_cdk_pipelines_datalake_etl_spark.audit import AUDIT_SCHEMA, AuditLog

FROZEN = datetime(2020, 8, 15, 12, 0, 0, tzinfo=timezone.utc)


def _log(spark, tmp_path) -> AuditLog:
    return AuditLog(spark, str(tmp_path / "_audit"), clock=lambda: FROZEN)


def test_append_runs_no_spark_job(spark, tmp_path):
    audit = _log(spark, tmp_path)
    sc = spark.sparkContext
    group = f"audit-append-{id(audit)}"
    sc.setJobGroup(group, "audit append")
    try:
        audit.insert_started("e1", "n1", "p", "{}")
        audit.update_status("e1", "SUCCEEDED")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the probe does see a job run under the same group
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    names = sorted(os.listdir(audit.location))
    assert len(names) == 2
    assert all(n.startswith("part-") and n.endswith(".parquet") for n in names)


def test_spark_reads_events_with_audit_schema(spark, tmp_path):
    audit = _log(spark, tmp_path)
    audit.insert_started("e1", "n1", "datalake-etl-spark", '{"k": 1}')
    audit.update_status("e1", "FAILED", error_message="boom")
    # the files themselves carry AUDIT_SCHEMA's names, order and types
    inferred = spark.read.parquet(audit.location).schema
    assert [(f.name, f.dataType) for f in inferred] == [
        (f.name, f.dataType) for f in AUDIT_SCHEMA
    ]
    df = audit.read()
    assert df.dtypes == [
        (f.name, f.dataType.simpleString()) for f in AUDIT_SCHEMA
    ]
    ts = "2020-08-15 12:00:00.000000"
    rows = [r.asDict() for r in df.orderBy("event_seq").collect()]
    assert rows == [
        {
            "event_seq": 1,
            "execution_id": "e1",
            "execution_name": "n1",
            "pipeline_id": "datalake-etl-spark",
            "job_input": '{"k": 1}',
            "job_latest_status": "STARTED",
            "job_start_date": ts,
            "joblast_updated_timestamp": ts,
            "error_message": None,
        },
        {
            "event_seq": 2,
            "execution_id": "e1",
            "execution_name": None,
            "pipeline_id": None,
            "job_input": None,
            "job_latest_status": "FAILED",
            "job_start_date": None,
            "joblast_updated_timestamp": ts,
            "error_message": "boom",
        },
    ]


def test_frozen_clock_event_seq_last_wins(spark, tmp_path):
    audit = _log(spark, tmp_path)
    audit.insert_started("e1", "n1", "p", "{}")
    audit.update_status("e1", "FAILED", error_message="first try")
    audit.update_status("e1", "SUCCEEDED")
    audit.insert_started("e2", "n2", "p", "{}")
    latest = {
        r.execution_id: (r.job_latest_status, r.event_seq)
        for r in audit.latest_status().collect()
    }
    assert latest == {"e1": ("SUCCEEDED", 3), "e2": ("STARTED", 4)}


def test_leftover_temp_files_are_ignored(spark, tmp_path):
    """A crash before the rename leaves a hidden ``.part-*.parquet.tmp``,
    half-written or complete; readers see neither."""
    audit = _log(spark, tmp_path)
    audit.insert_started("e1", "n1", "p", "{}")
    audit.update_status("e1", "SUCCEEDED")
    # a complete but unpublished later event, and a truncated one
    other = AuditLog(spark, str(tmp_path / "other"), clock=lambda: FROZEN)
    other.update_status("e1", "FAILED", error_message="never published")
    (written,) = os.listdir(other.location)
    with open(os.path.join(other.location, written), "rb") as f:
        event = f.read()
    for name, data in (
        (f".{written}.tmp", event),
        (".part-00000000-0000-0000-0000-000000000000.parquet.tmp", event[:40]),
    ):
        with open(os.path.join(audit.location, name), "wb") as f:
            f.write(data)
    assert audit.read().count() == 2
    latest = audit.latest_status().collect()
    assert [(r.execution_id, r.job_latest_status) for r in latest] == [
        ("e1", "SUCCEEDED")
    ]
