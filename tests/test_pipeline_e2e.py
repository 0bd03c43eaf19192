"""End-to-end: fixture CSV -> conformed parquet + catalog ->
SQL aggregation -> purpose-built parquet (SURVEY §7 step 1)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from datetime import datetime, timezone

import pytest

from aws_cdk_pipelines_datalake_etl_spark.runner import LakeLayout, PipelineRunner

FIXED_NOW = datetime(2020, 8, 15, 12, 0, 0, tzinfo=timezone.utc)

# every notification payload, SUCCEEDED or FAILED: the job parameters,
# the target database and the run's outcome
PAYLOAD_KEYS = {
    "execution_id",
    "source_system_name",
    "table_name",
    "base_file_name",
    "source_path",
    "p_year",
    "p_month",
    "p_day",
    "target_database_name",
    "status",
    "error_message",
    "conformed_rows",
    "purposebuilt_rows",
}


@pytest.fixture()
def runner(spark, lake_root):
    notifications = []
    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(os.path.dirname(__file__), "..", "transforms"),
        notifier=lambda subject, message: notifications.append((subject, message)),
        clock=lambda: FIXED_NOW,
    )
    r.notifications = notifications
    return r


def test_yellow_end_to_end(spark, runner, yellow_csv, lake_root):
    result = runner.on_file(yellow_csv)
    assert result.status == "SUCCEEDED", result.error_message

    # conformed: 4 valid rows (malformed dropped), ingest-date partitions
    conformed = spark.table("tlc_taxi_data.yellow_taxi_trip_record")
    assert conformed.count() == 4
    row = conformed.limit(1).collect()[0]
    assert (row.year, row.month, row.day) == ("2020", "08", "15")
    # partition directories on disk are hive-style
    part_dir = os.path.join(
        lake_root, "conformed", "yellow_taxi_trip_record", "year=2020", "month=08", "day=15"
    )
    assert os.path.isdir(part_dir)

    # purpose-built aggregate via the shipped SQL semantics
    built = spark.table("tlc_taxi_data_purposebuilt.yellow_taxi_trip_record")
    rows = {
        (r.vendorid, r.pulocationid): r for r in built.collect()
    }
    # group (vendor 1, PU 100): 2 trips, fares 10+20
    g = rows[(1, 100)]
    assert g["count"] == 2
    assert g.total_fare_amount == pytest.approx(30.0)
    # null vendor -> coalesce(-1)
    assert (-1, 101) in rows
    assert rows[(-1, 101)]["count"] == 1

    # audit trail: STARTED then SUCCEEDED, last-event-wins view
    latest = runner.audit.latest_status().collect()
    assert len(latest) == 1
    assert latest[0].job_latest_status == "SUCCEEDED"
    # notification subject is correct (reference swaps these; §1.5-2)
    assert runner.notifications[-1][0] == "Job Completed"
    # payload parity: the full state rides in the message like the
    # reference's SNS publish of '$' (step_functions_stack.py:125-131)
    import json as _json

    payload = _json.loads(runner.notifications[-1][1])
    assert set(payload) == PAYLOAD_KEYS
    assert payload["status"] == "SUCCEEDED"
    assert payload["target_database_name"] == "tlc_taxi_data"
    assert payload["table_name"] == "yellow_taxi_trip_record"
    assert payload["source_system_name"] == "tlc_taxi_data"
    assert payload["base_file_name"] == "yellow_tripdata_2020-08.csv"
    assert (payload["p_year"], payload["p_month"], payload["p_day"]) == (
        "2020", "08", "15"
    )
    assert payload["conformed_rows"] == 4
    assert payload["purposebuilt_rows"] == 3
    assert payload["error_message"] is None
    assert payload["execution_id"] == result.params.execution_id


def test_rerun_is_idempotent_dynamic_overwrite(spark, runner, yellow_csv):
    assert runner.on_file(yellow_csv).status == "SUCCEEDED"
    assert runner.on_file(yellow_csv).status == "SUCCEEDED"
    # same partition rewritten, not doubled
    conformed = spark.table("tlc_taxi_data.yellow_taxi_trip_record")
    assert conformed.count() == 4


def test_reingest_unchanged_schema_keeps_table_and_reads_fresh_files(
    spark, runner, yellow_csv, lake_root
):
    """Re-ingesting a day with the same schema leaves both catalog
    entries in place (no DROP+CREATE window) and overwrites the
    partition's files; reads through the catalog see only the new
    files, with no stale listing of the deleted ones."""
    from tests.conftest import YELLOW_HEADER, YELLOW_ROWS

    tables = (
        "tlc_taxi_data.yellow_taxi_trip_record",
        "tlc_taxi_data_purposebuilt.yellow_taxi_trip_record",
    )

    def identity(fqn: str) -> tuple:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fqn}").collect()
        info = {r.col_name: r.data_type for r in rows}
        return info["Created Time"], info.get("Table Properties")

    assert runner.on_file(yellow_csv).status == "SUCCEEDED"
    # cache both tables' file listings, and mark them: a re-created
    # table would lose the property
    assert [spark.table(t).count() for t in tables] == [4, 3]
    for t in tables:
        spark.sql(f"ALTER TABLE {t} SET TBLPROPERTIES ('probe' = 'kept')")
    before = [identity(t) for t in tables]
    assert all("probe=kept" in props for _, props in before)

    # same day, same inferred schema, one valid row fewer (vendor 2)
    key = "tlc_taxi_data/yellow_taxi_trip_record/yellow_tripdata_2020-08-redo.csv"
    with open(os.path.join(lake_root, "raw", key), "w") as f:
        f.write("\n".join([YELLOW_HEADER, *YELLOW_ROWS[:3], YELLOW_ROWS[4]]) + "\n")
    result = runner.on_file(key)
    assert result.status == "SUCCEEDED", result.error_message
    assert (result.conformed_rows, result.purposebuilt_rows) == (3, 2)

    assert [identity(t) for t in tables] == before
    assert [spark.table(t).count() for t in tables] == [3, 2]
    built = spark.table(tables[1])
    assert sorted(r.vendorid for r in built.collect()) == [-1, 1]


def test_failure_edge_audits_and_notifies(spark, runner, lake_root):
    key = "tlc_taxi_data/missing_table/nope.csv"
    result = runner.on_file(key)
    assert result.status == "FAILED"
    assert result.error_message
    latest = runner.audit.latest_status().collect()
    assert latest[0].job_latest_status == "FAILED"
    assert latest[0].error_message
    assert runner.notifications[-1][0] == "Job Failed"
    import json as _json

    payload = _json.loads(runner.notifications[-1][1])
    assert set(payload) == PAYLOAD_KEYS
    assert payload["status"] == "FAILED"
    assert payload["conformed_rows"] is None
    assert payload["error_message"]
    assert payload["table_name"] == "missing_table"


def test_watch_processes_files_as_they_arrive(spark, lake_root):
    """The continuous O1 trigger: each poll picks up only newly
    arrived files, each processed exactly once."""
    def write_raw(key: str, header: str, rows: list[str]) -> None:
        path = os.path.join(lake_root, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")

    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(os.path.dirname(__file__), "..", "transforms"),
        notifier=lambda s, m: None,
        clock=lambda: FIXED_NOW,
    )
    write_raw("shop/first/a.csv", "id,v", ["1,10"])

    def arrive_second(_seconds: float) -> None:
        write_raw("shop/second/b.csv", "id,v", ["2,20", "3,30"])

    results = r.watch(polls=2, sleep=arrive_second)
    assert [res.params.table_name for res in results] == ["first", "second"]
    assert all(res.status == "SUCCEEDED" for res in results)
    assert spark.table("shop.first").count() == 1
    assert spark.table("shop.second").count() == 2


def test_schema_drift_last_writer_wins(spark, lake_root):
    """Two files of one table inferring different schemas: the catalog
    entry is overwritten per run (reference TableVersion '0' upsert,
    etl_raw_to_conformed.py:147-154) — last writer wins, no merge; the
    earlier partition stays on disk and reads through the new schema."""
    def write_raw(key: str, header: str, rows: list[str]) -> None:
        path = os.path.join(lake_root, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")

    now = {"t": datetime(2020, 8, 1, tzinfo=timezone.utc)}
    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(os.path.dirname(__file__), "..", "transforms"),
        notifier=lambda s, m: None,
        clock=lambda: now["t"],
    )
    write_raw("shop/items/day1.csv", "id,qty", ["1,10", "2,20"])
    assert r.on_file("shop/items/day1.csv").status == "SUCCEEDED"
    assert dict(spark.table("shop.items").dtypes)["qty"] in ("int", "bigint")

    # day 2: qty now carries units -> inferred string; a new column appears
    now["t"] = datetime(2020, 8, 2, tzinfo=timezone.utc)
    write_raw("shop/items/day2.csv", "id,qty,color", ['3,"7 kg",red'])
    assert r.on_file("shop/items/day2.csv").status == "SUCCEEDED"
    t = spark.table("shop.items")
    dt = dict(t.dtypes)
    assert dt["qty"] == "string" and "color" in dt  # last writer won
    # both ingest-date partitions remain readable through the new schema
    assert t.count() == 3
    assert {row.day for row in t.select("day").distinct().collect()} == {"01", "02"}


def test_nulltype_column_repaired_to_string(spark, runner, yellow_csv):
    runner.on_file(yellow_csv)
    conformed = spark.table("tlc_taxi_data.yellow_taxi_trip_record")
    # congestion_surcharge was all-empty -> NullType -> cast to string
    assert dict(conformed.dtypes)["congestion_surcharge"] == "string"


GREEN_HEADER = (
    "VendorID,lpep_pickup_datetime,lpep_dropoff_datetime,store_and_fwd_flag,"
    "RatecodeID,PULocationID,DOLocationID,passenger_count,trip_distance,"
    "fare_amount,extra,mta_tax,tip_amount,tolls_amount,ehail_fee,"
    "improvement_surcharge,total_amount,payment_type,trip_type,"
    "congestion_surcharge"
)

GREEN_ROWS = [
    "2,2020-08-03 08:00:00,2020-08-03 08:15:00,N,1,10,20,1,3.0,12.0,0.5,0.5,2.0,0.0,,0.3,15.3,1,1,0.0",
    "2,2020-08-03 09:00:00,2020-08-03 09:40:00,N,1,10,20,2,8.0,28.0,0.5,0.5,5.0,2.0,,0.3,36.3,1,1,0.0",
    "1,2020-08-04 10:00:00,2020-08-04 10:05:00,Y,1,11,21,1,1.0,4.5,0.0,0.5,0.0,0.0,,0.3,5.3,2,1,0.0",
]


def _write_green_csv(lake_root, key):
    path = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(GREEN_HEADER + "\n")
        f.write("\n".join(GREEN_ROWS) + "\n")


def test_green_name_mismatch_two_step_flow(spark, runner, lake_root):
    """The reference's green flow has a deliberate name mismatch: the
    shipped SQL file is green_taxi_trip_record.sql but it reads FROM
    tlc_taxi_data.green_taxi_record_data
    (transformation-sql/green_taxi_trip_record.sql:17, lookup rule at
    etl_conformed_to_purposebuilt.py:181-183).  Faithfully mirrored:

    1. ingest green data under green_taxi_record_data/ — Job 1
       conforms it; there is no green_taxi_record_data.sql, which this
       engine treats as a conform-only success (runner.py:140-143,
       softening the reference's S3-get failure) — the conformed
       table is what matters;
    2. trigger green_taxi_trip_record/ — its SQL aggregates the
       table conformed in step 1 and SUCCEEDS end-to-end.
    """
    _write_green_csv(
        lake_root, "tlc_taxi_data/green_taxi_record_data/green_tripdata_2020-08.csv"
    )
    res1 = runner.on_file(
        "tlc_taxi_data/green_taxi_record_data/green_tripdata_2020-08.csv"
    )
    assert res1.status == "SUCCEEDED"
    assert res1.purposebuilt_rows is None  # conform-only: no transform SQL
    assert res1.conformed_rows == 3
    assert spark.table("tlc_taxi_data.green_taxi_record_data").count() == 3

    _write_green_csv(
        lake_root, "tlc_taxi_data/green_taxi_trip_record/green_tripdata_2020-08.csv"
    )
    res2 = runner.on_file(
        "tlc_taxi_data/green_taxi_trip_record/green_tripdata_2020-08.csv"
    )
    assert res2.status == "SUCCEEDED", res2.error_message
    pb = spark.table("tlc_taxi_data_purposebuilt.green_taxi_trip_record")
    rows = {
        (r.vendorid, r.pulocationid): (r["count"], round(r.total_amount, 6))
        for r in pb.collect()
    }
    assert rows == {(2, 10): (2, 51.6), (1, 11): (1, 5.3)}


def test_window_function_transform_through_pipeline(spark, runner, lake_root):
    """The purpose-built job executes arbitrary Spark SQL (the §2.6
    observation, etl_conformed_to_purposebuilt.py:199) — proven here
    with a window-function transform (transforms/user_events.sql)
    flowing through the full raw -> conformed -> purpose-built path."""
    key = "app_events/user_events/events.csv"
    path = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("event_id,user_id,amount\n")
        f.write("1,7,10.0\n2,7,5.0\n3,8,2.0\n4,7,1.0\n")
    res = runner.on_file(key)
    assert res.status == "SUCCEEDED", res.error_message
    out = {
        r.event_id: r.running_amount
        for r in spark.table("app_events_purposebuilt.user_events").collect()
    }
    assert out == {1: 10.0, 2: 15.0, 3: 2.0, 4: 16.0}


def test_watch_ledger_survives_restart(spark, lake_root, tmp_path):
    """A restarted watcher with a durable ledger must skip files the
    previous instance already processed."""
    ledger = str(tmp_path / "processed.ledger")

    def write_raw(key, rows):
        path = os.path.join(lake_root, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("id,v\n" + "\n".join(rows) + "\n")

    def make_runner():
        return PipelineRunner(
            spark=spark,
            layout=LakeLayout(lake_root),
            transforms_dir=os.path.join(
                os.path.dirname(__file__), "..", "transforms"
            ),
            notifier=lambda s, m: None,
            clock=lambda: FIXED_NOW,
        )

    write_raw("shop/led1/a.csv", ["1,10"])
    r1 = make_runner().watch(polls=1, ledger_path=ledger)
    assert [x.params.table_name for x in r1] == ["led1"]

    # restart: a NEW runner instance, one old file + one new file
    write_raw("shop/led2/b.csv", ["2,20"])
    r2 = make_runner().watch(polls=1, ledger_path=ledger)
    assert [x.params.table_name for x in r2] == ["led2"]  # led1 skipped
    assert sorted(open(ledger).read().split()) == [
        "shop/led1/a.csv",
        "shop/led2/b.csv",
    ]


def test_debug_sample_taps_and_validation_query(
    spark, lake_root, yellow_csv, capsys
):
    """K8: df.show taps at the reference's three points
    (etl_raw_to_conformed.py:196,199,215) when debug_sample_rows is
    set; R7: the consumer validation query (README.md:263-265)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import (
        validate_table,
    )

    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(
            os.path.dirname(__file__), "..", "transforms"
        ),
        notifier=lambda s, m: None,
        clock=lambda: FIXED_NOW,
        debug_sample_rows=5,
    )
    assert r.on_file(yellow_csv).status == "SUCCEEDED"
    out = capsys.readouterr().out
    # three show() tables; the post-stamp ones carry partition cols
    assert out.count("only showing top 5 rows") >= 1 or "vendorid" in out.lower()

    sample = validate_table(
        spark, "tlc_taxi_data_purposebuilt", "yellow_taxi_trip_record", n=10
    )
    rows = sample.collect()
    assert 0 < len(rows) <= 10
    assert "count" in sample.columns  # the aggregate's output shape


def test_corpus_documents_through_pipeline(spark, runner, lake_root):
    """Tier-E domain through the reference pipeline shape: a documents
    parquet dropped in the raw zone conforms and rolls up through
    transforms/documents.sql into a per-(lang, source) quality table."""
    import shutil

    key = "corpus/documents/batch0.parquet"
    dst = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/documents.parquet", dst)

    result = runner.on_file(key)
    assert result.status == "SUCCEEDED", result.error_message

    pb = spark.table("corpus_purposebuilt.documents")
    rows = pb.collect()
    assert len(rows) > 0
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # rollup must account for every conformed document
    assert sum(r["n_docs"] for r in rows) == src.count()
    assert sum(r["total_chars"] for r in rows) == (
        src.agg(F.sum("n_chars")).collect()[0][0]
    )
    one = rows[0]
    assert (one["year"], one["month"], one["day"]) == ("2020", "08", "15")
    assert one["min_chars"] <= one["avg_chars"] <= one["max_chars"]


def test_dq_gate_blocks_transform_and_audits_failed(spark, lake_root, yellow_csv):
    """A failing data-quality check fails the run between conform and
    transform: audit FAILED with the check detail, purpose-built
    table never created; a passing gate proceeds normally."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.quality import (
        completeness_and_bounds_report,
    )

    def impossible_bounds(df):
        # trip_distance must lie in [-2, -1]: guaranteed failure
        return completeness_and_bounds_report(
            df, completeness_cols=[], bounds={"trip_distance": (-2.0, -1.0)}
        )

    # the session catalog is shared across tests: clear any
    # purpose-built table an earlier e2e test registered so absence
    # after the gate is meaningful
    spark.sql(
        "DROP TABLE IF EXISTS tlc_taxi_data_purposebuilt.yellow_taxi_trip_record"
    )
    notifications = []
    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(
            os.path.dirname(__file__), "..", "transforms"
        ),
        notifier=lambda s, m: notifications.append((s, m)),
        clock=lambda: FIXED_NOW,
        dq_checks=impossible_bounds,
    )
    result = r.on_file(yellow_csv)
    assert result.status == "FAILED"
    assert "data quality gate failed" in result.error_message
    assert "trip_distance" in result.error_message
    assert notifications[-1][0] == "Job Failed"
    assert not spark.catalog.tableExists(
        "tlc_taxi_data_purposebuilt.yellow_taxi_trip_record"
    )
    latest = r.audit.latest_status().collect()
    assert latest[0]["job_latest_status"] == "FAILED"

    # sane bounds: same runner config now succeeds end-to-end
    r2 = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(
            os.path.dirname(__file__), "..", "transforms"
        ),
        notifier=lambda s, m: None,
        clock=lambda: FIXED_NOW,
        # vendorid is deliberately nullable in the fixture (it
        # exercises the reference's COALESCE, R6) — gate on columns
        # the conformance contract does guarantee
        dq_checks=lambda df: completeness_and_bounds_report(
            df, completeness_cols=["pulocationid"],
            bounds={"trip_distance": (0.0, 1e6)},
        ),
    )
    assert r2.on_file(yellow_csv).status == "SUCCEEDED"


def test_schema_drift_widening_ok_narrowing_poisons(spark, lake_root):
    """SURVEY §7 risk register: per-file CSV inference + last-writer-
    wins catalog upsert.  Pins the actual engine behavior so the
    policy is documented, not folklore:

    - WIDENING drift (int -> double) is benign through the catalog:
      the second file's inferred schema wins the catalog, and Spark's
      parquet reader widens the older int32 files on read.
    - NARROWING drift (double -> int) poisons reads: the catalog now
      declares int but older files are physically double, which the
      reader refuses to narrow.  The fix is operational (re-conform or
      correct the catalog type), same as the reference's Glue behavior.
    """
    import json as _json

    from datetime import datetime, timezone

    clock_value = [datetime(2020, 8, 15, tzinfo=timezone.utc)]
    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(os.path.dirname(__file__), "..", "transforms"),
        notifier=lambda s, m: None,
        clock=lambda: clock_value[0],
    )

    def write_raw(key: str, content: str) -> None:
        path = os.path.join(lake_root, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(content)

    write_raw("shop/drifty/a.csv", "id,v\n1,10\n2,20\n")
    assert r.on_file("shop/drifty/a.csv").status == "SUCCEEDED"
    assert dict(spark.table("shop.drifty").dtypes)["v"] == "int"

    # widening drift lands in a NEW ingest-date partition
    clock_value[0] = datetime(2020, 8, 16, tzinfo=timezone.utc)
    write_raw("shop/drifty/b.csv", "id,v\n3,3.5\n4,4.25\n")
    assert r.on_file("shop/drifty/b.csv").status == "SUCCEEDED"
    # last writer won the catalog; reads widen the old int32 files
    assert dict(spark.table("shop.drifty").dtypes)["v"] == "double"
    got = {(row.id, row.v) for row in spark.table("shop.drifty").collect()}
    assert got == {(1, 10.0), (2, 20.0), (3, 3.5), (4, 4.25)}

    # narrowing drift: catalog says int again, old double files remain
    clock_value[0] = datetime(2020, 8, 17, tzinfo=timezone.utc)
    write_raw("shop/drifty/c.csv", "id,v\n5,7\n6,8\n")
    assert r.on_file("shop/drifty/c.csv").status == "SUCCEEDED"
    assert dict(spark.table("shop.drifty").dtypes)["v"] == "int"
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        spark.table("shop.drifty").collect()


def test_backfill_pins_ingest_date_and_touches_only_its_partitions(
    spark, runner, yellow_csv, lake_root
):
    """backfill(key, as_of) re-runs a file AS OF a past ingest date:
    the stamp lands in the original partitions and dynamic overwrite
    leaves the current date's data untouched."""
    # normal run lands in the fixed clock's date (2020-08-15)
    assert runner.on_file(yellow_csv).status == "SUCCEEDED"
    conformed = spark.table("tlc_taxi_data.yellow_taxi_trip_record")
    assert conformed.filter("day = '15'").count() == 4

    # backfill the same file as of an earlier ingest date
    past = datetime(2020, 8, 1, 9, 0, 0, tzinfo=timezone.utc)
    res = runner.backfill(yellow_csv, as_of=past)
    assert res.status == "SUCCEEDED"
    assert (res.params.p_year, res.params.p_month, res.params.p_day) == (
        "2020", "08", "01",
    )
    conformed = spark.table("tlc_taxi_data.yellow_taxi_trip_record")
    # both dates present; the current date's rows untouched
    assert conformed.filter("day = '01'").count() == 4
    assert conformed.filter("day = '15'").count() == 4
    assert os.path.isdir(
        os.path.join(
            lake_root, "conformed", "yellow_taxi_trip_record",
            "year=2020", "month=08", "day=01",
        )
    )
    # idempotent: re-running the backfill does not duplicate rows
    assert runner.backfill(yellow_csv, as_of=past).status == "SUCCEEDED"
    assert (
        spark.table("tlc_taxi_data.yellow_taxi_trip_record")
        .filter("day = '01'")
        .count()
        == 4
    )


def test_schema_policy_merge_survives_drift_matrix(spark, lake_root):
    """Opt-in schema evolution (schema_policy="merge"): the catalog
    only ever widens, so the narrowing case that poisons last-writer
    (test above) stays readable, new columns union in, and dropped
    columns persist as typed nulls."""
    from datetime import datetime, timezone

    clock_value = [datetime(2020, 8, 15, tzinfo=timezone.utc)]
    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(
            os.path.dirname(__file__), "..", "transforms"
        ),
        notifier=lambda s, m: None,
        clock=lambda: clock_value[0],
        schema_policy="merge",
    )

    def write_raw(key: str, content: str) -> None:
        path = os.path.join(lake_root, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(content)

    def day(d: int) -> None:
        clock_value[0] = datetime(2020, 8, d, tzinfo=timezone.utc)

    write_raw("shop/mergy/a.csv", "id,v\n1,10\n2,20\n")
    assert r.on_file("shop/mergy/a.csv").status == "SUCCEEDED"
    assert dict(spark.table("shop.mergy").dtypes)["v"] == "int"

    # widening drift (int -> double): catalog widens, old files read up
    day(16)
    write_raw("shop/mergy/b.csv", "id,v\n3,3.5\n4,4.25\n")
    assert r.on_file("shop/mergy/b.csv").status == "SUCCEEDED"
    assert dict(spark.table("shop.mergy").dtypes)["v"] == "double"

    # NARROWING drift (double -> int): the poison case under
    # last_writer — merge casts the new file back UP, catalog stays
    # double, everything remains readable
    day(17)
    write_raw("shop/mergy/c.csv", "id,v\n5,7\n6,8\n")
    assert r.on_file("shop/mergy/c.csv").status == "SUCCEEDED"
    assert dict(spark.table("shop.mergy").dtypes)["v"] == "double"
    got = {(row.id, row.v) for row in spark.table("shop.mergy").collect()}
    assert got == {
        (1, 10.0), (2, 20.0), (3, 3.5), (4, 4.25), (5, 7.0), (6, 8.0)
    }

    # column ADDED: old rows read null for it
    day(18)
    write_raw("shop/mergy/d.csv", "id,v,extra\n7,9.5,hi\n")
    assert r.on_file("shop/mergy/d.csv").status == "SUCCEEDED"
    t = spark.table("shop.mergy")
    assert dict(t.dtypes)["extra"] == "string"
    assert t.filter("id = 7").collect()[0].extra == "hi"
    assert t.filter("id = 1").collect()[0].extra is None

    # column DROPPED from the source: persists as typed nulls
    day(19)
    write_raw("shop/mergy/e.csv", "id,v\n8,1.25\n")
    assert r.on_file("shop/mergy/e.csv").status == "SUCCEEDED"
    t = spark.table("shop.mergy")
    assert t.filter("id = 8").collect()[0].extra is None
    assert t.filter("id = 7").collect()[0].extra == "hi"
    # full history still collects cleanly after the whole matrix
    assert t.count() == 8


def test_schema_policy_merge_refuses_unreadable_union(spark, lake_root):
    """merge raises a CLEAR error when no merged type keeps history
    readable (numeric history + string file), instead of silently
    poisoning like last_writer would."""
    from datetime import datetime, timezone

    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=os.path.join(
            os.path.dirname(__file__), "..", "transforms"
        ),
        notifier=lambda s, m: None,
        clock=lambda: datetime(2020, 8, 15, tzinfo=timezone.utc),
        schema_policy="merge",
    )
    path = os.path.join(lake_root, "raw", "shop/strict/a.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("id,v\n1,10\n")
    assert r.on_file("shop/strict/a.csv").status == "SUCCEEDED"
    with open(path, "w") as f:
        f.write("id,v\n2,abc\n")
    res = r.on_file("shop/strict/a.csv")
    assert res.status == "FAILED"
    assert "schema_policy='merge'" in res.error_message
    # history untouched and still readable
    assert [row.v for row in spark.table("shop.strict").collect()] == [10]


def test_merged_type_matrix():
    """Unit pin of the merge-policy type lattice: lossless-or-refuse in
    BOTH directions (the reviewed round-5 bug: old float + new int must
    widen to double, not narrow ints >= 2^24 into float; bigint +
    fractional refuses both ways)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.conform import (
        _merged_type,
    )

    assert _merged_type("int", "int", "c") == "int"
    assert _merged_type("int", "bigint", "c") == "bigint"
    assert _merged_type("bigint", "smallint", "c") == "bigint"
    assert _merged_type("int", "double", "c") == "double"
    assert _merged_type("float", "double", "c") == "double"
    assert _merged_type("double", "int", "c") == "double"
    assert _merged_type("float", "smallint", "c") == "float"
    assert _merged_type("float", "tinyint", "c") == "float"
    # int does NOT fit float (>= 2^24): widen to double instead
    assert _merged_type("float", "int", "c") == "double"
    assert _merged_type("string", "int", "c") == "string"
    # refusals: no lossless + history-readable merged type
    for old, new in [
        ("bigint", "double"),
        ("double", "bigint"),
        ("float", "bigint"),
        ("int", "string"),
    ]:
        with pytest.raises(ValueError, match="schema_policy='merge'"):
            _merged_type(old, new, "c")


# --- incremental purpose-built transform ---------------------------------
#
# A run conforms one ingest-date partition; the purpose-built job then
# writes only that partition when the table already matches this SQL
# and the plan proves the partition depends on nothing else.  On the
# incremental path ``purposebuilt_rows`` counts the run's partition
# only, which is how these tests tell the two paths apart.

TRANSFORMS_DIR = os.path.join(os.path.dirname(__file__), "..", "transforms")
YELLOW_KEY = "tlc_taxi_data/yellow_taxi_trip_record/yellow_tripdata.csv"
YELLOW_PB = "tlc_taxi_data_purposebuilt.yellow_taxi_trip_record"


def _day(d: int) -> datetime:
    return datetime(2020, 8, d, tzinfo=timezone.utc)


def _drop(lake_root: str, key: str, header: str, rows: list[str]) -> str:
    path = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join([header, *rows]) + "\n")
    return key


def _sql(table: str) -> str:
    with open(os.path.join(TRANSFORMS_DIR, f"{table}.sql")) as f:
        return f.read()


def test_incremental_transform_equals_full_recompute(spark, runner, lake_root):
    from tests.conftest import YELLOW_HEADER, YELLOW_ROWS

    key = _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, YELLOW_ROWS)
    runs = [runner.on_file(key, as_of=_day(d)) for d in (1, 2, 3)]
    assert [r.status for r in runs] == ["SUCCEEDED"] * 3
    # the first run builds the table; the next two write only their
    # own day's 3 groups (a full recompute would write 6, then 9)
    assert [r.purposebuilt_rows for r in runs] == [3, 3, 3]

    # backfill day 1 with different rows: a new vendor, a changed fare
    # (every drop keeps the malformed row, which keeps the inferred
    # schema the same)
    changed = YELLOW_ROWS[1].replace("1,", "2,", 1).replace(",20.0,", ",99.0,")
    _drop(
        lake_root, YELLOW_KEY, YELLOW_HEADER,
        [YELLOW_ROWS[0], changed, YELLOW_ROWS[2], YELLOW_ROWS[4]],
    )
    res = runner.backfill(key, as_of=_day(1))
    assert (res.status, res.purposebuilt_rows) == ("SUCCEEDED", 3)
    # re-ingest day 3 with fewer rows: one group left
    _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, [*YELLOW_ROWS[:2], YELLOW_ROWS[4]])
    res = runner.on_file(key, as_of=_day(3))
    assert (res.status, res.purposebuilt_rows) == ("SUCCEEDED", 1)

    built = spark.table(YELLOW_PB)
    full = spark.sql(_sql("yellow_taxi_trip_record")).select(*built.columns)
    assert built.count() == full.count() == 3 + 3 + 1
    assert built.exceptAll(full).count() == 0
    assert full.exceptAll(built).count() == 0
    day1 = built.filter("day = '01'").collect()
    assert (2, 99.0) in {(r.vendorid, r.total_fare_amount) for r in day1}


def test_catalog_statements_per_file(spark, runner, lake_root, monkeypatch):
    """The catalog statements each zone issues per file.  A first file
    creates both tables and registers every partition.  A later file,
    new day or the same day again, checks each table with one DESCRIBE
    and adds its own partition, which also refreshes the table's
    cached listing.  A window SQL, which cannot write one day alone,
    relists every partition but keeps its table."""
    from pyspark.sql import SparkSession

    from tests.conftest import YELLOW_HEADER, YELLOW_ROWS

    # earlier tests in this session registered the same tables elsewhere
    for db in ("tlc_taxi_data", "app_events"):
        for zone in (db, f"{db}_purposebuilt"):
            spark.sql(f"DROP DATABASE IF EXISTS {zone} CASCADE")
    issued = []
    sql = SparkSession.sql

    def record(self, query, *args, **kwargs):
        issued.append(query)
        return sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", record)

    def statements(key: str, day: int) -> dict:
        """{database: [statement kind, ...]} of one successful run."""
        issued.clear()
        assert runner.on_file(key, as_of=_day(day)).status == "SUCCEEDED"
        zones: dict = {}
        for q in issued:
            w = q.split()
            if w[0] not in ("DESCRIBE", "CREATE", "DROP", "ALTER"):
                continue  # the transform SQL
            kind = w[3] if w[0] == "ALTER" else " ".join(w[:2])
            zones.setdefault(q.split("`")[1], []).append(kind)
        return zones

    def cold(db: str) -> dict:
        create = ["CREATE DATABASE", "DROP TABLE", "CREATE TABLE", "RECOVER"]
        return {db: create, f"{db}_purposebuilt": [*create, "SET"]}

    def warm(db: str, purposebuilt: str) -> dict:
        check = "DESCRIBE TABLE"
        return {db: [check, "ADD"], f"{db}_purposebuilt": [check, purposebuilt]}

    yellow = _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, YELLOW_ROWS)
    assert statements(yellow, 1) == cold("tlc_taxi_data")
    assert statements(yellow, 2) == warm("tlc_taxi_data", "ADD")
    assert statements(yellow, 2) == warm("tlc_taxi_data", "ADD")  # re-ingest

    events, header = "app_events/user_events/events.csv", "event_id,user_id,amount"
    _drop(lake_root, events, header, ["1,7,10.0", "2,7,5.0"])
    assert statements(events, 1) == cold("app_events")
    _drop(lake_root, events, header, ["3,7,1.0"])
    assert statements(events, 2) == warm("app_events", "RECOVER")


def test_incremental_plan_scans_only_the_run_partition(
    spark, runner, yellow_csv, lake_root
):
    """The filtered yellow SQL's only scan carries the run's three
    partition equalities and reads the conformed table's location; a
    SQL whose scans carry them only because a constant or another
    partition column happens to equal the run's value is refused."""
    import re

    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import (
        _partition_slice,
        _where_partition,
    )
    from aws_cdk_pipelines_datalake_etl_spark.plans.explain import formatted_plan

    def partition_filters(df) -> list[str]:
        lines = formatted_plan(df).splitlines()
        return [ln for ln in lines if ln.startswith("PartitionFilters:")]

    assert runner.on_file(yellow_csv).status == "SUCCEEDED"  # 2020-08-15
    run = ("2020", "08", "15")
    sql = spark.sql(_sql("yellow_taxi_trip_record"))
    filters = partition_filters(_where_partition(sql, run))
    assert len(filters) == 1, filters
    for col, value in zip(("year", "month", "day"), run):
        assert re.search(rf"\({col}#\d+ = {value}\)", filters[0]), filters[0]

    conformed = os.path.join(lake_root, "conformed", "yellow_taxi_trip_record")
    assert _partition_slice(sql, conformed, run) is not None
    # a day the table does not have: the scan finds no files to place
    assert _partition_slice(sql, conformed, ("2020", "08", "16")) is None
    # locations are compared exactly: the conformed root is not the table
    assert _partition_slice(sql, os.path.dirname(conformed), run) is None

    # a self-join pinned to day 15 lets every output day read input
    # day 15: for the run's day both scans carry day 15, yet the check
    # fails, because for a day no constant names one scan does not
    pinned = spark.sql(
        "SELECT a.year, a.month, a.day, COUNT(*) AS n "
        "FROM tlc_taxi_data.yellow_taxi_trip_record a "
        "JOIN tlc_taxi_data.yellow_taxi_trip_record b "
        "ON a.year = b.year AND a.month = b.month AND b.day = '15' "
        "GROUP BY a.year, a.month, a.day"
    )
    filters = partition_filters(_where_partition(pinned, run))
    assert len(filters) == 2 and all("= 15)" in f for f in filters), filters
    assert _partition_slice(pinned, conformed, run) is None
    # the same when b.day follows a.month: on 2020-08-08 both scans
    # carry day 08, yet every August day reads input day 08
    assert runner.on_file(yellow_csv, as_of=_day(8)).status == "SUCCEEDED"
    crossed = spark.sql(
        "SELECT a.year, a.month, a.day, COUNT(*) AS n "
        "FROM tlc_taxi_data.yellow_taxi_trip_record a "
        "JOIN tlc_taxi_data.yellow_taxi_trip_record b "
        "ON a.year = b.year AND a.month = b.month AND b.day = a.month "
        "GROUP BY a.year, a.month, a.day"
    )
    eighth = ("2020", "08", "08")
    filters = partition_filters(_where_partition(crossed, eighth))
    assert len(filters) == 2 and all("= 08)" in f for f in filters), filters
    assert _partition_slice(crossed, conformed, eighth) is None


def test_window_transform_recomputes_all_days_on_backfill(spark, runner, lake_root):
    """transforms/user_events.sql runs a window over user_id across
    days: a backfilled earlier event changes the next day's running
    total, so the job must recompute every partition."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import (
        _partition_slice,
    )

    key, header = "app_events/user_events/events.csv", "event_id,user_id,amount"
    _drop(lake_root, key, header, ["1,7,10.0", "2,7,5.0"])
    assert runner.on_file(key, as_of=_day(1)).status == "SUCCEEDED"
    _drop(lake_root, key, header, ["3,7,1.0"])
    assert runner.on_file(key, as_of=_day(2)).status == "SUCCEEDED"

    def running() -> dict:
        return {
            r.event_id: r.running_amount
            for r in spark.table("app_events_purposebuilt.user_events").collect()
        }

    assert running() == {1: 10.0, 2: 15.0, 3: 16.0}
    _drop(lake_root, key, header, ["0,7,100.0", "1,7,10.0", "2,7,5.0"])
    res = runner.backfill(key, as_of=_day(1))
    assert (res.status, res.purposebuilt_rows) == ("SUCCEEDED", 4)
    assert running() == {0: 100.0, 1: 110.0, 2: 115.0, 3: 116.0}

    # the day filter stays above the window, so no scan carries it
    conformed = os.path.join(lake_root, "conformed", "user_events")
    sql = spark.sql(_sql("user_events"))
    assert _partition_slice(sql, conformed, ("2020", "08", "02")) is None


def test_green_cross_table_transform_recomputes_all_days(spark, runner, lake_root):
    """The green SQL reads green_taxi_record_data, not the table the
    trigger file conformed, so a later trigger must still see a
    re-conformed earlier day of the data table."""
    data = "tlc_taxi_data/green_taxi_record_data/green.csv"
    trigger = "tlc_taxi_data/green_taxi_trip_record/green.csv"
    _drop(lake_root, data, GREEN_HEADER, GREEN_ROWS)
    _drop(lake_root, trigger, GREEN_HEADER, GREEN_ROWS)
    assert runner.on_file(data, as_of=_day(1)).status == "SUCCEEDED"
    assert runner.on_file(trigger, as_of=_day(1)).status == "SUCCEEDED"

    _drop(lake_root, data, GREEN_HEADER, GREEN_ROWS[2:])
    assert runner.on_file(data, as_of=_day(1)).status == "SUCCEEDED"
    res = runner.on_file(trigger, as_of=_day(2))
    assert (res.status, res.purposebuilt_rows) == ("SUCCEEDED", 1)
    pb = spark.table("tlc_taxi_data_purposebuilt.green_taxi_trip_record")
    rows = {
        (r.day, r.vendorid, r.pulocationid): (r["count"], round(r.total_amount, 6))
        for r in pb.collect()
    }
    assert rows == {("01", 1, 11): (1, 5.3)}


def test_edited_transform_sql_rebuilds_history(spark, lake_root, tmp_path):
    """Editing the .sql file (same output schema) changes the table's
    SQL hash, so the next run recomputes every day with the new SQL;
    a rebuild that fails leaves the table as readers saw it before the
    edit, and the next run rebuilding too."""
    from tests.conftest import YELLOW_HEADER, YELLOW_ROWS

    transforms = tmp_path / "transforms"
    transforms.mkdir()
    sql_file = transforms / "yellow_taxi_trip_record.sql"
    sql = _sql("yellow_taxi_trip_record")
    sql_file.write_text(sql)
    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=str(transforms),
        notifier=lambda s, m: None,
    )
    key = _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, YELLOW_ROWS)
    assert [r.on_file(key, as_of=_day(d)).purposebuilt_rows for d in (1, 2)] == [3, 3]

    def day_counts() -> list:
        rows = spark.table(YELLOW_PB).collect()
        return sorted((row.day, row["count"]) for row in rows)

    pre_edit = day_counts()
    assert {d for d, _ in pre_edit} == {"01", "02"}
    source = "FROM tlc_taxi_data.yellow_taxi_trip_record"
    edited = sql.replace(
        "COUNT(*)                   AS count", "COUNT(*) + 100 AS count"
    ).replace(source, f"{source} WHERE assert_true(fare_amount < 1000) IS NULL")
    assert edited.count("+ 100") == 1 and edited.count("assert_true") == 1
    sql_file.write_text(edited)
    far = YELLOW_ROWS[0].replace(",10.0,", ",5000.0,")
    _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, [far, *YELLOW_ROWS[1:]])
    assert r.on_file(key, as_of=_day(3)).status == "FAILED"
    # readers still see the table as it was before the edit
    assert day_counts() == pre_edit

    _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, YELLOW_ROWS)
    res = r.on_file(key, as_of=_day(3))
    assert (res.status, res.purposebuilt_rows) == ("SUCCEEDED", 9)
    counts = {(row.day, row["count"]) for row in spark.table(YELLOW_PB).collect()}
    assert {d for d, _ in counts} == {"01", "02", "03"}
    assert all(c > 100 for _, c in counts)


def test_dq_gate_quarantine_holds_across_incremental_runs(spark, lake_root):
    """A day that failed the data-quality gate stays out of the
    purpose-built table when a later day passes: the later run writes
    only its own partition."""
    from tests.conftest import YELLOW_HEADER, YELLOW_ROWS

    from aws_cdk_pipelines_datalake_etl_spark.operators.quality import (
        completeness_and_bounds_report,
    )

    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=TRANSFORMS_DIR,
        notifier=lambda s, m: None,
    )
    key = _drop(lake_root, YELLOW_KEY, YELLOW_HEADER, YELLOW_ROWS)
    assert r.on_file(key, as_of=_day(1)).status == "SUCCEEDED"
    # trip_distance must lie in [-2, -1]: guaranteed failure
    r.dq_checks = lambda df: completeness_and_bounds_report(
        df, completeness_cols=[], bounds={"trip_distance": (-2.0, -1.0)}
    )
    assert r.on_file(key, as_of=_day(2)).status == "FAILED"
    r.dq_checks = None
    assert r.on_file(key, as_of=_day(3)).status == "SUCCEEDED"

    days = spark.table(YELLOW_PB).select("day").distinct().collect()
    assert {row.day for row in days} == {"01", "03"}
