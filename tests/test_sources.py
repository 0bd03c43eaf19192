from __future__ import annotations

import os
from datetime import datetime, timezone

from aws_cdk_pipelines_datalake_etl_spark.runner import LakeLayout, PipelineRunner


def test_json_raw_file_through_pipeline(spark, lake_root):
    key = "app_logs/requests/batch1.jsonl"
    path = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write('{"route": "/a", "ms": 12}\n')
        f.write('{"route": "/b", "ms": 30}\n')
    runner = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        clock=lambda: datetime(2024, 2, 1, tzinfo=timezone.utc),
    )
    res = runner.on_file(key)
    assert res.status == "SUCCEEDED", res.error_message
    t = spark.table("app_logs.requests")
    assert t.count() == 2
    assert {r.route for r in t.collect()} == {"/a", "/b"}
    assert dict(t.dtypes)["year"] == "string"


def test_parquet_raw_file_through_pipeline(spark, lake_root, tmp_path):
    src = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    staging = str(tmp_path / "staging.parquet")
    src.coalesce(1).write.parquet(staging)
    part = next(
        p for p in os.listdir(staging) if p.endswith(".parquet")
    )
    key = "warehouse/items/items.parquet"
    dst = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(os.path.join(staging, part), dst)

    runner = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        clock=lambda: datetime(2024, 2, 1, tzinfo=timezone.utc),
    )
    res = runner.on_file(key)
    assert res.status == "SUCCEEDED", res.error_message
    assert spark.table("warehouse.items").count() == 2


def test_orc_raw_file_through_pipeline(spark, lake_root, tmp_path):
    src = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["id", "v"])
    staging = str(tmp_path / "staging.orc")
    src.coalesce(1).write.orc(staging)
    part = next(p for p in os.listdir(staging) if p.endswith(".orc"))
    key = "warehouse/orc_items/orc_items.orc"
    dst = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(os.path.join(staging, part), dst)

    runner = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        clock=lambda: datetime(2024, 2, 1, tzinfo=timezone.utc),
    )
    res = runner.on_file(key)
    assert res.status == "SUCCEEDED", res.error_message
    assert spark.table("warehouse.orc_items").count() == 3


def test_cli_parser_modes():
    from aws_cdk_pipelines_datalake_etl_spark.__main__ import build_parser

    p = build_parser()
    a = p.parse_args(["--lake", "/x", "--file", "s/t/f.csv"])
    assert a.file == "s/t/f.csv" and not a.scan and a.watch is None
    a = p.parse_args(["--lake", "/x", "--scan"])
    assert a.scan
    a = p.parse_args(["--lake", "/x", "--watch", "3", "--poll-seconds", "0.5"])
    assert a.watch == 3 and a.poll_seconds == 0.5


def test_cli_scan_processes_every_raw_file_in_key_order(
    spark, lake_root, monkeypatch
):
    """``--scan`` runs the pipeline once per raw-zone file, in sorted
    key order, and exits 0 when every run succeeds."""
    import aws_cdk_pipelines_datalake_etl_spark as pkg
    from aws_cdk_pipelines_datalake_etl_spark.__main__ import main

    from tests.conftest import YELLOW_HEADER, YELLOW_ROWS

    table = "tlc_taxi_data/yellow_taxi_trip_record"
    keys = [f"{table}/yellow_tripdata_2020-0{m}.csv" for m in (8, 9)]
    for key in reversed(keys):
        path = os.path.join(lake_root, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(YELLOW_HEADER + "\n" + "\n".join(YELLOW_ROWS) + "\n")

    # the test session stands in for the CLI's own get_spark(), so the
    # CLI's session defaults never leak into later tests
    monkeypatch.setattr(pkg, "get_spark", lambda **_: spark)
    seen = []
    on_file = PipelineRunner.on_file

    def spy(self, key):
        seen.append(key)
        return on_file(self, key)

    monkeypatch.setattr(PipelineRunner, "on_file", spy)
    transforms = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "transforms",
    )
    assert main(["--lake", lake_root, "--scan", "--transforms", transforms]) == 0
    assert seen == keys


def test_text_raw_file_through_pipeline(spark, lake_root):
    """Raw corpus lines (.txt): one row per line with source-file
    lineage, conformed into the partitioned lake like any source."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.runner import (
        LakeLayout,
        PipelineRunner,
    )

    key = "corpus/raw_lines/shard0.txt"
    path = os.path.join(lake_root, "raw", key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("the first document line\nthe second line\n\nfourth after blank\n")

    from datetime import datetime, timezone

    r = PipelineRunner(
        spark=spark,
        layout=LakeLayout(lake_root),
        transforms_dir=None,
        notifier=lambda s, m: None,
        clock=lambda: datetime(2020, 8, 15, tzinfo=timezone.utc),
    )
    result = r.on_file(key)
    assert result.status == "SUCCEEDED", result.error_message
    t = spark.table("corpus.raw_lines")
    rows = t.collect()
    assert len(rows) == 4  # blank line is still a row
    assert {r["source_file"] for r in rows} == {"shard0.txt"}
    assert sorted(r["text"] for r in rows)[-1] == "the second line"
    assert rows[0]["year"] == "2020"


def test_quarantine_split_keeps_malformed_rows(spark, tmp_path):
    """PERMISSIVE read + split_quarantine: good rows conform, bad rows
    land in the quarantine zone with raw line + source lineage —
    nothing silently dropped (contrast DROPMALFORMED)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.conform import (
        split_quarantine,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.csv_source import (
        read_raw_csv_quarantine,
    )

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    raw = tmp_path / "raw.csv"
    raw.write_text(
        "id,qty,price\n"
        "1,10,1.5\n"
        "2,notanumber,xx\n"  # malformed: qty/price unparseable
        "3,30,3.25\n"
    )
    # a DECLARED schema is what makes malformed detectable — inference
    # would degrade qty/price to string and parse everything
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("qty", IntegerType()),
            StructField("price", DoubleType()),
        ]
    )
    df = read_raw_csv_quarantine(spark, str(raw), schema=schema)
    qdir = str(tmp_path / "quarantine")
    good, n_bad = split_quarantine(df, qdir)

    assert n_bad == 1
    assert {(r.id, r.qty) for r in good.select("id", "qty").collect()} == {
        (1, 10),
        (3, 30),
    }
    q = spark.read.parquet(qdir).collect()
    assert len(q) == 1
    assert q[0].raw_line == "2,notanumber,xx"
    assert q[0].source_file == "raw.csv"

    # re-run appends (evidence preserved, not clobbered)
    _, n2 = split_quarantine(
        read_raw_csv_quarantine(spark, str(raw), schema=schema), qdir
    )
    assert n2 == 1
    assert spark.read.parquet(qdir).count() == 2


def test_binaryfiles_roundtrip_and_glob(spark, tmp_path):
    """write_blobs_dir -> files -> read_binary_dir round trip: bytes
    identical, ids recovered from filenames, glob filter applied at
    listing time, manifest sizes correct."""
    from pyspark.sql import functions as F

    from aws_cdk_pipelines_datalake_etl_spark.sources.binaryfiles import (
        read_binary_dir,
        write_blobs_dir,
    )

    out = str(tmp_path / "blobs")
    rows = [(1, bytes([1, 2, 3])), (2, bytes(range(10))), (30, b"\x00" * 5)]
    df = spark.createDataFrame(rows, ["doc_id", "blob"])
    manifest = {
        r["doc_id"]: (r["file_name"], r["n_bytes"])
        for r in write_blobs_dir(df, out, ext="png").collect()
    }
    assert manifest == {
        1: ("1.png", 3),
        2: ("2.png", 10),
        30: ("30.png", 5),
    }
    # a decoy with another extension must never be opened
    (tmp_path / "blobs" / "999.txt").write_bytes(b"decoy")
    back = {
        r["doc_id"]: bytes(r["content"])
        for r in read_binary_dir(spark, out, glob="*.png").collect()
    }
    assert back == {i: b for i, b in rows}
    # without the glob, the decoy appears
    n_all = read_binary_dir(spark, out).count()
    assert n_all == 4


def test_parquet_schema_cache_and_invalidation(spark, tmp_path):
    """r12 optimization guard: load_table's cached-schema read returns
    the same schema+rows as a plain inferred read, and the (path,
    mtime) key re-infers after a rewrite."""
    import os
    import time

    from pyspark.sql import functions as F

    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        load_table,
        parquet_schema,
    )

    sf_dir = "/root/testdata/sf0.001"
    for name in ("events", "lineitem"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        plain = spark.read.parquet(path)
        cached = load_table(spark, sf_dir, name)
        # events.ts is nanos->timestamp normalized on BOTH paths via
        # fix_nanos_timestamps only in load_table; compare the raw read
        assert parquet_schema(spark, path) == plain.schema
        assert cached.count() == plain.count()

    # invalidation: rewrite a file at the same path with a new schema
    p = str(tmp_path / "t.parquet")
    spark.range(3).select(F.col("id").alias("a")).write.parquet(p)
    s1 = parquet_schema(spark, p)
    assert [f.name for f in s1] == ["a"]
    time.sleep(1.05)  # dir mtime granularity
    spark.range(3).select(
        F.col("id").alias("a"), F.lit("x").alias("b")
    ).write.mode("overwrite").parquet(p)
    s2 = parquet_schema(spark, p)
    assert [f.name for f in s2] == ["a", "b"]
