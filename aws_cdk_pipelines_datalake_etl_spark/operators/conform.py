"""Job 1: raw CSV -> conformed partitioned Parquet (SURVEY §3.2).

Reimplements ``lib/glue_scripts/etl_raw_to_conformed.py`` Spark-first:

- the per-record ``Map.apply`` partition stamp
  (etl_raw_to_conformed.py:163-173,195-198) becomes three
  ``withColumn(lit(...))`` literals — columnar, no Python-row
  round-trip, stays inside whole-stage codegen;
- NullType columns are cast to string data-side
  (etl_raw_to_conformed.py:200-213);
- the write is partitioned Parquet with dynamic partition overwrite
  (etl_raw_to_conformed.py:191-193,216) — narrow plan end-to-end
  (partition values are literals, so no shuffle: each input split
  maps straight to output files under one partition directory).

At 100 TB the scan parallelizes over input splits
(``spark.sql.files.maxPartitionBytes``); since every row of a run
lands in one ingest-date partition, output file count == task count —
bounded by cluster cores, no small-file explosion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NullType, StructType

from aws_cdk_pipelines_datalake_etl_spark import catalog
from aws_cdk_pipelines_datalake_etl_spark.params import JobParams
from aws_cdk_pipelines_datalake_etl_spark.sources.csv_source import read_raw_csv


def stamp_partitions(df: DataFrame, year: str, month: str, day: str) -> DataFrame:
    """R1 as idiomatic Spark: literal year/month/day columns
    (replaces the DynamicFrame Map at etl_raw_to_conformed.py:163-173)."""
    return (
        df.withColumn("year", F.lit(year))
        .withColumn("month", F.lit(month))
        .withColumn("day", F.lit(day))
    )


def repair_null_columns(df: DataFrame) -> DataFrame:
    """R3: cast every all-null (NullType) column to string
    (etl_raw_to_conformed.py:200-213)."""
    null_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, NullType)]
    if not null_cols:
        return df
    return df.withColumns({c: F.col(c).cast("string") for c in null_cols})


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Pick the raw reader by file extension (reference is CSV-only,
    etl_raw_to_conformed.py:180-185; JSON/parquet are the §2.6 source
    extensions)."""
    lower = path.lower()
    if lower.endswith(".json") or lower.endswith(".jsonl"):
        from aws_cdk_pipelines_datalake_etl_spark.sources.json_source import (
            read_raw_json,
        )

        return read_raw_json(spark, path)
    if lower.endswith(".parquet"):
        return spark.read.parquet(path)
    if lower.endswith(".orc"):
        return spark.read.orc(path)
    if lower.endswith((".txt", ".log")):
        # raw corpus lines: one row per line + source-file lineage from
        # the hidden _metadata column (no schema to infer)
        return spark.read.text(path).select(
            F.col("value").alias("text"),
            F.col("_metadata.file_name").alias("source_file"),
        )
    return read_raw_csv(spark, path)


#: integer widening chain for schema_policy="merge"
_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
#: physical parquet widening reads Spark 4 supports (SPARK-40876):
#: int8/16/32 -> wider int / double, float -> double.  int64 -> double
#: is NOT a supported read widening (lossy), hence the long+fractional
#: refusal below.
_FRACTIONAL = {"float", "double"}


def _merged_type(old: str, new: str, col: str) -> str:
    """Unified type for a drifting column under ``merge`` policy, or
    raise if no type exists that (a) the new data casts to losslessly
    enough and (b) the OLD parquet files remain physically readable as
    — the second constraint is the one last-writer-wins violates (the
    narrowing-poisons case in tests/test_pipeline_e2e.py)."""
    if old == new:
        return old
    if old in _INT_RANK and new in _INT_RANK:
        return old if _INT_RANK[old] >= _INT_RANK[new] else new
    if old in _FRACTIONAL and new in _FRACTIONAL:
        return "double"
    # int-backed old files are readable as double; new fractional data
    # must not be narrowed -> double wins
    if old in _INT_RANK and old != "bigint" and new in _FRACTIONAL:
        return "double"
    # new integers must cast LOSSLESSLY: tinyint/smallint fit float
    # (< 2^24) so the old float files can stay float; int needs double
    # (float would corrupt >= 2^24, and float->double is a supported
    # read widening of the old files); bigint fits NEITHER (> 2^53
    # overflows double) and falls through to the refusal
    if old in _FRACTIONAL and new in _INT_RANK and new != "bigint":
        if old == "float" and new in ("tinyint", "smallint"):
            return "float"
        return "double"
    if old == "string":
        return "string"  # anything serializes; old files stay readable
    raise ValueError(
        f"schema_policy='merge': column '{col}' drifted {old} -> {new}; "
        "no merged type both keeps the existing parquet files readable "
        "and preserves the new data losslessly (e.g. bigint+double — "
        "int64 is not a supported parquet read-widening and > 2^53 "
        "overflows double — or numeric -> string).  Repair "
        "operationally: re-conform history or correct the source."
    )


def reconcile_schema(
    df: DataFrame,
    existing: StructType,
    partition_cols: tuple[str, ...] = ("year", "month", "day"),
) -> DataFrame:
    """schema_policy="merge": reconcile a new file's inferred schema
    with the already-published table so the catalog only ever WIDENS.

    - common columns: cast the new data to :func:`_merged_type` (so a
      narrowing file — double history, int file — is cast back UP and
      the table never poisons);
    - columns only in the existing table: appended as typed nulls (new
      files carry the full schema; no read-time surprises);
    - columns only in the new file: kept — parquet reads of old files
      return null for them, the correct union semantics.
    """
    have = {f.name: f for f in df.schema.fields}
    casts: dict[str, Column] = {}
    appends: list[Column] = []
    for f in existing.fields:
        if f.name in partition_cols:
            continue
        new_f = have.get(f.name)
        if new_f is None:
            appends.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        target = _merged_type(
            f.dataType.simpleString(), new_f.dataType.simpleString(), f.name
        )
        if target != new_f.dataType.simpleString():
            casts[f.name] = F.col(f.name).cast(target)
    if casts:
        df = df.withColumns(casts)
    if appends:
        df = df.select("*", *appends)
    return df


def conform(
    spark: SparkSession,
    params: JobParams,
    conformed_root: str,
    sample_rows: int = 0,
    schema_policy: str = "last_writer",
) -> catalog.Published:
    """Run the conformance job for one raw file
    (parity: etl_raw_to_conformed.py:176-221 ``main``).

    ``schema_policy``: ``"last_writer"`` (default) is the reference's
    semantics — the newest file's inferred schema wins the catalog
    (etl_raw_to_conformed.py:147-154; widening drift reads fine,
    narrowing drift poisons reads until repaired — pinned by
    tests/test_pipeline_e2e.py).  ``"merge"`` opts into schema
    EVOLUTION: the new data is reconciled against the published table
    (:func:`reconcile_schema`) so the catalog only ever widens, new
    columns union in, dropped columns persist as typed nulls, and a
    narrowing file is cast back up instead of poisoning history.

    Every row carries the run's partition literals, so on a table that
    :func:`catalog.publish` keeps the whole frame is the run's
    partition.
    """
    if schema_policy not in ("last_writer", "merge"):
        raise ValueError(f"unknown schema_policy {schema_policy!r}")
    df = read_raw(spark, params.source_path)
    if sample_rows:  # K8 tap 1: post-read (etl_raw_to_conformed.py:196)
        df.show(sample_rows)
    df = stamp_partitions(df, *params.partition_values)
    if sample_rows:  # K8 tap 2: post-stamp (etl_raw_to_conformed.py:199)
        df.show(sample_rows)
    df = repair_null_columns(df)
    if schema_policy == "merge":
        fqn = f"`{params.target_database_name}`.`{params.table_name}`"
        if spark.catalog.tableExists(fqn):
            df = reconcile_schema(df, spark.table(fqn).schema)
    if sample_rows:  # K8 tap 3: pre-write (etl_raw_to_conformed.py:215)
        df.show(sample_rows)
    return catalog.publish(
        spark,
        df,
        params.target_database_name,
        params.table_name,
        f"{conformed_root.rstrip('/')}/{params.table_name}",
        params.partition_values,
        lambda df: df,
    )


def split_quarantine(
    df: DataFrame,
    quarantine_path: str,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, int]:
    """Route malformed rows to a quarantine zone instead of dropping
    them (the reliability upgrade over R4's DROPMALFORMED, which
    discards silently): rows with a non-null ``corrupt_col`` are
    written — raw line plus source-file lineage — to
    ``quarantine_path``, and the clean rows (minus the marker column)
    are returned for normal conformance, together with the quarantined
    count for the audit trail.

    One read feeds both branches; the quarantine side is appended
    (re-runs add new evidence, never lose it).  The PERMISSIVE frame
    is cached before filtering on the corrupt column — Spark disallows
    queries referencing ONLY the internal corrupt-record column
    against a raw CSV scan (SPARK-22580), and the cache also keeps the
    split to one file read.  The batch-sized cache is evicted by the
    caller's session naturally (LRU) or explicitly via ``unpersist``.
    """
    # lineage must become a REAL column before caching: InMemoryRelation
    # cannot serve the hidden _metadata column, and falling back to the
    # file scan re-triggers the corrupt-only-column analyzer check
    df = df.withColumn(
        "_source_file", F.col("_metadata.file_name")
    ).cache()
    df.count()  # materialize: the analyzer check needs parsed results
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"),
        F.col("_source_file").alias("source_file"),
    )
    n_bad = bad.count()
    if n_bad:
        bad.write.mode("append").parquet(quarantine_path)
    good = df.filter(F.col(corrupt_col).isNull()).drop(
        corrupt_col, "_source_file"
    )
    return good, n_bad
