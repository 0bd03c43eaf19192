"""Catalog database/table upsert with the reference's type rules.

The reference drives the Glue Data Catalog through boto3
(``etl_raw_to_conformed.py:58-160``); this engine uses the Spark
session catalog (Hive-metastore semantics built in), so the same
operations are DDL:

- K2 create-database-if-absent  (etl_raw_to_conformed.py:58-87)
- K3 idempotent table upsert with type normalization
  (etl_raw_to_conformed.py:90-160; variant excluding partition cols
  at etl_conformed_to_purposebuilt.py:107)
- K4 partition discovery / RECOVER PARTITIONS
  (etl_raw_to_conformed.py:218-219)

Type-normalization rules (SURVEY §1.2):
1. ``decimal(10,0)`` -> ``int``   (etl_raw_to_conformed.py:103-105)
2. ``NullType``       -> ``string`` (etl_raw_to_conformed.py:106-107)
3. partition columns ``year/month/day`` are always strings
   (etl_raw_to_conformed.py:129-133)
"""

from __future__ import annotations

from itertools import takewhile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, DecimalType, IntegerType, NullType, StringType

PARTITION_COLS = ("year", "month", "day")


def normalize_type(dt: DataType) -> DataType:
    """Apply the reference's catalog-side type projection rules."""
    if isinstance(dt, DecimalType) and dt.precision == 10 and dt.scale == 0:
        return IntegerType()  # etl_raw_to_conformed.py:103-105
    if isinstance(dt, NullType):
        return StringType()  # etl_raw_to_conformed.py:106-107
    return dt


def create_database_if_absent(
    spark: SparkSession, database: str, location: str | None = None
) -> None:
    """K2: get-else-create database (etl_raw_to_conformed.py:58-87)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`{loc}")


def _columns(df: DataFrame, include_partition_cols: bool) -> list[tuple[str, str]]:
    cols = [
        (f.name, normalize_type(f.dataType).simpleString())
        for f in df.schema.fields
        if f.name.lower() not in PARTITION_COLS
    ]
    if include_partition_cols:
        # partition keys are always string (etl_raw_to_conformed.py:129-133)
        cols.extend((c, "string") for c in PARTITION_COLS)
    return cols


def _local_path(location: str) -> str:
    """``location`` as the catalog reports it, minus a ``file:`` scheme."""
    if location.startswith("file:"):
        location = "/" + location[len("file:"):].lstrip("/")
    return location.rstrip("/")


def _table_matches(
    spark: SparkSession,
    fqn: str,
    cols: list[tuple[str, str]],
    partition_cols: tuple[str, ...],
    location: str,
) -> bool:
    """True when table ``fqn`` exists with exactly these columns and
    types, partition columns and location.

    One ``DESCRIBE TABLE EXTENDED`` answers all three without a Spark
    job (``Catalog.listColumns`` runs several).  Its rows: every
    column; for a partitioned table ``# Partition Information``, a
    header row and the partition columns; a blank row; then the
    detailed information, ``Location`` among it.
    """
    if not spark.catalog.tableExists(fqn):
        return False
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fqn}").collect()
    head = list(takewhile(lambda r: r.col_name, rows))
    have = [
        (r.col_name, r.data_type)
        for r in takewhile(lambda r: not r.col_name.startswith("#"), head)
    ]
    parts = tuple(r.col_name for r in head[len(have) + 2 :])
    where = [r.data_type for r in rows if r.col_name == "Location"]
    return (
        have == cols
        and parts == partition_cols
        and [_local_path(w) for w in where] == [_local_path(location)]
    )


def upsert_table(
    spark: SparkSession,
    df: DataFrame,
    database: str,
    table: str,
    location: str,
    partitioned: bool = True,
) -> None:
    """K3: create-or-replace the external table definition.

    The reference overwrites the catalog entry every run
    (TableVersion '0', create-or-update at
    etl_raw_to_conformed.py:147-154) — last-writer-wins schema, no
    evolution.  DROP+CREATE of an EXTERNAL (location-backed) table
    reproduces that exactly without touching data files.  When the
    table already has the same columns, types, partition columns and
    location, both statements are skipped: the entry would come out
    identical, and the table never goes missing between them.
    Callers still run :func:`recover_partitions` after every write; it
    also refreshes the table's cached file listing.
    """
    cols = _columns(df, include_partition_cols=partitioned)
    partition_cols = PARTITION_COLS if partitioned else ()
    create_database_if_absent(spark, database)
    fqn = f"`{database}`.`{table}`"
    if _table_matches(spark, fqn, cols, partition_cols, location):
        return
    spark.sql(f"DROP TABLE IF EXISTS {fqn}")
    ddl = ", ".join(f"`{name}` {dtype}" for name, dtype in cols)
    partition_clause = (
        f" PARTITIONED BY ({', '.join(partition_cols)})" if partitioned else ""
    )
    spark.sql(
        f"CREATE TABLE {fqn} ({ddl}) USING PARQUET"
        f"{partition_clause} LOCATION '{location}'"
    )


def recover_partitions(spark: SparkSession, database: str, table: str) -> None:
    """K4: register on-disk partitions (etl_raw_to_conformed.py:218-219)."""
    spark.sql(f"ALTER TABLE `{database}`.`{table}` RECOVER PARTITIONS")
