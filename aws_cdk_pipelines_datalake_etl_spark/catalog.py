"""Catalog database/table upsert with the reference's type rules.

The reference drives the Glue Data Catalog through boto3
(``etl_raw_to_conformed.py:58-160``); this engine uses the Spark
session catalog (Hive-metastore semantics built in), so the same
operations are DDL:

- K2 create-database-if-absent  (etl_raw_to_conformed.py:58-87)
- K3 idempotent table upsert with type normalization
  (etl_raw_to_conformed.py:90-160; variant excluding partition cols
  at etl_conformed_to_purposebuilt.py:107)
- K4 partition registration (etl_raw_to_conformed.py:218-219): a
  table the upsert left in place gets only the run's partition added
  (``ADD IF NOT EXISTS PARTITION``, one catalog call whatever the
  history); a newly created table, or a write that may have touched
  any partition, relists them all (``RECOVER PARTITIONS``)

Type-normalization rules (SURVEY §1.2):
1. ``decimal(10,0)`` -> ``int``   (etl_raw_to_conformed.py:103-105)
2. ``NullType``       -> ``string`` (etl_raw_to_conformed.py:106-107)
3. partition columns ``year/month/day`` are always strings
   (etl_raw_to_conformed.py:129-133)
"""

from __future__ import annotations

from collections.abc import Sequence
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


def local_path(location: str) -> str:
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
    properties: dict[str, str],
) -> bool:
    """True when table ``fqn`` exists with exactly these columns and
    types, partition columns and location, and carries ``properties``
    among its table properties.

    One ``DESCRIBE TABLE EXTENDED`` answers all of it without a Spark
    job (``Catalog.listColumns`` runs several).  Its rows: every
    column; for a partitioned table ``# Partition Information``, a
    header row and the partition columns; a blank row; then the
    detailed information, ``Location`` and ``Table Properties``
    (``[k1=v1, k2=v2]``) among it.
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
    info = {r.col_name: r.data_type for r in rows[len(head) :]}
    props = set(info.get("Table Properties", "[]")[1:-1].split(", "))
    return (
        have == cols
        and parts == partition_cols
        and local_path(info.get("Location", "")) == local_path(location)
        and {f"{k}={v}" for k, v in properties.items()} <= props
    )


def upsert_table(
    spark: SparkSession,
    df: DataFrame,
    database: str,
    table: str,
    location: str,
    partitioned: bool = True,
    properties: dict[str, str] | None = None,
) -> bool:
    """K3: create-or-replace the external table definition.

    The reference overwrites the catalog entry every run
    (TableVersion '0', create-or-update at
    etl_raw_to_conformed.py:147-154) — last-writer-wins schema, no
    evolution.  DROP+CREATE of an EXTERNAL (location-backed) table
    reproduces that exactly without touching data files.  When the
    table already has the same columns, types, partition columns and
    location, both statements, and the database's
    create-if-absent, are skipped: the entry would come out identical,
    and the table never goes missing between them.

    ``properties`` must also be among the table's properties for it to
    be left in place.  The CREATE does not write them: the caller sets
    them with :func:`set_table_properties` once the data they vouch
    for is written, so a run that fails in between leaves a table that
    does not match.

    Returns True when the table was left in place, False when it was
    created.  Callers run :func:`recover_partitions` after every write;
    a created table starts with no partitions registered.
    """
    cols = _columns(df, include_partition_cols=partitioned)
    partition_cols = PARTITION_COLS if partitioned else ()
    fqn = f"`{database}`.`{table}`"
    if _table_matches(spark, fqn, cols, partition_cols, location, properties or {}):
        return True
    create_database_if_absent(spark, database)
    spark.sql(f"DROP TABLE IF EXISTS {fqn}")
    # a location that does not exist yet makes the CREATE log a
    # FileNotFoundException stack trace; an empty directory reads as
    # an empty table
    path = spark._jvm.org.apache.hadoop.fs.Path(location)
    path.getFileSystem(spark._jsc.hadoopConfiguration()).mkdirs(path)
    ddl = ", ".join(f"`{name}` {dtype}" for name, dtype in cols)
    partition_clause = (
        f" PARTITIONED BY ({', '.join(partition_cols)})" if partitioned else ""
    )
    spark.sql(
        f"CREATE TABLE {fqn} ({ddl}) USING PARQUET"
        f"{partition_clause} LOCATION '{location}'"
    )
    return False


def set_table_properties(
    spark: SparkSession, database: str, table: str, properties: dict[str, str]
) -> None:
    """Add or overwrite table properties (see :func:`upsert_table`)."""
    pairs = ", ".join(f"'{k}' = '{v}'" for k, v in properties.items())
    spark.sql(f"ALTER TABLE `{database}`.`{table}` SET TBLPROPERTIES ({pairs})")


def recover_partitions(
    spark: SparkSession,
    database: str,
    table: str,
    partition: Sequence[str] | None = None,
) -> None:
    """K4: register on-disk partitions (etl_raw_to_conformed.py:218-219).

    With ``partition`` (its year, month and day values) only that one
    is added, if absent: one catalog call, however long the history.
    Without it every partition directory is listed and registered,
    which a newly created table needs.  Both refresh the table's
    cached file listing.
    """
    fqn = f"`{database}`.`{table}`"
    if partition is None:
        spark.sql(f"ALTER TABLE {fqn} RECOVER PARTITIONS")
        return
    spec = ", ".join(f"{c}='{v}'" for c, v in zip(PARTITION_COLS, partition))
    spark.sql(f"ALTER TABLE {fqn} ADD IF NOT EXISTS PARTITION ({spec})")
