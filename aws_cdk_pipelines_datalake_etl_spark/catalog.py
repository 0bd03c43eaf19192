"""Catalog database/table upsert with the reference's type rules.

The reference drives the Glue Data Catalog through boto3
(``etl_raw_to_conformed.py:58-160``); this engine uses the Spark
session catalog (Hive-metastore semantics built in), so the same
operations are DDL:

- K2 create-database-if-absent  (etl_raw_to_conformed.py:58-87)
- K3 idempotent table upsert with type normalization
  (etl_raw_to_conformed.py:90-160; variant excluding partition cols
  at etl_conformed_to_purposebuilt.py:107): a table that already
  matches is left in place, any other is replaced by DROP+CREATE
- K4 partition registration (etl_raw_to_conformed.py:218-219): a
  table left in place that got only the run's partition has that one
  added (``ADD IF NOT EXISTS PARTITION``, one catalog call whatever
  the history); a replaced table, or a write that may have touched
  any partition, relists them all (``RECOVER PARTITIONS``)

Both zones end in :func:`publish`, which writes first and changes the
catalog (K3, K4) only after the write has succeeded (the reference
upserts before it writes, etl_raw_to_conformed.py:187-219 and
etl_conformed_to_purposebuilt.py:201-212).

Type-normalization rules (SURVEY §1.2):
1. ``decimal(10,0)`` -> ``int``   (etl_raw_to_conformed.py:103-105)
2. ``NullType``       -> ``string`` (etl_raw_to_conformed.py:106-107)
3. partition columns ``year/month/day`` are always strings
   (etl_raw_to_conformed.py:129-133)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from itertools import takewhile
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DecimalType, IntegerType, NullType, StringType

PARTITION_COLS = ("year", "month", "day")


def normalize_type(dt: DataType) -> DataType:
    """Apply the reference's catalog-side type projection rules."""
    if isinstance(dt, DecimalType) and dt.precision == 10 and dt.scale == 0:
        return IntegerType()  # etl_raw_to_conformed.py:103-105
    if isinstance(dt, NullType):
        return StringType()  # etl_raw_to_conformed.py:106-107
    return dt


def create_database_if_absent(spark: SparkSession, database: str) -> None:
    """K2: get-else-create database (etl_raw_to_conformed.py:58-87)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`")


def _columns(df: DataFrame) -> list[tuple[str, str]]:
    cols = [
        (f.name, normalize_type(f.dataType).simpleString())
        for f in df.schema.fields
        if f.name.lower() not in PARTITION_COLS
    ]
    # partition keys are always string (etl_raw_to_conformed.py:129-133)
    return cols + [(c, "string") for c in PARTITION_COLS]


def local_path(location: str) -> str:
    """``location`` as the catalog reports it, minus a ``file:`` scheme."""
    if location.startswith("file:"):
        location = "/" + location[len("file:"):].lstrip("/")
    return location.rstrip("/")


def _table_matches(
    spark: SparkSession,
    fqn: str,
    cols: list[tuple[str, str]],
    location: str,
    properties: dict[str, str],
) -> bool:
    """True when table ``fqn`` exists with exactly these columns and
    types, partitioned by :data:`PARTITION_COLS`, at ``location``, and
    carries ``properties`` among its table properties.

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
        and parts == PARTITION_COLS
        and local_path(info.get("Location", "")) == local_path(location)
        and {f"{k}={v}" for k, v in properties.items()} <= props
    )


def upsert_table(
    spark: SparkSession, df: DataFrame, database: str, table: str, location: str
) -> None:
    """K3: create-or-replace the external table definition of ``df``'s
    columns, partitioned by :data:`PARTITION_COLS`, at ``location``.

    The reference overwrites the catalog entry every run
    (TableVersion '0', create-or-update at
    etl_raw_to_conformed.py:147-154) — last-writer-wins schema, no
    evolution.  DROP+CREATE of an EXTERNAL (location-backed) table
    reproduces that exactly without touching data files.  The new
    table has no partitions registered and no table properties;
    :func:`publish` runs this only once the data is written, and only
    when the existing entry does not match it.
    """
    create_database_if_absent(spark, database)
    fqn = f"`{database}`.`{table}`"
    spark.sql(f"DROP TABLE IF EXISTS {fqn}")
    ddl = ", ".join(f"`{name}` {dtype}" for name, dtype in _columns(df))
    spark.sql(
        f"CREATE TABLE {fqn} ({ddl}) USING PARQUET"
        f" PARTITIONED BY ({', '.join(PARTITION_COLS)}) LOCATION '{location}'"
    )


def set_table_properties(
    spark: SparkSession, database: str, table: str, properties: dict[str, str]
) -> None:
    """Add or overwrite table properties (see :func:`publish`)."""
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


class Published(NamedTuple):
    table: DataFrame  # the catalog table
    n_rows: int  # rows written this run, observed during the write itself


def publish(
    spark: SparkSession,
    df: DataFrame,
    database: str,
    table: str,
    location: str,
    partition: Sequence[str],
    run_partition: Callable[[DataFrame], DataFrame | None],
    properties: dict[str, str] | None = None,
) -> Published:
    """K1-K4 for one run: write ``df`` to ``location`` as parquet
    partitioned by :data:`PARTITION_COLS` with dynamic overwrite, then
    bring table ``database.table`` up to date with it.

    1. Match: the table is kept when it already has ``df``'s columns
       and types, the partition columns and ``location``, and carries
       ``properties`` among its table properties (one ``DESCRIBE``).
    2. Write: on a kept table, ``run_partition(df)`` — ``df``'s rows in
       the run's ``partition`` (year, month and day values), or None
       when only the whole of ``df`` is known to be right — is written
       instead of ``df``.
    3. Catalog: a table that did not match is replaced
       (:func:`upsert_table`), then partitions are registered: only
       ``partition`` on a kept table that got only that one, all of
       them otherwise (:func:`recover_partitions`).  A replaced table
       gets ``properties`` last, so they vouch only for data fully
       written.

    The catalog changes only after the write has succeeded.  A write
    that fails, or one still running, leaves the previous definition
    and its partitions readable: with the replacement first, a failed
    rebuild of a purpose-built table read 0 rows with 0 partitions
    registered while its old files were still on disk.  The
    reference's order (upsert, then write) reaches the same state when
    the write succeeds.  On a table that did not match, the DROP and
    CREATE pair still leaves a moment with no table.

    ``n_rows`` comes from an ``Observation`` attached to the write
    plan, not a re-read of the written table: the write materializes
    every column, so DROPMALFORMED's column-dependent row filtering is
    fully resolved in that same action (counting any *narrower* plan
    would be wrong — malformed detection depends on which columns get
    parsed), and the count costs no second scan.
    """
    fqn = f"`{database}`.`{table}`"
    properties = properties or {}
    kept = _table_matches(spark, fqn, _columns(df), location, properties)
    one = run_partition(df) if kept else None
    obs = Observation()
    (
        (df if one is None else one)
        .observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .write.partitionBy(*PARTITION_COLS)
        .format("parquet")
        .mode("overwrite")  # dynamic overwrite: only touched partitions replaced
        .save(location)
    )
    if not kept:
        upsert_table(spark, df, database, table, location)
    recover_partitions(spark, database, table, None if one is None else partition)
    if not kept and properties:
        set_table_properties(spark, database, table, properties)
    return Published(spark.table(fqn), int(obs.get["n_rows"]))
