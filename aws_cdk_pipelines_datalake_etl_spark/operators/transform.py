"""Job 2: conformed -> purpose-built via declarative SQL (SURVEY §3.3).

Reimplements ``lib/glue_scripts/etl_conformed_to_purposebuilt.py``:
look up ``transforms/<table>.sql`` (S3), execute it with ``spark.sql``
against catalog tables (S2), and publish the result like the conformed
zone (:func:`catalog.publish`): partitioned Parquet with dynamic
overwrite, then the output table definition (partition cols excluded
from the regular column list, etl_conformed_to_purposebuilt.py:107)
and its partitions.

This is the engine's real query entry point: SQL string -> Catalyst
parse/analyze/optimize -> physical plan.  The engine writes zero
planner/executor code — the declared query surface is all of Spark
SQL (SURVEY §2.6), so joins, windows, set ops, HAVING etc. come for
free and are validated by the oracle harness.

Incremental runs.  A pipeline run conforms exactly one ingest-date
partition ``p``, so a SQL whose every output partition depends only
on the same input partition changes only output partition ``p``.
:func:`transform` then computes and writes just that partition,
filtering the SQL's output on ``p``, when both of these hold:

1. the purpose-built table already exists as this run would create
   it: same columns, partition columns and location, and the table
   property :data:`SQL_HASH_PROPERTY` equal to the SHA-256 of the SQL
   text.  The property is set only after a full write has finished,
   so a first run, an edited ``.sql`` file, a changed output schema,
   a moved location or a full rebuild that failed halfway all fall
   back;
2. the physical plan of the filtered SQL proves the partition is
   local: every leaf is a file scan of the conformed table this run
   wrote (its location, compared exactly, or the run's partition
   directory under it), each scan carries ``year``, ``month`` and
   ``day`` equal to the run's values among its ``PartitionFilters``,
   and the plan has no subquery.  The same must hold when the filter
   names a partition no SQL constant can match, so that the pushdown
   is known to work alike for every partition (:func:`_partition_slice`).
   Catalyst pushes the filter through projections, through a
   ``GROUP BY`` on the partition columns, through a window or join
   keyed on them, and stops at anything that mixes partitions: a
   window over another key (``transforms/user_events.sql``), the other
   side of a join on another key, a non-deterministic projection.  A
   SQL that reads another table
   (``transforms/green_taxi_trip_record.sql``) fails the location
   check, and one that compares a partition column with a constant
   fails the second check.

Otherwise the whole SQL is recomputed and written, as before.  One
difference remains between the two paths: a SQL whose values depend
on when it runs (``current_date()``; Catalyst folds it to a literal
before the plan is checked) keeps in older partitions the value from
the run that wrote them.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from aws_cdk_pipelines_datalake_etl_spark import catalog
from aws_cdk_pipelines_datalake_etl_spark.params import JobParams
from aws_cdk_pipelines_datalake_etl_spark.sources.sql_text import load_transform_sql


def validate_table(
    spark: SparkSession, database: str, table: str, n: int = 10
) -> DataFrame:
    """R7: the consumer validation query — ``SELECT * FROM db.t LIMIT
    n`` (the reference's documented Athena check, README.md:263-265),
    run against the session catalog.  A LIMIT over parquet plans as a
    CollectLimit that stops after the first file(s) — O(n), not a
    scan."""
    return spark.sql(f"SELECT * FROM `{database}`.`{table}` LIMIT {int(n)}")


def run_sql(spark: SparkSession, sql_text: str) -> DataFrame:
    """Execute one transformation-SQL statement
    (parity: etl_conformed_to_purposebuilt.py:199)."""
    return spark.sql(sql_text)


#: table property holding the SHA-256 of the SQL text the
#: purpose-built data was computed with
SQL_HASH_PROPERTY = "transform.sql_sha256"


def _strings(seq) -> list[str]:
    """The elements of a Scala ``Seq`` as strings, in one JVM call."""
    text = seq.mkString("\n")
    return text.split("\n") if text else []


#: a partition filter ``column = literal`` as the plan renders it,
#: ``(day#12 = 15)``
_EQUALITY = re.compile(r"\((\w+)#\d+ = (.*)\)")


def _scans(df: DataFrame) -> list[tuple[set[str], set[tuple[str, str]]]] | None:
    """``(root paths, partition equalities)`` of every leaf of ``df``'s
    physical plan; None when a leaf is not a file scan or an
    expression holds a subquery (its plan could read anything).

    Filters and paths are read as the plan renders them, one call into
    the JVM per list, not one per expression node."""
    plan = df._jdf.queryExecution().sparkPlan()
    if not plan.subqueriesAll().isEmpty():
        return None
    scans = []
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            return None
        paths = _strings(leaf.relation().location().rootPaths())
        roots = {catalog.local_path(p) for p in paths}
        matches = (_EQUALITY.fullmatch(f) for f in _strings(leaf.partitionFilters()))
        scans.append((roots, {(m[1].lower(), m[2]) for m in matches if m}))
    return scans


def _where_partition(df: DataFrame, partition: Sequence[str]) -> DataFrame:
    # a SQL string: one call into the JVM, where a Column predicate
    # takes about ten
    spec = zip(catalog.PARTITION_COLS, partition)
    return df.where(" AND ".join(f"`{c}` = '{v}'" for c, v in spec))


#: a partition no SQL constant names, with a different value per
#: column (see :func:`_partition_slice`)
_NO_DATE = ("?year", "?month", "?day")


def _partition_slice(
    df: DataFrame, table_location: str, partition: Sequence[str]
) -> DataFrame | None:
    """``df`` filtered on ``partition`` when its rows there provably
    depend only on the input rows of the table at ``table_location``
    in the same partition, and no other output partition depends on
    those; otherwise None.

    The first holds when, filtered on ``partition``, every scan reads
    files of that table only (its location, or the partition's
    directory when the catalog pruned the listing; a scan that finds
    no files cannot show its table, so it fails) and carries the
    partition's three equalities.  The second needs the equalities to
    reach every scan for a partition whose values no SQL constant
    names and no two columns share: a SQL may pin a partition column
    to a constant that happens to be the run's value (a self-join on
    ``b.day = '15'`` lets every output day read input day 15), or to
    another partition column (``b.day = a.month`` reads day 08 for
    every day of August), and only such values show that the filter
    is pushed down alike for every partition."""
    spec = list(zip(catalog.PARTITION_COLS, partition))
    root = catalog.local_path(table_location)
    files = {root, root + "".join(f"/{c}={v}" for c, v in spec)}
    one = _where_partition(df, partition)
    run = _scans(one)
    if run is None or not all(
        roots and roots <= files and set(spec) <= eqs for roots, eqs in run
    ):
        return None
    generic = _scans(_where_partition(df, _NO_DATE))
    no_date = set(zip(catalog.PARTITION_COLS, _NO_DATE))
    if generic is None or not all(no_date <= eqs for _, eqs in generic):
        return None
    return one


def transform(
    spark: SparkSession,
    params: JobParams,
    conformed_root: str,
    purposebuilt_root: str,
    transforms_dir: str | Path | None = None,
) -> catalog.Published:
    """Run the purpose-built job for one conformed table
    (parity: etl_conformed_to_purposebuilt.py:180-212 ``main``) into
    the ``<source_system>_purposebuilt`` database.

    :func:`catalog.publish` writes before it touches the catalog, the
    reverse of the reference's order: a full rebuild that fails, or is
    still running, leaves the previous table and its partitions
    readable, where an upsert first had already dropped them (a failed
    rebuild read 0 rows).  Whether the table matches this SQL decides,
    with the plan check, between writing only this run's partition and
    recomputing all of them (module docstring).  ``n_rows`` counts the
    rows written this run: the run's partition only, on the
    incremental path."""
    sql_text = load_transform_sql(params.table_name, transforms_dir)
    conformed = f"{conformed_root.rstrip('/')}/{params.table_name}"
    return catalog.publish(
        spark,
        run_sql(spark, sql_text),
        f"{params.source_system_name}_purposebuilt",
        params.table_name,
        f"{purposebuilt_root.rstrip('/')}/{params.table_name}",
        params.partition_values,
        lambda df: _partition_slice(df, conformed, params.partition_values),
        # set once a full write with this SQL has finished: later runs
        # may go incremental
        properties={SQL_HASH_PROPERTY: hashlib.sha256(sql_text.encode()).hexdigest()},
    )
