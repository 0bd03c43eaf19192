"""Event-sourced job audit trail (SURVEY §2.2 K5-K6, FIXTURES.md §5).

The reference keys a DynamoDB item by ``execution_id`` and mutates
``job_latest_status`` in place
(``state_machine_trigger/lambda_handler.py:25-46``,
``etl_job_auditor/lambda_handler.py:50-107``).  A mutable KV store is
the wrong shape for a data lake, so the engine event-sources it:
every status change appends one immutable one-row Parquet file;
"latest status" is a window query over the directory.

An append is a driver-side write with no Spark job, as cheap as the
reference's one ``put_item``: pyarrow writes the row to a hidden temp
name (``.part-<uuid>.parquet.tmp``; Spark's file index skips names
starting with ``.`` or ``_``), fsyncs it, and ``os.replace`` publishes
it, so a crash or a concurrent reader sees the whole event or none.
That rename is atomic on a local file system, which is what
``LakeLayout`` roots are; an object-store root would need a different
writer (e.g. one conditional PUT per event).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

AUDIT_SCHEMA = StructType(
    [
        StructField("event_seq", LongType(), False),
        StructField("execution_id", StringType(), False),
        StructField("execution_name", StringType(), True),
        StructField("pipeline_id", StringType(), True),
        StructField("job_input", StringType(), True),
        StructField("job_latest_status", StringType(), True),
        StructField("job_start_date", StringType(), True),
        StructField("joblast_updated_timestamp", StringType(), True),
        StructField("error_message", StringType(), True),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(AUDIT_SCHEMA)  # same names, order, nullability


class AuditLog:
    def __init__(self, spark: SparkSession, location: str, clock=None):
        self.spark = spark
        self.location = location
        self._clock = clock or (lambda: datetime.now(timezone.utc))
        self._seq = 0

    def _now(self) -> str:
        return self._clock().strftime("%Y-%m-%d %H:%M:%S.%f")

    def _append(self, row: dict) -> None:
        # event_seq breaks same-timestamp ties (e.g. an injected frozen
        # clock); real multi-writer ordering still rides the timestamp.
        self._seq += 1
        table = pyarrow.Table.from_pylist(
            [{"event_seq": self._seq, **row}], schema=_ARROW_SCHEMA
        )
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(self.location, f".{name}.tmp")
        os.makedirs(self.location, exist_ok=True)
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.location, name))

    def insert_started(
        self,
        execution_id: str,
        execution_name: str,
        pipeline_id: str,
        job_input: str,
    ) -> None:
        """K5: STARTED record (lambda_handler.py:25-46)."""
        ts = self._now()
        self._append(
            {
                "execution_id": execution_id,
                "execution_name": execution_name,
                "pipeline_id": pipeline_id,
                "job_input": job_input,
                "job_latest_status": "STARTED",
                "job_start_date": ts,
                "joblast_updated_timestamp": ts,
                "error_message": None,
            }
        )

    def update_status(
        self, execution_id: str, status: str, error_message: str | None = None
    ) -> None:
        """K6: status update; FAILED carries the error message
        (etl_job_auditor/lambda_handler.py:50-107)."""
        self._append(
            {
                "execution_id": execution_id,
                "execution_name": None,
                "pipeline_id": None,
                "job_input": None,
                "job_latest_status": status,
                "job_start_date": None,
                "joblast_updated_timestamp": self._now(),
                "error_message": error_message,
            }
        )

    def read(self) -> DataFrame:
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(self.location)

    def latest_status(self) -> DataFrame:
        """Current status per execution: last event wins (the DynamoDB
        ``update_item`` semantics, replayed as a window query)."""
        w = Window.partitionBy("execution_id").orderBy(
            F.col("joblast_updated_timestamp").desc(), F.col("event_seq").desc()
        )
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
