"""Raw-zone CSV scan (SURVEY §2.2 S1).

Parity with the reference's raw read — header row, comma delimiter,
schema inference, malformed rows dropped
(``lib/glue_scripts/etl_raw_to_conformed.py:180-185``) — with an
explicit-schema fast path for production: at 100 TB, ``inferSchema``
costs a full extra pass over the input, so callers that already know
the schema pass it and get a single-pass scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType


def _csv_reader(spark: SparkSession) -> DataFrameReader:
    """The reference's raw CSV dialect: header row, comma delimiter."""
    return (
        spark.read.format("csv")
        .option("header", "true")
        .option("delimiter", ",")
    )


def read_raw_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Read a raw CSV file/directory the way the reference job does.

    Parity: etl_raw_to_conformed.py:180-185 (format csv, header true,
    delimiter ',', inferSchema true, mode DROPMALFORMED).
    """
    reader = _csv_reader(spark).option("mode", "DROPMALFORMED")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.load(path)


def read_raw_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """PERMISSIVE raw read that KEEPS malformed rows: well-formed rows
    parse normally, malformed ones surface as their raw line in
    ``corrupt_col`` (NULL for good rows) — the input for a quarantine
    split (operators/conform.py split_quarantine), which beats the
    reference's DROPMALFORMED silently discarding data.

    Pass an explicit ``schema`` for this to be meaningful: inference
    reads the malformed rows too and degrades column types until
    everything parses (a numeric column with one bad cell infers as
    string), so nothing is flagged.  With a declared schema — the
    production contract — type-violating rows surface.  (Without one,
    this still costs an extra inference pass, because the
    corrupt-record column only exists if it's IN the schema.)
    """
    from pyspark.sql.types import StringType

    if schema is None:
        inferred = (
            _csv_reader(spark).option("inferSchema", "true").load(path).schema
        )
    else:
        inferred = schema
    full = StructType(list(inferred.fields)).add(corrupt_col, StringType(), True)
    return (
        _csv_reader(spark)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .load(path)
    )
