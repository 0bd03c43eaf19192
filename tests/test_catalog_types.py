"""Catalog-side type projection rules (SURVEY §1.2; catalog.py)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    IntegerType,
    NullType,
    StringType,
)

from aws_cdk_pipelines_datalake_etl_spark.catalog import (
    PARTITION_COLS,
    normalize_type,
    publish,
    upsert_table,
)

DAY = ("2020", "08", "15")


def _stamped(df):
    return df.withColumns({c: F.lit(v) for c, v in zip(PARTITION_COLS, DAY)})


def test_normalize_type_rules():
    # rule 1: decimal(10,0) -> int (etl_raw_to_conformed.py:103-105)
    assert normalize_type(DecimalType(10, 0)) == IntegerType()
    # other decimals untouched
    assert normalize_type(DecimalType(12, 2)) == DecimalType(12, 2)
    assert normalize_type(DecimalType(10, 2)) == DecimalType(10, 2)
    # rule 2: NullType -> string (etl_raw_to_conformed.py:106-107)
    assert normalize_type(NullType()) == StringType()
    # everything else is identity
    assert normalize_type(DoubleType()) == DoubleType()


def test_upsert_applies_rules_to_catalog(spark, tmp_path):
    loc = str(tmp_path / "t")
    df = _stamped(spark.range(3).select(
        F.col("id").cast(DecimalType(10, 0)).alias("dec10"),
        F.col("id").cast(DecimalType(12, 2)).alias("dec12"),
        F.col("id").cast("double").alias("dbl"),
    ))
    df.write.partitionBy(*PARTITION_COLS).mode("overwrite").parquet(loc)
    upsert_table(spark, df, database="cat_rules_db", table="t", location=loc)
    dtypes = dict(spark.table("cat_rules_db.t").dtypes)
    assert dtypes["dec10"] == "int"
    assert dtypes["dec12"] == "decimal(12,2)"
    assert dtypes["dbl"] == "double"
    assert all(dtypes[c] == "string" for c in PARTITION_COLS)
    spark.sql("DROP TABLE cat_rules_db.t")
    spark.sql("DROP DATABASE cat_rules_db")


def test_upsert_skips_matching_table_and_replaces_on_location_change(
    spark, tmp_path
):
    def props_and_location(fqn: str) -> tuple:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fqn}").collect()
        info = {r.col_name: r.data_type for r in rows}
        return info.get("Table Properties"), info["Location"]

    df = _stamped(
        spark.range(3).select(F.col("id"), F.col("id").cast("double").alias("v"))
    )
    old, new = str(tmp_path / "old"), str(tmp_path / "new")

    def upsert(location: str) -> None:
        publish(spark, df, "cat_skip_db", "t", location, DAY, lambda d: d)

    upsert(old)
    spark.sql("ALTER TABLE cat_skip_db.t SET TBLPROPERTIES ('probe' = 'kept')")
    # same columns, types, partitioning and location: left in place
    upsert(old)
    props, loc = props_and_location("cat_skip_db.t")
    assert "probe=kept" in props and loc.endswith("/old")
    # a new location re-creates the entry there
    upsert(new)
    props, loc = props_and_location("cat_skip_db.t")
    assert props is None and loc.endswith("/new")
    assert spark.table("cat_skip_db.t").count() == 3
    spark.sql("DROP TABLE cat_skip_db.t")
    spark.sql("DROP DATABASE cat_skip_db")
