"""Regression gate for the round-6 dtype escape (VERDICT r6 #2).

The driver's canonicalizer hashes raw pandas dtypes, so a DuckDB oracle
projecting an uncast integer ``sum()`` (HUGEINT → pandas float64) hash-reds
against Spark's int64 even when every value matches.  Round 6 shipped two
such oracles because ``scripts/oracle_check.py`` used to cast all integer
columns to float64 before comparing — the local gate was *more lenient*
than the driver.  These tests pin the strict behavior: the exact failure
mode must now FAIL locally, and the repo-convention fix
(``CAST(sum(...) AS BIGINT)``) must pass.  The last test pins the
registry invariants the gate's 50-row window relies on.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import oracle_check  # noqa: E402


def _gate(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Replicate oracle_check.main's per-query compare, returning the
    status list (empty == the local gate would print ``ok``)."""
    sk, dk = oracle_check.dtype_kinds(spark_pdf), oracle_check.dtype_kinds(oracle_pdf)
    s, d = oracle_check.normalize(spark_pdf), oracle_check.normalize(oracle_pdf)
    status: list[str] = []
    if len(s) != len(d):
        status.append("rows")
    if list(s.columns) != list(d.columns):
        status.append("cols")
    else:
        for c in s.columns:
            if sk[c] != dk[c] and not (sk[c] in ("i", "u") and dk[c] in ("i", "u")):
                status.append(f"dtype-kind:{c}")
        if not status and not s.equals(d):
            status.append("values")
    return status


def test_uncast_integer_sum_fails_locally():
    # Spark side: bigint sum (what F.sum over ints emits).
    spark_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([3, 7], dtype="int64")})
    # Oracle side: DuckDB sum() over ints = HUGEINT -> pandas float64.
    oracle_side = duckdb.sql(
        "SELECT k, sum(v) AS total FROM (VALUES ('a',1),('a',2),('b',3),('b',4)) "
        "t(k, v) GROUP BY k"
    ).df()
    assert oracle_side["total"].dtype.kind == "f", "fixture no longer reproduces HUGEINT->float64"
    status = _gate(spark_side, oracle_side)
    assert any(st.startswith("dtype-kind:total") for st in status), status


def test_cast_bigint_sum_passes():
    spark_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([3, 7], dtype="int64")})
    oracle_side = duckdb.sql(
        "SELECT k, CAST(sum(v) AS BIGINT) AS total FROM "
        "(VALUES ('a',1),('a',2),('b',3),('b',4)) t(k, v) GROUP BY k"
    ).df()
    assert _gate(spark_side, oracle_side) == []


def test_int_width_unification_still_tolerated():
    # int32 vs int64 is a width difference within the integer kind — the
    # driver tolerates it and so must the local gate.
    spark_side = pd.DataFrame({"n": pd.array([1, 2], dtype="int32")})
    oracle_side = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    assert _gate(spark_side, oracle_side) == []


def test_registry_rows_unique_and_first_50_rows_oracle_backed():
    """``build_registry`` is a dict over ``QUERIES`` keyed by function
    name, so a repeated row (or two functions with one name) would
    collapse silently.  The gate hashes only the first 50 rows, and a
    rows-only row can never be hash-green, so each of them needs an
    oracle.  No Spark session."""
    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import (
        QUERIES,
        build_registry,
    )

    fns = [fn for fn, _ in QUERIES]
    repeated = sorted({fn.__name__ for fn in fns if fns.count(fn) > 1})
    assert not repeated, f"functions listed twice in QUERIES: {repeated}"
    assert len(build_registry()) == len(QUERIES)
    unbacked = [fn.__name__ for fn, oracle in QUERIES[:50] if not oracle]
    assert not unbacked, f"first-50 rows without an oracle: {unbacked}"
