"""Summary statistics and result digests for the benchmark."""

from __future__ import annotations

import hashlib
import math
import statistics

import pandas as pd

TAIL_BEYOND = 10  # samples that must lie above a reported tail


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(map(math.log, values))) if values else 0.0


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile that still has ``TAIL_BEYOND`` samples
    above it, as ``(percentile, value)``; ``None`` when the sample is too
    small to have one."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return 100.0 * rank / n, sorted(values)[rank - 1]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form of a result: columns sorted by name, values widened
    to one type per kind, rows sorted (the value normalization of
    ``scripts/oracle_check.py::normalize``)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: sha256 over the column
    names, dtypes and the CSV text of the normalized rows."""
    df = normalize(df)
    h = hashlib.sha256()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(df.to_csv(index=False, header=False, float_format="%.17g").encode())
    return h.hexdigest()[:16]
