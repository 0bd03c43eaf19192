"""Vector (embedding) column expressions — JVM-side, no UDFs.

``array<float>`` embeddings are cast to double and folded with
``aggregate``/``zip_with`` so dot products run inside codegen.  The
fold is sequential over the array, which makes the result
bit-deterministic (same input -> same double), matching a sequential
evaluation in an external oracle.

The ``literal_*``/``nearest_*``/``max_dot`` builders compare a vector
column against driver-side constants (centroids, codebooks, ADC
tables).  Each is ONE SQL string parsed JVM-side by a single
``F.expr`` — the minhash/simhash device of operators/dedup.py: the
same expression tree as the equivalent Column calls, without one py4j
round trip per literal and operator.  Doubles render as ``repr`` +
``D``, which parses back to the identical float.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double_array(col: str) -> Column:
    return F.col(col).cast("array<double>")


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, cast(0.0 as double), (acc, v) -> acc + v * v)"
        )
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    return dot(a, b) / (norm(a) * norm(b))


# NOTE: an unrolled known-dim codegen dot (128-term element_at chain)
# was tried for the pair-join hot path and measured ~2.5x SLOWER than
# the lambda fold at dim 64 — winnow's codegen-beats-lambda rule holds
# for small closed forms only (see SCALE.md, semantic dedup probe).


def unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, nv)``: every vector L2-normalized, zero vectors dropped —
    max-dot order is then cosine order and squared-L2 order too."""
    v = as_double_array(vec_col)
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        df.select(F.col(id_col).alias("id"), F.transform(v, lambda x: x / nrm).alias("nv"))
        .filter(nrm > 0)
    )


def _num(x) -> str:
    return f"{float(x)!r}D"


def _arr(values) -> str:
    return f"array({', '.join(map(_num, values))})"


def _dot(vec: str, cent) -> str:
    return f"aggregate(zip_with({vec}, {_arr(cent)}, (x, y) -> x * y), 0.0D, (x, y) -> x + y)"


def _sqdist(vec: str, cent, offset: int, minus: str | None) -> str:
    """Flat sum of scalar ``(x[i] - c_i)^2`` terms over the slice of
    ``vec`` (less the same slice of ``minus``) starting at ``offset``."""
    terms = []
    for i, c in enumerate(cent, offset + 1):
        x = f"element_at({vec}, {i})"
        if minus:
            x += f" - element_at({minus}, {i})"
        terms.append(f"({x} - {_num(c)}) * ({x} - {_num(c)})")
    return " + ".join(terms)


def _arg(best: str, exprs: list[str]) -> str:
    """0-based index of the first min/max of ``exprs``."""
    arr = f"array({', '.join(exprs)})"
    return f"CAST(array_position({arr}, array_{best}({arr})) - 1 AS INT)"


def nearest_codes(vec: str, codebooks, minus: str | None = None) -> Column:
    """``array<int>`` of PQ codes: for each subspace ``j`` the index of
    the nearest (squared L2) literal sub-centroid of ``codebooks[j]``
    to the j-th slice of ``vec`` — of ``vec - minus`` for residual
    codes, the subtraction kept scalar so no residual array is
    materialized.  Ties go to the lowest index."""
    dsub = len(codebooks[0][0])
    return F.expr(
        "array("
        + ", ".join(
            _arg("min", [_sqdist(vec, c, j * dsub, minus) for c in book])
            for j, book in enumerate(codebooks)
        )
        + ")"
    )


def nearest_centroid(vec: str, centroids) -> Column:
    """Index of the max-dot literal centroid; ties to the lowest index."""
    return F.expr(_arg("max", [_dot(vec, c) for c in centroids]))


def max_dot(vec: str, centroids) -> Column:
    """Largest sequential-fold dot of ``vec`` with the literal centroids."""
    return F.expr(f"array_max(array({', '.join(_dot(vec, c) for c in centroids)}))")


def literal_structs(fields: list[str], rows) -> Column:
    """A literal ``array<struct>``: one struct per row, ints as INT and
    sequences as ``array<double>`` (e.g. codebook entries)."""

    def value(x) -> str:
        return str(int(x)) if isinstance(x, int) else _arr(x)

    return F.expr(
        "array("
        + ", ".join(
            "struct("
            + ", ".join(f"{value(x)} AS {f}" for f, x in zip(fields, row))
            + ")"
            for row in rows
        )
        + ")"
    )


def literal_adc(queries) -> Column:
    """Asymmetric distances of every ``codes`` row to a batch of
    queries: ``array<struct<query_id, adc_dist>>``.  ``queries`` is
    ``[(query_id, arms)]``; each arm is ``(buckets, table)``, the
    query's ``m x ksub`` partial-distance table.  The distance is the
    sum over ``j`` of ``table[j][codes[j]]`` rounded to 6 dp; with
    ``buckets`` None it is ungated, else the first arm whose
    ``buckets`` hold the row's ``centroid_id`` gives it (NULL if
    none)."""

    def dist(table) -> str:
        return "round(" + " + ".join(
            f"element_at({_arr(row)}, element_at(codes, {j + 1}) + 1)"
            for j, row in enumerate(table)
        ) + ", 6)"

    def gated(arms) -> str:
        if arms[0][0] is None:
            return dist(arms[0][1])
        return "CASE " + " ".join(
            f"WHEN centroid_id IN ({', '.join(map(str, b))}) THEN {dist(t)}"
            for b, t in arms
        ) + " ELSE NULL END"

    return F.expr(
        "array("
        + ", ".join(
            f"struct({int(q)} AS query_id, {gated(arms)} AS adc_dist)"
            for q, arms in queries
        )
        + ")"
    )
