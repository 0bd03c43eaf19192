"""Distributed linear quality classifier (fastText-style weak
supervision distillation).

The standard pipeline step AFTER rule filters (CCNet / GPT-3 data
work): rule labels (e.g. :func:`.text.gopher_rules` ``keep``) are
distilled into a cheap linear model over hashed bag-of-words features,
which then generalizes past the rules' hard edges and scores the whole
corpus at scan speed.

Architecture — batch gradient descent where EVERY corpus-sized
reduction is an integer sum:

- **Features**: hashing trick — ``slot = pmod(xxhash64(token), dim)``
  per token occurrence, counted per (doc, slot).  One shuffle, built
  once and cached across iterations.
- **Forward pass**: the weight vector is quantized to integer
  micro-units and broadcast as a (slot, w_micro) table; a doc's logit
  is ``sum(k * w_micro)`` — an INTEGER sum, so it is bit-identical
  under any partitioning/merge order.
- **Backward pass**: each doc's residual ``sigmoid(logit) - y`` is
  quantized to micro-units row-locally; the per-slot gradient is the
  integer sum ``sum(k * r_micro)``.  The only float arithmetic is the
  driver-side weight update over the collected gradient — a vector of
  ``dim + 1`` values, bounded control data exactly like k-means
  centroids or PQ codebooks elsewhere in this repo.

Cost per iteration: two shuffles (doc-keyed logit agg, slot-keyed
gradient agg) over the cached feature table; the weight table
(``dim + 1`` rows) broadcasts.  At 100 TB you persist the feature
table once and each iteration is two hash aggregations — the textbook
distributed-GD shape, no parameter server needed at linear-model size.

Registry coverage is rows-only (the iterative loop is not
SQL-expressible); the stronger gates are in pytest: held-out agreement
with the teacher labels, partition-layout invariance (exact, thanks to
the integer sums), and plan shape (broadcast weights, no Python).

No reference-parity citation: the reference (aws-samples
aws-cdk-pipelines-datalake-etl) has no classifier surface; Tier-E
LLM-corpus toolkit (SURVEY.md §2.6/§6).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import ws_tokens

MICRO = 1_000_000
#: reserved slot for the intercept (every doc has k=1 there)
_BIAS = -1


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
) -> DataFrame:
    """Hashed bag-of-words: (id, slot, k) with ``slot =
    pmod(xxhash64(token), dim)`` per token occurrence plus one bias
    row (slot -1, k=1) per doc.  One shuffle; cache the result before
    iterating."""
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(ws_tokens(text_col)).alias("tok")
    )
    feats = (
        toks.select("_id", F.pmod(F.xxhash64("tok"), F.lit(dim)).alias("slot"))
        .groupBy("_id", "slot")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    bias = df.select(
        F.col(id_col).alias("_id"),
        F.lit(_BIAS).cast("bigint").alias("slot"),
        F.lit(1).cast("bigint").alias("k"),
    )
    return feats.unionByName(bias)


def _logits(feats: DataFrame, w_micro: DataFrame) -> DataFrame:
    """(_id, logit_micro): integer dot product against the broadcast
    quantized weight table; slots with zero weight drop out of the
    join and contribute exactly 0."""
    return (
        feats.join(F.broadcast(w_micro), "slot")
        .groupBy("_id")
        .agg(F.sum(F.col("k") * F.col("w_micro")).alias("logit_micro"))
    )


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
    iterations: int = 30,
    lr: float = 0.5,
) -> np.ndarray:
    """Batch-GD logistic regression on hashed features against a
    boolean ``label_col``.  Returns the weight vector (``dim`` slots +
    intercept at index ``dim``).  Deterministic on any engine or
    partitioning: both corpus-sized sums are integer."""
    spark = df.sparkSession
    feats = hashed_features(df, id_col, text_col, dim).persist()
    labels = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("int").alias("y"),
    )
    n = labels.count()
    w = np.zeros(dim + 1, dtype=np.float64)
    try:
        for _ in range(iterations):
            wm = [
                (int(s), int(math.floor(w[s] * MICRO + 0.5)))
                for s in range(dim)
                if w[s] != 0.0
            ]
            wm.append((_BIAS, int(math.floor(w[dim] * MICRO + 0.5))))
            w_micro = spark.createDataFrame(
                wm, "slot bigint, w_micro bigint"
            )
            # residual quantized ROW-LOCALLY -> per-slot integer sums
            resid = (
                labels.join(_logits(feats, w_micro), "_id", "left")
                .select(
                    "_id",
                    F.floor(
                        (
                            F.lit(1.0)
                            / (
                                F.lit(1.0)
                                + F.exp(
                                    -F.coalesce(F.col("logit_micro"), F.lit(0))
                                    / F.lit(float(MICRO))
                                )
                            )
                            - F.col("y")
                        )
                        * MICRO
                        + F.lit(0.5)
                    )
                    .cast("long")
                    .alias("r_micro"),
                )
            )
            grad = (
                feats.join(resid, "_id")
                .groupBy("slot")
                .agg(F.sum(F.col("k") * F.col("r_micro")).alias("g_micro"))
                .collect()  # bounded: <= dim + 1 rows
            )
            g = np.zeros(dim + 1, dtype=np.float64)
            for row in grad:
                idx = dim if row["slot"] == _BIAS else row["slot"]
                g[idx] = row["g_micro"] / MICRO
            w -= lr * g / n
    finally:
        feats.unpersist()
    return w


def train_one_step_micro(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    lr: float = 1.0,
) -> DataFrame:
    """ONE batch-GD step from ``w = 0`` as a fully distributed,
    SQL-expressible dataflow — returns the quantized weight TABLE
    ``(slot, w_micro)`` with zero-weight slots dropped, never
    collecting anything but the label count.

    Why this is engine-exact end to end (the device that makes the
    scoring path oracle-backable, VERDICT r8 #4): at ``w = 0`` every
    logit is exactly 0 and sigmoid(0) = 1/2, so the residual is the
    INTEGER ``500000 - 1000000 * y`` micro-units — no exp/ln anywhere.
    The per-slot gradient is then an integer sum, and the single float
    step ``w_micro = floor(-lr * g_micro / n + 0.5)`` uses only IEEE
    double multiply/divide, which ARE correctly rounded (unlike libm
    ln/exp), so Spark and DuckDB produce identical weights bit for
    bit.  Further GD iterations need sigmoid at nonzero logits and
    stay in :func:`train_quality_classifier` (rows-only + pytest
    gates); this one-step form is the standard distillation
    initialization and exercises the identical feature/gradient/score
    dataflow.

    Physical shape (r12, guide §2.3/§2.4): the old form built per-doc
    feature vectors and JOINED them to a per-doc residual table on the
    doc id — a corpus-token-sized shuffle join plus a (doc, slot)
    exchange, and four full evaluations of ``df`` (features, bias,
    residuals, n).  But the gradient never needs the per-doc
    structure: ``sum over (doc,slot) of k * r  ==  sum over token
    OCCURRENCES of r`` (k identical integer terms), so the residual is
    now CARRIED on the exploded token row and aggregated straight to
    the slot — one corpus pass, one 1025-key exchange fed by map-side
    partials, no join.  The bias gradient and n are one 1-row agg
    (staged once; it feeds both the bias row and the broadcast
    divisor).  Weights are bit-identical: the same integers reach the
    same float expression."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )

    r_expr = (
        F.lit(MICRO // 2) - F.col(label_col).cast("long") * F.lit(MICRO)
    ).alias("r_micro")
    # token-occurrence stream with the residual carried on the row
    occ = df.select(
        F.explode(F.filter(tokens(text_col), lambda w: w != "")).alias(
            "_tok"
        ),
        r_expr,
    ).select(
        F.pmod(hash48(F.col("_tok")), F.lit(dim)).alias("slot"), "r_micro"
    )
    grad_tok = occ.groupBy("slot").agg(F.sum("r_micro").alias("g_micro"))
    # one 1-row pass for (bias gradient, n), materialized once so its
    # two consumers don't each re-run the corpus agg
    bn = df.agg(
        F.sum(r_expr).alias("g_bias"), F.count(F.lit(1)).alias("_n")
    ).localCheckpoint(eager=True)
    grad = grad_tok.unionByName(
        bn.select(
            F.lit(_BIAS).cast("bigint").alias("slot"),
            F.col("g_bias").alias("g_micro"),
        )
    )
    return (
        grad.crossJoin(F.broadcast(bn.select("_n")))
        .select(
            "slot",
            F.floor(
                F.lit(-lr) * F.col("g_micro") / F.col("_n") + F.lit(0.5)
            )
            .cast("long")
            .alias("w_micro"),
        )
        .filter(F.col("w_micro") != 0)
    )


def score_quality_micro(
    df: DataFrame,
    w_micro: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
) -> DataFrame:
    """Score with a quantized weight TABLE (from
    :func:`train_one_step_micro`): ``(id_col, logit_micro, pred)`` —
    the integer dot product against the broadcast weights plus its
    sign, both engine-exact (the float sigmoid column is deliberately
    absent; :func:`score_quality` has it for the trained-weights
    path).  Broadcast join + one doc-keyed hash agg, no collect.

    Physical shape (r12, guide §2.3): no per-(doc, slot) feature agg —
    each token OCCURRENCE probes the broadcast weight hash directly
    (sum of w over occurrences == sum of k * w, identical integers)
    and the map-side partial agg collapses to one row per doc before
    the only exchange.  The old form's extra (doc, slot) exchange
    carried |doc x distinct-slot| rows; this one carries |docs|.  The
    bias row per doc keeps zero-token docs alive, exactly as before.
    LEFT join so untrained slots contribute 0 (the r12 device that
    removed the third scan of ``df``)."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )

    occ = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.filter(tokens(text_col), lambda w: w != "")).alias(
            "_tok"
        ),
    ).select("_id", F.pmod(hash48(F.col("_tok")), F.lit(dim)).alias("slot"))
    bias = df.select(
        F.col(id_col).alias("_id"),
        F.lit(_BIAS).cast("bigint").alias("slot"),
    )
    return (
        occ.unionByName(bias)
        .join(F.broadcast(w_micro), "slot", "left")
        .groupBy("_id")
        .agg(
            F.sum(F.coalesce(F.col("w_micro"), F.lit(0))).alias(
                "logit_micro"
            )
        )
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("logit_micro"), F.lit(0))
            .cast("long")
            .alias("logit_micro"),
            (F.coalesce(F.col("logit_micro"), F.lit(0)) >= 0).alias("pred"),
        )
    )


def score_quality(
    df: DataFrame,
    w: np.ndarray,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
) -> DataFrame:
    """Score docs with a trained weight vector: (id_col, logit_micro,
    prob, pred).  ``logit_micro`` is the engine-exact integer dot
    product; ``prob`` is its sigmoid rounded to 6 dp, ``pred`` the
    0.5 threshold (logit >= 0)."""
    spark = df.sparkSession
    wm = [
        (int(s), int(math.floor(float(w[s]) * MICRO + 0.5)))
        for s in range(dim)
        if w[s] != 0.0
    ]
    wm.append((_BIAS, int(math.floor(float(w[dim]) * MICRO + 0.5))))
    w_micro = spark.createDataFrame(wm, "slot bigint, w_micro bigint")
    feats = hashed_features(df, id_col, text_col, dim)
    logits = _logits(feats, w_micro)
    all_docs = df.select(F.col(id_col).alias("_id"))
    return (
        all_docs.join(logits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("logit_micro"), F.lit(0))
            .cast("long")
            .alias("logit_micro"),
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -F.coalesce(F.col("logit_micro"), F.lit(0))
                        / F.lit(float(MICRO))
                    )
                ),
                6,
            ).alias("prob"),
            (F.coalesce(F.col("logit_micro"), F.lit(0)) >= 0).alias("pred"),
        )
    )
