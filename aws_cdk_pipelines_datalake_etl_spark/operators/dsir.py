"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023) re-expressed as a Catalyst dataflow.

Given a RAW corpus and a small TARGET-domain subset, DSIR scores every
raw document by the log importance ratio ``log p_target(x) / p_raw(x)``
under two hashed bag-of-n-gram unigram models, then resamples the raw
corpus toward the target distribution by taking the highest-weight
documents.  The published method uses hashed unigram+bigram features
(10k buckets) and Gumbel-top-k resampling; here the scoring path is
EXACT and engine-portable, and the resample step is deterministic
top-k (the Gumbel noise seam is documented on
:func:`dsir_topk` — noise injection changes ranking only, not the
weights, so the oracle-verified surface is the whole scoring model).

Why this is engine-exact (the langid/classifier device):

* features are ``slot = hash48(gram) % dim`` — the portable 48-bit
  md5-prefix hash DuckDB replays verbatim
  (``('0x' || substr(md5(g), 1, 12))::BIGINT``);
* both bucket models are add-one-smoothed multinomials whose log
  probabilities are only ever taken of INTEGERS (``ln(ct+1)``,
  ``ln(Ct+dim)``), quantized to integer micro-nats
  (``floor(ln(x) * 1e6 + 0.5)``) exactly as ``operators/langid.py``
  does, so the per-document weight

      w(d) = sum_b k_b * [ln(ct_b+1) - ln(cr_b+1)]
             - K_d * [ln(Ct+dim) - ln(Cr+dim)]

  is a pure bigint sum — identical under any partitioning, and
  identical between Spark and a DuckDB oracle that retrains both
  models in SQL (``tests/test_dsir.py`` pins the driver-built lambda
  table against the DuckDB-retrained one value-for-value, the ADVICE
  r8 ln-boundary safeguard).

Plan shape (the 100 TB story): one documents scan materializes the
token array, a Generate+Project fan-out emits unigram+bigram
occurrences (never a higher-order lambda over the tokenization chain —
the HOF-inlining lesson, SCALE.md), one hash agg builds the per-(doc,
slot) count table; the bucket model is a second ≤``dim``-row hash agg
collected to the driver (bounded control data, like the classifier
gradient), re-broadcast as the lambda table; scoring is a broadcast
LEFT join plus ONE per-doc hash agg.  Nothing doc-proportional is
ever collected; top-k is ``TakeOrderedAndProject`` (per-partition
heads, no global sort).

No reference-parity citation: the reference (aws-samples
aws-cdk-pipelines-datalake-etl) has no data-selection surface; Tier-E
LLM-corpus toolkit (SURVEY.md §2.6/§6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _micro_ln(x: int) -> int:
    """floor(ln(x) * 1e6 + 0.5) — ln of an INTEGER only, the langid
    quantization contract (both engines hand the same integer to the
    same libm)."""
    return int(math.floor(math.log(x) * MICRO + 0.5))


def _gram_occurrences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: tuple[str, ...] = (),
    keep_empty: bool = False,
) -> DataFrame:
    """Unigram + bigram occurrences ``(_id, *extra, gram)`` via
    Generate+Project: the token array is materialized BEFORE the
    explode so the split/lower chain runs once per document, not once
    per gram.  Tokenization contract: single-space split of the
    lowercased text, empties dropped (mirrors DuckDB
    ``list_filter(string_split(lower(text), ' '), w -> w != '')``).

    Index i runs 1..2n-1: i <= n yields unigram ``w[i]``; i > n yields
    bigram ``w[i-n] || ' ' || w[i-n+1]`` (n-1 of them).  A doc with n
    tokens therefore emits exactly 2n-1 grams (n >= 1).

    ``keep_empty=True`` (r12) emits ONE NULL-gram row for each
    zero-token doc via ``explode_outer`` (the ``bigram_logprob``
    device) so downstream keyed aggregations keep those docs without a
    separate corpus pass; NULL-text docs stay dropped, exactly as
    before."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        tokens,
    )

    toks = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in extra_cols],
        F.filter(tokens(text_col), lambda w: w != "").alias("_w"),
    ).select(
        "_id", *extra_cols, "_w", F.size("_w").alias("_n")
    )
    seq = F.sequence(F.lit(1), 2 * F.col("_n") - 1)
    if keep_empty:
        fanned = toks.filter(F.col("_n") >= 0).select(
            "_id",
            *extra_cols,
            "_w",
            "_n",
            F.explode_outer(F.when(F.col("_n") >= 1, seq)).alias("i"),
        )
    else:
        fanned = toks.filter(F.col("_n") >= 1).select(
            "_id", *extra_cols, "_w", "_n", F.explode(seq).alias("i")
        )
    return fanned.select(
        "_id",
        *extra_cols,
        F.expr(
            "CASE WHEN i <= _n THEN _w[i - 1] "
            "ELSE concat(_w[i - _n - 1], ' ', _w[i - _n]) END"
        ).alias("gram"),
    )


def _hashed_gram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    dim: int,
    keep_empty: bool = False,
) -> DataFrame:
    """Per-(doc, slot) feature counts ``(_id, _tgt, slot, k)`` with
    ``slot = hash48(gram) % dim`` (hash48 is < 2^48, so ``%`` == pmod
    on both engines)."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
    )

    occ = _gram_occurrences(
        df, id_col, text_col, extra_cols=("_tgt",), keep_empty=keep_empty
    )
    return (
        occ.select(
            "_id",
            "_tgt",
            F.pmod(hash48(F.col("gram")), F.lit(dim)).alias("slot"),
        )
        .groupBy("_id", "_tgt", "slot")
        # count("slot") not count(1): a keep_empty NULL-slot row (the
        # zero-token doc) aggregates to k=0 so it never counts as a gram
        .agg(F.count("slot").cast("bigint").alias("k"))
    )


def dsir_feature_counts(
    df: DataFrame,
    target_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
) -> DataFrame:
    """The STAGEABLE per-(doc, slot) feature table
    ``(_id, _tgt, slot, k)`` — the one expensive artifact in the DSIR
    flow (gram fan-out + (doc, slot) hash agg), consumed by BOTH the
    model aggregation and the scoring join.

    This is the 100 TB staging seam (VERDICT r9 #2): materialize this
    table to parquet once, then pass it to ``dsir_weights(feats=...)``
    so neither consumer re-runs the fan-out.  Without ``feats=``,
    :func:`dsir_weights` does the equivalent in-session via an eager
    ``localCheckpoint``."""
    base = df.select(
        F.col(id_col).alias("_id"),
        target_expr.cast("boolean").alias("_tgt"),
        F.col(text_col).alias("_text"),
    )
    return _hashed_gram_counts(base, "_id", "_text", "_tgt", dim)


def dsir_batch_counts(
    df: DataFrame,
    target_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
) -> DataFrame:
    """One corpus batch's additive model contribution
    ``(slot, ct, cr)`` — feature-hash + one slot-keyed agg, <= dim
    rows.  Feed batches to :func:`merge_bucket_counts` and the merged
    table to ``dsir_weights(counts=...)``."""
    base = df.select(
        F.col(id_col).alias("_id"),
        target_expr.cast("boolean").alias("_tgt"),
        F.col(text_col).alias("_text"),
    )
    return dsir_bucket_counts(
        _hashed_gram_counts(base, "_id", "_text", "_tgt", dim)
    )


def dsir_bucket_counts(feats: DataFrame) -> DataFrame:
    """The ADDITIVE model state: per-slot target/raw counts
    ``(slot, ct, cr)`` — <= dim rows.  Additivity is what makes DSIR
    incrementally maintainable: counts from disjoint corpus batches
    merge by plain summation (:func:`merge_bucket_counts`), and the
    merged model is BIT-IDENTICAL to retraining on the union (the
    ``corpus_dsir_incremental`` registry entry proves it against the
    direct-form oracle).  In a persisted deployment this tiny table is
    the model checkpoint a daily ingest updates."""
    return feats.groupBy("slot").agg(
        F.sum(F.when(F.col("_tgt"), F.col("k")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(~F.col("_tgt"), F.col("k")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("cr"),
    )


def merge_bucket_counts(parts: list[DataFrame]) -> DataFrame:
    """Sum per-slot counts across batch count tables (all <= dim
    rows) — the incremental-maintenance merge."""
    if not parts:
        raise ValueError("merge_bucket_counts needs at least one part")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("slot").agg(
        F.sum("ct").cast("bigint").alias("ct"),
        F.sum("cr").cast("bigint").alias("cr"),
    )


def _model_from_count_rows(rows, dim: int) -> tuple[list[tuple[int, int]], int]:
    big_ct = sum(r["ct"] for r in rows)
    big_cr = sum(r["cr"] for r in rows)
    lam = [
        (int(r["slot"]), _micro_ln(r["ct"] + 1) - _micro_ln(r["cr"] + 1))
        for r in sorted(rows, key=lambda r: r["slot"])
        if r["ct"] != r["cr"]
    ]
    const_micro = _micro_ln(big_ct + dim) - _micro_ln(big_cr + dim)
    return lam, const_micro


def train_dsir_model(
    feats: DataFrame, dim: int
) -> tuple[list[tuple[int, int]], int]:
    """Bucket log-ratio table from the feature counts: returns
    ``(lam_rows, const_micro)`` where ``lam_rows`` is
    ``[(slot, lam_micro)]`` for every slot with ct != cr (equal-count
    slots have lambda exactly 0 and are dropped — they contribute
    nothing to the matched sum), and ``const_micro`` is the smoothing
    denominator difference ``micro_ln(Ct+dim) - micro_ln(Cr+dim)``.

    The agg output is <= ``dim`` rows — bounded control data (the
    classifier-gradient precedent), the ONLY collect in the flow."""
    return _model_from_count_rows(dsir_bucket_counts(feats).collect(), dim)


def dsir_weights(
    df: DataFrame,
    target_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
    counts: DataFrame | None = None,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Importance log-weights for every document.

    ``target_expr`` is a boolean Column marking the TARGET-domain
    docs (e.g. ``F.col('source').isin('src0', 'src1')``); everything
    else is the raw pool.  Both models train on the same pass.

    Output: ``(doc_id, is_target boolean, n_grams int,
    weight_micro bigint)`` — ``weight_micro`` is the integer micro-nat
    log importance ratio; zero-token docs carry weight 0.

    The feature table is consumed twice (model agg, then scoring), so
    it is computed once (VERDICT r9 #2): either passed in as ``feats=``
    (a pre-staged :func:`dsir_feature_counts` table — parquet at
    100 TB; the fan-out never runs here), or staged in-session with an
    eager ``localCheckpoint``.  ``localCheckpoint`` rather than
    ``persist()``: a persisted plan is shared across repeated
    identical calls, so bench re-runs would time a cache hit.  With
    ``counts=`` the model side never scans the features, so they are
    not staged."""
    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("_id"),
        target_expr.cast("boolean").alias("_tgt"),
        F.col(text_col).alias("_text"),
    )

    internal_feats = feats is None
    if feats is None:
        # keep_empty (r12): zero-token docs ride the feature table as
        # one k=0 NULL-slot row each, so the old third corpus pass
        # (re-scan + tokenize just to union the empties back) is gone
        feats = _hashed_gram_counts(
            base, "_id", "_text", "_tgt", dim, keep_empty=True
        )
        if counts is None:
            feats = feats.localCheckpoint(eager=True)
    if counts is None:
        model_feats = (
            feats.filter(F.col("slot").isNotNull())
            if internal_feats
            else feats
        )
        lam_rows, const_micro = train_dsir_model(model_feats, dim)
    else:
        # pre-maintained model state (dsir_bucket_counts /
        # merge_bucket_counts) — the incremental path; the scoring
        # side still scans this df's feats, the model side doesn't
        count_rows = counts.collect()
        # ADVICE r9: a count table trained with a different dim would
        # silently skew const_micro and every weight — slots must be
        # in [0, dim).
        bad = [r["slot"] for r in count_rows if not (0 <= r["slot"] < dim)]
        if bad:
            raise ValueError(
                f"counts= table has slots outside [0, {dim}) "
                f"(e.g. {bad[:3]}); was it trained with a different dim?"
            )
        lam_rows, const_micro = _model_from_count_rows(count_rows, dim)
    lam_df = spark.createDataFrame(
        lam_rows or [(-1, 0)], "slot bigint, lam bigint"
    )

    scored = (
        feats.join(F.broadcast(lam_df), "slot", "left")
        .groupBy("_id", "_tgt")
        .agg(
            F.sum("k").cast("bigint").alias("_kd"),
            F.sum(F.col("k") * F.coalesce(F.col("lam"), F.lit(0)))
            .cast("bigint")
            .alias("_s"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_tgt").alias("is_target"),
            F.col("_kd").cast("int").alias("n_grams"),
            (F.col("_s") - F.col("_kd") * F.lit(const_micro))
            .cast("bigint")
            .alias("weight_micro"),
        )
    )
    if internal_feats:
        # zero-token docs already ride the feature table as k=0 rows
        # (keep_empty above): they aggregate to (0 grams, weight 0)
        # without another corpus pass
        return scored
    # pre-staged feats= tables carry no empty-doc rows: union the
    # zero-token docs back with weight 0 (ln-ratio of an empty
    # product), the langid empty-branch device.
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        tokens,
    )

    empty = base.filter(
        F.size(F.filter(tokens("_text"), lambda w: w != "")) == 0
    ).select(
        F.col("_id").alias(id_col),
        F.col("_tgt").alias("is_target"),
        F.lit(0).cast("int").alias("n_grams"),
        F.lit(0).cast("bigint").alias("weight_micro"),
    )
    return scored.unionByName(empty)


def dsir_topk(
    weights: DataFrame,
    k: int,
    include_target: bool = False,
) -> DataFrame:
    """Deterministic DSIR selection: the k raw-pool documents with the
    highest importance weight (ties broken by doc_id so the choice is
    total-ordered).  ``orderBy(...).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — per-partition top-k heads merged on
    the driver, no global sort, the scalable form.

    The published method resamples with Gumbel noise
    (``argtop_k(w_i + g_i)``); that seam is a one-line change here
    (add a hash-derived Gumbel column to the sort key) and is left
    OUT of the exact path on purpose: noise perturbs only the
    selection, not the oracle-verified weights."""
    pool = weights if include_target else weights.filter(~F.col("is_target"))
    return pool.orderBy(
        F.col("weight_micro").desc(), F.col("doc_id").asc()
    ).limit(k)


#: hash48 range: the uniform draw u = (h + 1) / (2^48 + 1) lies
#: strictly inside (0, 1), so -ln(-ln(u)) is always finite.
_H48_RANGE = float((1 << 48) + 1)


def dsir_gumbel_topk(
    weights: DataFrame,
    k: int,
    include_target: bool = False,
    tag: str = "g",
) -> DataFrame:
    """The PUBLISHED DSIR resampling step (Xie et al. 2023 §2 use
    Gumbel-top-k: ``argtop_k(w_i + g_i)``, which samples k documents
    without replacement proportionally to softmax(w)): each document
    draws a deterministic Gumbel from the portable hash —

        u = (hash48(doc_id || ':g') + 1) / (2^48 + 1)   in (0, 1)
        g = -ln(-ln(u))

    quantized to integer micro-nats and added to ``weight_micro``; the
    top-k by the perturbed key is the sample.  Because the draw is a
    pure function of doc_id, the sample is engine/partition/retry
    exact, and the whole expression (two lns over IEEE-exact inputs)
    is replayed by the DuckDB oracle — the same correctly-rounded-ops
    argument as the BM25 idf.  ``dsir_topk`` remains the noise-free
    argmax twin.

    Output adds ``gumbel_micro`` and ``key_micro`` evidence columns;
    plan is the weights flow + TakeOrderedAndProject."""
    pool = weights if include_target else weights.filter(~F.col("is_target"))
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
    )

    u = (
        hash48(
            F.concat(F.col("doc_id").cast("string"), F.lit(":" + tag))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(_H48_RANGE)
    gumbel_micro = F.floor(-F.log(-F.log(u)) * F.lit(float(MICRO)) + F.lit(0.5)).cast(
        "bigint"
    )
    keyed = pool.withColumn("gumbel_micro", gumbel_micro).withColumn(
        "key_micro", F.col("weight_micro") + F.col("gumbel_micro")
    )
    return keyed.orderBy(
        F.col("key_micro").desc(), F.col("doc_id").asc()
    ).limit(k)


def dsir_gumbel_topk_stratified(
    weights: DataFrame,
    k_per_source: int | dict[str, int],
    source_col: str = "source",
    include_target: bool = False,
    tag: str = "g",
) -> DataFrame:
    """Per-source Gumbel-top-k (round 10, VERDICT r9 #6): the
    published pipeline often RESAMPLES WITHIN EACH SOURCE so the
    selected corpus preserves a chosen mixture instead of letting one
    dominant source swallow the global budget; this is the
    :func:`dsir_gumbel_topk` draw (same hash-derived, engine-exact
    Gumbel key) ranked inside each source partition.

    ``weights`` must carry ``source_col`` — either join the
    :func:`dsir_weights` output back to the corpus on ``doc_id``
    (doc-keyed co-partitioned join, the registry-entry shape) or
    pre-stage a weights table that kept the column.  ``k_per_source``
    is one budget for every source (int) or a per-source dict — e.g.
    the ``n_select`` column of
    ``operators/sampling.py:token_weighted_mixture_plan``, which
    computes exactly this budget; unlisted sources get 0.

    Output: the sampled rows plus ``gumbel_micro``/``key_micro``
    evidence and ``sel_rank`` (1-based rank within the source).  Plan:
    ONE shuffle by source + a bounded window (sources are a small
    driver-known set; per-source partitions are corpus-sized but the
    window state is a running count, not a buffer)."""
    from pyspark.sql import Window

    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
    )

    pool = weights if include_target else weights.filter(~F.col("is_target"))
    u = (
        hash48(
            F.concat(F.col("doc_id").cast("string"), F.lit(":" + tag))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(_H48_RANGE)
    gumbel_micro = F.floor(
        -F.log(-F.log(u)) * F.lit(float(MICRO)) + F.lit(0.5)
    ).cast("bigint")
    keyed = pool.withColumn("gumbel_micro", gumbel_micro).withColumn(
        "key_micro", F.col("weight_micro") + F.col("gumbel_micro")
    )
    win = Window.partitionBy(source_col).orderBy(
        F.col("key_micro").desc(), F.col("doc_id").asc()
    )
    ranked = keyed.withColumn("sel_rank", F.row_number().over(win))
    if isinstance(k_per_source, dict):
        if not k_per_source:
            raise ValueError("k_per_source dict must not be empty")
        budget = F.coalesce(
            F.create_map(
                *[
                    x
                    for s, n in sorted(k_per_source.items())
                    for x in (F.lit(s), F.lit(int(n)))
                ]
            )[F.col(source_col)],
            F.lit(0),
        )
    else:
        budget = F.lit(int(k_per_source))
    return ranked.filter(F.col("sel_rank") <= budget)
