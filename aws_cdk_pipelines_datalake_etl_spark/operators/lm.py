"""N-gram language-model training and scoring — the CCNet-style
quality signal of a pretraining-corpus pipeline.

A bigram model with *stupid backoff* (Brants et al. 2007, "Large
Language Models in Machine Translation"):

    p(w2 | w1) = C(w1 w2) / C(w1)                 if C(w1 w2) > 0
               = 0.4 * (C(w2) + 1) / (T + V)      otherwise

where C are counts over the TRAINING split, T the training token
total and V the training vocabulary size.  The add-one on the
backoff unigram keeps out-of-vocabulary tokens finite without a
separate OOV symbol, and every probability is a ratio of exact
integers — so the only non-portable primitive is the final ``ln``,
handled with the repo's integer micro-nat quantization
(sum bigints, divide once; see ``functions/rounding.py``).

Scale posture: training is two hash aggregations over one exploded
token stream (map-side partials; the bigram explode is row-local
``slice``+``arrays_zip``, no window).  Scoring joins the scored
stream against the model tables on the n-gram key — vocabulary-sized
sides that AQE broadcasts while they fit and shuffles by key once
they don't.  Nothing is collected to the driver.

The classic use downstream is CCNet's perplexity bucketing: rank the
corpus by model score and split into head/middle/tail terciles
(``perplexity_buckets``), which a curation pipeline samples at
different rates.

No reference-parity citation: the reference (aws-samples
aws-cdk-pipelines-datalake-etl) has no LM surface; Tier-E LLM-corpus
toolkit (SURVEY.md §2.6/§6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import tokens

MICRO = 1_000_000
BACKOFF = 0.4


def _bigrams(text_col: str) -> Column:
    """Row-local bigram structs of the whitespace token stream.

    ``slice`` + ``arrays_zip`` instead of a positional self-join or a
    lead() window: no shuffle, no per-doc window state — a document's
    bigrams never leave its row until the explode.
    """
    t = tokens(text_col)
    n = F.size(t)
    return F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(t, F.lit(1), n - 1).alias("w1"),
            F.slice(t, F.lit(2), n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", stage: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables of the bigram LM: ``(bigrams, unigrams, totals)``.

    - ``bigrams``: (w1, w2, c2)
    - ``unigrams``: (w, c1)
    - ``totals``: one row (t_tokens, v_vocab)

    One persisted-model deployment writes the first two bucketed by
    their join keys; here they stay DataFrames.

    ``stage=True`` materializes the two count tables once (eager
    ``localCheckpoint``).  The Kneser-Ney and rho1 callers stage:
    their consumers prune the count subtrees to different columns, so
    AQE reuses no exchange and the corpus explode+agg would re-run per
    consumer (r12/r13).  The stupid-backoff scorers do not: AQE
    already reuses their identically-pruned subtrees, and staging
    measured ~15% slower (r12).
    """
    uni = df.select(F.explode(tokens(text_col)).alias("w"))
    unigrams = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    bigrams = (
        df.select(F.explode(_bigrams(text_col)).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    if stage:
        unigrams = unigrams.localCheckpoint(eager=True)
        bigrams = bigrams.localCheckpoint(eager=True)
    totals = unigrams.agg(
        F.sum("c1").alias("t_tokens"), F.count(F.lit(1)).alias("v_vocab")
    )
    return bigrams, unigrams, totals


def bigram_logprob(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean bigram log-probability of each ``score`` document under
    the model trained on ``train`` (stupid backoff, see module doc).

    Output per scored doc: ``avg_logprob`` (mean micro-quantized
    natural-log probability per bigram), ``n_bigrams``, and
    ``n_backoff`` (bigram occurrences that fell to the unigram
    backoff — the unseen-continuation rate, itself a useful novelty
    signal).  EVERY scored doc gets a row: docs with fewer than 2
    tokens (no bigrams to score) emit NULL ``avg_logprob`` and zero
    counts — via ``explode_outer`` (one NULL-bigram row per short
    doc, aggregated conditionally), NOT a distinct+left-join back,
    so keeping the short docs costs zero extra shuffles (ADVICE r6).
    """
    bigrams, unigrams, totals = train_bigram_lm(train, text_col)

    stream = score.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_bigrams(text_col)).alias("bg"),
    ).select(
        "id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )

    joined = (
        stream.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams.select(F.col("w").alias("w1"), "c1"), "w1", "left")
        .join(
            unigrams.select(
                F.col("w").alias("w2"), F.col("c1").alias("c1_w2")
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    seen = F.col("c2").isNotNull() & F.col("c1").isNotNull()
    p = F.when(seen, F.col("c2") / F.col("c1")).otherwise(
        F.lit(BACKOFF)
        * (F.coalesce(F.col("c1_w2"), F.lit(0)) + F.lit(1))
        / (F.col("t_tokens") + F.col("v_vocab"))
    )
    # A short doc's single explode_outer row has w1 IS NULL: count/sum
    # only real bigrams so it aggregates to (NULL avg, 0, 0).
    real = F.col("w1").isNotNull()
    micro_logp = F.when(
        real, F.floor(F.log(p) * MICRO + F.lit(0.5)).cast("long")
    )
    return (
        joined.withColumn("micro_logp", micro_logp)
        .withColumn("is_backoff", (real & ~seen).cast("long"))
        .groupBy("id")
        .agg(
            F.sum("micro_logp").alias("s"),
            F.count("micro_logp").alias("n_bigrams"),
            F.sum("is_backoff").alias("n_backoff"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("s") / (F.col("n_bigrams") * F.lit(float(MICRO)))).alias(
                "avg_logprob"
            ),
            "n_bigrams",
            "n_backoff",
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    id_col: str = "doc_id",
    logprob_col: str = "avg_logprob",
    n_buckets: int = 3,
    method: str = "ntile",
    boundary_mode: str = "exact",
) -> DataFrame:
    """CCNet-style perplexity terciles: rank docs by model score
    (best = highest mean log-probability = lowest perplexity) and
    label equal-depth buckets 1..n (1 = head, n = tail).

    Two physical forms (VERDICT r6 #5):

    - ``method="ntile"`` — the textbook/exactness form and what the
      oracle states: one global ordering, ties broken on doc id, so
      membership is layout-deterministic.  Its plan is an Exchange to
      a SINGLE partition + sort — fine at test scale, the wrong shape
      for a 100 TB corpus.
    - ``method="cutpoints"`` — the scale form (the repo's q54
      equidepth pattern): the n-1 bucket boundaries come from one
      partial-aggregating percentile pass, are rounded to 6 dp (so
      any engine computes the identical boundary), broadcast as a
      single row, and each doc is labeled ROW-LOCALLY by comparison
      count against the boundaries.  The scored rows never sort and
      never pass through a window (plan-asserted in tests/test_lm.py)
      — the only single-partition exchange is the boundary
      aggregation's final merge of one partial row per partition.
      Determinism bound: docs tied exactly ON a boundary value share
      a bucket (no doc-id tiebreak), and bucket depths are exactly
      equal only when no value straddles a boundary —
      ``tests/test_lm.py`` proves label-for-label equality with
      ntile where quantiles are unambiguous.  NULL scores
      (sub-2-token docs) land in the tail bucket, matching ntile's
      desc-NULLS-LAST ordering.

    ``boundary_mode`` picks the percentile estimator for cutpoints:

    - ``"exact"`` (default) — Spark's exact ``percentile``; engine-
      exact so the DuckDB oracle reproduces it bit-for-bit, but its
      aggregation state is a value->count map, O(distinct scores) in
      the final merge task.  Right up to the point where distinct
      doc scores stop fitting one task's memory.
    - ``"approx"`` — ``approx_percentile`` (Greenwald-Khanna summary,
      state bounded by the accuracy parameter, ~10k entries): the
      true 100 TB form.  Boundaries may differ from exact by at most
      1/accuracy in RANK (so up to N/10000 docs sit in a neighboring
      bucket), and the summary's merge order makes boundaries
      layout-dependent within that bound — document, don't oracle.
    """
    if method == "ntile":
        w = Window.orderBy(F.col(logprob_col).desc(), F.col(id_col).asc())
        return scored.select(
            id_col,
            logprob_col,
            F.ntile(n_buckets).over(w).alias("ppl_bucket"),
        )
    if method != "cutpoints":
        raise ValueError(f"unknown method {method!r}")
    if boundary_mode not in ("exact", "approx"):
        raise ValueError(f"unknown boundary_mode {boundary_mode!r}")
    # The cutpoints form consumes ``scored`` twice (boundary agg +
    # label join), so it is staged once rather than evaluating the
    # upstream scoring pipeline twice.  The ntile branch consumes it
    # once: no staging.
    scored = scored.localCheckpoint(eager=True)
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    fn = "percentile" if boundary_mode == "exact" else "approx_percentile"
    extra = "" if boundary_mode == "exact" else ", 10000"
    bounds = scored.agg(
        F.expr(
            f"transform({fn}({logprob_col}, array({qs}){extra}),"
            " b -> round(b, 6))"
        ).alias("bounds")
    )
    bucket = F.lit(1) + F.expr(
        "aggregate(bounds, 0, (acc, b) ->"
        f" acc + CASE WHEN {logprob_col} < b THEN 1 ELSE 0 END)"
    )
    return (
        scored.join(F.broadcast(bounds))
        .select(
            id_col,
            logprob_col,
            F.when(F.col(logprob_col).isNull(), F.lit(n_buckets))
            .otherwise(bucket)
            .cast("int")
            .alias("ppl_bucket"),
        )
    )


#: Kneser-Ney absolute discount.  3/4 is EXACTLY representable in
#: binary floating point, so ``c - D`` and ``D * x`` stay correctly
#: rounded single operations on both engines.
KN_DISCOUNT = 0.75


def train_kneser_ney_lm(
    df: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Count tables of the interpolated Kneser-Ney bigram LM (Kneser &
    Ney 1995; the interpolated form of Chen & Goodman 1999):
    ``(bigrams, ctx, cont, totals)``:

    - ``bigrams``: (w1, w2, c2) — bigram counts;
    - ``ctx``: per context w1: ``ctx_total`` = sum of its bigram
      counts and ``n1p_fwd`` = N1+(w1, .) — distinct continuations
      (the normalizer of the discount mass);
    - ``cont``: per word w2: ``n1p_bwd`` = N1+(., w2) — distinct left
      contexts (the continuation-probability numerator: how many
      *novel* contexts the word completes, not how often it occurs);
    - ``totals``: one row (n_bigram_types, v_vocab).

    ``ctx`` and ``cont`` both derive from the bigram table (two cheap
    aggs of an already-aggregated, vocabulary-bounded input).  The
    bigram/unigram tables are staged: each consumer prunes them to
    different columns, so AQE reuses no exchange and unstaged the
    corpus explode+agg re-ran per consumer (r12: staging won 2.5x at
    sf1)."""
    bigrams, unigrams, _ = train_bigram_lm(df, text_col, stage=True)
    ctx = bigrams.groupBy("w1").agg(
        F.sum("c2").alias("ctx_total"),
        F.count(F.lit(1)).alias("n1p_fwd"),
    )
    cont = bigrams.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    totals = bigrams.agg(F.count(F.lit(1)).alias("n_bigram_types")).crossJoin(
        unigrams.agg(F.count(F.lit(1)).alias("v_vocab"))
    )
    return bigrams, ctx, cont, totals


def kneser_ney_logprob(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean interpolated-Kneser-Ney bigram log-probability of each
    ``score`` document under the model trained on ``train``:

        p(w2 | w1) = max(c(w1 w2) - D, 0) / c(w1 .)
                     + D * N1+(w1, .) / c(w1 .) * Pcont(w2)
        Pcont(w2)  = (N1+(., w2) + 1) / (N1+(., .) + V)

    with D = 0.75.  The add-one on the continuation distribution is
    the same OOV device the stupid-backoff twin uses: unseen words
    get a small finite probability without a reserved symbol (a
    documented deviation from the textbook form, which leaves OOV
    undefined).  An unseen CONTEXT backs off to Pcont(w2) alone.

    Engine-exactness: every input to the probability is an exact
    integer, D is binary-representable, and the expression tree below
    is replicated operation-for-operation in the DuckDB oracle — IEEE
    multiply/divide/subtract are correctly rounded, so both engines
    feed bit-identical doubles into the one ``ln``, micro-quantized
    per bigram BEFORE the order-independent bigint sum (the
    ``bigram_logprob`` contract).

    Output per scored doc: ``avg_logprob``, ``n_bigrams``,
    ``n_unseen_ctx`` (occurrences whose context never appeared in
    training — full backoff), ``n_novel`` (seen context, unseen
    continuation — the discount-mass path).  Docs with < 2 tokens get
    a NULL-avg row via the same ``explode_outer`` device.

    Scale posture: identical to ``bigram_logprob`` — model tables are
    vocabulary-bounded join sides (AQE broadcasts while they fit),
    the scored stream explodes row-locally and aggregates once."""
    bigrams, ctx, cont, totals = train_kneser_ney_lm(train, text_col)

    stream = score.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_bigrams(text_col)).alias("bg"),
    ).select(
        "id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )

    joined = (
        stream.join(bigrams, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(totals))
    )
    d = F.lit(KN_DISCOUNT)
    pcont = (
        (F.coalesce(F.col("n1p_bwd"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("n_bigram_types") + F.col("v_vocab")).cast("double")
    )
    ctx_seen = F.col("ctx_total").isNotNull()
    p_seen_ctx = (
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d, F.lit(0.0)
        )
        / F.col("ctx_total").cast("double")
        + d * F.col("n1p_fwd").cast("double")
        / F.col("ctx_total").cast("double")
        * pcont
    )
    p = F.when(ctx_seen, p_seen_ctx).otherwise(pcont)

    real = F.col("w1").isNotNull()
    micro_logp = F.when(
        real, F.floor(F.log(p) * MICRO + F.lit(0.5)).cast("long")
    )
    return (
        joined.withColumn("micro_logp", micro_logp)
        .withColumn("is_unseen_ctx", (real & ~ctx_seen).cast("long"))
        .withColumn(
            "is_novel",
            (real & ctx_seen & F.col("c2").isNull()).cast("long"),
        )
        .groupBy("id")
        .agg(
            F.sum("micro_logp").alias("s"),
            F.count("micro_logp").alias("n_bigrams"),
            F.sum("is_unseen_ctx").alias("n_unseen_ctx"),
            F.sum("is_novel").alias("n_novel"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("s") / (F.col("n_bigrams") * F.lit(float(MICRO)))).alias(
                "avg_logprob"
            ),
            "n_bigrams",
            "n_unseen_ctx",
            "n_novel",
        )
    )


def _trigrams(text_col: str) -> Column:
    """Row-local trigram structs of the whitespace token stream —
    the :func:`_bigrams` device widened one slot (slice+arrays_zip:
    no shuffle, no window; a doc's trigrams never leave its row
    until the explode)."""
    t = tokens(text_col)
    n = F.size(t)
    return F.when(
        n >= 3,
        F.arrays_zip(
            F.slice(t, F.lit(1), n - 2).alias("w1"),
            F.slice(t, F.lit(2), n - 2).alias("w2"),
            F.slice(t, F.lit(3), n - 2).alias("w3"),
        ),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
    )


def train_trigram_lm(
    df: DataFrame, text_col: str = "text", stage: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Count tables of the trigram stupid-backoff LM:
    ``(trigrams, bigrams, unigrams, totals)`` — the bigram tables are
    :func:`train_bigram_lm`'s (the corpus is exploded once more for
    the trigram level only).  ``stage`` is passed through to
    :func:`train_bigram_lm` (rho1 stages, the trigram scorer does
    not).  The trigram table itself has exactly ONE consumer, so it is
    never checkpointed — staging a single-use table buys nothing and
    costs a materialization."""
    bigrams, unigrams, totals = train_bigram_lm(df, text_col, stage=stage)
    trigrams = (
        df.select(F.explode(_trigrams(text_col)).alias("tg"))
        .select("tg.w1", "tg.w2", "tg.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    return trigrams, bigrams, unigrams, totals


def trigram_logprob(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean trigram log-probability under stupid backoff (Brants et
    al. 2007 — the exact scheme web-scale MT used at Google, designed
    for distributed count tables):

        S(w3 | w1 w2) = C(w1 w2 w3) / C(w1 w2)          if C3 > 0
                      = 0.4 * C(w2 w3) / C(w2)          elif C2 > 0
                      = 0.4^2 * (C(w3) + 1) / (T + V)   otherwise

    (scores, not normalized probabilities — the paper's point is that
    at web scale the backoff weight needs no context-dependent
    normalizer).  Every score is a ratio of exact integers times a
    power of 0.4; the ln is micro-quantized per occurrence (the repo
    convention), so a DuckDB oracle retrains and rescores exactly.

    Output per scored doc: ``(id_col, avg_logprob, n_trigrams,
    n_bo_bigram, n_bo_unigram)`` — the two backoff counters split the
    unseen-continuation mass by how far it fell.  Docs with fewer
    than 3 tokens emit NULL ``avg_logprob`` and zero counts (the
    explode_outer device of :func:`bigram_logprob` — no extra
    shuffle to keep them).

    Scale shape: the score stream explodes once; the model tables are
    vocabulary-bounded aggregates joined on their n-gram keys (AQE
    broadcasts while they fit, shuffles by key once they don't);
    nothing collects to the driver."""
    trigrams, bigrams, unigrams, totals = train_trigram_lm(train, text_col)

    stream = score.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_trigrams(text_col)).alias("tg"),
    ).select(
        "id",
        F.col("tg.w1").alias("w1"),
        F.col("tg.w2").alias("w2"),
        F.col("tg.w3").alias("w3"),
    )
    joined = (
        stream.join(trigrams, ["w1", "w2", "w3"], "left")
        .join(
            bigrams.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2_23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            bigrams.select("w1", "w2", F.col("c2").alias("c2_12")),
            ["w1", "w2"],
            "left",
        )
        .join(
            unigrams.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2")),
            "w2",
            "left",
        )
        .join(
            unigrams.select(F.col("w").alias("w3"), F.col("c1").alias("c1_w3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    lvl3 = F.col("c3").isNotNull() & F.col("c2_12").isNotNull()
    lvl2 = F.col("c2_23").isNotNull() & F.col("c1_w2").isNotNull()
    p = (
        F.when(lvl3, F.col("c3") / F.col("c2_12"))
        .when(lvl2, F.lit(BACKOFF) * F.col("c2_23") / F.col("c1_w2"))
        .otherwise(
            F.lit(BACKOFF * BACKOFF)
            * (F.coalesce(F.col("c1_w3"), F.lit(0)) + F.lit(1))
            / (F.col("t_tokens") + F.col("v_vocab"))
        )
    )
    real = F.col("w1").isNotNull()
    micro_logp = F.when(
        real, F.floor(F.log(p) * MICRO + F.lit(0.5)).cast("long")
    )
    return (
        joined.withColumn("micro_logp", micro_logp)
        .withColumn("bo_bi", (real & ~lvl3 & lvl2).cast("long"))
        .withColumn("bo_uni", (real & ~lvl3 & ~lvl2).cast("long"))
        .groupBy("id")
        .agg(
            F.sum("micro_logp").alias("s"),
            F.count("micro_logp").alias("n_trigrams"),
            F.sum("bo_bi").alias("n_bo_bigram"),
            F.sum("bo_uni").alias("n_bo_unigram"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("s") / (F.col("n_trigrams") * F.lit(float(MICRO)))).alias(
                "avg_logprob"
            ),
            "n_trigrams",
            "n_bo_bigram",
            "n_bo_unigram",
        )
    )


def rho1_token_select(
    train: DataFrame,
    score: DataFrame,
    keep_micro: int = 300_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RHO-1-style selective token scoring (Lin et al. 2024, "Not All
    Tokens Are What You Need"): score every position of a document
    under a STRONG reference model and a WEAK proxy model, and keep —
    per document — the top ``keep_micro``-fraction of positions by
    EXCESS log-probability (reference minus proxy).  Positions the
    reference explains far better than the proxy are the informative
    ones worth spending loss on; positions both models agree about
    are boilerplate.  The published method uses two neural LMs; this
    engine plugs the repo's trigram stupid backoff (Brants 2007) as
    the reference and the add-one unigram as the proxy — the same
    count tables, one extra per-position subtraction, and the SEAM is
    the pair of quantized per-position scores, so neural scores can
    replace them column-for-column.

    Determinism: excess is an integer micro-nat difference; per-doc
    ranking orders by (excess DESC, position ASC) — a total order —
    and ``n_selected = n_scored * keep_micro div 1e6`` (truncating).

    Output per scored doc: ``(id_col, n_scored, n_selected, sel_pos,
    sel_excess_sum_micro)`` — ``sel_pos`` the space-joined 0-based
    trigram positions kept (original order; ``''`` when none),
    ``sel_excess_sum_micro`` their excess sum.  Docs under 3 tokens
    emit ``(0, 0, '', 0)``.

    Scale shape: one posexplode of the scored side; the five model
    joins are vocabulary-bounded (AQE broadcasts while they fit); the
    per-doc top-k cut is one doc-keyed hash aggregation + row-local
    array algebra (r13 — replaced the rank window; winner set proven
    identical, see below).

    The unigram/bigram tables are staged: like Kneser-Ney, rho1's
    consumers prune them differently (renamed join keys vs bare
    counts for ``totals``), so AQE reuses no exchange (r13: staged
    0.93-0.94x at sf1)."""
    if not (0 <= keep_micro <= MICRO):
        raise ValueError("keep_micro must be in [0, 1000000]")
    trigrams, bigrams, unigrams, totals = train_trigram_lm(
        train, text_col, stage=True
    )
    stream = score.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(_trigrams(text_col)).alias("pos", "tg"),
    ).select(
        "id",
        "pos",
        F.col("tg.w1").alias("w1"),
        F.col("tg.w2").alias("w2"),
        F.col("tg.w3").alias("w3"),
    )
    joined = (
        stream.join(trigrams, ["w1", "w2", "w3"], "left")
        .join(
            bigrams.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2_23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            bigrams.select("w1", "w2", F.col("c2").alias("c2_12")),
            ["w1", "w2"],
            "left",
        )
        .join(
            unigrams.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2")),
            "w2",
            "left",
        )
        .join(
            unigrams.select(F.col("w").alias("w3"), F.col("c1").alias("c1_w3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    lvl3 = F.col("c3").isNotNull() & F.col("c2_12").isNotNull()
    lvl2 = F.col("c2_23").isNotNull() & F.col("c1_w2").isNotNull()
    p_ref = (
        F.when(lvl3, F.col("c3") / F.col("c2_12"))
        .when(lvl2, F.lit(BACKOFF) * F.col("c2_23") / F.col("c1_w2"))
        .otherwise(
            F.lit(BACKOFF * BACKOFF)
            * (F.coalesce(F.col("c1_w3"), F.lit(0)) + F.lit(1))
            / (F.col("t_tokens") + F.col("v_vocab"))
        )
    )
    p_proxy = (F.coalesce(F.col("c1_w3"), F.lit(0)) + F.lit(1)) / (
        F.col("t_tokens") + F.col("v_vocab")
    )
    real = F.col("w1").isNotNull()
    q = lambda c: F.floor(F.log(c) * MICRO + F.lit(0.5)).cast("long")  # noqa: E731
    scored = joined.select(
        "id",
        "pos",
        F.when(real, q(p_ref) - q(p_proxy)).alias("excess_micro"),
    )
    # r13 (VERDICT r12 #1): the per-doc top-k cut is ONE hash
    # aggregation + row-local array algebra, not two window passes.
    # The window form shuffled the position stream by doc AND sorted
    # every partition by (id, excess DESC, pos) just to attach a rank
    # that the very next aggregate consumed; here each doc's rows
    # collect into one array (map-side partial ObjectHashAggregate —
    # same single exchange, no Sort/Window operators) and the
    # (excess DESC, pos ASC) order is a row-local ``array_sort`` on
    # struct(-excess, pos) — ascending struct comparison IS the rank
    # order, so element 1..n_sel of the sorted array is exactly the
    # window form's rk <= n_sel set (total order, tie-free).  Winner
    # set, order, and all four outputs are value-identical
    # (tests/test_lm.py proves label-for-label equality; the DuckDB
    # oracle replays the window form).  Unlike the window sort, which
    # spills to disk, each doc's array is built whole in one task's
    # executor memory and cannot spill.  Budget ~100 B per scored
    # position (one buffered row object per element, then the array
    # copy), so a 1M-token doc pins ~100-200 MB of one task's memory:
    # keep docs under ~1M tokens at default executor memory and split
    # longer ones upstream.
    item = F.when(
        F.col("excess_micro").isNotNull(),
        F.struct(
            (-F.col("excess_micro")).alias("neg"),
            F.col("pos").alias("pos"),
        ),
    )
    agged = scored.groupBy("id").agg(
        F.count("excess_micro").cast("bigint").alias("n_scored"),
        F.collect_list(item).alias("_arr"),
    )
    n_sel = f"cast((n_scored * {int(keep_micro)}) div 1000000 as int)"
    picked = agged.withColumn(
        "_sel_arr", F.expr(f"slice(array_sort(_arr), 1, {n_sel})")
    )
    return picked.select(
        F.col("id").alias(id_col),
        "n_scored",
        F.size("_sel_arr").cast("bigint").alias("n_selected"),
        F.array_join(
            F.transform(
                F.array_sort(F.transform("_sel_arr", lambda x: x["pos"])),
                lambda x: x.cast("string"),
            ),
            " ",
        ).alias("sel_pos"),
        F.expr("aggregate(_sel_arr, 0L, (acc, x) -> acc - x.neg)")
        .cast("bigint")
        .alias("sel_excess_sum_micro"),
    )
