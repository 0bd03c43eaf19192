"""Text-analysis operators: quality metrics, language ID, token stats.

All pure Catalyst expressions (split / filter / regexp over columns)
— the per-document work is a narrow map, embarrassingly parallel at
any scale, with no shuffle at all.  The one exception is
:func:`compression_ratio`, a deliberate Arrow-batched Python surface
(zlib has no JVM expression), still a narrow map.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.functions.rounding import pround
from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
    STOPWORDS,
    stopword_count,
    tokens,
    word_shingles,
)


def text_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality/statistics row.

    Columns: token count, distinct-token count, char count, mean token
    length, type-token ratio, English-stopword ratio, digit ratio —
    the usual cheap quality-filter features of a corpus pipeline.
    """
    d = df.select(
        F.col(id_col), F.col(text_col), tokens(text_col).alias("toks")
    )
    n_tokens = F.size("toks")
    n_chars = F.length(text_col)
    n_digits = n_chars - F.length(F.regexp_replace(F.col(text_col), "[0-9]", ""))
    return d.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq_tokens"),
        n_chars.cast("bigint").alias("n_chars"),
        pround(
            F.expr(
                "aggregate(toks, cast(0.0 as double), (acc, t) -> acc + length(t))"
            )
            / n_tokens,
            6,
        ).alias("avg_token_len"),
        pround(F.size(F.array_distinct("toks")) / n_tokens.cast("double"), 6).alias(
            "type_token_ratio"
        ),
        pround(
            stopword_count("toks", "en") / n_tokens.cast("double"), 6
        ).alias("stopword_ratio"),
        pround(n_digits / n_chars.cast("double"), 6).alias("digit_ratio"),
    )


def _lang_scores(toks_col: str) -> dict[str, Column]:
    return {lang: stopword_count(toks_col, lang) for lang in STOPWORDS}


def predict_language(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """N-gram/stopword-heuristic language ID.

    Scores each language by stopword hits and takes the argmax with a
    fixed precedence order (en > es > de > fr > zh); zero hits
    everywhere -> 'und'.  Deterministic, expressible in plain SQL, and
    a realistic shape for the cheap first-stage lang filter of a
    training-data pipeline (a real system would swap in fastText via
    a pandas UDF — the plumbing is identical).
    """
    d = df.select(F.col(id_col), tokens(text_col).alias("toks"))
    scores = _lang_scores("toks")
    order = ["en", "es", "de", "fr", "zh"]
    best = F.greatest(*[scores[lang] for lang in order])
    pred = F.when(best == 0, F.lit("und"))
    for lang in order:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return d.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in order],
        pred.alias("pred_lang"),
    )


def token_count_bpe_ish(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate.

    The subword estimate splits on whitespace AND digit/letter
    boundaries, then charges ceil(len/4) units per word — a cheap,
    deterministic proxy for a BPE vocabulary's ~4-chars-per-token
    behavior, good enough for corpus budgeting at scale.
    """
    d = df.select(
        F.col(id_col),
        tokens(text_col).alias("toks"),
    )
    return d.select(
        F.col(id_col),
        F.size("toks").alias("n_whitespace_tokens"),
        F.expr(
            "aggregate(toks, cast(0 as bigint),"
            " (acc, t) -> acc + cast(ceil(length(t) / 4.0) as bigint))"
        ).alias("n_bpe_ish_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Two-level aggregation: term frequency on (doc, term), document
    frequency on term (computed FROM the tf relation), idf = ln(N/df)
    with N from a one-row broadcast aggregate.  Ranking uses the
    *rounded* score with the term as tiebreaker — a total order, so
    the kept set is engine-exact.  The tf→df join is left to AQE:
    vocabulary size is corpus-dependent (broadcast when it fits,
    shuffle when not).

    The tf relation is staged (eager ``localCheckpoint``): its two
    consumers prune different columns (df-count wants ``term``, the
    join wants everything), so AQE reuses no exchange and unstaged the
    corpus explode+agg ran twice (r12).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=True)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            pround(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col), "term", "tf", "tfidf", F.col("rank").cast("int").alias("rank")
        )
    )


def quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 30,
    min_ttr: float = 0.35,
    max_ttr: float = 0.95,
) -> DataFrame:
    """Corpus quality filter: keep documents whose cheap metrics pass
    thresholds (enough tokens; type-token ratio inside the band that
    excludes both boilerplate repetition and hash-like noise).

    Thresholds compare against the *rounded* metric columns so the
    keep/drop decision is identical on any engine computing the same
    metrics (no float-boundary drift).  Returns the metric row of
    surviving docs — one narrow scan, fully codegen'd, no UDFs.
    """
    m = text_metrics(df, id_col=id_col, text_col=text_col)
    return m.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("type_token_ratio") >= min_ttr)
        & (F.col("type_token_ratio") <= max_ttr)
    )


def contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing at least
    ``min_shared`` DISTINCT word ``k``-grams with an eval-set document
    — the standard train/test-leak check before training.

    The eval set is small by nature, so its shingle set is broadcast;
    the corpus side streams through one shuffle-free probe, then a
    (doc, eval) aggregation counts distinct shared shingles (the
    shingle sets are already distinct per doc).  At 100 TB: the corpus
    pass is a scan, state is O(|eval shingles|).
    """
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import shingle_set

    c = shingle_set(corpus, id_col, text_col, k).select(
        F.col("id").alias("doc_id"), "sh"
    )
    e = shingle_set(eval_docs, id_col, text_col, k).select(
        F.col("id").alias("eval_id"), "sh"
    )
    return (
        c.join(F.broadcast(e), "sh")
        .filter(F.col("doc_id") != F.col("eval_id"))
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# Portable (Java regex + RE2) patterns: explicit classes, no
# lookarounds, no shorthand-class dialect differences.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
PHONE_RE = "[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}"


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """PII scrub: replace email addresses and phone-shaped numbers
    with typed placeholders — the preprocessing step before any
    corpus leaves the curation zone.  Two ``regexp_replace`` passes,
    pure codegen'd expressions (patterns chosen to behave identically
    under Java regex and RE2, so cross-engine oracles stay exact)."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return df.withColumn(out_col, scrubbed)


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm"
) -> DataFrame:
    """Canonical text normalization before hashing/dedup/tokenizing:
    lowercase, collapse all whitespace runs to single spaces, trim.
    Pure codegen'd expressions; identical semantics cross-engine (the
    oracle replays it), so normalized fingerprints are portable."""
    collapsed = F.regexp_replace(F.lower(F.col(text_col)), "[ \\t\\r\\n]+", " ")
    return df.withColumn(out_col, F.trim(collapsed))


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained unigram LM score: each document's mean token
    log-probability under the corpus's own unigram distribution —
    the classic cheap perplexity proxy for quality filtering (docs
    full of corpus-rare tokens score low; boilerplate scores high).

    One token explode feeds BOTH aggregations (corpus term counts and
    the per-doc average), the corpus total is a one-row broadcast, and
    the term→count join is AQE's choice (vocabulary-sized: broadcast
    when it fits).

    Determinism: per-token logp is quantized to INTEGER micro-nats
    before summing — averaging rounded doubles flips at .5e-6
    boundaries because float summation order differs per engine, but
    an exact bigint sum divided once is the identical IEEE quotient
    everywhere.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_term"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    micro = F.floor(
        F.log(F.col("n_term") / F.col("n_total")) * 1000000 + F.lit(0.5)
    ).cast("long")
    return (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("micro_logp", micro)
        .groupBy("id")
        .agg(
            F.sum("micro_logp").alias("s"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            pround(F.col("s") / (F.col("n_tokens") * F.lit(1000000.0)), 6).alias(
                "avg_logprob"
            ),
            "n_tokens",
        )
    )


def pseudonymize_emails(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "pseudo",
    salt: str = "s1",
) -> DataFrame:
    """Deterministic pseudonymization — the reversible-by-lookup
    alternative to redact_pii's destructive placeholders: every email
    is replaced by a STABLE token ``<EMAIL:xxxxxxxx>`` (first 8 md5
    hex chars of salt+address), so the same address tokenizes
    identically corpus-wide and joins/dedup still work on the
    pseudonymized text, while the mapping lives only where the salt
    does.

    Pure fold expression: extract all matches, then one
    ``aggregate`` pass replacing each (replace is global per address —
    duplicates converge to the same token).  No UDF, no shuffle."""
    emails = F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), 0)
    rebuilt = F.aggregate(
        emails,
        F.col(text_col),
        lambda acc, e: F.replace(
            acc,
            e,
            F.concat(
                F.lit("<EMAIL:"),
                F.substring(F.md5(F.concat(F.lit(salt + ":"), e)), 1, 8),
                F.lit(">"),
            ),
        ),
    )
    return df.withColumn(out_col, rebuilt)


def boilerplate_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", min_df: int = 3
) -> DataFrame:
    """Per-document boilerplate share: the fraction of a document's
    DISTINCT word trigrams that occur in >= ``min_df`` documents
    corpus-wide — the intra-corpus duplication quality signal
    (headers/footers/templates score high) that pair-level dedup does
    not surface.

    One shingle explode feeds both sides: the corpus document-
    frequency table and the per-doc distinct-trigram sets; the
    df-join is an equi-join on the trigram (AQE picks broadcast when
    the df table fits).  Ratio rounded to 6 dp for engine-exactness.
    """
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
        .select("id", F.explode(word_shingles("toks", 3)).alias("sh"))
        .distinct()
    )
    doc_freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(doc_freq, "sh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0)).alias("n_boiler"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_trigrams",
            "n_boiler",
            pround(F.col("n_boiler") / F.col("n_trigrams"), 6).alias(
                "boilerplate_ratio"
            ),
        )
    )


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary token share per document against an induced
    top-``vocab_size`` corpus vocabulary — the tokenizer-coverage
    signal: documents full of tokens a fixed vocab cannot represent
    need subword splitting (cost) or are noise.

    The vocabulary is deterministic (count desc, token asc tiebreak —
    engine-exact) and tiny, so membership is an explicitly broadcast
    semi-join against the token explode; per-doc OOV share counts
    token INSTANCES, not types.  Two shuffles total (vocab agg +
    per-doc agg); the fact-side explode is scanned twice, never
    collected.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(vocab_size)
        .select("term")
    )
    return (
        toks.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_oov",
            pround(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, "Scaling
    Language Models", appendix A1.1 quality heuristics) at word
    n-gram granularity: per document,

    - ``n_tokens`` / ``n_ngrams`` — sizes;
    - ``top_ngram_frac`` — fraction of n-gram positions taken by the
      single most frequent n-gram (boilerplate headers / SEO spam
      score high);
    - ``dup_ngram_frac`` — fraction of n-gram positions whose n-gram
      occurs more than once in the document (loops / template litter).

    Corpus filters typically drop docs above ~0.2 / ~0.6 respectively.

    Plan (r12, guide §2.4 — remove shuffles outright): the metrics are
    PER-DOCUMENT, so no gram ever needs to leave its row.  Sort the
    doc's n-gram array, find the equal-run boundaries, and derive both
    fractions from the run lengths — one codegen'd scan, ZERO
    exchanges (the pre-r12 form exploded grams through a (doc, gram)
    and then a (doc) hash aggregation: two corpus-sized shuffles).
    Value-identical — ``top_cnt = max run length`` and
    ``dup_cnt = sum of runs >= 2 = n_ngrams - #(runs of length 1)``
    are the same integers; A/B-asserted at sf0.1 (1.08 s -> 0.59 s)
    and guarded by tests.  Docs shorter than ``n`` tokens yield empty
    run arrays and zero fractions.  Fractions are micro-unit rounded
    (:func:`pround`) so the DuckDB oracle matches bit-for-bit.

    The reference has no text stage at all (it aggregates taxi trips,
    etl_conformed_to_purposebuilt.py:1); Tier-E surface.
    """
    if n < 2:
        raise ValueError("n must be >= 2 (unigram repetition is type_token_ratio)")
    d = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    g = d.select(
        "id",
        F.size("toks").alias("n_tokens"),
        F.array_sort(word_shingles("toks", n)).alias("sg"),
    )
    stats = g.select(
        "id",
        "n_tokens",
        F.greatest(F.col("n_tokens") - (n - 1), F.lit(0)).alias("n_ngrams"),
        # run starts in the sorted gram array, plus the end sentinel
        F.expr(
            "CASE WHEN size(sg) = 0 THEN array() ELSE concat(filter("
            "sequence(0, size(sg) - 1), i -> i = 0 OR sg[i] != sg[i - 1]),"
            " array(size(sg))) END"
        ).alias("bounds"),
    ).select(
        "id",
        "n_tokens",
        "n_ngrams",
        F.expr(
            "CASE WHEN size(bounds) <= 1 THEN array() ELSE zip_with("
            "slice(bounds, 1, size(bounds) - 1),"
            " slice(bounds, 2, size(bounds) - 1), (a, b) -> b - a) END"
        ).alias("lens"),
    )
    denom = F.greatest(F.col("n_ngrams"), F.lit(1)).cast("double")
    return stats.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_ngrams",
        pround(
            F.coalesce(F.expr("array_max(lens)"), F.lit(0)) / denom, 6
        ).alias("top_ngram_frac"),
        pround(
            (
                F.col("n_ngrams")
                - F.coalesce(
                    F.expr("size(filter(lens, l -> l = 1))"), F.lit(0)
                )
            )
            / denom,
            6,
        ).alias("dup_ngram_frac"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The published Gopher quality-rule set (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A) as one
    codegen'd pass — the corpus-wide filter a pretraining pipeline
    runs before anything expensive:

    - word count in [min_words, max_words];
    - mean word length in [3, 10] characters;
    - symbol-to-word ratio ('#' or '...') <= 0.1 — NOTE this is the
      WORDS-CONTAINING approximation: it counts words that contain a
      '#' or '...', not symbol occurrences, so a single word carrying
      three '#'s counts once (the paper counts hash/ellipsis symbols;
      on natural text the two rarely diverge, but they can);
    - remove only when MORE THAN 90% of lines start with a bullet
      (i.e. keep while bullet lines <= 90% — the paper's threshold;
      list-heavy but legitimate docs like changelogs/FAQs pass);
    - at most 30% of lines may end with an ellipsis;
    - >= 80% of words contain at least one alphabetic character;
    - at least 2 distinct stop words from the paper's 8-word list.

    Every ratio threshold is evaluated as an INTEGER cross-multiply
    (``10*symbols <= n_words``, ``10*bullets <= 9*lines`` etc.), so
    the keep/drop decision is bit-identical on any engine — no float
    boundary anywhere.  One narrow scan, zero shuffle, no UDFs; at
    100 TB this runs at scan speed.  Output: per-doc rule booleans +
    ``keep``.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_symbolish = F.size(
        F.filter(toks, lambda w: w.contains("#") | w.contains("..."))
    )
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.trim(ln).startswith("•")
            | F.trim(ln).startswith("- ")
            | F.trim(ln).startswith("* "),
        )
    )
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).endswith("..."))
    )
    n_stopwords = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    r_word_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean_word_len = (total_len >= 3 * n_words) & (total_len <= 10 * n_words)
    r_symbol_ratio = 10 * n_symbolish <= n_words
    r_bullet_lines = 10 * n_bullet_lines <= 9 * n_lines
    r_ellipsis_lines = 10 * n_ellipsis_lines <= 3 * n_lines
    r_alpha_words = 10 * n_alpha_words >= 8 * n_words
    r_stopwords = n_stopwords >= 2
    keep = (
        r_word_count
        & r_mean_word_len
        & r_symbol_ratio
        & r_bullet_lines
        & r_ellipsis_lines
        & r_alpha_words
        & r_stopwords
    )
    # ``extra_cols`` passes input columns through UNCHANGED (r12,
    # guide §2.4): the rules are row-local, so a caller that needs
    # (id, text, keep) can take them from ONE pass instead of
    # self-joining this output back onto the input — that join was a
    # full corpus shuffle at scale and a second gopher evaluation.
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        n_words.alias("n_words"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol_ratio.alias("r_symbol_ratio"),
        r_bullet_lines.alias("r_bullet_lines"),
        r_ellipsis_lines.alias("r_ellipsis_lines"),
        r_alpha_words.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        keep.alias("keep"),
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document gzip-compressibility quality signal (one of the
    RedPajama-v2 quality signals; low ratios flag boilerplate /
    highly repetitive machine text, high ratios flag random noise):

        ratio_micro = compressed_bytes * 1e6 div raw_bytes

    computed with zlib at a FIXED level over the UTF-8 bytes, as an
    integer so downstream thresholds are exact.  Empty docs emit
    ratio NULL.

    This is a deliberate Python surface: there is no JVM-side
    compress-to-length expression, and a C zlib call per document via
    an Arrow-batched pandas UDF is the honest fast path (same
    rationale as the image/audio codecs — the work is byte-level, not
    relational).  Zero shuffle; output inherits input partitioning.
    Rows-only in the registry: zlib is not SQL-expressible; pytest
    pins ordering properties and determinism."""
    import zlib

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("n_bytes", IntegerType()),
            StructField("n_compressed", IntegerType()),
            StructField("ratio_micro", LongType()),
        ]
    )

    @F.pandas_udf(out_schema)
    def comp(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            # ADVICE r9: pandas nulls must not round-trip through
            # str() (str(None) == 'None' would get n_bytes=4 and a
            # real ratio) — a null doc is an empty doc here.
            if t is None or (isinstance(t, float) and pd.isna(t)):
                raw = b""
            else:
                raw = str(t).encode("utf-8")
            if not raw:
                rows.append((0, 0, None))
                continue
            c = len(zlib.compress(raw, level))
            rows.append((len(raw), c, c * 1_000_000 // len(raw)))
        return pd.DataFrame(
            rows, columns=["n_bytes", "n_compressed", "ratio_micro"]
        )

    return df.select(F.col(id_col), comp(F.col(text_col)).alias("z")).select(
        id_col, "z.*"
    )


def group_zscore(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group z-normalization of an INTEGER signal (round 10) —
    the cross-source quality-calibration step: a raw quality signal
    (token count, a gopher metric, a classifier logit) is not
    comparable across sources whose registers differ; training-data
    filters therefore threshold the WITHIN-SOURCE z-score instead.

    Output: ``(id_col, group_col, value_col, z_micro)`` with
    ``z_micro = floor((x - mean) / stddev_pop * 1e6 + 0.5)``; groups
    with zero variance (or a single row) emit NULL — detected EXACTLY
    (``min(x) == max(x)``: constant group iff zero variance), never
    by a float epsilon.

    Engine-exact: the moments come from exact decimal integer sums;
    mean/variance/sqrt/divide are the identical correctly-rounded
    IEEE expression tree in Spark and the DuckDB oracle (the BM25-idf
    precedent).  One group-cardinality aggregate broadcast back —
    nothing corpus-sized moves twice."""
    x = F.col(value_col).cast("long")
    stats = (
        df.select(F.col(group_col).alias("_g"), x.alias("_x"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
            # cast BEFORE multiplying: a long*long square overflows
            # int64 past |x| ~ 3.03e9 (ADVICE r10) — micro-scaled
            # signals exceed that; decimal(38,0)^2 holds any long^2.
            F.sum(
                F.col("_x").cast("decimal(38,0)")
                * F.col("_x").cast("decimal(38,0)")
            ).alias("_ss"),
            F.min("_x").alias("_lo"),
            F.max("_x").alias("_hi"),
        )
        .withColumn("_mean", F.col("_s").cast("double") / F.col("_n"))
        .withColumn(
            "_var",
            F.col("_ss").cast("double") / F.col("_n")
            - F.col("_mean") * F.col("_mean"),
        )
        .withColumn("_zero", F.col("_lo") == F.col("_hi"))
    )
    return (
        df.select(F.col(id_col), F.col(group_col), x.alias(value_col))
        .join(
            F.broadcast(stats),
            F.col(group_col) == F.col("_g"),
        )
        .select(
            id_col,
            group_col,
            value_col,
            F.when(
                ~F.col("_zero"),
                F.floor(
                    (F.col(value_col) - F.col("_mean"))
                    / F.sqrt(F.col("_var"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("z_micro"),
        )
    )


def fertility_report(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source tokenizer-fertility / density report — the standard
    sanity table before committing a tokenizer + mixture to a long
    run: sources whose text is byte-heavy per token (non-Latin
    scripts, code, boilerplate markup) consume disproportionate
    sequence budget, and fertility drift between corpus versions is
    an early data-bug signal.

    Output per source: ``(source, n_docs, n_tokens, n_chars,
    n_bytes, chars_per_token_micro, bytes_per_token_micro,
    tokens_per_doc_micro)`` — whitespace tokens (the repo's
    tokenization contract), UTF-8 bytes, ratios as integer micro via
    the decimal-div device (no int64 overflow at 100 TB).  One
    codegen'd scan, one source-cardinality aggregate — nothing else
    moves."""
    t = tokens(text_col)
    agg = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(t)).cast("bigint").alias("n_tokens"),
        F.sum(F.length(F.col(text_col))).cast("bigint").alias("n_chars"),
        F.sum(F.octet_length(F.col(text_col))).cast("bigint").alias(
            "n_bytes"
        ),
    )
    def ratio(num: str, den: str) -> Column:
        return (
            F.when(
                F.col(den) > 0,
                F.expr(
                    f"cast({num} as decimal(38,0)) * 1000000 div {den}"
                ).cast("bigint"),
            )
        )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_bytes",
        ratio("n_chars", "n_tokens").alias("chars_per_token_micro"),
        ratio("n_bytes", "n_tokens").alias("bytes_per_token_micro"),
        ratio("n_tokens", "n_docs").alias("tokens_per_doc_micro"),
    )


def version_drift(
    df: DataFrame,
    version_col: str,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus-version DRIFT report — the monitoring table a
    pipeline checks before swapping in a re-crawled / re-filtered
    corpus version: a source whose token distribution moved is flagged
    before it silently shifts the training mixture.

    ``version_col`` is an integer 0/1 column labeling the OLD/NEW
    version of each doc.  Per source, over the unigram distributions
    of the two versions:

    - ``kl_micro``: KL(new || old) in integer micro-nats, with add-one
      smoothing on the OLD side (new-only terms stay finite) —
      per-term log-ratios are micro-quantized and weighted by exact
      integer counts, accumulated as decimal(38,0) (ADVICE r11: the
      count-weighted product and the per-source sum both clear int64
      at the 15T-token envelope), divided once (the repo's
      quantization discipline: no float accumulation order anywhere);
    - ``n_new_terms`` / ``n_lost_terms``: vocabulary churn;
    - ``n_tokens_v0`` / ``n_tokens_v1``.

    Plan: ONE token explode with the version tag carried, one
    (source, term) aggregate with conditional sums (the pivot — no
    second corpus pass), per-source totals broadcast back, one
    per-source agg.  Everything downstream of the explode is
    vocabulary-proportional."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.col(version_col).cast("int").alias("_v"),
        F.explode(tokens(text_col)).alias("term"),
    )
    counts = toks.groupBy("source", "term").agg(
        F.sum(F.when(F.col("_v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("_v") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    totals = counts.groupBy("source").agg(
        F.sum("c0").alias("t0"),
        F.sum("c1").alias("t1"),
        F.count(F.lit(1)).alias("v_union"),
    )
    j = counts.join(F.broadcast(totals), "source")
    # KL(new || old): sum over new terms of p1 * ln(p1/q0), with
    # q0 = (c0 + 1) / (t0 + v_union).  Per-term micro log-ratio times
    # the exact integer count c1; one bigint sum; divide by t1 once.
    lr_micro = F.floor(
        F.log(
            (F.col("c1") * F.lit(1.0) / F.col("t1"))
            / ((F.col("c0") + F.lit(1)) * F.lit(1.0) / (F.col("t0") + F.col("v_union")))
        )
        * F.lit(1000000)
        + F.lit(0.5)
    ).cast("long")
    # ADVICE r11: c1 * lr_micro is long*long (a high-count new-only
    # term reaches ~3e11 * ~2.7e7 micro-nats) and the per-source sum
    # can clear int64 at >1 nat of drift over ~1e13 tokens — both go
    # through decimal(38,0) BEFORE any arithmetic, mirrored by
    # HUGEINT in the oracle.
    contrib = F.when(
        F.col("c1") > 0, F.col("c1").cast("decimal(38,0)") * lr_micro
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    return (
        j.withColumn("_contrib", contrib)
        .groupBy("source")
        .agg(
            F.max("t0").cast("bigint").alias("n_tokens_v0"),
            F.max("t1").cast("bigint").alias("n_tokens_v1"),
            F.expr(
                "case when max(t1) > 0 then sum(_contrib) div max(t1) end"
            )
            .cast("bigint")
            .alias("kl_micro"),
            F.sum(
                F.when((F.col("c1") > 0) & (F.col("c0") == 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new_terms"),
            F.sum(
                F.when((F.col("c0") > 0) & (F.col("c1") == 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_lost_terms"),
        )
    )
