"""Byte-pair-encoding tokenizer: distributed training and encoding.

The canonical missing piece between "token counting" and a real
pretraining pipeline: learn a BPE merge table from the corpus, then
encode documents with it.  Algorithm per Sennrich, Haddow & Birch 2016
("Neural Machine Translation of Rare Words with Subword Units") — the
same scheme GPT-2/BERT-style byte/char BPE vocabularies use.

Scale shape (the standard production decomposition, e.g. HF tokenizers):

- **Training never iterates the corpus.**  One distributed scan
  aggregates the WORD-FREQUENCY table (one shuffle, map-side partials);
  the merge loop then runs driver-side over that table only.  The
  collect is bounded control data — `top_words` caps it (default 2^16
  rows of (word, count)), the same class as k-means centroids or PQ
  codebooks elsewhere in this repo: it grows with the *vocabulary*, not
  the corpus.  Heaps' law makes even the uncapped distinct-word table
  sublinear in corpus size; the cap makes the bound mechanical.  Merge
  selection is deterministic: max count, ties broken lexicographically
  on the pair — so any engine/partitioning learns the identical table.
- **Encoding is embarrassingly parallel**: the merge table broadcasts
  (it is `vocab_size` rows) and each document encodes row-locally in an
  Arrow-batched pandas UDF.  No shuffle; output inherits input
  partitioning.

Registry coverage is rows-only + pytest golden gates (the merge loop's
argmax-over-counts with corpus rewriting is not SQL-expressible;
tests pin the Sennrich hand example, encode/decode identity, merge
priority order, and partition-layout invariance).

No reference-parity citation: the reference (aws-samples
aws-cdk-pipelines-datalake-etl) has no tokenizer surface; Tier-E
LLM-corpus toolkit (SURVEY.md §2.6/§6).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
    WS_CLASS,
    ws_tokens,
)

#: end-of-word sentinel (Sennrich 2016 '</w>'); makes "low" the word
#: vs "low" the prefix of "lower" distinct, and makes decode exact.
EOW = "▁"  # LOWER ONE EIGHTH BLOCK, the sentencepiece-style marker

#: out-of-vocabulary token; always id 0 in :func:`build_vocab`.
UNK = "<unk>"

_WS_RE = re.compile(WS_CLASS)


def _py_words(text: str) -> list[str]:
    """Python twin of :func:`..functions.text_fn.ws_tokens`: the SAME
    explicit ASCII whitespace class (never ``str.split()`` — Python
    splits on Unicode whitespace like U+00A0 that Java regex ``\\s``
    and our JVM-side class do not), lowercased, empties dropped.
    Training and encoding MUST tokenize identically or the learned
    merge table mis-matches the encoder's word stream (ADVICE r7)."""
    return [w for w in _WS_RE.split(text.lower()) if w]


def word_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """The one corpus scan of BPE training: (word, count), one hash
    aggregation with map-side partials.  Tokenizes with
    :func:`ws_tokens` — any-whitespace split, empties dropped —
    bit-identical to the encode-side :func:`_py_words`."""
    wf = (
        df.select(F.explode(ws_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if min_count > 1:
        wf = wf.filter(F.col("count") >= min_count)
    return wf


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for syms, c in vocab.items():
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + c
    return counts


def _apply_merge(
    syms: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    """Left-to-right single pass merging every non-overlapping
    occurrence of ``pair`` (the Sennrich reference semantics)."""
    out: list[str] = []
    i = 0
    merged = pair[0] + pair[1]
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe_merges(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop over the (word, count) table.

    Words are split to characters + the EOW sentinel; each round picks
    the most frequent adjacent symbol pair (ties: lexicographically
    smallest pair) and rewrites ONLY the words containing that pair.
    Stops early when no pair repeats.  Pure deterministic Python over
    the bounded table.

    r12 (guide §5 — the driver should do almost no data work): pair
    counts are maintained INCREMENTALLY with a lazy max-heap and a
    pair->words inverted index instead of rescanning every word every
    round, turning O(n_merges * corpus_syms) into
    O(corpus_syms + n_merges * affected).  Selection rule, tie-break
    and stop conditions are unchanged, so the merge list is identical
    (two sym tuples can never collide under a merge — each key's char
    concatenation stays the distinct source word — so the old dict
    rewrite and this word-list rewrite agree; property-tested against
    the direct per-round rescan in tests/test_bpe.py).
    """
    import heapq

    words: list[list] = []  # [syms tuple, count] — one entry per word
    for w, c in word_counts:
        words.append([tuple(w) + (EOW,), int(c)])
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] = counts.get(p, 0) + c
            s = where.get(p)
            if s is None:
                where[p] = s = set()
            s.add(wi)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair: tuple[str, str] | None = None
        top = 0
        while heap:
            negc, p = heap[0]
            cur = counts.get(p, 0)
            if cur == 0 or cur != -negc:  # stale entry
                heapq.heappop(heap)
                continue
            pair, top = p, cur
            break
        if pair is None or top < 2:
            break
        merges.append(pair)
        delta: dict[tuple[str, str], int] = {}
        for wi in where.pop(pair, ()):  # lazy index: may hold stale ids
            syms, c = words[wi]
            new = _apply_merge(syms, pair)
            if new == syms:
                continue
            for p in zip(syms, syms[1:]):
                delta[p] = delta.get(p, 0) - c
            for p in zip(new, new[1:]):
                delta[p] = delta.get(p, 0) + c
                s = where.get(p)
                if s is None:
                    where[p] = s = set()
                s.add(wi)
            words[wi][0] = new
        for p, d in delta.items():
            if d == 0:
                continue
            nc = counts.get(p, 0) + d
            if nc:
                counts[p] = nc
                heapq.heappush(heap, (-nc, p))
            else:
                counts.pop(p, None)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word: repeatedly apply the lowest-rank applicable
    merge (the standard priority-order application, identical to the
    training-time rewrite order)."""
    syms: tuple[str, ...] = tuple(word) + (EOW,)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        syms = _apply_merge(syms, best_pair)
    return list(syms)


def build_vocab(
    word_counts: list[tuple[str, int]],
    merges: list[tuple[str, str]],
    specials: tuple[str, ...] = (),
) -> dict[str, int]:
    """Deterministic token->id table: id 0 is :data:`UNK`, then every
    base symbol seen in the training words (single characters + the
    EOW sentinel, sorted), then each merge's output token in merge
    order — the standard BPE vocabulary layout (merge rank == id
    order), reproducible from (word table, merges) on any engine.

    ``specials`` reserves ids at the TAIL of the vocabulary (the GPT
    convention — ``<|endoftext|>`` is the last id) for sentinel tokens
    like the end-of-document marker :func:`..operators.chunking.
    pack_token_sequences` inserts; appending keeps every real token's
    id unchanged whether or not specials are reserved.  A special can
    never be emitted by the encoder (encoder tokens are built from
    corpus characters and merges only), so the reserved ids are
    collision-free by construction."""
    base = sorted({c for w, _ in word_counts for c in w} | {EOW})
    vocab: dict[str, int] = {UNK: 0}
    for s in base:
        if s not in vocab:
            vocab[s] = len(vocab)
    for a, b in merges:
        t = a + b
        if t not in vocab:
            vocab[t] = len(vocab)
    for sp in specials:
        if sp not in vocab:
            vocab[sp] = len(vocab)
    return vocab


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    min_count: int = 1,
    top_words: int = 1 << 16,
) -> list[tuple[str, str]]:
    """Distributed word count -> bounded collect -> driver merge loop.

    ``top_words`` caps the collected control table (highest-count
    words first, ties on the word for determinism) — the documented
    sampling bound every production BPE trainer applies in some form.
    """
    merges, _ = train_bpe_with_vocab(
        df, text_col, n_merges, min_count, top_words
    )
    return merges


def train_bpe_with_vocab(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    min_count: int = 1,
    top_words: int = 1 << 16,
    specials: tuple[str, ...] = (),
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """:func:`train_bpe` that also returns the token->id vocabulary
    (see :func:`build_vocab`; ``specials`` reserves tail sentinel ids)
    from the same one bounded collect."""
    wf = (
        word_frequencies(df, text_col, min_count)
        .orderBy(F.col("count").desc(), F.col("word").asc())
        .limit(top_words)
    )
    # bounded control collect: <= top_words (word, count) rows
    rows = [(r["word"], r["count"]) for r in wf.collect()]
    merges = train_bpe_merges(rows, n_merges)
    return merges, build_vocab(rows, merges, specials)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-local BPE encoding with the broadcast merge table.

    Output per doc: ``n_tokens`` (BPE tokens incl. EOW-fused ones),
    ``n_words``, ``n_single_char_tokens`` (tokens that stayed a single
    character — the "UNK-ish" tail a vocab-size sweep watches), and
    ``tokens_preview`` (first 12 tokens, space-joined — a string so
    the driver canonicalizer can hash it).  Arrow-batched pandas UDF,
    zero shuffle.
    """
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    b_merges = spark.sparkContext.broadcast(list(merges))
    out_schema = StructType(
        [
            StructField("n_tokens", IntegerType()),
            StructField("n_words", IntegerType()),
            StructField("n_single_char_tokens", IntegerType()),
            StructField("tokens_preview", StringType()),
        ]
    )

    @F.pandas_udf(out_schema)
    def enc(texts: pd.Series) -> pd.DataFrame:
        ranks = {p: i for i, p in enumerate(b_merges.value)}
        cache: dict[str, list[str]] = {}
        rows = []
        for t in texts:
            words = _py_words(str(t))
            toks: list[str] = []
            for w in words:
                got = cache.get(w)
                if got is None:
                    got = encode_word(w, ranks)
                    cache[w] = got
                toks.extend(got)
            single = sum(1 for s in toks if len(s.replace(EOW, "")) <= 1)
            rows.append(
                (len(toks), len(words), single, " ".join(toks[:12]))
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_tokens", "n_words", "n_single_char_tokens",
                "tokens_preview",
            ],
        )

    # Same guide-§4.4 marking as bpe_encode_ids (ADVICE r12): a
    # downstream filter on any of the four stat columns would duplicate
    # the ArrowEvalPython node.  Same pushdown trade-off applies —
    # filter the input, not the encoded output.
    enc_once = enc.asNondeterministic()

    return df.select(
        F.col(id_col),
        enc_once(F.col(text_col)).alias("bpe"),
    ).select(id_col, "bpe.*")


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-local BPE encoding to TOKEN-ID SEQUENCES — the terminal
    tokenizer artifact a pretraining pipeline feeds to sequence
    packing (:func:`..chunking.pack_token_sequences`).

    Output per doc: ``token_ids array<int>`` (every token mapped
    through ``vocab``; tokens outside it — impossible when the vocab
    was built from the same corpus, possible on held-out text with
    unseen characters — map to :data:`UNK` id 0 and are tallied in
    ``n_unk``) and ``n_tokens``.  Same broadcast merge table and
    Arrow-batched UDF as :func:`bpe_encode`.

    The input is repartitioned to the session's default parallelism
    first: the encode is the pipeline's expensive per-row step, and
    one round-robin shuffle lets a few-big-files input use every core
    (sf1, 2-split parquet on local[32]: 2-wide without it, SCALE.md
    round-8 table)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    b_merges = spark.sparkContext.broadcast(list(merges))
    b_vocab = spark.sparkContext.broadcast(dict(vocab))
    out_schema = StructType(
        [
            StructField("token_ids", ArrayType(IntegerType())),
            StructField("n_tokens", IntegerType()),
            StructField("n_unk", IntegerType()),
        ]
    )

    @F.pandas_udf(out_schema)
    def enc_ids(texts: pd.Series) -> pd.DataFrame:
        ranks = {p: i for i, p in enumerate(b_merges.value)}
        voc = b_vocab.value
        unk = voc[UNK]
        cache: dict[str, list[int]] = {}
        rows = []
        for t in texts:
            ids: list[int] = []
            for w in _py_words(str(t)):
                got = cache.get(w)
                if got is None:
                    got = [voc.get(s, unk) for s in encode_word(w, ranks)]
                    cache[w] = got
                ids.extend(got)
            rows.append((ids, len(ids), sum(1 for i in ids if i == unk)))
        return pd.DataFrame(
            rows, columns=["token_ids", "n_tokens", "n_unk"]
        )

    # Non-deterministic marking (guide §4.4): a downstream filter on a
    # UDF-computed column (pack_token_sequences' size(token_ids) > 0)
    # gets pushed below the repartition exchange, and the optimizer
    # DUPLICATES the ArrowEvalPython node — every document was BPE-
    # encoded twice (two ArrowEvalPython nodes in the r12 plan dump).
    # The function is pure; the marking stops the optimizer from
    # re-evaluating it, so values are unchanged.  Trade-off (ADVICE
    # r12): Spark also refuses to push ANY predicate — even one on the
    # deterministic doc id — through a Project containing a
    # nondeterministic field, so callers that filter encoded output on
    # deterministic columns pay the full encode on rows they discard.
    # Filter the INPUT DataFrame before bpe_encode_ids instead.
    enc_ids_once = enc_ids.asNondeterministic()

    return df.select(
        F.col(id_col), enc_ids_once(F.col(text_col)).alias("bpe")
    ).select(id_col, "bpe.*")


def bpe_decode_tokens(toks: list[str]) -> str:
    """Inverse of :func:`encode_word` over a token stream: EOW marks
    word ends, everything else concatenates — exact identity with the
    lowercased/whitespace-normalized input (property-tested)."""
    words: list[str] = []
    cur: list[str] = []
    for t in toks:
        if t.endswith(EOW):
            cur.append(t[: -len(EOW)])
            words.append("".join(cur))
            cur = []
        else:
            cur.append(t)
    if cur:
        words.append("".join(cur))
    return " ".join(w for w in words if w)
