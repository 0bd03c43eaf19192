"""Product quantization (PQ) for embedding columns — the compression
half of the standard IVF+PQ large-scale ANN stack (Jégou, Douze,
Schmid: "Product Quantization for Nearest Neighbor Search", TPAMI
2011 — public literature).

Why it matters at 100 TB: int8 quantization
(:func:`..operators.similarity.quantize_embeddings`) cuts storage 4×;
PQ cuts it ~32× (a 64-dim float32 vector becomes ``m`` sub-codes,
here 8 bytes) AND makes scanning candidates cheap: a query is turned
into an ``m × ksub`` table of partial distances ONCE, after which
each stored vector costs ``m`` table lookups + adds (asymmetric
distance computation, ADC) instead of a ``dim``-wide float dot.

Engine formulation (everything codegen'd — no higher-order lambdas in
the per-vector hot path, per the measured cliff in
operators/winnow.py):

- **train**: per-subspace Euclidean k-means over a deterministic
  hash-ordered sample (bounded by ``max_train``), fitted driver-side
  with seeded numpy Lloyd — sub-quantizer quality saturates at
  ~10^4-10^5 training points regardless of corpus size, so the
  corpus-scaled distributed pass is reserved for ENCODING.
- **encode**: ``m`` nearest-centroid scalar expressions → an
  ``array<int>`` of sub-codes per vector (document byte-packing for
  storage at scale; ints keep the demo readable).
- **adc_topk**: queries are collected (a bounded probe set, same
  contract as ``brute_force_topk``'s broadcast), their distance
  tables computed driver-side in numpy and inlined as literal arrays;
  every stored code row evaluates ``m`` ``element_at`` lookups per
  query — one scan for ALL queries via a posexploded distance array —
  then a per-query top-k window.

Vectors are L2-normalized before encoding, so squared L2 order equals
cosine order and recall is measured against the exact cosine
:func:`..operators.similarity.brute_force_topk` path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.functions.vector import (
    as_double_array,
    literal_adc,
    literal_structs,
    nearest_codes,
    unit_vectors,
)


def _train_sample(vectors, m, seed, max_train, id_col, vec_col):
    """The deterministic hash-ordered training sample — at most
    ``max_train`` normalized vectors — as a driver-side matrix."""
    import numpy as np

    sample = (
        unit_vectors(vectors, id_col, vec_col)
        .withColumn("h", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("h", "id")
        .limit(max_train)
        .select("nv")
        .collect()
    )
    if not sample:
        raise ValueError("PQ training: no non-zero vectors")
    X = np.array([r["nv"] for r in sample], dtype=np.float64)
    if X.shape[1] % m:
        raise ValueError(f"dim {X.shape[1]} not divisible by m={m}")
    return X


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 16,
    ksub: int = 16,
    max_iter: int = 25,
    seed: int = 42,
    max_train: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train ``m`` sub-quantizers of ``ksub`` centroids each; returns
    driver-side codebooks ``[m][ksub][dsub]`` (literal-sized:
    m*ksub*dsub doubles — the artifact you persist next to the index).

    Training runs on a DETERMINISTIC hash-ordered sample of at most
    ``max_train`` vectors collected to the driver and fitted with
    seeded numpy Lloyd per subspace — the standard practice for PQ
    (sub-quantizer quality saturates at ~10^4-10^5 training points
    regardless of corpus size; FAISS trains exactly this way), so the
    corpus-sized distributed pass is reserved for ENCODING, which is
    the part that actually scales with data.  The sample bound keeps
    the collect a control-sized transfer (max_train * dim doubles),
    and hash-ordering makes it reproducible on any partitioning.
    """
    X = _train_sample(vectors, m, seed, max_train, id_col, vec_col)
    return _fit_subquantizers(X, m, ksub, max_iter, seed)


def _fit_subquantizers(X, m: int, ksub: int, max_iter: int, seed: int):
    """Seeded numpy Lloyd per subspace over a driver-side sample."""
    import numpy as np

    dim = X.shape[1]
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        k = min(ksub, len(S))
        seeds = S[rng.permutation(len(S))[:k]].copy()
        if k < ksub:  # degenerate tiny corpus: repeat rows
            seeds = seeds[np.arange(ksub) % k]
        C = seeds
        for _ in range(max_iter):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            newC = C.copy()
            for c in range(ksub):
                if (a == c).any():
                    newC[c] = S[a == c].mean(axis=0)
            if np.abs(newC - C).max() < 1e-9:
                C = newC
                break
            C = newC
        books.append([np.round(c, 9).tolist() for c in C])
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, codes array<int>)`` — each vector reduced to m
    sub-codes (~m bytes at scale; ~32× smaller than float32).  One
    narrow codegen'd projection, zero shuffles."""
    return unit_vectors(vectors, id_col, vec_col).select(
        F.col("id").alias(id_col), nearest_codes("nv", codebooks).alias("codes")
    )


def _codebook_entry_lit(codebooks: list[list[list[float]]]):
    """The full codebook as ONE literal array of (j, code, cent)
    structs — m*ksub*dsub doubles, a model artifact, constant in both
    corpus and query-batch size."""
    return literal_structs(
        ["j", "code", "cent"],
        [(j, c, cent) for j, book in enumerate(codebooks) for c, cent in enumerate(book)],
    )


def _query_distance_tables(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(query_id, j, code, pd)`` — every query's ADC partial-distance
    table as DATA, not as plan literals.  Computed fully distributed
    (explode the codebook literal against the normalized queries; no
    driver collect), sized nq*m*ksub rows — broadcastable for any
    realistic query batch (10^5 queries * 256 cells ~ 25.6M skinny
    rows would still be the corpus's smaller side by orders of
    magnitude).  Terms sum in subspace order, matching the numpy
    literal path bit-for-bit on the same doubles."""
    dsub = len(codebooks[0][0])
    nv = unit_vectors(queries, id_col, vec_col)
    e = nv.select(
        F.col("id").alias("query_id"),
        "nv",
        F.explode(_codebook_entry_lit(codebooks)).alias("e"),
    )
    sub = F.slice("nv", F.col("e.j") * dsub + 1, F.lit(dsub))
    pd_ = F.round(
        F.aggregate(
            F.zip_with(sub, F.col("e.cent"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        9,
    )
    return e.select(
        "query_id", F.col("e.j").alias("j"), F.col("e.code").alias("code"),
        pd_.alias("pd"),
    )


def _adc_join_topk(
    codes: DataFrame,
    dtab: DataFrame,
    k: int,
    id_col: str,
    join_on: list[str],
) -> DataFrame:
    """Shared broadcast-ADC tail: posexplode the code array, broadcast
    hash-join the distance tables on ``join_on``, partial-sum the m
    lookups map-side (hash agg in the join stage — the exchange
    carries nq*|matched corpus| rows, same as the literal form's
    window input), then the per-query top-k window."""
    ex = codes.select(
        F.col(id_col),
        *[c for c in codes.columns if c not in (id_col, "codes")],
        F.posexplode("codes").alias("j", "code"),
    )
    joined = ex.join(F.broadcast(dtab), join_on)
    agg = (
        joined.groupBy("query_id", id_col)
        .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
        .filter(F.col("query_id") != F.col(id_col))
    )
    return _topk(agg, k, id_col)


def _topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Per-query top-k by ``adc_dist``, ties by id: adds ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _count_at_most(df: DataFrame, limit: int) -> int:
    """Row count capped at ``limit + 1`` — an O(limit) job that answers
    "more than limit?" without scanning an unbounded query table."""
    return df.limit(limit + 1).count()


def _resolve_tables(queries: DataFrame, tables: str, threshold: int) -> str:
    """Shared ``tables=`` dispatch: validate the strategy name (a typo
    must not silently fall through to the literal path and inline an
    unbounded query batch into the plan) and resolve ``auto`` by a
    bounded count."""
    if tables not in ("auto", "literal", "broadcast"):
        raise ValueError(
            f"tables={tables!r}: expected 'auto', 'literal' or 'broadcast'"
        )
    if tables != "auto":
        return tables
    return (
        "broadcast"
        if _count_at_most(queries, threshold) > threshold
        else "literal"
    )


def _seq_sq_sum(diffs) -> float:
    """Strictly SEQUENTIAL sum of squared differences, matching the SQL
    ``aggregate`` fold's left-to-right association bit-for-bit.  numpy's
    ``.sum()`` switches to pairwise summation above 8 elements, which
    can differ in the last ulp and flip a 9-dp round — the literal and
    broadcast ADC tables must agree exactly at any ``dsub``."""
    acc = 0.0
    for d in diffs:
        acc += float(d) * float(d)
    return acc


def _adc_table(v, codebooks) -> list[list[float]]:
    """One query's ``m x ksub`` partial-distance table, 9 dp."""
    import numpy as np

    dsub = len(codebooks[0][0])
    return [
        [
            float(np.round(_seq_sq_sum(v[j * dsub : (j + 1) * dsub] - np.array(c)), 9))
            for c in book
        ]
        for j, book in enumerate(codebooks)
    ]


def _literal_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    centroids: dict[int, list[float]] | None = None,
    nprobe: int = 0,
    residual: bool = False,
) -> DataFrame:
    """The ``tables="literal"`` ADC top-k shared by the PQ and IVF+PQ
    ops: each collected query's numpy distance table(s) are inlined as
    plan literals (:func:`..functions.vector.literal_adc`), so one scan
    of ``codes`` serves every query.  With ``centroids`` a query only
    scores rows of its ``nprobe`` max-dot buckets (stable argsort, the
    broadcast path's tie rule): one table gated to all of them, or with
    ``residual`` one table per bucket, for the query's residual there.
    Returns ``(query_id, id_col, adc_dist, rank)``."""
    import numpy as np

    q_rows = unit_vectors(queries, id_col, vec_col).orderBy("id").collect()
    C = None
    if centroids is not None:
        C = np.array([centroids[b] for b in sorted(centroids)], dtype=np.float64)
    batch = []
    for qr in q_rows:
        qv = np.array(qr["nv"], dtype=np.float64)
        if C is None:
            arms = [(None, _adc_table(qv, codebooks))]
        else:
            probed = [int(b) for b in np.argsort(-(C @ qv), kind="stable")[:nprobe]]
            arms = (
                [([b], _adc_table(qv - C[b], codebooks)) for b in probed]
                if residual
                else [(probed, _adc_table(qv, codebooks))]
            )
        batch.append((qr["id"], arms))
    scored = codes.select(
        F.col(id_col), F.explode(literal_adc(batch)).alias("qd")
    ).select("qd.query_id", id_col, "qd.adc_dist")
    if C is not None:
        scored = scored.filter(F.col("adc_dist").isNotNull())
    return _topk(scored.filter(F.col("query_id") != F.col(id_col)), k, id_col)


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: str = "auto",
    broadcast_threshold: int = 16,
) -> DataFrame:
    """Approximate top-k by asymmetric distance — one scan of the code
    table serves ALL queries, then a per-query top-k window.

    Two physical strategies for the query distance tables, chosen by
    ``tables``:

    - ``"literal"``: per collected query a numpy ``m × ksub``
      partial-distance table is inlined as plan literals; every stored
      code row costs m ``element_at`` lookups + adds, zero extra
      shuffle.  Fastest for a BOUNDED probe set, but the expression
      tree grows with nq — a 10^3+-query batch makes the PLAN the
      bottleneck (codegen size, driver memory).
    - ``"broadcast"``: the tables are a small DataFrame keyed by
      (query_id, j, code), broadcast-hash-joined onto the posexploded
      codes (:func:`_adc_join_topk`).  Plan size is constant in nq —
      the 100 TB / large-batch path.
    - ``"auto"`` (default): ``"broadcast"`` when the query table holds
      more than ``broadcast_threshold`` rows, else ``"literal"``.

    Returns ``(query_id, vec_id, adc_dist, rank)``; ties broken by
    vec_id for a deterministic row set."""
    tables = _resolve_tables(queries, tables, broadcast_threshold)
    if tables == "broadcast":
        dtab = _query_distance_tables(queries, codebooks, id_col, vec_col)
        return _adc_join_topk(codes, dtab, k, id_col, ["j", "code"])

    return _literal_adc_topk(codes, codebooks, queries, k, id_col, vec_col)


def _exact_rerank(
    cand: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared exact-cosine re-rank tail: fetch ONLY the shortlisted
    candidates' full vectors (semi-join-sized read), broadcast the
    queries, rank by exact cosine."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.rounding import pround
    from aws_cdk_pipelines_datalake_etl_spark.functions.vector import cosine

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("v")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("q")
    )
    scored = (
        cand.join(v, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", pround(cosine("q", "v"), 6))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _probe_pairs_df(
    queries: DataFrame,
    centroids: dict[int, list[float]],
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(query_id, centroid_id, cvec)`` — each query's ``nprobe``
    nearest coarse buckets, computed distributed (coarse centroids are
    a bounded literal; ties by sim desc then centroid_id, matching the
    literal path's stable argsort)."""
    ents = literal_structs(["centroid_id", "cvec"], sorted(centroids.items()))
    nv = unit_vectors(queries, id_col, vec_col)
    e = nv.select(
        F.col("id").alias("query_id"), "nv", F.explode(ents).alias("e")
    )
    sim = F.aggregate(
        F.zip_with("nv", F.col("e.cvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    return (
        e.select(
            "query_id",
            F.col("e.centroid_id").alias("centroid_id"),
            F.col("e.cvec").alias("cvec"),
            sim.alias("sim"),
        )
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "centroid_id", "cvec")
    )


def _query_distance_tables_residual(
    queries: DataFrame,
    centroids: dict[int, list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    id_col: str,
    vec_col: str,
    probe: "DataFrame | None" = None,
) -> DataFrame:
    """Residual ADC tables as data: ``(query_id, centroid_id, j, code,
    pd)`` — one m×ksub table per (query, probed bucket), because the
    query's residual differs per bucket.  nq*nprobe*m*ksub skinny rows,
    still broadcast-sized for any realistic batch.  Pass a precomputed
    ``probe`` (from :func:`_probe_pairs_df`) to avoid recomputing the
    coarse assignment when the caller already needed it."""
    dsub = len(codebooks[0][0])
    pp = (
        probe
        if probe is not None
        else _probe_pairs_df(queries, centroids, nprobe, id_col, vec_col)
    )
    rows = pp.select(
        "query_id", "centroid_id", "cvec",
        F.explode(_codebook_entry_lit(codebooks)).alias("e"),
    ).join(
        unit_vectors(queries, id_col, vec_col).select(
            F.col("id").alias("query_id"), "nv"
        ),
        "query_id",
    )
    qs = F.slice("nv", F.col("e.j") * dsub + 1, F.lit(dsub))
    cs = F.slice("cvec", F.col("e.j") * dsub + 1, F.lit(dsub))
    dq = F.zip_with(qs, cs, lambda x, y: x - y)
    pd_ = F.round(
        F.aggregate(
            F.zip_with(dq, F.col("e.cent"), lambda d, cc: (d - cc) * (d - cc)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        9,
    )
    return rows.select(
        "query_id", "centroid_id", F.col("e.j").alias("j"),
        F.col("e.code").alias("code"), pd_.alias("pd"),
    )


def _ivfpq_cand(
    codes: DataFrame,
    centroids: dict[int, list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    nprobe: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    residual: bool,
    tables: str = "broadcast",
    broadcast_threshold: int = 16,
    probe: "DataFrame | None" = None,
) -> DataFrame:
    """Shared IVF(+residual) ADC shortlist: ``(query_id, neighbor_id)``
    candidates from a codes table carrying ``centroid_id`` — used by
    the in-memory topk ops and the persisted index probe alike.
    ``tables`` picks the distance tables' form as in
    :func:`pq_adc_topk`.  ``probe`` optionally reuses an
    already-computed :func:`_probe_pairs_df` result (one
    coarse-assignment job, not two)."""
    if _resolve_tables(queries, tables, broadcast_threshold) == "literal":
        cand = _literal_adc_topk(
            codes, codebooks, queries, shortlist, id_col, vec_col,
            centroids, nprobe, residual,
        )
    else:
        if probe is None:
            probe = _probe_pairs_df(queries, centroids, nprobe, id_col, vec_col)
        if residual:
            dtab = _query_distance_tables_residual(
                queries, centroids, codebooks, nprobe, id_col, vec_col,
                probe=probe,
            )
        else:
            dtab = _query_distance_tables(
                queries, codebooks, id_col, vec_col
            ).join(probe.select("query_id", "centroid_id"), "query_id")
        cand = _adc_join_topk(
            codes, dtab, shortlist, id_col, ["centroid_id", "j", "code"]
        )
    return cand.select("query_id", F.col(id_col).alias("neighbor_id"))


def _ivfpq_model(
    vectors: DataFrame,
    coarse_k: int,
    m: int,
    ksub: int,
    seed: int,
    residual: bool,
    id_col: str,
    vec_col: str,
    coarse: "DataFrame | None" = None,
    codebooks: list[list[list[float]]] | None = None,
):
    """Coarse centroids (k-means||, unless ``coarse`` is given) -> PQ
    codebooks (unless given; fitted on residuals with ``residual``) ->
    the code table carrying ``centroid_id``.  Returns
    ``(centroids, codebooks, codes)``."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        assign_ivf_buckets,
        train_ivf_codebook,
    )

    if coarse is None:
        coarse = train_ivf_codebook(
            vectors, n_centroids=coarse_k, seed=seed, id_col=id_col, vec_col=vec_col
        )
    centroids = {
        int(r["centroid_id"]): list(r["embedding"]) for r in coarse.collect()
    }
    kw = dict(m=m, ksub=ksub, seed=seed, id_col=id_col, vec_col=vec_col)
    if codebooks is None and residual:
        codebooks = train_pq_codebooks_residual(
            vectors, [centroids[b] for b in sorted(centroids)], **kw
        )
    elif codebooks is None:
        codebooks = train_pq_codebooks(vectors, **kw)
    if residual:
        codes = pq_encode_residual(vectors, coarse, codebooks, id_col, vec_col)
        return centroids, codebooks, codes
    bucketed = assign_ivf_buckets(
        vectors, coarse, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col), "centroid_id")
    codes = pq_encode(vectors, codebooks, id_col, vec_col).join(bucketed, id_col)
    return centroids, codebooks, codes


def write_ivfpq_index(
    vectors: DataFrame,
    path: str,
    coarse_k: int = 8,
    m: int = 16,
    ksub: int = 16,
    seed: int = 42,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize the production IVF+PQ index: train the coarse
    codebook (k-means||) and PQ sub-quantizers, write the code table
    PARTITIONED BY centroid_id under ``<path>/codes`` (a probe reads
    only its nprobe buckets' files via partition pruning — the rest of
    a 100 TB corpus is never opened, and the opened part is the
    ~32x-compressed codes, not the vectors), and persist the model
    artifacts (centroids + codebooks, kilobytes) as a JSON sidecar
    under ``<path>/meta``.  Returns the meta dict.

    Mirrors :func:`..operators.similarity.write_ivf_index`, which
    stores full vectors; this stores codes — the variant whose probe
    I/O stays constant-size per bucket as dimensionality grows."""
    import json

    centroids, books, codes = _ivfpq_model(
        vectors, coarse_k, m, ksub, seed, residual, id_col, vec_col
    )
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/codes"
    )
    meta = {"residual": residual, "centroids": centroids, "codebooks": books}
    # JSON round-trips python floats exactly (shortest-repr), so the
    # reloaded codebooks reproduce bit-identical ADC tables
    vectors.sparkSession.createDataFrame(
        [(json.dumps(meta, sort_keys=True),)], "value string"
    ).coalesce(1).write.mode("overwrite").text(f"{path}/meta")
    return meta


def ivfpq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against the PERSISTED IVF+PQ index: reload
    the model sidecar (one bounded row), compute each query's probed
    buckets, scan ONLY those partitions of the code table (the
    ``isin`` on the partition column reaches the file index as a
    PartitionFilter — plan-asserted in tests), broadcast-ADC the
    shortlist, and exact-rerank against ``vectors`` (a
    shortlist-sized semi-join read).  The two ``collect()``s are the
    sidecar and the probed-bucket id list — probe-side constants,
    never corpus-sized."""
    import json

    meta = json.loads(
        spark.read.text(f"{path}/meta").collect()[0]["value"]
    )
    centroids = {int(b): v for b, v in meta["centroids"].items()}
    books = meta["codebooks"]
    probe = _probe_pairs_df(
        queries, centroids, nprobe, id_col, vec_col
    ).cache()
    buckets = [
        r["centroid_id"]
        for r in probe.select("centroid_id").distinct().collect()
    ]
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("centroid_id").isin(buckets)
    )
    cand = _ivfpq_cand(
        codes, centroids, books, queries, nprobe, shortlist,
        id_col, vec_col, bool(meta["residual"]), probe=probe,
    )
    return _exact_rerank(cand, vectors, queries, k, id_col, vec_col)


def pq_shortlist_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ pipeline: ADC over the compressed codes
    produces a ``shortlist``-sized candidate set per query, then ONLY
    those candidates' full vectors are fetched (a semi-join — at
    100 TB this reads a shortlist-sized sliver, not the corpus) and
    re-ranked by exact cosine.  Output matches
    :func:`..operators.similarity.brute_force_topk`'s shape
    ``(query_id, neighbor_id, cosine, rank)``; it equals the exact
    result whenever the true top-k survives into the ADC shortlist —
    the recall gate the tests measure.
    """
    cand = pq_adc_topk(codes, codebooks, queries, k=shortlist, id_col=id_col).select(
        "query_id", F.col(id_col).alias("neighbor_id")
    )
    return _exact_rerank(cand, vectors, queries, k, id_col, vec_col)


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_k: int = 8,
    nprobe: int = 2,
    m: int = 16,
    ksub: int = 16,
    shortlist: int = 50,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    coarse: "DataFrame | None" = None,
    tables: str = "auto",
    broadcast_threshold: int = 16,
) -> DataFrame:
    """The full IVF+PQ retrieval stack composed from the engine's own
    parts: k-means||-trained coarse centroids route every vector to a
    bucket (`assign_ivf_buckets`); vectors are PQ-encoded; a query
    probes only its ``nprobe`` nearest buckets, ADC-scans just those
    buckets' codes for a ``shortlist``, and exact-cosine re-ranks the
    shortlisted full vectors — at 100 TB the scan touches
    nprobe/coarse_k of the (already 16-32× compressed) code table and
    the full-vector fetch is shortlist-sized.

    One scan serves all queries: each query's ADC distance is gated by
    a per-query bucket-membership predicate, so unprobed buckets
    contribute NULL and drop before ranking.  With
    ``nprobe == coarse_k`` and ``shortlist >= |corpus|`` the result is
    bit-equal to ``brute_force_topk`` (the registry's exact gate).

    This variant quantizes raw normalized vectors (IVF prunes, PQ
    compresses); residual encoding (quantize ``x − centroid``) is the
    classic refinement when buckets are tight — same plumbing, one
    extra subtraction before encode.
    """
    centroids, books, codes = _ivfpq_model(
        vectors, coarse_k, m, ksub, seed, False, id_col, vec_col, coarse, codebooks
    )
    cand = _ivfpq_cand(
        codes, centroids, books, queries, nprobe, shortlist, id_col, vec_col,
        False, tables, broadcast_threshold,
    )
    return _exact_rerank(cand, vectors, queries, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Residual encoding — the classic IVF+PQ refinement (FAISS's IVFPQ):
# quantize x − centroid(bucket) instead of x.  Residuals concentrate
# near the origin, so the same m×ksub budget spends its cells on the
# local neighborhood structure instead of re-describing the coarse
# geometry — recall rises at identical storage cost.
# ---------------------------------------------------------------------------


def train_pq_codebooks_residual(
    vectors: DataFrame,
    coarse_centroids: list[list[float]],
    m: int = 16,
    ksub: int = 16,
    max_iter: int = 25,
    seed: int = 42,
    max_train: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Sub-quantizers fitted on RESIDUALS: the same deterministic
    hash-ordered sample, each vector assigned to its max-dot coarse
    centroid driver-side (identical argmax/tie rule as
    ``assign_ivf_buckets``), codebooks fitted on ``nv - centroid``."""
    import numpy as np

    X = _train_sample(vectors, m, seed, max_train, id_col, vec_col)
    C = np.array(coarse_centroids, dtype=np.float64)
    a = (X @ C.T).argmax(axis=1)  # first-index ties, like the engine
    R = X - C[a]
    return _fit_subquantizers(R, m, ksub, max_iter, seed)


def pq_encode_residual(
    vectors: DataFrame,
    coarse: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, centroid_id, codes)`` — residual sub-codes.  Bucket
    assignment + a broadcast join for the centroid array, then one
    codegen'd projection; the residual never materializes."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        assign_ivf_buckets,
    )

    nv = unit_vectors(vectors, id_col, vec_col)
    assigned = assign_ivf_buckets(
        vectors, coarse, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("id"), "centroid_id")
    cdim = coarse.select(
        "centroid_id", F.col("embedding").alias("cvec")
    )
    rows = (
        nv.join(assigned, "id")
        .join(F.broadcast(cdim), "centroid_id")
    )
    return rows.select(
        F.col("id").alias(id_col),
        "centroid_id",
        nearest_codes("nv", codebooks, minus="cvec").alias("codes"),
    )


def ivf_pq_topk_residual(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_k: int = 8,
    nprobe: int = 2,
    m: int = 16,
    ksub: int = 16,
    shortlist: int = 50,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: str = "auto",
    broadcast_threshold: int = 16,
) -> DataFrame:
    """IVF+PQ with residual encoding: each probed bucket gets its own
    query distance table (the query's residual differs per bucket), so
    the per-row ADC cost is the same m lookups, gated by a bucket CASE
    — still one scan for all queries, still hash-equal to brute force
    at full probe + corpus shortlist (the rerank covers everything).

    ``tables`` works as in :func:`pq_adc_topk`: ``"literal"`` inlines
    one m×ksub table per (query, probed bucket) into the plan;
    ``"broadcast"`` materializes them as a broadcast DataFrame keyed by
    (query_id, centroid_id, j, code) so the plan stays constant-size
    for large query batches."""
    centroids, books, codes = _ivfpq_model(
        vectors, coarse_k, m, ksub, seed, True, id_col, vec_col
    )
    cand = _ivfpq_cand(
        codes, centroids, books, queries, nprobe, shortlist, id_col, vec_col,
        True, tables, broadcast_threshold,
    )
    return _exact_rerank(cand, vectors, queries, k, id_col, vec_col)
