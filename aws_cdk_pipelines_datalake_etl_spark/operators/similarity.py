"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring what a 100 TB vector corpus needs:

- **Brute-force top-k** — exact cosine against a (small) query set.
  The query set is broadcast, so the big side streams through a
  narrow map + per-query top-k window; no all-pairs shuffle.  This is
  the correctness baseline.
- **IVF-style bucketed ANN** — vectors are assigned to their nearest
  centroid (a fixed, deterministic codebook) at write time; a query
  probes only the ``nprobe`` nearest buckets, cutting the scanned
  fraction to ~nprobe/n_centroids.  Approximate (recall < 1 when the
  true neighbor lives in an unprobed bucket) — the scale path.

Cosines are computed with sequential-fold array expressions
(:mod:`..functions.vector`) entirely JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.functions.rounding import pround

from aws_cdk_pipelines_datalake_etl_spark.functions.vector import (
    as_double_array,
    cosine,
    max_dot,
    nearest_centroid,
    unit_vectors,
)


def _with_double_vec(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.withColumn(out, as_double_array(vec_col))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``queries`` is expected to be small (it is broadcast); neighbors
    exclude the query vector itself.  Output is deterministic: ties
    broken by neighbor id on the 6-dp-rounded cosine.
    """
    v = _with_double_vec(vectors, vec_col, "v").select(
        F.col(id_col).alias("neighbor_id"), "v"
    )
    q = _with_double_vec(queries, vec_col, "q").select(
        F.col(id_col).alias("query_id"), "q"
    )
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
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


def assign_ivf_buckets(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: each vector to its nearest centroid (by cosine).

    ``centroids`` is a small broadcast codebook DataFrame
    (centroid_id, embedding).  At scale this runs once at ingest and
    the output is written bucketed/partitioned by centroid_id so a
    probe only reads its buckets' files (partition pruning).
    """
    v = _with_double_vec(vectors, vec_col, "v").select(id_col, "v")
    c = _with_double_vec(centroids, vec_col, "c").select(
        F.col("centroid_id"), "c"
    )
    scored = v.join(F.broadcast(c)).withColumn("sim", pround(cosine("v", "c"), 6))
    # argmax via max_by partial agg, not a row_number window (r12,
    # guide §2.3/§2.4): the window form shuffled |codebook| x n rows
    # WITH the vector payload and sorted them; the partial max_by
    # collapses each vector's |codebook| candidates map-side, so the
    # exchange carries one row per vector and there is no sort — at
    # sf0.1 the two tie (interleaved A/B: 1.85 s vs 1.88 s median on
    # the IVF probe), at scale the shuffle is |codebook|-times
    # smaller.  (A third, zero-shuffle variant — fold an argmax over
    # a collected codebook array per row — was measured ~0.6 s/pass
    # SLOWER here: the nested transform/aggregate/zip_with lambdas
    # run interpreted, the winnow lambda cliff.)  Ordering is
    # identical to the old (sim DESC, centroid_id ASC) tie-break:
    # lexicographic max of (sim, -centroid_id); NULL sims (zero-norm
    # vectors) coalesce to -Infinity so an all-NULL vector still
    # resolves to the smallest centroid_id, exactly as
    # desc_nulls_last + rn=1 did.  first("v") is value-deterministic:
    # every row in the group carries the same vector.
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.col("centroid_id"),
            F.struct(
                F.coalesce(F.col("sim"), F.lit(float("-inf"))).alias("s"),
                (-F.col("centroid_id")).alias("t"),
            ),
        ).alias("centroid_id"),
        F.first("v").alias("v"),
    )
    return best.select(id_col, "centroid_id", "v")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` closest buckets.

    Candidate set = vectors whose bucket is among the query's nprobe
    nearest centroids; exact cosine + top-k inside the candidates.
    """
    bucketed = assign_ivf_buckets(vectors, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("centroid_id").alias("v_bucket"),
        "v",
    )
    q = _with_double_vec(queries, vec_col, "q").select(
        F.col(id_col).alias("query_id"), "q"
    )
    c = _with_double_vec(centroids, vec_col, "c").select("centroid_id", "c")
    qprobe = (
        q.join(F.broadcast(c))
        .withColumn("sim", pround(cosine("q", "c"), 6))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q", F.col("centroid_id").alias("v_bucket"))
    )
    scored = (
        bucketed.join(F.broadcast(qprobe), "v_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", pround(cosine("q", "v"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def write_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: vectors assigned to their nearest
    centroid, written PARTITIONED BY centroid_id — the ingest-time
    half of the ANN contract that :func:`assign_ivf_buckets`'s
    docstring promises.  A probe then reads only its nprobe buckets'
    files via partition pruning; the rest of a 100 TB corpus is never
    opened.

    The write repartitions by the partition column first (guide §6):
    without it every write task opens a file in every bucket it sees
    — up to tasks x buckets small files — and every later probe pays
    the open cost; clustered, each bucket's rows land in one task's
    file(s).  One exchange at ingest time, paid once, read many."""
    assign_ivf_buckets(vectors, centroids, id_col, vec_col).select(
        F.col(id_col), F.col("v").alias("v"), "centroid_id"
    ).repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against the PERSISTED index: compute each
    query's nprobe nearest centroids, then scan only those partitions
    of the index (the ``isin`` filter on the partition column reaches
    the file index as a PartitionFilter — plan-asserted in tests).

    The ``collect()`` is the probed-bucket ID LIST — bounded by
    ``n_queries × nprobe`` (both probe-side constants), never by
    corpus size."""
    q = _with_double_vec(queries, vec_col, "q").select(
        F.col(id_col).alias("query_id"), "q"
    )
    c = _with_double_vec(centroids, vec_col, "c").select("centroid_id", "c")
    qprobe = (
        q.join(F.broadcast(c))
        .withColumn("sim", pround(cosine("q", "c"), 6))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q", F.col("centroid_id").alias("v_bucket"))
        # staged once (eager localCheckpoint): consumed by the bucket
        # list collect AND broadcast into the scored join — unstaged,
        # both re-ran the query x centroid window (r12)
        .localCheckpoint(eager=True)
    )
    buckets = [r.v_bucket for r in qprobe.select("v_bucket").distinct().collect()]
    idx = (
        spark.read.parquet(index_path)
        .filter(F.col("centroid_id").isin(buckets))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("centroid_id").alias("v_bucket"),
            "v",
        )
    )
    scored = (
        idx.join(F.broadcast(qprobe), "v_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", pround(cosine("q", "v"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def train_ivf_codebook(
    vectors: DataFrame,
    n_centroids: int = 8,
    max_iter: int = 10,
    seed: int = 42,
    init_rounds: int = 3,
    oversample: int | None = None,
    sample_fraction: float | None = None,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed, seeded, deterministic spherical k-means|| training
    for the IVF codebook that :func:`assign_ivf_buckets` consumes.

    Algorithm (Bahmani et al., *Scalable K-Means++*, VLDB 2012, adapted
    to cosine/spherical geometry):

    1. **Normalize** — vectors are L2-normalized once (zero vectors are
       dropped from training), so max-dot == max-cosine and the
       centroid update is the renormalized mean (spherical k-means).
    2. **k-means|| init** — the first seed is the row with the minimum
       ``xxhash64(id, seed)`` (deterministic "random" pick); then
       ``init_rounds`` rounds each compute the cost
       ``d(x) = max(0, 1 - max_c cos(x, c))`` distributed, and sample
       each point with probability ``min(1, l * d(x) / phi)`` using a
       *hash* uniform (``xxhash64(id, seed + round)``) instead of an
       RNG, so the oversampled candidate set is identical on every run
       and every executor.  Candidates are weighted by the size of
       their Voronoi cell (one distributed count) and reduced to
       ``n_centroids`` seeds with driver-side weighted spherical
       k-means over the ~``l * rounds`` candidates (numpy, seeded) —
       the standard k-means|| final reduction.
    3. **Lloyd refinement** — ``max_iter`` distributed rounds: assign
       every vector to its nearest centroid with JVM-side fold
       expressions (the k centroids ride along as literal arrays — no
       join, no UDF), then one ``groupBy(cluster)`` computing count +
       per-dimension sums (map-side partial agg; k output rows).  The
       k-row result is collected (an O(k·dim) control scalar, same
       class as the z-order min/max), renormalized, rounded to 9 dp to
       damp float-sum jitter, and re-broadcast as literals.  Empty
       clusters keep their previous centroid.  Stops early when the
       max centroid movement drops below ``tol``.

    Scale: every round is one scan + one k-row shuffle; pass
    ``sample_fraction`` to train on a deterministic Bernoulli sample
    (at 100 TB you train the codebook on ~1e6 vectors, not the corpus —
    IVF quality does not need the full population).

    Returns a DataFrame ``(centroid_id int, embedding array<double>)``
    ready to feed :func:`assign_ivf_buckets` / :func:`ivf_topk`.
    """
    import numpy as np

    spark = vectors.sparkSession
    if oversample is None:
        oversample = 2 * n_centroids

    base = vectors
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)

    train = unit_vectors(base, id_col, vec_col).cache()
    try:
        dim_row = train.select(F.size("nv").alias("d")).first()
        if dim_row is None:
            raise ValueError("train_ivf_codebook: no non-zero vectors to train on")
        dim = dim_row["d"]

        # --- k-means|| init -------------------------------------------------
        first = (
            train.withColumn("h", F.xxhash64(F.col("id"), F.lit(seed)))
            .orderBy("h", "id")
            .select("nv")
            .first()
        )
        candidates: list[list[float]] = [list(first["nv"])]
        for r in range(init_rounds):
            cost = F.greatest(F.lit(0.0), F.lit(1.0) - max_dot("nv", candidates))
            phi_row = train.select(F.sum(cost).alias("phi")).first()
            phi = float(phi_row["phi"] or 0.0)
            if phi <= 0:
                break  # every point coincides with a candidate
            u = (
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1000 + r)), F.lit(10**9))
                / F.lit(1e9)
            )
            prob = F.least(F.lit(1.0), F.lit(float(oversample)) * cost / F.lit(phi))
            picked = train.filter(u < prob).select("nv").collect()
            candidates.extend(list(p["nv"]) for p in picked)

        # weight candidates by Voronoi cell size (one distributed count)
        wrows = (
            train.select(nearest_centroid("nv", candidates).alias("c"))
            .groupBy("c")
            .count()
            .collect()
        )
        weights = np.zeros(len(candidates))
        for row in wrows:
            weights[row["c"]] = row["count"]
        C = np.array(candidates, dtype=np.float64)

        # driver-side weighted spherical k-means over the tiny candidate set
        k = min(n_centroids, len(C))
        order = np.argsort(-weights, kind="stable")
        seeds = C[order[:k]].copy()
        for _ in range(50):
            a = (C @ seeds.T).argmax(axis=1)
            new = seeds.copy()
            for j in range(k):
                w = weights[a == j]
                if w.sum() > 0:
                    m = (C[a == j] * w[:, None]).sum(axis=0) / w.sum()
                    n2 = np.linalg.norm(m)
                    if n2 > 0:
                        new[j] = m / n2
            if np.abs(new - seeds).max() < 1e-12:
                seeds = new
                break
            seeds = new
        centroids = [np.round(s, 9).tolist() for s in seeds]

        # --- distributed Lloyd refinement -----------------------------------
        for _ in range(max_iter):
            assigned = train.select(
                nearest_centroid("nv", centroids).alias("cluster"), "nv"
            )
            # the dim per-dimension sums as ONE SQL string (py4j: one
            # expression, not dim Column trees); the same sum aggregates
            sums = ", ".join(f"sum(nv[{i}])" for i in range(dim))
            agg = (
                assigned.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"), F.expr(f"array({sums})").alias("s"))
                .collect()
            )
            new_centroids = [list(c) for c in centroids]
            moved = 0.0
            for row in agg:
                s = np.array(row["s"], dtype=np.float64)
                n2 = np.linalg.norm(s)
                if row["n"] > 0 and n2 > 0:
                    c_new = np.round(s / n2, 9)
                    moved = max(
                        moved,
                        float(
                            np.abs(
                                c_new - np.array(centroids[row["cluster"]])
                            ).max()
                        ),
                    )
                    new_centroids[row["cluster"]] = c_new.tolist()
            centroids = new_centroids
            if moved < tol:
                break
    finally:
        train.unpersist()

    return spark.createDataFrame(
        [(j, c) for j, c in enumerate(centroids)],
        "centroid_id int, embedding array<double>",
    )


def ann_recall_at_k(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k of the IVF probe vs the exact brute-force
    ground truth, per query: ``(query_id, hits, recall)``.

    This is the gate that makes an approximate index trustworthy —
    an IVF layout without a measured recall is an unknown, not an
    optimization."""
    truth = brute_force_topk(vectors, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(vectors, queries, centroids, k, nprobe, id_col, vec_col).select(
        "query_id", F.col("neighbor_id").alias("approx_id")
    )
    hits = truth.join(
        approx,
        (truth["query_id"] == approx["query_id"])
        & (truth["neighbor_id"] == approx["approx_id"]),
        "left",
    ).select(truth["query_id"], F.col("approx_id").isNotNull().alias("hit"))
    return (
        hits.groupBy("query_id")
        .agg(F.sum(F.col("hit").cast("int")).alias("hits"))
        .withColumn("recall", pround(F.col("hits") / F.lit(float(k)), 6))
        .select("query_id", "hits", "recall")
    )


def ann_recall_summary(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row corpus summary of :func:`ann_recall_at_k`:
    ``(n_queries, mean_recall, min_recall)``."""
    per_q = ann_recall_at_k(vectors, queries, centroids, k, nprobe, id_col, vec_col)
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        pround(F.avg("recall"), 6).alias("mean_recall"),
        pround(F.min("recall"), 6).alias("min_recall"),
    )


def hyperplane_lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    nbits: int = 96,
    bands: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold via random-hyperplane LSH
    — the 100 TB path that replaces the all-pairs product of
    :func:`embedding_near_dup_pairs`.

    Sign-bit signatures (SimHash for vectors, Charikar 2002): bit i is
    ``sign(v . h_i)`` for a fixed seeded Gaussian hyperplane h_i; two
    vectors at angle theta agree per bit with prob 1 - theta/pi.  Bits
    are grouped into ``bands`` bands of r = nbits/bands rows; vectors
    sharing any full band land in one LSH bucket.  A true pair at
    cosine c is missed with prob (1 - p^r)^bands — at the defaults
    and c = 0.4 that is ~1e-4, driven to equality-with-exact at test
    scale (the oracle's claim), and vanishing for the high-c pairs
    dedup actually targets.

    Physical plan: one Arrow-batched pandas UDF pass computes all
    band keys per vector with a single numpy matmul (N x dim @ dim x
    nbits — this is the textbook case where a vectorized UDF beats
    96 fold-expressions); explode to (bucket_key, id); ONE shuffle on
    the packed long key; pairs expand inside each bucket; exact
    JVM-side cosine verifies every candidate.  No all-pairs join
    anywhere, and bucket keys shuffle as 8-byte longs.
    """
    from pyspark.sql.functions import pandas_udf

    if nbits % bands:
        raise ValueError("nbits must be divisible by bands")
    rows_per_band = nbits // bands

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf cannot resolve — series-to-series is
    # inferred from the single argument
    @pandas_udf("array<long>")
    def band_keys(embs):
        import numpy as np
        import pandas as pd

        M = np.stack(embs.to_numpy())  # N x dim
        # hyperplanes depend only on (dim, nbits, seed) — identical
        # in every batch on every executor
        H = np.random.RandomState(seed).standard_normal((M.shape[1], nbits))
        bits = (M @ H) > 0  # N x nbits
        packed = bits.reshape(len(M), bands, rows_per_band) @ (
            1 << np.arange(rows_per_band, dtype=np.int64)
        )  # N x bands, each < 2^r
        # disambiguate band index into the key: (band << r) | rowbits
        keys = (np.arange(bands, dtype=np.int64) << rows_per_band) | packed
        return pd.Series(list(keys))

    banded = vectors.select(
        F.col(id_col).alias("id"), F.explode(band_keys(F.col(vec_col))).alias("bk")
    )
    buckets = (
        banded.groupBy("bk")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    candidates = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " y -> named_struct('id1', least(x, y), 'id2', greatest(x, y)))))"
                )
            ).alias("p")
        )
        .select("p.id1", "p.id2")
        .distinct()
    )
    v1 = _with_double_vec(vectors, vec_col, "v1").select(
        F.col(id_col).alias("id1"), "v1"
    )
    v2 = _with_double_vec(vectors, vec_col, "v2").select(
        F.col(id_col).alias("id2"), "v2"
    )
    return (
        candidates.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cosine", pround(cosine("v1", "v2"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (exact; all-pairs join —
    verification-grade.  At scale, run :func:`assign_ivf_buckets`
    first and only compare within buckets)."""
    v1 = _with_double_vec(vectors, vec_col, "v1").select(
        F.col(id_col).alias("id1"), "v1"
    )
    v2 = _with_double_vec(vectors, vec_col, "v2").select(
        F.col(id_col).alias("id2"), "v2"
    )
    return (
        v1.join(v2, F.col("id1") < F.col("id2"))
        .withColumn("cosine", pround(cosine("v1", "v2"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def derive_semantic_centroids(
    vectors: DataFrame,
    target_cluster_rows: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 262_144,
    **trainer_kwargs,
) -> DataFrame:
    """Auto-derive a SemDeDup codebook sized to the corpus:
    ``n_centroids = ceil(N / target_cluster_rows)`` so the *expected*
    cluster size stays constant as the corpus grows (the SemDeDup
    contract "grow centroids with corpus size", now computed rather
    than hand-tuned).  Training runs :func:`train_ivf_codebook` on a
    deterministic Bernoulli sample capped at ``max_train_rows`` —
    codebook quality does not need the full population, and the
    driver-side cost is one ``count()`` plus the k-row centroid
    collects the trainer already bounds.

    Note the driver memory envelope: k grows linearly with N at fixed
    ``target_cluster_rows`` (k x dim doubles on the driver).  For
    very large corpora raise ``target_cluster_rows`` so k stays in
    the 1e4-1e6 range — the *hard* per-task bound is enforced
    downstream by :func:`semantic_dedup_pairs`' block grid either
    way, so an undersized codebook degrades cost, not correctness or
    memory safety."""
    n = vectors.count()
    if n == 0:
        raise ValueError("cannot derive centroids from an empty corpus")
    k = max(1, -(-n // target_cluster_rows))
    frac = min(1.0, max_train_rows / n)
    return train_ivf_codebook(
        vectors,
        n_centroids=k,
        seed=seed,
        sample_fraction=None if frac >= 1.0 else frac,
        id_col=id_col,
        vec_col=vec_col,
        **trainer_kwargs,
    )


def _assigned_with_norm(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, centroid_id, v, nrm) assignment frame shared by the
    semantic-dedup pair stage and the survivors' final projection.

    Staged once (eager ``localCheckpoint``): otherwise the assignment
    subtree (scan + |codebook| broadcast cosines + argmax agg) is
    recomputed by every consumer — the bucket-count agg, both sides
    of the pair join and the survivors projection (r12).
    ``localCheckpoint`` rather than ``persist()``: a persisted plan
    is keyed on the canonicalized plan and shared across repeated
    identical calls, so bench re-runs would time a cache hit."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.vector import norm

    return (
        assign_ivf_buckets(vectors, centroids, id_col, vec_col)
        .withColumn("nrm", norm("v"))
        .localCheckpoint(eager=True)
    )


def semantic_dedup_pairs(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = 4096,
    target_cluster_rows: int = 4096,
    seed: int = 42,
    _assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style bucketed near-duplicate pairs (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023 — public literature): assign every vector to
    its nearest centroid (:func:`assign_ivf_buckets`), then compare
    pairs ONLY within a bucket.  ``centroids=None`` auto-derives a
    corpus-proportional codebook (:func:`derive_semantic_centroids`).

    **Skew guard (mechanism, not knob).**  A single mega-cluster —
    boilerplate in real web corpora — would make the naive
    bucket-local self-join quadratic *in one task*.  With
    ``max_bucket_rows`` set (the default), each bucket is split into
    ``B = ceil(n_bucket / max_bucket_rows)`` deterministic hash
    blocks and the self-join runs over the upper-triangular *block
    grid*: the left side carries block ``b1`` and is exploded to
    target blocks ``b1..B-1``; the right side joins on its own block.
    Every unordered pair is produced exactly once (within-block pairs
    by the ``id1 < id2`` filter, cross-block pairs by the triangular
    explode), so the pair set — and therefore the survivor set — is
    **provably identical** to the unguarded join (property-tested),
    while per-task candidate volume is bounded by
    ``max_bucket_rows**2`` whatever the cluster-size distribution.
    The inherent quadratic work of a mega-cluster is spread over
    ``B*(B+1)/2`` even tasks instead of one straggler; left-side
    shuffle volume grows by the ~``B/2`` replication factor, the
    price of exact semantics.  ``max_bucket_rows=None`` keeps the
    legacy single-key join (used by the invariance test).
    """
    from aws_cdk_pipelines_datalake_etl_spark.functions.vector import dot

    if centroids is None:
        centroids = derive_semantic_centroids(
            vectors, target_cluster_rows, seed, id_col, vec_col
        )

    # per-VECTOR norm computed once (same fold arithmetic as cosine()),
    # so the quadratic pair stage pays one dot fold + a divide per pair
    # instead of three folds — bit-identical values.  (An unrolled
    # codegen dot was measured SLOWER here: a 128-term element_at chain
    # exceeds what whole-stage codegen handles well, unlike winnow's
    # small closed forms — the lambda fold's optimized loop wins at
    # dim 64.)
    b = (
        _assigned
        if _assigned is not None
        else _assigned_with_norm(vectors, centroids, id_col, vec_col)
    )
    sim_expr = pround(dot("v1", "v2") / (F.col("n1") * F.col("n2")), 6)

    if max_bucket_rows is None:
        a1 = b.select(
            F.col(id_col).alias("id1"), "centroid_id",
            F.col("v").alias("v1"), F.col("nrm").alias("n1"),
        )
        a2 = b.select(
            F.col(id_col).alias("id2"), "centroid_id",
            F.col("v").alias("v2"), F.col("nrm").alias("n2"),
        )
        return (
            a1.join(a2, "centroid_id")
            .filter(F.col("id1") < F.col("id2"))
            .withColumn("cosine", sim_expr)
            .filter(F.col("cosine") >= threshold)
            .select("centroid_id", "id1", "id2", "cosine")
        )

    # Block grid: one tiny per-bucket count agg (broadcast back), then
    # deterministic block ids — no driver action, fully declarative.
    # Buckets at or under the cap get B=1 and degrade to the legacy
    # shape (block 0 joins block 0) at the cost of one constant key.
    counts = b.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_bn"))
    bb = (
        b.join(F.broadcast(counts), "centroid_id")
        .withColumn(
            "_nb", F.ceil(F.col("_bn") / F.lit(max_bucket_rows)).cast("int")
        )
        .withColumn(
            "_blk",
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.col("_nb")).cast(
                "int"
            ),
        )
    )
    a1 = bb.select(
        F.col(id_col).alias("id1"), "centroid_id",
        F.col("v").alias("v1"), F.col("nrm").alias("n1"),
        F.col("_blk").alias("_b1"),
        F.explode(F.sequence(F.col("_blk"), F.col("_nb") - 1)).alias("_tgt"),
    ).alias("a1")
    a2 = bb.select(
        F.col(id_col).alias("id2"),
        F.col("centroid_id").alias("_c2"),
        F.col("v").alias("v2"), F.col("nrm").alias("n2"),
        F.col("_blk").alias("_b2"),
    ).alias("a2")
    return (
        a1.join(
            a2,
            (F.col("centroid_id") == F.col("_c2"))
            & (F.col("_tgt") == F.col("_b2")),
        )
        # within a block both orderings appear -> keep id1 < id2; across
        # blocks the triangular explode already yields each pair once,
        # in arbitrary id order -> keep all and canonicalize below
        .filter((F.col("_b1") < F.col("_b2")) | (F.col("id1") < F.col("id2")))
        .withColumn("cosine", sim_expr)
        .filter(F.col("cosine") >= threshold)
        .select(
            "centroid_id",
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
            "cosine",
        )
    )


def semantic_dedup_survivors(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = 4096,
    target_cluster_rows: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Semantic dedup keep-set: drop every vector that is the LARGER
    id of an epsilon-similar pair within its semantic cluster (i.e.
    each near-dup pair keeps its smaller id — a deterministic,
    SQL-checkable representative rule; SemDeDup's keep-one-per-group
    collapses to exactly this under pairwise epsilon since dropping
    id2 of every pair leaves the per-group minimum).  Returns
    ``(vec_id, centroid_id)`` survivors; one anti-join over the
    bucket-local pair set.  Pair generation runs the
    :func:`semantic_dedup_pairs` block-grid skew guard (identical
    pair set, bounded per-task volume); ``centroids=None``
    auto-derives the codebook ONCE and reuses it for both the pair
    stage and the final assignment.  The staged assignment frame
    (:func:`_assigned_with_norm`) is computed once and shared by the
    pair join's two sides, the bucket-count agg and this final
    projection."""
    if centroids is None:
        centroids = derive_semantic_centroids(
            vectors, target_cluster_rows, seed, id_col, vec_col
        )
    assigned = _assigned_with_norm(vectors, centroids, id_col, vec_col)
    pairs = semantic_dedup_pairs(
        vectors, centroids, threshold, id_col, vec_col,
        max_bucket_rows, target_cluster_rows, seed,
        _assigned=assigned,
    )
    dropped = pairs.select(F.col("id2").alias(id_col)).distinct()
    return (
        assigned
        .join(dropped, id_col, "left_anti")
        .select(id_col, "centroid_id")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q8",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|x| / 127, values -> round(x / scale) in [-127, 127].
    At 100 TB of vectors this is the 4x storage/shuffle cut (float32
    -> int8 + one float scale) that makes ANN layouts affordable;
    reconstruction error is bounded by scale/2 per component.

    Pure codegen'd array expressions (aggregate + transform), no UDF.
    Rounding is floor(x + 0.5) so the quantized codes are identical on
    any engine (banker's rounding differs across engines).  All-zero
    vectors get scale 0 and all-zero codes.
    """
    v = as_double_array(vec_col)
    absmax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = absmax / F.lit(127.0)
    codes = F.transform(
        v,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.floor(x / scale + 0.5))
        .cast("int"),
    )
    return df.withColumn(scale_col, scale).withColumn(q_col, codes)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q8",
    scale_col: str = "scale",
    out_col: str = "embedding_hat",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (approximate)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda c: c.cast("double") * F.col(scale_col)),
    )


def random_projection_microunits(
    df: DataFrame,
    dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    deterministic Rademacher (+-1) matrix — the standard cheap
    pre-step before LSH bucketing or coarse clustering when the
    native embedding dim is large.

    The sign matrix is arithmetic, not RNG-seeded:
    ``sign(i, j) = 1 - 2 * (bit 16 of (i*2654435761 + j*40503))`` — a
    Knuth-multiplicative-hash bit that mixes i and j, portable to any
    engine, so the DuckDB oracle reproduces it bit-for-bit.  (An
    earlier additive form ``(i*7 + j*13) mod 2`` reduced to
    ``(i+j) mod 2`` — a RANK-1 matrix whose rows are all +-p0;
    ``tests/test_similarity.py`` now asserts full rank and that
    projected distances correlate with input distances.)  Each
    input component is quantized to integer micro-units
    (``floor(x*1e6 + 0.5)``, the engine-exactness device used
    throughout the registry) BEFORE the signed sum, so the projection
    is integer arithmetic: associative, order-independent,
    cross-engine exact.

    Plan: pure row-local ``aggregate`` over a literal index sequence —
    zero shuffle, whole-stage codegen, no Python.  At 100 TB this is a
    narrow map whose cost is dim*out_dim multiply-adds per row.
    """
    cols = [F.col(id_col)]
    for j in range(out_dim):
        cols.append(
            F.expr(
                f"aggregate(sequence(0, {dim - 1}), 0L, (acc, i) -> acc + "
                f"CAST(floor(CAST(element_at({vec_col}, i + 1) AS DOUBLE) "
                f"* 1000000 + 0.5) AS BIGINT) * "
                f"(1 - 2 * (((i * 2654435761 + {j * 40503}) div 65536) % 2)))"
            ).alias(f"p{j}")
        )
    return df.select(*cols)


def contrastive_triplets(
    vectors: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor, positive, hard-negative) triplet mining for metric
    learning (the batch-hard strategy of Hermans et al. 2017, "In
    Defense of the Triplet Loss", applied corpus-wide): for each
    anchor, the positive is its most-similar SAME-label vector and the
    negative its most-similar DIFFERENT-label vector — the hardest
    pair, which drives triplet-loss training.

    ``anchors`` (id, vec, label) is the small broadcast side; the
    corpus never reshuffles.  Instead of two ranking windows, ONE hash
    aggregation per anchor computes both argmaxes as conditional
    struct-maxes over (cosine, -id) — max cosine first, then smallest
    id on ties, the repo's deterministic-tie contract on 6-dp-rounded
    cosines.  Anchors with no same-label (or no different-label) peer
    keep their row with NULLs.

    Output: (anchor_id, pos_id, pos_cosine, neg_id, neg_cosine,
    margin = pos_cosine - neg_cosine) — margin <= 0 flags anchors
    whose nearest neighbor crosses the label boundary (the docs a
    curation pass should inspect).

    Ids must be NUMERIC (the deterministic tie-break rides a
    ``(cosine, -id)`` struct-max; a string id would break the
    negation) — enforced, not assumed (ADVICE r9)."""
    from pyspark.sql import types as T

    id_type = vectors.schema[id_col].dataType
    if not isinstance(id_type, T.NumericType):
        raise TypeError(
            f"contrastive_triplets requires a numeric {id_col!r} for the "
            f"(cosine, -id) tie-break; got {id_type.simpleString()}"
        )
    v = _with_double_vec(vectors, vec_col, "v").select(
        F.col(id_col).alias("nid"), F.col(label_col).alias("nlabel"), "v"
    )
    a = _with_double_vec(anchors, vec_col, "a").select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("a_label"),
        "a",
    )
    scored = v.join(
        F.broadcast(a), F.col("nid") != F.col("anchor_id")
    ).withColumn("cosine", pround(cosine("a", "v"), 6))

    def best(cond) -> F.Column:
        return F.max(
            F.when(
                cond,
                F.struct(
                    F.col("cosine").alias("c"),
                    (-F.col("nid")).alias("neg_id"),
                ),
            )
        )

    agg = scored.groupBy("anchor_id").agg(
        best(F.col("nlabel") == F.col("a_label")).alias("p"),
        best(F.col("nlabel") != F.col("a_label")).alias("n"),
    )
    # ADVICE r9: an anchor with NO peer rows at all (every corpus row
    # is itself) vanishes from the groupBy — left-join the aggregate
    # back onto the anchors frame so every anchor emits a row with
    # NULLs, matching the docstring and the LEFT-JOIN oracle.
    return a.select("anchor_id").join(agg, "anchor_id", "left").select(
        "anchor_id",
        (-F.col("p.neg_id")).cast("long").alias("pos_id"),
        F.col("p.c").alias("pos_cosine"),
        (-F.col("n.neg_id")).cast("long").alias("neg_id"),
        F.col("n.c").alias("neg_cosine"),
        (F.col("p.c") - F.col("n.c")).alias("margin"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_vectors: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic twin
    of the n-gram pass (`text.contamination`): a paraphrased eval
    item shares no 13-gram with its source, but its embedding stays
    close, so modern decontamination (e.g. the phi / GPT-4 technical
    reports) ALSO drops training items whose cosine against any eval
    item clears a threshold.

    ``eval_vectors`` is small by nature and broadcasts; the corpus
    side streams through ONE shuffle-free probe (BroadcastNestedLoop
    against the bounded eval set — the sketch-overlap precedent,
    never a CartesianProduct), matched ids collapse to a distinct
    set, and survivors come from one doc-keyed anti-join.  The
    decision compares the 6-dp-rounded cosine (the brute_force_topk
    exactness device) against ``threshold``, so membership is
    engine-exact.  Output: the surviving corpus rows with every
    non-vector column passed through (``corpus.drop(vec_col)``
    semantics — ADVICE r11: the old hardcoded ``(id, label)``
    projection raised on any corpus frame without a literal
    ``label`` column despite an otherwise-matching contract)."""
    v = _with_double_vec(corpus, vec_col, "v").select(
        F.col(id_col).alias("_cid"), "v"
    )
    q = _with_double_vec(eval_vectors, vec_col, "q").select("q")
    bad = (
        v.crossJoin(F.broadcast(q))
        .filter(pround(cosine("q", "v"), 6) >= F.lit(threshold))
        .select(F.col("_cid").alias(id_col))
        .distinct()
    )
    return corpus.join(bad, id_col, "left_anti").drop(vec_col)
