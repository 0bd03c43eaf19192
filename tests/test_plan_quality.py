"""Physical-plan assertions: the properties that keep queries fast at
100 TB — predicate pushdown, column pruning, broadcast joins,
whole-stage codegen — must hold, not just correctness."""

from __future__ import annotations

from aws_cdk_pipelines_datalake_etl_spark.plans import registry as R
from aws_cdk_pipelines_datalake_etl_spark.plans.explain import (
    assert_broadcast_join,
    assert_pushed_filter,
    assert_read_schema_only,
    formatted_plan,
)

from tests.conftest import SF_DIR_SMOKE


def test_filter_pushdown_reaches_scan(spark):
    df = R.q03_filter_project(spark, SF_DIR_SMOKE)
    assert_pushed_filter(df, "l_quantity")
    assert_pushed_filter(df, "l_shipdate")


def test_column_pruning(spark):
    df = R.q03_filter_project(spark, SF_DIR_SMOKE)
    assert_read_schema_only(
        df,
        "lineitem",
        {
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            # filter-only columns still read (pushed + re-checked)
            "l_shipdate",
            "l_quantity",
        },
    )


def test_dim_join_broadcasts(spark):
    assert_broadcast_join(R.q06_broadcast_dim_join(spark, SF_DIR_SMOKE))


def test_small_dim_auto_broadcasts_in_sql(spark):
    """Even without an explicit hint, Catalyst should broadcast the
    5-row region table under the session's broadcast threshold."""
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, SF_DIR_SMOKE)
    df = spark.sql(
        "SELECT r_name, count(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    assert_broadcast_join(df)


def test_flagship_has_partial_agg_before_exchange(spark):
    """Map-side (partial) aggregation must run before the shuffle —
    at 100 TB that's the difference between shuffling 6 rows per task
    and shuffling the whole table.  (WholeStageCodegen nodes are not
    printed in AQE's pre-execution formatted plan, so we assert the
    aggregation structure instead.)"""
    plan = formatted_plan(R.q01_pricing_summary(spark, SF_DIR_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "Exchange" in plan


def test_exists_decorrelates_to_hash_joins(spark):
    """Correlated EXISTS/NOT EXISTS must plan as (broadcast) hash
    semi/anti joins — per-row subquery re-execution would be O(n*m)."""
    plan = formatted_plan(R.q25_exists_correlated(spark, SF_DIR_SMOKE))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_percentile_aggregates_partially(spark):
    """Exact percentiles still do a partial (map-side) pass before the
    exchange — ObjectHashAggregate with partial buffers."""
    plan = formatted_plan(R.q27_percentiles(spark, SF_DIR_SMOKE))
    assert plan.count("ObjectHashAggregate") >= 2
    assert "Exchange" in plan


def test_pandas_udf_runs_via_arrow(spark):
    """The UDF surface must be the Arrow-vectorized path, not
    row-at-a-time BatchEvalPython."""
    plan = formatted_plan(R.q29_pandas_udf_score(spark, SF_DIR_SMOKE))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_grouping_sets_uses_expand_single_shuffle(spark):
    """GROUPING SETS should plan as Expand + one hash-agg pair — one
    shuffle for all grains, not one scan per grain."""
    import re

    plan = formatted_plan(R.q24_grouping_sets(spark, SF_DIR_SMOKE))
    assert "Expand" in plan
    # formatted plans list each node in the tree AND a detail header
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_packed_ids_single_udf_evaluation(spark):
    """r12 guide §4.4 regression: pack_token_sequences' filter on the
    UDF-computed token_ids column must not duplicate the BPE encode —
    every doc would be tokenized twice.  Exactly ONE ArrowEvalPython
    node in the plan."""
    import re

    plan = formatted_plan(R.corpus_packed_ids(spark, SF_DIR_SMOKE))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    # the encode's input is widened to the session's default parallelism
    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in plan


def test_rho1_no_window_and_staged_model(spark):
    """r13 (VERDICT r12 #1): the per-doc top-k cut is one hash
    aggregation + row-local array algebra — NO Window operator, no
    per-partition sort of the position stream; and the model tables
    are staged (ExistingRDD), because the final adaptive plan showed
    zero exchange reuse unstaged."""
    import re

    plan = formatted_plan(R.corpus_rho1_selection(spark, SF_DIR_SMOKE))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert "ExistingRDD" in plan
    # the only Sort left is the declared oracle-form orderBy(doc_id)
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1


def test_unigram_encode_single_udf_evaluation(spark):
    """ADVICE r12: unigram_encode_ids is the declared twin of
    bpe_encode_ids (same packing tail), so the same guide-§4.4
    filter-pushdown duplication must be guarded: a filter on the
    UDF-computed token_ids column must leave exactly ONE
    ArrowEvalPython node."""
    import re

    from pyspark.sql import functions as F

    from aws_cdk_pipelines_datalake_etl_spark.operators.unigram import (
        unigram_encode_ids,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    scores = {"▁a": -1, "▁b": -2, "a": -3, "b": -4}
    vocab = {"<unk>": 0, "▁a": 1, "▁b": 2, "a": 3, "b": 4}
    out = unigram_encode_ids(docs, scores, vocab).filter(
        F.size("token_ids") > 0
    )
    plan = formatted_plan(out)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_minhash_signature_partial_aggregates(spark):
    """The 128-permutation signature pass must partial-aggregate
    map-side: the shuffle carries 128 mins per doc, not the shingle
    set."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        minhash_band_index,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    # r12: minhash_lsh_pairs stages its candidate table behind an eager
    # localCheckpoint, which truncates the final plan — assert the
    # partial-aggregation property on the signature stage itself (the
    # plan the checkpoint executes).
    plan = formatted_plan(minhash_band_index(docs))
    assert "partial_min" in plan


def test_brute_topk_has_no_cartesian_shuffle(spark):
    """The query side must be broadcast — a cartesian/shuffle product
    over the vector table would not survive scale."""
    from pyspark.sql import functions as F

    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        brute_force_topk,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    df = brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=3)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q31_filters_push_to_all_three_scans(spark):
    df = R.q31_shipping_priority(spark, SF_DIR_SMOKE)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "o_orderdate")
    assert_pushed_filter(df, "c_mktsegment")
    plan = formatted_plan(df)
    assert "partial_sum" in plan  # map-side agg before the key shuffle


def test_q32_fixed_dims_broadcast(spark):
    """nation/region are constant-cardinality at any SF — they must
    ride in as broadcasts, never a shuffled join side."""
    plan = formatted_plan(R.q32_regional_supplier_volume(spark, SF_DIR_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "r_name" in plan and "IN (ASIA,AMERICA)" in plan


def test_q34_one_shared_window_exchange(spark):
    """lag/lead/ntile/first over the same window spec must share ONE
    hash exchange on o_custkey — four separate shuffles would
    quadruple the dominant cost."""
    plan = formatted_plan(R.q34_window_navigation(spark, SF_DIR_SMOKE))
    # formatted mode: each physical node appears once as "(N) Exchange"
    assert plan.count(") Exchange") == 1
    assert "hashpartitioning(o_custkey" in plan


def test_salted_agg_two_stage_partials(spark):
    """The salted plan must partial-aggregate map-side at BOTH stages
    (salted shuffle, then key shuffle) — the whole point is never
    moving raw rows of the hot key to one reducer."""
    plan = formatted_plan(R.agg_salted_skew(spark, SF_DIR_SMOKE))
    assert plan.count(") Exchange") == 2
    assert "_salt" in plan
    assert "partial_sum" in plan


def test_q41_single_lineitem_pass(spark):
    """r12: the IN-over-HAVING shape folded into ONE lineitem
    aggregation (the per-order total IS the HAVING sum) — no semi
    join, no second lineitem scan, no per-row subquery."""
    plan = formatted_plan(R.q41_large_orders(spark, SF_DIR_SMOKE))
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan


def test_q40_correlated_scalar_agg_decorrelates(spark):
    """The per-part avg threshold must be computed once as an
    aggregate and joined back — no nested-loop re-aggregation."""
    plan = formatted_plan(R.q40_avg_qty_subquery(spark, SF_DIR_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_q36_nation_filter_pushes_before_join(spark):
    """The two-nation filter must reach the nation scans (pushed
    predicate), not run post-join over the 5-way product."""
    df = R.q36_nation_volume(spark, SF_DIR_SMOKE)
    assert_pushed_filter(df, "n_name")
    assert_broadcast_join(df)


def test_gapfill_spine_from_aggregated_bounds(spark):
    """The date-spine explode must fan out from the one-row-per-key
    bounds aggregate, never from raw events: exactly two aggregates
    (daily rollup + bounds) feed a Generate above the small side."""
    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import ts_gapfill

    plan = formatted_plan(ts_gapfill(spark, SF_DIR_SMOKE))
    assert "Generate" in plan  # the explode
    assert plan.count("HashAggregate") >= 2


def test_lsh_near_dup_single_arrow_pass_no_cartesian(spark):
    """Hyperplane LSH must evaluate the signature UDF via Arrow and
    never fall back to an all-pairs product."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        hyperplane_lsh_near_dup_pairs,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    plan = formatted_plan(hyperplane_lsh_near_dup_pairs(emb))
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_q51_collapses_into_scan(spark):
    """Q6 shape: all three predicates pushed to the parquet scan and
    only the needed columns read."""
    df = R.q51_forecast_revenue(spark, SF_DIR_SMOKE)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "l_discount")
    assert_pushed_filter(df, "l_quantity")
    assert_read_schema_only(
        df,
        "lineitem",
        {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
    )


def test_hll_rollup_merge_aggregates_partially(spark):
    """Sketch union must partial-merge map-side (ObjectHashAggregate
    partial_hll_union_agg before the exchange) — the property that
    makes the rollup answer from kilobytes at 100 TB."""
    plan = formatted_plan(R.sketch_distinct_rollup(spark, SF_DIR_SMOKE))
    low = plan.lower()
    assert "hll_union_agg" in low
    assert "partial_hll_union_agg" in low or "partial" in low


def test_grouped_agg_pandas_udf_single_exchange(spark):
    """The UDAF (grouped-agg pandas UDF) pays exactly one shuffle,
    like a builtin aggregate, and runs via Arrow."""
    plan = formatted_plan(R.udaf_mad(spark, SF_DIR_SMOKE))
    # Spark 4 names the node ArrowAggregatePython (AggregateInPandas
    # pre-4.0) — either way it must be Arrow-based, not row-Python
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    # formatted plans print each node twice (tree + detail): one
    # Exchange means exactly one hashpartitioning argument line
    assert plan.count("hashpartitioning") == 1
    # only the two touched columns are read
    assert "struct<event_type:string,value:double>" in plan


def test_quantize_and_redact_are_pure_scans(spark):
    """Row-local transforms must stay shuffle-free: zero exchanges,
    zero Python nodes — a 100 TB pass at scan speed."""
    for q in (R.sim_quantize_embeddings, R.text_redact_pii):
        plan = formatted_plan(q(spark, SF_DIR_SMOKE))
        assert "hashpartitioning" not in plan
        assert "EvalPython" not in plan


def test_contamination_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast — the corpus side of the
    contamination scan never shuffles before the pair aggregation."""
    plan = formatted_plan(R.text_contamination(spark, SF_DIR_SMOKE))
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_registry_wide_plan_lint(spark):
    """Whole-registry scale-anti-pattern lint: NO query's physical plan
    may contain a CartesianProduct (unbounded all-pairs) or
    BatchEvalPython (row-at-a-time pickled Python).  Streaming entries
    and entries that materialize side effects on build are skipped
    (their plans are asserted by their own tests); everything else —
    the full relational/dedup/text/similarity/sampling surface — is
    linted in one sweep so a regression anywhere fails fast."""
    import pytest as _pytest

    from aws_cdk_pipelines_datalake_etl_spark.plans import registry as _R

    # entries that RUN work when called (streams, temp-dir writers,
    # driver-loop algorithms) — planned/asserted in their own tests
    side_effecting = {
        "dedup_clusters",  # iterative driver loop with localCheckpoint
        "corpus_dedup_survivors",
        "corpus_training_set",  # composes dedup_clusters
        "bucketed_join",  # writes bucketed tables on build
        "incremental_rollup",
        "sim_ivf_trained",  # k-means training job on build
        "sim_ann_recall_trained",
        "q61_recursive_closure",  # driver-loop recursive CTE
        # batch-GD training loop (bounded collects) on build; the
        # scoring plan is asserted in tests/test_classifier.py
        "corpus_quality_classifier",
        # PQ entries train codebooks (collect) on build; their plans
        # and recall are asserted in tests/test_pq.py
        "sim_pq_rerank_topk",
        "sim_pq_full_rerank",
        "sim_ivfpq_topk",
        "sim_ivfpq_full",
        "sim_ivfpq_residual_full",
        # custom streaming DataSources run a query on build; asserted
        # in tests/test_eventgen_stream.py
        "source_python_stream",
        "source_python_stream_partitioned",
        "sink_python_stream_writer",
    }
    reg = _R.build_registry()
    failures = []
    for name, spec in reg.items():
        if name.startswith("stream_") or name in side_effecting:
            continue
        try:
            plan = formatted_plan(spec.fn(spark, SF_DIR_SMOKE))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {e}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time BatchEvalPython in plan")
    assert not failures, "\n".join(failures)


def test_binned_range_join_has_no_nested_loop(spark):
    """The binned interval join must plan as a shuffled equi-join on
    the bin key — no BroadcastNestedLoopJoin, no CartesianProduct —
    i.e. it survives BOTH sides being big."""
    df = R.range_join_binned(spark, SF_DIR_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_winnow_single_exchange(spark):
    """Winnowing selection is row-local: the only exchange in the
    fingerprint plan is the final distinct's partial/final aggregate
    pair — one Exchange total."""
    import re

    plan = formatted_plan(R.dedup_winnow_fingerprints(spark, SF_DIR_SMOKE))
    # count physical nodes (the "(N) Op" detail lines), not tree echoes
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_q69_decorrelates_to_semi_and_anti_joins(spark):
    """The double-correlated EXISTS/NOT EXISTS must be planned as
    LeftSemi + LeftAnti joins (no per-row subquery re-execution)."""
    plan = formatted_plan(R.q69_suppliers_who_kept_waiting(spark, SF_DIR_SMOKE))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_cm_probe_is_bounded_no_fact_rescan(spark):
    """cm_estimate's join reads the bounded cell table, and the probe
    side joins it hash-wise — the estimate never re-aggregates the
    fact table (exactly 2 aggregates: cells build + final min)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sketches import (
        build_cm_rollup,
        cm_estimate,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

    ev = load_table(spark, SF_DIR_SMOKE, "events")
    cells = build_cm_rollup(ev, "user_id")
    probes = ev.select("user_id").limit(20)
    import re

    plan = formatted_plan(cm_estimate(cells, probes, "user_id"))
    # two scans only (cells build + probe list) — the estimate never
    # re-reads the fact side a third time
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 2, plan


def test_web_and_projection_are_pure_scans(spark):
    """Round-6 narrow maps stay shuffle-free and JVM-side: URL
    canonicalization and the JL random projection are zero-exchange,
    zero-Python scans — scan-speed passes at 100 TB."""
    for q in (R.web_url_normalize, R.sim_random_projection):
        plan = formatted_plan(q(spark, SF_DIR_SMOKE))
        assert "hashpartitioning" not in plan
        assert "EvalPython" not in plan


def test_substring_spans_single_gram_exchange(spark):
    """The substring-span pass must be linear: explode, ONE shuffle
    family on the gram key (agg + join back + per-doc agg), never an
    all-pairs stage."""
    plan = formatted_plan(R.dedup_substring_spans(spark, SF_DIR_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial aggregation before the gram exchange (map-side combine)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_domain_split_zero_shuffle(spark):
    """Group-consistent split with no grouping shuffle: the domain
    hash is computed row-local, so the plan must have no exchange and
    no Python."""
    plan = formatted_plan(R.web_domain_split(spark, SF_DIR_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_repetition_metrics_doc_keyed_aggs_only(spark):
    """Repetition metrics: as of the r12 row-local rewrite (sorted-run
    lengths computed per document inside one projection) the plan must
    be shuffle-free — no exchange, no cross-doc pairing stage, no
    Python.  Strictly stronger than the pre-r12 shape (doc-keyed hash
    aggs), which this test used to assert."""
    plan = formatted_plan(R.text_repetition_metrics(spark, SF_DIR_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_html_extract_zero_shuffle(spark):
    """HTML text extraction is a pure regexp chain — no exchange, no
    Python anywhere in the plan."""
    plan = formatted_plan(R.web_html_extract(spark, SF_DIR_SMOKE))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_registry_module_has_no_duplicate_constants():
    """A duplicate module-level assignment in registry.py silently
    overwrites an earlier oracle (caught live in round 6:
    TEXT_REPETITION_ORACLE defined twice paired the wrong oracle with
    text_repetition_removal).  Pure-AST lint, no Spark needed."""
    import ast
    import inspect

    import aws_cdk_pipelines_datalake_etl_spark.plans.registry as reg_mod

    tree = ast.parse(inspect.getsource(reg_mod))
    seen: dict[str, int] = {}
    dups = []
    for node in tree.body:
        names = []
        if isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names = [node.name]
        for n in names:
            if n in seen:
                dups.append((n, seen[n], node.lineno))
            seen[n] = node.lineno
    assert not dups, f"duplicate module-level definitions: {dups}"


def test_robots_filter_broadcast_anti_join(spark):
    """The robots filter must broadcast the (tiny) rule set: a
    BroadcastHashJoin LeftAnti with no exchange on the page side."""
    plan = formatted_plan(R.web_robots_filter(spark, SF_DIR_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastExchange" in plan
    # the only shuffle allowed is the rule-building distinct (tiny
    # side); the page scan itself must reach the anti-join unshuffled
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "EvalPython" not in plan
