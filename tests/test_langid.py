"""Char-trigram NB language ID: held-out accuracy per language,
'und' fallback, determinism, and plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
    LANGID_SAMPLES,
    langid_model_sql_ctes,
    language_id_nb,
    train_langid_model,
)

HELD_OUT = [
    (1, "the weather is nice and the children play in the garden", "en"),
    (2, "los ninos juegan en el jardin y la casa es muy bonita", "es"),
    (3, "die kinder spielen im garten und das wetter ist heute schoen", "de"),
    (4, "les enfants jouent dans le jardin et la maison est tres belle", "fr"),
    (5, "i bambini giocano nel giardino e la casa e molto bella", "it"),
    (6, "as criancas brincam no jardim e a casa e muito bonita", "pt"),
    (7, "de kinderen spelen in de tuin en het weer is vandaag mooi", "nl"),
    (8, "boernene leger i haven og vejret er koldt i dag", "da"),
    (9, "barnen leker i traedgaarden och vaedret aer fint i dag", "sv"),
    (10, "lapset leikkivaet puutarhassa ja saeae on taenaeaen kaunis", "fi"),
    (11, "cocuklar bahcede oynuyor ve hava bugun cok guzel", "tr"),
    (12, "dzieci bawia sie w ogrodzie a pogoda jest dzisiaj ladna", "pl"),
    (13, "copiii se joaca in gradina si vremea este frumoasa astazi", "ro"),
    (14, "anak anak bermain di taman dan cuaca hari ini cerah", "id"),
    # round 10 (VERDICT r9 #3): non-Latin scripts — all-lowercase
    # Greek by design (the final-sigma case-folding caveat on _norm)
    (15, "дети играют в саду и погода сегодня очень хорошая", "ru"),
    (16, "τα παιδιά παίζουν στον κήπο και ο καιρός είναι ωραίος", "el"),
    (17, "يلعب الاطفال في الحديقة والطقس جميل اليوم", "ar"),
    (18, "孩子们在花园里玩耍，今天的天气很好", "zh"),
    (19, "子供たちは庭で遊んでいて、今日は天気がいい", "ja"),
]


def test_held_out_sentences_classify_correctly(spark):
    """One original held-out sentence per trained language — none of
    them appears in LANGID_SAMPLES — must classify correctly."""
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in HELD_OUT], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in language_id_nb(df).collect()}
    for i, _, want in HELD_OUT:
        assert got[i].lang == want, (i, got[i].lang, want)
        assert got[i].score_micro < 0
        assert got[i].n_trigrams > 0


def test_und_for_empty_and_symbol_only(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "12345 !!! ###"), (3, "a")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in language_id_nb(df).collect()}
    for i in (1, 2):
        assert got[i].lang == "und"
        assert got[i].score_micro == 0
        assert got[i].n_trigrams == 0
    # 'a' normalizes to ' a ' -> exactly one trigram: classified
    assert got[3].n_trigrams == 1
    assert got[3].lang != "und"


def test_training_sample_self_classification(spark):
    """Each training sample classifies as its own language (the
    weakest sanity bar for any supervised classifier)."""
    rows = [(i, text) for i, (_, text) in enumerate(sorted(LANGID_SAMPLES.items()))]
    langs = [lang for lang, _ in sorted(LANGID_SAMPLES.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lang for r in language_id_nb(df).collect()}
    for i, want in enumerate(langs):
        assert got[i] == want, (i, got[i], want)


def test_model_shapes_and_partition_invariance(spark):
    model, consts = train_langid_model(spark)
    n_langs = len(LANGID_SAMPLES)
    assert consts.count() == n_langs
    m = model.groupBy("lang").count().collect()
    assert len(m) == n_langs
    assert all(r["count"] > 100 for r in m)  # real trigram coverage
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in HELD_OUT], "doc_id long, text string"
    )
    a = sorted(map(tuple, language_id_nb(df.coalesce(1)).collect()))
    b = sorted(map(tuple, language_id_nb(df.repartition(5)).collect()))
    assert a == b


def test_plan_broadcasts_model_no_python(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    plan = (
        language_id_nb(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # pure Catalyst, no UDF at all
    # round-9 plan shape: ONE doc-proportional exchange (the pivoted
    # per-doc hash agg) — no SortMergeJoin, no Window over scored rows
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # the scan is widened to the session's default parallelism before
    # the explode (and before dominant_script's regex passes)
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        dominant_script,
    )

    rr = f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"
    assert rr in plan
    script_plan = (
        dominant_script(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert rr in script_plan


def test_margin_confidence_band(spark):
    """margin_micro semantics: a clearly-English sentence has a large
    per-trigram margin; a short es/pt-ambiguous fragment a much
    smaller one; with min_margin_micro set between them the ambiguous
    doc flips to 'und' while the clear one keeps its label."""
    clear = "the children walked through the streets of the city"
    # every word shared es/pt (same spelling in both languages)
    near = "a casa de la e o mar"
    df = spark.createDataFrame(
        [(1, clear), (2, near)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in language_id_nb(df).collect()}
    assert got[1].lang == "en"
    assert got[1].margin_micro > 0 and got[2].margin_micro >= 0
    clear_per = got[1].margin_micro / got[1].n_trigrams
    near_per = got[2].margin_micro / got[2].n_trigrams
    assert near_per < clear_per / 3  # genuinely less confident
    thr = int((near_per + clear_per / 3) / 2) + 1
    got2 = {
        r.doc_id: r
        for r in language_id_nb(df, min_margin_micro=thr).collect()
    }
    assert got2[1].lang == "en"  # clear doc keeps its label
    assert got2[2].lang == "und"  # near-tie falls into the band
    # scores/margins are unchanged by the band — only the label moves
    assert got2[2].score_micro == got[2].score_micro
    assert got2[2].margin_micro == got[2].margin_micro


def test_model_tables_match_duckdb_retraining(spark):
    """ADVICE r8: oracle exactness rests on Python math.log and DuckDB
    ln agreeing bit-for-bit before floor(x*1e6+0.5).  Pin it: the
    driver-built model/consts tables must equal the DuckDB-retrained
    ones VALUE-FOR-VALUE (both derive from langid_model_sql_ctes /
    LANGID_SAMPLES, the single source the registry oracle embeds)."""
    import duckdb

    model, consts = train_langid_model(spark)
    ctes = langid_model_sql_ctes()
    got_m = duckdb.sql(
        f"WITH {ctes} SELECT lang, tri, micro_logp FROM model "
        "ORDER BY lang, tri"
    ).fetchall()
    want_m = sorted(
        (r.lang, r.tri, r.micro_logp) for r in model.collect()
    )
    assert [tuple(x) for x in got_m] == want_m
    got_c = duckdb.sql(
        f"WITH {ctes} SELECT lang, micro_denom FROM consts ORDER BY lang"
    ).fetchall()
    want_c = sorted((r.lang, r.micro_denom) for r in consts.collect())
    assert [tuple(x) for x in got_c] == want_c


def test_dominant_script_labels_and_oracle(spark):
    """dominant_script (round 10): per-script argmax with alphabetical
    ties, 'und' for no-script text, null text safe — and the DuckDB
    twin (the registry oracle's exact SQL) agrees row for row."""
    import duckdb

    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        dominant_script,
    )
    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import (
        _script_id_oracle,
    )

    rows = [
        (1, "hello world"),
        (2, "привет мир и хорошая погода"),
        (3, "γεια σου κόσμε"),
        (4, "مرحبا بالعالم"),
        (5, "你好世界"),
        (6, "こんにちは世界"),          # hiragana 5 > cjk 2
        (7, "カタカナ"),                # katakana only
        (8, "mixed привет text here"),  # latin 13 > cyrillic 6
        (9, "12345 !!! ???"),           # no script chars -> und
        (10, None),                     # null text -> und, n_chars 0
        (11, "abcабв"),                 # 3 vs 3 tie -> cyrillic (alpha)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dominant_script(df).collect()}
    want = {
        1: "latin", 2: "cyrillic", 3: "greek", 4: "arabic", 5: "cjk",
        6: "hiragana", 7: "katakana", 8: "latin", 9: "und", 10: "und",
        11: "cyrillic",
    }
    for i, w in want.items():
        assert got[i]["script"] == w, (i, got[i])
    assert got[10]["n_chars"] == 0 and got[10]["n_script_chars"] == 0
    assert got[6]["n_script_chars"] == 5

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {
        r[0]: r
        for r in con.sql(_script_id_oracle()).fetchall()
    }
    for i in want:
        g = got[i]
        assert oracle[i] == (
            i, g["script"], g["n_script_chars"], g["n_chars"]
        ), (i, oracle[i], g)


def test_nonlatin_scoring_matches_duckdb(spark):
    """Value-for-value NB scoring agreement between the engine and the
    registry oracle SQL on non-Latin docs — the widened char class and
    Unicode lower() must behave identically in Java and DuckDB."""
    import duckdb

    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import (
        _langid_nb_oracle,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t, _ in HELD_OUT] + [(90, ""), (91, "!!!")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.lang, r.score_micro, r.margin_micro, r.n_trigrams)
        for r in language_id_nb(df).collect()
    }
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.sql(_langid_nb_oracle()).fetchall()
    }
    assert got == oracle
