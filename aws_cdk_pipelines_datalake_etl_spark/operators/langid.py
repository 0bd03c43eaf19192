"""Char-trigram Naive Bayes language identification.

Replaces the 8-stopword-per-language heuristic
(functions/text_fn.py:STOPWORDS) with the standard real approach
(Cavnar & Trenkle 1994 n-gram text categorization, NB-scored): a
character-trigram model per language, trained on an embedded
PUBLIC-DOMAIN sample (Universal Declaration of Human Rights,
Article 1 — the canonical multilingual NLP sample — plus a few
original everyday sentences per language), scored with add-one
(Laplace) smoothing.

Why this is oracle-able and engine-exact: every log-probability is
quantized to integer MICRO-NATS (``floor(ln(x) * 1e6 + 0.5)``) before
any summation — the same device as ``operators/lm.py`` — so a doc's
per-language score is an integer sum, independent of partitioning,
summation order, and engine.  The DuckDB oracle retrains the identical
model from the same embedded sample in SQL (single-source CTE text:
:func:`langid_model_sql_ctes`), and
``tests/test_langid.py`` asserts the driver-built and SQL-retrained
model tables are equal VALUE-FOR-VALUE, so a libm ``ln`` divergence at
a floor boundary would be caught in pytest, not by a spurious driver
mismatch.

Scale shape (round 9: ONE doc-proportional exchange): the model is a
few thousand (lang, trigram) rows — broadcast; docs explode to trigram
occurrences row-locally (carrying the doc's trigram count), the
broadcast LEFT join fans out at most ``n_languages`` per occurrence,
and a single hash aggregation per doc computes every language's
matched sum as a pivoted conditional sum (languages are a fixed,
driver-known set).  The argmax, the per-language smoothing denominator
(a driver-side integer constant per language), and the top-2
confidence margin are then ROW-LOCAL array expressions — no second
shuffle, no window over scored rows, no UDF, no collect.  Docs with
zero trigrams come back via a cheap filtered union branch.

NB math with add-one smoothing, per language L with trigram counts
``cnt(L, t)``, total trigrams ``N_L`` and GLOBAL trigram vocabulary
size ``V``::

    score(doc, L) = sum_t k_t * ln((cnt(L, t) + 1) / (N_L + V))
                  = [sum_{matched t} k_t * ln(cnt(L, t) + 1)]
                    - K_doc * ln(N_L + V)

Unmatched trigrams contribute ``ln(1) = 0`` to the first term, so only
the broadcast-join MATCHES are aggregated; the second term is a
row-local multiply against a tiny per-language integer constant.

Confidence (round 9): ``margin_micro`` = best minus second-best score
(integer micro-nats, >= 0).  A near-tie doc (e.g. es vs pt) used to get
a confident wrong label; with ``min_margin_micro`` set, docs whose
margin is below ``min_margin_micro * n_trigrams`` (i.e. a per-trigram
margin threshold in micro-nats) are labeled ``'und'`` instead.

No reference-parity citation: the reference (aws-samples
aws-cdk-pipelines-datalake-etl) has no language-ID surface; Tier-E
LLM-corpus toolkit (SURVEY.md §2.6/§6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MICRO = 1_000_000

#: Public-domain training sample per language: UDHR Article 1 plus
#: original everyday sentences (weather/family/food/city/travel) to
#: widen trigram coverage beyond the declaration's register.  LATIN
#: samples are pre-folded to ascii (ue/oe/ae/aa-style transliteration)
#: because :func:`_norm` folds Latin accents away — within Latin the
#: model discriminates on letter patterns, not diacritics.  Round 10
#: adds non-Latin scripts (ru/el/ar/zh/ja) which pass through
#: :data:`WORD_CLASS` unfolded.
LANGID_SAMPLES: dict[str, str] = {
    "en": (
        "All human beings are born free and equal in dignity and "
        "rights. They are endowed with reason and conscience and "
        "should act towards one another in a spirit of brotherhood. "
        "The weather was cold this morning and the streets of the "
        "city were quiet. She bought bread and cheese at the market "
        "and walked home with her children. The old train left the "
        "small station before sunrise and the passengers slept. My "
        "brother reads a book about the history of bridges every "
        "evening after dinner."
    ),
    "es": (
        "Todos los seres humanos nacen libres e iguales en dignidad "
        "y derechos y, dotados como estan de razon y conciencia, "
        "deben comportarse fraternalmente los unos con los otros. "
        "Esta manana hacia frio y las calles de la ciudad estaban "
        "tranquilas. Ella compro pan y queso en el mercado y volvio "
        "a casa con sus hijos. El viejo tren salio de la pequena "
        "estacion antes del amanecer y los pasajeros dormian. Mi "
        "hermano lee cada noche un libro sobre la historia de los "
        "puentes despues de cenar."
    ),
    "de": (
        "Alle Menschen sind frei und gleich an Wuerde und Rechten "
        "geboren. Sie sind mit Vernunft und Gewissen begabt und "
        "sollen einander im Geist der Bruederlichkeit begegnen. "
        "Heute morgen war es kalt und die Strassen der Stadt waren "
        "ruhig. Sie kaufte Brot und Kaese auf dem Markt und ging mit "
        "ihren Kindern nach Hause. Der alte Zug verliess den kleinen "
        "Bahnhof vor Sonnenaufgang und die Fahrgaeste schliefen. "
        "Mein Bruder liest jeden Abend nach dem Essen ein Buch ueber "
        "die Geschichte der Bruecken."
    ),
    "fr": (
        "Tous les etres humains naissent libres et egaux en dignite "
        "et en droits. Ils sont doues de raison et de conscience et "
        "doivent agir les uns envers les autres dans un esprit de "
        "fraternite. Ce matin il faisait froid et les rues de la "
        "ville etaient calmes. Elle a achete du pain et du fromage "
        "au marche et elle est rentree avec ses enfants. Le vieux "
        "train a quitte la petite gare avant le lever du soleil et "
        "les passagers dormaient. Mon frere lit chaque soir apres le "
        "diner un livre sur l histoire des ponts."
    ),
    "it": (
        "Tutti gli esseri umani nascono liberi ed eguali in dignita "
        "e diritti. Essi sono dotati di ragione e di coscienza e "
        "devono agire gli uni verso gli altri in spirito di "
        "fratellanza. Questa mattina faceva freddo e le strade della "
        "citta erano tranquille. Lei ha comprato pane e formaggio al "
        "mercato ed e tornata a casa con i suoi bambini. Il vecchio "
        "treno parti dalla piccola stazione prima dell alba e i "
        "passeggeri dormivano. Mio fratello legge ogni sera dopo "
        "cena un libro sulla storia dei ponti."
    ),
    "pt": (
        "Todos os seres humanos nascem livres e iguais em dignidade "
        "e em direitos. Dotados de razao e de consciencia, devem "
        "agir uns para com os outros em espirito de fraternidade. "
        "Esta manha estava frio e as ruas da cidade estavam calmas. "
        "Ela comprou pao e queijo no mercado e voltou para casa com "
        "os seus filhos. O velho trem saiu da pequena estacao antes "
        "do amanhecer e os passageiros dormiam. Meu irmao le todas "
        "as noites depois do jantar um livro sobre a historia das "
        "pontes."
    ),
    "nl": (
        "Alle mensen worden vrij en gelijk in waardigheid en rechten "
        "geboren. Zij zijn begiftigd met verstand en geweten, en "
        "behoren zich jegens elkander in een geest van broederschap "
        "te gedragen. Vanmorgen was het koud en de straten van de "
        "stad waren stil. Zij kocht brood en kaas op de markt en "
        "liep met haar kinderen naar huis. De oude trein verliet het "
        "kleine station voor zonsopgang en de passagiers sliepen. "
        "Mijn broer leest elke avond na het eten een boek over de "
        "geschiedenis van de bruggen."
    ),
    "da": (
        "Alle mennesker er foedt frie og lige i vaerdighed og "
        "rettigheder. De er udstyret med fornuft og samvittighed, og "
        "de boer handle mod hverandre i en broderskabets aand. Det "
        "var koldt i morges og byens gader var stille. Hun koebte "
        "broed og ost paa markedet og gik hjem med sine boern. Det "
        "gamle tog forlod den lille station foer solopgang og "
        "passagererne sov. Min bror laeser hver aften en bog om "
        "broernes historie."
    ),
    "sv": (
        "Alla maenniskor aero foedda fria och lika i vaerde och "
        "raettigheter. De aero utrustade med foernuft och samvete "
        "och boera handla gentemot varandra i en anda av broderskap. "
        "Det var kallt i morse och stadens gator var tysta. Hon "
        "koepte broed och ost paa marknaden och gick hem med sina "
        "barn. Det gamla taaget laemnade den lilla stationen foere "
        "soluppgaangen och passagerarna sov. Min bror laeser varje "
        "kvaell en bok om broarnas historia."
    ),
    "fi": (
        "Kaikki ihmiset syntyvaet vapaina ja tasavertaisina "
        "arvoltaan ja oikeuksiltaan. Heille on annettu jaerki ja "
        "omatunto, ja heidaen on toimittava toisiaan kohtaan "
        "veljeyden hengessae. Taenae aamuna oli kylmae ja kaupungin "
        "kadut olivat hiljaisia. Haen osti leipaeae ja juustoa "
        "torilta ja kaeveli kotiin lastensa kanssa. Vanha juna "
        "laehti pieneltae asemalta ennen auringonnousua ja "
        "matkustajat nukkuivat. Veljeni lukee joka ilta kirjaa "
        "siltojen historiasta."
    ),
    "tr": (
        "Butun insanlar hur, haysiyet ve haklar bakimindan esit "
        "dogarlar. Akil ve vicdana sahiptirler ve birbirlerine karsi "
        "kardeslik zihniyeti ile hareket etmelidirler. Bu sabah hava "
        "soguktu ve sehrin sokaklari sessizdi. Pazardan ekmek ve "
        "peynir aldi ve cocuklariyla eve yurudu. Eski tren gun "
        "dogmadan once kucuk istasyondan ayrildi ve yolcular uyudu. "
        "Kardesim her aksam kopruler tarihi hakkinda bir kitap "
        "okuyor."
    ),
    "pl": (
        "Wszyscy ludzie rodza sie wolni i rowni pod wzgledem swej "
        "godnosci i swych praw. Sa oni obdarzeni rozumem i sumieniem "
        "i powinni postepowac wobec innych w duchu braterstwa. Dzis "
        "rano bylo zimno a ulice miasta byly ciche. Kupila chleb i "
        "ser na targu i poszla do domu ze swoimi dziecmi. Stary "
        "pociag odjechal z malej stacji przed wschodem slonca a "
        "pasazerowie spali. Moj brat czyta co wieczor ksiazke o "
        "historii mostow."
    ),
    "ro": (
        "Toate fiintele umane se nasc libere si egale in demnitate "
        "si in drepturi. Ele sunt inzestrate cu ratiune si "
        "constiinta si trebuie sa se comporte unele fata de altele "
        "in spiritul fraternitatii. In aceasta dimineata a fost frig "
        "si strazile orasului erau linistite. Ea a cumparat paine si "
        "branza de la piata si a mers acasa cu copiii ei. Trenul "
        "vechi a plecat din gara mica inainte de rasarit si "
        "calatorii dormeau. Fratele meu citeste in fiecare seara o "
        "carte despre istoria podurilor."
    ),
    "id": (
        "Semua orang dilahirkan merdeka dan mempunyai martabat dan "
        "hak hak yang sama. Mereka dikaruniai akal dan hati nurani "
        "dan hendaknya bergaul satu sama lain dalam semangat "
        "persaudaraan. Pagi ini udara dingin dan jalan jalan kota "
        "sepi. Dia membeli roti dan keju di pasar dan berjalan "
        "pulang bersama anak anaknya. Kereta tua itu meninggalkan "
        "stasiun kecil sebelum matahari terbit dan para penumpang "
        "tidur. Saudara saya membaca buku tentang sejarah jembatan "
        "setiap malam."
    ),
    # ---- round 10: non-Latin scripts (VERDICT r9 #3).  UDHR Art. 1
    # (public domain) + original everyday sentences, same register as
    # the Latin samples.  Greek is written fully lowercase on purpose:
    # Java's String.toLowerCase is context-sensitive for final sigma
    # (uppercase word-final sigma -> 'ς') while DuckDB/utf8proc and
    # Python give 'σ' — all-lowercase samples and fixtures sidestep
    # the one known case-folding divergence (documented on _norm).
    "ru": (
        "Все люди рождаются свободными и равными в своем достоинстве "
        "и правах. Они наделены разумом и совестью и должны поступать "
        "в отношении друг друга в духе братства. Сегодня утром было "
        "холодно и улицы города были тихими. Она купила хлеб и сыр на "
        "рынке и пошла домой с детьми. Старый поезд ушел с маленькой "
        "станции до рассвета и пассажиры спали. Мой брат каждый вечер "
        "читает книгу об истории мостов и все в доме было спокойно."
    ),
    "el": (
        "όλοι οι άνθρωποι γεννιούνται ελεύθεροι και ίσοι στην "
        "αξιοπρέπεια και τα δικαιώματα. είναι προικισμένοι με λογική "
        "και συνείδηση και οφείλουν να συμπεριφέρονται μεταξύ τους με "
        "πνεύμα αδελφοσύνης. σήμερα το πρωί έκανε κρύο και οι δρόμοι "
        "της πόλης ήταν ήσυχοι. αγόρασε ψωμί και τυρί στην αγορά και "
        "περπάτησε σπίτι με τα παιδιά της. το παλιό τρένο έφυγε από "
        "τον μικρό σταθμό πριν την ανατολή και οι επιβάτες κοιμόνταν. "
        "ο αδελφός μου διαβάζει κάθε βράδυ ένα βιβλίο για την ιστορία "
        "των γεφυριών."
    ),
    "ar": (
        "يولد جميع الناس أحرارا متساوين في الكرامة والحقوق. وقد وهبوا "
        "عقلا وضميرا وعليهم أن يعامل بعضهم بعضا بروح الإخاء. كان الجو "
        "باردا هذا الصباح وكانت شوارع المدينة هادئة. اشترت خبزا وجبنا "
        "من السوق ومشت الى البيت مع اطفالها. غادر القطار القديم "
        "المحطة الصغيرة قبل شروق الشمس ونام المسافرون. يقرأ اخي كل "
        "مساء كتابا عن تاريخ الجسور."
    ),
    "zh": (
        "人人生而自由，在尊严和权利上一律平等。他们赋有理性和良心，"
        "并应以兄弟关系的精神相对待。今天早上天气很冷，城市的街道很"
        "安静。她在市场买了面包和奶酪，带着孩子们走回家。旧火车在日"
        "出前离开了小车站，乘客们都睡着了。我的哥哥每天晚上读一本关"
        "于桥梁历史的书。"
    ),
    "ja": (
        "すべての人間は、生まれながらにして自由であり、かつ、尊厳と"
        "権利とについて平等である。人間は、理性と良心とを授けられて"
        "おり、互いに同胞の精神をもって行動しなければならない。けさ"
        "は寒くて、まちの通りは静かだった。彼女は市場でパンとチーズ"
        "を買い、子供たちと家に歩いて帰った。古い列車は夜明け前に小"
        "さな駅を出発し、乗客は眠っていた。私の兄は毎晩、橋の歴史に"
        "ついての本を読む。"
    ),
}

#: Literal code-point ranges per script — shared by the NB normalizer
#: (:func:`_norm` / :func:`_py_norm` / the DuckDB twin in
#: :func:`langid_model_sql_ctes`) and :func:`dominant_script`.  The
#: ranges are LITERAL characters (not \\p{Script} classes) so Java
#: regex, Python re and DuckDB/RE2 interpret them identically by code
#: point.  Greek ά-ώ (U+03AC-U+03CE) covers every modern lowercase
#: letter including final sigma and the accented vowels.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "a-z",
    "cyrillic": "а-яё",  # а-я plus ё
    "greek": "ά-ώ",  # ά..ώ (incl. α-ω, ς, accented vowels)
    "arabic": "ء-ي",  # ء..ي
    "cjk": "一-鿿",  # CJK unified ideographs
    "hiragana": "ぁ-ゟ",
    "katakana": "゠-ヿ",
}

#: The normalizer's keep-class body (every script range, no space).
WORD_CLASS: str = "".join(SCRIPT_RANGES[k] for k in sorted(SCRIPT_RANGES))

#: The full drop-pattern: any char not in a known script and not a
#: space becomes a space.
NORM_DROP_RE: str = f"[^{WORD_CLASS} ]"


def _norm(col) -> F.Column:
    """Shared normalization: lowercase, every char outside the known
    script ranges (:data:`WORD_CLASS`) becomes a space, runs collapse,
    then one boundary space is padded on each side so
    word-initial/final trigrams carry boundary signal.  Latin accented
    letters still normalize AWAY (the Latin samples are pre-folded) —
    within Latin the model discriminates on letter patterns, not
    diacritics; Cyrillic/Greek/Arabic/CJK/kana pass through so
    non-Latin text is modeled instead of erased (round 10, VERDICT r9
    #3).  Known case-folding caveat: UPPERCASE word-final Greek sigma
    lowers to 'ς' under Java but 'σ' under DuckDB/Python — samples
    and fixtures are all-lowercase Greek, which both fold
    identically.

    The drop class is RUN-QUANTIFIED (``[^...]+`` -> one space): the
    space-collapse step makes the result identical to the per-char
    form, and a run-level replacement avoids a regex callback per
    dropped character (the dominant_script 12x measurement) —
    :func:`_py_norm` and :func:`norm_sql` quantify identically."""
    c = F.lower(col)
    c = F.regexp_replace(c, NORM_DROP_RE + "+", " ")
    c = F.trim(F.regexp_replace(c, " +", " "))
    return F.concat(F.lit(" "), c, F.lit(" "))


def _py_norm(text: str) -> str:
    """Driver-side twin of :func:`_norm` (same char class, same
    collapse/trim/pad) — applied only to the embedded SAMPLE strings;
    corpus text is always normalized by the Catalyst expression."""
    import re

    t = re.sub(NORM_DROP_RE + "+", " ", text.lower())
    t = re.sub(r" +", " ", t).strip()
    return f" {t} "


def norm_sql(col: str) -> str:
    """The DuckDB expression text that mirrors :func:`_norm` — ONE
    source for the char class so the Spark normalizer, the Python
    sample normalizer and every oracle can never drift."""
    return (
        "' ' || trim(regexp_replace(regexp_replace(lower(" + col + "), "
        f"'{NORM_DROP_RE}+', ' ', 'g'), ' +', ' ', 'g')) || ' '"
    )


def _model_counts(
    samples: dict[str, str],
) -> tuple[dict[tuple[str, str], int], dict[str, int], int]:
    """Driver-side trigram counting over the embedded sample dict:
    ``(counts[(lang, tri)], totals[lang], vocab_size)``."""
    counts: dict[tuple[str, str], int] = {}
    totals: dict[str, int] = {}
    vocab: set[str] = set()
    for lang, text in sorted(samples.items()):
        s = _py_norm(text)
        for i in range(len(s) - 2):
            tri = s[i : i + 3]
            counts[(lang, tri)] = counts.get((lang, tri), 0) + 1
            totals[lang] = totals.get(lang, 0) + 1
            vocab.add(tri)
    return counts, totals, len(vocab)


def _micro_ln(x: int) -> int:
    return int(math.floor(math.log(x) * MICRO + 0.5))


def train_langid_model(
    spark: SparkSession, samples: dict[str, str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Build the NB model tables.  Returns ``(model, consts)``:

    - ``model``: (lang, tri, micro_logp) with ``micro_logp =
      floor(ln(cnt + 1) * 1e6 + 0.5)`` — broadcast-sized (a few
      thousand rows; grows with the SAMPLE, never the corpus);
    - ``consts``: (lang, micro_denom) with ``micro_denom =
      floor(ln(N_lang + V) * 1e6 + 0.5)`` — one row per language.

    Counting runs DRIVER-side: the training input is the embedded
    sample dict (a handful of strings), so spinning Spark jobs for it
    would only add scheduler overhead — the distributed work of this
    operator is the corpus scoring, and the model ships to it as two
    small createDataFrame tables (broadcast by the scorer).  The
    quantization (floor(ln(x) * 1e6 + 0.5), IEEE doubles) is the same
    arithmetic the DuckDB oracle's in-SQL retraining performs;
    ``tests/test_langid.py`` pins the two tables EQUAL value-for-value
    so a 1-ulp libm divergence at a floor boundary cannot slip through
    as a spurious oracle mismatch."""
    samples = LANGID_SAMPLES if samples is None else samples
    counts, totals, v = _model_counts(samples)
    model = spark.createDataFrame(
        [
            (lang, tri, _micro_ln(c + 1))
            for (lang, tri), c in sorted(counts.items())
        ],
        "lang string, tri string, micro_logp long",
    )
    consts = spark.createDataFrame(
        [(lang, _micro_ln(n + v)) for lang, n in sorted(totals.items())],
        "lang string, micro_denom long",
    )
    return model, consts


def langid_model_sql_ctes(samples: dict[str, str] | None = None) -> str:
    """The DuckDB CTE text that RETRAINS the model in SQL from the same
    embedded sample — the single source both the registry oracle and
    the model-equality pytest embed, so the two can never drift.
    Defines CTEs ``samples, snorm, stris, counts, model, vsize,
    consts`` (same column names/types as :func:`train_langid_model`'s
    tables)."""
    samples = LANGID_SAMPLES if samples is None else samples
    values = ",\n    ".join(
        "('{}', '{}')".format(lang, text.replace("'", "''"))
        for lang, text in sorted(samples.items())
    )
    return f"""samples(lang, sample) AS (VALUES
    {values}
),
snorm AS (SELECT lang, {norm_sql("sample")} AS s FROM samples),
stris AS (
  SELECT lang, substring(s, i, 3) AS tri
  FROM (SELECT lang, s, unnest(generate_series(1, length(s) - 2)) AS i
        FROM snorm WHERE length(s) >= 3)
),
counts AS (SELECT lang, tri, count(*) AS cnt FROM stris GROUP BY lang, tri),
model AS (
  SELECT lang, tri,
         CAST(floor(ln(cnt + 1) * 1000000 + 0.5) AS BIGINT) AS micro_logp
  FROM counts
),
vsize AS (SELECT count(DISTINCT tri) AS v FROM counts),
consts AS (
  SELECT lang,
         CAST(floor(ln(sum(cnt) + (SELECT v FROM vsize)) * 1000000 + 0.5)
              AS BIGINT) AS micro_denom
  FROM counts GROUP BY lang
)"""


def language_id_nb(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    samples: dict[str, str] | None = None,
    min_margin_micro: int = 0,
) -> DataFrame:
    """Per-document language via the char-trigram NB model.

    Output: (id_col, lang, score_micro, margin_micro, n_trigrams) —
    ``lang`` is the argmax language (ties broken lexicographically;
    ``'und'`` when no trigram survives normalization OR the top-2
    margin falls below ``min_margin_micro * n_trigrams``),
    ``score_micro`` the winning integer micro-nat log-likelihood (more
    negative = less like ANY trained language; comparable across docs
    after dividing by ``n_trigrams``), ``margin_micro`` the integer
    gap to the runner-up language (small = near-tie = low confidence;
    per-trigram confidence is ``margin_micro / n_trigrams``).

    ``min_margin_micro`` is a PER-TRIGRAM threshold in micro-nats: 0
    (default) disables the band; ~1000-3000 labels genuine near-ties
    (e.g. short es-vs-pt fragments) ``'und'`` instead of guessing.

    The documents scan is repartitioned to the session's default
    parallelism BEFORE the trigram explode: the explode multiplies
    rows ~300x, so a 2-split single-file-parquet input would cap the
    whole job at 2 tasks.

    Plan (round 9, one doc-proportional exchange — was three; round
    10, 1:1 model join — was one row per MATCHING LANGUAGE): trigram
    occurrences carry the doc's trigram count; the model broadcasts
    PRE-PIVOTED — one row per trigram with the full per-language
    score array (absent (lang, tri) cells are ``micro_ln(0+1) = 0``,
    exactly the unmatched contribution), so the broadcast LEFT join
    emits exactly ONE row per occurrence instead of ~n_matching_langs
    (measured 2.6 s -> 1.1 s at sf0.1 with 19 languages); ONE hash
    agg per doc sums each language's array slot; argmax + smoothing
    denominator + top-2 margin are row-local array expressions over
    the per-language integer constants.  Zero-trigram docs union in
    from a cheap filtered branch of the same scan."""
    spark = df.sparkSession
    samples = LANGID_SAMPLES if samples is None else samples
    counts, totals, v = _model_counts(samples)
    langs = sorted(totals)
    denom = {lang: _micro_ln(n + v) for lang, n in totals.items()}
    tris = sorted({t for (_, t) in counts})
    pmodel = spark.createDataFrame(
        [
            (t, [_micro_ln(counts.get((lang, t), 0) + 1) for lang in langs])
            for t in tris
        ],
        "tri string, sc array<bigint>",
    )

    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).repartition(spark.sparkContext.defaultParallelism)
    docs = base.select("_id", _norm(F.col("_t")).alias("_n")).select(
        "_id",
        "_n",
        F.greatest(F.lit(0), F.length("_n") - 2).alias("n_trigrams"),
    )

    # row-local explode (Generate+Project, NOT a higher-order lambda —
    # the ..dedup winnow lesson: a lambda body re-evaluates the whole
    # normalization chain per trigram; measured 64 s vs ~5 s at sf0.1).
    # explode_OUTER (round 11): zero-trigram docs ride the SAME
    # pipeline as one NULL-trigram row (the bigram_logprob device)
    # instead of a separate filtered union branch.  The old union
    # re-ran the whole scan+normalize for the empty side: a wash at
    # sf0.1 (page-cached input; measured 1.66 s -> 1.63 s interleaved
    # best-of-4) but a full SECOND corpus read at 100 TB, where the
    # input comes from object storage and scan volume is the bill.
    occ = docs.select(
        "_id",
        "_n",
        "n_trigrams",
        F.explode_outer(
            F.when(
                F.col("n_trigrams") > 0,
                F.sequence(F.lit(1), F.col("n_trigrams")),
            )
        ).alias("i"),
    ).select(
        "_id", "n_trigrams", F.expr("substring(_n, i, 3)").alias("tri")
    )
    # broadcast LEFT join keeps zero-match docs alive through the agg;
    # 1:1 — one pre-pivoted model row per trigram (round 10)
    m = occ.join(F.broadcast(pmodel), "tri", "left")
    # per-language sums and neg-score structs are ONE SQL string each,
    # parsed JVM-side (r12, guide §4: the per-language Column-API loops
    # cost ~1 s of py4j chatter per call at 19 languages — same
    # expressions, value-identical)
    sums_sql = ", ".join(
        f"sum(coalesce(sc[{i}], 0))" for i in range(len(langs))
    )
    wide = m.groupBy("_id").agg(
        F.max("n_trigrams").alias("n_trigrams"),
        F.expr(f"array({sums_sql})").alias("_m"),
    )
    # row-local scoring: neg score per language (so array_sort's
    # (neg, lang) ascending order IS argmax with lexicographic ties),
    # smoothing denominator folded in as an integer literal per lang
    neg_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('neg', cast(n_trigrams as bigint) * "
            f"{denom[lang]}L - _m[{i}], 'lang', '{lang}')"
            for i, lang in enumerate(langs)
        )
        + ")"
    )
    ranked = wide.select(
        "_id", "n_trigrams", F.array_sort(neg_structs).alias("_r")
    )
    best_neg = F.col("_r")[0]["neg"]
    best_lang = F.col("_r")[0]["lang"]
    margin = (
        (F.col("_r")[1]["neg"] - best_neg) if len(langs) > 1 else F.lit(0)
    )
    # zero-trigram docs (their one NULL row matched nothing: all sums
    # 0, all negs 0) take the explicit 'und' arm — same output as the
    # old separate empty branch, no second corpus pass
    scored = ranked.select(
        "_id",
        F.when(F.col("n_trigrams") == 0, F.lit("und"))
        .when(
            margin < F.lit(min_margin_micro) * F.col("n_trigrams").cast("long"),
            F.lit("und"),
        )
        .otherwise(best_lang)
        .alias("lang"),
        (-best_neg).cast("long").alias("score_micro"),
        margin.cast("long").alias("margin_micro"),
        F.col("n_trigrams").cast("int").alias("n_trigrams"),
    )
    return scored.withColumnRenamed("_id", id_col)


def dominant_script(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document dominant Unicode script — the script-level
    dimension VERDICT r9 #3 asked for: text whose language the NB
    model does not cover is still labeled by WHAT IT IS ('cyrillic',
    'cjk', 'arabic', ...) instead of disappearing into ``'und'``.

    Output: ``(id_col, script, n_script_chars, n_chars)`` — ``script``
    is the :data:`SCRIPT_RANGES` key with the most matching characters
    in ``lower(text)`` (ties broken alphabetically), ``'und'`` when no
    character matches any known script; ``n_script_chars`` the winning
    count; ``n_chars`` the total character count.

    Pure Catalyst, one scan, zero shuffles: one ``regexp_replace``
    keep-count per script (a driver-known, fixed set — 7 passes over
    the codegen'd row) and a row-local ``array_sort`` argmax over
    ``(neg_count, name)`` structs — the langid argmax device.  The
    DuckDB oracle mirrors each count with the identical literal-range
    regex and a ``list_sort`` over the same structs.

    The input is repartitioned to the session's default parallelism
    before the 7 regex passes: the operator is pure per-row CPU, so a
    2-split sf1 input would run on 2 of 32 cores."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    names = sorted(SCRIPT_RANGES)
    # count = length - length(text with the script's runs REMOVED):
    # a positive run-quantified class ([r]+) is ~12x cheaper than the
    # negated keep-class ([^r] fires a replacement per character;
    # measured 7.0 s -> 0.56 s for the 7 passes at sf1) — same count.
    counts = {
        n: F.length(low)
        - F.length(F.regexp_replace(low, f"[{SCRIPT_RANGES[n]}]+", ""))
        for n in names
    }
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-counts[n]).cast("long").alias("neg"),
                    F.lit(n).alias("script"),
                )
                for n in names
            ]
        )
    )
    best_n = (-ranked[0]["neg"]).cast("int")
    return df.select(
        F.col(id_col),
        F.when(best_n > 0, ranked[0]["script"])
        .otherwise(F.lit("und"))
        .alias("script"),
        best_n.alias("n_script_chars"),
        F.length(low).cast("int").alias("n_chars"),
    )
