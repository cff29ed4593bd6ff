"""Text-analysis operators for training-data pipelines (X-4):
token statistics, quality scoring, language ID, and document
fingerprinting. All hot-path logic is built-in JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_active911_spark.io import read_table, spread
from etl_active911_spark.plans.registry import query

# ---------------------------------------------------------------------------
# X-4a: token statistics
# ---------------------------------------------------------------------------


@query(
    "x4_token_stats",
    """
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               string_split_regex(TRIM(text), '\\s+') AS toks,
               LENGTH(regexp_replace(text, '\\s', '', 'g')) AS token_chars
        FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           ROUND(CAST(token_chars AS DOUBLE) / len(toks), 6) AS avg_token_len,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr
    FROM t
    """,
)
def x4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: per-document token counts, type-token ratio, avg token length —
    whitespace tokenization, single scan, no shuffle. A leaf
    scan→project pipeline, so the registry plan-memoizes it
    (``registry.PLAN_MEMOED``)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    token_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.round(token_chars.cast("double") / F.size(toks), 6).alias("avg_token_len"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# X-4b: quality scoring
# ---------------------------------------------------------------------------


@query(
    "x4_quality_score",
    """
    WITH q AS (
        SELECT doc_id,
               LENGTH(text) AS len_total,
               LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS len_alpha,
               LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS len_digit,
               LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS len_punct,
               CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(len_alpha AS DOUBLE) / len_total, 6) AS alpha_ratio,
           ROUND(CAST(len_digit AS DOUBLE) / len_total, 6) AS digit_ratio,
           ROUND(CAST(len_punct AS DOUBLE) / len_total, 6) AS punct_ratio,
           n_tokens,
           (n_tokens BETWEEN 10 AND 100000
            AND CAST(len_alpha AS DOUBLE) / len_total > 0.5
            AND CAST(len_digit AS DOUBLE) / len_total < 0.3) AS passes_quality
    FROM q
    """,
)
def x4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: Gopher-style quality heuristics — alpha/digit/punct ratios and
    a token-count gate, composed into a boolean filter column."""
    docs = read_table(spark, sf_dir, "documents")
    len_total = F.length("text")
    len_alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    len_digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    len_punct = F.length(F.regexp_replace("text", "[^.,;:!?]", ""))
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    alpha_ratio = len_alpha.cast("double") / len_total
    digit_ratio = len_digit.cast("double") / len_total
    return docs.select(
        "doc_id",
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(len_punct.cast("double") / len_total, 6).alias("punct_ratio"),
        n_tokens.alias("n_tokens"),
        (
            n_tokens.between(10, 100000) & (alpha_ratio > 0.5) & (digit_ratio < 0.3)
        ).alias("passes_quality"),
    )


# BPE-ish pre-tokenization regex: hoisted to functions/textpat.py (leaf
# module) in r9 so dedup's decoration-time oracle builders can import it
# without a circular import; re-exported here for existing call sites.
from etl_active911_spark.functions.textpat import BPE_ISH_PATTERN  # noqa: E402


@query(
    "x4_bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(LOWER(text), '{BPE_ISH_PATTERN.replace(chr(39), chr(39) * 2)}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def x4_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: token counting two ways — whitespace and a BPE-ish
    pre-tokenizer regex (the LLM-cost-estimation proxy). Single scan,
    `regexp_count` stays in codegen."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit(BPE_ISH_PATTERN)).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# X-4c: language identification (stopword-hit heuristic)
# ---------------------------------------------------------------------------

STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}

_LANG_ORDER = list(STOPWORDS)

#: r13 (VERDICT r12 item 7): deterministic multilingual injection so the
#: classifier-eval pair (x4_lang_id / x4_langid_confusion) measures a
#: NON-DEGENERATE heuristic: the synthetic corpus text is English-ish
#: tech words (every doc argmaxes to 'en'), so docs on the injection
#: slice get a native-language sample sentence (plain everyday prose in
#: the doc's LABELED language, stopword-dense by nature) prepended 2-4
#: times. r14 (VERDICT r13 item 7): samples carry native DIACRITICS so
#: the charset-class feature is exercised; all margins are recomputed
#: mechanically from these constants in tests/test_langid_injection.py
#: (native v2 score/rep leads every cross score; 2 reps clear the
#: max-14-stopword en base text). zh stays segmented HERE because the
#: tokenizer is whitespace-based; the hard-mode slice injects the
#: UNSEGMENTED form, which the charset term identifies.
LANGID_SAMPLES: dict[str, str] = {
    "en": "it is the end of a long day and that is a reason to rest in the shade for a while",
    "de": "der hund und die katze sind über die straße zu dem see von dem dorf gelaufen und das ist ein schönes ende für die familie",
    "es": "el perro y la gata están en el jardín de los vecinos por la mañana y así es la vida señor",
    "fr": "le chien et le chat dorment déjà à côté de la maison et les enfants jouent dans une cour près de la ville",
    "zh": "我 的 朋友 和 他 的 家 人 在 城 里 有 一 个 小 店 我 们 就 不 去 了 这 是 好 事",
}

#: r14 hard-mode injections (VERDICT r13 item 7), on the (doc_id // 4)
#: % 5 == 2 sub-slice of injected rows:
#: - zh rows get UNSEGMENTED text — the canonical failure of whitespace
#:   tokenization; only the charset feature can identify it.
#: - es/fr rows get a macaronic Romance phrase whose function words are
#:   all in BOTH stopword lists (la/de/un) and whose content words mix
#:   Spanish (luz, mar, sol) and French (paix, fleur): a genuinely
#:   confusable input. Scores tie exactly; the fixed tie-break order
#:   predicts 'es', so fr-labeled hard rows land off-diagonal — the
#:   confusion matrix honestly shows where the classifier cannot decide.
LANGID_ZH_UNSEG = "我的朋友和他的家人在城里有一个小店我们就不去了这是好事所以大家都来看看吧"
LANGID_AMBIG = "la luz de un mar la paix de un sol la fleur de un rio"

#: r14 (VERDICT r13 item 7): charset-class profile per language — public
#: alphabet facts (German umlauts + eszett; Spanish acute vowels, eñe,
#: inverted punctuation; French grave/circumflex/cedilla set; the CJK
#: Unified Ideographs block for Chinese). Counted per CHARACTER of the
#: lowered text, so unsegmented zh scores by its script even when the
#: whitespace tokenizer yields zero stopword hits. ü is deliberately
#: left out of the French class (rare: aigüe) to keep the de/fr margin
#: clean; é is in BOTH es and fr — real orthographic overlap the
#: confusion matrix should see.
LANGID_CHARSETS: dict[str, str] = {
    "en": "",
    "de": "äöüß",
    "es": "áéíñóúü¡¿",
    "fr": "àâçèéêëîïôùûÿœæ",
    "zh": "一-鿿",
}

#: stopword hits are word-level evidence, charset hits char-level noise
#: per hit — weight stopwords 3:1 (integer, so scores stay exact BIGINT).
LANGID_STOP_WEIGHT = 3

#: r15 (VERDICT r14 item 7): ABSTAIN class. The v2 profile argmaxes over
#: 5 languages, so out-of-family text was force-labeled (an all-zero
#: score vector tie-broke to 'en'). Predict 'und' when the best score
#: carries less evidence than ONE stopword hit (< LANGID_STOP_WEIGHT —
#: i.e. zero stopword hits in every language and at most 2 charset-class
#: characters of noise). Integer threshold on exact BIGINT scores: no
#: knife edges, oracle discipline unchanged. Scope: the classifier pair
#: (x4_lang_id / x4_langid_confusion) only — x9_curation_pipeline keeps
#: the pre-abstain v1 argmax (its 'en' filter composes differently and
#: its semantics are frozen).
LANGID_UND_MIN = LANGID_STOP_WEIGHT

#: injected OUT-OF-FAMILY slice (rule-31 non-vacuity for the abstain
#: class): doc_id % 20 == 2 — disjoint from the % 4 == 1 injection
#: slice, crosses all 5 labels at both fixture SFs (pinned) — REPLACES
#: the text with Swahili prose: zero hits in all 5 stopword lists, zero
#: charset-class characters (all-ASCII, no CJK), so every profile score
#: is exactly 0 and the row must abstain (mechanical pin in
#: tests/test_langid_injection.py).
LANGID_OOF = (
    "watu wengi hapa leo wanafanya kazi nzuri sana kila siku bila "
    "shaka yoyote asante rafiki yangu karibu tena"
)
LANGID_OOF_MOD, LANGID_OOF_REM = 20, 2

_LANGID_PICK_SQL = (
    "CASE WHEN (doc_id // 4) % 5 = 2 AND lang IN ('es', 'fr') THEN '"
    + LANGID_AMBIG
    + " ' WHEN (doc_id // 4) % 5 = 2 AND lang = 'zh' THEN '"
    + LANGID_ZH_UNSEG
    + " ' ELSE CASE lang "
    + " ".join(f"WHEN '{l}' THEN '{s} '" for l, s in LANGID_SAMPLES.items())
    + " END END"
)

#: injection slice: doc_id % 4 == 1 (crosses all 5 labels; coverage
#: pinned non-vacuously); repetition variant rides (doc_id // 4) % 3 and
#: the hard-mode variant rides (doc_id // 4) % 5 (rule 31: both variants
#: live on doc_id // 4, coprime moduli, and the lang label is a data
#: column — every (lang, reps, hard) combination occurs; pinned in
#: tests/test_langid_injection.py).
LANGID_INJECT_SQL = (
    f"CASE WHEN doc_id % {LANGID_OOF_MOD} = {LANGID_OOF_REM} THEN '{LANGID_OOF}'"
    " WHEN doc_id % 4 = 1 THEN repeat("
    + _LANGID_PICK_SQL
    + ", CAST(2 + (doc_id // 4) % 3 AS INT)) || text ELSE text END"
)


def langid_aug_text() -> Column:
    """Spark twin of ``LANGID_INJECT_SQL`` (shared-fixture discipline)."""
    sent = F.lit(None).cast("string")
    for l, s in LANGID_SAMPLES.items():
        sent = F.when(F.col("lang") == l, F.lit(s + " ")).otherwise(sent)
    hard = F.expr("doc_id div 4") % 5 == 2
    sent = (
        F.when(hard & F.col("lang").isin("es", "fr"), F.lit(LANGID_AMBIG + " "))
        .when(hard & (F.col("lang") == "zh"), F.lit(LANGID_ZH_UNSEG + " "))
        .otherwise(sent)
    )
    reps = (F.lit(2) + (F.expr("doc_id div 4") % 3)).cast("int")
    return (
        F.when(
            F.col("doc_id") % LANGID_OOF_MOD == LANGID_OOF_REM, F.lit(LANGID_OOF)
        )
        .when(
            F.col("doc_id") % 4 == 1, F.concat(F.repeat(sent, reps), F.col("text"))
        )
        .otherwise(F.col("text"))
    )


def _score_sql(lang: str) -> str:
    """v1 stopword-hit score (kept for x9_curation_pipeline: its input is
    the raw ASCII corpus, where v2 = 3×v1 + 0 — identical argmax)."""
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({lits})))"


def _score2_sql(lang: str) -> str:
    """v2 score (r14): LANGID_STOP_WEIGHT × stopword hits + charset-class
    character hits over the lowered text (column ``low`` in the CTE).
    Finite classes count via ``translate`` (plain char lookup — measured
    0.60→0.47 s vs a regex class at sf0.1; identical code-point
    semantics in both engines); only the zh RANGE needs a regex."""
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    stop = f"{LANGID_STOP_WEIGHT} * len(list_filter(toks, t -> t IN ({lits})))"
    cs = LANGID_CHARSETS[lang]
    if not cs:
        return stop
    if lang == "zh":
        return f"{stop} + (length(low) - length(regexp_replace(low, '[{cs}]', '', 'g')))"
    return f"{stop} + (length(low) - length(translate(low, '{cs}', '')))"


def _charset_hits(low: Column, lang: str) -> Column:
    """Spark twin of the charset term of ``_score2_sql``."""
    cs = LANGID_CHARSETS[lang]
    if not cs:
        return F.lit(0)
    if lang == "zh":
        return F.length(low) - F.length(F.regexp_replace(low, f"[{cs}]", ""))
    return F.length(low) - F.length(F.translate(low, cs, ""))


def _lang_score2(low: Column, toks: Column, lang: str) -> Column:
    stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
    return (F.lit(LANGID_STOP_WEIGHT) * stop + _charset_hits(low, lang)).cast("bigint")


def _langid_v2_cols() -> tuple[list[Column], Column]:
    """Memoized (score columns, predicted-language column) for the v2
    classifier — fixed trees over `doc_id`/`lang`/`text`, ~0.5 s of py4j
    construction per build (80% of the x4_lang_id anchor; BASELINE.md
    r14). The memo holds only UNALIASED trees (ADVICE r14 item 4:
    aliases mint exprIds at construction — memo_cols' own invariant);
    the ``s_<lang>`` aliases are minted fresh per call, matching the
    dedup.py minhash/simhash memo pattern."""
    from etl_active911_spark.plans.cache import memo_cols

    def build():
        low = F.trim(F.lower(langid_aug_text()))
        toks = F.split(low, r"\s+")
        scores = [_lang_score2(low, toks, l) for l in _LANG_ORDER]
        best = F.greatest(*[F.col(f"s_{l}") for l in _LANG_ORDER])
        pred = F.lit(None).cast("string")
        for l in reversed(_LANG_ORDER):
            pred = F.when(F.col(f"s_{l}") >= best, F.lit(l)).otherwise(pred)
        # abstain (r15): less evidence than one stopword hit → 'und'
        pred = F.when(best < LANGID_UND_MIN, F.lit("und")).otherwise(pred)
        return scores, pred

    scores, pred = memo_cols("textual.langid_v2", build)
    return [s.alias(f"s_{l}") for s, l in zip(scores, _LANG_ORDER)], pred


_LANG_PRED_SQL = "CASE " + " ".join(
    f"WHEN s_{l} >= GREATEST({', '.join('s_' + o for o in _LANG_ORDER)}) THEN '{l}'"
    for l in _LANG_ORDER
) + " END"

#: classifier-pair prediction WITH the r15 abstain class; the pre-abstain
#: ``_LANG_PRED_SQL`` stays as-is for x9_curation_pipeline (see
#: LANGID_UND_MIN scope note).
_LANG_PRED_UND_SQL = (
    f"CASE WHEN GREATEST({', '.join('s_' + o for o in _LANG_ORDER)})"
    f" < {LANGID_UND_MIN} THEN 'und' " + " ".join(
        f"WHEN s_{l} >= GREATEST({', '.join('s_' + o for o in _LANG_ORDER)}) THEN '{l}'"
        for l in _LANG_ORDER
    ) + " END"
)


@query(
    "x4_lang_id",
    f"""
    WITH raw AS (
        SELECT doc_id, lang AS labeled_lang,
               TRIM(LOWER({LANGID_INJECT_SQL})) AS low
        FROM documents
    ),
    t AS (
        SELECT doc_id, labeled_lang, low,
               string_split_regex(low, '\\s+') AS toks
        FROM raw
    ),
    s AS (
        SELECT doc_id, labeled_lang,
               {", ".join(f"CAST({_score2_sql(l)} AS BIGINT) AS s_{l}" for l in _LANG_ORDER)}
        FROM t
    )
    SELECT doc_id, labeled_lang, {_LANG_PRED_UND_SQL} AS predicted_lang,
           ({_LANG_PRED_UND_SQL} = labeled_lang) AS agrees
    FROM s
    """,
)
def x4_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: language-ID via a per-language feature profile — weighted
    stopword-set hits plus charset-class character hits (r14, VERDICT
    r13 item 7) — argmax with a fixed tie-break order, abstaining to
    'und' below the evidence floor (r15, VERDICT r14 item 7:
    out-of-family text is no longer force-labeled; the injected Swahili
    slice and the corpus's zero-stopword docs both abstain). Single
    scan, no shuffle, no UDF. The charset term identifies UNSEGMENTED
    zh (zero whitespace tokens match) and surfaces real es/fr
    orthographic overlap; the injected hard-mode slices exercise both
    (``langid_aug_text``; margins pinned in
    tests/test_langid_injection.py)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    scores, pred = _langid_v2_cols()
    scored = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), *scores
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("predicted_lang"),
        (pred == F.col("labeled_lang")).alias("agrees"),
    )


# ---------------------------------------------------------------------------
# X-4d: document fingerprinting (winnowing)
# ---------------------------------------------------------------------------


_FP_K, _FP_W = 5, 4

_FINGERPRINT_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')) AS norm
        FROM documents
    ),
    pos AS (
        SELECT doc_id, norm,
               GREATEST(LENGTH(norm) - {_FP_K - 1}, 1) AS n_grams,
               unnest(range(1, GREATEST(LENGTH(norm) - {_FP_K - 1}, 1) + 1)) AS i
        FROM d
    ),
    g AS (
        SELECT doc_id, n_grams, i,
               md5(substr(norm, CAST(i AS INT), {_FP_K})) AS gram_hash
        FROM pos
    ),
    w AS (
        SELECT doc_id, i, n_grams,
               MIN(gram_hash) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN CURRENT ROW
                                    AND {_FP_W - 1} FOLLOWING) AS win_min
        FROM g
    )
    SELECT DISTINCT doc_id, win_min AS fingerprint_hash
    FROM w WHERE i <= GREATEST(n_grams - {_FP_W - 1}, 1)
    """


@query("x4_fingerprint", _FINGERPRINT_ORACLE)
def x4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: winnowing fingerprints (Schleimer et al. MOSS scheme): k-gram
    hashes → min per sliding w-window → distinct selected hashes.
    Emitted as (doc_id, fingerprint_hash) posting rows — joinable for
    near-dup detection the same way as x2 postings.

    Gram hash is md5 hex (lexicographic window min — identical semantics
    on both engines), which buys an exact DuckDB oracle for the whole
    winnowing pipeline; xxhash64 would be ~2× cheaper per gram but is not
    replicable outside Spark (round-2 tradeoff, documented).

    Shape: explode gram positions, hash each k-gram, winnow with a
    rows-frame window min — all whole-stage-codegen. (Nested dependent
    higher-order lambdas here would re-evaluate the gram array per window
    element — interpreted and quadratic; measured minutes vs seconds.)
    """
    k, w = _FP_K, _FP_W
    docs = spread(read_table(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    n_grams = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    grams = docs.select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("i"),
        norm.alias("norm"),
    ).select(
        "doc_id",
        "n_grams",
        "i",
        F.md5(F.col("norm").substr(F.col("i"), F.lit(k))).alias("gram_hash"),
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    selected = (
        grams.withColumn("win_min", F.min("gram_hash").over(win))
        .filter(F.col("i") <= F.greatest(F.col("n_grams") - (w - 1), F.lit(1)))
        .select("doc_id", F.col("win_min").alias("fingerprint_hash"))
        .distinct()
    )
    return selected


# ---------------------------------------------------------------------------
# X-9: the composed curation pipeline (what a user actually runs)
# ---------------------------------------------------------------------------

_NORM_SQL = "TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))"


@query(
    "x9_curation_pipeline",
    f"""
    WITH t AS (
        SELECT doc_id, lang AS labeled_lang, text,
               string_split_regex(TRIM(LOWER(text)), '\\s+') AS toks,
               LENGTH(text) AS len_total,
               LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS len_alpha,
               LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS len_digit,
               sha256({_NORM_SQL}) AS content_hash
        FROM documents
    ),
    s AS (
        SELECT *, {", ".join(f"CAST({_score_sql(l)} AS BIGINT) AS s_{l}" for l in _LANG_ORDER)},
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len_alpha AS DOUBLE) / len_total AS alpha_ratio,
               CAST(len_digit AS DOUBLE) / len_total AS digit_ratio
        FROM t
    ),
    curated AS (
        SELECT * FROM s
        WHERE {_LANG_PRED_SQL} = 'en'
          AND n_tokens BETWEEN 10 AND 100000
          AND alpha_ratio > 0.5 AND digit_ratio < 0.3
    ),
    deduped AS (
        SELECT content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        FROM curated GROUP BY content_hash
    ),
    kept AS (
        SELECT c.* FROM curated c JOIN deduped d ON c.doc_id = d.keeper_id
    )
    SELECT labeled_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(alpha_ratio), 6) AS avg_alpha_ratio
    FROM kept
    GROUP BY labeled_lang
    """,
)
def x9_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9: the COMPOSED training-data curation flow — lang-ID filter
    (predicted English), Gopher-style quality gate, exact dedup (keep
    lowest doc_id per content hash), then per-source-label corpus stats.
    One narrow scan computes lang scores + quality + content hash
    together; the only shuffles are the dedup (keyed by the 256-bit hash)
    and the final tiny rollup — the same plan shape at 100 TB. Composes
    x4_lang_id + x4_quality_score + x1_exact_dedup building blocks.
    """
    from etl_active911_spark.operators.dedup import normalized_text

    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")

    def stopword_hits(lang: str) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang]))).cast("bigint")

    len_total = F.length("text")
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double") / len_total
    digit_ratio = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double") / len_total
    n_tokens = F.size(toks).cast("bigint")

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[stopword_hits(l).alias(f"s_{l}") for l in _LANG_ORDER],
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        digit_ratio.alias("digit_ratio"),
        F.sha2(normalized_text(F.col("text")), 256).alias("content_hash"),
    )
    best = F.greatest(*[F.col(f"s_{l}") for l in _LANG_ORDER])
    pred = F.lit(None).cast("string")
    for l in reversed(_LANG_ORDER):
        pred = F.when(F.col(f"s_{l}") >= best, F.lit(l)).otherwise(pred)
    curated = scored.filter(
        (pred == "en")
        & F.col("n_tokens").between(10, 100000)
        & (F.col("alpha_ratio") > 0.5)
        & (F.col("digit_ratio") < 0.3)
    )
    keepers = curated.groupBy("content_hash").agg(F.min("doc_id").alias("keeper_id"))
    kept = curated.join(
        keepers, curated["doc_id"] == keepers["keeper_id"], "inner"
    )
    return kept.groupBy("labeled_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("alpha_ratio"), 6).alias("avg_alpha_ratio"),
    )


# ---------------------------------------------------------------------------
# X-4e: Gopher-style quality rules (repetition + composition filters)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")

#: Gopher keep-gate thresholds (Rae et al. 2021 §A1.1-style composition
#: filters) — ONE definition consumed by the Spark gate, the
#: x4_gopher_rules oracle, AND every curation oracle that re-states the
#: quality CTE (ADVICE r09: inlined literals would silently desync).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_MIN_STOP_FRAC = 0.005
GOPHER_MAX_TOP_BIGRAM = 0.2


def gopher_gate_sql(stats: str, topbi_expr: str) -> str:
    """The Gopher keep predicate as SQL text over a stats alias and a
    top-bigram-fraction expression — shared by all oracle CTE chains."""
    return (
        f"{stats}.n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}\n"
        f"          AND {stats}.mean_word_len BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI}\n"
        f"          AND {stats}.stop_frac >= {GOPHER_MIN_STOP_FRAC}\n"
        f"          AND {topbi_expr} <= {GOPHER_MAX_TOP_BIGRAM}"
    )


@query(
    "x4_gopher_rules",
    f"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    stats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*), 6) AS mean_word_len,
               ROUND(CAST(SUM(CASE WHEN tok IN {_STOPWORDS} THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS stop_frac,
               ROUND(CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS alpha_word_frac
        FROM toks GROUP BY doc_id
    ),
    t2 AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    bi AS (
        SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i+1])) AS g,
               len(t) - 1 AS n_bi
        FROM t2 WHERE len(t) >= 2
    ),
    bc AS (
        SELECT doc_id, g, n_bi, COUNT(*) AS c FROM bi GROUP BY doc_id, g, n_bi
    ),
    topbi AS (
        SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / ANY_VALUE(n_bi), 6) AS top_bigram_frac
        FROM bc GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_words, s.mean_word_len, s.stop_frac, s.alpha_word_frac,
           COALESCE(tb.top_bigram_frac, 0.0) AS top_bigram_frac,
           ({gopher_gate_sql("s", "COALESCE(tb.top_bigram_frac, 0.0)")}) AS keep
    FROM stats s LEFT JOIN topbi tb ON s.doc_id = tb.doc_id
    """,
)
def x4_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (Gopher-style quality rules, Rae et al. §A1.1 adapted to the
    line-less fixture corpus): word-count bounds, mean word length,
    stop-word presence, alphabetic-word fraction, and the repetition
    signal (most-frequent-bigram mass). All flat codegen: one token
    explode feeds the composition stats, one bigram explode feeds the
    repetition stat; every ratio is rounded before thresholding
    (canonical policy 4) so keep/drop decisions agree across engines.
    At 100 TB both explodes shuffle (doc_id)-keyed small rows; the text
    column never shuffles."""
    return gopher_stats(spread(read_table(spark, sf_dir, "documents")))


def gopher_stats(docs: DataFrame) -> DataFrame:
    """The Gopher gate over an ARBITRARY (doc_id, text) frame — the body
    of ``x4_gopher_rules``, factored so the streaming curation ingest
    can run the identical gate per micro-batch (r10)."""
    from etl_active911_spark.operators.dedup import tokens

    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.round(F.sum(F.length("tok")).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_word_len"
        ),
        F.round(
            F.sum(F.when(F.col("tok").isin(*_STOPWORDS), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("stop_frac"),
        F.round(
            F.sum(F.when(F.col("tok").rlike("[a-z]"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("alpha_word_frac"),
    )
    t = tokens(F.col("text"))
    n = F.size(t)
    bi = (
        docs.select("doc_id", t.alias("t"), n.alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "doc_id",
            (F.col("n") - 1).alias("n_bi"),
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            "n_bi",
            F.concat_ws(
                " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
            ).alias("g"),
        )
    )
    bc = bi.groupBy("doc_id", "g", "n_bi").agg(F.count(F.lit(1)).alias("c"))
    topbi = bc.groupBy("doc_id").agg(
        F.round(F.max("c").cast("double") / F.first("n_bi"), 6).alias("top_bigram_frac")
    )
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MWL_LO, GOPHER_MWL_HI)
        & (F.col("stop_frac") >= GOPHER_MIN_STOP_FRAC)
        & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= GOPHER_MAX_TOP_BIGRAM)
    )
    return (
        stats.join(topbi, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "stop_frac",
            "alpha_word_frac",
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias("top_bigram_frac"),
            keep.alias("keep"),
        )
    )


def shared_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``x4_gopher_rules`` output, materialized once per (session,
    sf_dir) and reused across queries — the quality gate is the shared
    upstream of THREE registered curation builds (x9_curation_v3/v4/v5),
    each of which re-ran the full two-explode token/bigram pipeline
    (~2.5-3.5 s at sf0.1) before r7. A ``plans.cache.fixture_memo``:
    fixture-fingerprint invalidation, localCheckpoint materialization
    (consumers compose with iterative cluster drops — rule 17), tiny
    result (one row per doc, no text)."""
    from etl_active911_spark.plans.cache import fixture_memo

    return fixture_memo(
        "textual.gopher_rules", spark, sf_dir, lambda: x4_gopher_rules(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# X-9b: the round-2 curation pipeline (Gopher gate → decontaminate → dedup)
# ---------------------------------------------------------------------------


def _curation_v2_oracle() -> str:
    """Composed oracle: Gopher keep-rules + 5-gram benchmark overlap +
    exact dedup, ending in per-language corpus stats."""
    from etl_active911_spark.operators.dedup import EVAL_SOURCE

    stop_in = "('the', 'a', 'of', 'to', 'and', 'in', 'is', 'on')"
    return f"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split({_NORM_SQL}, ' ')) AS tok
        FROM documents
    ),
    stats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*), 6) AS mean_word_len,
               ROUND(CAST(SUM(CASE WHEN tok IN {stop_in} THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS stop_frac
        FROM toks GROUP BY doc_id
    ),
    t2 AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ),
    bi AS (
        SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i+1])) AS g,
               len(t) - 1 AS n_bi
        FROM t2 WHERE len(t) >= 2
    ),
    bc AS (SELECT doc_id, g, n_bi, COUNT(*) AS c FROM bi GROUP BY doc_id, g, n_bi),
    topbi AS (
        SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / ANY_VALUE(n_bi), 6) AS tb
        FROM bc GROUP BY doc_id
    ),
    gshingle AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 5
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
                                                      i -> array_to_string(t[i:i+4], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM t2
    ),
    contaminated AS (
        SELECT DISTINCT tr.doc_id
        FROM (SELECT s.doc_id, UNNEST(s.gs) AS g
              FROM gshingle s JOIN documents d ON s.doc_id = d.doc_id
              WHERE d.source <> '{EVAL_SOURCE}') tr
        JOIN (SELECT DISTINCT UNNEST(s.gs) AS g
              FROM gshingle s JOIN documents d ON s.doc_id = d.doc_id
              WHERE d.source = '{EVAL_SOURCE}') ev
          ON tr.g = ev.g
    ),
    kept AS (
        SELECT d.doc_id, d.lang, st.n_words,
               sha256({_NORM_SQL}) AS content_hash
        FROM documents d
        JOIN stats st ON st.doc_id = d.doc_id
        LEFT JOIN topbi tb ON tb.doc_id = d.doc_id
        WHERE d.source <> '{EVAL_SOURCE}'
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND {gopher_gate_sql("st", "COALESCE(tb.tb, 0.0)")}
    ),
    deduped AS (
        SELECT content_hash, MIN(doc_id) AS keeper_id
        FROM kept GROUP BY content_hash
    )
    SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_words) AS BIGINT) AS total_words
    FROM kept k JOIN deduped dd ON k.doc_id = dd.keeper_id
    GROUP BY k.lang
    """


@query("x9_curation_v2", _curation_v2_oracle())
def x9_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9b: the ROUND-2 composed curation flow — Gopher-rule quality gate
    (x4_gopher_rules), benchmark decontamination (x2_decontaminate), exact
    dedup (x1 shape), then per-language corpus stats. Built by COMPOSING
    the registered operators' DataFrames (each already plan-optimal), so
    Catalyst fuses the shared document scan; the only shuffles are the
    stat aggregates, the posting join, and the hash dedup — all keyed by
    small derived values, same shape at 100 TB."""
    from etl_active911_spark.operators.dedup import (
        EVAL_SOURCE,
        normalized_text,
        x2_decontaminate,
    )

    gr = shared_gopher_rules(spark, sf_dir).select("doc_id", "keep", "n_words")
    contaminated = x2_decontaminate(spark, sf_dir).select("doc_id")
    docs = read_table(spark, sf_dir, "documents")
    kept = (
        docs.filter(F.col("source") != EVAL_SOURCE)
        .join(gr, "doc_id")
        .filter(F.col("keep"))
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.sha2(normalized_text(F.col("text")), 256).alias("content_hash"),
        )
    )
    keepers = kept.groupBy("content_hash").agg(F.min("doc_id").alias("keeper_id"))
    return (
        kept.join(keepers, kept["doc_id"] == keepers["keeper_id"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
    )


@query(
    "x4_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY tok
    ),
    tot AS (SELECT SUM(c) AS n FROM vocab)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln(v.c / tot.n)), 6) AS avg_neg_logprob
    FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def x4_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (perplexity proxy): average negative log-probability of each
    document under the CORPUS'S OWN unigram distribution — the cheap
    self-supervised stand-in for CCNet-style LM quality scoring (docs of
    rare/garbled tokens score high, formulaic boilerplate scores low).
    ln() differs in the last ulp across libm builds; AVG + ROUND(6)
    absorbs it.

    Plan shape (r15 optimization round; SKEW AUDIT r16, ADVICE r15): the
    per-token count is an unbounded-frame WINDOW count over the token
    stream partitioned by tok (one tok-keyed exchange), the corpus total
    ONE count aggregate — tokenize evaluations 3 → 2 vs the original
    vocab-aggregate + corpus-sized-rejoin shape. Counts are the same
    integers, so every -ln term is the same double. CAVEAT, examined and
    accepted (SCALE.md "hot-token window" row): a window count has no
    map-side partial aggregation, so a Zipf-head stop word's partition
    is a single task holding that token's whole occurrence stream — at
    100 TB the skew-safe shape is the two-level aggregate (per-(doc,tok)
    grain → tok-keyed count + key join back, AQE skew-split eligible).
    That shape was A/B'd value-identical here and in the bigram scorer
    and measured SLOWER at fixture scale twice (paired interleaved
    medians r16: 1.51 vs 2.24 uni, 0.68 vs 1.67 bigram — extra
    aggregate+join stages dominate sub-second rows), so the window stays
    locally per rule 34; the documented 100 TB remedy is the measured
    two-level rewrite, not a config."""
    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counted = toks.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("tok")).cast("double")
    )
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        counted.crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 6).alias("avg_neg_logprob"),
        )
    )


@query(
    "x4_tfidf_topterms",
    """
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM toks GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    ),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    scored AS (
        SELECT t.doc_id, t.tok,
               ROUND(t.tf * ln((nd.n + 1) / (d.df + 1)), 6) AS tfidf
        FROM tf t JOIN dfreq d ON t.tok = d.tok CROSS JOIN nd
    ),
    ranked AS (
        SELECT doc_id, tok, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rnk
        FROM scored
    )
    SELECT doc_id, tok, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def x4_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: per-document top-3 TF-IDF terms — the classic keyword /
    salient-term extraction every corpus tool ships (smoothed idf =
    ln((N+1)/(df+1))). Shuffle ledger at 100 TB: one (doc_id, tok)
    aggregate for tf, one token-keyed aggregate for df, a token-keyed
    rejoin (broadcast under the threshold, SMJ above), and the corpus
    count as a 1-row broadcast. Ranking orders by the ROUNDED score with
    a token tie-break (canonical policy 4) so top-3 membership is
    deterministic cross-engine; ln() ulp drift is absorbed by ROUND(6).
    """
    from etl_active911_spark.operators.dedup import tokens as _tokens

    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# X-4j: corpus heavy hitters (vocabulary head)
# ---------------------------------------------------------------------------


@query(
    "x4_heavy_hitters",
    r"""
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS term_freq
    FROM (
        SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS token
        FROM documents
    ) t
    GROUP BY token
    ORDER BY doc_freq DESC, token
    LIMIT 20
    """,
)
def x4_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: the corpus vocabulary head — top-20 tokens by document
    frequency (term frequency carried alongside). One explode + one hash
    aggregate keyed by token, then TakeOrderedAndProject for the top-k:
    the 100 TB plan is a map-side partial agg per token (vocabulary-sized
    state, not corpus-sized) and a 20-row driver result. Ties break on
    the token itself, so membership at the cut is deterministic."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("term_freq"),
        )
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X-4k: PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

# Conservative regex subset (character classes, bounded repeats — no
# lookaround, no \d shorthands) so Java regex and RE2 agree byte-for-byte.
# Hoisted to functions/textpat.py (leaf module, r12) so decoration-time
# oracle builders in other modules (clustering's release scorecard) can
# embed the patterns without a circular import; re-exported here for
# existing call sites.
from etl_active911_spark.functions.textpat import (  # noqa: E402
    PII_EMAIL as _PII_EMAIL,
    PII_PHONE as _PII_PHONE,
    PII_SSN as _PII_SSN,
)


from etl_active911_spark.functions.textpat import (  # noqa: E402
    pii_aug_cte,
    pii_n_matches_sql,
)


@query(
    "x4_pii_redact",
    f"""
    WITH {pii_aug_cte()}
    SELECT doc_id,
           {pii_n_matches_sql("aug", _PII_EMAIL)} AS n_emails,
           {pii_n_matches_sql("aug", _PII_PHONE)} AS n_phones,
           {pii_n_matches_sql("aug", _PII_SSN)} AS n_ssns,
           regexp_replace(regexp_replace(regexp_replace(aug,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_SSN}', '<SSN>', 'g') AS redacted
    FROM aug
    """,
)
def x4_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4: PII scrubbing for training corpora — email / phone / SSN
    patterns replaced with typed sentinels, plus per-document match
    counts. The fixture corpus is synthetic word salad, so deterministic
    PII is first INJECTED as a function of doc_id (identically in both
    engines) and then redacted; the oracle checks the full redacted text
    byte-for-byte, which pins the Java-regex vs RE2 semantics of the
    shared pattern subset. Single scan, no shuffle, no UDFs."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 != 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" ssn 987-65-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
    )
    def n_matches(pat: str) -> Column:
        return (F.size(F.split(F.col("aug"), pat)) - 1).cast("bigint")

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_SSN,
        "<SSN>",
    )
    return docs.select("doc_id", aug.alias("aug")).select(
        "doc_id",
        n_matches(_PII_EMAIL).alias("n_emails"),
        n_matches(_PII_PHONE).alias("n_phones"),
        n_matches(_PII_SSN).alias("n_ssns"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# X-4l: character-level Shannon entropy (quality signal)
# ---------------------------------------------------------------------------


@query(
    "x4_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, substr(text, CAST(k AS INT), 1) AS ch
        FROM (
            SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS k
            FROM documents
        ) t
    ),
    counts AS (
        SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
        SELECT doc_id, SUM(c) AS n FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(t.n AS BIGINT) AS n_chars,
           COUNT(*)            AS n_distinct_chars,
           ROUND(-SUM((CAST(c.c AS DOUBLE) / t.n) * log2(CAST(c.c AS DOUBLE) / t.n)), 6)
               AS char_entropy
    FROM counts c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id, t.n
    """,
)
def x4_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4l: per-document character-distribution Shannon entropy — the
    cheap "is this prose or garbage" quality gate (binary blobs and
    repeated-char spam sit far from English's ~4.1 bits/char; used as a
    pre-filter before the heavier Gopher rules).

    Scale shape per SCALE.md invariant 3: the per-char loop is an
    `explode(sequence)` + `substr` feeding ONE codegen hash-aggregate on
    (doc_id, char) — no interpreted higher-order lambda touches the
    corpus-sized side. The char-count table (≤ alphabet size per doc) is
    what the entropy reduction runs on, so the second aggregate is tiny.
    Float policy: entropy is a ratio-of-logs — rounded 6dp after the final
    sum (CLAUDE.md rule 4).
    """
    docs = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    chars = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("k"),
        "text",
    ).select("doc_id", F.col("text").substr(F.col("k"), F.lit(1)).alias("ch"))
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.sum("c").over(w)
    per_char = counts.select("doc_id", F.col("c"), (p * F.log2(p)).alias("plogp"))
    return per_char.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.round(-F.sum("plogp"), 6).alias("char_entropy"),
    )


# ---------------------------------------------------------------------------
# X-4m: bigram PMI (collocation / phrase mining)
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 3
PMI_TOP = 20


@query(
    "x4_pmi_bigrams",
    f"""
    WITH toks AS (
        SELECT doc_id, w, k FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS k
            FROM documents
        ) t WHERE w <> ''
    ),
    bi AS (
        SELECT w AS w1, LEAD(w) OVER (PARTITION BY doc_id ORDER BY k) AS w2
        FROM toks
    ),
    bc AS (
        SELECT w1, w2, COUNT(*) AS c_ab FROM bi WHERE w2 IS NOT NULL GROUP BY w1, w2
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    nt AS (SELECT SUM(c) AS n FROM uc),
    nb AS (SELECT SUM(c_ab) AS n FROM bc),
    scored AS (
        SELECT bc.w1, bc.w2, bc.c_ab,
               ROUND(log2((CAST(bc.c_ab AS DOUBLE) / (SELECT n FROM nb))
                          / ((CAST(a.c AS DOUBLE) / (SELECT n FROM nt))
                             * (CAST(b.c AS DOUBLE) / (SELECT n FROM nt)))), 6) AS pmi
        FROM bc
        JOIN uc a ON a.w = bc.w1
        JOIN uc b ON b.w = bc.w2
        WHERE bc.c_ab >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_ab, pmi, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rnk FROM scored
    ) r WHERE rnk <= {PMI_TOP}
    """,
)
def x4_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4m: top bigram collocations by pointwise mutual information — the
    classic phrase-mining pass (word2vec-style phrase joining, tokenizer
    vocab curation) over the corpus.

    Scale shape: tokens come from ONE posexplode (no interpreted lambda);
    the bigram pairing is `lead()` over (doc, position) — one shuffle on
    doc_id, no positional self-join; counts are codegen hash-aggregates
    on small derived keys. Corpus totals ride as 1-row broadcast cross
    joins. PMI is computed with the exact operation order of the oracle
    (`(c_ab/N_b) / ((c_a/N_t) · (c_b/N_t))`, then log2 — rule 11), ranked
    on the ROUNDED score with (w1, w2) tie-breaks (rule 4).
    """
    docs = spread(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    # array-side pairing (r15 optimization round, the countmin change):
    # array_remove scrubs empties natively and element_at pairs
    # neighbors off one exploded index — no lead() window, so the corpus
    # token stream is never sorted. Same (w1, w2) multiset: lead over
    # (doc, position) of the non-empty stream IS the adjacent-pair list.
    arr = F.array_remove(F.split("text", " "), "")
    tokd = docs.select("doc_id", arr.alias("t"))
    toks = tokd.select("doc_id", F.explode("t").alias("w"))
    bi = (
        tokd.filter(F.size("t") >= 2)
        .select(F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t")
        .select(
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nt = uc.agg(F.sum("c").alias("n_t"))
    nb = bc.agg(F.sum("c_ab").alias("n_b"))
    scored = (
        bc.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log2(
                    (F.col("c_ab").cast("double") / F.col("n_b"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n_t"))
                        * (F.col("c_b").cast("double") / F.col("n_t"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # global top-k as orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps + tiny driver merge, no single-partition global window); the
    # rank window then runs over only PMI_TOP rows
    topk = scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(PMI_TOP)
    w_rank = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return topk.withColumn("rnk", F.row_number().over(w_rank))


# ---------------------------------------------------------------------------
# X-9c (r4): curation v3 — quality gate → near-dup drop → exact dedup →
# size-balanced shard manifest. The full training-data story in one query.
# ---------------------------------------------------------------------------


def _curation_v3_oracle() -> str:
    """Chained oracle: Gopher keep-rules, MinHash-LSH closure non-keeper
    drop, exact-hash dedup among survivors, then the prefix-sum shard
    manifest — every stage reuses the fragment already pinned by its
    standalone query's oracle, so a v3 mismatch localizes the break."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES
    from etl_active911_spark.operators.sampling import TARGET_SHARD_BYTES

    stop_in = _STOPWORDS
    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    cedges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM cedges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN cedges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS doc_id, dst FROM walk
        UNION
        SELECT src, src FROM cedges
    ),
    comp AS (SELECT doc_id, MIN(dst) AS component FROM reach GROUP BY doc_id),
    dup_drop AS (SELECT doc_id FROM comp WHERE doc_id <> component),
    qtoks AS (
        SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ),
    qstats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*), 6) AS mean_word_len,
               ROUND(CAST(SUM(CASE WHEN tok IN {stop_in} THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS stop_frac
        FROM qtoks GROUP BY doc_id
    ),
    qt2 AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
    qbi AS (
        SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i+1])) AS g,
               len(t) - 1 AS n_bi
        FROM qt2 WHERE len(t) >= 2
    ),
    qbc AS (SELECT doc_id, g, n_bi, COUNT(*) AS c FROM qbi GROUP BY doc_id, g, n_bi),
    qtop AS (
        SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / ANY_VALUE(n_bi), 6) AS tb
        FROM qbc GROUP BY doc_id
    ),
    quality AS (
        SELECT s.doc_id FROM qstats s LEFT JOIN qtop t ON s.doc_id = t.doc_id
        WHERE {gopher_gate_sql("s", "COALESCE(t.tb, 0.0)")}
    ),
    stage AS (
        SELECT q.doc_id FROM quality q
        WHERE q.doc_id NOT IN (SELECT doc_id FROM dup_drop)
    ),
    hashes AS (
        SELECT s.doc_id, sha256({_NORM_SQL}) AS content_hash
        FROM stage s JOIN documents USING (doc_id)
    ),
    exact_keep AS (
        SELECT MIN(doc_id) AS doc_id FROM hashes GROUP BY content_hash
    ),
    surv AS (
        SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
        FROM exact_keep k JOIN documents d USING (doc_id)
    ),
    cum AS (
        SELECT doc_id, n_bytes,
               SUM(n_bytes) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        FROM surv
    )
    SELECT CAST((cumb - n_bytes) // {TARGET_SHARD_BYTES} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum GROUP BY 1
    """


@query("x9_curation_v3", _curation_v3_oracle())
def x9_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9c: the ROUND-4 composed training-data flow — Gopher quality gate
    → near-dup CLUSTER drop (MinHash-LSH → connected components; every
    non-keeper cluster member removed) → exact content-hash dedup among
    the survivors → size-balanced shard manifest via the two-phase
    distributed prefix sum (``assign_shards``). Stage order is part of the
    contract and replicated exactly in the oracle: cluster-drop runs
    BEFORE exact dedup so hash keepers are chosen among quality-kept,
    non-near-dup docs only."""
    from etl_active911_spark.operators.dedup import normalized_text
    from etl_active911_spark.operators.sampling import assign_shards

    docs = read_table(spark, sf_dir, "documents")
    quality = shared_gopher_rules(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    # non-keepers straight from the memoized star-engine component labels
    # (the x8_cluster_split shortcut, r7; shared_component_labels memo,
    # r12): a doc is dropped iff it is in a cluster and not its min —
    # x2_dup_clusters' keeper groupBy+join adds nothing the component
    # labels don't already say
    from etl_active911_spark.operators.dedup import shared_component_labels

    non_keepers = (
        shared_component_labels(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    stage = docs.join(quality, "doc_id").join(non_keepers, "doc_id", "left_anti")
    hashes = stage.select(
        "doc_id", F.sha2(normalized_text(F.col("text")), 256).alias("content_hash")
    )
    exact_keep = hashes.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    survivors = docs.join(exact_keep.select("doc_id"), "doc_id")
    return (
        assign_shards(survivors)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query("x4_compression_ratio", None)  # zlib is not expressible in DuckDB SQL — rows-only
def x4_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (quality signal): zlib compression ratio per document — the
    RefinedWeb/Gopher-family repetition detector (boilerplate and looped
    text compress far below natural prose; MT/SEO spam sits near the
    bottom decile). DEFLATE at fixed level 6 is deterministic for a given
    input, so the output is stable across runs and partitionings, but no
    SQL engine exposes zlib — this is one of the documented rows-only
    queries (like the sketches), guarded instead by property tests:
    determinism, bound sanity, and repetitive ≪ varied ordering.

    Arrow-batched ``pandas_udf`` (not per-row Python): one zlib call per
    document inside the batch loop, ratio arithmetic vectorized."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _z_bytes(texts):
        import zlib

        return texts.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)))

    # real class objects, not strings: `from __future__ import annotations`
    # would stringify inline hints and break pandas_udf type inference
    _z_bytes.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    z_bytes = pandas_udf(_z_bytes, "long")

    docs = spread(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            F.octet_length("text").cast("bigint").alias("n_bytes"),
            z_bytes(F.col("text")).alias("zl_bytes"),
        )
        .withColumn(
            "compression_ratio",
            F.round(F.col("zl_bytes").cast("double") / F.col("n_bytes"), 6),
        )
        .filter(F.col("n_bytes") > 0)
    )


@query(
    "x4_quality_deciles",
    """
    WITH q AS (
        SELECT doc_id, lang,
               ROUND(CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                     / NULLIF(LENGTH(text), 0), 6) AS score
        FROM documents
    ),
    d AS (
        SELECT lang, score,
               NTILE(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS decile
        FROM q WHERE score IS NOT NULL
    )
    SELECT lang, CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(score), 6) AS min_score,
           ROUND(MAX(score), 6) AS max_score
    FROM d GROUP BY lang, decile
    """,
)
def x4_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (calibration): per-language decile bands of the alpha-ratio
    quality score — the table an operator reads before picking a filter
    cutoff ("what does decile 3 look like in German?"). Exercises NTILE,
    the one ranking function no other query touches; ordering is made
    deterministic with the (score, doc_id) tie-break (canonical policy 4),
    and both engines share the SQL-standard larger-buckets-first NTILE
    definition. Per-language windows partition the shuffle; no global
    sort. Division by NULLIF(len, 0) + a NULL-score filter on BOTH sides
    (ADVICE r04): an empty document would otherwise be NULL here but
    ±inf/NaN in IEEE-division DuckDB builds, and NULL ordering inside
    NTILE differs between the engines (Spark NULLS FIRST, DuckDB NULLS
    LAST)."""
    docs = read_table(spark, sf_dir, "documents")
    score = F.round(
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
        / F.nullif(F.length("text"), F.lit(0)),
        6,
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    return (
        docs.select("doc_id", "lang", score.alias("score"))
        .filter(F.col("score").isNotNull())
        .withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


@query(
    "x4_bigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, UNNEST(t) AS tok FROM toks
    ),
    big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t, UNNEST(range(1, len(t))) AS i FROM toks)
    ),
    uni AS (
        SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c1 FROM pos GROUP BY tok
    ),
    bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12 FROM big GROUP BY w1, w2
    ),
    vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-ln((bc.c12 + 0.5) / (u.c1 + 0.5 * vocab.v))), 6) AS avg_neg_logprob
    FROM big b
    JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN uni u ON u.tok = b.w1
    CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def x4_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r5): add-k-smoothed BIGRAM negative log-probability per
    document under the corpus's own bigram LM — one order up from
    ``x4_unigram_logprob``, the standard next rung of the CCNet-style
    quality ladder (repetitive boilerplate scores LOW because its
    transitions are common; garbled text scores HIGH because its
    transitions are unseen). p(w2|w1) = (c12 + 0.5) / (c1 + 0.5·V).

    Scale ledger (restructured r15 optimization round): ONE positional
    explode serves both n-gram orders — each (doc, position) row carries
    w1 = t[i] (its unigram role) and w2 = t[i+1] or NULL at the document
    tail (its bigram role) — and the two count tables became WINDOW
    counts over that stream (c1 over w1, c12 over (w1, w2)), sharing a
    single w1-keyed exchange (hash partitioning by w1 satisfies the
    (w1, w2) clustering, so the second window adds only a partition-local
    sort). The previous shape evaluated the corpus tokenize FOUR times
    (big probe + bc build + uni + vocab) and rejoined counts through a
    corpus-sized SMJ pair, with big ⋈ bc a rule-36 self-join; now the
    tokenize runs twice (combined stream + vocabulary countDistinct) and
    no corpus-sized join remains. Counts are identical by construction
    (same multiset of positions), so each -ln term is the same double;
    A/B'd bit-identical on all 5000 fixture docs. AVG + ROUND(6) absorbs
    libm ulp drift, same as the unigram scorer.

    HOT-TOKEN SKEW CAVEAT (r16, ADVICE r15): window counts have no
    map-side partial aggregation — a Zipf-head w1 partition is one task
    holding every occurrence of that token. See the unigram scorer's
    docstring and SCALE.md's "hot-token window" row: the skew-safe
    two-level + broadcast-key-join rewrite was built, verified
    value-identical on all 5000 fixture docs, and measured 2.4x slower
    at fixture scale (0.68 vs 1.67 s paired medians), so the window
    shape stays locally; the rewrite is the documented 100 TB remedy."""
    from etl_active911_spark.operators.dedup import tokens

    # Round-robin: the w1 windows re-shuffle the stream, so no operator
    # downstream uses a doc_id partitioning.
    docs = spread(read_table(spark, sf_dir, "documents"))
    # size >= 1 guard (ADVICE r15): tokens()=split() never returns an
    # empty array today, but if it ever scrubs empties natively (as the
    # PMI/countmin pairing does with array_remove), size=0 would make
    # sequence(1, 0) a DESCENDING [1, 0] and element_at(t, 0) throw
    # INVALID_INDEX_OF_ZERO at runtime. No-op on current data.
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 1
    )
    comb = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t"))).alias("i"),
        F.size("t").alias("n"),
        "t",
    ).select(
        "doc_id",
        F.element_at("t", F.col("i")).alias("w1"),
        F.when(F.col("i") < F.col("n"), F.element_at("t", F.col("i") + 1)).alias("w2"),
    )
    w_uni = Window.partitionBy("w1")
    w_big = Window.partitionBy("w1", "w2")
    counted = (
        comb.withColumn("c1", F.count(F.lit(1)).over(w_uni).cast("double"))
        .withColumn("c12", F.count(F.lit(1)).over(w_big).cast("double"))
        .filter(F.col("w2").isNotNull())
    )
    vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("double").alias("v")
    )
    return (
        counted.crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(-F.log((F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("v")))), 6
            ).alias("avg_neg_logprob"),
        )
    )


def _curation_v4_oracle() -> str:
    """Composed oracle: the shared scrub CTE chain (dedup.SCRUB_CTES) →
    post-scrub quality gate → exact dedup ON THE CLEANED TEXT →
    deterministic source-interleaved training order."""
    from etl_active911_spark.operators.dedup import SCRUB_CTES

    return f"""
    WITH {SCRUB_CTES},
    src AS (SELECT doc_id, source FROM documents),
    gated AS (
        SELECT s.doc_id, d.source, s.n_removed, s.clean_text
        FROM scrubbed s JOIN src d USING (doc_id)
        WHERE (s.n_tokens - s.n_removed) >= 10
          AND CAST(LENGTH(regexp_replace(s.clean_text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
              / NULLIF(LENGTH(s.clean_text), 0) > 0.5
    ),
    keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(clean_text)
    ),
    surv AS (SELECT g.* FROM gated g JOIN keepers k USING (doc_id)),
    ranked AS (
        SELECT doc_id, source, n_removed,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
                   AS src_rank
        FROM surv
    ),
    srcs AS (
        SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS src_idx,
               COUNT(*) OVER () AS n_sources
        FROM (SELECT DISTINCT source FROM surv)
    )
    SELECT r.doc_id, r.source, r.n_removed,
           CAST((r.src_rank - 1) * s.n_sources + s.src_idx AS BIGINT) AS global_pos
    FROM ranked r JOIN srcs s ON s.source = r.source
    """


@query("x9_curation_v4", _curation_v4_oracle())
def x9_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r5 capstone): curation pipeline v4, composing this round's new
    operators end-to-end the way a modern pretraining pipeline chains
    them — (1) ExactSubstr SPAN SCRUBBING (x2_substr_scrub: cross-doc
    duplicated windows removed, text reconstructed), (2) quality gate ON
    THE CLEANED TEXT (≥ 10 surviving tokens, alpha ratio > 0.5 — gating
    before scrubbing would grade boilerplate the scrubber deletes),
    (3) exact dedup on the cleaned text (documents that differed only in
    scrubbed boilerplate collapse to one keeper — dedup AFTER scrubbing
    catches what dedup-first misses), and (4) the deterministic
    source-interleaved training order (x8_interleave_sources' closed
    form) over the survivors. One composed DuckDB oracle certifies the
    whole chain; each stage's scale shape is its standalone operator's.
    Returns (doc_id, source, n_removed, global_pos)."""
    from etl_active911_spark.operators.dedup import x2_substr_scrub

    scrub = x2_substr_scrub(spark, sf_dir)
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    clean_len = F.length("clean_text")
    alpha = (
        F.length(F.regexp_replace("clean_text", "[^a-zA-Z]", "")).cast("double")
        / F.nullif(clean_len, F.lit(0))
    )
    gated = (
        scrub.join(src, "doc_id")
        .filter((F.col("n_tokens") - F.col("n_removed")) >= 10)
        .filter(alpha > 0.5)
        .select("doc_id", "source", "n_removed", "clean_text")
    )
    keepers = (
        gated.groupBy(F.md5("clean_text").alias("ch"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = gated.join(keepers, "doc_id", "left_semi")
    w_src = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = surv.select(
        "doc_id", "source", "n_removed", F.row_number().over(w_src).alias("src_rank")
    )
    w_idx = Window.orderBy("source")
    srcs = (
        surv.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(w_idx) - 1).alias("src_idx"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_sources"),
        )
    )
    return ranked.join(F.broadcast(srcs), "source").select(
        "doc_id",
        "source",
        "n_removed",
        ((F.col("src_rank") - 1) * F.col("n_sources") + F.col("src_idx"))
        .cast("bigint")
        .alias("global_pos"),
    )


@query(
    "x4_langid_confusion",
    f"""
    WITH raw AS (
        SELECT doc_id, lang AS labeled_lang,
               TRIM(LOWER({LANGID_INJECT_SQL})) AS low
        FROM documents
    ),
    t AS (
        SELECT doc_id, labeled_lang, low,
               string_split_regex(low, '\\s+') AS toks
        FROM raw
    ),
    s AS (
        SELECT doc_id, labeled_lang,
               {", ".join(f"CAST({_score2_sql(l)} AS BIGINT) AS s_{l}" for l in _LANG_ORDER)}
        FROM t
    ),
    p AS (
        SELECT labeled_lang, {_LANG_PRED_UND_SQL} AS predicted_lang FROM s
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY labeled_lang), 6) AS row_frac
    FROM p GROUP BY labeled_lang, predicted_lang
    """,
)
def x4_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r5): language-ID CONFUSION MATRIX — the evaluation rollup for
    the classifier x4_lang_id wraps: per (labeled, predicted) cell, doc
    count and the row-normalized fraction (each labeled language's
    recall lives on the diagonal). Classifier-eval-as-a-query: the same
    single-scan v2 scoring as x4_lang_id feeding one grouped aggregate
    plus a per-label window for the normalizer; no extra scan, no
    collect. Since r14 the hard-mode slices put honest off-diagonal mass
    in the matrix: fr→es on the macaronic phrase (tie-break), and the
    acceptance gate pins the injected diagonal floor
    (tests/test_langid_injection.py). Since r15 the matrix carries an
    'und' column — the abstain class (out-of-family slice + the
    corpus's zero-evidence docs), floor-pinned in the same tests."""
    # rule 2: single-file fixture = ONE partition; the v2 scoring is
    # CPU-heavy per row and this query COMPUTES it for every doc (the
    # grouped aggregate consumes the scores) — spread buys the full
    # 32-way scan: 1.55 -> 0.64 s at sf0.1 (A/B r14)
    docs = spread(read_table(spark, sf_dir, "documents"))
    scores, pred = _langid_v2_cols()
    scored = docs.select(
        F.col("lang").alias("labeled_lang"), *scores
    )
    w = Window.partitionBy("labeled_lang")
    return (
        scored.select("labeled_lang", pred.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .withColumn(
            "row_frac",
            F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6),
        )
    )


# ---------------------------------------------------------------------------
# X-4 (r15): selective-prediction risk-coverage curve for the lang-ID
# abstain classifier
# ---------------------------------------------------------------------------

#: evidence-floor sweep in stopword-hit units (multiples of
#: LANGID_STOP_WEIGHT): t=0 is the pre-abstain classifier (coverage 1),
#: t=LANGID_UND_MIN is the shipped operating point.
RC_THRESHOLDS = (0, 3, 6, 9, 12, 15)


@query(
    "x4_langid_risk_coverage",
    f"""
    WITH raw AS (
        SELECT doc_id, lang AS labeled_lang,
               TRIM(LOWER({LANGID_INJECT_SQL})) AS low
        FROM documents
    ),
    t AS (
        SELECT doc_id, labeled_lang, low,
               string_split_regex(low, '\\s+') AS toks
        FROM raw
    ),
    s AS (
        SELECT doc_id, labeled_lang,
               {", ".join(f"CAST({_score2_sql(l)} AS BIGINT) AS s_{l}" for l in _LANG_ORDER)}
        FROM t
    ),
    p AS (
        SELECT labeled_lang, {_LANG_PRED_SQL} AS pred,
               GREATEST({", ".join("s_" + l for l in _LANG_ORDER)}) AS best
        FROM s
    ),
    th AS (SELECT unnest([{", ".join(str(t) for t in RC_THRESHOLDS)}]) AS t_min_score),
    g AS (
        SELECT th.t_min_score,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN best >= th.t_min_score THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN best >= th.t_min_score AND pred = labeled_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM p CROSS JOIN th GROUP BY th.t_min_score
    )
    SELECT CAST(t_min_score AS BIGINT) AS t_min_score, n_total, n_covered,
           CAST((2 * n_covered * 1000000 + n_total) // (2 * n_total) AS BIGINT)
               / 1000000.0 AS coverage,
           n_correct,
           CASE WHEN n_covered > 0 THEN
               CAST((2 * n_correct * 1000000 + n_covered) // (2 * n_covered) AS BIGINT)
               / 1000000.0
           END AS selective_accuracy
    FROM g
    """,
)
def x4_langid_risk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r15): the RISK-COVERAGE curve of the abstaining lang-ID
    classifier (selective prediction, El-Yaniv & Wiener JMLR 2010) —
    the evaluation that prices the r15 'und' floor: for each candidate
    evidence floor t, what fraction of the corpus keeps a prediction
    (coverage) and how accurate are the kept predictions (selective
    accuracy). t=0 is the pre-abstain classifier; t=LANGID_UND_MIN is
    the shipped operating point, so the curve's t=3 coverage equals
    1 − the und fraction of x4_lang_id exactly (cross-query pin in
    tests/test_langid_injection.py). Accuracy is judged on the
    PRE-abstain argmax ('und' is abstention, not a sixth label).

    Shape: one documents scan computes the memoized v2 scores; ONE
    single-row hash aggregate carries all |RC_THRESHOLDS| conditional
    (covered, correct) pairs; the curve unfolds driver-free via stack()
    — no explode of the corpus, no second scan. Exact integer counts +
    rule-26 half-up micro division (numerator ≤ 2·n·10⁶, far inside
    int64)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    scores, _ = _langid_v2_cols()
    scored = docs.select(F.col("lang").alias("labeled_lang"), *scores)
    best = F.greatest(*[F.col(f"s_{l}") for l in _LANG_ORDER])
    pred = F.lit(None).cast("string")  # pre-abstain argmax (small tree)
    for l in reversed(_LANG_ORDER):
        pred = F.when(F.col(f"s_{l}") >= best, F.lit(l)).otherwise(pred)
    sel = scored.select(
        best.alias("best"), (pred == F.col("labeled_lang")).alias("ok")
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_total")]
    for t in RC_THRESHOLDS:
        cov = F.col("best") >= t
        aggs.append(F.sum(F.when(cov, 1).otherwise(0)).cast("bigint").alias(f"cov{t}"))
        aggs.append(
            F.sum(F.when(cov & F.col("ok"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"cor{t}")
        )
    one = sel.agg(*aggs)
    stack = "stack({}, {}) AS (t_min_score, n_covered, n_correct)".format(
        len(RC_THRESHOLDS),
        ", ".join(f"CAST({t} AS BIGINT), cov{t}, cor{t}" for t in RC_THRESHOLDS),
    )
    return one.select("n_total", F.expr(stack)).select(
        "t_min_score",
        "n_total",
        "n_covered",
        (
            F.expr(
                "CAST((2 * n_covered * 1000000 + n_total) div (2 * n_total)"
                " AS BIGINT)"
            ).cast("double")
            / 1000000.0
        ).alias("coverage"),
        "n_correct",
        F.when(
            F.col("n_covered") > 0,
            F.expr(
                "CAST((2 * n_correct * 1000000 + n_covered) div (2 * n_covered)"
                " AS BIGINT)"
            ).cast("double")
            / 1000000.0,
        ).alias("selective_accuracy"),
    )


# ---------------------------------------------------------------------------
# X-4 (r6): vocabulary growth (Heaps' law) + BPE merge-pair counting
# ---------------------------------------------------------------------------

VOCAB_DECILES = 10


@query(
    "x4_vocab_growth",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk,
               COUNT(*) OVER () AS n
        FROM documents
    ),
    dd AS (
        SELECT doc_id, t, CAST((rk * {VOCAB_DECILES}) // n + 1 AS INT) AS decile,
               CAST(len(t) AS BIGINT) AS n_toks
        FROM d
    ),
    occ AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS docs_d,
               CAST(SUM(n_toks) AS BIGINT) AS occ_d
        FROM dd GROUP BY decile
    ),
    exploded AS (
        SELECT UNNEST(t) AS tok, decile FROM dd
    ),
    firsts AS (
        SELECT tok, MIN(decile) AS fd FROM exploded GROUP BY tok
    ),
    vocab AS (
        SELECT fd AS decile, CAST(COUNT(*) AS BIGINT) AS vocab_d FROM firsts GROUP BY 1
    ),
    spine AS (SELECT unnest(range(1, {VOCAB_DECILES} + 1)) AS decile)
    SELECT CAST(s.decile AS INT) AS decile,
           CAST(SUM(COALESCE(o.docs_d, 0)) OVER w AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(o.occ_d, 0)) OVER w AS BIGINT) AS n_token_occurrences,
           CAST(SUM(COALESCE(v.vocab_d, 0)) OVER w AS BIGINT) AS vocab_size
    FROM spine s
    LEFT JOIN occ o ON o.decile = s.decile
    LEFT JOIN vocab v ON v.decile = s.decile
    WINDOW w AS (ORDER BY s.decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def x4_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r6): VOCABULARY GROWTH CURVE (Heaps' law observable) — for
    each corpus decile (docs in doc_id order), the cumulative doc count,
    token-occurrence count, and DISTINCT-vocabulary size. The corpus-
    health curve an operator reads before sizing a tokenizer vocabulary
    or diagnosing a stagnating source (flat vocab growth = duplication).

    Distributed shape: the only global order statistic (doc rank) is the
    two-phase prefix COUNT (``_two_phase_prefix_sum`` weight 1 — no
    global-sort window over the corpus); the vocabulary never re-scans —
    each token's FIRST decile is one keyed MIN aggregate, and the curve
    itself is a cumulative window over a 10-row table. Everything is
    integer arithmetic (bucket = (rank·10) DIV n) — engine-exact with no
    rounding policy needed."""
    from etl_active911_spark.operators.dedup import tokens
    from etl_active911_spark.operators.sampling import _two_phase_prefix_sum
    from etl_active911_spark.plans.cache import scoped_persist

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"), F.lit(1).alias("one"))
    ranked = _two_phase_prefix_sum(base, "one")  # start_off = 0-based doc rank
    n = base.agg(F.count(F.lit(1)).alias("n"))
    # shared subtree (CLAUDE.md rule 17): BOTH the per-decile occurrence
    # aggregate and the vocabulary first-seen aggregate consume dd — persist
    # so the scan + prefix sum evaluate once, not per consumer
    dd = scoped_persist(
        "x4_vocab_growth.dd",
        ranked.crossJoin(F.broadcast(n)).select(
            "doc_id",
            "t",
            F.expr(f"CAST((start_off * {VOCAB_DECILES}) DIV n + 1 AS INT)").alias("decile"),
            F.size("t").cast("bigint").alias("n_toks"),
        ),
    )
    occ = dd.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_d"),
        F.sum("n_toks").cast("bigint").alias("occ_d"),
    )
    firsts = (
        dd.select(F.explode("t").alias("tok"), "decile")
        .groupBy("tok")
        .agg(F.min("decile").alias("fd"))
    )
    vocab = firsts.groupBy(F.col("fd").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_d")
    )
    spine = spark.range(1, VOCAB_DECILES + 1).select(F.col("id").cast("int").alias("decile"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(occ, "decile", "left")
        .join(vocab, "decile", "left")
        .select(
            "decile",
            F.sum(F.coalesce("docs_d", F.lit(0))).over(w).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("occ_d", F.lit(0))).over(w).cast("bigint").alias("n_token_occurrences"),
            F.sum(F.coalesce("vocab_d", F.lit(0))).over(w).cast("bigint").alias("vocab_size"),
        )
    )


BPE_TOP_PAIRS = 20


@query(
    "x4_bpe_merge_count",
    f"""
    WITH w AS (
        SELECT UNNEST(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS word
        FROM documents
    ),
    freq AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM w
        WHERE LENGTH(word) >= 2 GROUP BY word
    ),
    pairs AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair, f
        FROM (SELECT word, f, unnest(range(1, LENGTH(word))) AS i FROM freq)
    ),
    agg AS (
        SELECT pair, CAST(SUM(f) AS BIGINT) AS pair_count FROM pairs GROUP BY pair
    )
    SELECT CAST(rk AS INT) AS rank, pair, pair_count FROM (
        SELECT pair, pair_count,
               ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rk
        FROM agg
    ) t WHERE rk <= {BPE_TOP_PAIRS}
    """,
)
def x4_bpe_merge_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r6): BPE MERGE-PAIR COUNTING — the inner loop of byte-pair-
    encoding tokenizer training (Sennrich, Haddow & Birch, "Neural
    machine translation of rare words with subword units", ACL 2016 —
    public literature), distributed: count every adjacent character pair
    across the corpus weighted by word frequency; the top pair is the
    next merge a BPE trainer would apply. Emits the top-{BPE_TOP_PAIRS}
    merge candidates with exact counts.

    Scale ledger: work is proportional to the DISTINCT word vocabulary,
    not the corpus — the word-frequency aggregate collapses occurrences
    FIRST (a Zipf corpus's vocab ≪ its token count), then each distinct
    word fans out len−1 pair rows weighted by its count. Shuffles are
    keyed by word then by 2-char pair; the global top-20 rides the
    WindowGroupLimit rank-limit pushdown (map-side partial top-k —
    CLAUDE.md rule 19). Exact integer counts, deterministic
    (count DESC, pair) tie-break — no rounding policy needed."""
    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("word"))
    freq = (
        words.filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    pairs = freq.select(
        "word",
        "f",
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
    ).select(F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), "f")
    agg = pairs.groupBy("pair").agg(F.sum("f").cast("bigint").alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select("rank", "pair", "pair_count")
    )


# ---------------------------------------------------------------------------
# X-9e (r6): curation v5 — the full build, ending in the training ORDER
# ---------------------------------------------------------------------------


def _curation_v5_oracle() -> str:
    """Chained oracle: the v3 stages through exact-hash dedup, then
    tempered (α=1/2) mixture membership over the SURVIVORS and the
    epoch-0 deterministic shuffle position — each fragment reused from
    the standalone query that pins it (x9_curation_v3,
    x8_mixture_weights, x8_epoch_shuffle)."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES, sql_hash60

    stop_in = _STOPWORDS
    h60 = sql_hash60("'0:' || CAST(s.doc_id AS VARCHAR)")
    bucket = "(('0x' || substr(md5(CAST(s.doc_id AS STRING)), 1, 8))::BIGINT) % 1000000"
    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    cedges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM cedges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN cedges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS doc_id, dst FROM walk
        UNION
        SELECT src, src FROM cedges
    ),
    comp AS (SELECT doc_id, MIN(dst) AS component FROM reach GROUP BY doc_id),
    dup_drop AS (SELECT doc_id FROM comp WHERE doc_id <> component),
    qtoks AS (
        SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ),
    qstats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*), 6) AS mean_word_len,
               ROUND(CAST(SUM(CASE WHEN tok IN {stop_in} THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS stop_frac
        FROM qtoks GROUP BY doc_id
    ),
    qt2 AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
    qbi AS (
        SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i+1])) AS g,
               len(t) - 1 AS n_bi
        FROM qt2 WHERE len(t) >= 2
    ),
    qbc AS (SELECT doc_id, g, n_bi, COUNT(*) AS c FROM qbi GROUP BY doc_id, g, n_bi),
    qtop AS (
        SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / ANY_VALUE(n_bi), 6) AS tb
        FROM qbc GROUP BY doc_id
    ),
    quality AS (
        SELECT s.doc_id FROM qstats s LEFT JOIN qtop t ON s.doc_id = t.doc_id
        WHERE {gopher_gate_sql("s", "COALESCE(t.tb, 0.0)")}
    ),
    stage AS (
        SELECT q.doc_id FROM quality q
        WHERE q.doc_id NOT IN (SELECT doc_id FROM dup_drop)
    ),
    hashes AS (
        SELECT s.doc_id, sha256({_NORM_SQL}) AS content_hash
        FROM stage s JOIN documents USING (doc_id)
    ),
    exact_keep AS (
        SELECT MIN(doc_id) AS doc_id FROM hashes GROUP BY content_hash
    ),
    surv AS (
        SELECT d.doc_id, d.source FROM exact_keep k JOIN documents d USING (doc_id)
    ),
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM surv GROUP BY source),
    wsh AS (
        SELECT source,
               SQRT(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM per)) AS wr
        FROM per
    ),
    p AS (
        SELECT source, ROUND(wr / (SELECT SUM(wr) FROM wsh), 6) AS share FROM wsh
    ),
    sampled AS (
        SELECT s.doc_id, s.source FROM surv s JOIN p USING (source)
        WHERE {bucket} < CAST(FLOOR(p.share * 1000000) AS BIGINT)
    ),
    keyed AS (
        SELECT s.doc_id, s.source, ({h60}) AS h FROM sampled s
    )
    SELECT doc_id, source,
           CAST(SUM(1) OVER (ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - 1 AS BIGINT) AS pos
    FROM keyed
    """


@query("x9_curation_v5", _curation_v5_oracle())
def x9_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9e (r6): the COMPLETE pretraining data build, ending where a
    trainer actually starts — the shuffled training ORDER: Gopher quality
    gate → near-dup CLUSTER drop → exact dedup → tempered (α=1/2) source
    mixture membership over the survivors → deterministic epoch-0 shuffle
    position. Composes five standalone pinned operators; a v5 mismatch
    localizes to whichever fragment broke.

    Scale shape inherits each stage's: shared verified-pairs memo for the
    cluster drop, keyed aggregates for quality/dedup, 1-row broadcast
    normalizers for the mixture, and the grouped two-phase prefix COUNT
    for the global shuffle rank (no global-sort window anywhere)."""
    from etl_active911_spark.operators.dedup import normalized_text, token_hash60
    from etl_active911_spark.operators.sampling import (
        _two_phase_prefix_sum,
        hash_bucket,
    )

    docs = read_table(spark, sf_dir, "documents")
    quality = shared_gopher_rules(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    # non-keepers straight from the memoized star-engine component labels
    # (the x8_cluster_split shortcut, r7; shared_component_labels memo,
    # r12): a doc is dropped iff it is in a cluster and not its min —
    # x2_dup_clusters' keeper groupBy+join adds nothing the component
    # labels don't already say
    from etl_active911_spark.operators.dedup import shared_component_labels

    non_keepers = (
        shared_component_labels(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    stage = docs.join(quality, "doc_id").join(non_keepers, "doc_id", "left_anti")
    hashes = stage.select(
        "doc_id", F.sha2(normalized_text(F.col("text")), 256).alias("content_hash")
    )
    exact_keep = hashes.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    # the full quality+dedup chain feeds BOTH the mixture-count aggregate
    # and the membership filter — persist so it evaluates once (rule 17)
    from etl_active911_spark.plans.cache import scoped_persist

    surv = scoped_persist(
        "x9_curation_v5.surv",
        docs.join(exact_keep.select("doc_id"), "doc_id").select("doc_id", "source"),
    )
    from etl_active911_spark.operators.sampling import tempered_shares

    per = surv.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # window-based normalizers (r15 optimization round): one broadcast
    # build instead of the tot/z scalar-crossJoin chain — see
    # sampling.tempered_shares for the rule-26 rounding audit
    p = tempered_shares(per).select("source", "share")
    thr = F.floor(F.col("share") * 1_000_000).cast("bigint")
    sampled = (
        surv.join(F.broadcast(p), "source")
        .filter(hash_bucket(F.col("doc_id"), 1_000_000) < thr)
        .select("doc_id", "source")
    )
    keyed = sampled.select(
        "doc_id",
        "source",
        token_hash60(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))).alias("h"),
        F.lit(1).alias("one"),
    )
    ranked = _two_phase_prefix_sum(keyed, "one", key="h", tiebreak="doc_id")
    return ranked.select(
        "doc_id", "source", F.col("start_off").cast("bigint").alias("pos")
    )


@query(
    "x4_ngram_novelty",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split({_NORM_SQL}, ' ') AS t,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk
        FROM documents
    ),
    g AS (
        SELECT doc_id, rk,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                      i -> array_to_string(t[i:i+2], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM d
    ),
    e AS (SELECT doc_id, rk, UNNEST(gs) AS gram FROM g),
    firsts AS (SELECT gram, MIN(rk) AS first_rk FROM e GROUP BY gram)
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_rk = e.rk THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_rk = e.rk THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM e JOIN firsts f ON e.gram = f.gram
    GROUP BY e.doc_id
    """,
)
def x4_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r6): per-document N-GRAM NOVELTY — the fraction of a doc's
    distinct word 3-grams whose FIRST corpus appearance (in doc_id order)
    is this document. The curriculum/curation signal the dedup family
    can't give: a doc can be no one's duplicate yet contribute almost
    nothing new (low novelty = boilerplate recombination; high novelty =
    fresh content worth upweighting).

    Shape: doc rank via the two-phase prefix COUNT (no global-sort
    window); grams come from the CODEGEN ``shingle_rows`` explode
    (SCALE.md invariant 3 — no interpreted lambdas on a corpus-sized
    path) deduped per doc with one keyed distinct; the gram's first rank
    is ONE keyed MIN over the exploded rows; the per-doc roll-up re-keys
    by doc_id. Shuffle keys: gram hash, doc_id — the text never
    shuffles. The shared exploded subtree feeds the firsts aggregate and
    the roll-up → scoped_persist (CLAUDE.md rule 17)."""
    from etl_active911_spark.operators.dedup import shingle_rows
    from etl_active911_spark.operators.sampling import _two_phase_prefix_sum
    from etl_active911_spark.plans.cache import scoped_persist

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select("doc_id", F.col("text"), F.lit(1).alias("one"))
    ranked = _two_phase_prefix_sum(base, "one").withColumnRenamed("start_off", "rk")
    # grams explode straight off the (doc_id-pruned) scan — only the
    # tiny (doc_id, rk) projection consumes the prefix-sum subtree
    grams = (
        shingle_rows(docs, k=3)
        .withColumnRenamed("shingle", "gram")
        .distinct()
    )
    e = scoped_persist(
        "x4_ngram_novelty.e",
        grams.join(ranked.select("doc_id", "rk"), "doc_id"),
    )
    firsts = e.groupBy("gram").agg(F.min("rk").alias("first_rk"))
    novel = F.when(F.col("first_rk") == F.col("rk"), 1).otherwise(0)
    return (
        e.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


JS_SMOOTH_K = 0.5


@query(
    "x4_source_js_divergence",
    f"""
    WITH toks AS (
        SELECT source, UNNEST(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM cnt),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM tot a JOIN tot b ON a.source < b.source
    ),
    grid AS (
        SELECT p.source_a, p.source_b, w.tok,
               COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
        FROM pairs p
        CROSS JOIN (SELECT DISTINCT tok FROM cnt) w
        LEFT JOIN cnt ca ON ca.source = p.source_a AND ca.tok = w.tok
        LEFT JOIN cnt cb ON cb.source = p.source_b AND cb.tok = w.tok
    ),
    probs AS (
        SELECT g.source_a, g.source_b,
               (g.ca + {JS_SMOOTH_K}) / (ta.t + {JS_SMOOTH_K} * v.v) AS p,
               (g.cb + {JS_SMOOTH_K}) / (tb.t + {JS_SMOOTH_K} * v.v) AS q
        FROM grid g
        JOIN tot ta ON ta.source = g.source_a
        JOIN tot tb ON tb.source = g.source_b
        CROSS JOIN vocab v
    )
    SELECT source_a, source_b,
           ROUND(SUM(0.5 * (p * ln(p / ((p + q) * 0.5))
                            + q * ln(q / ((p + q) * 0.5)))), 6) AS js_divergence
    FROM probs GROUP BY 1, 2
    """,
)
def x4_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r6): pairwise JENSEN-SHANNON divergence between the unigram
    distributions of every source pair — the mixture diagnostic behind
    x8_mixture_weights: two sources with JS ≈ 0 are redundant (their
    tempered shares double-count the same distribution); a high-JS source
    adds coverage. Add-k smoothing (k=0.5) over the shared vocabulary
    keeps every term finite.

    Scale ledger: work ∝ vocabulary × source-pairs (both ≪ corpus —
    counts collapse occurrences FIRST); shuffles key on (source, token)
    then token; per-source totals and the vocab size ride broadcast
    1-row/`|sources|`-row tables. Float policy: the log terms sum per
    pair and ROUND(6) absorbs accumulation-order ulp (same discipline as
    the LM scorers); the IEEE op ORDER inside each term is replicated
    exactly — `p * ln(p / ((p + q) * 0.5))` — in both engines."""
    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("t"))
    vocab = cnt.select("tok").distinct()
    v = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    pairs = (
        tot.select(F.col("source").alias("source_a"), F.col("t").alias("ta"))
        .join(
            tot.select(F.col("source").alias("source_b"), F.col("t").alias("tb")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    grid = (
        pairs.join(vocab)  # cross: |pairs| × |vocab| — both bounded
        .join(
            cnt.select(F.col("source").alias("source_a"), "tok", F.col("c").alias("ca")),
            ["source_a", "tok"],
            "left",
        )
        .join(
            cnt.select(F.col("source").alias("source_b"), "tok", F.col("c").alias("cb")),
            ["source_b", "tok"],
            "left",
        )
        .crossJoin(F.broadcast(v))
        .select(
            "source_a",
            "source_b",
            (
                (F.coalesce("ca", F.lit(0)) + JS_SMOOTH_K)
                / (F.col("ta") + JS_SMOOTH_K * F.col("v"))
            ).alias("p"),
            (
                (F.coalesce("cb", F.lit(0)) + JS_SMOOTH_K)
                / (F.col("tb") + JS_SMOOTH_K * F.col("v"))
            ).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) * 0.5
    term = 0.5 * (
        F.col("p") * F.log(F.col("p") / m) + F.col("q") * F.log(F.col("q") / m)
    )
    return grid.groupBy("source_a", "source_b").agg(
        F.round(F.sum(term), 6).alias("js_divergence")
    )


# ---------------------------------------------------------------------------
# X-4 (r7): readability scoring
# ---------------------------------------------------------------------------


@query(
    "x4_readability",
    f"""
    WITH s AS (
        SELECT doc_id,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               len(string_split({_NORM_SQL}, ' ')) AS n_words,
               len(regexp_extract_all(LOWER(text), '[aeiouy]+')) AS n_syllables
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
                     6) AS flesch
        FROM s
    )
    SELECT doc_id, n_sentences, n_words, n_syllables, flesch,
           CASE WHEN flesch >= 70 THEN 'easy'
                WHEN flesch >= 50 THEN 'medium'
                WHEN flesch >= 30 THEN 'hard'
                ELSE 'very_hard' END AS band
    FROM f
    """,
)
def x4_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r7): Flesch reading-ease per document — the classic curation
    signal for difficulty bucketing (Flesch 1948; the formula and its
    coefficients are public literature). Sentences = runs of ``[.!?]``
    (floored at 1), words = whitespace tokens of the normalized text,
    syllables = vowel-group count (``[aeiouy]+`` runs — the standard
    dictionary-free approximation). The band CASE thresholds on the
    ROUNDED score (canonical policy 4) so both engines bucket the
    boundary documents identically.

    Scale shape: three regexp counters + flat arithmetic in one
    projection — single scan, zero shuffles, whole-stage codegen."""
    from etl_active911_spark.operators.dedup import normalized_text

    docs = read_table(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("bigint")
    n_words = F.size(F.split(normalized_text(F.col("text")), " ")).cast("bigint")
    n_syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    s = docs.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syl.alias("n_syllables"),
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words")),
        6,
    )
    f = s.withColumn("flesch", flesch)
    band = (
        F.when(F.col("flesch") >= 70, "easy")
        .when(F.col("flesch") >= 50, "medium")
        .when(F.col("flesch") >= 30, "hard")
        .otherwise("very_hard")
    )
    return f.withColumn("band", band)


# ---------------------------------------------------------------------------
# X-9 (r7): dataset report card
# ---------------------------------------------------------------------------


@query(
    "x9_dataset_report",
    f"""
    WITH s AS (
        SELECT source, lang,
               CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_words,
               sha256({_NORM_SQL}) AS h
        FROM documents
    )
    SELECT COALESCE(source, 'ALL') AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words_total,
           ROUND(AVG(CAST(n_words AS DOUBLE)), 6) AS mean_doc_words,
           ROUND(quantile_cont(n_words, 0.5), 6) AS p50_doc_words,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(1 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6) AS exact_dup_rate
    FROM s GROUP BY ROLLUP(source)
    """,
)
def x9_dataset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r7): the DATASET CARD — the per-source summary a data release
    ships alongside the corpus (datasheet/model-card practice, Gebru et
    al. 2018 — public literature): document and word volumes, central
    tendency of document length, language coverage, and the exact-dup
    rate (1 − distinct-content-hash / docs). ROLLUP adds the corpus-wide
    'ALL' row in the same aggregate pass.

    Scale shape: one scan → one partial+final rollup aggregate keyed by
    the low-cardinality source column; the only wide value is the
    content hash, and it collapses map-side. The p50 uses the exact
    percentile (the n4 pairing: Spark ``percentile`` == DuckDB
    ``quantile_cont`` at round-6) — at 100 TB swap for
    ``percentile_approx`` (the documented sketch variant)."""
    from etl_active911_spark.operators.dedup import normalized_text, tokens

    docs = read_table(spark, sf_dir, "documents")
    stage = docs.select(
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"),
        F.sha2(normalized_text(F.col("text")), 256).alias("h"),
    )
    return (
        stage.rollup("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words_total"),
            F.round(F.avg(F.col("n_words").cast("double")), 6).alias("mean_doc_words"),
            F.round(F.percentile("n_words", F.lit(0.5)), 6).alias("p50_doc_words"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.round(
                F.lit(1.0) - F.countDistinct("h").cast("double") / F.count(F.lit(1)), 6
            ).alias("exact_dup_rate"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "n_words_total",
            "mean_doc_words",
            "p50_doc_words",
            "n_langs",
            "exact_dup_rate",
        )
    )


# ---------------------------------------------------------------------------
# X-4 (r7): BPE tokenizer — distributed fit + corpus encode
# ---------------------------------------------------------------------------

BPE_N_MERGES = 16
BPE_FIT_VOCAB = 2048  # top words by frequency used for the fit (bounded collect)


def fit_bpe_merges(docs: DataFrame) -> list[tuple[str, str]]:
    """Fit BPE_N_MERGES byte-pair merges (Sennrich et al., ACL 2016) on
    the corpus, distributed where it matters: the corpus-sized work is
    ONE token explode + word-frequency aggregate (work ∝ corpus, shuffle
    ∝ vocabulary); the iterative merge loop then runs driver-side over
    the collected top-``BPE_FIT_VOCAB`` (word, freq) rows — a documented
    BOUNDED collect (the 256-row IVF/PQ fit-sample convention; at 100 TB
    the cut keeps the driver table at a few MB and captures virtually
    all pair mass, Zipf-bounded). Deterministic: the vocabulary cut orders
    by (freq DESC, word) and merge ties break to the lexicographically
    smallest pair, so the same corpus always yields the same merges."""
    from collections import Counter

    from etl_active911_spark.operators.dedup import tokens

    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.col("f").desc(), "w")
        .limit(BPE_FIT_VOCAB)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in wf:
        if r["w"]:
            vocab[tuple(r["w"])] = vocab.get(tuple(r["w"]), 0) + int(r["f"])
    merges: list[tuple[str, str]] = []
    for _ in range(BPE_N_MERGES):
        pairs: Counter = Counter()
        for seq, f in vocab.items():
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {apply_bpe_merges(seq, [best]): f for seq, f in vocab.items()}
    return merges


def apply_bpe_merges(seq: tuple, merges: list[tuple[str, str]]) -> tuple:
    """Greedy left-to-right application of each merge in priority order —
    the standard BPE encode inner loop, shared by fit and encode."""
    for a, b in merges:
        out = []
        i = 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = tuple(out)
    return seq


@query("x4_bpe_encode")  # iterative merge application — rows-only; exact replica + properties in pytest
def x4_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r7): BPE tokenizer ENCODE over the corpus — the step that
    actually turns curated text into trainer input, composing the two
    pieces already pinned (BPE-ish token counting; merge-pair counting):
    fit ``BPE_N_MERGES`` merges (``fit_bpe_merges``), then encode.

    Scale shape — the vocabulary-collapse trick from
    ``x4_bpe_merge_count``: the Python merge loop runs ONCE PER DISTINCT
    WORD (Arrow-batched mapInPandas over the vocabulary table, work ∝
    vocab — Zipf ≪ corpus), and per-document piece counts come from a
    broadcast-joinable (word → n_pieces) table against the token
    explode — the corpus-sized path stays pure JVM aggregate. Output
    per doc: word count, BPE piece count, pieces-per-word (the
    fertility metric tokenizer evaluations report).

    Rows-only by nature (iterative fit + encode are not
    SQL-expressible); hard evidence: tests/test_bpe.py — independent
    naive re-implementation matches the fit AND every word's encoding
    exactly, concatenation invariant, partitioning invariance."""
    import pandas as pd

    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    merges = fit_bpe_merges(docs)

    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    vocab = toks.select("w").distinct()

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_pieces": [
                        len(apply_bpe_merges(tuple(w), merges)) if w else 0
                        for w in pdf["w"]
                    ],
                }
            )

    enc = vocab.mapInPandas(encode, "w string, n_pieces long")
    return (
        toks.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.round(
                F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 6
            ).alias("pieces_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# X-9 (r7): corpus snapshot diff
# ---------------------------------------------------------------------------


@query(
    "x9_corpus_diff",
    """
    WITH v1 AS (
        SELECT doc_id, text, md5(text) AS h,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb
        FROM documents
    ),
    v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 5 THEN text || ' [v2]' ELSE text END AS text
        FROM documents WHERE doc_id % 17 <> 3
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 19 = 7
    ),
    v2h AS (
        SELECT doc_id, md5(text) AS h,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb
        FROM v2
    ),
    d AS (
        SELECT CASE WHEN v2h.doc_id IS NULL THEN 'removed'
                    WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v1.h <> v2h.h THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(v2h.nb, v1.nb) AS nb
        FROM v1 FULL OUTER JOIN v2h ON v1.doc_id = v2h.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS total_bytes
    FROM d GROUP BY status
    """,
)
def x9_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r7): SNAPSHOT DIFF between two corpus versions — the release
    audit every dataset refresh publishes (what changed since v1?):
    full-outer join on doc_id, content compared by hash, rolled up to
    added / removed / changed / unchanged counts and byte volumes. The
    v2 snapshot is derived deterministically from the fixture (drops
    ``doc_id % 17 = 3``, edits ``% 13 = 5``, adds re-keyed ``% 19 = 7``)
    so both engines diff identical inputs; a real deployment feeds two
    parquet snapshot paths into the same plan.

    Scale shape: the diff is ONE full-outer SMJ/shuffle join on the id
    (both sides id-partitioned; co-partitioned snapshots make it
    exchange-light), content equality by hash so full text never feeds
    the comparator twice, and a 4-row rollup."""
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.select(
        "doc_id",
        F.md5("text").alias("h1"),
        F.octet_length("text").cast("bigint").alias("nb1"),
    )
    v2_base = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 5, F.concat("text", F.lit(" [v2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v2_add = docs.filter(F.col("doc_id") % 19 == 7).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    v2 = v2_base.unionByName(v2_add).select(
        "doc_id",
        F.md5("text").alias("h2"),
        F.octet_length("text").cast("bigint").alias("nb2"),
    )
    d = v1.join(v2, "doc_id", "full_outer").select(
        F.when(F.col("h2").isNull(), "removed")
        .when(F.col("h1").isNull(), "added")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("nb2", "nb1").alias("nb"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# X-4 (r9): blocklist gate (C4-style word filter)
# ---------------------------------------------------------------------------

#: Demo blocklist — the MECHANISM is the operator (C4 drops any document
#: containing a blocklisted word; Dolma/RefinedWeb run rate-thresholded
#: variants). Terms chosen to actually occur in the synthetic corpus so
#: both gate branches are exercised; a deployment swaps in its list.
BLOCKLIST = ("slow", "skew", "spill", "leak", "stale")

_BLOCKLIST_SQL = ", ".join(f"'{w}'" for w in BLOCKLIST)

_BLOCKLIST_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    f AS (
        SELECT doc_id, source, len(t) AS n_words, unnest(t) AS w FROM toks
    )
    SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN w IN ({_BLOCKLIST_SQL}) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked,
           CAST(COUNT(DISTINCT CASE WHEN w IN ({_BLOCKLIST_SQL}) THEN w END) AS BIGINT)
               AS n_distinct_blocked,
           ROUND(CAST(SUM(CASE WHEN w IN ({_BLOCKLIST_SQL}) THEN 1 ELSE 0 END) AS DOUBLE)
                 / n_words, 6) AS block_rate,
           CAST(CASE WHEN SUM(CASE WHEN w IN ({_BLOCKLIST_SQL}) THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS INTEGER) AS passes_gate
    FROM f GROUP BY doc_id, source, n_words
    """


@query("x4_blocklist_gate", _BLOCKLIST_ORACLE)
def x4_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r9): BLOCKLIST word-filter gate — the C4 cleaning rule (drop
    any document containing a blocklisted word; Raffel et al. 2020) with
    the rate-thresholded diagnostics its successors report: per doc,
    exact-token blocklist hits (word-boundary semantics via the shared
    normalized-token split — NOT substring matching, which flags
    'class' for 'ass'), distinct blocked terms, hit rate, and the
    C4-strict pass flag.

    Scale shape: one codegen token explode over docs spread by doc_id —
    narrow explode preserves the hash partitioning, so the per-doc
    aggregate plans EXCHANGE-FREE (CLAUDE.md rule 20); the lexicon is a
    literal IN-list (a deployment-sized list of a few thousand terms
    would broadcast-join the exploded tokens instead — same shape as
    x2_decontaminate's eval side)."""
    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("doc_id", "source", tokens(F.col("text")).alias("t")).select(
        "doc_id", "source", F.size("t").alias("n_words"), F.explode("t").alias("w")
    )
    blocked = F.col("w").isin(*BLOCKLIST)
    hit = F.when(blocked, 1).otherwise(0)
    return t.groupBy("doc_id", "source", "n_words").agg(
        F.sum(hit).cast("bigint").alias("n_blocked"),
        F.countDistinct(F.when(blocked, F.col("w"))).cast("bigint").alias(
            "n_distinct_blocked"
        ),
        F.round(
            F.sum(hit).cast("double") / F.col("n_words"), 6
        ).alias("block_rate"),
        (F.sum(hit) == 0).cast("int").alias("passes_gate"),
    ).select(
        "doc_id",
        "source",
        F.col("n_words").cast("bigint").alias("n_words"),
        "n_blocked",
        "n_distinct_blocked",
        "block_rate",
        "passes_gate",
    )


# ---------------------------------------------------------------------------
# X-9 (r9): curation v6 — the SAFETY-AUDIT funnel
# ---------------------------------------------------------------------------


def quality_ctes() -> str:
    """The Gopher quality gate as a reusable oracle CTE chain ending in
    ``quality`` (doc_id of every keep=true doc) — one definition for the
    curation-family oracles (v6, v7); thresholds come from the shared
    ``gopher_gate_sql`` (ADVICE r09)."""
    return f"""qtoks AS (
        SELECT doc_id, UNNEST(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ),
    qstats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               ROUND(CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*), 6) AS mean_word_len,
               ROUND(CAST(SUM(CASE WHEN tok IN {_STOPWORDS} THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS stop_frac
        FROM qtoks GROUP BY doc_id
    ),
    qt2 AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
    qbi AS (
        SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i+1])) AS g,
               len(t) - 1 AS n_bi
        FROM qt2 WHERE len(t) >= 2
    ),
    qbc AS (SELECT doc_id, g, n_bi, COUNT(*) AS c FROM qbi GROUP BY doc_id, g, n_bi),
    qtop AS (
        SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / ANY_VALUE(n_bi), 6) AS tb
        FROM qbc GROUP BY doc_id
    ),
    quality AS (
        SELECT s.doc_id FROM qstats s LEFT JOIN qtop t ON s.doc_id = t.doc_id
        WHERE {gopher_gate_sql("s", "COALESCE(t.tb, 0.0)")}
    )"""


def _curation_v6_oracle() -> str:
    from etl_active911_spark.operators.dedup import EVAL_SOURCE, tokdecon_ctes

    return f"""
    WITH {tokdecon_ctes()},
    contam AS (SELECT DISTINCT doc_id FROM hits),
    {quality_ctes()},
    bl AS (
        SELECT doc_id FROM qtoks
        GROUP BY doc_id
        HAVING SUM(CASE WHEN tok IN ({", ".join(f"'{w}'" for w in BLOCKLIST)})
                        THEN 1 ELSE 0 END) = 0
    ),
    funnel AS (
        SELECT d.doc_id, d.source,
               CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fq,
               CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fb,
               CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS fc
        FROM documents d
        LEFT JOIN quality q ON d.doc_id = q.doc_id
        LEFT JOIN bl b ON d.doc_id = b.doc_id
        LEFT JOIN contam c ON d.doc_id = c.doc_id
        WHERE d.source <> '{EVAL_SOURCE}'
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(fq) AS BIGINT) AS n_pass_quality,
           CAST(SUM(fb) AS BIGINT) AS n_pass_blocklist,
           CAST(SUM(fc) AS BIGINT) AS n_uncontaminated,
           CAST(SUM(fq * fb * fc) AS BIGINT) AS n_final,
           ROUND(CAST(SUM(fq * fb * fc) AS DOUBLE) / COUNT(*), 6) AS final_rate
    FROM funnel GROUP BY source
    """


@query("x9_curation_v6", _curation_v6_oracle())
def x9_curation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r9): the SAFETY-AUDIT FUNNEL — the per-source attrition
    report a data-governance review asks for before a release: of each
    source's train-side documents, how many pass the Gopher quality
    gate, how many pass the C4 blocklist gate, how many are free of
    token-level eval contamination, and how many survive ALL THREE —
    composing the r9 safety operators (x4_blocklist_gate,
    x2_token_decontaminate) with the established quality gate the same
    way curation_v5 composes the dedup family. Eval-split documents are
    excluded from the funnel (they are the contamination REFERENCE, not
    candidates).

    Scale shape inherits each stage's: the quality gate rides the
    shared fixture memo (rule 25), blocklist is the exchange-free
    explode aggregate, contamination is the broadcast posting join;
    the funnel itself is three doc_id-keyed left joins of doc-id-only
    sets followed by one |sources|-group aggregate."""
    from etl_active911_spark.operators.dedup import (
        EVAL_SOURCE,
        token_contamination,
    )

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    quality = shared_gopher_rules(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", F.lit(1).alias("fq")
    )
    bl = (
        x4_blocklist_gate(spark, sf_dir)
        .filter(F.col("passes_gate") == 1)
        .select("doc_id", F.lit(1).alias("fb"))
    )
    contam = (
        token_contamination(docs, persist_key="x9_curation_v6.hits")
        .select("doc_id")
        .distinct()
        .withColumn("fcx", F.lit(1))
    )
    funnel = (
        docs.filter(F.col("source") != EVAL_SOURCE)
        .select("doc_id", "source")
        .join(quality, "doc_id", "left")
        .join(bl, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "source",
            F.coalesce("fq", F.lit(0)).alias("fq"),
            F.coalesce("fb", F.lit(0)).alias("fb"),
            F.when(F.col("fcx").isNull(), 1).otherwise(0).alias("fc"),
        )
    )
    return funnel.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("fq").cast("bigint").alias("n_pass_quality"),
        F.sum("fb").cast("bigint").alias("n_pass_blocklist"),
        F.sum("fc").cast("bigint").alias("n_uncontaminated"),
        F.sum(F.col("fq") * F.col("fb") * F.col("fc")).cast("bigint").alias("n_final"),
        F.round(
            F.sum(F.col("fq") * F.col("fb") * F.col("fc")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("final_rate"),
    )


# ---------------------------------------------------------------------------
# X-4 (r9): Zipf rank-frequency fit
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = f"""
    WITH toks AS (
        SELECT UNNEST(string_split({_NORM_SQL}, ' ')) AS w FROM documents
    ),
    wf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM toks WHERE w <> '' GROUP BY w
    ),
    rk AS (
        SELECT w, f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r FROM wf
    ),
    xy AS (
        SELECT ROUND(ln(CAST(r AS DOUBLE)), 6) AS x,
               ROUND(ln(CAST(f AS DOUBLE)), 6) AS y
        FROM rk
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM xy
    )
    SELECT n AS n_vocab,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """


@query("x4_zipf_fit", _ZIPF_ORACLE)
def x4_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r9): ZIPF RANK-FREQUENCY FIT — log-log OLS of word frequency
    against frequency rank (slope ≈ −1 for natural language; a corpus
    whose slope drifts far from −1 is boilerplate-flooded or
    template-generated, and the fit's R² quantifies how Zipf-like the
    vocabulary is at all). The corpus-health scalar a dataset report
    quotes next to vocab size — closes the loop with x4_vocab_growth
    (Heaps' law), its type-count dual.

    Determinism: each term's ``ln`` is ROUNDED to 6dp BEFORE the sums
    (libm log may differ in the last ulp across engines — the
    x8_mixture_schedule concern — but agrees far beyond 6dp, so both
    engines sum IDENTICAL values); the OLS closed form mirrors the SQL
    op order term-for-term, and outputs round at the edge.

    Scale shape: one token explode → vocabulary aggregate (map-side
    combined, shuffle ∝ vocab ≪ corpus); the global frequency rank
    rides the two-phase prefix COUNT keyed by (−f, w) — no global-sort
    window (the oracle may use one: oracle scale is fixture scale).
    Note the range split inherits the Zipf skew of the key (most words
    are hapax), which is benign: ranges stay contiguous and the
    per-range window is partition-parallel."""
    return zipf_fit(spread(read_table(spark, sf_dir, "documents"), "doc_id"))


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Core of ``x4_zipf_fit`` over an arbitrary (doc_id, text) frame —
    split out so a synthetic exact-Zipf corpus pins slope ~ -1 and
    R-squared ~ 1 in pytest."""
    from etl_active911_spark.operators.dedup import tokens
    from etl_active911_spark.operators.sampling import _two_phase_prefix_sum

    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = _two_phase_prefix_sum(
        wf.withColumn("negf", -F.col("f")).withColumn("one", F.lit(1)),
        "one",
        key="negf",
        tiebreak="w",
    ).withColumn("r", F.col("start_off") + 1)
    xy = ranked.select(
        F.round(F.log(F.col("r").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("f").cast("double")), 6).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope_raw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_vocab"),
        F.round(slope_raw, 6).alias("zipf_slope"),
        F.round((sy - slope_raw * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# X-4 (r10): intra-document duplicate-n-gram fraction (Gopher repetition)
# ---------------------------------------------------------------------------

#: Gopher §A1.1-style repetition flag: a doc whose duplicated-3-gram
#: occurrence share exceeds this is boilerplate/looped generation.
DUP_NGRAM_FLAG_FRAC = 0.2

_DUP_NGRAM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 3
                           THEN list_transform(generate_series(1, len(t) - 2),
                                               i -> array_to_string(t[i:i+2], ' '))
                           ELSE [array_to_string(t, ' ')] END) AS gram
        FROM toks
    ),
    per AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_occurrences,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 6) AS dup_fraction,
           CAST(CASE WHEN CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                          / SUM(c) > {DUP_NGRAM_FLAG_FRAC}
                     THEN 1 ELSE 0 END AS INTEGER) AS is_repetitive
    FROM per GROUP BY doc_id
    """


@query("x4_dup_ngram_fraction", _DUP_NGRAM_ORACLE)
def x4_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r10): INTRA-document repetition — the Gopher quality signal
    the existing composition gates don't carry: the share of a doc's
    3-gram OCCURRENCES that belong to grams repeated within the same
    doc (looped generations, boilerplate stuffing, template spam score
    high; ``x4_gopher_rules``'s top-bigram check only sees the single
    worst bigram, and ``x4_ngram_novelty`` is CROSS-doc). Emits per doc
    the total/distinct gram counts, the duplicated-occurrence count, the
    fraction, and the ``> DUP_NGRAM_FLAG_FRAC`` repetition flag.

    Scale shape (rule 20): one spread on doc_id, then the codegen
    ``shingle_rows`` explode and BOTH hash aggregates — (doc_id, gram)
    then doc_id — run exchange-free, since hash-partitioning on doc_id
    satisfies every downstream grouping that includes it. No joins, no
    windows, no interpreted lambdas (SCALE.md invariant 3)."""
    from etl_active911_spark.operators.dedup import shingle_rows

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    per = shingle_rows(docs, k=3).groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    dup = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
    frac = dup.cast("double") / F.sum("c")
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
        dup.cast("bigint").alias("n_dup_occurrences"),
        F.round(frac, 6).alias("dup_fraction"),
        (frac > F.lit(DUP_NGRAM_FLAG_FRAC)).cast("int").alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# X-9 (r10): curation v7 — the MULTIMODAL funnel (VERDICT r09 items 5+cross)
# ---------------------------------------------------------------------------

#: metadata gates for multimodal curation: tiny images and sub-0.1 s audio
#: clips carry no trainable signal
MM_MIN_PIXELS = 64
MM_MIN_DURATION_MS = 100


def _curation_v7_oracle() -> str:
    from etl_active911_spark.operators.multimodal import (
        _BMP_H,
        _BMP_W,
        _MEDIA_CTE,
        _hexbyte,
    )

    return f"""
    WITH {_MEDIA_CTE},
    mm AS (
        SELECT doc_id, mime,
               {_BMP_W} AS w, {_BMP_H} AS h,
               500 + ({_hexbyte('sha', 0)} * 256 + {_hexbyte('sha', 1)}) % 2000 AS n,
               8000 + 1000 * ({_hexbyte('sha', 2)} % 5) AS rate
        FROM m
    ),
    mf AS (
        SELECT doc_id,
               CASE WHEN mime <> 'video/mp4' AND doc_id % 7 <> 0
                         AND doc_id % 11 <> 0
                    THEN 1 ELSE 0 END AS fm,
               CASE WHEN mime = 'image/png' AND w * h >= {MM_MIN_PIXELS} THEN 1
                    WHEN mime = 'audio/wav'
                         AND n * 1000 // rate >= {MM_MIN_DURATION_MS} THEN 1
                    ELSE 0 END AS fmeta
        FROM mm
    ),
    {quality_ctes()},
    funnel AS (
        SELECT d.doc_id, d.source, mf.fm, mf.fmeta,
               CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fq
        FROM documents d
        JOIN mf ON mf.doc_id = d.doc_id
        LEFT JOIN quality q ON q.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(fm) AS BIGINT) AS n_media_valid,
           CAST(SUM(fmeta) AS BIGINT) AS n_meta_ok,
           CAST(SUM(fq) AS BIGINT) AS n_quality,
           CAST(SUM(fm * fmeta * fq) AS BIGINT) AS n_final,
           ROUND(CAST(SUM(fm * fmeta * fq) AS DOUBLE) / COUNT(*), 6) AS final_rate
    FROM funnel GROUP BY source
    """


@query("x9_curation_v7", _curation_v7_oracle())
def x9_curation_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r10): MULTIMODAL CURATION — the funnel a vision/audio-text
    pretraining build runs, composing three REAL per-doc surfaces built
    this and prior rounds: (1) container integrity from the actual parse
    (``media_validate_flags`` — corrupted magic/size rows and codec-less
    mp4 both fail the media gate), (2) typed metadata bounds from the
    parsed headers (``x5_media_metadata``: images ≥ MM_MIN_PIXELS px,
    audio ≥ MM_MIN_DURATION_MS ms), (3) the Gopher text-quality gate
    (memoized ``shared_gopher_rules``). Per-source report: how many docs
    survive each gate and the final multimodal-trainable rate — the
    dataset-card row for a mixed-modality release.

    Scale shape: the two media surfaces are fused Arrow passes whose
    outputs are scalar rows keyed by doc_id; the funnel is doc_id-keyed
    equi-joins + one |sources|-group aggregate. Blob bytes never
    shuffle; the quality leg is computed once per session (rule 25)."""
    from etl_active911_spark.operators.multimodal import (
        media_table,
        media_validate_flags,
        x5_media_metadata,
    )

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    flags = media_validate_flags(media_table(spark, sf_dir)).select(
        "doc_id", (F.col("status") == "valid").cast("int").alias("fm")
    )
    meta = x5_media_metadata(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("mime") == "image/png",
            F.col("width") * F.col("height") >= MM_MIN_PIXELS,
        )
        .when(
            F.col("mime") == "audio/wav",
            F.col("duration_ms") >= MM_MIN_DURATION_MS,
        )
        .otherwise(F.lit(False))
        .cast("int")
        .alias("fmeta"),
    )
    quality = shared_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("fq")
    )
    funnel = (
        docs.select("doc_id", "source")
        .join(flags, "doc_id")
        .join(meta, "doc_id")
        .join(quality, "doc_id")
    )
    passed = F.col("fm") * F.col("fmeta") * F.col("fq")
    return funnel.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("fm").cast("bigint").alias("n_media_valid"),
        F.sum("fmeta").cast("bigint").alias("n_meta_ok"),
        F.sum("fq").cast("bigint").alias("n_quality"),
        F.sum(passed).cast("bigint").alias("n_final"),
        F.round(F.sum(passed).cast("double") / F.count(F.lit(1)), 6).alias(
            "final_rate"
        ),
    )


# ---------------------------------------------------------------------------
# X-4 (r10): structural template detection
# ---------------------------------------------------------------------------

TEMPLATE_PREFIX_TOKENS = 8  # fingerprint window: the doc's opening structure
TEMPLATE_MIN_DOCS = 3  # classes below this are idiosyncratic, not templates

_TEMPLATE_ORACLE = f"""
    WITH t2 AS (
        SELECT doc_id, source, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ),
    fp AS (
        SELECT doc_id, source,
               array_to_string(
                   list_transform(t[1:{TEMPLATE_PREFIX_TOKENS}],
                                  w -> CASE WHEN LENGTH(w) <= 3 THEN 'S'
                                            WHEN LENGTH(w) <= 6 THEN 'M'
                                            ELSE 'L' END), '') AS fingerprint
        FROM t2
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS rep_doc
    FROM fp GROUP BY fingerprint
    HAVING COUNT(*) >= {TEMPLATE_MIN_DOCS}
    """


@query("x4_template_detection", _TEMPLATE_ORACLE)
def x4_template_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r10): STRUCTURAL TEMPLATE DETECTION — boilerplate discovery
    one level above content dedup: docs are fingerprinted by the
    word-length-CLASS sequence (S ≤3 / M ≤6 / L) of their first
    TEMPLATE_PREFIX_TOKENS tokens, so form letters / scraped page
    skeletons whose variable content defeats MinHash still collapse to
    one fingerprint class. Emits every class with ≥ TEMPLATE_MIN_DOCS
    docs: size, source spread (a template crossing many sources is a
    scraper artifact, not a house style), and the representative doc.

    Scale shape: the fingerprint is a per-doc O(1) projection (the
    8-element transform is fixed-width, like ``dot`` — invariant 3
    governs corpus-sized per-element fan-out, not bounded reductions);
    the rollup is ONE hash aggregate keyed by fingerprint. No joins, no
    windows, nothing quadratic anywhere."""
    from etl_active911_spark.operators.dedup import normalized_text

    toks = F.split(normalized_text(F.col("text")), " ")
    cls = F.transform(
        F.slice(toks, 1, TEMPLATE_PREFIX_TOKENS),
        lambda w: F.when(F.length(w) <= 3, F.lit("S"))
        .when(F.length(w) <= 6, F.lit("M"))
        .otherwise(F.lit("L")),
    )
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    fp = docs.select(
        "doc_id", "source", F.array_join(cls, "").alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").alias("rep_doc"),
        )
        .filter(F.col("n_docs") >= TEMPLATE_MIN_DOCS)
    )


# ---------------------------------------------------------------------------
# X-9 (r10): gate-ablation matrix
# ---------------------------------------------------------------------------


def _gate_ablation_oracle() -> str:
    from etl_active911_spark.operators.dedup import EVAL_SOURCE, tokdecon_ctes

    return f"""
    WITH {tokdecon_ctes()},
    contam AS (SELECT DISTINCT doc_id FROM hits),
    {quality_ctes()},
    bl AS (
        SELECT doc_id FROM qtoks
        GROUP BY doc_id
        HAVING SUM(CASE WHEN tok IN ({", ".join(f"'{w}'" for w in BLOCKLIST)})
                        THEN 1 ELSE 0 END) = 0
    ),
    flags AS (
        SELECT d.doc_id, st.n_words,
               CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fq,
               CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fb,
               CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS fc
        FROM documents d
        JOIN qstats st ON st.doc_id = d.doc_id
        LEFT JOIN quality q ON q.doc_id = d.doc_id
        LEFT JOIN bl b ON b.doc_id = d.doc_id
        LEFT JOIN contam c ON c.doc_id = d.doc_id
        WHERE d.source <> '{EVAL_SOURCE}'
    )
    SELECT CAST(fq AS INTEGER) AS fq, CAST(fb AS INTEGER) AS fb,
           CAST(fc AS INTEGER) AS fc,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS share
    FROM flags GROUP BY fq, fb, fc
    """


@query("x9_gate_ablation", _gate_ablation_oracle())
def x9_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r10): GATE-ABLATION MATRIX — the analysis a curator runs
    BEFORE committing to a gate stack: every (quality, blocklist,
    uncontaminated) flag combination with its doc count, token mass, and
    corpus share. Where the v6 funnel reports attrition under one fixed
    order, this shows which gate is BINDING (mass in fq=0 rows only),
    which are redundant (mass concentrated where flags agree), and what
    an ablation would recover — the 2³ cells are exactly the table an
    ablation-study appendix prints.

    Scale shape: the three gate legs are the v6 legs verbatim (memoized
    quality, exchange-free blocklist aggregate, broadcast posting join);
    the matrix is one 8-group aggregate and the share window runs over
    the 8-row RESULT."""
    from etl_active911_spark.operators.dedup import (
        EVAL_SOURCE,
        token_contamination,
    )

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    quality = shared_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("fq"), "n_words"
    )
    bl = (
        x4_blocklist_gate(spark, sf_dir)
        .filter(F.col("passes_gate") == 1)
        .select("doc_id", F.lit(1).alias("fb"))
    )
    contam = (
        token_contamination(docs, persist_key="x9_curation_v6.hits")
        .select("doc_id")
        .distinct()
        .withColumn("fcx", F.lit(1))
    )
    flags = (
        docs.filter(F.col("source") != EVAL_SOURCE)
        .select("doc_id")
        .join(quality, "doc_id")
        .join(bl, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "n_words",
            "fq",
            F.coalesce("fb", F.lit(0)).alias("fb"),
            F.when(F.col("fcx").isNull(), 1).otherwise(0).alias("fc"),
        )
    )
    out = flags.groupBy("fq", "fb", "fc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
    )
    from pyspark.sql import Window as _W

    return out.select(
        "fq",
        "fb",
        "fc",
        "n_docs",
        "n_words",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(_W.partitionBy()),
            6,
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# X-9 (r10): streaming-curation batch equivalent
# ---------------------------------------------------------------------------


def _stream_curation_oracle() -> str:
    return f"""
    WITH {quality_ctes()},
    k AS (
        SELECT d.doc_id, d.source, st.n_words, sha256({_NORM_SQL}) AS h
        FROM documents d
        JOIN qstats st ON st.doc_id = d.doc_id
        JOIN quality q ON q.doc_id = d.doc_id
    ),
    keep AS (SELECT h, MAX(doc_id) AS keeper FROM k GROUP BY h)
    SELECT k.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_words) AS BIGINT) AS total_words
    FROM k JOIN keep ON keep.keeper = k.doc_id
    GROUP BY k.source
    """


@query("x9_stream_curation", _stream_curation_oracle())
def x9_stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r10): the BATCH EQUIVALENT of the streaming curation ingest
    (``streaming/curation_ingest.py``): Gopher quality gate, then exact
    content dedup with LAST-WRITER-WINS keeper semantics (MAX doc_id per
    content hash — what the upsert sink converges to when docs arrive in
    id order), rolled up per source. Where ``x9_curation_pipeline`` keeps
    the FIRST copy (min doc_id, the batch-dedup convention), a streaming
    landing zone keeps the LATEST — this query pins that difference as
    an oracle-checked contract, and
    tests/test_streaming.py::test_curation_ingest_stream_matches_batch
    pins stream ≡ batch end-to-end.

    Scale shape: the gate rides the memoized quality surface; dedup is
    one hash-keyed aggregate + a (h, doc_id) self-equi-join on the tiny
    keeper table; rollup is |sources|-group."""
    from etl_active911_spark.operators.dedup import normalized_text

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    quality = shared_gopher_rules(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", "n_words"
    )
    k = docs.join(quality, "doc_id").select(
        "doc_id",
        "source",
        "n_words",
        F.sha2(normalized_text(F.col("text")), 256).alias("h"),
    )
    keepers = k.groupBy("h").agg(F.max("doc_id").alias("doc_id"))
    return (
        k.join(keepers, ["h", "doc_id"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
    )


# ---------------------------------------------------------------------------
# X-4 (r10): sliding-window document chunking (context construction)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (overlap = 8)

_CHUNK_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               string_split_regex(TRIM(text), '\\s+') AS toks,
               len(string_split_regex(TRIM(text), '\\s+')) AS n
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks, n,
               unnest(range(0, n, {CHUNK_STRIDE})) AS start
        FROM base
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, n - start) AS BIGINT) AS n_tok,
           md5(array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' '))
               AS chunk_md5
    FROM s
    """


def chunk_rows(docs: DataFrame) -> DataFrame:
    """One row per sliding-window chunk: (doc_id, start, n, chunk_md5).

    The shared body of ``x4_doc_chunking`` and ``x2_chunk_cross_dup`` —
    all codegen collection expressions, zero exchanges (see the
    x4_doc_chunking docstring for the full scale ledger)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n")
    )
    ch = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    return ch.select(
        "doc_id",
        "start",
        "n",
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)),
                " ",
            )
        ).alias("chunk_md5"),
    )


@query("x4_doc_chunking", _CHUNK_ORACLE)
def x4_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r10): SLIDING-WINDOW CHUNKING — split every document into
    CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE (8-token
    overlap), the context-construction step every RAG index and every
    fixed-context pretraining pipeline runs between curation and
    packing. Emits one flat row per chunk: ordinal, token offset,
    actual token count (tail chunks are short), and the md5 of the
    chunk text — the downstream join key for chunk-level dedup /
    embedding without shipping the text twice.

    Cross-engine exactness: whitespace tokenization is the house idiom
    (``split(trim(text), '\\s+')`` on both engines, identical empty-
    token behavior); chunk text is the single-space re-join of the
    token slice, so the md5 agrees byte-for-byte. Chunk starts are
    ``range(0, n_tokens, stride)`` in both engines — the final window
    is kept whenever it contains at least one new token.

    Scale shape: ZERO exchanges — a pure per-row flat map (split,
    sequence-explode, slice, hash), all codegen collection expressions
    (no higher-order lambdas, invariant 3); output size is
    n_tokens/stride rows per doc, linear in corpus size. ``spread``
    ahead of the explode so single-file fixture parquet doesn't
    serialize the whole corpus through one task (rule 2)."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    return chunk_rows(docs).select(
        "doc_id",
        (F.col("start") / F.lit(CHUNK_STRIDE)).cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("n_tok"),
        "chunk_md5",
    )


# ---------------------------------------------------------------------------
# X-2 (r10): cross-document chunk duplication (passage-level contamination)
# ---------------------------------------------------------------------------

_CHUNK_XDUP_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               string_split_regex(TRIM(text), '\\s+') AS toks,
               len(string_split_regex(TRIM(text), '\\s+')) AS n
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks, n,
               unnest(range(0, n, {CHUNK_STRIDE})) AS start
        FROM base
    ),
    c AS (
        SELECT doc_id,
               md5(array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' '))
                   AS chunk_md5
        FROM s
    ),
    g AS (
        SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd
        FROM c GROUP BY chunk_md5
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_chunks,
           ROUND(CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS shared_share
    FROM c JOIN g USING (chunk_md5)
    GROUP BY c.doc_id
    HAVING SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) >= 1
    """


@query("x2_chunk_cross_dup", _CHUNK_XDUP_ORACLE)
def x2_chunk_cross_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r10): PASSAGE-LEVEL CROSS-DOCUMENT DUPLICATION — for each
    document, how many of its sliding-window chunks (the
    ``x4_doc_chunking`` grid) also appear VERBATIM in at least one other
    document, and what share of the doc that is. This is the
    passage-granular middle ground the dedup ladder was missing:
    whole-doc dedup (X-1/minhash) misses partially-quoted docs,
    ``x4_dup_ngram_fraction`` measures WITHIN-doc repetition — this
    measures BETWEEN-doc reuse, the signal behind quote-heavy /
    boilerplate-wrapped near-copies and train-eval passage leakage.

    Determinism: chunk identity is the md5 of the exact chunk re-join
    (byte-equal across engines, see x4_doc_chunking); counts are exact
    integers; the one ratio is a single rounded division. Docs with no
    shared chunk are filtered in both engines — the output is the
    contamination report, not the corpus.

    Scale shape: the chunk table is linear (n_tokens/stride rows/doc,
    zero-exchange construction); one hash aggregate keyed by chunk_md5
    (distinct-doc count), one keyed equi-join back on chunk_md5 (SMJ/
    shuffled-hash at scale — never broadcast: the hash table is
    corpus-sized), one doc_id-keyed roll-up. All shuffles are on
    high-cardinality uniform keys (md5, doc_id) — no skew, no
    all-pairs anything."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    c = chunk_rows(docs).select("doc_id", "chunk_md5")
    g = c.groupBy("chunk_md5").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (
        c.join(g, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            shared.cast("bigint").alias("n_shared_chunks"),
        )
        .filter(F.col("n_shared_chunks") >= 1)
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.round(
                F.col("n_shared_chunks").cast("double")
                / F.col("n_chunks").cast("double"),
                6,
            ).alias("shared_share"),
        )
    )


# ---------------------------------------------------------------------------
# X-4 (r10): mean segmental type-token ratio (Johnson 1944; MSTTR)
# ---------------------------------------------------------------------------

MSTTR_SEG = 25  # tokens per segment; incomplete tails are discarded

_MSTTR_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, UNNEST(t) AS tok, UNNEST(range(len(t))) AS p,
               len(t) AS n_tokens
        FROM toks
    ),
    seg AS (
        SELECT doc_id, n_tokens, p // {MSTTR_SEG} AS seg_id, tok
        FROM pos
        WHERE p // {MSTTR_SEG} < n_tokens // {MSTTR_SEG}
    ),
    per_seg AS (
        SELECT doc_id, MAX(n_tokens) AS n_tokens, seg_id,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS d
        FROM seg GROUP BY doc_id, seg_id
    ),
    per_doc AS (
        SELECT doc_id, MAX(n_tokens) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(d) AS BIGINT) AS sum_d
        FROM per_seg GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_segments,
           CAST((2 * sum_d * 1000000 + {MSTTR_SEG} * n_segments)
                // (2 * {MSTTR_SEG} * n_segments) AS DOUBLE) / 1000000.0 AS msttr
    FROM per_doc
    """


@query("x4_msttr", _MSTTR_ORACLE)
def x4_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r10): MEAN SEGMENTAL TYPE-TOKEN RATIO (Johnson 1944) — lexical
    diversity that, unlike the raw TTR in ``x4_token_stats``, does NOT
    decay with document length (TTR falls as docs grow because types
    saturate): the text is cut into consecutive MSTTR_SEG-token
    segments (tail discarded), TTR is measured per segment, and the mean
    is reported — the length-robust diversity gate for comparing short
    posts against long articles in one curation rule. Docs shorter than
    one segment are excluded (no valid measurement, not a fake 1.0).

    Exact arithmetic: per-segment distinct counts are integers; the mean
    is ONE integer HALF-UP micro-division sum(d)/(SEG*k) — never a mean
    of per-segment floats (rule 26a).

    Scale shape: explode rides the doc_id spread, both aggregates group
    by (doc_id, ...) so they run in the SAME hash(doc_id) partitioning
    exchange-free (rule 20); one row out per doc."""
    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    t = tokens(F.col("text"))
    pos = docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.posexplode(t).alias("p", "tok"),
    )
    seg = pos.filter(
        F.expr(f"p div {MSTTR_SEG}") < F.expr(f"n_tokens div {MSTTR_SEG}")
    ).select(
        "doc_id", "n_tokens", F.expr(f"p div {MSTTR_SEG}").alias("seg_id"), "tok"
    )
    per_seg = seg.groupBy("doc_id", "seg_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.countDistinct("tok").cast("bigint").alias("d"),
    )
    per_doc = per_seg.groupBy("doc_id").agg(
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("d").cast("bigint").alias("sum_d"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_segments",
        (
            F.expr(
                f"CAST((2 * sum_d * 1000000 + {MSTTR_SEG} * n_segments)"
                f" div (2 * {MSTTR_SEG} * n_segments) AS BIGINT)"
            ).cast("double")
            / 1000000.0
        ).alias("msttr"),
    )


# ---------------------------------------------------------------------------
# X-9 (r10): dedup x quality interaction matrix
# ---------------------------------------------------------------------------

def _dup_quality_matrix_oracle() -> str:
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""
    WITH {MINHASH_CTES},
    dupdocs AS (
        SELECT DISTINCT d FROM (
            SELECT doc_a AS d FROM verified WHERE jac >= 0.5
            UNION ALL
            SELECT doc_b AS d FROM verified WHERE jac >= 0.5
        )
    ),
    {quality_ctes()},
    cls AS (
        SELECT s.doc_id, s.n_words,
               s.doc_id IN (SELECT d FROM dupdocs) AS is_dup,
               s.doc_id IN (SELECT doc_id FROM quality) AS is_quality
        FROM qstats s
    ),
    cellagg AS (
        SELECT is_dup, is_quality,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens
        FROM cls GROUP BY is_dup, is_quality
    ),
    grid AS (
        SELECT a AS is_dup, b AS is_quality
        FROM (SELECT UNNEST([true, false]) AS a)
        CROSS JOIN (SELECT UNNEST([true, false]) AS b)
    ),
    tot AS (SELECT CAST(SUM(n_words) AS BIGINT) AS t FROM qstats)
    SELECT g.is_dup, g.is_quality,
           CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(CAST((2::HUGEINT * COALESCE(c.n_tokens, 0) * 1000000 + tot.t)
                     // (2::HUGEINT * tot.t) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS token_share
    FROM grid g
    LEFT JOIN cellagg c ON c.is_dup = g.is_dup AND c.is_quality = g.is_quality
    CROSS JOIN tot
    """


@query("x9_dup_quality_matrix", _dup_quality_matrix_oracle())
def x9_dup_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r10): DEDUP x QUALITY INTERACTION — the 2x2 matrix of
    (near-dup member?, passes the Gopher gate?) with doc counts, token
    mass, and corpus token share per cell: the question a curation run
    answers BEFORE sequencing its gates — if duplicates are mostly
    low-quality anyway, the quality gate already removes them and dedup
    order barely matters; if duplicated mass is high-quality (boilerplate
    of good sites, licensed re-posts), dedup is load-bearing and must run
    regardless. Composes the two family memos: the MinHash-verified pair
    graph (either side of any >= 0.5 pair is a dup member) and the shared
    Gopher gate.

    Determinism: integer doc/token counts; shares are integer HALF-UP
    micro-divisions; the grid is zero-filled so the shape is always 4
    rows.

    Scale shape: both inputs are memoized one-row-per-doc tables (rule
    25); the matrix itself is one (bool, bool)-keyed aggregate + a 4-row
    zero-fill + a 1-row total broadcast — nothing rescans the corpus."""
    from etl_active911_spark.operators.dedup import shared_verified_pairs

    gr = shared_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("is_quality"), "n_words"
    )
    pairs = shared_verified_pairs(spark, sf_dir)
    dupdocs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .select("doc_id", F.lit(True).alias("__dup"))
    )
    cls = gr.join(dupdocs, "doc_id", "left").select(
        "n_words",
        F.coalesce("__dup", F.lit(False)).alias("is_dup"),
        "is_quality",
    )
    cellagg = cls.groupBy("is_dup", "is_quality").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
    )
    grid = spark.createDataFrame(
        [(a, b) for a in (True, False) for b in (True, False)],
        "is_dup boolean, is_quality boolean",
    )
    tot = gr.agg(F.sum("n_words").cast("bigint").alias("t"))
    return (
        grid.join(cellagg, ["is_dup", "is_quality"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "is_dup",
            "is_quality",
            F.coalesce("n_docs", F.lit(0).cast("bigint")).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
            (
                F.expr(
                    "CAST((2 * CAST(COALESCE(n_tokens, 0) AS DECIMAL(38,0))"
                    " * 1000000 + t) div (2 * CAST(t AS DECIMAL(38,0)))"
                    " AS BIGINT)"
                ).cast("double")
                / 1000000.0
            ).alias("token_share"),
        )
    )


# ---------------------------------------------------------------------------
# X-4 (r11): unicode anomaly audit (mojibake / control bytes / confusables)
# ---------------------------------------------------------------------------

#: regex character classes shared VERBATIM by Spark (Java regex) and DuckDB
#: (RE2) — only syntax both engines parse identically: two-digit \xNN
#: escapes and literal BMP characters (no \p{...} or \u{...}, whose
#: semantics differ between the engines).
_CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_REPL_CHAR = "�"
_CYR_CLASS = f"[{chr(0x0400)}-{chr(0x04FF)}]"
_LATIN_CLASS = "[A-Za-z]"

#: deterministic anomaly injection — the fixture corpus is clean ASCII, so
#: both engines append the SAME marker to the same doc_id slices (the geo
#: synthetic-fixture idiom): control byte, U+FFFD (the mojibake tell), or
#: a Cyrillic confusable word amid Latin text.
_UNICODE_INJECT_SQL = f"""
    CASE CAST(doc_id % 31 AS INT)
         WHEN 3 THEN text || ' x{chr(7)}y'
         WHEN 7 THEN text || ' bad{_REPL_CHAR}byte'
         WHEN 11 THEN text || ' p{chr(0x0430)}yp{chr(0x0430)}l'
         ELSE text END
"""

_UNICODE_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {_UNICODE_INJECT_SQL} AS tx FROM documents
    ),
    c AS (
        SELECT doc_id,
               CAST(len(tx) AS BIGINT) AS n_chars,
               CAST(len(tx) - len(regexp_replace(tx, '{_CTRL_CLASS}', '', 'g'))
                    AS BIGINT) AS n_control,
               CAST(len(tx) - len(replace(tx, '{_REPL_CHAR}', ''))
                    AS BIGINT) AS n_replacement,
               CAST(len(tx) - len(regexp_replace(tx, '{_CYR_CLASS}', '', 'g'))
                    AS BIGINT) AS n_cyrillic,
               CAST(len(tx) - len(regexp_replace(tx, '{_LATIN_CLASS}', '', 'g'))
                    AS BIGINT) AS n_latin
        FROM t
    )
    SELECT doc_id, n_chars, n_control, n_replacement, n_cyrillic, n_latin,
           CAST(CASE WHEN n_cyrillic > 0 AND n_latin > 0 THEN 1 ELSE 0 END
                AS INTEGER) AS mixed_script,
           CAST(CASE WHEN n_control > 0 OR n_replacement > 0
                          OR (n_cyrillic > 0 AND n_latin > 0)
                     THEN 1 ELSE 0 END AS INTEGER) AS is_anomalous
    FROM c
    """


def _unicode_tx() -> "F.Column":
    """The injected text column (Spark side of ``_UNICODE_INJECT_SQL``)
    — shared by the standalone gate and the fused curation_v8 scan."""
    return (
        F.when(F.col("doc_id") % 31 == 3, F.concat("text", F.lit(" x\x07y")))
        .when(
            F.col("doc_id") % 31 == 7,
            F.concat("text", F.lit(f" bad{_REPL_CHAR}byte")),
        )
        .when(
            F.col("doc_id") % 31 == 11,
            F.concat("text", F.lit(" pаypаl")),
        )
        .otherwise(F.col("text"))
    )


def unicode_anomalous_col(tx: "F.Column") -> "F.Column":
    """Boolean is-anomalous over an (already injected) text column —
    the single definition both x4_unicode_anomaly's output and the
    fused v8 gate reduce to."""

    def n_rm(cls: str) -> "F.Column":
        return F.length(tx) - F.length(F.regexp_replace(tx, cls, ""))

    n_repl = F.length(tx) - F.length(F.replace(tx, F.lit(_REPL_CHAR)))
    mixed = (n_rm(_CYR_CLASS) > 0) & (n_rm(_LATIN_CLASS) > 0)
    return (n_rm(_CTRL_CLASS) > 0) | (n_repl > 0) | mixed


@query("x4_unicode_anomaly", _UNICODE_ORACLE)
def x4_unicode_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r11): UNICODE ANOMALY AUDIT — the encoding-hygiene gate a web
    corpus runs before tokenization: per document, counts of (a) C0/DEL
    control bytes (binary bleed-through / broken extractors), (b) U+FFFD
    replacement characters (the definitive mojibake tell — some upstream
    decode already failed), and (c) mixed Latin+Cyrillic script (the
    classic homoglyph-confusable signature of spam and adversarial SEO
    text), plus the combined anomaly flag. Pipelines drop or re-decode
    flagged docs; downstream BPE merges trained on mojibake waste vocab
    slots.

    Cross-engine exactness: counts come from length deltas under
    ``regexp_replace`` with character classes restricted to syntax Java
    regex and RE2 parse identically (two-digit ``\\x`` escapes +
    literal BMP chars; no ``\\p{...}``); the U+FFFD count uses plain
    ``replace`` (no regex at all). The fixture corpus is clean, so both
    engines inject the same markers on the same ``doc_id % 31`` slices
    (the synthetic-fixture idiom, FIXTURES.md) — injection text is
    shared via this module's constants.

    Scale shape: a pure per-row projection — zero joins, zero shuffles,
    zero UDFs; every counter is a codegen string expression over one
    corpus scan. At 100 TB this is scan-bound and trivially parallel."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")

    def n_removed(cls: str) -> F.Column:
        return (
            F.length("tx") - F.length(F.regexp_replace("tx", cls, ""))
        ).cast("bigint")

    c = docs.select("doc_id", _unicode_tx().alias("tx")).select(
        "doc_id",
        F.length("tx").cast("bigint").alias("n_chars"),
        n_removed(_CTRL_CLASS).alias("n_control"),
        (F.length("tx") - F.length(F.replace(F.col("tx"), F.lit(_REPL_CHAR))))
        .cast("bigint")
        .alias("n_replacement"),
        n_removed(_CYR_CLASS).alias("n_cyrillic"),
        n_removed(_LATIN_CLASS).alias("n_latin"),
    )
    mixed = (F.col("n_cyrillic") > 0) & (F.col("n_latin") > 0)
    return c.select(
        "doc_id",
        "n_chars",
        "n_control",
        "n_replacement",
        "n_cyrillic",
        "n_latin",
        mixed.cast("int").alias("mixed_script"),
        ((F.col("n_control") > 0) | (F.col("n_replacement") > 0) | mixed)
        .cast("int")
        .alias("is_anomalous"),
    )


# ---------------------------------------------------------------------------
# X-4 (r11): code-vs-prose detection
# ---------------------------------------------------------------------------

#: code-signature characters: brackets, operators, semicolons, underscores
_CODESYM_CLASS = r"[{}()\[\];=<>+*/_#$|&^%@~\\-]"

#: deterministic code injection on doc_id % 37 slices: a function-like
#: snippet (heavy symbols) and a config-like snippet (moderate symbols) so
#: the score has a graded distribution, not one spike.
_CODE_SNIPPET = "int f(int x) { return (x * 2) + arr[i]; } // fast_path"
_CODE_CONFIG = "key_name = value(1); opts->flag |= MASK_BITS;"

_CODE_INJECT_SQL = f"""
    CASE CAST(doc_id % 37 AS INT)
         WHEN 5 THEN '{_CODE_SNIPPET} ' || text
         WHEN 9 THEN '{_CODE_CONFIG} ' || text
         ELSE text END
"""

#: score threshold in code-symbol chars per 1000 chars (micro-exact)
CODE_SYM_PER_MILLE = 25

_CODE_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {_CODE_INJECT_SQL} AS tx FROM documents
    ),
    c AS (
        SELECT doc_id,
               CAST(len(tx) AS BIGINT) AS n_chars,
               CAST(len(tx) - len(regexp_replace(tx, '{_CODESYM_CLASS}', '', 'g'))
                    AS BIGINT) AS n_sym,
               CAST(len(tx) - len(regexp_replace(tx, '[0-9]', '', 'g'))
                    AS BIGINT) AS n_digit
        FROM t
    )
    SELECT doc_id, n_chars, n_sym, n_digit,
           CAST((2 * n_sym * 1000 + n_chars) // (2 * n_chars) AS BIGINT)
               AS sym_per_mille,
           CAST(CASE WHEN (2 * n_sym * 1000 + n_chars) // (2 * n_chars)
                          >= {CODE_SYM_PER_MILLE}
                     THEN 1 ELSE 0 END AS INTEGER) AS is_code
    FROM c
    """


def _code_tx() -> "F.Column":
    """The injected text column (Spark side of ``_CODE_INJECT_SQL``) —
    shared by the standalone gate and the fused curation_v8 scan."""
    return (
        F.when(
            F.col("doc_id") % 37 == 5,
            F.concat(F.lit(_CODE_SNIPPET + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 37 == 9,
            F.concat(F.lit(_CODE_CONFIG + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )


#: the rule-26b half-up per-mille division, shared VERBATIM by the
#: standalone gate and the fused v8 scan (expects named n_sym/n_chars)
_CODE_PER_MILLE_EXPR = "(2 * n_sym * 1000 + n_chars) div (2 * n_chars)"


def code_count_cols(tx: "F.Column") -> "list[F.Column]":
    """Named (n_chars, n_sym) counting columns over an (already
    injected) text column — the single definition both
    x4_code_detection and the fused v8 gate build the per-mille from."""
    n_chars = F.length(tx).cast("bigint")
    return [
        n_chars.alias("n_chars"),
        (n_chars - F.length(F.regexp_replace(tx, _CODESYM_CLASS, "")))
        .cast("bigint")
        .alias("n_sym"),
    ]


@query("x4_code_detection", _CODE_ORACLE)
def x4_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r11): CODE-VS-PROSE DETECTION — the routing gate a mixed web
    corpus needs before language-specific processing: per document, the
    code-signature symbol count (brackets/operators/semicolons — the
    character classes that separate source code from prose at >95%
    precision in practice), digit count, and the symbols-per-1000-chars
    density with the ``is_code`` routing flag. Misrouted code inflates
    prose perplexity models and pollutes stopword statistics; misrouted
    prose wastes code-model capacity — every major pretraining corpus
    (The Pile, RedPajama) routes on exactly this class of heuristic.

    Determinism: counts are regexp-replace length deltas (shared
    Java/RE2-safe class); the density is the rule-26b integer HALF-UP
    per-mille division (``(2·sym·1000 + n) div (2n)``) so the threshold
    comparison can never sit on a float knife edge — both the score and
    the flag are exact integers. Clean-fixture injection on
    ``doc_id % 37`` slices gives the flag both polarities (shared SQL
    constants, same idiom as x4_unicode_anomaly).

    Scale shape: pure per-row codegen projection over one scan — no
    joins, no shuffles, no UDFs; scan-bound at any corpus size."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    c = docs.select("doc_id", _code_tx().alias("tx")).select(
        "doc_id",
        *code_count_cols(F.col("tx")),
        (F.length("tx") - F.length(F.regexp_replace("tx", "[0-9]", "")))
        .cast("bigint")
        .alias("n_digit"),
    )
    per_mille = F.expr(_CODE_PER_MILLE_EXPR).cast("bigint")
    return c.select(
        "doc_id",
        "n_chars",
        "n_sym",
        "n_digit",
        per_mille.alias("sym_per_mille"),
        # CASE-shaped so a zero-length text (per_mille NULL via non-ANSI
        # div-by-zero) routes to 0 exactly like the oracle's CASE, not to
        # NULL — latent parity edge, unreachable with the current fixture
        # but guarded anyway
        F.when(per_mille >= CODE_SYM_PER_MILLE, 1).otherwise(0).cast("int").alias("is_code"),
    )


# ---------------------------------------------------------------------------
# X-9 (r11): curation v8 — encoding hygiene + code routing + post-scrub mass
# ---------------------------------------------------------------------------


def _curation_v8_oracle() -> str:
    # nests the STANDALONE oracles verbatim (the x6_discord precedent):
    # the funnel can never desynchronize from the gates it composes
    from etl_active911_spark.operators.dedup import _SCRUB_ORACLE

    return f"""
    WITH uni AS (SELECT doc_id, is_anomalous FROM ({_UNICODE_ORACLE})),
    code AS (SELECT doc_id, is_code FROM ({_CODE_ORACLE})),
    scrub AS (SELECT doc_id, tokens_after FROM ({_SCRUB_ORACLE})),
    {quality_ctes()},
    funnel AS (
        SELECT d.doc_id, d.source,
               CASE WHEN u.is_anomalous = 0 THEN 1 ELSE 0 END AS fenc,
               CASE WHEN c.is_code = 0 THEN 1 ELSE 0 END AS fprose,
               CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fq,
               s.tokens_after
        FROM documents d
        JOIN uni u USING (doc_id)
        JOIN code c USING (doc_id)
        JOIN scrub s USING (doc_id)
        LEFT JOIN quality q ON q.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(fenc) AS BIGINT) AS n_encoding_ok,
           CAST(SUM(fenc * fprose) AS BIGINT) AS n_prose,
           CAST(SUM(fenc * fprose * fq) AS BIGINT) AS n_final,
           CAST(SUM(fenc * fprose * fq * tokens_after) AS BIGINT)
               AS tokens_final,
           CAST((2 * SUM(fenc * fprose * fq) * 1000000 + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) / 1000000.0 AS final_rate
    FROM funnel GROUP BY source
    """


@query("x9_curation_v8", _curation_v8_oracle())
def x9_curation_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r11): CURATION v8 — the text-corpus funnel rebuilt on this
    round's gates, in realistic pipeline order: (1) ENCODING HYGIENE
    first (``x4_unicode_anomaly`` — mojibake/control-byte/confusable
    docs are unfixable downstream and cheapest to drop at the scan),
    (2) CODE ROUTING (``x4_code_detection`` — code docs leave the prose
    corpus for the code pipeline; routing ≠ quality, so it precedes the
    quality gate), (3) the Gopher quality gate (memoized
    ``shared_gopher_rules``), and — the v8 twist — the surviving token
    mass is counted POST-BOILERPLATE-SCRUB (``x2_boilerplate_scrub``'s
    ``tokens_after``): the dataset-card number a release actually
    ships is deduplicated trainable tokens, not raw tokens. Per-source:
    survivors at each gate, final doc count, FINAL TOKEN MASS, and the
    micro-exact final rate.

    Oracle-desync-proofing: the funnel's SQL nests the three standalone
    oracles VERBATIM as subqueries (the x6_discord precedent) plus the
    shared ``quality_ctes`` — a change to any gate updates the funnel or
    fails parity loudly; it cannot drift silently.

    Scale shape: the two text gates are FUSED into one corpus-scan
    projection (r11 polish: no per-gate rescan, no doc_id join for
    them — 4.54 → 2.46 s measured at sf0.1), the scrub ledger is one
    linear pass,
    and the funnel is doc_id-keyed equi-joins + one |sources|-group
    aggregate; the quality leg is computed once per session (rule 25).
    The rate is the rule-26b integer HALF-UP micro division. Gate
    logic reduces through the SAME shared builders the standalone
    queries use (_unicode_tx/unicode_anomalous_col, _code_tx/
    code_count_cols/_CODE_PER_MILLE_EXPR) — Spark-side drift is as
    impossible as the oracle-side nesting makes SQL drift."""
    from etl_active911_spark.operators.dedup import shared_scrub_ledger

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    # both text gates FUSED into one corpus scan (no per-gate rescan or
    # doc_id join): the flags reduce through the same shared column
    # builders the standalone queries use, so they cannot drift
    gates = docs.select(
        "doc_id",
        "source",
        (~unicode_anomalous_col(_unicode_tx())).cast("int").alias("fenc"),
        *code_count_cols(_code_tx()),
    ).select(
        "doc_id",
        "source",
        "fenc",
        # oracle: is_code=0 (CASE-guarded, incl. the empty-text NULL
        # division) → fprose=1; mirror that by sending NULL per-mille to
        # the prose branch rather than letting NULL < k stay NULL
        F.when(F.expr(_CODE_PER_MILLE_EXPR) >= CODE_SYM_PER_MILLE, 0)
        .otherwise(1)
        .cast("int")
        .alias("fprose"),
    )
    scrub = shared_scrub_ledger(spark, sf_dir).select("doc_id", "tokens_after")
    quality = shared_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("fq")
    )
    funnel = gates.join(scrub, "doc_id").join(quality, "doc_id")
    final = F.col("fenc") * F.col("fprose") * F.col("fq")
    agg = funnel.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("fenc").cast("bigint").alias("n_encoding_ok"),
        F.sum(F.col("fenc") * F.col("fprose")).cast("bigint").alias("n_prose"),
        F.sum(final).cast("bigint").alias("n_final"),
        F.sum(final * F.col("tokens_after")).cast("bigint").alias("tokens_final"),
    )
    return agg.select(
        "source",
        "n_total",
        "n_encoding_ok",
        "n_prose",
        "n_final",
        "tokens_final",
        (
            F.expr(
                "CAST((2 * n_final * 1000000 + n_total) div (2 * n_total)"
                " AS BIGINT)"
            ).cast("double")
            / 1000000.0
        ).alias("final_rate"),
    )


# ---------------------------------------------------------------------------
# X-4 (r11): TextRank keyword extraction (integer-exact PageRank)
# ---------------------------------------------------------------------------

TEXTRANK_VOCAB = 256  # graph nodes: top tokens by corpus frequency
TEXTRANK_ITERS = 5  # fixed power iterations (TextRank converges fast)
TEXTRANK_TOP = 20  # keywords emitted
#: damping 0.85 in micro-units: base (1-d)·1e6 and the d=85/100 factor
_TR_BASE = 150000


def _textrank_graph_ctes() -> str:
    return f"""
    toks AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(range(1, len(t) + 1)) AS pos
        FROM toks
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
            FROM pos GROUP BY tok
        ) WHERE rn <= {TEXTRANK_VOCAB}
    ),
    adj AS (
        SELECT tok, LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM pos
    ),
    pairs AS (
        SELECT LEAST(prev, tok) AS u, GREATEST(prev, tok) AS v
        FROM adj
        WHERE prev IS NOT NULL AND prev <> tok
          AND prev IN (SELECT tok FROM vocab)
          AND tok IN (SELECT tok FROM vocab)
    ),
    wt AS (
        SELECT u, v, COUNT(*)::HUGEINT AS w FROM pairs GROUP BY u, v
    ),
    e AS MATERIALIZED (
        SELECT u, v, w FROM wt UNION ALL SELECT v AS u, u AS v, w FROM wt
    ),
    deg AS MATERIALIZED (SELECT u, SUM(w) AS wd FROM e GROUP BY u)
    """


def _textrank_iter_cte(k: int) -> str:
    prev = "r0" if k == 1 else f"r{k - 1}"
    return f"""
    r{k} AS (
        SELECT n.tok,
               {_TR_BASE}::HUGEINT + COALESCE(
                   SUM((2 * p.r * 85 * e.w + 100 * d.wd) // (200 * d.wd)), 0)
                   AS r
        FROM vocab n
        LEFT JOIN e ON e.v = n.tok
        LEFT JOIN {prev} p ON p.tok = e.u
        LEFT JOIN deg d ON d.u = e.u
        GROUP BY n.tok
    )"""


def _textrank_oracle() -> str:
    iters = ",".join(_textrank_iter_cte(k) for k in range(1, TEXTRANK_ITERS + 1))
    return f"""
    WITH {_textrank_graph_ctes()},
    r0 AS (SELECT tok, 1000000::HUGEINT AS r FROM vocab),
    {iters},
    final AS (
        SELECT f.tok, f.r, COALESCE(d.wd, 0) AS wd,
               ROW_NUMBER() OVER (ORDER BY f.r DESC, f.tok) AS rnk
        FROM r{TEXTRANK_ITERS} f LEFT JOIN deg d ON d.u = f.tok
    )
    SELECT tok AS token,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(r AS BIGINT) / 1000000.0 AS rank_score,
           CAST(wd AS BIGINT) AS w_degree
    FROM final WHERE rnk <= {TEXTRANK_TOP}
    """


@query("x4_textrank_keywords", _textrank_oracle())
def x4_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r11): TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau,
    EMNLP 2004) — corpus-level salient terms via PageRank over the
    token co-occurrence graph: nodes are the top-TEXTRANK_VOCAB tokens
    by frequency (the BPE-style bounded-vocab discipline), undirected
    edges weight adjacent co-occurrence, and TEXTRANK_ITERS weighted
    power iterations rank centrality. This is the family's first
    ITERATIVE GRAPH operator on text — frequency (x4_heavy_hitters)
    rewards common tokens, TF-IDF rewards distinctive ones; TextRank
    rewards tokens that CONNECT the corpus's topical structure, which
    is what keyword/tag extraction actually ships.

    INTEGER-EXACT ITERATION — the novel discipline here: ranks live in
    micro-units; each edge contribution is the rule-26b HALF-UP integer
    division ((2·r_u·85·w + 100·W_u) div (200·W_u)) evaluated in
    128-bit (rule 27: r·85·w exceeds int64 at ~10³× fixture edge
    weights), so the per-node SUM is a sum of EXACT INTEGERS —
    aggregation order cannot perturb it (rule 26a is structurally
    impossible), and five iterations cannot accumulate float drift:
    both engines walk the identical integer trajectory. Ties in the
    final ranking are exact-integer ties broken on token.

    Scale shape: the CORPUS pass is fully distributed and touched ONCE
    — token explode is one codegen generator, the vocab cut is the
    rule-19 WindowGroupLimit top-V prune (work ∝ vocabulary), adjacency
    is ONE doc_id-keyed LAG window, and pair counting is a keyed
    aggregate. The GRAPH is then vocab²-bounded BY CONSTANT (≤ V²
    edges regardless of corpus size), so the power iterations run
    driver-side over the collected edge list — the documented
    bounded-collect exception (rule 23; the 2048-row BPE-fit /
    256-row centroid-fit precedent): pushing a 256-node iteration
    through 5 distributed jobs is pure scheduler overhead (measured:
    10.8 s as DataFrame loops vs <0.1 s local, both corpus-size-flat).
    Arithmetic uses arbitrary-precision Python ints, matching the
    oracle's HUGEINT trajectory exactly."""
    from etl_active911_spark.operators.dedup import tokens

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    # MEASURED AND REJECTED (r16): scoped_persist of this tokenized frame
    # (it feeds two separate collect jobs) won a marginal 1.97 vs 2.14 s
    # paired median — but `select(doc_id, tokens(text))` over the spread
    # corpus is the engine's most COMMON plan fragment, and Spark's
    # CacheManager substitutes cached plans into EVERY later query by
    # canonicalized-subtree match: the persist leaked an
    # InMemoryRelation into x2_substr_scrub's plan (breaking its
    # plan-memo eligibility contract) and would have silently served
    # one query's cache to dozens of others mid-bench. Cross-query
    # cache capture; cheap recompute wins (rule 34).
    toks_arr = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    pos = toks_arr.select("doc_id", F.explode("t").alias("tok"))
    wv = Window.orderBy(F.col("c").desc(), F.col("tok"))
    vocab = (
        pos.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("tok", F.row_number().over(wv).alias("rn"))
        .filter(F.col("rn") <= TEXTRANK_VOCAB)
        .select("tok")
    )
    # bounded collects: V node rows + ≤V² edge rows (constant-bounded by
    # TEXTRANK_VOCAB, not by corpus size — rule 23's documented exception)
    node_list = sorted(r["tok"] for r in vocab.collect())
    # r15: the vocab cut is ALREADY on the driver (256 strings) — filter
    # the adjacency with isin(node_list) (codegen InSet) instead of two
    # broadcast joins against `vocab`. The two broadcast builds were NOT
    # exchange-reused (different output names ⇒ different canonical
    # plans), so each re-ran the full corpus tokenize + top-V window:
    # the edge-weight job paid the corpus pass THREE times. Same
    # semantics: vocab is distinct, so inner-joining it == membership
    # filtering.
    # r15 optimization round (the countmin/PMI change): adjacency pairs
    # come from element_at over one exploded index instead of a lag()
    # window — the token array already encodes adjacency, so sorting
    # the corpus token stream by (doc_id, pos) bought nothing. Same
    # (prev, tok) multiset: lag over explode order IS the adjacent pair.
    adj = (
        toks_arr.filter(F.size("t") >= 2)
        .select(F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t")
        .select(
            F.element_at("t", F.col("i")).alias("prev"),
            F.element_at("t", F.col("i") + 1).alias("tok"),
        )
    )
    pairs = (
        adj.filter(
            (F.col("prev") != F.col("tok"))
            & F.col("prev").isin(node_list)
            & F.col("tok").isin(node_list)
        )
        .select(
            F.least("prev", "tok").alias("u"), F.greatest("prev", "tok").alias("v")
        )
    )
    wt = pairs.groupBy("u", "v").agg(F.count(F.lit(1)).cast("long").alias("w"))
    half_edges = [(r["u"], r["v"], int(r["w"])) for r in wt.collect()]
    edges: list[tuple[str, str, int]] = []
    for u, v, w in half_edges:
        edges.append((u, v, w))
        edges.append((v, u, w))
    wd: dict[str, int] = {}
    for u, _v, w in edges:
        wd[u] = wd.get(u, 0) + w
    rank = {t: 1_000_000 for t in node_list}
    for _ in range(TEXTRANK_ITERS):
        inc = {t: 0 for t in node_list}
        for u, v, w in edges:
            den = wd[u]
            inc[v] += (2 * rank[u] * 85 * w + 100 * den) // (200 * den)
        rank = {t: _TR_BASE + inc[t] for t in node_list}
    top = sorted(node_list, key=lambda t: (-rank[t], t))[:TEXTRANK_TOP]
    return spark.createDataFrame(
        [
            (t, i + 1, rank[t] / 1_000_000.0, wd.get(t, 0))
            for i, t in enumerate(top)
        ],
        "token string, rnk long, rank_score double, w_degree long",
    )


# ---------------------------------------------------------------------------
# X-4 (r11): Count-Min sketch with exact-vs-estimate calibration
# ---------------------------------------------------------------------------

#: CMS geometry — depth (independent hash rows) × width (buckets per row).
#: The sketch counts BIGRAMS (the fixture's unigram vocabulary is ~31
#: tokens — sketching it would be an identity check); bigram cardinality
#: (~10³) against width 64 makes the calibration genuinely exercise
#: collisions, the thing the op exists to measure.
CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_TOPK = 32


def _cms_oracle() -> str:
    from etl_active911_spark.operators.dedup import sql_hash60

    probe = sql_hash60("CAST(d.j AS STRING) || ':' || t.gram")
    row = sql_hash60("CAST(d.j AS STRING) || ':' || gram")
    return f"""
    WITH toks AS (
        SELECT doc_id, w, k FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS k
            FROM documents
        ) t WHERE w <> ''
    ),
    grams AS (
        SELECT w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY k)
                   AS gram
        FROM toks QUALIFY LEAD(w) OVER (PARTITION BY doc_id ORDER BY k)
                   IS NOT NULL
    ),
    depths AS (SELECT unnest(range({CMS_DEPTH})) AS j),
    counters AS (
        SELECT d.j AS j, ({row}) % {CMS_WIDTH} AS bucket,
               COUNT(*) AS cnt
        FROM grams CROSS JOIN depths d
        GROUP BY 1, 2
    ),
    topk AS (
        SELECT gram, COUNT(*) AS exact
        FROM grams GROUP BY gram
        ORDER BY exact DESC, gram LIMIT {CMS_TOPK}
    )
    SELECT t.gram,
           CAST(t.exact AS BIGINT) AS exact_count,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.cnt) - t.exact AS BIGINT) AS overestimate
    FROM topk t
    CROSS JOIN depths d
    JOIN counters c
      ON c.j = d.j AND c.bucket = ({probe}) % {CMS_WIDTH}
    GROUP BY t.gram, t.exact
    """


@query("x4_countmin_sketch", _cms_oracle())
def x4_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r11): COUNT-MIN SKETCH CALIBRATION (Cormode & Muthukrishnan,
    J. Algorithms 2005) — THE mergeable fixed-memory sketch for n-gram/
    URL/entity frequencies at stream scale: d×w counters (4×64 here),
    each bigram bumping one bucket per hash row, point estimate = MIN
    across rows (one-sided: never an underestimate). This op builds the
    sketch AS AGGREGATES over corpus bigrams, then scores it against
    exact counts on the frequency head — the overestimate column is the
    measured collision mass that tells an operator whether a chosen
    width survives their tail-frequency cutoff; the same
    estimate-vs-truth evidence pattern as ``x2_minhash_estimate``.

    Determinism: bucket hashes are ``token_hash60`` of ``'j:' || gram``
    (rule-10 cross-engine md5), so Spark and DuckDB build byte-identical
    counter matrices; bigrams pair via lead() over (doc, position) — the
    ``x4_pmi_bigrams`` construction; the top-K probe set ties on
    (exact DESC, gram).

    Scale shape: the sketch is ONE hash aggregate with d·w = 256 groups
    — map-side partials reduce each executor's gram stream to ≤256 rows
    before the exchange, the textbook mergeability argument (and why CMS
    beats exact vocabulary counting at 100 TB: sketch state is CONSTANT,
    not vocabulary-sized; sketches from shards/days merge by cell-wise
    addition). The d-fold fan-out is a bounded literal explode (no
    join); the probe assembly is broadcast equi-joins over ≤256- and
    ≤K·d-row tables. The exact leg exists only because this is the
    calibration op; production reads the sketch alone."""
    from etl_active911_spark.plans.cache import scoped_persist

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    # bigram pairing ARRAY-SIDE (r15 optimization round): array_remove
    # drops the empty tokens natively (codegen, not an interpreted
    # lambda), and element_at over an exploded index pairs neighbors
    # without the lead() window the first cut used — that window SORTED
    # the whole corpus token stream by (doc_id, position) for nothing
    # the explode order doesn't already give. Same gram multiset by
    # construction (A/B-verified, 931 distinct grams, identical result);
    # bench-contract median 4.4 -> 1.6 s quiet.
    t = F.array_remove(F.split("text", " "), "")
    grams = (
        docs.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t")
        .select(
            F.concat_ws(
                " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
            ).alias("gram")
        )
    )
    # the tokenize gram pipeline feeds BOTH the counter aggregate
    # and the exact top-K leg (rule 17: shared subtree -> scoped_persist)
    return countmin_calibration(
        scoped_persist("x4_countmin_sketch.grams", grams)
    )


def cms_keyed(grams: DataFrame) -> DataFrame:
    """(j, bucket) cell key per gram occurrence × depth row — the shared
    projection under the batch sketch, the probe side, and the streaming
    twin (tests/test_streaming.py: the same aggregate run as a Structured
    Streaming stateful aggregation accumulates the identical matrix)."""
    from etl_active911_spark.operators.dedup import token_hash60

    depth = F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j")
    bucket = (
        token_hash60(
            F.concat(F.col("j").cast("string"), F.lit(":"), F.col("gram"))
        )
        % CMS_WIDTH
    )
    return grams.select("*", depth).select("*", bucket.alias("bucket"))


def countmin_calibration(grams: DataFrame) -> DataFrame:
    """Core of ``x4_countmin_sketch`` over an arbitrary single-column
    ``gram`` frame — split out so crafted corpora pin the counter
    arithmetic against an independent Python md5 replica in pytest."""
    counters = (
        cms_keyed(grams)
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    topk = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.col("exact").desc(), "gram")
        .limit(CMS_TOPK)
    )
    probe = cms_keyed(topk)
    est = (
        probe.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("gram", "exact")
        .agg(F.min("cnt").alias("estimate"))
    )
    return est.select(
        "gram",
        F.col("exact").cast("bigint").alias("exact_count"),
        F.col("estimate").cast("bigint").alias("cms_estimate"),
        (F.col("estimate") - F.col("exact")).cast("bigint").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# X-4t (r12): normalization-gain audit — what each normalization stage
# buys the deduplicator
# ---------------------------------------------------------------------------

# ASCII punctuation to strip at the most aggressive stage. Enumerated
# literally (no ranges, no [, ], \, ') so Java regex and RE2 parse the
# class identically and the text embeds in single-quoted SQL unchanged.
_NORM_PUNCT_CLASS = '[!"#$%&()*+,./:;<=>?@^_{|}~-]'

_NORM_GAIN_ORACLE = f"""
    WITH aug AS (
        SELECT source, text AS t FROM documents
        UNION ALL
        SELECT source, UPPER(text) FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT source, regexp_replace(text, ' ', '  ', 'g')
        FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT source, text || ' !!!' FROM documents WHERE doc_id % 11 = 0
    ),
    stages AS (
        SELECT source,
               md5(t) AS m0,
               md5(LOWER(t)) AS m1,
               md5(TRIM(regexp_replace(LOWER(t), '\\s+', ' ', 'g'))) AS m2,
               md5(TRIM(regexp_replace(
                   regexp_replace(
                       TRIM(regexp_replace(LOWER(t), '\\s+', ' ', 'g')),
                       '{_NORM_PUNCT_CLASS}', '', 'g'),
                   '\\s+', ' ', 'g'))) AS m3
        FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT m0) AS BIGINT) AS d_raw,
           CAST(COUNT(DISTINCT m1) AS BIGINT) AS d_casefold,
           CAST(COUNT(DISTINCT m2) AS BIGINT) AS d_wscollapse,
           CAST(COUNT(DISTINCT m3) AS BIGINT) AS d_punctstrip,
           CAST(COUNT(DISTINCT m0) - COUNT(DISTINCT m1) AS BIGINT) AS casefold_gain,
           CAST(COUNT(DISTINCT m1) - COUNT(DISTINCT m2) AS BIGINT) AS ws_gain,
           CAST(COUNT(DISTINCT m2) - COUNT(DISTINCT m3) AS BIGINT) AS punct_gain
    FROM stages
    GROUP BY source
    """


@query("x4_normalization_gain", _NORM_GAIN_ORACLE)
def x4_normalization_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r12): stage-wise normalization-gain audit — the pipeline
    decision "is casefolding / whitespace collapsing / punctuation
    stripping worth running before exact dedup?" quantified as the extra
    documents each successive stage collapses, per source. The fixture
    corpus has no natural case/spacing variants, so variants are INJECTED
    identically in both engines (the ``x4_pii_redact`` injection
    discipline): every ``doc_id % 11 = 0`` document contributes an
    UPPER-cased copy (collapses at the casefold stage), a double-spaced
    copy (collapses at the whitespace stage), and a punctuation-appended
    copy (collapses only at the punctuation stage). Spark injects via a
    single-scan ``explode`` (no self-join, CLAUDE.md rule 29); the oracle
    uses UNION ALL (row-set identical).

    Scale shape: each stage is hashed to md5 scan-side, so DISTINCT
    counting shuffles 32-byte digests, never document text (the
    ``x1_exact_dedup`` rule); the multi-distinct aggregate Expands to
    4 hash rows per document — still hash-width, and the group key
    (source) is low-cardinality. Stages are cumulative (casefold →
    +collapse/trim → +punct-strip then re-collapse), so gains are
    non-negative by construction."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    variants = F.when(
        F.col("doc_id") % 11 == 0,
        F.array(
            F.col("text"),
            F.upper("text"),
            F.regexp_replace("text", " ", "  "),
            F.concat(F.col("text"), F.lit(" !!!")),
        ),
    ).otherwise(F.array(F.col("text")))
    aug = docs.select("source", F.explode(variants).alias("t"))
    lower = F.lower("t")
    ws = F.trim(F.regexp_replace(lower, r"\s+", " "))
    punct = F.trim(
        F.regexp_replace(F.regexp_replace(ws, _NORM_PUNCT_CLASS, ""), r"\s+", " ")
    )
    staged = aug.select(
        "source",
        F.md5(F.col("t")).alias("m0"),
        F.md5(lower).alias("m1"),
        F.md5(ws).alias("m2"),
        F.md5(punct).alias("m3"),
    )
    agg = staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("m0").cast("bigint").alias("d_raw"),
        F.countDistinct("m1").cast("bigint").alias("d_casefold"),
        F.countDistinct("m2").cast("bigint").alias("d_wscollapse"),
        F.countDistinct("m3").cast("bigint").alias("d_punctstrip"),
    )
    return agg.select(
        "source",
        "n_rows",
        "d_raw",
        "d_casefold",
        "d_wscollapse",
        "d_punctstrip",
        (F.col("d_raw") - F.col("d_casefold")).cast("bigint").alias("casefold_gain"),
        (F.col("d_casefold") - F.col("d_wscollapse")).cast("bigint").alias("ws_gain"),
        (F.col("d_wscollapse") - F.col("d_punctstrip")).cast("bigint").alias("punct_gain"),
    )


# ---------------------------------------------------------------------------
# X-4u (r12): tokenizer fertility by predicted language
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
    WITH t AS (
        SELECT lang,
               CAST(len(regexp_extract_all(LOWER(text),
                   '{BPE_ISH_PATTERN.replace(chr(39), chr(39) * 2)}')) AS BIGINT)
                   AS n_bpe,
               CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
                   AS n_ch
        FROM documents
    ),
    g AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
               CAST(SUM(n_ch) AS BIGINT) AS n_chars
        FROM t GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens, n_chars,
           CASE WHEN n_chars = 0 THEN NULL
                ELSE CAST((2::HUGEINT * n_tokens * 100000000 + n_chars)
                          // (2::HUGEINT * n_chars) AS BIGINT)
           END AS fertility_micro
    FROM g
    """


@query("x4_fertility_by_lang", _FERTILITY_ORACLE)
def x4_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r12): tokenizer fertility per language — BPE-ish tokens per
    100 non-whitespace characters, the per-language tokenizer-cost lens a
    multilingual mixture planner reads before setting sampling weights (a
    language whose fertility is 2x pays 2x the context budget per
    character). Grouped by the LABELED ``lang`` column: the raw
    synthetic corpus is degenerate for the ``x4_lang_id`` stopword
    heuristic (off the r13 injection slice every doc argmaxes to 'en' —
    pinned in tests/test_langid_injection.py), and this query reads the
    RAW text, so predicted-language grouping would mix the degenerate
    column in; on a real corpus the same aggregate composes with any
    classifier output. Token counts are the shared ``BPE_ISH_PATTERN``
    (``x4_bpe_token_count``), so the two queries report one consistent
    story — and the zh rows genuinely differ (no whitespace → long
    unsegmented runs, the fertility outlier this lens exists to catch).

    Fertility is a ratio of two corpus sums → rule-26/27 arithmetic:
    exact BIGINT sums, half-up division in micro-units performed in
    128-bit space (DECIMAL(38,0) / HUGEINT — the numerator is
    2·tokens·10^8, which overflows int64 at ~4.6e10 corpus tokens, i.e.
    well inside 100 TB scale). Non-negative operands, so truncating
    ``div`` == floor on both engines (rule 28 n/a).

    Scale shape: one scan → per-doc scores in codegen → one partial+final
    hash aggregate on a ≤5-value key. No joins, no UDFs."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.regexp_count(F.lower("text"), F.lit(BPE_ISH_PATTERN)).cast("bigint").alias("n_bpe"),
        F.length(F.regexp_replace("text", r"\s", "")).cast("bigint").alias("n_ch"),
    )
    g = (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("n_tokens"),
            F.sum("n_ch").cast("bigint").alias("n_chars"),
        )
    )
    fert = F.expr(
        "CAST((CAST(n_tokens AS DECIMAL(38,0)) * 200000000 + n_chars)"
        " div (CAST(n_chars AS DECIMAL(38,0)) * 2) AS BIGINT)"
    )
    return g.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.when(F.col("n_chars") == 0, F.lit(None).cast("bigint"))
        .otherwise(fert)
        .alias("fertility_micro"),
    )


# ---------------------------------------------------------------------------
# X-4v (r12): PII gate — per-doc verdicts + per-source release accounting
# (batch fold of streaming/pii_ingest.py)
# ---------------------------------------------------------------------------

#: quarantine threshold hoisted to functions/textpat.py (leaf module,
#: with the PII patterns); re-exported here for existing call sites
from etl_active911_spark.functions.textpat import PII_QUARANTINE_MIN  # noqa: E402


def pii_aug_text() -> Column:
    """The PII fixture injection as a TEXT column over (doc_id, text)
    rows — the Spark twin of ``textpat.pii_aug_cte`` (single source for
    the injected string; consumed by ``pii_verdict_rows`` and the
    composed ingest funnel, which must scrub the SAME arriving text the
    gate counts)."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 != 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" ssn 987-65-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
    )


def pii_verdict_rows(docs: DataFrame) -> DataFrame:
    """Per-document PII verdict over (doc_id, source, text) rows: the
    ``x4_pii_redact`` injection + counting (same _PII_* patterns), plus
    the gate decision — ``quarantined = 1`` iff total matches ≥
    PII_QUARANTINE_MIN (dense-PII documents go to manual scrubbing; the
    rest are safe to auto-redact). Shared by the registered batch fold
    (``x4_pii_gate``) and the at-ingest stream
    (``streaming/pii_ingest.py``) so the threshold and patterns cannot
    drift — the ``train_contamination_rows`` discipline. Pure per-row
    function: no shuffle, no state."""
    aug = pii_aug_text()

    from etl_active911_spark.functions.textpat import pii_n_matches_col

    counted = docs.select("doc_id", "source", aug.alias("aug")).select(
        "doc_id",
        "source",
        pii_n_matches_col(F.col("aug"), _PII_EMAIL).alias("n_emails"),
        pii_n_matches_col(F.col("aug"), _PII_PHONE).alias("n_phones"),
        pii_n_matches_col(F.col("aug"), _PII_SSN).alias("n_ssns"),
    )
    total = F.col("n_emails") + F.col("n_phones") + F.col("n_ssns")
    return counted.select(
        "*",
        F.when(total >= PII_QUARANTINE_MIN, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("quarantined"),
    )


_PII_GATE_ORACLE = f"""
    WITH {pii_aug_cte()},
    c AS (
        SELECT source,
               {pii_n_matches_sql("aug", _PII_EMAIL)} AS ne,
               {pii_n_matches_sql("aug", _PII_PHONE)} AS np,
               {pii_n_matches_sql("aug", _PII_SSN)} AS ns
        FROM aug
    ),
    v AS (
        SELECT source, ne, np, ns,
               CASE WHEN ne + np + ns >= {PII_QUARANTINE_MIN} THEN 1 ELSE 0 END AS q
        FROM c
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q) AS BIGINT) AS n_quarantined,
           CAST(COUNT(*) - SUM(q) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN q = 0 THEN ne ELSE 0 END) AS BIGINT) AS admitted_emails,
           CAST(SUM(CASE WHEN q = 0 THEN np ELSE 0 END) AS BIGINT) AS admitted_phones,
           CAST(SUM(CASE WHEN q = 0 THEN ns ELSE 0 END) AS BIGINT) AS admitted_ssns
    FROM v
    GROUP BY source
    """


@query("x4_pii_gate", _PII_GATE_ORACLE)
def x4_pii_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r12): the PII RELEASE ACCOUNTING a data release owes its
    audit trail — per source: documents quarantined for manual scrubbing
    (≥ PII_QUARANTINE_MIN matches) vs admitted to auto-redaction, and
    the admitted docs' residual match counts (the redaction workload).
    Batch fold of the at-ingest gate (``streaming/pii_ingest.py``): both
    ride ``pii_verdict_rows``, and the verdict is a pure per-row
    function, so the stream's emitted verdicts aggregate to exactly this
    query for ANY arrival split (pinned in tests/test_pii_ingest.py).

    Scale shape: one scan → per-row regex counts in codegen → one
    partial+final hash aggregate on the low-cardinality source key."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    v = pii_verdict_rows(docs)
    admitted = F.col("quarantined") == 0
    return v.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("quarantined").cast("bigint").alias("n_quarantined"),
        (F.count(F.lit(1)) - F.sum("quarantined")).cast("bigint").alias("n_admitted"),
        F.sum(F.when(admitted, F.col("n_emails")).otherwise(0)).cast("bigint").alias("admitted_emails"),
        F.sum(F.when(admitted, F.col("n_phones")).otherwise(0)).cast("bigint").alias("admitted_phones"),
        F.sum(F.when(admitted, F.col("n_ssns")).otherwise(0)).cast("bigint").alias("admitted_ssns"),
    )


# ---------------------------------------------------------------------------
# X-4w (r12): oracled accuracy companion for the rows-only zlib ratio
# (the n4/n5 error-bound pattern applied to the compression detector)
# ---------------------------------------------------------------------------

_ZLIB_BOUND_SQL = (
    "CAST(n_bytes + n_bytes // 4096 + n_bytes // 16384"
    " + n_bytes // 33554432 + 13 AS BIGINT)"
)


@query(
    "x4_compression_bound",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents WHERE octet_length(encode(text)) > 0
    )
    SELECT doc_id, n_bytes,
           {_ZLIB_BOUND_SQL} AS bound_bytes,
           TRUE AS within_bound
    FROM b
    """,
)
def x4_compression_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-4 (r12): ORACLED accuracy contract for the rows-only
    ``x4_compression_ratio`` — the n4/n5 error-bound pattern (VERDICT
    r11 item 5): per document, the actual zlib-6 output must sit within
    zlib's published ``compressBound`` worst case
    (n + n/2¹² + n/2¹⁴ + n/2²⁵ + 13 — deflate's stored-block overhead
    envelope, public zlib.h). The oracle predicts the bound closed-form
    from the byte length and asserts ``within_bound`` — a zlib path that
    ever exceeded its own bound (wrong level plumbing, double encoding,
    truncated output misread as success) red-rows the driver hash, which
    turns the rows-only compressor into a hash-checked contract.

    Scale shape: identical to the ratio query — one Arrow-batched
    pandas_udf pass, bound arithmetic in codegen, no shuffle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _z_bytes(texts):
        import zlib

        return texts.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)))

    _z_bytes.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    z_bytes = pandas_udf(_z_bytes, "long")

    docs = spread(read_table(spark, sf_dir, "documents"))
    b = docs.select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        z_bytes(F.col("text")).alias("zl"),
    ).filter(F.col("n_bytes") > 0)
    bound = F.expr(
        "CAST(n_bytes + n_bytes div 4096 + n_bytes div 16384"
        " + n_bytes div 33554432 + 13 AS BIGINT)"
    )
    return b.select(
        "doc_id",
        "n_bytes",
        bound.alias("bound_bytes"),
        (F.col("zl") <= bound).alias("within_bound"),
    )
