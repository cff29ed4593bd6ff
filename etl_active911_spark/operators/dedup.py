"""Deduplication operators for LLM training-data pipelines (X-1, X-2).

Designed for 100 TB: every algorithm shuffles on a *small derived key*
(content hash, band hash, token), never cross-joins raw text, and keeps all
hot-path arithmetic JVM-side (built-in higher-order functions — no Python
UDFs). Candidate generation (LSH banding / posting-list joins) bounds pair
enumeration; exact verification runs only on candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_active911_spark.io import read_table, spread
from etl_active911_spark.plans.cache import fixture_memo, scoped_persist
from etl_active911_spark.plans.registry import query


def normalized_text(col: Column) -> Column:
    """Canonical text form shared by all dedup ops: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    return F.split(normalized_text(col), " ")


def token_hash60(col: Column) -> Column:
    """Shared 60-bit string hash: first 15 hex chars of md5, parsed base-16.

    md5 (not xxhash64) so DuckDB can reproduce the value exactly — this is
    what turns the sketch family (MinHash/SimHash) into hard oracle checks.
    60 bits because a 16-hex-char parse may exceed int64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_hash60(col: str) -> str:
    """DuckDB replica of ``token_hash60``: per-hex-char strpos arithmetic."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({col}), {j + 1}, 1)) - 1) * {16 ** (14 - j)}"
        for j in range(15)
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as distinct strings (JVM-side higher-order fns)."""
    toks = tokens(col)
    n = F.size(toks)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


# ---------------------------------------------------------------------------
# X-1: exact dedup
# ---------------------------------------------------------------------------


@query(
    "x1_exact_dedup",
    """
    WITH h AS (
        SELECT doc_id,
               sha256(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS content_hash
        FROM documents
    ),
    g AS (
        SELECT content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        FROM h GROUP BY content_hash
    )
    SELECT keeper_id AS doc_id, content_hash, n_copies FROM g
    """,
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-1: exact dedup via content hash. One shuffle, keyed by the 256-bit
    hash (never the text). Keeper = lowest doc_id; n_copies preserved for
    frequency-weighted sampling downstream."""
    # no spread(): one cheap hash pass per row — a repartition exchange of
    # the full text costs more than it buys (measured)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.sha2(normalized_text(F.col("text")), 256).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
    )


# ---------------------------------------------------------------------------
# X-2a: exact n-gram Jaccard via posting-list join (oracle-checkable)
# ---------------------------------------------------------------------------


@query(
    "x2_ngram_jaccard",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                      i -> array_to_string(t[i:i+2], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM toks
    ),
    postings AS (
        SELECT doc_id, lang, UNNEST(gs) AS g, len(gs) AS n_g FROM sh
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_g AS na, b.n_g AS nb, COUNT(*) AS inter
        FROM postings a JOIN postings b
          ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n_g, b.n_g
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM pair_inter
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
    """,
)
def x2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (exact variant): 3-shingle Jaccard over candidate pairs generated
    by a posting-list self-join (blocked by lang) — the scalable shape:
    pairs sharing no shingle are never enumerated, and the shuffle key is
    the shingle, not the document. At 100 TB add a document-frequency cut
    (drop shingles with df > threshold) to bound posting fan-out."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    postings = jaccard_postings(docs)
    a, b = postings.alias("a"), postings.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_g").alias("na"),
            F.col("b.n_g").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pair_inter.filter(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_with_df_cut(
    docs: DataFrame, threshold: float = 0.6, max_df: int | None = None
) -> DataFrame:
    """X-2 scale knob (round-1 docstring promise, now real): the exact
    posting-list Jaccard with a DOCUMENT-FREQUENCY CUT — shingles appearing
    in more than ``max_df`` documents (boilerplate, stop-phrases) are
    dropped from the posting lists BEFORE the self-join, bounding per-key
    fan-out: a shingle with df=d contributes O(d²) candidate pairs, so the
    hottest keys dominate the join at corpus scale.

    Semantics: denominators (per-doc shingle counts) are computed BEFORE
    the cut, so surviving pairs keep exact union sizes; intersections that
    existed only through dropped hot shingles are lost → Jaccard is
    understated for boilerplate-only pairs (the standard trade; with
    ``max_df=None`` output is bit-identical to ``x2_ngram_jaccard``,
    asserted in tests)."""
    postings = jaccard_postings(docs)
    if max_df is not None:
        hot = (
            postings.groupBy("lang", "g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("lang", "g")
        )
        postings = postings.join(hot, ["lang", "g"], "left_anti")
    a, b = postings.alias("a"), postings.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_g").alias("na"),
            F.col("b.n_g").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pair_inter.filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# X-2b: MinHash + LSH banding (the 100 TB path)
# ---------------------------------------------------------------------------

N_HASHES = 64
N_BANDS = 16  # 16 bands × 4 rows → catches Jaccard ≳ 0.5 with high recall
ROWS_PER_BAND = N_HASHES // N_BANDS


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, shingle) rows — the fully-codegen shingle path.

    Same shingle VALUES as ``shingles()`` (incl. the short-doc whole-text
    fallback) but NOT de-duplicated (min-hash is multiset-insensitive, so
    signatures are identical) and built without interpreted lambdas:
    ``explode(sequence)`` + ``element_at`` + ``concat_ws`` are all
    whole-stage-codegen, where the array-returning ``shingles()`` pays an
    interpreted ``transform(slice+array_join)`` per position — measured
    ~2× on the sf0.1 explode (SCALE.md invariant 3 applied to the one
    corpus-sized lambda that remained)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    pos = F.explode(F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))))
    with_pos = docs.select(
        F.col(id_col).alias("doc_id"),
        *extra_cols,
        toks.alias("__toks"),
        n.alias("__n"),
        pos.alias("i"),
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("__toks"), F.col("i") + j) for j in range(k)]
    )
    whole = F.array_join(F.col("__toks"), " ")
    return with_pos.select(
        "doc_id",
        *extra_cols,
        F.when(F.col("__n") >= k, gram).otherwise(whole).alias("shingle"),
    )


def jaccard_postings(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, lang, g, n_g) posting rows for the exact-Jaccard
    family, on the CODEGEN path: ``shingle_rows`` explode + keyed distinct
    aggregate + an exchange-free per-doc set-size window off the doc_id
    spread — replacing the array-returning ``shingles()`` projection,
    whose interpreted per-position transform dominated the posting cost
    (rule 1 / invariant 3; same fix as ``lsh_truth_pairs``, r10)."""
    return (
        shingle_rows(docs, extra_cols=("lang",))
        .groupBy("doc_id", "lang", "shingle")
        .agg(F.lit(1).alias("__one"))
        .select("doc_id", "lang", F.col("shingle").alias("g"))
        .withColumn("n_g", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )


# Universal-hash permutation family over the 60-bit md5 base hash:
# h_i(s) = (A[i]·(base(s) mod P) + B[i]) mod P with P = 2³¹−1 (prime).
# Constants are fixed (seeded) module-level literals injected into BOTH the
# Spark plan and the DuckDB oracle SQL, so the entire banded pipeline is
# bit-replicable outside Spark. A[i]·x < 2⁶² keeps every product inside
# int64 on both engines (DuckDB raises on overflow rather than wrapping).
MINHASH_P = 2147483647

def _mh_constants() -> tuple[list[int], list[int]]:
    import random

    rng = random.Random(42)
    return (
        [rng.randrange(1, MINHASH_P) for _ in range(N_HASHES)],
        [rng.randrange(0, MINHASH_P) for _ in range(N_HASHES)],
    )


_MH_A, _MH_B = _mh_constants()


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MinHash signatures as 64 flat columns h0..h63.

    Shape chosen for whole-stage codegen: explode shingles → one hash-
    aggregate with 64 ``min(...)`` expressions. (A higher-order-function
    formulation — transform/aggregate lambdas — is interpreted per element
    in Spark and measured ~100× slower here; flat aggregates stay in
    Tungsten.) Shuffle key = doc id; shuffle payload = one 8-byte base
    hash per shingle, not the shingle strings.

    One-hash trick: the variable-length shingle STRING is hashed exactly
    once (``token_hash60``); the 64 per-permutation values are affine
    transforms of that value mod P — a few ALU ops each — so per-shingle
    hash work is O(len + 64) instead of O(64·len). Unlike round 1's
    ``xxhash64(base, i)`` re-hash this family is replicable in plain SQL,
    which buys the full-pipeline DuckDB oracle below; min-wise uniformity
    of (a·x+b) mod P is the standard universal-hashing guarantee.
    """
    from etl_active911_spark.plans.cache import memo_cols

    exploded = shingle_rows(docs, id_col, text_col).select(
        "doc_id", (token_hash60(F.col("shingle")) % MINHASH_P).alias("x")
    )
    # The 64 UNALIASED min-expressions are a fixed tree (~256 py4j round
    # trips to build) shared by every minhash consumer — memoized per
    # CLAUDE.md rule 35. Aliases stay per-call: Alias mints its exprId
    # at construction, and plans that build signatures for TWO inputs
    # (incremental/drift) must not share alias exprIds (rule 29 class).
    exprs = memo_cols(
        "dedup.minhash_mins",
        lambda: [
            F.min((F.lit(_MH_A[i]) * F.col("x") + F.lit(_MH_B[i])) % MINHASH_P)
            for i in range(N_HASHES)
        ],
    )
    return exploded.groupBy("doc_id").agg(
        *[e.alias(f"h{i}") for i, e in enumerate(exprs)]
    )


def py_minhash(text: str):
    """Bit-exact Python replica of ``minhash_signatures`` for ONE document
    — the signature a STREAMING pipeline computes before a stateful
    operator (streaming/state_ingest.py), where the groupBy-shaped Spark
    form would itself be a second stateful aggregation (Spark rejects
    chaining it into ``applyInPandasWithState``).

    Replication notes (each the exact twin of the Spark column chain):
    - ``normalized_text``: Java ``\\s`` is ASCII-only ``[ \\t\\n\\x0b\\f\\r]``
      (Python ``\\s`` is Unicode-aware — NOT equivalent); Spark ``trim``
      strips only ' '.
    - ``token_hash60``: ``int(md5hex[:15], 16)`` (CLAUDE.md rule 10).
    - shingles: ``sequence(1, greatest(n-2, 1))`` ⇒ n-2 trigrams for
      n ≥ 3, else ONE whole-text shingle.
    - affine family: A[i]·x < 2⁶² keeps numpy int64 exact.
    Bit-equality vs the Spark plan is pinned over every fixture doc in
    tests/test_state_ingest.py.
    """
    import hashlib
    import re

    import numpy as np

    t = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
    toks = t.split(" ")
    n = len(toks)
    if n >= 3:
        shingles = [" ".join(toks[i : i + 3]) for i in range(n - 2)]
    else:
        shingles = [t]
    xs = np.fromiter(
        (
            int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
            for s in shingles
        ),
        dtype=np.int64,
        count=len(shingles),
    )
    a = np.asarray(_MH_A, dtype=np.int64)[:, None]
    b = np.asarray(_MH_B, dtype=np.int64)[:, None]
    return ((a * xs[None, :] + b) % MINHASH_P).min(axis=1)


#: Hot-bucket guard (VERDICT r04 item 2): a band bucket larger than this is
#: DROPPED from candidate generation. A bucket of n docs fans out n²/2
#: pairs, so one boilerplate flood (10⁵ identical licence pages share every
#: band) would emit ~10¹⁰ pairs from a single key. Recall note: pairs
#: colliding ONLY in a dropped bucket are lost — but buckets this hot are
#: (a) exact-duplicate floods, which ``near_dup_dedup`` removes BEFORE
#: minhash (the real fix — exact dups never reach LSH), or (b) massive
#: near-dup families whose members still collide pairwise in many other,
#: smaller buckets. 4096² / 2 ≈ 8.4 M pairs caps the worst per-key explode.
LSH_MAX_BUCKET = 4096


def lsh_band_rows(sigs: DataFrame, oracle_pure: bool = False) -> DataFrame:
    """(doc_id, band_key) rows — one per band per document.

    ``oracle_pure=False`` (default): band_key = ``xxhash64(band_idx,
    h…)`` — 8 bytes/row on the wire, the 100 TB shape (the banding shuffle
    carries N_BANDS fixed-width rows per document, independent of document
    size). A false xxhash64 collision can only ADD a candidate pair —
    identical band values always hash identically — and every candidate is
    exact-Jaccard-verified downstream, so results can differ from the
    string-keyed plan only if two docs with true jaccard ≥ threshold that
    share NO band collide by hash accident: P ≈ n_band_rows² / 2⁶⁴
    (equality property-tested against the pure plan in
    tests/test_lsh_hardening.py).

    ``oracle_pure=True``: the band-index-prefixed string join of the
    band's minhash values — bit-replicable in the DuckDB oracle SQL
    (which always uses this form)."""
    from etl_active911_spark.plans.cache import memo_cols

    if oracle_pure:
        key = lambda b: F.concat_ws(  # noqa: E731
            "|",
            F.lit(b),
            *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
        )
    else:
        key = lambda b: F.xxhash64(  # noqa: E731
            F.lit(b), *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        )
    # fixed N_BANDS-key explode argument, memoized (rule 35); the single
    # alias is minted per call
    arr = memo_cols(
        f"dedup.band_array.{oracle_pure}",
        lambda: F.array(*[key(b) for b in range(N_BANDS)]),
    )
    return sigs.select("doc_id", F.explode(arr).alias("band_key"))


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    oracle_pure: bool = False,
    max_bucket: int | None = LSH_MAX_BUCKET,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    signature → band key per ROWS_PER_BAND consecutive minhashes
    (``lsh_band_rows`` — compact 8-byte xxhash64 keys by default,
    oracle-replicable strings with ``oracle_pure=True``) → bucket per
    band key → within-bucket pair fan-out, skipping buckets larger than
    ``max_bucket`` (see ``LSH_MAX_BUCKET`` for the recall argument; the
    size filter runs on the aggregated list, so per-task memory holds one
    id array per bucket — 8 bytes/id — while the n² explode never fires
    for dropped buckets).

    Pass a precomputed (persisted) ``sigs`` table when the caller also
    consumes signatures itself — otherwise the corpus signature pipeline,
    the dominant cost, would execute once per consumer (rule 17).
    """
    if sigs is None:
        sigs = minhash_signatures(docs, id_col, text_col)
    bands = lsh_band_rows(sigs, oracle_pure)
    # bucket-and-explode, NOT a self-join: a self-join evaluates the whole
    # signature pipeline once per side (Spark cannot reuse an exchange
    # across a broadcast boundary — measured ~2x the signature cost, r4).
    # Grouping on the band key computes signatures ONCE; within-bucket
    # pair fan-out is the same n²-per-bucket work the join did, on doc-id
    # lists that are near-dup-group-sized.
    size_ok = F.size("ids") >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size("ids") <= max_bucket)
    buckets = (
        bands.groupBy("band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(size_ok)
        .select("ids")
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


# Full-pipeline DuckDB oracle (round 2): replicates signatures (md5-60bit
# base → 64 affine permutations mod P → MIN), index-prefixed band keys,
# the candidate self-join, and exact-Jaccard verification — bit-for-bit
# the same algorithm, so even the LSH *misses* must agree. Signatures use
# the DEDUPED shingle list (min over a multiset == min over its set).
_MINHASH_SIG_SQL = ", ".join(
    f"MIN(({_MH_A[i]} * x + {_MH_B[i]}) % {MINHASH_P}) AS h{i}" for i in range(N_HASHES)
)
_MINHASH_BAND_SQL = ", ".join(
    "'{b}|' || ".format(b=b)
    + " || '|' || ".join(
        f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    )
    for b in range(N_BANDS)
)
# CTE chain shared with the x2_dup_clusters oracle (clustering.py), which
# appends a recursive connected-components walk on top of `verified`.
MINHASH_CTES = f"""toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                      i -> array_to_string(t[i:i+2], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM toks
    ),
    postings AS (
        SELECT doc_id, UNNEST(gs) AS g FROM sh
    ),
    xs AS (
        SELECT doc_id, ({sql_hash60("g")}) % {MINHASH_P} AS x FROM postings
    ),
    sigs AS (
        SELECT doc_id, {_MINHASH_SIG_SQL} FROM xs GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, UNNEST([{_MINHASH_BAND_SQL}]) AS band_key FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
                 / (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))) AS jac
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    )"""

_MINHASH_ORACLE = f"""
    WITH {MINHASH_CTES}
    SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
    FROM verified WHERE jac >= 0.5
    """


_MINHASH_EST_NEQ_SQL = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)

_MINHASH_EST_ORACLE = f"""
    WITH {MINHASH_CTES},
    vp AS (
        SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
        FROM verified WHERE jac >= 0.5
    ),
    est AS (
        SELECT v.doc_a, v.doc_b, v.jaccard,
               ({_MINHASH_EST_NEQ_SQL}) AS n_eq
        FROM vp v
        JOIN sigs a ON a.doc_id = v.doc_a
        JOIN sigs b ON b.doc_id = v.doc_b
    )
    SELECT doc_a, doc_b, jaccard,
           CAST(n_eq AS BIGINT) AS n_matching_hashes,
           ROUND(CAST(n_eq AS DOUBLE) / {N_HASHES}, 6) AS est_jaccard,
           ROUND(ABS(CAST(n_eq AS DOUBLE) / {N_HASHES} - jaccard), 6) AS abs_err
    FROM est
    """


@query("x2_minhash_estimate", _MINHASH_EST_ORACLE)
def x2_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r9): SKETCH-ACCURACY EVAL — the MinHash estimator itself
    under test: for every verified near-dup pair, the signature-space
    Jaccard estimate (fraction of the 64 minhashes that agree — the
    textbook unbiased estimator, MMDS ch.3) next to the exact Jaccard,
    with the absolute error. ``x2_lsh_tuning`` publishes the THEORETICAL
    S-curve; this measures the sketch's EMPIRICAL accuracy on real
    pairs — the number one consults before shrinking (or growing) the
    signature budget at 100 TB, where signature width is a direct
    storage/shuffle multiplier.

    Exactness: the estimate is n_eq/64 (exact dyadic double), the exact
    jaccard is the ROUNDED published value, and the error subtracts
    those two — no raw-float boundary in any output (rule 4).

    Scale shape: pairs come from the memoized cross-query pair graph
    (``shared_verified_pairs`` — rule 25); signatures are computed ONLY
    for pair members (semi-join first) and the small signature table is
    scoped_persist'd because it joins once per pair side (rule 18 —
    broadcast joins would otherwise evaluate the signature subtree
    twice)."""
    from etl_active911_spark.plans.cache import memo_cols

    pairs, a, b = _pair_member_sigs(spark, sf_dir)

    def build_n_eq():
        n = None
        for i in range(N_HASHES):
            term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            n = term if n is None else n + term
        return n

    # same fixed unaliased tree as signature_agreement_pairs (rule 35)
    n_eq = memo_cols("dedup.sig_agreement_n_eq", build_n_eq)
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_eq.cast("bigint").alias("n_matching_hashes"),
            F.round(n_eq.cast("double") / N_HASHES, 6).alias("est_jaccard"),
            F.round(
                F.abs(n_eq.cast("double") / N_HASHES - F.col("jaccard")), 6
            ).alias("abs_err"),
        )
    )


def _pair_member_sigs(spark: SparkSession, sf_dir: str):
    """(pairs, a, b): the memoized verified-pair graph plus the pair
    members' minhash signatures aliased per side — shared by the
    signature-accuracy evals (x2_minhash_estimate, x2_bbit_minhash).
    Member signatures are a semi-join OF the session-wide
    ``shared_minhash_sigs`` memo (r12 — previously recomputed from text
    per eval); scoped_persist'd because the small member table joins
    once per pair side (rule 18)."""
    pairs = shared_verified_pairs(spark, sf_dir)
    member_ids = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sigs = scoped_persist(
        "x2_minhash_estimate.sigs",
        shared_minhash_sigs(spark, sf_dir).join(member_ids, "doc_id", "left_semi"),
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)]
    )
    return pairs, a, b


#: streaming-gate decision threshold: signature agreement ≥ 32/64, i.e.
#: estimated Jaccard ≥ 0.5 — matched to the banding's design threshold
NEARDUP_TAU_EQ = 32

_STREAM_NEARDUP_ORACLE = f"""
    WITH {MINHASH_CTES},
    est AS (
        SELECT c.doc_a, c.doc_b, ({_MINHASH_EST_NEQ_SQL}) AS n_eq
        FROM cand c
        JOIN sigs a ON a.doc_id = c.doc_a
        JOIN sigs b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_eq AS BIGINT) AS n_matching_hashes,
           ROUND(CAST(n_eq AS DOUBLE) / {N_HASHES}, 6) AS est_jaccard
    FROM est WHERE n_eq >= {NEARDUP_TAU_EQ}
    """


@query("x2_stream_neardup", _STREAM_NEARDUP_ORACLE)
def x2_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r11): the BATCH EQUIVALENT of the streaming near-dup gate
    (``streaming/neardup_ingest.py``): LSH candidates decided by
    SIGNATURE AGREEMENT alone (n_eq ≥ NEARDUP_TAU_EQ of 64 — estimated
    Jaccard ≥ 0.5), no exact-Jaccard verification — because the
    streaming gate never holds raw text, only sketches. Where
    ``x2_minhash_lsh`` publishes exact-verified pairs, this publishes
    the sketch-decided ones — the honest contract for dedup-at-ingest,
    whose accuracy against exact Jaccard is exactly what
    ``x2_minhash_estimate`` measures. Every emitted pair is discovered
    exactly once by the stream (when its later member arrives; band
    membership is append-only), so the stream's union of emissions
    equals this query for every arrival split in which no band bucket
    ever exceeds ``LSH_MAX_BUCKET`` — beyond the cap the stream has
    already emitted the pairs it discovered while the bucket was small
    and cannot retract them, so it emits a prefix-discovered SUBSET of
    nothing (the batch fold drops the whole flooded bucket); both
    regimes are pinned in
    tests/test_streaming.py::test_neardup_stream_matches_batch and
    ::test_neardup_stream_flood_guard_total_size.

    Scale shape: ONE memoized corpus signature pass
    (``shared_minhash_sigs`` — rule 25, VERDICT r11 item 3: this is the
    same 64-hash sketch the whole minhash family derives) feeds the
    banding AND both sides of the agreement join; candidates via the
    join-free bucket-and-explode (rule 18) with the LSH_MAX_BUCKET flood
    guard (a calibrated no-op on the fixtures, pinned in
    test_lsh_hardening.py — the oracle's cand CTE is uncapped). The
    memoized table is 64 longs per doc — the same constant-per-doc
    state the streaming gate stores."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    sigs = shared_minhash_sigs(spark, sf_dir)
    cands = lsh_candidate_pairs(docs, sigs=sigs)
    return signature_agreement_pairs(cands, sigs)


def signature_agreement_pairs(cands: DataFrame, sigs: DataFrame) -> DataFrame:
    """Decide candidate pairs by signature agreement: (doc_a, doc_b,
    n_matching_hashes, est_jaccard) rows where n_eq ≥ ``NEARDUP_TAU_EQ``
    of N_HASHES — the SINGLE definition of the sketch-only dedup verdict,
    shared by the batch equivalent (``x2_stream_neardup``), the streaming
    gate (streaming/neardup_ingest.py), and the stream≡batch pin, so the
    threshold/estimator cannot drift between them."""
    from etl_active911_spark.plans.cache import memo_cols

    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )

    def build_n_eq():
        n = None
        for i in range(N_HASHES):
            term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            n = term if n is None else n + term
        return n

    # unaliased fixed comparison tree, memoized (rule 35); the a*/b*
    # alias lists above stay per-call — their exprIds must be fresh
    n_eq = memo_cols("dedup.sig_agreement_n_eq", build_n_eq)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_eq.cast("bigint").alias("n_matching_hashes"),
            F.round(n_eq.cast("double") / N_HASHES, 6).alias("est_jaccard"),
        )
        .filter(F.col("n_matching_hashes") >= NEARDUP_TAU_EQ)
    )


_BBIT_EQ_SQL = " + ".join(
    f"(CASE WHEN a.h{i} % 2 = b.h{i} % 2 THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)

_BBIT_ORACLE = f"""
    WITH {MINHASH_CTES},
    vp AS (
        SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
        FROM verified WHERE jac >= 0.5
    ),
    est AS (
        SELECT v.doc_a, v.doc_b, v.jaccard,
               ({_BBIT_EQ_SQL}) AS n_eq
        FROM vp v
        JOIN sigs a ON a.doc_id = v.doc_a
        JOIN sigs b ON b.doc_id = v.doc_b
    )
    SELECT doc_a, doc_b, jaccard,
           CAST(n_eq AS BIGINT) AS n_matching_bits,
           ROUND(GREATEST(CAST(0.0 AS DOUBLE),
                          2.0 * n_eq / {N_HASHES} - 1.0), 6) AS est_jaccard_1bit,
           ROUND(ABS(GREATEST(CAST(0.0 AS DOUBLE),
                              2.0 * n_eq / {N_HASHES} - 1.0) - jaccard), 6)
               AS abs_err
    FROM est
    """


@query("x2_bbit_minhash", _BBIT_ORACLE)
def x2_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r10): b-BIT MINHASH (b=1; Li & König, WWW 2010) — the
    64×-storage-compression question ``x2_minhash_estimate`` sets up:
    keep only the LOWEST BIT of each of the 64 minhashes (64 bits/doc
    instead of 64 int64s) and estimate Jaccard from bit agreement with
    the b=1 estimator Ĵ = 2·A − 1 (A = matching-bit fraction; random
    non-matching minima agree with prob. ½, so agreement ½ + J/2 —
    clamped at 0). Emitted per verified pair next to the exact Jaccard:
    the error profile tells the 100 TB operator whether the 64× smaller
    sketch still separates the ≥0.5 dup band (storage and shuffle width
    are THE minhash cost at scale).

    Exactness: n_eq/64 terms are exact dyadic doubles and the published
    jaccard is pre-rounded, so no raw-float boundary (rule 4); the b=1
    bit is ``h % 2`` in both engines on identical int64 signatures.

    Scale shape: identical to x2_minhash_estimate (same memoized pair
    graph, same persisted member-only signature table — one computation
    per session for both evals)."""
    pairs, a, b = _pair_member_sigs(spark, sf_dir)
    n_eq = None
    for i in range(N_HASHES):
        term = F.when(F.col(f"a{i}") % 2 == F.col(f"b{i}") % 2, 1).otherwise(0)
        n_eq = term if n_eq is None else n_eq + term
    est = F.greatest(
        F.lit(0.0), F.lit(2.0) * n_eq.cast("double") / N_HASHES - F.lit(1.0)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_eq.cast("bigint").alias("n_matching_bits"),
            F.round(est, 6).alias("est_jaccard_1bit"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


def verified_near_dup_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    persist_key: str = "dedup.verified_pairs",
    oracle_pure: bool = False,
    max_bucket: int | None = LSH_MAX_BUCKET,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates → exact-Jaccard verification ≥ threshold.
    Input must carry (doc_id, text); returns (doc_a, doc_b, jaccard).
    ``sigs``: a precomputed/memoized signature table (doc_id, h0..h63)
    to band instead of recomputing the corpus signature pipeline."""
    # scoped_persist: the (tiny) pair list feeds BOTH the semi-join below
    # and the verification join — without materialization the whole
    # signature+band subtree evaluates twice (measured +50%). persist()
    # beats localCheckpoint here (A/B in plans/cache.py docstring: 2.74 s
    # vs 3.36 s eager / 4.61 s lazy fresh-session median at sf0.1 —
    # VERDICT r03 item 1); the scoped key bounds CacheManager growth to
    # one live entry across the parity sweep (ADVICE r02).
    cands = scoped_persist(
        persist_key,
        lsh_candidate_pairs(
            docs, oracle_pure=oracle_pure, max_bucket=max_bucket, sigs=sigs
        ),
    )
    # exact verification touches only docs that appear in a candidate pair
    # (semi-join first — shingle arrays for the other 99.9% of the corpus
    # are never materialized; at 100 TB candidates ≪ corpus by design)
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    # scoped_persist: sh feeds BOTH sides of the verification join, and
    # broadcast joins never reuse exchanges (CLAUDE.md rule 18) — without
    # materialization the semi-join + shingle subtree scans the corpus
    # once PER SIDE (r9 A/B at sf0.1: 3.44 s → 2.34 s median-of-5,
    # result-identical). The persisted set is candidate docs only (≪
    # corpus by the LSH design), so the cache entry is bounded.
    sh = scoped_persist(
        persist_key + ".sh",
        docs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", shingles(F.col("text")).alias("gs")
        ),
    )
    verified = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("gs", "gs_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("gs", "gs_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
            / F.size(F.array_union("gs_a", "gs_b")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


@query("x2_minhash_lsh", _MINHASH_ORACLE)
def x2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2: MinHash-LSH near-dup candidates, verified by exact Jaccard on
    the candidate set only. Returns (doc_a, doc_b, jaccard ≥ 0.5).

    Documents are spread BY doc_id (not round-robin): explode preserves
    hash partitioning, so the 64-min signature aggregate runs where the
    shingle rows already live — one exchange total instead of two, and
    one fewer stage barrier (r5; the oracle is unaffected — partitioning
    never changes values). Band keys are the compact xxhash64 form
    (``lsh_band_rows`` — collision-identical to the oracle's string keys
    modulo 2⁻⁶⁴ false positives, which exact verification absorbs).

    ``max_bucket=None`` (r6, ADVICE r05): the DuckDB oracle has no bucket
    cap, so the ORACLE-CHECKED entry must not silently drop pairs if a
    band bucket ever exceeds LSH_MAX_BUCKET under fixture growth. The cap
    stays on for the scale entry points (``near_dup_dedup``,
    ``x2_incremental_neardup``), whose contract documents it.

    Signatures come from the session-wide ``shared_minhash_sigs`` memo
    (VERDICT r11 item 3): the signature pipeline is this query's
    dominant cost and the identical sketch feeds x2_stream_neardup and
    the band-occupancy/incremental/estimate queries."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    return verified_near_dup_pairs(
        docs,
        persist_key="x2_minhash_lsh.cands",
        max_bucket=None,
        sigs=shared_minhash_sigs(spark, sf_dir),
    )


def shared_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``x2_minhash_lsh`` result, materialized once per (session, sf_dir)
    by the rule-25 ``fixture_memo`` (VERDICT r05 item 4): the pair graph
    is the shared upstream of the dedup family (x2_dup_clusters[_star],
    x2_graph_pagerank, x2_graph_triangles, x8_cluster_split, …), whose
    consumers are iterative loops or multi-leg joins that need its
    lineage truncated (rule 17); the pair list is tiny (≪ corpus).
    Rewriting ``documents.parquet`` invalidates the entry and releases
    its blocks (ADVICE r06)."""
    return fixture_memo(
        "dedup.verified_pairs", spark, sf_dir, lambda: x2_minhash_lsh(spark, sf_dir)
    )


def shared_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus 64-hash MinHash signature table (doc_id, h0..h63),
    materialized once per (session, sf_dir) — VERDICT r11 item 3: the
    signature pipeline (shingle explode → 64 flat min aggregates) is the
    dominant cost of the whole minhash family, and FOUR registered
    queries rebuilt it per call (``x2_minhash_lsh`` → every
    ``shared_verified_pairs`` consumer, ``x2_stream_neardup``,
    ``x2_incremental_neardup``, ``x2_minhash_band_occupancy``) plus the
    member-subset evals (``x2_minhash_estimate``/``x2_bbit_minhash``)
    which now semi-join from it. The table is one fixed-width row per
    document (65 longs, no text — the same constant-per-doc state the
    streaming gate stores), comfortably under the rule-25 smallness bar.

    Values are independent of partitioning and of the other rows
    (per-doc min over affine hashes), so every consumer is
    result-identical to its previous private rebuild."""
    return fixture_memo(
        "dedup.minhash_sigs",
        spark,
        sf_dir,
        lambda: minhash_signatures(
            spread(read_table(spark, sf_dir, "documents"), "doc_id")
        ),
    )


def shared_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) labels of the verified near-dup pair graph —
    the O(log n) star-contraction components over
    :func:`shared_verified_pairs`, materialized once per (session,
    sf_dir) via the rule-25 ``fixture_memo`` (ADVICE r11 item 2 /
    VERDICT r11 precedent: six registered queries rebuilt this exact
    iterative computation per call — cluster-size histogram, cluster
    template, overmerge audit, cluster split, dup-weighted mixture, and
    the curation funnels' non-keeper sets). The result is one row per
    clustered doc (≪ corpus), well under the memo's smallness bar, and
    the star loop's localCheckpoint discipline (rule 17) composes with
    the memo's own checkpoint."""
    from etl_active911_spark.operators.clustering import connected_components_star

    return fixture_memo(
        "dedup.component_labels",
        spark,
        sf_dir,
        lambda: connected_components_star(
            shared_verified_pairs(spark, sf_dir), key="dedup.component_labels"
        ),
    )


def near_dup_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """The 100 TB near-dup entry point: EXACT PRE-COLLAPSE, then MinHash.

    Returns ``(mapping, rep_pairs)``:
      * ``mapping`` — (doc_id, rep_id): every document mapped to the
        lowest-id member of its exact-duplicate class (content hash of
        the normalized text, the X-1 pass). Exact duplicates of the same
        text are near-dups at jaccard 1.0 BY CONSTRUCTION — no LSH
        needed to find them.
      * ``rep_pairs`` — (doc_a, doc_b, jaccard): verified near-dup pairs
        over the REPRESENTATIVES only.

    Why this is the scale shape (VERDICT r04 item 2): a boilerplate flood
    (10⁵ identical licence pages) puts 10⁵ identical signatures into
    every band bucket — one collect_list row holding 10⁵ ids and ~10¹⁰
    exploded pairs. Collapsing exact classes FIRST means LSH never sees
    the flood (one representative per class); jaccard between two docs
    equals jaccard between their representatives (identical normalized
    text ⇒ identical shingle sets), so cluster structure is preserved:
    components over ``rep_pairs`` + the exact classes in ``mapping``
    compose to the full-corpus components. The residual hot-bucket guard
    (``max_bucket``) stays on for near-identical-but-not-exact floods.

    Doc-level pair EXPANSION is deliberately not offered: an exact class
    of n docs implies n²/2 doc-level pairs — output-quadratic by nature.
    Downstream dedup wants clusters, and those come from (mapping,
    rep_pairs) in output-linear space."""
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("content_hash"),
    )
    groups = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("rep_id"))
    mapping = hashed.join(groups, "content_hash").select("doc_id", "rep_id")
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    reps = spread(
        base.join(groups.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"),
        "doc_id",
    )
    rep_pairs = verified_near_dup_pairs(
        reps,
        threshold=threshold,
        persist_key="near_dup_dedup.cands",
        max_bucket=max_bucket,
    )
    return mapping, rep_pairs


# ---------------------------------------------------------------------------
# X-2c: SimHash (Hamming-distance near-dup)
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # 15 hex chars of md5 — max width parseable to int64 on both engines
_SIMHASH_CHUNK = SIMHASH_BITS // 4  # 4 chunks × 15 bits for pigeonhole banding


def simhash_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: per-token 60-bit md5 hash, ±1 bit-voting.

    Explode + one hash-aggregate with 60 SUM(±1) expressions (codegen),
    then bit assembly in a single projection — no interpreted lambdas.
    The token is hashed ONCE; per-bit votes are ALU shifts of that value.
    """
    from etl_active911_spark.plans.cache import memo_cols

    toks = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok"))
    toks = toks.select("doc_id", token_hash60(F.col("tok")).alias("h"))
    # 60 vote-sums + the 60-term bit assembly are fixed trees (~900 py4j
    # round trips per call — 90% of x2_simhash's per-call wall was plan
    # build, BASELINE.md r14); memoized UNALIASED per rule 35, aliases
    # minted per call (rule 29 class)
    vote_exprs = memo_cols(
        "dedup.simhash_votes",
        lambda: [
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            )
            for b in range(SIMHASH_BITS)
        ],
    )
    votes = toks.groupBy("doc_id").agg(
        *[e.alias(f"v{b}") for b, e in enumerate(vote_exprs)]
    )

    def assemble():
        out = F.lit(0).cast("long")
        for b in range(SIMHASH_BITS):
            out = out + F.shiftleft(
                F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                b,
            )
        return out

    out = memo_cols("dedup.simhash_assemble", assemble)
    return votes.select("doc_id", out.alias("simhash"))


# Oracle: chunk banding is RECALL-EXACT for hamming ≤ 3 over 4 chunks
# (pigeonhole: 3 differing bits can dirty at most 3 chunks), so the banded
# Spark plan must equal the brute-force all-pairs filter — which is what
# the oracle computes, over bit-identical md5-derived signatures.
_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ),
    th AS (
        SELECT doc_id, {sql_hash60("tok")} AS h FROM toks
    ),
    votes AS (
        SELECT doc_id,
               {", ".join(f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(SIMHASH_BITS))}
        FROM th GROUP BY doc_id
    ),
    sim AS (
        SELECT doc_id,
               CAST({" + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS))} AS BIGINT) AS simhash
        FROM votes
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("x2_simhash", _SIMHASH_ORACLE)
def x2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2: SimHash near-dup candidates. Banding on 4×15-bit chunks bounds
    the self-join (a pair within Hamming distance 3 shares ≥1 exact chunk —
    pigeonhole); verification = popcount(xor) ≤ 3. The oracle brute-forces
    all pairs over the same signatures — banding must lose nothing."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    sh = simhash_table(docs)
    chunk_mask = (1 << _SIMHASH_CHUNK) - 1
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * _SIMHASH_CHUNK).bitwiseAND(F.lit(chunk_mask))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    # bucket-and-explode, NOT a self-join (rule 18): the chunk self-join
    # evaluated the whole simhash pipeline once PER SIDE when AQE chose a
    # broadcast build (no shuffle-to-shuffle exchange reuse). Grouping on
    # the chunk key computes signatures ONCE; the (doc_id, simhash)
    # structs of a bucket explode into ordered pairs in place. Same
    # hot-bucket guard as MinHash (LSH_MAX_BUCKET, VERDICT r04 item 2):
    # a flood of identical texts means identical simhashes in every
    # chunk bucket — exact pre-collapse (near_dup_dedup) is the real
    # fix, the cap bounds the n² explode for near-identical floods.
    buckets = (
        chunks.groupBy("chunk_idx", "chunk")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= LSH_MAX_BUCKET))
        .select("ms")
    )
    pairs = (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= 3)


# ---------------------------------------------------------------------------
# X-2d: benchmark decontamination + substring-level dedup (LLM pipeline)
# ---------------------------------------------------------------------------

EVAL_SOURCE = "src0"  # fixture stand-in for the held-out benchmark set


@query(
    "x2_decontaminate",
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               CASE WHEN len(t) >= 5
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
                                                      i -> array_to_string(t[i:i+4], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM toks
    ),
    train AS (SELECT doc_id, UNNEST(gs) AS g FROM sh WHERE source <> '{EVAL_SOURCE}'),
    eval_g AS (SELECT DISTINCT UNNEST(gs) AS g, doc_id AS eval_doc
               FROM sh WHERE source = '{EVAL_SOURCE}')
    SELECT t.doc_id, CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_overlap_grams,
           CAST(COUNT(DISTINCT e.eval_doc) AS BIGINT) AS n_eval_docs
    FROM train t JOIN eval_g e ON t.g = e.g
    GROUP BY t.doc_id
    """,
)
def x2_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (decontamination): flag training documents sharing any word
    5-gram with the held-out benchmark split (the standard open-LM
    eval-overlap rule). Posting-list equi-join keyed by the 5-gram — the
    same scalable shape as x2_ngram_jaccard; the (small) benchmark side's
    distinct grams broadcast at 100 TB, so the corpus is scanned once and
    never self-joined. Returns each contaminated doc with its overlap
    gram count and the number of benchmark docs hit."""
    # codegen shingle_rows, not the interpreted-lambda shingles() — this
    # explode is corpus-sized (SCALE.md invariant 3; measured 6.0 s → 3.1 s
    # at sf0.1).
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    # de-duplicate the corpus grams BEFORE the join (VERDICT r05 item 2):
    # the double COUNT(DISTINCT) after the join forces an Expand (2× rows)
    # + two-level aggregate, and feeding it the raw multiset shingle rows
    # multiplied by the eval join made that the plan's dominant cost. A
    # (doc_id, g) distinct here runs with map-side partial aggregation on
    # the doc_id-preserved partitioning (spread by doc_id → the explode is
    # narrow → exchange-free), shrinks the join probe side, and leaves the
    # Expand only the (already distinct) overlap triples.
    train = (
        shingle_rows(docs.filter(F.col("source") != EVAL_SOURCE), k=5)
        .withColumnRenamed("shingle", "g")
        .distinct()
    )
    eval_g = (
        shingle_rows(docs.filter(F.col("source") == EVAL_SOURCE), k=5)
        .select(F.col("doc_id").alias("eval_doc"), F.col("shingle").alias("g"))
        .distinct()
    )
    return (
        train.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").cast("bigint").alias("n_overlap_grams"),
            F.countDistinct("eval_doc").cast("bigint").alias("n_eval_docs"),
        )
    )


TOKDECON_K = 8  # overlap window, in tokenizer tokens (eval-leakage audits
#                 measure contamination in token space, not word space)
_TOKDECON_SEP = "\x1f"  # unit separator — cannot appear in tokens


def tokdecon_ctes() -> str:
    """The CTE chain up through ``hits`` (train-doc token-gram matches
    against the eval split) — shared by the x2_token_decontaminate oracle
    and the composed x9_curation_v6 audit oracle."""
    from etl_active911_spark.functions.textpat import BPE_ISH_PATTERN

    pat = BPE_ISH_PATTERN.replace("'", "''")
    k = TOKDECON_K
    return f"""toks AS (
        SELECT doc_id, source, regexp_extract_all(LOWER(text), '{pat}') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, t, len(t) AS n,
               unnest(range(1, GREATEST(len(t) - {k - 1}, 1) + 1)) AS i
        FROM toks
    ),
    gr AS (
        SELECT doc_id, source, n, CAST(i AS BIGINT) AS i,
               CASE WHEN n >= {k}
                    THEN array_to_string(t[CAST(i AS INT):CAST(i AS INT) + {k - 1}], chr(31))
                    ELSE array_to_string(t, chr(31)) END AS gm,
               CAST(i + LEAST(n, {k}) - 1 AS BIGINT) AS e
        FROM pos
    ),
    train AS (SELECT doc_id, n, i, e, gm FROM gr WHERE source <> '{EVAL_SOURCE}'),
    ev AS (SELECT DISTINCT gm, doc_id AS eval_doc FROM gr WHERE source = '{EVAL_SOURCE}'),
    hits AS (
        SELECT t.doc_id, t.n, t.i, t.e, v.eval_doc
        FROM train t JOIN ev v ON t.gm = v.gm
    )"""


def _tokdecon_oracle() -> str:
    return f"""
    WITH {tokdecon_ctes()},
    stats AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT i) AS BIGINT) AS n_hit_windows,
               CAST(COUNT(DISTINCT eval_doc) AS BIGINT) AS n_eval_docs,
               CAST(MAX(n) AS BIGINT) AS n_tokens
        FROM hits GROUP BY doc_id
    ),
    iv AS (SELECT DISTINCT doc_id, i, e FROM hits),
    pe AS (
        SELECT doc_id, i, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM iv
    ),
    isl AS (
        SELECT doc_id, i, e,
               SUM(CASE WHEN i > COALESCE(prev_e, -1) THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM pe
    ),
    cov AS (
        SELECT doc_id, island, MAX(e) - MIN(i) + 1 AS len
        FROM isl GROUP BY doc_id, island
    ),
    cov2 AS (
        SELECT doc_id, CAST(SUM(len) AS BIGINT) AS contaminated_tokens
        FROM cov GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_hit_windows, s.n_eval_docs, c.contaminated_tokens,
           s.n_tokens,
           ROUND(CAST(c.contaminated_tokens AS DOUBLE)
                 / GREATEST(s.n_tokens, 1), 6) AS contaminated_frac
    FROM stats s JOIN cov2 c ON s.doc_id = c.doc_id
    """


@query("x2_token_decontaminate", _tokdecon_oracle())
def x2_token_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r9): TOKEN-LEVEL decontamination — ``x2_decontaminate``
    re-measured in tokenizer space, the unit eval-leakage audits
    actually report (VERDICT r08 item 6a). Tokens come from the BPE-ish
    pre-tokenization regex (``textual.BPE_ISH_PATTERN`` — the learned
    BPE merges are iterative and not SQL-expressible, so the
    SQL-replicable pre-token layer is the oracle-checkable tokenizer
    stage; value-level Spark==DuckDB extraction verified). A train doc
    is contaminated where any ``TOKDECON_K``-token window also appears
    in the held-out split; beyond the gram/eval-doc counts this emits
    ``contaminated_tokens`` — the size of the UNION of its overlapping
    windows (classic interval-island merge: cumulative-max of window
    ends, island id = running count of gaps), i.e. exactly how many
    tokens a span-level scrubber would cut, not just how many windows
    matched.

    Scale shape: the corpus-sized work is one codegen token explode +
    posting-list equi-join on the gram (eval side distinct + broadcast
    — benchmark splits ≪ corpus at 100 TB); the matched-hit table
    (candidates only) is scoped_persist'd because both the stats
    aggregate and the interval union consume it (rule 17); the island
    windows run over per-doc hit positions (bounded by doc length),
    never the corpus."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    return token_contamination(docs)


def _token_contamination_hits(
    docs: DataFrame, *, persist_key: str = "x2_token_decontaminate.hits"
) -> DataFrame:
    """(doc_id, n, i, e, eval_doc) hit rows — the shared upstream of the
    train-side report (``token_contamination``) and the eval-side report
    (``x2_eval_contamination_report``); scoped_persist'd because every
    consumer aggregates it at least twice (rule 17)."""
    from etl_active911_spark.functions.textpat import BPE_ISH_PATTERN

    k = TOKDECON_K
    base = docs.select(
        "doc_id",
        "source",
        F.regexp_extract_all(F.lower("text"), F.lit(BPE_ISH_PATTERN), 0).alias("t"),
    ).withColumn("n", F.size("t"))
    # codegen gram rows (shingle_rows discipline, SCALE.md invariant 3):
    # explode(sequence) + element_at + concat_ws — no interpreted lambdas
    # on the corpus-sized path
    wp = base.select(
        "doc_id",
        "source",
        "t",
        "n",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("n") - (k - 1), F.lit(1)))).alias("i"),
    )
    gram = F.when(
        F.col("n") >= k,
        F.concat_ws(_TOKDECON_SEP, *[F.element_at("t", F.col("i") + j) for j in range(k)]),
    ).otherwise(F.array_join("t", _TOKDECON_SEP))
    rows = wp.select(
        "doc_id",
        "source",
        "n",
        F.col("i").cast("bigint").alias("i"),
        gram.alias("gm"),
        (F.col("i") + F.least(F.col("n"), F.lit(k)) - 1).cast("bigint").alias("e"),
    )
    train = rows.filter(F.col("source") != EVAL_SOURCE)
    ev = (
        rows.filter(F.col("source") == EVAL_SOURCE)
        .select("gm", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    return scoped_persist(
        persist_key,
        train.join(F.broadcast(ev), "gm").select("doc_id", "n", "i", "e", "eval_doc"),
    )


def token_contamination(
    docs: DataFrame, *, persist_key: str = "x2_token_decontaminate.hits"
) -> DataFrame:
    """Core of ``x2_token_decontaminate`` over an arbitrary (doc_id,
    source, text) frame — split out so the interval-island merge (gaps,
    overlaps, short-doc fallback) is pinned by synthetic corpora in
    pytest, not just the fixture's two full-overlap docs."""
    hits = _token_contamination_hits(docs, persist_key=persist_key)
    stats = hits.groupBy("doc_id").agg(
        F.countDistinct("i").cast("bigint").alias("n_hit_windows"),
        F.countDistinct("eval_doc").cast("bigint").alias("n_eval_docs"),
        F.max("n").cast("bigint").alias("n_tokens"),
    )
    iv = hits.select("doc_id", "i", "e").distinct()
    w_prev = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = iv.withColumn("prev_e", F.max("e").over(w_prev)).withColumn(
        "island",
        F.sum(
            F.when(F.col("i") > F.coalesce(F.col("prev_e"), F.lit(-1)), 1).otherwise(0)
        ).over(w_run),
    )
    cov = (
        isl.groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("i") + 1).alias("len"))
        .groupBy("doc_id")
        .agg(F.sum("len").cast("bigint").alias("contaminated_tokens"))
    )
    return stats.join(cov, "doc_id").select(
        "doc_id",
        "n_hit_windows",
        "n_eval_docs",
        "contaminated_tokens",
        "n_tokens",
        F.round(
            F.col("contaminated_tokens").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("contaminated_frac"),
    )


SPAN_LEN, SPAN_STRIDE = 40, 10


@query(
    "x2_substring_spans",
    f"""
    WITH d AS (
        SELECT doc_id, TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')) AS norm
        FROM documents
    ),
    pos AS (
        SELECT doc_id, norm,
               unnest(range(1, GREATEST(LENGTH(norm) - {SPAN_LEN - 1}, 1) + 1,
                            {SPAN_STRIDE})) AS i
        FROM d
    ),
    g AS (
        SELECT doc_id, i, md5(substr(norm, CAST(i AS INT), {SPAN_LEN})) AS gh FROM pos
    ),
    df AS (
        SELECT gh, COUNT(DISTINCT doc_id) AS ddf FROM g GROUP BY gh
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN df.ddf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           ROUND(CAST(SUM(CASE WHEN df.ddf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_ratio
    FROM g JOIN df ON g.gh = df.gh
    GROUP BY g.doc_id
    """,
)
def x2_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (substring-level dedup, Lee et al. ExactSubstr flavor): detect
    repeated {SPAN_LEN}-char spans ACROSS documents — catches boilerplate
    and partial copies that whole-doc / shingle-set dedup misses. Strided
    span starts bound the fan-out to len/{SPAN_STRIDE} rows per doc; spans
    travel as md5 hashes (the text never shuffles), document frequency is
    one hash-keyed aggregate, and the per-doc roll-up reuses the same
    hash key. A true suffix-array pass is sequential by construction;
    this strided-span formulation is the Spark-native equivalent with a
    stride/length knob instead of an index build."""
    k, s = SPAN_LEN, SPAN_STRIDE
    docs = spread(read_table(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    g = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1)), F.lit(s))
        ).alias("i"),
        norm.alias("norm"),
    ).select("doc_id", F.md5(F.col("norm").substr(F.col("i"), F.lit(k))).alias("gh"))
    span_df = g.groupBy("gh").agg(F.countDistinct("doc_id").alias("ddf"))
    dup = F.when(F.col("ddf") >= 2, 1).otherwise(0)
    return (
        g.join(span_df, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(dup).cast("bigint").alias("n_dup_spans"),
            F.round(F.sum(dup).cast("double") / F.count(F.lit(1)), 6).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# X-2i: edit-distance record linkage (blocked fuzzy join)
# ---------------------------------------------------------------------------


ED_K = 3  # edit-distance threshold
ED_NSEG = ED_K + 1  # PassJoin pigeonhole: 3 edits leave >= 1 of 4 segments intact
ED_SHORT = 2 * ED_NSEG  # below this length segments degenerate; brand-block fallback


def _seg_geometry(l: Column, i: Column) -> tuple[Column, Column]:
    """(1-indexed start, length) of segment ``i`` of an ``l``-char string
    under the deterministic even partition: the first ``NSEG - l % NSEG``
    segments get ``floor(l / NSEG)`` chars, the rest one extra."""
    base = F.floor(l / ED_NSEG).cast("int")
    rem = (l % ED_NSEG).cast("int")
    seg_len = base + F.when(i >= ED_NSEG - rem, F.lit(1)).otherwise(F.lit(0))
    seg_start = i * base + F.greatest(i - (ED_NSEG - rem), F.lit(0)) + F.lit(1)
    return seg_start, seg_len


def fuzzy_candidate_name_pairs(names: DataFrame) -> DataFrame:
    """Candidate (brand, name_a < name_b) pairs for edit-distance-≤3
    linkage over the DISTINCT name vocabulary, via PassJoin-style segment
    blocking (Li, Deng & Feng, "PASS-JOIN: a partition-based method for
    similarity joins", PVLDB 2011 — public literature).

    Input: one row per distinct (brand, name). Output: every unordered
    pair of DIFFERENT names that could be within edit distance ED_K — a
    PROVABLE SUPERSET of the true pairs, so the exact-join oracle needs no
    blocking adjustment. Argument: partition the indexed name (length
    ``l``) into ``K+1 = 4`` contiguous segments; at most ``K = 3`` edit
    operations touch at most 3 of them, so at least one segment survives
    untouched and appears verbatim in the other name, its start position
    shifted by at most the net insertion/deletion count (≤ 3). The probe
    side therefore enumerates, for every plausible index length
    ``l ∈ [m-3, m+3]`` and segment ``i``, its own substrings with segment
    ``i``'s length at starts within ±3 of segment ``i``'s — if a true
    pair exists, one (brand, l, i, seg) key collides. Names shorter than
    ``ED_SHORT`` (degenerate segments) fall back to brand blocking
    against every name within reachable length (|Δlen| ≤ K); TPC-H-ish
    names are ~7-50 chars so that branch is nearly empty but keeps the
    operator total.

    Scale shape: the index side emits 4 rows per name, the probe side a
    few dozen highly selective deduped keys, and candidate generation is
    a pure EQUI-join on the composite (brand, l, i, seg) key — work is
    quadratic only within same-segment collision groups of the
    VOCABULARY, never within whole brands (VERDICT r03 item 2).
    """
    base = names.select("brand", "name", F.length("name").alias("len"))
    long_names = base.filter(F.col("len") >= ED_SHORT)

    seg_i = F.explode(F.sequence(F.lit(0), F.lit(ED_NSEG - 1))).alias("i")
    idx = long_names.select("brand", "name", F.col("len").alias("l"), seg_i)
    st, ln = _seg_geometry(F.col("l"), F.col("i"))
    idx = idx.select("brand", "l", "i", F.col("name").substr(st, ln).alias("seg"), "name")

    probe = (
        long_names.withColumnRenamed("len", "m")
        .select(
            "brand",
            "name",
            "m",
            F.explode(
                F.sequence(F.greatest(F.col("m") - ED_K, F.lit(ED_SHORT)), F.col("m") + ED_K)
            ).alias("l"),
        )
        .select("brand", "name", "m", "l", seg_i)
    )
    st, ln = _seg_geometry(F.col("l"), F.col("i"))
    probe = (
        probe.withColumn("lo", F.greatest(st - ED_K, F.lit(1)))
        .withColumn("hi", F.least(st + ED_K, F.col("m") - ln + F.lit(1)))
        .withColumn("ln", ln)
        .filter(F.col("hi") >= F.col("lo"))
        .select(
            "brand", "l", "i", "name",
            F.explode(F.sequence("lo", "hi")).alias("pos"),
            "ln",
        )
        .select(
            "brand", "l", "i",
            F.col("name").substr(F.col("pos"), F.col("ln")).alias("seg"),
            "name",
        )
        .distinct()  # same key reachable from several shifts — dedupe pre-join
    )

    long_pairs = (
        idx.alias("x")
        .join(probe.alias("p"), ["brand", "l", "i", "seg"])
        .filter(F.col("x.name") != F.col("p.name"))
        .select(
            "brand",
            F.least(F.col("x.name"), F.col("p.name")).alias("name_a"),
            F.greatest(F.col("x.name"), F.col("p.name")).alias("name_b"),
        )
    )

    # fallback block: a short name can still sit within distance K of a
    # LONGER one (|Δlen| ≤ K), so shorts pair against every name of
    # length < ED_SHORT + K within the brand, not just other shorts
    shorts = base.filter(F.col("len") < ED_SHORT)
    near_short = base.filter(F.col("len") < ED_SHORT + ED_K)
    short_pairs = (
        shorts.alias("sa")
        .join(near_short.alias("sb"), "brand")
        .filter(F.col("sa.name") != F.col("sb.name"))
        .select(
            "brand",
            F.least(F.col("sa.name"), F.col("sb.name")).alias("name_a"),
            F.greatest(F.col("sa.name"), F.col("sb.name")).alias("name_b"),
        )
    )
    return long_pairs.unionByName(short_pairs).distinct()


@query(
    "x2_fuzzy_linkage",
    """
    SELECT a.p_brand            AS brand,
           a.p_partkey          AS part_a,
           b.p_partkey          AS part_b,
           a.p_name             AS name_a,
           b.p_name             AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def x2_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2i: fuzzy record linkage — near-identical part names within a
    brand, the classic entity-resolution primitive (catalog dedup, user
    merge) that MinHash can't serve because edit distance on short strings
    is not set overlap.

    Scale shape (reworked r4, VERDICT r03 item 2 — the old ``p_brand``-only
    blocking made within-block pairs grow as n²/|brands|). Two tiers:

    1. CLASS DEDUP: all quadratic-flavored candidate work runs on the
       DISTINCT (brand, name) vocabulary — for duplicate-heavy corpora
       (this table: 64 distinct names regardless of SF) the vocabulary is
       orders of magnitude smaller than the row count and grows sublinearly.
       Candidates over it come from PassJoin segment blocking
       (``fuzzy_candidate_name_pairs`` — equi-join on (brand, l, i, seg),
       a provable superset of all edit-≤3 pairs), then are verified ONCE
       per name pair with Spark's thresholded ``levenshtein(l, r, 3)`` —
       the JVM early-exits the DP once the band exceeds the threshold
       (returns -1), O(threshold·min(n,m)) per pair.
    2. OUTPUT-LINEAR FAN-OUT: verified name pairs (plus the trivial
       identity pairs, distance 0 by definition — never re-verified) are
       joined back to the part keys of each name class. Cost is
       proportional to the RESULT size, the information-theoretic floor.

    The oracle remains the TRUE within-brand edit-distance join over all
    rows, so the driver's hash match certifies zero recall loss from both
    the blocking and the class-dedup rewrite; the oracle's full-distance
    computation with the same cut also pins the threshold variant's
    exactness below the cut.
    """
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
    )
    # NOT persisted although five consumers rebuild this scan+distinct
    # (r15 audit): the query is PLAN_MEMOED — a persist inside a
    # memoized plan carries cached data across invocations (the
    # wrap_plan_memo safety contract), and the A/B showed no win anyway
    # (1.807 vs 1.844 bench row): the five chains are small-table scans
    # whose rebuild costs less than a persist round-trip.
    classes = part.select("brand", "name").distinct()

    cand = fuzzy_candidate_name_pairs(classes)
    verified = cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b", ED_K)).filter(
        F.col("edit_dist") >= 0
    )
    # identity pairs: two different parts sharing one exact name (distance 0)
    identity = classes.select(
        "brand", F.col("name").alias("name_a"), F.col("name").alias("name_b"),
        F.lit(0).alias("edit_dist"),
    )
    name_pairs = verified.unionByName(identity)

    ma = part.select("brand", F.col("name").alias("name_a"), F.col("pk").alias("pk_a"))
    mb = part.select("brand", F.col("name").alias("name_b"), F.col("pk").alias("pk_b"))
    fanned = (
        name_pairs.join(ma, ["brand", "name_a"]).join(mb, ["brand", "name_b"])
        # identity classes produce both orientations; keep pk order once
        .filter(F.col("pk_a") != F.col("pk_b"))
    )
    return fanned.select(
        "brand",
        F.least("pk_a", "pk_b").alias("part_a"),
        F.greatest("pk_a", "pk_b").alias("part_b"),
        F.when(F.col("pk_a") < F.col("pk_b"), F.col("name_a")).otherwise(F.col("name_b")).alias("name_a"),
        F.when(F.col("pk_a") < F.col("pk_b"), F.col("name_b")).otherwise(F.col("name_a")).alias("name_b"),
        "edit_dist",
    ).distinct()


# ---------------------------------------------------------------------------
# X-2k (r4): end-to-end entity resolution over the name-similarity graph
# ---------------------------------------------------------------------------

_ER_SEP = "\x01"  # sorts below every printable char; never appears in names


@query(
    "x2_entity_resolution",
    f"""
    WITH RECURSIVE cls AS (
        SELECT DISTINCT p_brand AS brand, p_name AS name FROM part
    ),
    e0 AS (
        SELECT x.brand, x.name AS a, y.name AS b
        FROM cls x JOIN cls y ON x.brand = y.brand AND x.name < y.name
        WHERE levenshtein(x.name, y.name) <= {ED_K}
    ),
    eredges AS (
        SELECT brand, a AS src, b AS dst FROM e0
        UNION
        SELECT brand, b, a FROM e0
    ),
    walk(brand, src, dst) AS (
        SELECT brand, src, dst FROM eredges
        UNION
        SELECT w.brand, w.src, e.dst
        FROM walk w JOIN eredges e ON w.brand = e.brand AND w.dst = e.src
    ),
    reach AS (
        SELECT brand, src AS name, dst FROM walk
        UNION
        SELECT brand, src, src FROM eredges
    ),
    comp AS (
        SELECT brand, name, MIN(dst) AS canonical FROM reach GROUP BY brand, name
    ),
    resolved AS (
        SELECT c.brand, c.name, COALESCE(k.canonical, c.name) AS canonical_name
        FROM cls c LEFT JOIN comp k ON c.brand = k.brand AND c.name = k.name
    )
    SELECT r.brand, r.name, r.canonical_name,
           CAST(COUNT(*) OVER (PARTITION BY r.brand, r.canonical_name) AS BIGINT)
               AS n_variants
    FROM resolved r
    """,
)
def x2_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2k: full entity resolution — PassJoin segment blocking
    (``fuzzy_candidate_name_pairs``) → thresholded-levenshtein
    verification → STAR-CONTRACTION connected components over the
    name-similarity graph → canonical-name survivorship (min name per
    cluster) with variant counts.

    This is the star algorithm's own oracled workload: unlike the
    near-dup doc graph (near-cliques, where label propagation shines),
    name-similarity graphs CHAIN — 'cold rod' ~ 'old rod' ~ 'old rose' —
    so component diameter grows with vocabulary drift and the O(log n)
    contraction is the right engine. Nodes are (brand, name) classes
    encoded as ``brand ␁ name`` (␁ sorts below every printable char, so
    the component min is exactly the lexicographically-least NAME within
    the brand — the oracle's MIN(name) — never a tie-break artifact).
    The oracle verifies the unblocked quadratic truth per brand, so the
    driver row also re-certifies PassJoin's zero recall loss on the
    composed pipeline."""
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name")
    )
    classes = part.distinct()
    verified = fuzzy_candidate_name_pairs(classes).filter(
        F.levenshtein("name_a", "name_b", ED_K) >= 0
    )
    node = lambda b, n: F.concat(F.col(b), F.lit(_ER_SEP), F.col(n))  # noqa: E731
    edges = verified.select(
        node("brand", "name_a").alias("doc_a"), node("brand", "name_b").alias("doc_b")
    )
    from etl_active911_spark.operators.clustering import connected_components_star

    comp = connected_components_star(edges, key="x2_entity_resolution").select(
        F.col("doc_id").alias("nodekey"), F.col("component")
    )
    resolved = (
        classes.withColumn("nodekey", node("brand", "name"))
        .join(comp, "nodekey", "left")
        .select(
            "brand",
            "name",
            F.coalesce(
                F.substring_index("component", _ER_SEP, -1), F.col("name")
            ).alias("canonical_name"),
        )
    )
    w = Window.partitionBy("brand", "canonical_name")
    return resolved.withColumn("n_variants", F.count(F.lit(1)).over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# X-2l (r4): incremental near-dup — delta batch vs indexed corpus
# ---------------------------------------------------------------------------


@query(
    "x2_incremental_neardup",
    f"""
    WITH {MINHASH_CTES}
    SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
    FROM verified
    WHERE jac >= 0.5 AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
    """,
)
def x2_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2l: INCREMENTAL near-dup — the production shape for a growing
    corpus: when a delta batch arrives (here: ``doc_id % 10 = 0``, ~10%),
    find every near-dup pair INVOLVING a delta doc without re-enumerating
    base-vs-base pairs (which the nightly full run already owns).

    Shape: band rows are tagged delta/base; per band bucket, pairs are
    generated as delta × everything (minus delta-delta double-count via
    the usual id ordering) — so candidate work scales with |delta| ·
    bucket overlap, not |corpus|². The signature pipeline still runs over
    the full corpus ONCE (at 100 TB the base signatures are a
    materialized index — the x3_ann_ivf_partitioned pattern — and only
    delta signatures are computed fresh); verification then touches only
    docs appearing in a candidate pair (same semi-join discipline as
    x2_minhash_lsh). Oracle = the full pipeline's pairs filtered to
    delta-involving ones, so incremental == full-recompute is the pinned
    contract."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    sigs = shared_minhash_sigs(spark, sf_dir)  # rule-25 memo (r12)
    bands = lsh_band_rows(sigs).withColumn("is_delta", (F.col("doc_id") % 10 == 0))
    # same hot-bucket guard as lsh_candidate_pairs (VERDICT r04 item 7):
    # the all_ids list is the skew exposure on the delta path — a flooded
    # band key is dropped before its delta × bucket fan-out can fire
    buckets = (
        bands.groupBy("band_key")
        .agg(
            F.collect_list(F.when(F.col("is_delta"), F.col("doc_id"))).alias("delta_ids"),
            F.collect_list("doc_id").alias("all_ids"),
        )
        .filter(
            (F.size("delta_ids") >= 1)
            & (F.size("all_ids") >= 2)
            & (F.size("all_ids") <= LSH_MAX_BUCKET)
        )
        .select("delta_ids", "all_ids")
    )
    cands = (
        buckets.select(F.explode("delta_ids").alias("d"), "all_ids")
        .select("d", F.explode("all_ids").alias("o"))
        .filter(F.col("d") != F.col("o"))
        .select(
            F.least("d", "o").alias("doc_a"), F.greatest("d", "o").alias("doc_b")
        )
        .distinct()
    )
    cands = scoped_persist("x2_incremental_neardup.cands", cands)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", shingles(F.col("text")).alias("gs")
    )
    verified = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("gs", "gs_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("gs", "gs_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
            / F.size(F.array_union("gs_a", "gs_b")),
        )
    )
    return verified.filter(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# X-2n (r5): ExactSubstr-style span SCRUBBING (remove + reconstruct)
# ---------------------------------------------------------------------------

SCRUB_K = 5  # token-window width for cross-doc duplicated spans


#: Shared scrub CTE chain (toks → pos → grams → dup → removed → kept) —
#: reused by x9_curation_v4's composed oracle.
SCRUB_CTES = f"""toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, UNNEST(t) AS tok, UNNEST(range(1, len(t) + 1)) AS p FROM toks
    ),
    grams AS (
        SELECT doc_id, i,
               md5(array_to_string(t[i:i+{SCRUB_K - 1}], ' ')) AS gh
        FROM (SELECT doc_id, t, UNNEST(range(1, len(t) - {SCRUB_K - 2})) AS i
              FROM toks WHERE len(t) >= {SCRUB_K})
    ),
    dup AS (
        SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    removed AS (
        SELECT DISTINCT g.doc_id, g.i + off.o AS p
        FROM grams g JOIN dup USING (gh),
             (SELECT UNNEST(range({SCRUB_K})) AS o) off
    ),
    kept AS (
        SELECT pos.doc_id, pos.tok, pos.p
        FROM pos LEFT JOIN removed r ON r.doc_id = pos.doc_id AND r.p = pos.p
        WHERE r.p IS NULL
    ),
    scrubbed AS (
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - COALESCE(COUNT(k.p), 0) AS BIGINT) AS n_removed,
               COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
        FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
        GROUP BY t.doc_id, len(t.t)
    )"""


@query(
    "x2_substr_scrub",
    f"""
    WITH {SCRUB_CTES}
    SELECT doc_id, n_tokens, n_removed, clean_text FROM scrubbed
    """,
)
def x2_substr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2n: substring-level dedup with RECONSTRUCTION (the ExactSubstr
    flavor of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" — public literature): any {SCRUB_K}-token window
    occurring in ≥ 2 distinct documents is removed from EVERY document,
    and the surviving tokens are re-joined into the cleaned text the
    trainer actually consumes — ``x2_substring_spans`` measures the
    duplication, this one repairs it.

    Scale shape: token windows travel as md5 hashes (the text never
    keys a shuffle); duplicated-window detection is one hash-keyed
    aggregate; the removed-position set is a bounded explode (window ×
    {SCRUB_K} offsets) anti-joined against the position rows; document
    reassembly sorts each doc's surviving (pos, tok) pairs in one
    bounded per-doc array. At 100 TB add the document-frequency cut on
    hot windows (boilerplate) exactly as in ngram_jaccard_with_df_cut.
    """
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    k = SCRUB_K
    grams = (
        toks.filter(F.size("t") >= k)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - (k - 1))).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.md5(
                F.concat_ws(
                    " ", *[F.element_at(F.col("t"), F.col("i") + j) for j in range(k)]
                )
            ).alias("gh"),
        )
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("ddf"))
        .filter(F.col("ddf") >= 2)
        .select("gh")
    )
    removed = (
        grams.join(dup, "gh")
        .select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + (k - 1))).alias("p"))
        .distinct()
    )
    kept = pos.join(removed, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r6): asymmetric containment (quote/expansion detection)
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.8
#: stop-gram document-frequency cut (ADVICE r06): raw 3-gram buckets are
#: Zipf-headed — one boilerplate gram shared by the whole corpus would
#: materialize a corpus-sized collect_list row plus quadratic pair fan-out.
#: Grams with df > CUT are treated as stop-grams and removed from BOTH the
#: intersection and the set sizes (standard stop-shingle containment); the
#: cut is mirrored in the oracle, so it is semantics, not a silent cap.
CONTAIN_DF_CUT = 100


@query(
    "x2_containment",
    f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                      i -> array_to_string(t[i:i+2], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM toks
    ),
    postings0 AS (SELECT doc_id, UNNEST(gs) AS g FROM sh),
    dfreq AS (SELECT g, COUNT(*) AS df FROM postings0 GROUP BY g),
    postings AS (
        SELECT p.doc_id, p.g FROM postings0 p JOIN dfreq USING (g)
        WHERE dfreq.df <= {CONTAIN_DF_CUT}
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM postings GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM postings a JOIN postings b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           ROUND(CAST(p.n_shared AS DOUBLE) / sa.n, 6) AS containment_a,
           ROUND(CAST(p.n_shared AS DOUBLE) / sb.n, 6) AS containment_b
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE GREATEST(CAST(p.n_shared AS DOUBLE) / sa.n,
                   CAST(p.n_shared AS DOUBLE) / sb.n) >= {CONTAIN_THRESHOLD}
    """,
)
def x2_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r6): asymmetric CONTAINMENT detection — |A∩B| / |A| over
    distinct word 3-gram sets, per direction. Catches what symmetric
    Jaccard structurally cannot: a short document QUOTED inside a much
    longer one scores jaccard ≈ |A|/|B| ≈ 0 but containment_a ≈ 1 — the
    quote-expansion / boilerplate-inclusion case (Broder's containment
    coefficient, "On the resemblance and containment of documents",
    SEQUENCES 1997 — public literature). Emits pairs where EITHER
    direction ≥ 0.8 (CONTAIN_THRESHOLD).

    Scale shape: same posting-list discipline as x2_ngram_jaccard —
    grams shuffle as small derived keys, candidate pairs come from a
    bucket-and-explode on the gram key (one computation, zero join
    operators upstream — rule 18), intersections are one keyed COUNT,
    and set sizes join back on doc_id. Since r7 (ADVICE r06) the
    registered semantics INCLUDE the df-cut: grams with document
    frequency > CONTAIN_DF_CUT are stop-grams, excluded from both the
    intersection and |A| — unlike MinHash bands (statistically bounded),
    raw 3-gram buckets are Zipf-headed, so the uncapped form degrades
    far earlier; the cut is mirrored in the oracle so it is checked
    semantics, not a silent cap. Set sizes are derived from the SAME
    grouped bucket table the pairs explode from — scoped_persist'd
    (r12): the static plan showed NO ReusedExchange between the two
    consumers, so without materialization the shingle-explode +
    collect_list pipeline ran twice (quiet interleaved A/B at sf0.1:
    1.71 → 1.56 s median-of-5; rule 17 shared-subtree policy)."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    postings = shingle_rows(docs, k=3).withColumnRenamed("shingle", "g").distinct()
    grouped = scoped_persist(
        "x2_containment.grouped",
        postings.groupBy("g")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= CONTAIN_DF_CUT),
    )
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    buckets = grouped.filter(F.size("ids") >= 2).select("ids")
    pairs = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ca = F.col("n_shared").cast("double") / F.col("na")
    cb = F.col("n_shared").cast("double") / F.col("nb")
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(F.greatest(ca, cb) >= CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(ca, 6).alias("containment_a"),
            F.round(cb, 6).alias("containment_b"),
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r7): content-defined chunking (CDC) storage dedup
# ---------------------------------------------------------------------------

#: expected chunk length in tokens: a token is a chunk boundary when its
#: 60-bit content hash ≡ 0 (mod CDC_MOD) — boundaries are a property of the
#: CONTENT, so an insertion early in a document only perturbs chunking
#: locally (the rsync/LBFS/FastCDC principle, public literature), unlike
#: fixed-size blocks where one shifted byte re-chunks everything after it.
CDC_MOD = 16

_CDC_NORM = "TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))"


def cdc_chunk_table(docs: DataFrame) -> DataFrame:
    """Per-chunk rows (doc_id, sid, source, chunk_hash, n_toks) of the
    content-defined chunking pass — the reusable core of
    ``x2_cdc_chunks`` (also driven directly by the insertion-stability
    property test on synthetic documents)."""
    toks = docs.select(
        "doc_id", "source", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    cut = toks.withColumn(
        "is_cut",
        (F.pmod(token_hash60(F.col("tok")), F.lit(CDC_MOD)) == 0).cast("int"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = cut.withColumn("sid", F.sum("is_cut").over(w).cast("bigint"))
    return seg.groupBy("doc_id", "sid").agg(
        F.first("source").alias("source"),
        F.md5(F.expr("listagg(tok, ' ') WITHIN GROUP (ORDER BY pos)")).alias(
            "chunk_hash"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
    )


@query(
    "x2_cdc_chunks",
    f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(ts) AS tok,
               unnest(range(1, len(ts) + 1)) AS pos
        FROM (SELECT doc_id, source, string_split({_CDC_NORM}, ' ') AS ts
              FROM documents)
    ),
    cut AS (
        SELECT doc_id, source, tok, pos,
               CASE WHEN ({sql_hash60('tok')}) % {CDC_MOD} = 0 THEN 1 ELSE 0 END
                   AS is_cut
        FROM toks
    ),
    seg AS (
        SELECT doc_id, source, tok, pos,
               CAST(SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS sid
        FROM cut
    ),
    chunks AS (
        SELECT doc_id, ANY_VALUE(source) AS source, sid,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
               CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM seg GROUP BY doc_id, sid
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
           ROUND(1 - CAST(COUNT(DISTINCT chunk_hash) AS DOUBLE) / COUNT(*), 6)
               AS dup_ratio,
           ROUND(AVG(CAST(n_toks AS DOUBLE)), 6) AS mean_chunk_toks
    FROM chunks GROUP BY source
    """,
)
def x2_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r7): CONTENT-DEFINED CHUNKING dedup report — per source, how
    much of the corpus is re-used chunks: token stream → content-defined
    segments (a token whose ``token_hash60 % CDC_MOD == 0`` becomes the
    FIRST token of a new segment; expected segment ≈ CDC_MOD tokens) →
    md5 chunk identity → distinct-vs-total chunk counts and the dup
    ratio. This is the storage/transfer-level dedup view (rsync/LBFS/
    FastCDC family) that exact-doc and near-dup dedup cannot give:
    boilerplate PARAGRAPHS shared across otherwise-distinct documents
    surface here, and chunk boundaries survive insertions because they
    are content-anchored, not offset-anchored.

    Scale shape: one token explode shuffled by doc_id; the running cut
    count is a PER-DOC window (doc-keyed, never global); the chunk
    aggregate reuses the same doc_id clustering (exchange-free after the
    window — grouping on (doc_id, sid) is satisfied by the doc_id hash
    partitioning, plan-verified); chunk text is rebuilt with ``listagg
    WITHIN GROUP`` (JVM-side ordered aggregate, no interpreted lambda)
    and immediately collapsed to its md5, so nothing wider than a chunk
    string ever shuffles. Final rollup is a tiny per-source aggregate.
    The defining CDC property — an INSERTION perturbs only the chunk it
    lands in, not every chunk after it — is pinned by
    ``tests/test_extensions.py::test_cdc_chunks_insertion_stability``."""
    chunks = cdc_chunk_table(
        spread(read_table(spark, sf_dir, "documents"), "doc_id")
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("chunk_hash").cast("bigint").alias("n_distinct_chunks"),
        F.round(
            F.lit(1.0) - F.countDistinct("chunk_hash").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_ratio"),
        F.round(F.avg(F.col("n_toks").cast("double")), 6).alias("mean_chunk_toks"),
    )


# ---------------------------------------------------------------------------
# X-2 (r7): cross-source duplication matrix
# ---------------------------------------------------------------------------


@query(
    "x2_cross_source_dups",
    f"""
    WITH {MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b, jac FROM verified WHERE jac >= 0.5)
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           ROUND(MIN(prs.jac), 6) AS min_jaccard,
           ROUND(MAX(prs.jac), 6) AS max_jaccard
    FROM prs
    JOIN documents da ON da.doc_id = prs.doc_a
    JOIN documents db ON db.doc_id = prs.doc_b
    GROUP BY 1, 2
    """,
)
def x2_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r7): the cross-source DUPLICATION MATRIX — which pairs of
    sources share near-duplicate content, and how much: the diagnostic
    behind mixture weighting and scrape-overlap triage (two crawls of
    the same sites show up as an off-diagonal spike; within-source
    boilerplate shows on the diagonal). Verified near-dup pairs (the
    shared memoized graph — zero extra MinHash work in a sweep) join to
    their documents' sources; the (unordered) source pair keys the
    rollup. MIN/MAX jaccard per cell are aggregation-order-PROOF
    statistics (an AVG of doubles would be last-ulp order-dependent,
    canonical policy).

    Scale shape: the pair list is near-dup-sized (≪ corpus); two
    broadcast-able joins against the (doc_id, source) projection; the
    rollup output is |sources|² rows max."""
    pairs = shared_verified_pairs(spark, sf_dir)
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r7): LSH banding S-curve (design/tuning table)
# ---------------------------------------------------------------------------

#: (bands, rows) configurations with bands × rows = 64 (our signature size)
_LSH_CONFIGS = ((32, 2), (16, 4), (8, 8))


def _pow_chain(expr: str, n: int) -> str:
    """x^n via explicit squaring chain (n ∈ {2,4,8,16,32}) — identical
    multiply order in both engines, no libm pow involved."""
    assert n in (2, 4, 8, 16, 32)
    out = expr
    k = 1
    while k < n:
        out = f"({out} * {out})"
        k *= 2
    return out


def _lsh_tuning_sql_for(b: int, r: int, src: str) -> str:
    # CAST keeps everything DOUBLE end-to-end: a bare 20.0 literal parses
    # as DECIMAL in Spark (decimal arithmetic diverges from the oracle's
    # float path — caught by the type-strict replica)
    sr = _pow_chain("s", r)
    miss = _pow_chain(f"(1 - {sr})", b)
    thr = repr((1.0 / b) ** (1.0 / r))  # python-computed literal, shared verbatim
    return f"""
        SELECT {b} AS bands, {r} AS rows_per_band,
               ROUND(s, 6) AS s,
               ROUND(1 - {miss}, 6) AS collision_prob,
               CAST({thr} AS DOUBLE) AS threshold_s
        FROM (SELECT CAST(i AS DOUBLE) / CAST(20 AS DOUBLE) AS s FROM {src})
    """


@query(
    "x2_lsh_tuning",
    " UNION ALL ".join(
        _lsh_tuning_sql_for(b, r, "(SELECT unnest(range(1, 20)) AS i)")
        for b, r in _LSH_CONFIGS
    ),
)
def x2_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r7): the LSH BANDING S-CURVE — the design table behind every
    (bands × rows) choice in this engine (MMDS ch.3, public literature):
    for each 64-hash split and each similarity s on a 0.05 grid, the
    candidate-collision probability ``1 − (1 − s^r)^b``, plus the curve's
    threshold ``(1/b)^(1/r)`` (where collision probability crosses ~½).
    This is how x2_minhash_lsh's (16, 4) ≈ 0.5-threshold configuration
    was chosen; publishing the table as an operator makes the tuning
    decision reproducible and auditable next to the operator it tuned.

    Cross-engine exactness: powers are explicit SQUARING CHAINS (no
    libm ``pow``, whose last ulp differs across engines); the fractional
    threshold is a Python-computed literal injected verbatim into both
    engines. Pure generated table — no input scan at all."""
    out = None
    for b, r in _LSH_CONFIGS:
        # identical SQL text as the oracle fragment, run through Spark SQL
        part = spark.range(1, 20).selectExpr("id AS i")
        part.createOrReplaceTempView(f"_lsh_grid_{b}_{r}")
        sql = _lsh_tuning_sql_for(b, r, f"_lsh_grid_{b}_{r}")
        part = spark.sql(sql)
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# X-2 (r7): dedup-aware token accounting ("effective tokens")
# ---------------------------------------------------------------------------


@query(
    "x2_effective_tokens",
    """
    WITH d AS (
        SELECT doc_id, source,
               sha256(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS h,
               CAST(len(string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' '))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    k AS (
        SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h
    )
    SELECT d.source,
           CAST(SUM(d.n_tokens) AS BIGINT) AS raw_tokens,
           CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN d.n_tokens ELSE 0 END)
                AS BIGINT) AS effective_tokens,
           ROUND(1 - CAST(SUM(CASE WHEN d.doc_id = k.keeper THEN d.n_tokens ELSE 0 END)
                          AS DOUBLE) / SUM(d.n_tokens), 6) AS dup_token_frac
    FROM d JOIN k ON d.h = k.h
    GROUP BY d.source
    """,
)
def x2_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r7): EFFECTIVE-TOKEN accounting — the number every training
    plan actually budgets against: per source, raw token volume vs the
    volume surviving exact dedup (keeper = min doc_id per content hash),
    and the duplicated-token fraction. Token-level, not doc-level,
    because a corpus where the duplicates are the LONG documents loses
    far more training signal than doc counts suggest (x8_dedup_report
    counts docs; this counts what the trainer consumes).

    Scale shape: one scan computes hash + token count per doc; keeper
    choice is a hash-keyed aggregate; the rollup re-keys by source.
    Nothing wider than (hash, count) shuffles."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.sha2(normalized_text(F.col("text")), 256).alias("h"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    k = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    eff = F.sum(
        F.when(F.col("doc_id") == F.col("keeper"), F.col("n_tokens")).otherwise(0)
    )
    return (
        d.join(k, "h")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("raw_tokens"),
            eff.cast("bigint").alias("effective_tokens"),
            F.round(
                F.lit(1.0) - eff.cast("double") / F.sum("n_tokens"), 6
            ).alias("dup_token_frac"),
        )
    )


def _eval_contamination_oracle() -> str:
    return f"""
    WITH {tokdecon_ctes()}
    SELECT eval_doc,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_train_docs,
           CAST(COUNT(DISTINCT i) AS BIGINT) AS n_hit_windows
    FROM hits GROUP BY eval_doc
    """


@query("x2_eval_contamination_report", _eval_contamination_oracle())
def x2_eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r9): the REVERSE direction of ``x2_token_decontaminate`` —
    per EVAL document, how burned it is: the number of train documents
    sharing any ``TOKDECON_K``-token window with it, and the total
    distinct hit-window positions across the train side. Train-doc
    reports tell the curator what to scrub; THIS report tells the
    benchmark owner which eval items to retire (an item most of the
    corpus contains measures memorization, not capability). Same hit
    table, opposite rollup — the oracle shares the tokdecon CTE chain
    verbatim.

    Scale shape: identical to x2_token_decontaminate up through the
    broadcast posting join; the rollup keys on eval_doc (benchmark-
    sized, ≪ corpus)."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    hits = _token_contamination_hits(docs, persist_key="x2_eval_contam.hits")
    return hits.groupBy("eval_doc").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_train_docs"),
        F.countDistinct("i").cast("bigint").alias("n_hit_windows"),
    )


#: Ground-truth posting df-cut (VERDICT r09 item 2): shingles present in
#: more than this many documents are dropped from the TRUTH leg's posting
#: self-join, bounding per-shingle pair fan-out at cap*(cap-1)/2 instead
#: of O(n_docs^2) on flood shingles. Provably a no-op at fixture scale —
#: measured max shingle df is 7 at sf0.01 and 25 at sf0.1
#: (tests/test_lsh_recall_cap.py pins the sf0.01 headroom executable) —
#: so the oracle hash is unchanged; the SAME cut is applied in the oracle
#: SQL so both engines stay in lockstep even when the cap engages. The
#: documented bias when it does engage: a true pair whose every shared
#: shingle is flood-hot drops out of truth (standard df-cut / prefix-
#: filter trade, MMDS §3.x) — acceptable for an eval leg.
LSH_TRUTH_DF_CAP = 64


def lsh_truth_pairs(docs: DataFrame, df_cap: int = LSH_TRUTH_DF_CAP) -> DataFrame:
    """Exact ≥0.5-Jaccard ground-truth pairs from (doc_id, text) rows via
    a df-capped posting BUCKET-AND-EXPLODE. Three deliberate shapes:
    (1) grams come from the CODEGEN ``shingle_rows`` explode, deduped by
    one keyed aggregate — the array-returning ``shingles()`` lambda paid
    ~4.3 s of the original 5.1 s at sf0.1 (invariant 3 / rule 1: the
    interpreted transform re-inlines per exploded row); (2) candidates
    come from grouping on the shingle, NOT a posting self-join (rule 18
    — a join evaluates the posting subtree once per side), with the
    df-cut as the bucket-size filter applied to the aggregated list
    BEFORE the n² explode can fire; (3) the distinct aggregate and the
    per-doc set-size window both ride the doc_id spread exchange-free
    (rule 20). Jaccard denominators use the FULL set sizes, so a pair
    surviving on its rare shingles still gets its exact score. Measured
    r10: 5.1 → 1.5 s at sf0.1, result-identical."""
    p = (
        shingle_rows(docs)
        .groupBy("doc_id", "shingle")
        .agg(F.lit(1).alias("__one"))
        .select("doc_id", F.col("shingle").alias("g"))
        .withColumn("n_g", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    buckets = (
        p.groupBy("g")
        .agg(F.collect_list(F.struct("doc_id", "n_g")).alias("ms"))
        .filter(F.size("ms").between(2, df_cap))
        .select("ms")
    )
    tp = (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_g").alias("na"),
            F.col("b.n_g").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return tp.withColumn("jac", jac).filter(F.col("jac") >= 0.5).select(
        "doc_a", "doc_b", "jac"
    )


#: Shared oracle CTE chain for the df-capped EXACT ground-truth pairs —
#: assumes a preceding ``sh`` CTE (from ``MINHASH_CTES``); ends at
#: ``truth`` (doc_a, doc_b, jac >= 0.5). One definition for BOTH
#: x2_lsh_recall_eval and x2_threshold_sweep (their Spark sides share
#: ``shared_truth_pairs``), so the truth spec can never desynchronize
#: between the two oracles (the SEMDEDUP_CTES discipline).
LSH_TRUTH_CTES = f"""pp AS (
        SELECT doc_id, g, n_g FROM (
            SELECT doc_id, g, n_g, COUNT(*) OVER (PARTITION BY g) AS df_g
            FROM (SELECT doc_id, UNNEST(gs) AS g, len(gs) AS n_g FROM sh)
        ) WHERE df_g <= {LSH_TRUTH_DF_CAP}
    ),
    tp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_g AS na, b.n_g AS nb,
               COUNT(*) AS inter
        FROM pp a
        JOIN pp b
          ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    truth AS (
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
        FROM tp
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
    )"""

_LSH_RECALL_ORACLE = f"""
    WITH {MINHASH_CTES},
    found AS (
        SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5
    ),
    {LSH_TRUTH_CTES},
    m AS (
        SELECT t.doc_a, t.doc_b, t.jac,
               CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM truth t
        LEFT JOIN found f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(hit) AS BIGINT) AS n_found,
           CAST(COUNT(*) - SUM(hit) AS BIGINT) AS n_missed,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS recall,
           ROUND(MIN(jac), 6) AS min_true_jaccard
    FROM m
    """


@query("x2_lsh_recall_eval", _LSH_RECALL_ORACLE)
def x2_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r9): EMPIRICAL LSH RECALL — ``x2_lsh_tuning`` publishes the
    theoretical S-curve; this measures the banding's MEASURED recall on
    the corpus: exact ground truth (every pair with true 3-shingle
    Jaccard ≥ 0.5, via an UNBLOCKED posting self-join — exhaustive for
    the ≥ 0.5 regime, since such pairs necessarily co-occur on some
    shingle) against the pipeline's verified pairs. Verification is
    exact, so found ⊆ truth and the single number that can degrade is
    recall — the regression canary for any future band/row or hash-
    family change. ``min_true_jaccard`` shows the margin between the
    corpus's easiest true pair and the 0.5 design threshold.

    SCALE SHAPE (ENFORCED cap, VERDICT r09 item 2): the truth-leg
    posting self-join drops shingles with document frequency above
    ``LSH_TRUTH_DF_CAP`` BEFORE pairing (``lsh_truth_pairs``), bounding
    per-shingle fan-out at cap²/2 — without it the fixture measured
    ~100× pair growth per 10× docs on hot shingles. The cap is a
    measured no-op at fixture scale (max df 7 @ sf0.01, 25 @ sf0.1) and
    is mirrored in the oracle SQL, so parity holds even where it
    engages; tests/test_lsh_recall_cap.py pins both the engaged path
    and the fixture headroom. The registered pipeline side reuses the
    memoized pair graph (rule 25)."""
    found = shared_verified_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    truth = shared_truth_pairs(spark, sf_dir)
    m = truth.join(found, ["doc_a", "doc_b"], "left").select(
        "jac", F.coalesce("hit", F.lit(0)).alias("hit")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum("hit").cast("bigint").alias("n_found"),
        (F.count(F.lit(1)) - F.sum("hit")).cast("bigint").alias("n_missed"),
        F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias("recall"),
        F.round(F.min("jac"), 6).alias("min_true_jaccard"),
    )


# ---------------------------------------------------------------------------
# X-2 (r10): shingle document-frequency spectrum
# ---------------------------------------------------------------------------

_DF_PROFILE_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               string_split(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                      i -> array_to_string(t[i:i+2], ' ')))
                    ELSE [array_to_string(t, ' ')] END AS gs
        FROM toks
    ),
    df AS (
        SELECT g, COUNT(*) AS d
        FROM (SELECT doc_id, UNNEST(gs) AS g FROM sh) GROUP BY g
    ),
    b AS (
        SELECT g, d, CAST(LENGTH(bin(d)) - 1 AS INTEGER) AS df_bucket FROM df
    ),
    h AS (
        SELECT df_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(d) AS BIGINT) AS n_postings
        FROM b GROUP BY df_bucket
    ),
    hot AS (
        SELECT df_bucket, g AS hottest_shingle,
               ROW_NUMBER() OVER (PARTITION BY df_bucket
                                  ORDER BY d DESC, g) AS rn
        FROM b
    )
    SELECT h.df_bucket, h.n_shingles, h.n_postings,
           ROUND(CAST(h.n_postings AS DOUBLE)
                 / SUM(h.n_postings) OVER (), 6) AS posting_share,
           hot.hottest_shingle
    FROM h JOIN hot ON hot.df_bucket = h.df_bucket AND hot.rn = 1
    """


@query("x2_shingle_df_profile", _DF_PROFILE_ORACLE)
def x2_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r10): SHINGLE DF SPECTRUM — the measurement every df-cut in
    this repo is calibrated against (``LSH_TRUTH_DF_CAP``,
    ``ngram_jaccard_with_df_cut``, the LSH flood cap): per power-of-two
    document-frequency bucket, how many distinct shingles live there,
    their posting mass and share, and the bucket's hottest shingle (the
    boilerplate phrase a curator would actually read). A corpus whose
    posting mass migrates into high buckets is flooding — this is the
    early-warning dial, and the empirical basis for choosing caps that
    are provably no-op at current scale.

    Determinism: the bucket is ``length(bin(df)) − 1`` — integer-exact
    floor(log2) in BOTH engines, no float log anywhere.

    Scale shape: codegen posting explode + keyed distinct (the
    jaccard_postings discipline), one vocab-keyed df aggregate
    (shuffle ∝ vocab ≪ corpus), then bucket-grain windows over ≤ ~30
    rows."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    p = (
        shingle_rows(docs)
        .groupBy("doc_id", "shingle")
        .agg(F.lit(1).alias("__one"))
        .select("doc_id", F.col("shingle").alias("g"))
    )
    df = p.groupBy("g").agg(F.count(F.lit(1)).alias("d"))
    b = df.withColumn(
        "df_bucket", (F.length(F.bin("d")) - 1).cast("int")
    )
    h = b.groupBy("df_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("d").cast("bigint").alias("n_postings"),
    )
    hot = (
        b.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("df_bucket").orderBy(F.col("d").desc(), "g")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("df_bucket", F.col("g").alias("hottest_shingle"))
    )
    return (
        h.join(hot, "df_bucket")
        .select(
            "df_bucket",
            "n_shingles",
            "n_postings",
            F.round(
                F.col("n_postings").cast("double")
                / F.sum("n_postings").over(Window.partitionBy()),
                6,
            ).alias("posting_share"),
            "hottest_shingle",
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r10): LSH band-occupancy spectrum
# ---------------------------------------------------------------------------

_BAND_OCC_ORACLE = f"""
    WITH {MINHASH_CTES},
    occ AS (SELECT band_key, COUNT(*) AS s FROM bands GROUP BY band_key),
    b2 AS (
        SELECT s, CAST(LENGTH(bin(s)) - 1 AS INTEGER) AS size_bucket FROM occ
    )
    SELECT size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(s) AS BIGINT) AS n_members,
           CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(s * (s - 1) // 2) AS DOUBLE)
                 / GREATEST(SUM(SUM(s * (s - 1) // 2)) OVER (), 1), 6)
               AS pair_share
    FROM b2 GROUP BY size_bucket
    """


@query("x2_minhash_band_occupancy", _BAND_OCC_ORACLE)
def x2_minhash_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r10): LSH BAND-OCCUPANCY SPECTRUM — the dial that calibrates
    ``LSH_MAX_BUCKET`` the way ``x2_shingle_df_profile`` calibrates the
    df-cuts: per power-of-two band-bucket-size class, the bucket count,
    member mass, CANDIDATE-PAIR mass s·(s−1)/2 (the quantity that
    actually explodes — a single bucket 10× bigger carries 100× the
    pairs), and each class's share of total pair work. Pair mass
    migrating into high buckets = a flood forming; the cap should sit
    where the spectrum's tail carries negligible RECALL but material
    COST.

    Determinism: bucket = length(bin(s)) − 1 (integer-exact log2);
    pair counts are exact integers; only the share divides.

    Scale shape: signatures are the session-wide ``shared_minhash_sigs``
    memo (the same sketch x2_minhash_lsh bands — rule 25, r12);
    occupancy is one band_key-keyed count (the same shuffle candidate
    generation pays), then bucket-grain windows over ≤ ~30 rows."""
    bands = lsh_band_rows(shared_minhash_sigs(spark, sf_dir), oracle_pure=True)
    occ = bands.groupBy("band_key").agg(F.count(F.lit(1)).alias("s"))
    # integer div: float division would lose exactness past 2^53 pairs
    pairs = F.expr("s * (s - 1) div 2").cast("long")
    b2 = occ.select(
        "s",
        (F.length(F.bin("s")) - 1).cast("int").alias("size_bucket"),
        pairs.alias("np"),
    )
    h = b2.groupBy("size_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("s").cast("bigint").alias("n_members"),
        F.sum("np").cast("bigint").alias("n_pairs"),
    )
    return h.select(
        "size_bucket",
        "n_buckets",
        "n_members",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double")
            / F.greatest(F.sum("n_pairs").over(Window.partitionBy()), F.lit(1)),
            6,
        ).alias("pair_share"),
    )


# ---------------------------------------------------------------------------
# X-2 (r10): dedup-aggressiveness threshold sweep
# ---------------------------------------------------------------------------

#: Jaccard thresholds the sweep evaluates — 0.5 (the LSH design point,
#: also ``lsh_truth_pairs``'s floor) up to 0.9 in 0.1 steps.
SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def shared_truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ≥0.5 ground-truth pair table (``lsh_truth_pairs``), memoized
    per (session, sf_dir) — shared by ``x2_lsh_recall_eval`` and
    ``x2_threshold_sweep`` (rule 25: small cross-query derived table)."""
    return fixture_memo(
        "lsh_truth_pairs",
        spark,
        sf_dir,
        lambda: lsh_truth_pairs(spread(read_table(spark, sf_dir, "documents"), "doc_id")),
    )


_SWEEP_ORACLE = f"""
    WITH {MINHASH_CTES},
    {LSH_TRUTH_CTES},
    ths AS (
        SELECT CAST(UNNEST([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}]) AS DOUBLE)
               AS threshold
    ),
    hit AS (
        SELECT t.threshold, p.doc_a, p.doc_b
        FROM ths t JOIN truth p ON p.jac >= t.threshold
    ),
    ps AS (
        SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dropped
        FROM hit GROUP BY threshold
    ),
    aff AS (
        SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_affected
        FROM (SELECT threshold, doc_a AS d FROM hit
              UNION ALL SELECT threshold, doc_b AS d FROM hit)
        GROUP BY threshold
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.threshold,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(a.n_docs_affected, 0) AS BIGINT) AS n_docs_affected,
           CAST(COALESCE(p.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST((2 * COALESCE(p.n_dropped, 0) * 1000000 + tot.n_docs)
                // (2 * tot.n_docs) AS DOUBLE) / 1000000.0 AS drop_share
    FROM ths t
    LEFT JOIN ps p USING (threshold)
    LEFT JOIN aff a USING (threshold)
    CROSS JOIN tot
    """


@query("x2_threshold_sweep", _SWEEP_ORACLE)
def x2_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r10): DEDUP-AGGRESSIVENESS CURVE — for each Jaccard threshold
    θ ∈ {0.5..0.9}, how many verified near-dup pairs survive, how many
    documents are touched, and how many would be DROPPED under the
    deterministic earliest-doc-wins policy (a doc is dropped iff it pairs
    ≥θ with a smaller doc_id — the same keep-first rule
    ``x2_incremental_neardup`` applies online). This is the dial a
    curation run turns before committing to a threshold: the marginal
    corpus loss per 0.1 of θ, on real data.

    Exact-decimal discipline: drop_share uses integer HALF-UP division in
    micro-units (CLAUDE.md rule 26b — n_docs can be 2^a·5^b-divisible).

    SCALE SHAPE: pairs come from the df-capped bucket-and-explode
    ``lsh_truth_pairs`` (never a posting self-join), memoized across the
    eval family (rule 25); the sweep itself is a 5-row broadcast theta
    join over the pair table — O(|pairs|·5), independent of corpus size."""
    pairs = shared_truth_pairs(spark, sf_dir)
    ths = spark.createDataFrame(
        [(float(t),) for t in SWEEP_THRESHOLDS], "threshold double"
    )
    hit = pairs.join(F.broadcast(ths), F.col("jac") >= F.col("threshold")).select(
        "threshold", "doc_a", "doc_b"
    )
    ps = hit.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_dropped"),
    )
    aff = (
        hit.select("threshold", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("threshold")
        .agg(F.countDistinct("d").cast("bigint").alias("n_docs_affected"))
    )
    docs = read_table(spark, sf_dir, "documents")
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    filled = (
        ths.join(ps, "threshold", "left")
        .join(aff, "threshold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0).cast("bigint")).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0).cast("bigint")).alias(
                "n_docs_affected"
            ),
            F.coalesce("n_dropped", F.lit(0).cast("bigint")).alias("n_dropped"),
            "n_docs",
        )
    )
    return filled.select(
        "threshold",
        "n_pairs",
        "n_docs_affected",
        "n_dropped",
        (
            F.expr(
                "CAST((2 * n_dropped * 1000000 + n_docs) div (2 * n_docs) AS DOUBLE)"
            )
            / 1000000.0
        ).alias("drop_share"),
    )


# ---------------------------------------------------------------------------
# X-2 (r11): boilerplate scrub EXECUTED (C4-style shared-passage removal)
# ---------------------------------------------------------------------------

#: disjoint segment size for the scrub grain (stride == size: removal must
#: not double-count tokens, unlike the overlapping x4_doc_chunking grid)
SCRUB_SEG = 24

_SCRUB_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               string_split_regex(TRIM(text), '\\s+') AS toks,
               len(string_split_regex(TRIM(text), '\\s+')) AS n
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks, n,
               unnest(range(0, n, {SCRUB_SEG})) AS start
        FROM base
    ),
    c AS (
        SELECT doc_id, n,
               CAST(LEAST({SCRUB_SEG}, n - start) AS BIGINT) AS n_tok,
               md5(array_to_string(toks[start + 1 : start + {SCRUB_SEG}], ' '))
                   AS seg_md5
        FROM s
    ),
    g AS (
        SELECT seg_md5,
               COUNT(DISTINCT doc_id) AS nd,
               MIN(doc_id) AS canonical_doc
        FROM c GROUP BY seg_md5
    )
    SELECT c.doc_id,
           CAST(MAX(c.n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN g.nd >= 2 AND c.doc_id <> g.canonical_doc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_segs,
           CAST(MAX(c.n) - SUM(CASE WHEN g.nd >= 2 AND c.doc_id <> g.canonical_doc
                                    THEN c.n_tok ELSE 0 END) AS BIGINT)
               AS tokens_after,
           CAST((2 * SUM(CASE WHEN g.nd >= 2 AND c.doc_id <> g.canonical_doc
                              THEN c.n_tok ELSE 0 END) * 1000000 + MAX(c.n))
                // (2 * MAX(c.n)) AS BIGINT) / 1000000.0 AS removed_share
    FROM c JOIN g USING (seg_md5)
    GROUP BY c.doc_id
    """


@query("x2_boilerplate_scrub", _SCRUB_ORACLE)
def x2_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r11): SHARED-PASSAGE SCRUB, EXECUTED — the C4 pipeline's
    line-dedup step (Raffel et al., JMLR 2020 §2.2: any line occurring
    more than once in the corpus is kept once and removed everywhere
    else), at the disjoint SCRUB_SEG-token segment grain the fixture's
    unbroken text affords. Where ``x2_chunk_cross_dup`` REPORTS
    passage reuse, this op performs the removal and emits the resulting
    per-document ledger: tokens before, segments, segments removed,
    tokens after, and removed share — canonical-copy retention (the
    lowest doc_id owning a segment keeps it) so the corpus never loses
    content, only repetition. Exact-duplicate docs collapse to one
    surviving copy's worth of tokens by construction — the doc-level
    X-1 result falls out of the passage-level rule.

    Determinism: segment identity is the byte-equal md5 re-join of the
    house whitespace tokenization (x4_doc_chunking's argument); every
    count is an exact BIGINT; the one ratio is the rule-26b integer
    HALF-UP micro-division. Canonical ownership (MIN doc_id) is
    order-free.

    Scale shape: segment construction is the zero-exchange codegen flat
    map of ``chunk_rows`` (split / sequence-explode / slice / hash —
    no higher-order-lambda re-inlining, invariant 3); then ONE hash
    aggregate keyed by seg_md5 (distinct-doc count + min), ONE
    md5-keyed equi-join back (uniform high-cardinality key — SMJ at
    scale, never broadcast), ONE doc_id-keyed roll-up. Work is linear
    in corpus tokens; nothing quadratic, no skew (md5 keys are
    uniform)."""
    return shared_scrub_ledger(spark, sf_dir)


def shared_scrub_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``boilerplate_scrub_ledger`` over the fixture corpus, materialized
    once per (session, sf_dir) — the ledger is rebuilt by BOTH
    ``x2_boilerplate_scrub`` and ``x9_curation_v8`` (full corpus scan +
    two shuffles, ~1.2 s at sf0.1), so it meets the rule-25 bar the same
    way ``textual.shared_gopher_rules`` does: fixture-fingerprint
    invalidation, localCheckpoint materialization, tiny result (one row
    per doc, no text)."""
    return fixture_memo(
        "dedup.scrub_ledger",
        spark,
        sf_dir,
        lambda: boilerplate_scrub_ledger(
            spread(read_table(spark, sf_dir, "documents"), "doc_id")
        ),
    )


def scrub_segment_rows(docs: DataFrame, with_text: bool = False) -> DataFrame:
    """(doc_id, n, n_tok, seg_md5): the disjoint SCRUB_SEG-token segment
    rows of a (doc_id, text) frame — the SINGLE definition of segment
    identity, shared by the batch fold (``boilerplate_scrub_ledger``)
    and the at-ingest gate (streaming/scrub_ingest.py) so the chunking
    can never drift between them (the ``signature_agreement_pairs``
    precedent). ``with_text=True`` additionally emits the segment text
    (``seg_txt``) for consumers that score surviving passages — the
    composed ingest funnel's scrub-before-PII counting
    (operators/ingest_funnel.py)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n")
    )
    seg = F.array_join(
        F.slice(F.col("toks"), F.col("start") + 1, F.lit(SCRUB_SEG)), " "
    )
    cols = [
        F.col("doc_id"),
        F.col("n"),
        F.least(F.lit(SCRUB_SEG), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("n_tok"),
        F.md5(seg).alias("seg_md5"),
    ]
    if with_text:
        cols.append(seg.alias("seg_txt"))
    return base.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(SCRUB_SEG))
        ).alias("start"),
        "toks",
    ).select(*cols)


def scrub_doc_rollup(c: DataFrame, removed_flag: Column) -> DataFrame:
    """Per-doc scrub ledger from segment rows ``c`` (doc_id, n, n_tok,
    seg_md5, + whatever columns ``removed_flag`` reads): tokens before,
    segments, removed segments, tokens after, removed share (rule-26b
    integer HALF-UP micro-division). Shared by the batch fold and the
    streaming gate — ownership POLICY differs (batch: global MIN doc_id;
    stream: first writer), the ledger arithmetic must not."""
    removed = F.when(removed_flag, 1).otherwise(0)
    removed_tok = F.when(removed_flag, F.col("n_tok")).otherwise(F.lit(0))
    agg = c.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_segs"),
        F.sum(removed).cast("bigint").alias("n_removed_segs"),
        F.sum(removed_tok).cast("bigint").alias("removed_tok"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_segs",
        "n_removed_segs",
        (F.col("n_tokens") - F.col("removed_tok"))
        .cast("bigint")
        .alias("tokens_after"),
        (
            F.expr(
                "CAST((2 * removed_tok * 1000000 + n_tokens)"
                " div (2 * n_tokens) AS BIGINT)"
            ).cast("double")
            / 1000000.0
        ).alias("removed_share"),
    )


def boilerplate_scrub_ledger(docs: DataFrame) -> DataFrame:
    """Core of ``x2_boilerplate_scrub`` over an arbitrary
    (doc_id, text) frame — split out so crafted corpora (identical doc
    pairs, partially-quoted docs) pin the ledger exactly in pytest."""
    c = scrub_segment_rows(docs)
    g = c.groupBy("seg_md5").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("canonical_doc"),
    )
    return scrub_doc_rollup(
        c.join(g, "seg_md5"),
        (F.col("nd") >= 2) & (F.col("doc_id") != F.col("canonical_doc")),
    )


# ---------------------------------------------------------------------------
# X-2 (r11): URL canonicalization dedup (crawl frontier / recrawl collapse)
# ---------------------------------------------------------------------------

#: synthetic raw-URL assignment: ~120 logical pages, each reachable
#: through case/port/www/trailing-slash/tracking-param variants spread
#: across doc_id slices (the fixture-injection idiom) — the exact
#: variant surface a crawler's frontier sees for one logical page.
_URL_RAW_SQL = """
    CASE CAST(doc_id % 3 AS INT)
         WHEN 0 THEN 'https://WWW.Example.COM'
         WHEN 1 THEN 'https://www.example.com'
         ELSE 'https://www.example.com:443' END
    || '/a/' || CAST(doc_id % 120 AS STRING)
    || CASE WHEN doc_id % 5 = 2 THEN '/' ELSE '' END
    || CASE CAST(doc_id % 7 AS INT)
            WHEN 3 THEN '?utm_source=feed&utm_campaign=x'
            WHEN 5 THEN '?ref=tw'
            WHEN 6 THEN '?utm_medium=em&id=7'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 4 THEN '#section2' ELSE '' END
"""

#: tracking params stripped during canonicalization (shared regex)
_URL_TRACKING_RE = "^(utm_[a-z]+|ref)="

_URL_DEDUP_ORACLE = f"""
    WITH raw AS (
        SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
    ),
    s1 AS (  -- drop fragment, split base/query
        SELECT doc_id, url,
               regexp_replace(url, '#.*$', '') AS nofrag
        FROM raw
    ),
    s2 AS (
        SELECT doc_id, url,
               CASE WHEN strpos(nofrag, '?') > 0
                    THEN substr(nofrag, 1, strpos(nofrag, '?') - 1)
                    ELSE nofrag END AS base,
               CASE WHEN strpos(nofrag, '?') > 0
                    THEN substr(nofrag, strpos(nofrag, '?') + 1)
                    ELSE '' END AS qs
        FROM s1
    ),
    s3 AS (  -- lowercase authority, strip default port + www, trailing /
             -- (:443 strip carries 'g': Spark's regexp_replace is
             --  replace-all, rule 6 / ADVICE r11 item 3)
        SELECT doc_id, url,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           LOWER(regexp_extract(base, '^https?://[^/]+'))
                           || substr(base, len(regexp_extract(base, '^https?://[^/]+')) + 1),
                           ':443(/|$)', '\\1', 'g'),
                       '^(https?://)www\\.', '\\1'),
                   '/$', '') AS cbase,
               COALESCE(array_to_string(
                   list_sort(list_filter(string_split(qs, '&'),
                                         p -> len(p) > 0 AND NOT regexp_matches(p, '{_URL_TRACKING_RE}'))),
                   '&'), '') AS cq
        FROM s2
    ),
    canon AS (
        SELECT doc_id, url,
               cbase || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS curl
        FROM s3
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM canon
    GROUP BY curl
    HAVING COUNT(*) >= 2
    """


@query("x2_url_canonical_dedup", _URL_DEDUP_ORACLE)
def x2_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r11): URL CANONICALIZATION DEDUP — the crawl-side dedup that
    runs BEFORE any content hashing: collapse scheme-case, default-port,
    ``www.``, trailing-slash, fragment, and tracking-parameter
    (``utm_*``/``ref``) variants of the same logical page, keeping real
    query parameters (an ``id=7`` page does NOT merge with its bare
    sibling). A recrawl pipeline that skips this re-fetches and
    re-processes every variant as a new document — this is the cheapest
    dedup win a web corpus has, and it needs no content at all.

    Canonicalization is decomposed into engine-portable steps: fragment
    strip (regex), base/query split (strpos arithmetic), authority
    lowercase + port/www strip (anchored regexes on the extracted
    authority ONLY — never LOWER() on the whole URL, query values are
    case-significant), and query-param cleanup as split → filter
    (shared tracking regex) → SORT → re-join, so parameter ORDER also
    canonicalizes. The fixture corpus has no URLs, so raw URLs are
    injected deterministically over doc_id slices (shared SQL constant;
    the x4_unicode_anomaly idiom) with every variant class present —
    group structure is pinned in pytest against an independent Python
    urllib-free replica.

    Scale shape: pure per-row string projection (the lambda operates on
    a ≤2-element bounded param array — invariant 3 bounded reduction)
    + ONE canonical-url-keyed hash aggregate; no joins, uniform keys,
    scan-bound at any crawl size."""
    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    # the injection is rule-5 engine-portable SQL (CASE/%/||/CAST AS STRING
    # only), so Spark evaluates the SAME shared constant the oracle embeds —
    # a variant-class edit cannot desynchronize the two sides
    raw = docs.select("doc_id", F.expr(_URL_RAW_SQL).alias("url"))
    nofrag = F.regexp_replace("url", "#.*$", "")
    s2 = raw.select(
        "doc_id",
        "url",
        F.when(
            F.instr(nofrag, "?") > 0, F.substring_index(nofrag, "?", 1)
        )
        .otherwise(nofrag)
        .alias("base"),
        F.when(
            F.instr(nofrag, "?") > 0,
            F.expr("substr(regexp_replace(url, '#.*$', ''), instr(regexp_replace(url, '#.*$', ''), '?') + 1)"),
        )
        .otherwise(F.lit(""))
        .alias("qs"),
    )
    auth = F.regexp_extract("base", "^https?://[^/]+", 0)
    cbase = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.concat(
                    F.lower(auth),
                    F.expr(
                        "substr(base, length(regexp_extract(base, '^https?://[^/]+', 0)) + 1)"
                    ),
                ),
                ":443(/|$)",
                "$1",
            ),
            r"^(https?://)www\.",
            "$1",
        ),
        "/$",
        "",
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split("qs", "&"),
                lambda p: (F.length(p) > 0) & ~p.rlike(_URL_TRACKING_RE),
            )
        ),
        "&",
    )
    canon = s2.select(
        "doc_id",
        "url",
        F.concat(
            cbase,
            F.when(cq == "", F.lit("")).otherwise(F.concat(F.lit("?"), cq)),
        ).alias("curl"),
    )
    return (
        canon.groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("url").cast("bigint").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# X-2 (r11): crawl-frontier politeness scheduling
# ---------------------------------------------------------------------------

_FRONTIER_ORACLE = """
    WITH f AS (
        SELECT 'h' || CAST(doc_id % 7 AS STRING) || '.example.com' AS host,
               '/p/' || CAST(doc_id AS STRING) AS path,
               doc_id
        FROM documents
    ),
    w AS (
        SELECT host, doc_id,
               ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS wave
        FROM f
    )
    SELECT CAST(wave AS BIGINT) AS wave,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM w GROUP BY wave
    """


@query("x2_frontier_schedule", _FRONTIER_ORACLE)
def x2_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r11): CRAWL-FRONTIER POLITENESS SCHEDULING — the step after
    URL canonicalization and dedup (``x2_url_canonical_dedup``): assign
    every frontier URL a fetch WAVE such that no wave contains two URLs
    from the same host (one-request-per-host-per-interval politeness).
    The wave id is simply the URL's rank within its host — wave k is the
    k-th politeness slot — so the per-wave profile (URL count, distinct
    hosts) exposes the long-tail host skew that actually bounds crawl
    throughput: total crawl time = max per-host URL count × crawl delay,
    no matter how many fetchers run. Frontier hosts/paths are
    synthesized deterministically over doc_id slices (7 hosts — the
    fixture-injection idiom).

    Scale shape: ONE window over ONE host-keyed shuffle (rank within
    host), then a wave-keyed hash aggregate; hosts are the natural
    partition key of a frontier and the per-host rank is exactly the
    per-key sequential structure a real scheduler persists. No joins."""
    from pyspark.sql import Window

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id")
    f = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com")
        ).alias("host"),
        "doc_id",
    )
    w = f.select(
        "host",
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("host").orderBy("doc_id"))
        .alias("wave"),
    )
    return w.groupBy("wave").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    ).select(
        F.col("wave").cast("bigint").alias("wave"),
        "n_urls",
        "n_hosts",
        "first_doc",
        "last_doc",
    )
