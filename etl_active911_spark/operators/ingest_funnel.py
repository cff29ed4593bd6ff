"""Composed at-ingest funnel (X-9, r13 — VERDICT r12 item 6): the five
ingest-time gates as ONE pipeline, in deployment order.

The five gates each carry an individual stream≡batch pin (near-dup,
curation/quality, boilerplate scrub, benchmark contamination, PII); a
landing zone runs them COMPOSED, and composition is where the
interactions live — dropping a near-dup changes segment ownership for
the scrub, and scrubbing a shared footer changes what the PII counter
sees. This module is the batch fold of that composed pipeline; the
foreachBatch twin is ``streaming/full_ingest.py``, and the per-doc flag
construction is shared (``funnel_flag_rows``) so the two cannot drift.

Pipeline order (each stage consumes the previous stage's survivors):

1. NEAR-DUP GATE on raw-content sketches — the sketch-only verdict of
   ``x2_stream_neardup`` (signature agreement ≥ NEARDUP_TAU_EQ/64 on
   LSH candidates); the LATER pair member (larger doc_id — the later
   arrival under the ordered splits the stream pins) is dropped.
2. BOILERPLATE SCRUB over the ARRIVING text of survivors — the
   ``x2_boilerplate_scrub`` segment rule (min-doc_id canonical keeps,
   everyone else loses the shared segment). The arriving text is the
   PII-augmented document (``textual.pii_aug_text``) plus, on the
   ``doc_id % FOOTER_MOD == FOOTER_REM`` slice, a SHARED 24-token
   support footer carrying 2 PII matches — prepended, so it occupies
   exactly one aligned scrub segment (SCRUB_SEG == 24).
3. PII GATE counted on the POST-SCRUB text (the pinned ordering
   decision): matches are summed over KEPT segments only, so a doc
   that loses the shared footer to the scrub does NOT pay its 2 PII
   matches — the scrub-before-PII interaction the composed pipeline
   exists to pin (tests/test_full_ingest.py proves quarantine counts
   differ from the PII-before-scrub order). Segment-wise counting is
   exact because the PII patterns are whitespace-free and segments are
   whole-token runs (property-pinned).
4. QUALITY GATE (Gopher rules) on the RAW text — authorship quality is
   a property of the document as written, not of what the scrub left.
5. CONTAMINATION GATE via the doc's embedding (fixture 1:1
   vec_id == doc_id): quarantined iff nearest eval-block cosine ≥ τ —
   the ``x2_contamination_gate`` verdict; docs on the eval slice or
   without a vector pass (they are not arriving train vectors).

Oracle-desync-proofing (the x9_curation_v8 discipline): the oracle nests
the standalone gate oracles verbatim — MINHASH_CTES + the agreement
predicate, the _SCRUB_ORACLE segment chain re-derived over the arrival
CTE, ``pii_aug_cte``/``pii_n_matches_sql``, ``quality_ctes``, and
``_CONTAM_GATE_ORACLE`` as a subquery.

Scale shape: stage 1 rides the memoized corpus signature table
(rule 25) and the join-free bucket-and-explode candidates (rule 18);
stage 2-3 is one segment explode + ONE md5-keyed hash aggregate + ONE
md5-keyed equi-join + a doc-keyed rollup (linear in corpus tokens);
stage 4 is the session-memoized gopher table; stage 5 broadcasts the
tiny eval block. The funnel itself is doc_id-keyed left joins + one
|sources|-group aggregate. Per-doc rows are memoized per (session,
sf_dir) — the registered query, the stream≡batch pin, and the
interaction pin all read them (rule 25).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from etl_active911_spark.functions.textpat import (
    PII_EMAIL,
    PII_PHONE,
    PII_QUARANTINE_MIN,
    PII_SSN,
    pii_aug_cte,
    pii_n_matches_sql,
)
from etl_active911_spark.io import read_table, spread
from etl_active911_spark.plans.registry import query

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

#: shared support footer: EXACTLY SCRUB_SEG (24) whitespace tokens, so
#: prepended it occupies one aligned scrub segment, byte-identical across
#: every doc on the slice; carries exactly 2 PII matches (1 email +
#: 1 phone, 0 ssn) — pinned in tests/test_full_ingest.py
INGEST_FOOTER = (
    "community help desk footer please call +1-555-0100 or email "
    "support@example.com for assistance with any account issue thanks "
    "kind regards from the support team today"
)
FOOTER_MOD = 6
#: residue 3, NOT 2 (rule 31 — CRT interaction with the PII tails):
#: doc_id ≡ 2 (mod 6) forces doc_id even AND ≡ 2 (mod 3), i.e. BOTH the
#: phone and email tails — every footer doc would be quarantined by its
#: tails alone and the scrub-before-PII interaction would be vacuous
#: (caught by the non-vacuity pin). Residue 3 pins doc_id odd and
#: ≡ 0 (mod 3): no phone, no email, only the mod-5 ssn tail varies —
#: so keeping vs losing the footer's 2 matches is exactly what flips
#: the quarantine verdict.
FOOTER_REM = 3


def ingest_arrival_text() -> "Column":
    """The text a document ARRIVES with: the PII-augmented body
    (``textual.pii_aug_text`` — verbatim, single source) with the shared
    footer prepended on the fixture slice. SQL twin inside
    ``_INGEST_FUNNEL_ORACLE``'s ``arrv`` CTE."""
    from etl_active911_spark.operators.textual import pii_aug_text

    return F.concat(
        F.when(
            F.col("doc_id") % FOOTER_MOD == FOOTER_REM,
            F.lit(INGEST_FOOTER + " "),
        ).otherwise(F.lit("")),
        pii_aug_text(),
    )


def pii_text_matches(col: "Column") -> "Column":
    """Total PII matches in a text column — delegates to the single
    shared counter (``textpat.pii_total_matches_col``; r13 review: the
    counting convention must not live in three places)."""
    from etl_active911_spark.functions.textpat import pii_total_matches_col

    return pii_total_matches_col(col)


def scrub_pii_ledger(arrv: "DataFrame") -> "DataFrame":
    """Stages 2+3 over an arriving (doc_id, text) frame with GLOBAL
    min-doc_id canonical ownership: per doc — tokens before, tokens
    after scrub, and the PII match count over KEPT segments only.
    The batch-fold ownership; the stream twin swaps in first-writer
    ownership (streaming/full_ingest.py) exactly as the standalone
    scrub gate does."""
    from etl_active911_spark.operators.dedup import scrub_segment_rows

    c = scrub_segment_rows(arrv, with_text=True)
    g = c.groupBy("seg_md5").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("canonical"),
    )
    k = c.join(g, "seg_md5").select(
        "doc_id",
        "n",
        "n_tok",
        "seg_txt",
        ((F.col("nd") >= 2) & (F.col("doc_id") != F.col("canonical"))).alias("removed"),
    )
    return scrub_pii_rollup(k)


def scrub_pii_rollup(k: "DataFrame") -> "DataFrame":
    """Doc rollup of flagged segment rows (doc_id, n, n_tok, seg_txt,
    removed): the funnel's ledger arithmetic, shared batch/stream."""
    kept = ~F.col("removed")
    return k.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tokens_after"),
        F.sum(F.when(kept, pii_text_matches(F.col("seg_txt"))).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("pii_post"),
    )


def funnel_flag_rows(
    base: "DataFrame",
    ledger: "DataFrame",
    quality: "DataFrame",
    contam: "DataFrame",
) -> "DataFrame":
    """Per-doc funnel verdict from the stage outputs — the SINGLE flag
    construction shared by the batch fold and the stream (the
    ``signature_agreement_pairs`` discipline). ``base`` = (doc_id,
    source) for every ARRIVED doc; ``ledger`` = stage-2/3 rows for
    near-dup SURVIVORS (absence ⇒ dropped at stage 1); ``quality`` =
    (doc_id, fq 0/1); ``contam`` = (doc_id, ct_q 0/1) for train
    vectors (absence ⇒ pass).

    CONTRACT (ADVICE r13 item 3): survival is inferred from ledger-row
    presence, so ``scrub_segment_rows`` MUST emit ≥ 1 segment row for
    every surviving doc — true today because every arrival text is
    non-null and non-empty (the footer injection alone guarantees one
    whole-token segment). If scrub ever changes to emit zero rows for
    some survivor (e.g. null text propagating through F.split), this
    inference breaks in Spark but not necessarily in the oracle's
    ledger CTE — pinned in
    tests/test_full_ingest.py::test_every_arrival_yields_a_segment_row."""
    f_nd = F.when(F.col("n_tokens").isNotNull(), 1).otherwise(0).cast("int")
    f_pii = (
        F.when(
            F.col("n_tokens").isNotNull()
            & (F.col("pii_post") < PII_QUARANTINE_MIN),
            1,
        )
        .otherwise(0)
        .cast("int")
    )
    return (
        base.join(ledger, "doc_id", "left")
        .join(quality, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            f_nd.alias("f_nd"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("tokens_after", F.lit(0)).cast("bigint").alias("tokens_after"),
            F.coalesce("pii_post", F.lit(0)).cast("bigint").alias("pii_post"),
            f_pii.alias("f_pii"),
            F.coalesce("fq", F.lit(0)).cast("int").alias("f_q"),
            F.when(F.coalesce("ct_q", F.lit(0)) == 1, 0).otherwise(1).cast("int").alias("f_ct"),
        )
    )


def _build_funnel_rows(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    from etl_active911_spark.operators.dedup import (
        lsh_candidate_pairs,
        shared_minhash_sigs,
        signature_agreement_pairs,
    )
    from etl_active911_spark.operators.similarity import (
        SEMCONTAM_EVAL_MOD,
        SEMCONTAM_EVAL_REM,
        semcontam_eval_block,
        train_contamination_rows,
    )
    from etl_active911_spark.operators.textual import shared_gopher_rules

    docs = spread(read_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "source", "text"
    )
    sigs = shared_minhash_sigs(spark, sf_dir)
    pairs = signature_agreement_pairs(lsh_candidate_pairs(docs, sigs=sigs), sigs)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    surv = docs.join(dropped, "doc_id", "left_anti")
    ledger = scrub_pii_ledger(
        surv.select("doc_id", ingest_arrival_text().alias("text"))
    )
    quality = shared_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("fq")
    )
    emb = spread(read_table(spark, sf_dir, "embeddings"))
    is_eval = F.col("vec_id") % SEMCONTAM_EVAL_MOD == SEMCONTAM_EVAL_REM
    contam = train_contamination_rows(
        emb.filter(~is_eval).select("vec_id", "embedding"),
        semcontam_eval_block(emb.filter(is_eval)),
    ).select(F.col("vec_id").alias("doc_id"), F.col("quarantined").alias("ct_q"))
    return funnel_flag_rows(docs.select("doc_id", "source"), ledger, quality, contam)


def ingest_funnel_rows(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-doc composed-funnel verdicts, memoized per (session, sf_dir)
    (rule 25: consumed by the registered aggregate, the stream≡batch
    pin, and the interaction pin). Fingerprints every table: the funnel
    reads documents and embeddings."""
    from etl_active911_spark.plans.cache import fixture_memo

    return fixture_memo(
        "ingest.funnel_rows", spark, sf_dir, lambda: _build_funnel_rows(spark, sf_dir), table="*"
    )


def _funnel_f_ctes() -> str:
    from etl_active911_spark.operators.dedup import (
        _MINHASH_EST_NEQ_SQL,
        MINHASH_CTES,
        NEARDUP_TAU_EQ,
        SCRUB_SEG,
    )
    from etl_active911_spark.operators.similarity import _CONTAM_GATE_ORACLE
    from etl_active911_spark.operators.textual import quality_ctes

    pii_sum = " + ".join(
        pii_n_matches_sql("seg_txt", p) for p in (PII_EMAIL, PII_PHONE, PII_SSN)
    )
    return f"""
    WITH {MINHASH_CTES},
    nd_est AS (
        SELECT c.doc_a, c.doc_b, ({_MINHASH_EST_NEQ_SQL}) AS n_eq
        FROM cand c
        JOIN sigs a ON a.doc_id = c.doc_a
        JOIN sigs b ON b.doc_id = c.doc_b
    ),
    nd_drop AS MATERIALIZED (
        SELECT DISTINCT doc_b AS doc_id FROM nd_est
        WHERE n_eq >= {NEARDUP_TAU_EQ}
    ),
    {pii_aug_cte()},
    arrv AS (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % {FOOTER_MOD} = {FOOTER_REM}
                    THEN '{INGEST_FOOTER} ' ELSE '' END || a.aug AS t
        FROM aug a
        WHERE a.doc_id NOT IN (SELECT doc_id FROM nd_drop)
    ),
    ibase AS (
        SELECT doc_id,
               string_split_regex(TRIM(t), '\\s+') AS toks,
               len(string_split_regex(TRIM(t), '\\s+')) AS n
        FROM arrv
    ),
    iseg AS (
        SELECT doc_id, toks, n, unnest(range(0, n, {SCRUB_SEG})) AS start
        FROM ibase
    ),
    iscseg AS MATERIALIZED (
        SELECT doc_id, n,
               CAST(LEAST({SCRUB_SEG}, n - start) AS BIGINT) AS n_tok,
               array_to_string(toks[start + 1 : start + {SCRUB_SEG}], ' ')
                   AS seg_txt,
               md5(array_to_string(toks[start + 1 : start + {SCRUB_SEG}], ' '))
                   AS seg_md5
        FROM iseg
    ),
    ig AS (
        SELECT seg_md5, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS canonical
        FROM iscseg GROUP BY seg_md5
    ),
    ledger AS (
        SELECT iscseg.doc_id,
               CAST(MAX(iscseg.n) AS BIGINT) AS n_tokens,
               CAST(MAX(iscseg.n)
                    - SUM(CASE WHEN ig.nd >= 2 AND iscseg.doc_id <> ig.canonical
                               THEN iscseg.n_tok ELSE 0 END) AS BIGINT)
                   AS tokens_after,
               CAST(SUM(CASE WHEN ig.nd >= 2 AND iscseg.doc_id <> ig.canonical
                             THEN 0 ELSE {pii_sum} END) AS BIGINT) AS pii_post
        FROM iscseg JOIN ig USING (seg_md5)
        GROUP BY iscseg.doc_id
    ),
    {quality_ctes()},
    ct AS (SELECT vec_id, quarantined FROM ({_CONTAM_GATE_ORACLE})),
    f AS MATERIALIZED (
        -- embeds the ENTIRE five-gate chain and the ablation oracle
        -- references it three times (cells + two survivor-total scalar
        -- subqueries): MATERIALIZED per rule 27
        SELECT d.doc_id, d.source,
               CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_nd,
               COALESCE(l.tokens_after, 0) AS tokens_after,
               CASE WHEN l.doc_id IS NOT NULL
                         AND l.pii_post < {PII_QUARANTINE_MIN}
                    THEN 1 ELSE 0 END AS f_pii,
               CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_q,
               CASE WHEN COALESCE(ct.quarantined, 0) = 1 THEN 0 ELSE 1 END AS f_ct
        FROM documents d
        LEFT JOIN ledger l ON l.doc_id = d.doc_id
        LEFT JOIN quality q ON q.doc_id = d.doc_id
        LEFT JOIN ct ON ct.vec_id = d.doc_id
    )
    """


def _ingest_funnel_oracle() -> str:
    return f"""
    {_funnel_f_ctes()}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_arrived,
           CAST(SUM(f_nd) AS BIGINT) AS n_unique,
           CAST(SUM(f_nd * f_pii) AS BIGINT) AS n_pii_ok,
           CAST(SUM(f_nd * f_pii * f_q) AS BIGINT) AS n_quality,
           CAST(SUM(f_nd * f_pii * f_q * f_ct) AS BIGINT) AS n_final,
           CAST(SUM(f_nd * f_pii * f_q * f_ct * tokens_after) AS BIGINT)
               AS tokens_final,
           CAST((2 * SUM(f_nd * f_pii * f_q * f_ct) * 1000000 + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS final_rate_micro
    FROM f GROUP BY source
    """


@query("x9_ingest_funnel", _ingest_funnel_oracle())
def x9_ingest_funnel(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """X-9 (r13): the COMPOSED five-gate ingest funnel, per source —
    module docstring has the order and the interaction contract; the
    foreachBatch twin is ``streaming/full_ingest.py`` and the stream ≡
    batch equivalence is pinned in tests/test_full_ingest.py."""
    rows = ingest_funnel_rows(spark, sf_dir)
    final = F.col("f_nd") * F.col("f_pii") * F.col("f_q") * F.col("f_ct")
    agg = rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arrived"),
        F.sum("f_nd").cast("bigint").alias("n_unique"),
        F.sum(F.col("f_nd") * F.col("f_pii")).cast("bigint").alias("n_pii_ok"),
        F.sum(F.col("f_nd") * F.col("f_pii") * F.col("f_q"))
        .cast("bigint")
        .alias("n_quality"),
        F.sum(final).cast("bigint").alias("n_final"),
        F.sum(final * F.col("tokens_after")).cast("bigint").alias("tokens_final"),
    )
    return agg.select(
        "source",
        "n_arrived",
        "n_unique",
        "n_pii_ok",
        "n_quality",
        "n_final",
        "tokens_final",
        F.expr(
            "CAST((2 * n_final * 1000000 + n_arrived) div (2 * n_arrived)"
            " AS BIGINT)"
        ).alias("final_rate_micro"),
    )


def _ingest_ablation_oracle() -> str:
    return f"""
    {_funnel_f_ctes()}
    SELECT f_pii, f_q, f_ct,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens_after) AS BIGINT) AS tokens_mass,
           CAST((2 * COUNT(*) * 1000000
                 + (SELECT SUM(f_nd) FROM f))
                // (2 * (SELECT SUM(f_nd) FROM f)) AS BIGINT)
               AS share_micro
    FROM f WHERE f_nd = 1
    GROUP BY 1, 2, 3
    """


@query("x9_ingest_ablation", _ingest_ablation_oracle())
def x9_ingest_ablation(spark: "SparkSession", sf_dir: str) -> DataFrame:
    """X-9 (r13): INGEST-GATE ABLATION MATRIX — the ``x9_gate_ablation``
    analysis applied to the COMPOSED funnel: every (PII, quality,
    contamination) flag combination among near-dup survivors with its
    doc count, post-scrub token mass, and survivor share. Where
    ``x9_ingest_funnel`` reports attrition under the fixed pipeline
    order, this shows which gate is BINDING (mass in exactly-one-zero
    cells), which are redundant (mass where zeros co-occur), and what
    dropping a gate would recover — the table a landing-zone tuning
    review prints. Near-dup stays un-ablated on purpose: it is the
    stage that DEFINES the survivor population the other gates see.

    Oracle-desync-proofing: nests the funnel's full f-CTE chain
    verbatim (``_funnel_f_ctes`` — one definition for both queries).

    Scale shape: everything upstream is the memoized funnel rows
    (rule 25); the matrix is one ≤8-group aggregate plus a 1-row
    survivor total. Output: ≤8 rows."""
    rows = ingest_funnel_rows(spark, sf_dir).filter(F.col("f_nd") == 1)
    from etl_active911_spark.plans.cache import scoped_persist

    rows = scoped_persist("x9_ingest_ablation.rows", rows)  # cells + total
    tot = rows.agg(F.count(F.lit(1)).cast("bigint").alias("n_surv"))
    cells = rows.groupBy("f_pii", "f_q", "f_ct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tokens_after").cast("bigint").alias("tokens_mass"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "f_pii",
        "f_q",
        "f_ct",
        "n_docs",
        "tokens_mass",
        F.expr(
            "CAST((2 * n_docs * 1000000 + n_surv) div (2 * n_surv) AS BIGINT)"
        ).alias("share_micro"),
    )


#: pipeline-order route labels (first failing gate claims the doc)
INGEST_ROUTES = (
    "dropped_dup",
    "quarantined_pii",
    "rejected_quality",
    "quarantined_contam",
    "admitted",
)

_ROUTE_CASE = (
    "CASE WHEN f_nd = 0 THEN 'dropped_dup'"
    " WHEN f_pii = 0 THEN 'quarantined_pii'"
    " WHEN f_q = 0 THEN 'rejected_quality'"
    " WHEN f_ct = 0 THEN 'quarantined_contam'"
    " ELSE 'admitted' END"
)


def _ingest_routing_oracle() -> str:
    return f"""
    {_funnel_f_ctes()}
    SELECT source, {_ROUTE_CASE} AS route,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens_after) AS BIGINT) AS tokens_after
    FROM f GROUP BY 1, 2
    """


@query("x9_ingest_routing", _ingest_routing_oracle())
def x9_ingest_routing(spark: "SparkSession", sf_dir: str) -> DataFrame:
    """X-9 (r13): QUARANTINE ROUTING TABLE — the operational face of the
    composed funnel: every arriving document lands in EXACTLY ONE queue,
    attributed to the FIRST gate that fails it in pipeline order
    (dropped_dup → quarantined_pii → rejected_quality →
    quarantined_contam → admitted). This is the table the landing
    zone's downstream consumers read: the dedup reaper gets
    dropped_dup, manual scrubbing gets quarantined_pii, the code/low-
    quality sink gets rejected_quality, the eval-protection hold gets
    quarantined_contam, training ingestion gets admitted. Per (source,
    route): doc count and post-scrub token mass (zero for stage-1
    drops — they were never scrubbed).

    Partition-of-arrivals is the contract (pinned): per source the
    route counts sum to n_arrived, and each route's count equals the
    corresponding funnel-stage difference. Oracle nests the funnel's
    MATERIALIZED f-CTE chain verbatim (``_funnel_f_ctes``).

    Scale shape: the memoized funnel rows + one (source, route)-keyed
    hash aggregate; ≤ |sources|·5 rows out."""
    rows = ingest_funnel_rows(spark, sf_dir)
    return (
        rows.select("source", F.expr(_ROUTE_CASE).alias("route"), "tokens_after")
        .groupBy("source", "route")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tokens_after").cast("bigint").alias("tokens_after"),
        )
    )
