"""Composed five-gate ingest stream (r13, VERDICT r12 item 6): the ONE
foreachBatch pipeline a landing zone actually deploys — near-dup gate →
boilerplate scrub (on arriving text) → PII gate (on post-scrub text) →
quality gate (raw text) → contamination gate (embeddings), in the
``operators/ingest_funnel.py`` order, emitting one per-doc funnel verdict
row per arrival.

Composition runs each gate's own code: the near-dup stage
(``neardup_ingest.neardup_stage``), the segment-ownership stage
(``scrub_ingest.segment_ownership``), ``scrub_segment_rows`` +
``scrub_pii_rollup``, ``gopher_stats``, ``train_contamination_rows``,
and the shared flag construction ``funnel_flag_rows`` — so no verdict
can drift from the batch fold or from the standalone gates.

State = exactly the union of the member gates' state: the signature +
band index (near-dup), the segment ledger (scrub), and the emitted
verdict rows (re-delivery guard). The PII / quality / contamination
stages are stateless per batch.

Stream ≡ batch: the member caveats COMPOSE — equality of the union of
per-doc rows with the batch fold (``ingest_funnel_rows``) holds for any
doc_id-ORDERED arrival split with no flooded band bucket (near-dup
later-member drop == larger-id drop; scrub first-writer == min-doc_id
canonical; the other three gates are stateless and split-invariant).
Out-of-order arrivals diverge one-sidedly at the near-dup and scrub
stages exactly as documented in their standalone modules. Pinned in
tests/test_full_ingest.py (one-batch and 3-way ordered splits).

Exactly-once: plain parquet appends with the anti-join re-delivery
guard (``out_dir``), written LAST (ADVICE r13 item 1): the state dirs
(signatures, bands, segment claims) come first, and each state append
anti-joins what is already on disk — so a crash anywhere between the
four writes replays to the same verdicts with no duplicate state. The
two shared stages also hide the batch's own pre-crash state from the
compute (ADVICE r14 item 1), so a replay cannot inflate the bucket-cap
count with its own bands; the cap boundary is pinned in
tests/test_full_ingest.py (bucket at exactly max_bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_active911_spark.operators.dedup import LSH_MAX_BUCKET, scrub_segment_rows
from etl_active911_spark.operators.ingest_funnel import (
    funnel_flag_rows,
    ingest_arrival_text,
    scrub_pii_rollup,
)
from etl_active911_spark.operators.similarity import (
    SEMCONTAM_EVAL_MOD,
    SEMCONTAM_EVAL_REM,
    semcontam_eval_block,
    train_contamination_rows,
)
from etl_active911_spark.operators.textual import gopher_stats
from etl_active911_spark.streaming.jobs import _read_or_none
from etl_active911_spark.streaming.neardup_ingest import neardup_stage
from etl_active911_spark.streaming.scrub_ingest import segment_ownership


def _stages_2_to_5(
    batch: DataFrame,
    surv: DataFrame,
    tr_all: DataFrame,
    ev: DataFrame,
    ledger_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """Stages 2-5 of the composed funnel over ONE micro-batch — scrub
    (first-writer segment ledger) → PII on kept segments → quality →
    contamination — shared by the dir-state fold below and the
    state-store twin (streaming/state_ingest.py), so the two paths
    cannot drift anywhere downstream of the near-dup verdict. ``batch``
    = every arrival (doc_id, source, text); ``surv`` = stage-1
    survivors (doc_id, text). Returns (verdict rows, this batch's new
    (seg_md5, owner_doc) ledger claims, ready for the idempotent
    append — see ``segment_ownership``)."""
    arrv = surv.select("doc_id", ingest_arrival_text().alias("text"))
    c = scrub_segment_rows(arrv, with_text=True).localCheckpoint(eager=True)
    owned, claims = segment_ownership(c, ledger_dir)
    flagged = owned.select(
        "doc_id", "n", "n_tok", "seg_txt",
        (F.col("owner_doc") != F.col("doc_id")).alias("removed"),
    )
    ledger = scrub_pii_rollup(flagged)

    # --- stage 4: quality (stateless per batch) ---
    quality = gopher_stats(batch.select("doc_id", "text")).select(
        "doc_id", F.col("keep").cast("int").alias("fq")
    )

    # --- stage 5: contamination (stateless; broadcast eval block) ---
    tr_batch = tr_all.join(
        batch.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    contam = train_contamination_rows(tr_batch, ev).select(
        F.col("vec_id").alias("doc_id"),
        F.col("quarantined").alias("ct_q"),
    )

    rows = funnel_flag_rows(
        batch.select("doc_id", "source"), ledger, quality, contam
    )
    return rows, claims


def run_full_ingest_stream(
    src: DataFrame,
    emb: DataFrame,
    sig_dir: str,
    bands_dir: str,
    ledger_dir: str,
    out_dir: str,
    ckpt: str,
    max_bucket: int = LSH_MAX_BUCKET,
    processing_time: str | None = None,
):
    """Start the composed gate over a streaming (doc_id, source, text)
    source; ``emb`` is the static (vec_id, embedding) table the
    contamination stage reads. Returns the StreamingQuery — availableNow
    trigger by default (the house ingest harness); pass
    ``processing_time`` (e.g. "500 milliseconds") for a LONG-LIVED
    deployment trigger, the mode the marginal-throughput benchmark
    measures (BASELINE.md r14: per-drain fixed cost dominates cold
    availableNow drains; a long-lived query amortizes it)."""
    is_eval = F.col("vec_id") % SEMCONTAM_EVAL_MOD == SEMCONTAM_EVAL_REM
    ev = semcontam_eval_block(emb.filter(is_eval))
    tr_all = emb.filter(~is_eval).select("vec_id", "embedding")

    def process(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.dropDuplicates(["doc_id"])
        out_old = _read_or_none(spark, out_dir)
        if out_old is not None:
            batch = batch.join(out_old.select("doc_id"), "doc_id", "left_anti")
        if not batch.take(1):
            return
        batch = batch.localCheckpoint(eager=True)  # feeds all five stages

        # --- stage 1: near-dup (neardup_ingest.neardup_stage) ---
        pairs, sigs_out, bands_out = neardup_stage(
            batch, sig_dir, bands_dir, max_bucket
        )
        # the LATER member (larger id ⇒ later arrival under ordered
        # splits) is dropped; historical docs are never retro-dropped
        dropped = (
            pairs.select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .join(batch.select("doc_id"), "doc_id", "left_semi")
        )
        surv = batch.join(dropped, "doc_id", "left_anti")

        # --- stages 2-5: shared with the state-store twin ---
        rows, claims = _stages_2_to_5(
            batch, surv.select("doc_id", "text"), tr_all, ev, ledger_dir
        )
        # State BEFORE verdict rows, each append idempotent (ADVICE r13
        # item 1): the out_dir re-delivery guard suppresses replay once
        # verdict rows exist, so a crash after writing rows but before
        # state would lose the batch's signatures/bands/claims FOREVER.
        # Written first, the state makes the crash window replayable: the
        # re-run recomputes the batch (rows still absent), and the shared
        # stages' anti-joins discard the state it already wrote.
        sigs_out.write.mode("append").parquet(sig_dir)
        bands_out.write.mode("append").parquet(bands_dir)
        claims.write.mode("append").parquet(ledger_dir)
        rows.write.mode("append").parquet(out_dir)

    writer = src.writeStream.foreachBatch(process).option(
        "checkpointLocation", ckpt
    )
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
