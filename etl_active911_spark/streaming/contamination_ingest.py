"""Streaming benchmark-contamination gate (X-2 at ingest): the fourth
member of the ingest-time family (near-dup, curation, boilerplate scrub,
contamination — VERDICT r11 item 6's trio plus this round's quartet
closer).

A training corpus must not absorb documents that are semantic duplicates
of held-out eval items — and the cheapest place to enforce that is AT
ARRIVAL, against the (small, fixed) eval-benchmark embedding block. The
gate is STATELESS (the cusum/hampel stateless-gate regime): per
micro-batch, every arriving train vector is scored against the broadcast
eval block and emits its verdict row exactly once — nearest eval item,
cosine, quarantine flag — via ``train_contamination_rows``, the SAME
helper the registered batch fold (``x2_contamination_gate``) uses, so τ
and the estimator cannot drift between batch and stream.

Stream ≡ batch: the verdict is a pure per-row function of (arriving
vector, eval block) — no cross-arrival state at all — so the union of
emissions over ANY arrival split equals the batch fold exactly (no
ordering caveat, no flood regime: the strongest equivalence contract in
the ingest family; pinned in tests/test_streaming.py). The ingest
gates' one re-delivery guard (``jobs.unseen_arrivals``, key vec_id)
drops vec_ids already in the emitted verdicts, so replays append
nothing.

Exactly-once caveat: plain parquet appends, same note as the sibling
gates — production routes verdicts through the keyed upsert sink
(streaming/jobs.py, key vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_active911_spark.operators.similarity import train_contamination_rows
from etl_active911_spark.streaming.jobs import unseen_arrivals


def run_contamination_stream(
    src: DataFrame,
    eval_block: DataFrame,
    out_dir: str,
    ckpt: str,
):
    """Start the gate over a streaming (vec_id, embedding) source;
    ``eval_block`` is the static (eval_id, qe, qn) benchmark table
    (build it with ``similarity.semcontam_eval_block`` and materialize
    once — it is the gate's entire 'state'). Returns the StreamingQuery
    (availableNow trigger, the house ingest harness)."""

    def process(batch: DataFrame, _batch_id: int) -> None:
        batch = unseen_arrivals(batch, "vec_id", out_dir)
        if batch is None:
            return
        rows = train_contamination_rows(
            batch.select("vec_id", "embedding"), eval_block
        )
        rows.write.mode("append").parquet(out_dir)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
