"""Streaming PII gate (X-4 at ingest): the fifth member of the
ingest-time family (near-dup, curation, boilerplate scrub, benchmark
contamination, PII).

Raw crawl text should not reach the landing zone carrying dense PII —
the gate decides AT ARRIVAL which documents are safe to auto-redact and
which are quarantined for manual scrubbing. Like the contamination gate
it is STATELESS: the verdict (pattern counts + quarantine flag) is a
pure per-row function via ``pii_verdict_rows`` — the SAME helper the
registered batch fold (``x4_pii_gate``) aggregates, so the patterns and
the PII_QUARANTINE_MIN threshold cannot drift between batch and stream.

Stream ≡ batch: no cross-arrival state, so the union of emitted verdict
rows over ANY arrival split equals the batch verdict table exactly, and
their source-grouped aggregate equals the registered fold (pinned in
tests/test_pii_ingest.py, including a replayed batch). Re-delivered
doc_ids are anti-joined against the emitted verdicts so replays append
nothing.

Exactly-once caveat: plain parquet appends, same note as the sibling
gates — production routes verdicts through the keyed upsert sink
(streaming/jobs.py, key doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_active911_spark.operators.textual import pii_verdict_rows
from etl_active911_spark.streaming.jobs import _read_or_none


def run_pii_stream(
    src: DataFrame,
    out_dir: str,
    ckpt: str,
):
    """Start the PII gate over a streaming (doc_id, source, text) source;
    returns the StreamingQuery (availableNow trigger, the house ingest
    harness)."""

    def process(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.dropDuplicates(["doc_id"])
        prior = _read_or_none(spark, out_dir)
        if prior is not None:
            batch = batch.join(prior.select("doc_id"), "doc_id", "left_anti")
        if not batch.take(1):
            return
        pii_verdict_rows(batch).write.mode("append").parquet(out_dir)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
