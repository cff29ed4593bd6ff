"""Streaming boilerplate scrub (X-2 at ingest): C4-style line dedup as a
continuously-fed job with a SEGMENT-LEDGER state — the third member of
the ingest-time trio (near-dup gate, curation gate, boilerplate scrub;
VERDICT r11 item 6).

The batch fold (``x2_boilerplate_scrub``) answers "which passages repeat
across the corpus and who keeps them"; a crawl landing zone needs "which
of THIS arriving page's passages are already owned" — decided at
arrival, holding no raw text beyond the current micro-batch. State is
exactly the index the 100 TB design stores anyway: one
(seg_md5, owner_doc) row per DISTINCT segment ever seen (``ledger_dir``)
plus the emitted per-doc scrub ledgers (``out_dir``, which doubles as
the re-delivery guard). Each micro-batch:

1. drop re-delivered doc_ids against the emitted ledger
   (``jobs.unseen_arrivals``, the ingest gates' one re-delivery guard —
   first-writer-wins, so a replayed batch cannot re-claim or re-scrub);
2. segment rows for the arriving docs via ``scrub_segment_rows`` — the
   SAME chunker the batch fold uses (shared-helper discipline, the
   ``signature_agreement_pairs`` precedent);
3. ownership: a segment already in the ledger is owned by its historical
   first writer; a segment new to the ledger is claimed by the MIN
   doc_id holding it within this batch (so a single all-at-once batch
   reproduces the batch fold exactly);
4. the scrub verdict per segment occurrence: REMOVED iff the owner is
   another document (same rule as batch: the canonical copy keeps ALL
   its occurrences, every other document loses all of its);
5. per-doc ledger rows via ``scrub_doc_rollup`` — the same arithmetic
   (exact BIGINTs, rule-26b half-up micro-division) as the batch fold;
6. append the NEW ledger claims, then the per-doc rows.

Steps 3-4 are ``segment_ownership``, the one ownership stage the
composed funnel (streaming/full_ingest.py) runs too.

Stream ≡ batch: segment ownership is append-only (first writer keeps —
the ledger is never rewritten), so the union of per-doc emissions over
any arrival split equals the batch fold (global MIN-doc_id canonical)
whenever every segment's MIN-doc_id holder arrives no later than any
other holder — in particular for any doc_id-ordered split, and trivially
for the one-batch split. An OUT-OF-ORDER split diverges one-sidedly and
honestly: a duplicate that arrives before its smaller-id sibling is the
corpus's first copy at that moment, keeps the passage, and the later
smaller-id arrival is scrubbed — arrival precedence is the only
causally-available policy at ingest (the batch fold, seeing everything,
re-assigns by MIN doc_id). Both regimes are pinned in
tests/test_streaming.py.

No hot-bucket guard is needed (unlike the near-dup gate): work is LINEAR
in batch segments — one ledger equi-join on the uniform md5 key and one
doc-keyed roll-up; a boilerplate flood makes ledger HITS, not pair
fan-out.

Exactly-once: plain parquet appends over a replayable source. The
emitted ledger (``out_dir``) is the re-delivery guard, so it is written
LAST; the claims before it are anti-joined against the segment ledger.
A crash between the two appends replays the batch: its claims are
already on disk, so ownership resolves to the same owners, no claim is
appended twice, and the per-doc rows equal the batch fold's (pinned in
tests/test_full_ingest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_active911_spark.operators.dedup import (
    scrub_doc_rollup,
    scrub_segment_rows,
)
from etl_active911_spark.streaming.jobs import _read_or_none, unseen_arrivals


def segment_ownership(segs: DataFrame, ledger_dir: str) -> tuple[DataFrame, DataFrame]:
    """First-writer segment ownership for one micro-batch's segment rows
    (``seg_md5``, ``doc_id``, ...) against the ledger in ``ledger_dir``. A
    segment already in the ledger keeps its historical owner; a new one is
    claimed by the MIN doc_id holding it in this batch. Returns ``(owned,
    claims)``: ``segs`` joined to its owner (column ``owner_doc``), and the
    batch's new (seg_md5, owner_doc) ledger rows — localCheckpoint'd and
    already anti-joined against the ledger, ready for the idempotent
    append."""
    led_old = _read_or_none(segs.sparkSession, ledger_dir)
    claims = segs.groupBy("seg_md5").agg(F.min("doc_id").alias("owner_doc"))
    if led_old is not None:
        led_old = led_old.select("seg_md5", "owner_doc")
        claims = claims.join(led_old, "seg_md5", "left_anti")
    claims = claims.localCheckpoint(eager=True)  # feeds the verdict and the append
    owners = claims if led_old is None else claims.unionByName(led_old)
    return segs.join(owners, "seg_md5"), claims


def run_scrub_stream(
    src: DataFrame,
    ledger_dir: str,
    out_dir: str,
    ckpt: str,
):
    """Start the scrub gate over a streaming (doc_id, text) source;
    returns the StreamingQuery (availableNow trigger — drain-what's-there
    semantics, the ann_ingest/neardup_ingest harness)."""

    def process(batch: DataFrame, _batch_id: int) -> None:
        batch = unseen_arrivals(batch, "doc_id", out_dir)
        if batch is None:
            return
        # segment rows feed the ownership aggregate AND the rollup join:
        # eager localCheckpoint (rule 17 — per-batch scope)
        c = scrub_segment_rows(batch).localCheckpoint(eager=True)
        owned, claims = segment_ownership(c, ledger_dir)
        rows = scrub_doc_rollup(owned, F.col("owner_doc") != F.col("doc_id"))
        # the re-delivery guard (out_dir) last, as in the composed funnel
        claims.write.mode("append").parquet(ledger_dir)
        rows.write.mode("append").parquet(out_dir)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
