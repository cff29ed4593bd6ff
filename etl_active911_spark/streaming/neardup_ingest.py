"""Streaming near-duplicate gate (X-2 at ingest): MinHash-LSH dedup as a
continuously-fed job with SIGNATURE-ONLY state.

The batch near-dup pipeline answers "what duplicates exist"; a crawl
landing zone needs "is this arriving page a near-dup of anything seen" —
without holding raw text. This job keeps exactly the state the 100 TB
design stores anyway (the materialized signature index the
``x2_incremental_neardup`` docstring names): 64 minhashes per document in
``sig_dir`` PLUS the 16 band rows per document in ``bands_dir`` — band
keys are materialized once at arrival and only READ back afterwards, so
per-batch work is |batch| signature computation + aggregates/joins
against pre-materialized index rows, never a recompute over history.
Each micro-batch:

1. drop re-delivered doc_ids against the signature store
   (``jobs.unseen_arrivals``, the ingest gates' one re-delivery guard —
   the store is first-writer-wins, which also makes a replayed batch
   emit no self-pairs; re-ingest-as-update would route through the keyed
   upsert sink instead);
2. ``neardup_stage``, the one near-dup stage the composed funnel
   (streaming/full_ingest.py) runs too: signatures + band rows for the
   arriving docs (the batch operators, unchanged); the hot-bucket guard
   on the TOTAL bucket size (historical + arriving members per band key)
   — the same ``LSH_MAX_BUCKET`` accounting the batch fold applies, so
   the cap cannot be defeated by feeding a flood one batch at a time;
   candidates = within-batch bucket pairs (join-free bucket-and-explode,
   CLAUDE.md rule 18) ∪ arriving-band × historical-band equi-join, both
   restricted to under-cap buckets; the dedup verdict from
   ``signature_agreement_pairs`` — the SAME helper the batch equivalent
   uses (est. Jaccard ≥ 0.5; no raw text is ever read back, so state
   never grows beyond sketches);
3. append the new band rows, the new verdict pairs, then the new
   signatures.

Stream ≡ batch: band membership is append-only, so each pair is
discovered exactly once — when its later member arrives — and the union
of emissions over any arrival split equals the batch fold
(``x2_stream_neardup``) whenever no bucket ever exceeds the cap. A
bucket that DOES cross the cap diverges one-sidedly: the stream already
emitted the pairs it discovered while the bucket was small and cannot
retract them, while the batch fold drops the whole bucket. Both regimes
are pinned in tests/test_streaming.py.

Exactly-once: plain parquet appends over a replayable source. The
signature store is the re-delivery guard, so it is written LAST; the
bands and pairs before it are each anti-joined against what is already
on disk (pairs on ``(doc_a, doc_b)``), and the stage hides the batch's
own pre-crash rows from the bucket cap and the candidate join. A crash
between any two appends therefore replays to the batch fold's pairs with
no duplicate row in any directory (pinned in tests/test_full_ingest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_active911_spark.operators.dedup import (
    LSH_MAX_BUCKET,
    lsh_band_rows,
    minhash_signatures,
    signature_agreement_pairs,
)
from etl_active911_spark.streaming.jobs import _read_or_none, unseen_arrivals


def neardup_stage(
    batch: DataFrame, sig_dir: str, bands_dir: str, max_bucket: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The near-dup stage over one micro-batch of (doc_id, text) arrivals
    against the signature + band index on disk. Returns ``(pairs,
    sigs_out, bands_out)``: the agreement pairs (within the batch and
    against history), and the batch's signature and band rows minus any
    already on disk, ready for an idempotent append.

    The candidate and agreement steps read the disk state with the
    batch's own doc_ids removed: after a crash between appends, a
    replayed batch must not see its pre-crash rows, which would inflate
    the bucket cap's historical count (dropping buckets that were under
    the cap the first time) and pair the batch with itself."""
    spark = batch.sparkSession
    batch_ids = batch.select("doc_id")
    sigs_disk = _read_or_none(spark, sig_dir)
    bands_disk = _read_or_none(spark, bands_dir)
    # shared by band rows, the agreement join and the append: eager
    # localCheckpoint (rule 17 — inside foreachBatch each batch is its
    # own scope)
    sigs_new = minhash_signatures(batch).localCheckpoint(eager=True)
    bands_new = lsh_band_rows(sigs_new).localCheckpoint(eager=True)
    buckets = bands_new.groupBy("band_key").agg(
        F.collect_list("doc_id").alias("ids"),
        F.count(F.lit(1)).alias("n_new"),
    )
    n_total = F.col("n_new")
    if bands_disk is not None:
        bands_old = bands_disk.join(batch_ids, "doc_id", "left_anti")
        old_sizes = bands_old.groupBy("band_key").agg(F.count(F.lit(1)).alias("n_old"))
        buckets = buckets.join(old_sizes, "band_key", "left")
        n_total = n_total + F.coalesce("n_old", F.lit(0))
    # TOTAL bucket size — historical + arriving — mirrors the batch
    # fold's LSH_MAX_BUCKET accounting (a flood fed one batch at a
    # time stops producing pairs the moment the bucket crosses the cap)
    ok = buckets.filter(n_total <= max_bucket)
    cands = (
        ok.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    bands_out = bands_new
    if bands_disk is not None:
        cross = (
            bands_new.withColumnRenamed("doc_id", "doc_n")
            .join(ok.select("band_key"), "band_key")
            .join(bands_old.withColumnRenamed("doc_id", "doc_o"), "band_key")
            .select(
                F.least("doc_o", "doc_n").alias("doc_a"),
                F.greatest("doc_o", "doc_n").alias("doc_b"),
            )
        )
        cands = cands.unionByName(cross)
        bands_out = bands_new.join(
            bands_disk.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    all_sigs = sigs_out = sigs_new
    if sigs_disk is not None:
        all_sigs = sigs_disk.join(batch_ids, "doc_id", "left_anti").unionByName(sigs_new)
        sigs_out = sigs_new.join(sigs_disk.select("doc_id"), "doc_id", "left_anti")
    pairs = signature_agreement_pairs(cands.distinct(), all_sigs)
    return pairs, sigs_out, bands_out


def run_neardup_stream(
    src: DataFrame,
    sig_dir: str,
    bands_dir: str,
    pairs_dir: str,
    ckpt: str,
    max_bucket: int = LSH_MAX_BUCKET,
):
    """Start the gate over a streaming (doc_id, text) source; returns the
    StreamingQuery (availableNow trigger — drain-what's-there semantics,
    same harness as ann_ingest/curation_ingest). ``max_bucket`` is
    parameterized so tests can pin the flood guard at toy scale."""

    def process(batch: DataFrame, _batch_id: int) -> None:
        batch = unseen_arrivals(batch, "doc_id", sig_dir)
        if batch is None:
            return
        pairs, sigs_out, bands_out = neardup_stage(
            batch, sig_dir, bands_dir, max_bucket
        )
        pairs_old = _read_or_none(batch.sparkSession, pairs_dir)
        if pairs_old is not None:
            pairs = pairs.join(
                pairs_old.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
            )
        # the re-delivery guard (signatures) last: a crash before it
        # replays the batch, and the anti-joins keep the replay's appends
        # to what the crash left unwritten
        bands_out.write.mode("append").parquet(bands_dir)
        pairs.write.mode("append").parquet(pairs_dir)
        sigs_out.write.mode("append").parquet(sig_dir)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
