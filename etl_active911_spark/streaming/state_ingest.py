"""Composed five-gate ingest with STATE-STORE-backed near-dup state
(r15, VERDICT r14 item 4): the signature + band index lives in Spark's
streaming state store (`applyInPandasWithState`, keyed by band bucket)
instead of the two parquet state dirs the `full_ingest` fold re-reads
every micro-batch.

Why this path exists — the r14 long-lived-trigger measurement pinned the
dir-fold's per-batch FIXED cost at ~7 s (four state-dir re-reads + three
localCheckpoints + four writes), which dominates sub-1000-doc batches.
Moving the sig/band state into the state store removes the two largest
re-reads AND their appends: per-batch state work becomes an incremental
read/write of exactly the TOUCHED band buckets, transactional with the
checkpoint. BASELINE.md r15 records the measured marginal docs/s for
both paths under the identical protocol.

Pipeline (ONE streaming query — contrast full_ingest's pure foreachBatch):

1. `mapInPandas`: per-doc 64-minhash signature via `dedup.py_minhash`,
   the bit-exact Python replica of `minhash_signatures` (the Spark form
   is a groupBy aggregate — itself a stateful operator, which Spark
   cannot chain into `applyInPandasWithState`; bit-equality pinned in
   tests/test_state_ingest.py).
2. Band explode (stateless select): the SAME xxhash64 band keys as
   `lsh_band_rows` (F.lit(band) + the band's 4 signature values — JVM
   expression over the sig array, so keys bit-match the batch fold).
   Band row 0 carries (text, source); the other 15 carry the sig only.
3. `applyInPandasWithState` keyed by band_key — per bucket the state is
   (member count, member ids, member signatures); each batch verifies
   within-batch and arrival×member candidate pairs by signature
   agreement (≥ NEARDUP_TAU_EQ of 64, the shared verdict) and emits the
   per-band drop decisions plus the band-0 carrier rows. The
   LSH_MAX_BUCKET accounting mirrors the fold exactly: pairs only from
   buckets whose TOTAL (old+new) size fits the cap; every arrival is
   appended to state regardless (the fold appends dropped docs' band
   rows too); a bucket past the cap keeps only its count (it can never
   produce pairs again — counts grow monotonically — so per-key state
   is bounded by cap·(8 B id + 512 B sig), then 8 B).
4. `foreachBatch`: reassemble per-doc (dropped, text, source), then
   stages 2-5 via the shared `_stages_2_to_5` (the scrub gate's
   `segment_ownership` included) — the scrub ledger and verdict rows
   stay parquet dirs (the verdict item scoped the state-store move to
   the signature+band state).

Crash-window note: the r14 dir-fold needed explicit state-before-rows
ordering + self-state anti-joins to make the crash window replayable.
Here the sig/band state commits ATOMICALLY with the micro-batch in the
checkpoint — a replayed batch starts from the pre-batch state version,
so the replayed-self-state hazard (ADVICE r14 item 1) cannot occur for
stages 1; the ledger/out dirs keep the fold's idempotent-append guards.

Stream ≡ batch: identical caveats to `full_ingest` (doc_id-ordered
splits, no flooded bucket) — pinned against the SAME batch fold in
tests/test_state_ingest.py.

Re-delivery: a re-delivered doc_id is skipped inside its band buckets
(it is a state member) so it emits no carrier row and cannot form
self-pairs; the out_dir anti-join in foreachBatch remains the guard for
docs whose bucket already overflowed (member ids dropped with the cap).

100 TB shape: the banding shuffle carries 16 rows/doc of (8 B key +
512 B sig) plus ONE text copy (the carrier band) — the raw text is
never replicated per band. State access is proportional to the batch's
touched buckets, not to history; RocksDB swaps in for the default
provider via config only.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_active911_spark.io import spread
from etl_active911_spark.operators.dedup import (
    LSH_MAX_BUCKET,
    N_BANDS,
    N_HASHES,
    NEARDUP_TAU_EQ,
    ROWS_PER_BAND,
    py_minhash,
)
from etl_active911_spark.operators.similarity import (
    SEMCONTAM_EVAL_MOD,
    SEMCONTAM_EVAL_REM,
    semcontam_eval_block,
)
from etl_active911_spark.streaming.full_ingest import _stages_2_to_5
from etl_active911_spark.streaming.jobs import _read_or_none

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Test hook (tests/test_state_ingest.py): raise between the ledger and
#: rows writes to exercise the transactional epoch replay.
_CRASH_AFTER_LEDGER = False

_SIG_SCHEMA = "doc_id long, source string, text string, sig array<long>"
_GATE_OUT_SCHEMA = "doc_id long, dropped int, text string, source string"
_GATE_STATE_SCHEMA = "n long, ids binary, sigs binary"


def _sig_batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """mapInPandas body: append the 64-minhash signature column (one
    Arrow batch in, one out; per-doc Python cost is the md5-per-shingle
    loop the batch plan pays JVM-side)."""
    for pdf in it:
        out = pdf[["doc_id", "source", "text"]].copy()
        out["sig"] = [py_minhash(t) for t in pdf["text"]]
        yield out


def _band_rows(sigged: DataFrame) -> DataFrame:
    """Stateless band explode with carrier-on-band-0 text/source; band
    keys bit-match `lsh_band_rows` (same xxhash64 argument shapes —
    IntegerType band literal + LongType signature values)."""
    bs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.element_at(F.col("sig"), b * ROWS_PER_BAND + r + 1)
                            for r in range(ROWS_PER_BAND)
                        ],
                    ).alias("band_key"),
                )
                for b in range(N_BANDS)
            ]
        )
    ).alias("bs")
    carrier = F.col("bs.band_idx") == 0
    return sigged.select("doc_id", "source", "text", "sig", bs).select(
        F.col("bs.band_key").alias("band_key"),
        F.col("bs.band_idx").alias("band_idx"),
        "doc_id",
        "sig",
        F.when(carrier, F.col("text")).alias("text"),
        F.when(carrier, F.col("source")).alias("source"),
    )


def _band_gate(max_bucket: int):
    """Per-bucket stateful verdict (see module docstring, stage 3)."""

    def gate(key, pdf_iter, state) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        pdfs = list(pdf_iter)
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        # fast path — the dominant group shape by far (~15/16 of band
        # buckets are singletons on a fresh corpus): one arrival, no
        # history. Per-group Python time is THE cost of this operator
        # (~31k invocations per 1000-doc batch, BASELINE.md r15), so the
        # common case skips the pandas machinery below entirely.
        if len(pdf) == 1 and not state.exists:
            sig = np.asarray(pdf["sig"].iloc[0], dtype=np.int64)
            state.update(
                (1, pdf["doc_id"].to_numpy(np.int64).tobytes(), sig.tobytes())
            )
            if pdf["band_idx"].iloc[0] == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy(np.int64),
                        "dropped": np.zeros(1, dtype="int32"),
                        "text": pdf["text"].to_numpy(),
                        "source": pdf["source"].to_numpy(),
                    }
                )
            return
        pdf = pdf.drop_duplicates("doc_id")  # within-batch re-delivery
        if state.exists:
            n_old, ids_b, sigs_b = state.get
            old_ids = (
                np.frombuffer(ids_b, dtype=np.int64)
                if ids_b
                else np.empty(0, np.int64)
            )
            old_sigs = (
                np.frombuffer(sigs_b, dtype=np.int64).reshape(-1, N_HASHES)
                if sigs_b
                else np.empty((0, N_HASHES), np.int64)
            )
        else:
            n_old = 0
            old_ids = np.empty(0, np.int64)
            old_sigs = np.empty((0, N_HASHES), np.int64)
        if len(old_ids):
            # cross-batch re-delivery: a known member never re-enters the
            # bucket (mirrors the fold's sig-store anti-join)
            pdf = pdf[~pdf["doc_id"].isin(old_ids)]
        if not len(pdf):
            return
        ids_new = pdf["doc_id"].to_numpy(np.int64)
        sigs_new = np.stack([np.asarray(s, dtype=np.int64) for s in pdf["sig"]])
        n_new = len(ids_new)

        dropped: set[int] = set()
        if n_old + n_new <= max_bucket:
            if n_new >= 2:
                eq = (sigs_new[:, None, :] == sigs_new[None, :, :]).sum(axis=2)
                ii, jj = np.nonzero(eq >= NEARDUP_TAU_EQ)
                for i, j in zip(ii, jj):
                    if i != j:  # later (larger-id) pair member is dropped
                        dropped.add(int(max(ids_new[i], ids_new[j])))
            if len(old_ids):
                eq = (sigs_new[:, None, :] == old_sigs[None, :, :]).sum(axis=2)
                ii, jj = np.nonzero(eq >= NEARDUP_TAU_EQ)
                for i, j in zip(ii, jj):
                    # historical members are never retro-dropped
                    if ids_new[i] > old_ids[j]:
                        dropped.add(int(ids_new[i]))

        total = n_old + n_new
        if total <= max_bucket:
            state.update(
                (
                    int(total),
                    np.concatenate([old_ids, ids_new]).tobytes(),
                    np.concatenate([old_sigs, sigs_new]).tobytes(),
                )
            )
        else:  # bucket can never produce pairs again: count-only state
            state.update((int(total), b"", b""))

        is_drop = pdf["doc_id"].isin(list(dropped))
        out = pdf[(pdf["band_idx"] == 0) | is_drop]
        if not len(out):
            return
        yield pd.DataFrame(
            {
                "doc_id": out["doc_id"].to_numpy(np.int64),
                "dropped": out["doc_id"].isin(list(dropped)).astype("int32"),
                "text": out["text"],
                "source": out["source"],
            }
        )

    return gate


def run_full_ingest_state_stream(
    src: DataFrame,
    emb: DataFrame,
    ledger_dir: str,
    out_dir: str,
    ckpt: str,
    max_bucket: int = LSH_MAX_BUCKET,
    processing_time: str | None = None,
):
    """Start the state-store-backed composed gate over a streaming
    (doc_id, source, text) source; same contract as
    `full_ingest.run_full_ingest_stream` minus the sig/band dirs (that
    state lives under the checkpoint). Returns the StreamingQuery."""
    is_eval = F.col("vec_id") % SEMCONTAM_EVAL_MOD == SEMCONTAM_EVAL_REM
    ev = semcontam_eval_block(emb.filter(is_eval))
    tr_all = emb.filter(~is_eval).select("vec_id", "embedding")

    gated = (
        # rule 2 at the stream edge: a micro-batch usually lands as ONE
        # file → one partition; hash-spread by doc_id before the Python
        # signature pass so it runs at session parallelism (io.spread's
        # explicit partition count — a bare repartition(col) is
        # AQE-coalescible right back to one partition)
        _band_rows(spread(src, "doc_id").mapInPandas(_sig_batches, _SIG_SCHEMA))
        .groupBy("band_key")
        .applyInPandasWithState(
            _band_gate(max_bucket),
            _GATE_OUT_SCHEMA,
            _GATE_STATE_SCHEMA,
            "append",
            "NoTimeout",
        )
    )

    def post(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        arriv = (
            batch.groupBy("doc_id")
            .agg(
                F.max("dropped").alias("dropped"),
                F.first("text", ignorenulls=True).alias("text"),
                F.first("source", ignorenulls=True).alias("source"),
            )
            # drop-only rows without their carrier cannot occur for a
            # first delivery (band 0 always emits the carrier); a
            # re-delivered doc whose band-0 bucket overflowed can emit
            # drops alone — it is already verdict-ed, so discard here
            .filter(F.col("text").isNotNull())
            # checkpoint FIRST: inside foreachBatch every action re-runs
            # the batch plan, and here the plan is the whole
            # signature+stateful pipeline — a pre-checkpoint take(1)
            # would execute it twice per batch (measured ~2x the batch
            # wall at sf0.1 before this ordering)
            .localCheckpoint(eager=True)
        )
        out_old = _read_or_none(spark, out_dir)
        if out_old is not None:
            arriv = arriv.join(out_old.select("doc_id"), "doc_id", "left_anti")
        if not arriv.take(1):
            return
        rows, claims = _stages_2_to_5(
            arriv.select("doc_id", "source", "text"),
            arriv.filter(F.col("dropped") == 0).select("doc_id", "text"),
            tr_all,
            ev,
            ledger_dir,
        )
        # ledger before rows — same crash ordering as the dir fold
        claims.write.mode("append").parquet(ledger_dir)
        if _CRASH_AFTER_LEDGER:
            raise RuntimeError("injected crash between ledger and rows writes")
        rows.write.mode("append").parquet(out_dir)

    writer = gated.writeStream.foreachBatch(post).option(
        "checkpointLocation", ckpt
    )
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
