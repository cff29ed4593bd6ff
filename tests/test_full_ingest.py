"""Composed five-gate ingest (r13, VERDICT r12 item 6): footer-fixture
pins, the scrub↔PII interaction, segment-wise PII exactness, the
stream ≡ composed-batch-fold equivalence over ordered splits, and crash
replays of the standalone near-dup and scrub gates, whose stages the
composed stream runs too."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from etl_active911_spark.functions.textpat import (
    PII_EMAIL,
    PII_PHONE,
    PII_QUARANTINE_MIN,
    PII_SSN,
)
from etl_active911_spark.operators.ingest_funnel import (
    FOOTER_MOD,
    FOOTER_REM,
    INGEST_FOOTER,
    ingest_arrival_text,
    ingest_funnel_rows,
    pii_text_matches,
)
from tests.conftest import SF_ORACLE

ROW_COLS = (
    "doc_id", "source", "f_nd", "n_tokens", "tokens_after",
    "pii_post", "f_pii", "f_q", "f_ct",
)


def test_footer_constants():
    """The shared footer is EXACTLY one scrub segment (SCRUB_SEG tokens)
    and carries exactly 2 PII matches (1 email + 1 phone, 0 ssn) — the
    alignment + margin the interaction pin depends on."""
    from etl_active911_spark.operators.dedup import SCRUB_SEG

    assert len(INGEST_FOOTER.split()) == SCRUB_SEG
    assert len(re.findall(PII_EMAIL, INGEST_FOOTER)) == 1
    assert len(re.findall(PII_PHONE, INGEST_FOOTER)) == 1
    assert len(re.findall(PII_SSN, INGEST_FOOTER)) == 0


def test_segmentwise_pii_equals_whole_text(spark):
    """Summing PII matches over disjoint whole-token segments equals
    counting on the whole text (patterns are whitespace-free, segments
    are whole-token runs) — the exactness claim behind counting PII on
    kept segments only."""
    from etl_active911_spark.io import read_table
    from etl_active911_spark.operators.dedup import scrub_segment_rows

    arrv = read_table(spark, SF_ORACLE, "documents").select(
        "doc_id", ingest_arrival_text().alias("text")
    )
    seg_sum = (
        scrub_segment_rows(arrv, with_text=True)
        .groupBy("doc_id")
        .agg(F.sum(pii_text_matches(F.col("seg_txt"))).alias("m"))
    )
    whole = arrv.select("doc_id", pii_text_matches(F.col("text")).alias("w"))
    diff = seg_sum.join(whole, "doc_id").filter("m <> w")
    assert diff.count() == 0


def test_scrub_before_pii_changes_quarantine_counts(spark):
    """THE interaction pin (the verdict's question answered with data):
    counting PII on post-scrub text quarantines strictly fewer docs than
    counting on the full arrival text — a footer doc that LOSES the
    shared footer to the scrub stops paying its 2 matches, while the
    canonical keeper still pays them. (First cut of this fixture put the
    footer on residue 2 mod 6, which CRT-forces both the email and phone
    tails — every footer doc quarantined by tails alone, interaction
    vacuous; this pin caught it — rule 31.)"""
    from etl_active911_spark.io import read_table

    rows = ingest_funnel_rows(spark, SF_ORACLE).collect()
    surv_ids = {r.doc_id for r in rows if r.f_nd == 1}
    post = {r.doc_id: r.pii_post for r in rows if r.f_nd == 1}
    # PII-before-scrub: count matches on the FULL arrival text,
    # independently recomputed
    full = {
        r.doc_id: r.m
        for r in read_table(spark, SF_ORACLE, "documents")
        .select("doc_id", pii_text_matches(ingest_arrival_text()).alias("m"))
        .collect()
        if r.doc_id in surv_ids
    }
    before_q = sum(1 for v in full.values() if v >= PII_QUARANTINE_MIN)
    after_q = sum(1 for v in post.values() if v >= PII_QUARANTINE_MIN)
    assert after_q < before_q, (after_q, before_q)
    # non-vacuity both ways: among footer docs, someone pays the footer's
    # matches post-scrub (the canonical keeper stays quarantined) and
    # someone stops paying them (quarantine flips)
    footer = [d for d in surv_ids if d % FOOTER_MOD == FOOTER_REM]
    assert any(post[d] >= PII_QUARANTINE_MIN for d in footer)
    assert any(
        full[d] >= PII_QUARANTINE_MIN and post[d] < PII_QUARANTINE_MIN
        for d in footer
    )


def test_funnel_is_strictly_nested(spark):
    """Stage survivor sets nest: n_arrived ≥ n_unique ≥ n_pii_ok ≥
    n_quality ≥ n_final per source, and every stage loses someone
    somewhere (non-vacuity of each gate on the fixture)."""
    from etl_active911_spark.operators.ingest_funnel import x9_ingest_funnel

    rows = x9_ingest_funnel(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert (
            r.n_arrived >= r.n_unique >= r.n_pii_ok >= r.n_quality >= r.n_final
        ), r
    tot = {
        c: sum(getattr(r, c) for r in rows)
        for c in ("n_arrived", "n_unique", "n_pii_ok", "n_quality", "n_final")
    }
    assert tot["n_unique"] < tot["n_arrived"]      # near-dup gate bites
    assert tot["n_pii_ok"] < tot["n_unique"]       # PII gate bites
    assert tot["n_quality"] < tot["n_pii_ok"]      # quality gate bites
    # the contamination gate is non-vacuous in the corpus (quarantined
    # train vectors exist) but at sf0.01 both happen to be caught by
    # earlier gates first, so n_final == n_quality there — assert the
    # flag's polarity on the per-doc rows instead of a stage-5 drop
    per_doc = ingest_funnel_rows(spark, SF_ORACLE).collect()
    assert any(r.f_ct == 0 for r in per_doc)
    assert any(r.f_ct == 1 for r in per_doc)


def _drain(spark, src_dir, emb, dirs):
    from etl_active911_spark.streaming import full_ingest

    src = spark.readStream.schema("doc_id long, source string, text string").parquet(
        src_dir
    )
    q = full_ingest.run_full_ingest_stream(src, emb, *dirs)
    assert q.awaitTermination(300)


def test_full_ingest_stream_matches_batch(spark, tmp_path):
    """END-TO-END: the composed stream over a 3-way doc_id-ordered split
    of the REAL fixture corpus emits exactly the batch fold's per-doc
    funnel rows; a replay of the first batch afterwards adds nothing."""
    from etl_active911_spark.io import read_table

    docs = (
        read_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
    )
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    emb = read_table(spark, SF_ORACLE, "embeddings")

    src_dir = str(tmp_path / "src")
    dirs = (
        str(tmp_path / "sigs"),
        str(tmp_path / "bands"),
        str(tmp_path / "ledger"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    batches = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2),
    ]
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src_dir)
        _drain(spark, src_dir, emb, dirs)

    got = {
        tuple(r[c] for c in ROW_COLS)
        for r in spark.read.parquet(dirs[3]).collect()
    }
    want = {
        tuple(r[c] for c in ROW_COLS)
        for r in ingest_funnel_rows(spark, SF_ORACLE).collect()
    }
    assert got == want

    # replay batch 1: the re-delivery guard must add nothing
    batches[0].coalesce(1).write.mode("append").parquet(src_dir)
    _drain(spark, src_dir, emb, dirs)
    again = {
        tuple(r[c] for c in ROW_COLS)
        for r in spark.read.parquet(dirs[3]).collect()
    }
    assert again == want


def test_every_arrival_yields_a_segment_row(spark):
    """ADVICE r13 item 3 pin: funnel_flag_rows infers near-dup survival
    from ledger presence, which is sound ONLY while scrub_segment_rows
    emits >= 1 segment row per input doc. Assert it over every arrival
    (the footer injection alone guarantees one whole-token segment)."""
    from etl_active911_spark.io import read_table
    from etl_active911_spark.operators.dedup import scrub_segment_rows

    arrv = read_table(spark, SF_ORACLE, "documents").select(
        "doc_id", ingest_arrival_text().alias("text")
    )
    n_docs = arrv.count()
    n_with_seg = (
        scrub_segment_rows(arrv, with_text=False)
        .select("doc_id")
        .distinct()
        .count()
    )
    assert n_with_seg == n_docs, (n_with_seg, n_docs)


def test_full_ingest_crash_window_replays_cleanly(spark, tmp_path):
    """ADVICE r13 item 1: state dirs are written BEFORE the verdict rows
    and every state append is idempotent — so a crash AFTER the state
    writes but BEFORE the out_dir write (simulated by deleting out_dir)
    replays to the same verdicts with zero duplicate state."""
    import shutil

    from etl_active911_spark.io import read_table
    from etl_active911_spark.operators.ingest_funnel import ingest_funnel_rows as _fold

    docs = (
        read_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id") < 200)
    )
    emb = read_table(spark, SF_ORACLE, "embeddings")
    src_dir = str(tmp_path / "src")
    dirs = (
        str(tmp_path / "sigs"),
        str(tmp_path / "bands"),
        str(tmp_path / "ledger"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    docs.coalesce(1).write.mode("append").parquet(src_dir)
    _drain(spark, src_dir, emb, dirs)
    want = {
        tuple(r[c] for c in ROW_COLS)
        for r in spark.read.parquet(dirs[3]).collect()
    }

    # crash window: verdict rows lost, state survived
    shutil.rmtree(dirs[3])
    shutil.rmtree(dirs[4])  # fresh checkpoint so the source re-delivers
    docs.coalesce(1).write.mode("append").parquet(src_dir)
    _drain(spark, src_dir, emb, dirs)

    got = {
        tuple(r[c] for c in ROW_COLS)
        for r in spark.read.parquet(dirs[3]).collect()
    }
    assert got == want

    # no duplicate state rows from the replay
    sigs = spark.read.parquet(dirs[0])
    assert sigs.count() == sigs.select("doc_id").distinct().count()
    bands = spark.read.parquet(dirs[1])
    assert bands.count() == bands.dropDuplicates(["doc_id", "band_key"]).count()
    ledger = spark.read.parquet(dirs[2])
    assert ledger.count() == ledger.select("seg_md5").distinct().count()


def test_full_ingest_crash_replay_at_cap_boundary(spark, tmp_path):
    """ADVICE r14 item 1: replayed self-state must be INVISIBLE to the
    bucket-cap filter. With max_bucket=2 every dup-pair bucket sits at
    exactly the cap, so the original run keeps them; a replay that
    counted its own pre-crash bands into n_old would read n_new+n_old =
    2·size > 2 for every pair bucket, drop them all, lose every near-dup
    candidate, and emit a DIFFERENT (larger) survivor set — the exact
    divergence the sigs_old/bands_old batch anti-join prevents."""
    import shutil

    from etl_active911_spark.io import read_table

    docs = (
        read_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id") < 200)
    )
    emb = read_table(spark, SF_ORACLE, "embeddings")
    src_dir = str(tmp_path / "src")
    dirs = (
        str(tmp_path / "sigs"),
        str(tmp_path / "bands"),
        str(tmp_path / "ledger"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def drain_capped():
        from etl_active911_spark.streaming import full_ingest

        src = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(src_dir)
        q = full_ingest.run_full_ingest_stream(src, emb, *dirs, max_bucket=2)
        assert q.awaitTermination(300)

    docs.coalesce(1).write.mode("append").parquet(src_dir)
    drain_capped()
    want = {
        tuple(r[c] for c in ROW_COLS)
        for r in spark.read.parquet(dirs[3]).collect()
    }
    # non-vacuity: at cap 2 the near-dup gate still bites — some pair
    # bucket sits at EXACTLY the cap and produces a drop, so a cap
    # filter that double-counts the replayed batch would change this set
    assert any(r[2] == 0 for r in want), "no near-dup drop at cap 2"

    # crash window: verdict rows lost, state survived
    shutil.rmtree(dirs[3])
    shutil.rmtree(dirs[4])  # fresh checkpoint so the source re-delivers
    docs.coalesce(1).write.mode("append").parquet(src_dir)
    drain_capped()

    got = {
        tuple(r[c] for c in ROW_COLS)
        for r in spark.read.parquet(dirs[3]).collect()
    }
    assert got == want
    # no duplicate state rows from the replay
    sigs = spark.read.parquet(dirs[0])
    assert sigs.count() == sigs.select("doc_id").distinct().count()
    bands = spark.read.parquet(dirs[1])
    assert bands.count() == bands.dropDuplicates(["doc_id", "band_key"]).count()


def test_ingest_ablation_consistent_with_funnel(spark):
    """The ablation matrix is the funnel's per-doc rows re-binned: cell
    counts sum to the survivor total, token masses sum to the survivors'
    post-scrub mass, and the all-ones cell equals the funnel's n_final /
    tokens_final totals."""
    from etl_active911_spark.operators.ingest_funnel import (
        x9_ingest_ablation,
        x9_ingest_funnel,
    )

    cells = x9_ingest_ablation(spark, SF_ORACLE).collect()
    fun = x9_ingest_funnel(spark, SF_ORACLE).collect()
    n_unique = sum(r.n_unique for r in fun)
    n_final = sum(r.n_final for r in fun)
    tokens_final = sum(r.tokens_final for r in fun)
    assert sum(c.n_docs for c in cells) == n_unique
    ones = [c for c in cells if (c.f_pii, c.f_q, c.f_ct) == (1, 1, 1)]
    assert len(ones) == 1
    assert ones[0].n_docs == n_final
    assert ones[0].tokens_mass == tokens_final
    # non-vacuity: at least one binding cell per ablatable gate
    assert any(c.f_pii == 0 for c in cells)
    assert any(c.f_q == 0 for c in cells)
    assert any(c.f_ct == 0 for c in cells)


def test_ingest_routing_partitions_arrivals(spark):
    """Routing is a PARTITION of arrivals: per source the route counts
    sum to n_arrived, each route ties to its funnel-stage difference,
    and stage-1 drops carry zero token mass (never scrubbed)."""
    from etl_active911_spark.operators.ingest_funnel import (
        INGEST_ROUTES,
        x9_ingest_funnel,
        x9_ingest_routing,
    )

    routes = x9_ingest_routing(spark, SF_ORACLE).collect()
    fun = {r.source: r for r in x9_ingest_funnel(spark, SF_ORACLE).collect()}
    assert {r.route for r in routes} <= set(INGEST_ROUTES)
    by_src: dict[str, dict[str, int]] = {}
    for r in routes:
        by_src.setdefault(r.source, {})[r.route] = r.n_docs
        if r.route == "dropped_dup":
            assert r.tokens_after == 0, r
    for src, m in by_src.items():
        f = fun[src]
        assert sum(m.values()) == f.n_arrived, (src, m)
        assert m.get("dropped_dup", 0) == f.n_arrived - f.n_unique
        assert m.get("quarantined_pii", 0) == f.n_unique - f.n_pii_ok
        assert m.get("rejected_quality", 0) == f.n_pii_ok - f.n_quality
        assert m.get("quarantined_contam", 0) == f.n_quality - f.n_final
        assert m.get("admitted", 0) == f.n_final


def test_long_lived_trigger_amortizes_fixed_cost(spark, tmp_path):
    """VERDICT r13 item 4 canary: under ONE long-lived processing-time
    trigger, the marginal micro-batch must not cost more than the cold
    first batch plus stream-start — the regression bound for the
    BASELINE.md r14 marginal-throughput record (sf0.1: cold 63 docs/s →
    marginal ~107 at ~830-doc batches, 206 at ~2500). Bound is
    deliberately loose (1.5x) so only a structural regression — e.g.
    state re-reads growing superlinear, or a new per-batch fixed job —
    trips it on a noisy box."""
    import os
    import time

    from etl_active911_spark.io import read_table
    from etl_active911_spark.streaming import full_ingest

    docs = read_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0)[0]
    b1, b2 = docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)
    n1, n2 = b1.count(), b2.count()
    emb = read_table(spark, SF_ORACLE, "embeddings")
    src_dir = str(tmp_path / "src")
    dirs = tuple(str(tmp_path / d) for d in ("sigs", "bands", "ledger", "out", "ckpt"))

    os.makedirs(src_dir, exist_ok=True)
    b1.coalesce(1).write.mode("append").parquet(src_dir)
    src = spark.readStream.schema("doc_id long, source string, text string").parquet(
        src_dir
    )

    def out_rows() -> int:
        try:
            return spark.read.parquet(dirs[3]).count()
        except Exception:
            return 0

    t0 = time.perf_counter()
    q = full_ingest.run_full_ingest_stream(
        src, emb, *dirs, processing_time="200 milliseconds"
    )
    try:
        while out_rows() < n1:
            assert time.perf_counter() - t0 < 300
            time.sleep(0.2)
        cold_wall = time.perf_counter() - t0

        t1 = time.perf_counter()
        b2.coalesce(1).write.mode("append").parquet(src_dir)
        while out_rows() < n1 + n2:
            assert time.perf_counter() - t1 < 300
            time.sleep(0.2)
        marginal_wall = time.perf_counter() - t1
    finally:
        q.stop()
    # the marginal batch pays no stream start and no cold-JVM tax; a
    # structural fixed-cost regression would push it past the cold batch
    assert marginal_wall < 1.5 * cold_wall, (cold_wall, marginal_wall)


def test_funnel_memo_tracks_every_input_table(spark, tmp_path):
    """The funnel reads documents AND embeddings, so touching either
    input must rebuild its fixture memo instead of serving the verdicts
    built from the old files."""
    import os
    import shutil

    from tests.conftest import SF_SMOKE

    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    first = ingest_funnel_rows(spark, str(tmp_path))
    assert ingest_funnel_rows(spark, str(tmp_path)) is first
    os.utime(tmp_path / "embeddings.parquet", (0, 0))
    assert ingest_funnel_rows(spark, str(tmp_path)) is not first, "embeddings rewrite served stale rows"


def _drain_crashing(start, n: int) -> None:
    """Run one drain whose micro-batch dies right after its ``n``-th
    parquet append, whatever order the gate writes in, then restart it on
    the same checkpoint: the source re-delivers the uncommitted batch."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet
    done: list[str] = []

    def parquet(self, path, *args, **kwargs):
        if len(done) == n:
            raise RuntimeError(f"injected crash after {n} appends")
        real(self, path, *args, **kwargs)
        done.append(path)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(StreamingQueryException, match="injected crash"):
            start().awaitTermination(120)
    assert len(done) == n, done  # the crash fell between two appends
    assert start().awaitTermination(120)


@pytest.mark.parametrize("n_appends", [1, 2])
def test_neardup_gate_crash_between_appends_replays_to_fold(spark, tmp_path, n_appends):
    """The standalone near-dup gate dies after its first or second append
    of batch 1, and the replayed batch must still converge: batch 2 then
    discovers its cross-arrival pairs against batch 1's bands, the pair
    set equals the batch fold, and no state or pair row is appended
    twice."""
    from etl_active911_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        signature_agreement_pairs,
    )
    from etl_active911_spark.streaming import neardup_ingest

    base = (
        "the quick brown fox jumps over the lazy dog near the old stone "
        "well in the cold morning light before the town square fills"
    )
    other = (
        "volcanic islands drift across turquoise water while seabirds "
        "circle thermal columns hunting silver fish beneath foam crests"
    )
    b1 = [(1, base), (2, base + " and vendors"), (3, other)]
    b2 = [(11, base + " as bells ring"), (12, other + " at golden dusk")]
    schema = "doc_id long, text string"
    src_dir, sig_dir, bands_dir, pairs_dir, ckpt = (
        str(tmp_path / d) for d in ("src", "sigs", "bands", "pairs", "ckpt")
    )

    def start():
        src = spark.readStream.schema(schema).parquet(src_dir)
        return neardup_ingest.run_neardup_stream(
            src, sig_dir, bands_dir, pairs_dir, ckpt
        )

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src_dir)
    _drain_crashing(start, n_appends)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src_dir)
    assert start().awaitTermination(120)

    pairs = spark.read.parquet(pairs_dir)
    got = {(r["doc_a"], r["doc_b"], r["n_matching_hashes"]) for r in pairs.collect()}
    docs = spark.createDataFrame(b1 + b2, schema)
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    want = {
        (r["doc_a"], r["doc_b"], r["n_matching_hashes"])
        for r in signature_agreement_pairs(
            lsh_candidate_pairs(docs, sigs=sigs), sigs
        ).collect()
    }
    assert got == want
    assert {(1, 2), (1, 11), (3, 12)} <= {(a, b) for a, b, _ in got}
    assert pairs.count() == len(got)
    sig_rows = spark.read.parquet(sig_dir)
    assert sig_rows.count() == sig_rows.select("doc_id").distinct().count() == 5
    bands = spark.read.parquet(bands_dir)
    assert bands.count() == bands.dropDuplicates(["doc_id", "band_key"]).count()


def test_scrub_gate_crash_between_appends_replays_to_fold(spark, tmp_path):
    """The standalone scrub gate dies between its two appends of batch 1,
    and the replayed batch must still leave batch 1's segment claims in
    the ledger: batch 2's copy of a batch-1 segment is scrubbed, the
    per-doc rows equal the batch fold, and no ledger or out row is
    appended twice."""
    from etl_active911_spark.operators.dedup import boilerplate_scrub_ledger
    from etl_active911_spark.streaming import scrub_ingest
    from tests.test_streaming import _seg

    A, B, C, D, E = (_seg(t) for t in ("alpha", "beta", "gamma", "delta", "eps"))
    b1 = [(1, A + " " + B), (2, A + " " + C), (3, D)]
    b2 = [(11, B + " " + E), (12, E)]
    schema = "doc_id long, text string"
    src_dir, ledger_dir, out_dir, ckpt = (
        str(tmp_path / d) for d in ("src", "ledger", "out", "ckpt")
    )

    def start():
        src = spark.readStream.schema(schema).parquet(src_dir)
        return scrub_ingest.run_scrub_stream(src, ledger_dir, out_dir, ckpt)

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src_dir)
    _drain_crashing(start, 1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src_dir)
    assert start().awaitTermination(120)

    cols = ("doc_id", "n_tokens", "n_segs", "n_removed_segs", "tokens_after", "removed_share")
    out = spark.read.parquet(out_dir)
    got = [tuple(r[c] for c in cols) for r in out.collect()]
    fold = boilerplate_scrub_ledger(spark.createDataFrame(b1 + b2, schema))
    assert sorted(got) == sorted(tuple(r[c] for c in cols) for r in fold.collect())
    assert {t[0]: t[3] for t in got}[11] == 1  # B is still doc 1's
    ledger = spark.read.parquet(ledger_dir)
    assert ledger.count() == ledger.select("seg_md5").distinct().count() == 5
