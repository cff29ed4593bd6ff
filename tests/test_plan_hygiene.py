"""Sweep-level physical-plan hygiene over the driver's scoring window.

SCALE.md invariant 2 says "no unblocked cross join in the tree" — this
test makes that claim mechanical for every query the driver scores:
zero ``CartesianProduct`` anywhere, and ``BroadcastNestedLoopJoin`` only
where a BOUNDED side makes it the correct plan (scalar thresholds,
1-row dimension arrays, replicated query blocks), each with its bound
documented here. A new query that accidentally plans an unbounded
nested loop fails this sweep before it ever reaches the driver.

Plans are built at sf0.001 — physical operator choice for these shapes
is scale-independent (broadcast sides are constant-bounded by
construction, not by statistics), and the iterative builders stay cheap.
"""

from __future__ import annotations

import re

import pytest

from etl_active911_spark.plans import registry
from tests.conftest import SF_SMOKE

registry.load_all()

#: query -> (max BNLJ occurrences, the bounded side that justifies them)
BNLJ_ALLOWED: dict[str, tuple[int, str]] = {
    "x7_nearest_station": (1, "stations collapsed to ONE broadcast array-of-structs row"),
    "x3_pandas_matmul": (1, "query block replicated per corpus block id (N_QUERIES x MATMUL_BLOCKS rows)"),
    "x3_range_search": (1, "broadcast N_QUERIES-row query block, != self-pair condition"),
    "n19_bloom_prefilter_join": (1, "1-row broadcast bloom bitset probed by bit tests"),
    "n21_funnel": (2, "scalar funnel-stage thresholds as 1-row cross joins"),
    "n22_dq_checks": (2, "scalar expectation bounds as 1-row cross joins"),
    "x8_mixture_weights": (6, "per-source totals and temperature normalizers: one scalar cross join per mixture term"),
    "x3_ann_ivf_partitioned": (4, "queries x broadcast 16-row centroid table (distributive probe derivation); subtree appears once per rerank consumer pre-materialization"),
    # r6: the two-phase prefix sum derives range ids from a 1-ROW broadcast
    # (min, max) bounds table crossJoined into both the window subtree and
    # the offsets subtree (SCALE.md invariant 9 — the data-derived
    # replacement for spark_partition_id); each BNLJ's build side is one row
    "x8_shard_assign": (2, "1-row broadcast doc_id-bounds table, once per prefix-sum subtree"),
    "x8_token_packing": (2, "1-row broadcast doc_id-bounds table, once per prefix-sum subtree"),
    "x9_curation_v3": (2, "composes assign_shards: 1-row broadcast bounds table per prefix-sum subtree"),
    # first-time-windowed r5 queries (rotation r6): both ride the seeded-IVF
    # scaffold, whose probe/assignment legs crossJoin a broadcast 16-row
    # seed centroid table (same bounded side as x3_ann_ivf_partitioned)
    "x3_ann_recall_eval": (3, "broadcast 16-row seed-centroid table per IVF leg; exact/approx legs join bounded queries x k tables"),
    "x4_bigram_logprob": (1, "1-row broadcast vocabulary-size scalar crossJoined into the smoothing denominator"),
    "x2_semantic_dedup": (3, "broadcast 16-row seed-centroid table per assignment/probe leg (cells scoped-persisted)"),
    # r9: the five queries the r8 rotation moved into PRIORITY (VERDICT r08
    # item 1) — each BNLJ build side verified constant-bounded at HEAD:
    "x8_length_batching": (2, "1-row broadcast doc_id-bounds table, once per prefix-sum subtree (x8_shard_assign shape)"),
    "x8_budget_allocation": (3, "water_fill's 1-row (budget, n) scalar (sampling.py:1095, repeated in the saturation subtree) + 1-row (n_sat, used) aggregate (sampling.py:1108)"),
    "x8_mixture_schedule": (4, "1-row corpus-total scalar + 3-row epochs grid (sampling.py:1181,1190); powed subtree feeds both the normalizer and the final join, so plan text repeats each once"),
    "x3_scalar_quant": (1, "1-row broadcast 64-element per-dim scale array (similarity.py:1725)"),
    "x9_release_manifest": (2, "1-row broadcast n_bytes-bounds table, once per prefix-sum subtree"),
    # r10: the two rotation queries entering PRIORITY with bounded
    # nested-loop sides (VERDICT r09 item 1 window; verified at HEAD):
    "tpch_q11_important_parts": (1, "1-row broadcast SUM(value)*0.001 threshold scalar crossJoined into the HAVING filter (tpch.py:331) — the faithful Q11 scalar-subquery shape"),
    "x4_pmi_bigrams": (2, "two 1-row broadcast corpus-total scalars (n_tokens, n_bigrams) crossJoined into the PMI denominator (textual.py:1031)"),
    "x3_ann_ivf_lloyd1": (4, "broadcast 16-row seed-centroid table per IVF leg (assign0, Lloyd-updated re-assign, probe, re-rank) — same bounded side as x3_ann_recall_eval"),
    "x3_ann_ivf_lloyd2": (18, "the same bounded 16-row seed/centroid broadcasts as lloyd1, times plan-TEXT subtree repetition: the chain's three crossjoins (seed assign, step-1 centroids, step-2 centroids) appear once per churn-inventory consumer branch (m01 + persisted m12's n1/n2/ch01/ch12 legs); every build side is the 16-row table"),
    "x3_ann_ivf_reseed_plan": (9, "same 16-row bounded sides: the two-step chain's three crossjoins repeated across the scoped_persist'd scored-assignment consumers (occupancy + per-cell argmin + final join)"),
    "x3_ann_stream_ingest": (1, "broadcast 16-row seed-centroid table in argmax_cells (the seeded-IVF bounded side)"),
    "x3_ann_ivf_delete": (1, "broadcast 16-row seed-centroid table in argmax_cells (the seeded-IVF bounded side)"),
    "x7_coverage_gap": (1, "broadcast 5-row station dim crossJoined onto the CELL table (|cells| x |stations|, never points x stations)"),
    "x3_centroid_purity": (4, "broadcast 16-row seed-centroid table in argmax_cells; the scoped_persist'd (cell,label) table EXECUTES the subtree once but its InMemoryRelation plan text repeats it per consumer (tot/rk/ent + final join)"),
    # r10 continuation: every build side is a 1-row aggregate — the (N, S)
    # moment crossJoined into the persisted di projection (its
    # InMemoryRelation text repeats per consumer: ssq, shifted, join-left)
    # plus the final stats x ssq x pr 1-row assembly
    "x7_moran_i": (5, "1-row (N,S) moment broadcast into di (plan text repeats per persisted-di consumer) + final crossJoin of three 1-row aggregates"),
    # r13 additions: every build side is a 1-row aggregate scalar
    "x9_t_closeness": (1, "1-row broadcast corpus-total N crossJoined into the class-grain TV assembly (relational.py tcloseness_classes)"),
    "x8_doremi_step": (7, "three chained 1-row scalar broadcasts (totals, Σw0·λ baseline, Σu normalizer) over the ≤20-row per-source frame; the unpersisted per-source subtree's plan text repeats per downstream stage (recomputing a 20-row frame is cheaper than a persist)"),
    "x3_matryoshka_recall": (2, "broadcast N_QUERIES-row query block with != self-pair condition (the x3_range_search bounded side); the scoped_persist'd top-k table's InMemoryRelation plan text repeats the scoring subtree once per consumer (candidate legs + d=64 truth leg)"),
    "x8_pack_attention_contamination": (2, "1-row broadcast doc_id-bounds table, once per prefix-sum subtree (the x8_token_packing shape)"),
    "x9_ingest_ablation": (1, "1-row broadcast survivor-total scalar crossJoined into the <=8-cell matrix (upstream is the memoized funnel rows)"),
}


#: beyond-window queries that still get plan-hygiene coverage (new in r6;
#: they enter the scoring window in a later rotation)
EXTRA_CHECKED = (
    "x8_epoch_shuffle",
    "x5_aspect_bucket_pack",
    "x6_forecast_eval",
    "x4_vocab_growth",
    "x4_bpe_merge_count",
    "x4_ngram_novelty",
    "x9_curation_v5",
    "n11_trending_topk",
    "x2_containment",
    "x3_filtered_topk",
    "x8_curriculum_order",
    "x6_ts_acf",
    "x4_source_js_divergence",
    # r9 additions (queued for the r10 scoring window)
    "x2_token_decontaminate",
    "x3_ann_ivf_add",
    "o15_time_parse_pinned_now",
    "x2_minhash_estimate",
    "x4_blocklist_gate",
    "x3_embedding_stats",
    "x6_cusum_changepoint",
    "x9_curation_v6",
    "x4_zipf_fit",
    "x8_budget_effective",
    "x6_seasonal_strength",
    "x2_eval_contamination_report",
    "x7_geofence_assignment",
    "x5_media_validate",
    "x2_lsh_recall_eval",
    "x6_rollup_cascade",
    "x3_ann_ivf_add_recall",
    "x3_metric_sensitivity",
    "x2_cluster_size_histogram",
    "x6_minmax_downsample",
    "x7_hotspot_cells",
    "x2_cluster_template",
    "x8_split_leakage_audit",
    # r10 additions (x5_phash_banded_dedup holds the r11 spare slot)
    "x5_phash_banded_dedup",
    "x5_media_metadata",
    "x3_ann_stream_ingest",
    "x4_dup_ngram_fraction",
    "x9_curation_v7",
    "x2_bbit_minhash",
    "x4_template_detection",
    # r11 late-wave additions (post-window; hygiene-gated here)
    "x5_mp4_box_walk",
    "x4_countmin_sketch",
    "x2_stream_neardup",
    "n24_cdc_apply",
    "n26_jsonl_deadletter",
    "x9_k_anonymity_audit",
    "n11_watermark_planner",
    "x3_mips_topk",
    "x2_frontier_schedule",
    "x9_lineage_chain",
    "x2_overmerge_audit",
    "x6_gap_detection",
    "x3_ann_ivf_delete",
    "x9_gate_ablation",
    "x6_threshold_runs",
    "x7_coverage_gap",
    "x8_source_quota_fill",
    "x3_centroid_purity",
    "x6_weekday_profile",
    "x2_shingle_df_profile",
    # r14 additions (post-window; hygiene-gated here)
    "x3_ann_ivf_lloyd2",
    "x3_ann_ivf_reseed_plan",
    "x9_recursive_ldiversity",
    "x9_dp_budget",
    "n23_skew_profile",
    # r13 additions (post-window; hygiene-gated here)
    "x9_ingest_funnel",
    "x9_t_closeness",
    "x8_doremi_step",
    "x3_matryoshka_recall",
    "x6_ar1_halflife",
    "x8_pack_attention_contamination",
    "x2_cluster_tail_index",
    "x9_ingest_ablation",
    "x9_ingest_routing",
    "x2_minhash_band_occupancy",
    "x6_event_type_markov",
    "x7_temporal_hotspots",
    "x8_dup_weighted_counts",
    "x6_dominant_period",
    "x9_stream_curation",
    "x6_burstiness",
    "x4_doc_chunking",
    "x2_chunk_cross_dup",
    "x6_permutation_entropy",
    "x7_moran_i",
    "n21_attribution",
    "x6_sax_words",
    "x6_cross_correlation",
    "x7_ripley_k",
    "x3_knn_hubness",
    "x5_silence_gate",
    "x5_image_histogram",
    "x6_hurst",
    "x7_dbscan_labels",
    "x6_mann_kendall",
    "x3_ann_lsh_multiprobe",
    "x2_threshold_sweep",
    "x2_dedup_method_agreement",
    "x7_clark_evans",
    "x7_knox",
    "x3_ann_method_recall",
    "x8_temperature_sweep",
    "x6_haar_energy",
    "x4_msttr",
    "x3_ivf_nprobe_sweep",
    "x9_dup_quality_matrix",
    "x6_entropy_rate",
    "x8_context_length_sweep",
    # r11 additions (queued for the r12/r13 scoring windows)
    "x4_unicode_anomaly",
    "x4_code_detection",
    "x2_boilerplate_scrub",
    "x5_media_hash_dedup",
    "x6_acf",
    "x6_ljung_box",
    "x9_curation_v8",
    "x4_textrank_keywords",
    "x6_robust_outliers",
    "x3_embedding_gram",
    "x3_pca_project",
    "x2_url_canonical_dedup",
    # r12 additions (queued for the r14 scoring window)
    "n4_percentile_error_bound",
    "n5_acd_error_bound",
    "x5_cross_modal_dedup",
    "x2_semantic_contamination",
    "x2_contamination_gate",
    "x3_ann_ivf_rebalance_plan",
    "x2_cluster_drift",
    # r12 late-session additions (queued for the r14+ scoring windows)
    "x4_normalization_gain",
    "x4_fertility_by_lang",
    "x5_audio_envelope_dedup",
    "x4_pii_gate",
    "x5_video_framehash_dedup",
    "x2_license_propagation",
    "x5_geotag_privacy_audit",
    "x2_deletion_propagation",
    "x9_release_scorecard",
    "x4_compression_bound",
    "n21_retention_cohorts",
)

BNLJ_ALLOWED.update({
    "x2_semantic_contamination": (1, "broadcast eval-slice embedding block (held-out benchmark side, ≪ train by construction) cross-scored against ONE train scan — the x3_cosine_topk shape"),
    "x2_contamination_gate": (1, "same broadcast eval block, flipped per-train argmax — the gate orientation of the contamination audit"),
    "x3_ann_ivf_rebalance_plan": (12, "broadcast 16-row seed/updated-centroid tables (the x3_ann_ivf_lloyd1 bounded sides): 3 crossJoin legs (assign0 + the two-stage re-assign) embedded in the scoped_persist'd moves table, whose InMemoryRelation plan text repeats them once per consumer (before/after/ins/outs) — execution is once"),
    "x8_epoch_shuffle": (2, "1-row broadcast hash-bounds table, once per prefix-sum subtree"),
    "x5_aspect_bucket_pack": (2, "1-row broadcast doc_id-bounds table, once per prefix-sum subtree"),
    "x4_vocab_growth": (6, "prefix-sum bounds rows + 1-row corpus-count scalar (3 one-row BNLJs); the scoped_persist'd subtree EXECUTES once but its InMemoryRelation plan text repeats per consumer"),
    "x4_ngram_novelty": (4, "prefix-sum 1-row bounds rows (2); persisted exploded subtree repeats them in plan text per consumer"),
    "x4_source_js_divergence": (3, "|sources|-squared pair table replicated over the vocab (bounded build side) + 1-row totals/vocab scalars"),
    "x8_curriculum_order": (17, "every build side is a 1-row bounds/count scalar (2 prefix sums + corpus count); the persisted band subtree's InMemoryRelation text repeats them per consumer — execution is once"),
    "x3_filtered_topk": (1, "broadcast N_QUERIES-row query block, != self-pair condition (x3_range_search shape)"),
    "x4_tfidf_topterms": (1, "1-row corpus-count scalar broadcast into the idf projection"),
    "x3_ann_ivf_seeded": (2, "IVF_N_CELLS-row seed-centroid table broadcast into assignment and probe scoring (bounded build side)"),
    "x9_curation_v5": (14, "every BNLJ is a 1-row scalar build (mixture total/normalizer, prefix-sum bounds); scoped_persist'd stages EXECUTE once but InMemoryRelation plan text repeats them per consumer"),
    "x3_ann_ivf_add": (1, "broadcast 16-row seed-centroid table into the assignment scan (x3_ann_ivf_seeded shape)"),
    "x4_zipf_fit": (2, "1-row broadcast (-f) key-bounds table, once per prefix-sum subtree (x8_shard_assign shape)"),
    "x8_budget_effective": (3, "water_fill's 1-row (budget, n) scalar + 1-row saturation aggregate (x8_budget_allocation shape)"),
    "x7_geofence_assignment": (2, "6-row broadcast fence table (containment theta join) + 1-row corpus-total scalar"),
    "x3_ann_ivf_add_recall": (3, "16-row seed-centroid broadcast (assignment + probe legs) + bounded 17-row delta-query block with != self-pair condition (x3_ann_recall_eval shape)"),
    "x3_metric_sensitivity": (2, "broadcast N_QUERIES-row query block, != self-pair condition; the scoped_persist'd scored subtree's InMemoryRelation plan text repeats it once per rank-chain consumer — execution is once"),
    "x7_hotspot_cells": (1, "1-row broadcast global cell-moment scalar (mu, sd)"),
    # r10 continuation wave:
    "x6_cross_correlation": (1, "5-row broadcast lag grid replicated onto the hourly series (bounded literal side)"),
    "x7_ripley_k": (2, "3-row broadcast radius grid + 1-row broadcast (N, area) intensity scalar"),
    "x2_dedup_method_agreement": (2, "16-row broadcast seed-centroid crossJoin inside the scoped-persisted SemDeDup cell table — InMemoryRelation plan text repeats it once per self-join side, execution is once (x2_semantic_dedup shape)"),
    "x3_ivf_nprobe_sweep": (7, "16-row seed-centroid broadcast (assignment + probe legs) + 4-row nprobe grid + the exact leg's N_QUERIES-row broadcast — the scoped_persist'd candidate table's InMemoryRelation plan text repeats the bounded upstream once per consumer (appr + counts); execution is once"),
    "x8_context_length_sweep": (3, "1-row broadcast doc_id-bounds table per prefix-sum subtree (x8_shard_assign shape) + 3-row broadcast context-length grid"),
    "x9_dup_quality_matrix": (1, "1-row broadcast corpus-token-total scalar crossJoined into the 4-row matrix"),
    "x3_ann_method_recall": (2, "exact-baseline leg broadcasts the N_QUERIES-row query block with != self-pair condition (x3_cosine_topk shape); plan text shows it in the hits semi-join and the exact subtree"),
    "x8_temperature_sweep": (1, "4-row broadcast temperature grid crossJoined onto the |sources|-row mass table"),
    "x7_knox": (2, "two 1-row broadcast scalars (time-pair count; point/all-pair counts) crossJoined into the Knox assembly"),
    "x7_clark_evans": (2, "two 1-row broadcast scalars (point count; bbox-edge pair) crossJoined into the summary assembly (x7_ripley_k shape)"),
    "x2_threshold_sweep": (3, "5-row broadcast threshold grid (theta join on jac >= threshold; plan text repeats it in the zero-fill left joins) + 1-row corpus-count scalar"),
    # r11 window (the pinned rotation's first full-plan checks):
    "tpch_q22_idle_customers": (1, "TPC-H Q22's scalar subquery: 1-row broadcast avg-acctbal-of-positive-customers crossJoined into the idle filter"),
    "x6_acf": (1, "3-row broadcast lag grid crossJoined onto the per-user moment table (bounded literal side, x6_cross_correlation shape)"),
    "x3_ann_ivf": (1, "broadcast 16-row seed-centroid table into the assignment scan (x3_ann_ivf_seeded shape)"),
    "x3_mips_topk": (1, "broadcast N_QUERIES-row query block, != self-pair condition (x3_cosine_topk shape)"),
    "x3_ann_ivf_compact": (1, "broadcast 16-row seed-centroid table into the assignment scan (x3_ann_ivf_seeded shape); compaction itself reads back the partitioned layout"),
    # late-r12 session additions:
    "x5_geotag_privacy_audit": (1, "broadcast 6-row fence table containment theta join — the x7_geofence_assignment bounded side"),
    "x9_release_scorecard": (4, "every build side is a 1-row scalar aggregate (corpus count crossJoined into three rate gates; the 4-row persisted gate table's plan text repeats its 1-row sides per consumer) — execution is once per scalar"),
})


#: query -> (max SortAggregate occurrences, why the sort-based aggregate
#: is the right plan there). A struct-valued MAX/max_by silently falls
#: back to SortAggregate (map-side sort of the full input stream) — the
#: r12 .explain sweep found exactly ONE across the whole window, kept
#: deliberately; anything new must be justified here or reformulated
#: (the contamination argmax's int64 order-encoding is the template).
SORTAGG_ALLOWED: dict[str, tuple[int, str]] = {
    "o19_links_dedup": (2, "last-wins max_by(struct(link), seq): the payload is the whole link row (int64 order-encoding inapplicable); partial still combines map-side — one row per (id, callsign) on the wire — and the alternatives cost a second corpus shuffle (SCALE.md r12 note)"),
    "x2_cluster_template": (4, "MIN(text)/MAX(text) over STRING — var-width buffers are not hash-aggregable, so Spark's fallback is correct; input is cluster MEMBER rows only (docs broadcast-joined to the tiny component table), so the local sort is cluster-sized, never corpus-sized; plan text carries the subtree twice (lcp + first-diff consumers)"),
}


@pytest.mark.parametrize("name", registry.PRIORITY + registry.LAST + EXTRA_CHECKED)
def test_windowed_query_plan_hygiene(spark, name):
    plan = (
        registry.QUERIES[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name}: cartesian product planned"
    bnlj = plan.count("BroadcastNestedLoopJoin")
    cap, _why = BNLJ_ALLOWED.get(name, (0, ""))
    assert bnlj <= cap, (
        f"{name}: {bnlj} BroadcastNestedLoopJoin(s) planned, allowlist permits {cap} "
        f"— if the new nested loop has a constant-bounded side, extend BNLJ_ALLOWED "
        f"with its justification"
    )
    # SCALE.md invariant 4: no row-at-a-time SCALAR Python in any windowed
    # plan — Arrow granularity only (pandas_udf / mapInPandas /
    # mapInArrow). BatchEvalPythonUDTF is excluded from the ban: it is
    # the N-13 table-function surface ITSELF (n13_python_udtf — Spark has
    # no Arrow UDTF evaluator; rows stream through the UDTF in batches),
    # not a scalar expression smuggled into a hot path. The substring
    # strip keeps the scalar ban exact (r13: the rotation put
    # n13_python_udtf inside the swept window for the first time).
    assert "BatchEvalPython" not in plan.replace("BatchEvalPythonUDTF", ""), (
        f"{name}: row-at-a-time Python UDF planned (BatchEvalPython) — "
        f"use a pandas_udf / mapInPandas formulation"
    )
    sortagg = plan.count("SortAggregate")
    scap, _swhy = SORTAGG_ALLOWED.get(name, (0, ""))
    assert sortagg <= scap, (
        f"{name}: {sortagg} SortAggregate(s) planned, allowlist permits {scap} "
        f"— a struct-valued max/min probably fell out of hash aggregation; "
        f"reformulate (int64 order-encoding) or justify in SORTAGG_ALLOWED"
    )


#: Ceilings on the regex nodes in the optimized plan of ``to_features``
#: over one alert. Inside the links and time-parse lambdas every
#: sub-expression REFERENCE is evaluated again (CLAUDE.md rule 1), so
#: both layers bind each shared value once (``timeparse.let``); a
#: reintroduced duplicated reference multiplies these counts (the
#: unbound tree held 1061 regexp_extract, 282 rlike, 264 regexp_replace).
#: The time parse runs one lenient parse per timestamp, whichever zone
#: branch it takes.
TRANSFORM_REGEX_NODES = {"regexp_extract": 17, "rlike": 1, "regexp_replace": 2}


def test_alert_transform_evaluates_each_regex_once(spark):
    from etl_active911_spark.pipeline.active911 import ALERT_COLUMNS, ALERTS_SCHEMA, to_features

    one = spark.createDataFrame([tuple("" for _ in ALERT_COLUMNS)], ALERTS_SCHEMA)
    plan = to_features(one)._jdf.queryExecution().optimizedPlan().toString()
    counts = {k: len(re.findall(rf"\b{k}\b", plan, re.IGNORECASE)) for k in TRANSFORM_REGEX_NODES}
    for k, cap in TRANSFORM_REGEX_NODES.items():
        assert 0 < counts[k] <= cap, f"{k}: {counts[k]} nodes planned, ceiling {cap} — {counts}"


def test_spread_sized_to_task_slots(spark):
    """`io.spread`'s round-robin form repartitions to the task slots
    (``defaultParallelism``), not to ``spark.sql.shuffle.partitions``; the
    keyed form never drops below the conf, so ``groupBy(key)`` after it
    plans exactly one Exchange and an equi-join of two keyed spreads
    re-shuffles neither side (CLAUDE.md rule 20)."""
    from pyspark.sql import functions as F

    from etl_active911_spark.io import spread

    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(slots + 3))
    try:
        df = spark.range(100).withColumn("k", F.col("id") % 5)
        assert spread(df).rdd.getNumPartitions() == slots
        keyed = spread(df, "k")
        assert keyed.rdd.getNumPartitions() == slots + 3
        agg = keyed.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
        other = spread(df.select(F.col("k"), F.col("id").alias("id2")), "k")
        join = keyed.join(other, "k")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(re.findall(r"\bExchange\b", agg)) == 1, agg
    assert "hashpartitioning(k#" in agg and f", {slots + 3})" in agg, agg
    assert len(re.findall(r"\bExchange\b", join)) == 2, join


def test_plan_memo_rebuilds_when_spread_counts_change(spark, tmp_path):
    """A memoized plan embeds `io.spread`'s partition count, so
    `plan_memo` rebuilds it when the shuffle conf changes rather than
    serving the count of its first build."""
    from etl_active911_spark.io import spread
    from etl_active911_spark.plans.cache import plan_memo

    builds = []

    def build():
        builds.append(1)
        return spread(spark.range(100), "id")

    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(slots + 1))
        plan_memo("hygiene.spread_memo", spark, str(tmp_path), build)
        plan_memo("hygiene.spread_memo", spark, str(tmp_path), build)
        assert len(builds) == 1
        spark.conf.set("spark.sql.shuffle.partitions", str(slots + 3))
        df = plan_memo("hygiene.spread_memo", spark, str(tmp_path), build)
        assert len(builds) == 2
        assert df.rdd.getNumPartitions() == slots + 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
