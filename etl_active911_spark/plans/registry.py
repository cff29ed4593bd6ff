"""Query registry: the single source of truth behind ``__spark_entry__.py``.

Every operator from SURVEY.md §2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL string. The driver compares Spark vs DuckDB results by row-count,
schema, and order-insensitive value hash — so builders must emit stable
column aliases and deterministic values (see plans/canonical.py).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder, optionally with its DuckDB oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible op; the driver
    then records a weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver records CORRECTNESS rows for the FIRST 50 entries of
# ``queries()`` only. That window is PRIORITY = CORE + ROTATION, 23 + 27 =
# 50 names. CORE keeps one query per SURVEY §2 family and the reference
# pipeline surface (O-*/a911) on a driver row every round. ROTATION holds
# the oracle-backed queries whose last driver row is oldest, with the
# iterative and heavy ones last so an abort cannot un-score the rest.
# LAST is pinned to the very end. tests/test_registry_order.py pins the
# window, the live rotation queue and the next one; rows-only queries
# (no oracle) stay out of the window.
CORE: tuple[str, ...] = (
    "flagship_revenue_by_nation",
    "o2_source_roundtrip",
    "o5_base64_roundtrip",
    "o10_coord_resolve",
    "o13_response_extract",
    "o15_time_parse",
    "o19_links_dedup",
    "o22_error_accounting",
    "a911_pipeline_flat",
    "a911_features_nested",
    "n11_tumbling_window",
    "n12_session_window",
    "n13_pandas_scalar",
    "n14_stream_stream_join",
    "x1_exact_dedup",
    "x2_dup_clusters",
    "x3_pandas_matmul",
    "x4_token_stats",
    "x5_media_decode",
    "x6_ts_pattern_match",
    "x7_nearest_station",
    "x8_stratified_sample",
    "x9_curation_pipeline",
)

#: The live rotation queue (``PINNED_R15_QUEUE`` in
#: tests/test_registry_order.py).
ROTATION: tuple[str, ...] = (
    "x2_cluster_drift",
    "x2_shingle_df_profile",
    "x6_dominant_period",
    "x6_event_type_markov",
    "x6_threshold_runs",
    "x6_weekday_profile",
    "x7_coverage_gap",
    "x7_temporal_hotspots",
    "x8_dup_weighted_counts",
    "x8_source_quota_fill",
    "x9_gate_ablation",
    "x2_cluster_tail_index",
    "x9_ingest_ablation",
    "x9_ingest_routing",
    "x6_ar1_halflife",
    "x8_pack_attention_contamination",
    "x9_recursive_ldiversity",
    "x9_dp_budget",
    "n23_skew_profile",
    "n11_sliding_window",
    "n12_stateful_dedup",
    "n13_apply_in_pandas",
    "n13_pandas_grouped_agg",
    "n14_stream_static_join",
    "x3_matryoshka_recall",
    "x3_ann_ivf_lloyd2",
    "x3_ann_ivf_reseed_plan",
)

PRIORITY: tuple[str, ...] = CORE + ROTATION

#: Disk-writing queries pinned to the very end (rule 16): an abort in a
#: sandboxed/readonly temp dir cannot un-score the sweep. Their local
#: replica verdicts are recorded in CORRECTNESS_LOCAL.json
#: (tests/test_local_correctness.py, VERDICT r14 item 8).
LAST: tuple[str, ...] = (
    "x3_ann_ivf_compact",
    "x3_ann_ivf_partitioned",
    "x3_ann_ivf_reseed_ride",
    "x3_ann_ivf_append_ride",
)


#: r15 OPTIMIZATION round — queries whose registered function is wrapped
#: in ``plans.cache.wrap_plan_memo`` at load time (rule 35: the bench
#: paid ~35 s/suite of per-call driver-side plan construction; these
#: queries reuse the analyzed plan across invocations while every action
#: still recomputes from the parquet inputs).
#:
#: ELIGIBILITY (mechanical, contract-tested in
#: tests/test_plan_memo_wrap.py): the query's plan contains NO
#: InMemoryTableScan/InMemoryRelation (a per-call ``scoped_persist``
#: would carry cached data across bench runs — result caching, banned)
#: and NO ExistingRDD/LogicalRDD (a builder-side collect/localCheckpoint
#: would freeze computed values). Queries with side-effectful builders
#: (the disk-writing ride/append pair) are excluded even though their
#: plans read clean: their builders create the on-disk index layout and
#: must re-check it per call.
PLAN_MEMOED: tuple[str, ...] = (
    "a911_pipeline_flat",
    "flagship_revenue_by_nation",
    "n10_json_struct",
    "n11_tumbling_window",
    "n12_session_window",
    "n13_apply_in_pandas",
    "n17_asof_join",
    # n19 became eligible in the r15 optimization round: the bloom bitset
    # is now densified in-plan (bloom.bloom_bitset_df), so the builder no
    # longer collects — every action recomputes the bloom from parquet.
    "n19_bloom_prefilter_join",
    "n21_retention_cohorts",
    "n23_skew_profile",
    "n2_join_broadcast_agg",
    "n3_range_join",
    "n4_agg_pricing_summary",
    "n4_percentile_error_bound",
    "n5_acd_error_bound",
    "n7_window_rank",
    "n8_global_topk",
    "tpch_q10_returned_items",
    "tpch_q21_waiting_suppliers",
    "tpch_q8_market_share",
    "x1_exact_dedup",
    "x2_chunk_cross_dup",
    "x2_contamination_gate",
    "x2_decontaminate",
    "x2_fuzzy_linkage",
    "x2_simhash",
    "x2_substr_scrub",
    "x3_ann_ivf_add",
    "x3_ann_ivf_add_recall",
    # reseed_plan became eligible in r16: the occupancy/outlier fold
    # (one cell-keyed window pass) removed its scoped_persist, so the
    # plan holds no InMemory nodes and every action recomputes from
    # parquet. Its build is the heaviest in the ANN family (the whole
    # 2-step Lloyd chain), so the memo matters (see OPTIMIZATION_r16.md).
    "x3_ann_ivf_reseed_plan",
    "x3_ann_stream_ingest",
    "x3_cosine_topk",
    "x4_bigram_logprob",
    "x4_compression_bound",
    "x4_fertility_by_lang",
    "x4_lang_id",
    "x4_langid_confusion",
    "x4_langid_risk_coverage",
    "x4_normalization_gain",
    # r16 eligibility scan: plain one-pass token stats, no cached nodes,
    # 0.33 s cold build — the last HEADLINE query that was memo-clean
    # but unmemoized (the ride rows stay out: their builders carry the
    # sanctioned index-build side effect).
    "x4_token_stats",
    "x4_pii_gate",
    "x5_aspect_bucket_pack",
    "x5_audio_envelope_dedup",
    "x5_geotag_privacy_audit",
    "x5_media_decode",
    "x5_media_decode_real",
    "x5_phash_banded_dedup",
    "x6_ar1_halflife",
    "x6_cusum_changepoint",
    "x6_forecast_eval",
    "x6_resample_ffill",
    "x6_ts_decompose",
    "x6_ts_dtw",
    "x6_ts_pattern_match",
    "x8_epoch_shuffle",
    "x8_interleave_sources",
    "x8_pack_attention_contamination",
    "x8_shard_assign",
    "x8_stratified_sample",
    "x9_dp_budget",
    "x9_recursive_ldiversity",
    "x9_t_closeness",
)


def _wrap_plan_memoed() -> None:
    """Apply the plan memo to every PLAN_MEMOED query (idempotent)."""
    from etl_active911_spark.plans import cache

    for name in PLAN_MEMOED:
        fn = QUERIES.get(name)
        if fn is not None and not getattr(fn, "_plan_memoed", False):
            QUERIES[name] = cache.wrap_plan_memo(name, fn)


def ordered_queries() -> dict[str, QueryFn]:
    """Registry contents reordered for the driver's 50-row scoring window:
    PRIORITY names first (in that order), then the remaining queries in
    registration order, with LAST names pinned to the very end."""
    load_all()
    missing = [n for n in PRIORITY + LAST if n not in QUERIES]
    if missing:
        raise ValueError(f"PRIORITY/LAST names not registered: {missing}")
    head = set(PRIORITY)
    tail = set(LAST)
    out: dict[str, QueryFn] = {n: QUERIES[n] for n in PRIORITY}
    out.update({n: f for n, f in QUERIES.items() if n not in head and n not in tail})
    out.update({n: QUERIES[n] for n in LAST})
    return out


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import etl_active911_spark.operators.relational  # noqa: F401
    import etl_active911_spark.operators.tpch  # noqa: F401
    import etl_active911_spark.operators.asof  # noqa: F401
    import etl_active911_spark.operators.bloom  # noqa: F401
    import etl_active911_spark.operators.resample  # noqa: F401
    import etl_active911_spark.operators.scd  # noqa: F401
    import etl_active911_spark.operators.dedup  # noqa: F401
    import etl_active911_spark.operators.similarity  # noqa: F401
    import etl_active911_spark.operators.textual  # noqa: F401
    import etl_active911_spark.operators.multimodal  # noqa: F401
    import etl_active911_spark.operators.timeseries  # noqa: F401
    import etl_active911_spark.operators.clustering  # noqa: F401
    import etl_active911_spark.operators.ingest_funnel  # noqa: F401
    import etl_active911_spark.operators.mixture  # noqa: F401
    import etl_active911_spark.operators.geo  # noqa: F401
    import etl_active911_spark.operators.sampling  # noqa: F401
    import etl_active911_spark.operators.skewdemo  # noqa: F401
    import etl_active911_spark.operators.udfs  # noqa: F401
    import etl_active911_spark.pipeline.queries  # noqa: F401
    import etl_active911_spark.pipeline.control  # noqa: F401
    import etl_active911_spark.streaming.windows  # noqa: F401
    import etl_active911_spark.streaming.joins  # noqa: F401

    _wrap_plan_memoed()
