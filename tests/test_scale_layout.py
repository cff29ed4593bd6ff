"""Scale-layout tests: salted aggregation/join correctness and bucketed
co-located joins (exchange elimination verified in the physical plan)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_active911_spark.io import read_table
from etl_active911_spark.plans.skew import salted_agg, salted_join
from tests.conftest import SF_BENCH, SF_ORACLE, SF_SMOKE, skip_if_no_bench_sf


def test_salted_agg_matches_plain(spark):
    li = read_table(spark, SF_ORACLE, "lineitem")
    plain = {
        (r["l_returnflag"]): (r["s"], r["c"])
        for r in li.groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    salted = {
        (r["l_returnflag"]): (round(r["sum_l_quantity"], 2), r["count_l_orderkey"])
        for r in salted_agg(
            li, "l_returnflag", {"l_quantity": "sum", "l_orderkey": "count"}
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    orders = read_table(spark, SF_ORACLE, "orders")
    customer = read_table(spark, SF_ORACLE, "customer").select("c_custkey", "c_name")
    plain = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    ).count()
    salted = salted_join(
        orders, customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    ).count()
    assert plain == salted


def test_ann_lsh_band_join_is_equi_join(spark):
    """x3_ann_lsh must candidate-generate via an equi-join on the exploded
    (band_idx, band_hash) key — never a BroadcastNestedLoopJoin that
    evaluates every corpus×query pair (VERDICT r01 #4). A hash or
    sort-merge join on the band key is the 100 TB-safe plan."""
    from etl_active911_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["x3_ann_lsh"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_embedding_neardup_blocked_gemm_is_exact(spark):
    """x2_embedding_neardup (blocked cogroup GEMM — no driver collect of
    embeddings) must equal the brute-force all-pairs threshold join."""
    import numpy as np

    from etl_active911_spark.io import read_table
    from etl_active911_spark.plans import registry

    registry.load_all()
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in registry.QUERIES["x2_embedding_neardup"](spark, SF_ORACLE).collect()
    }
    pdf = read_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding").toPandas()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = M @ M.T
    ai, bj = np.where(sims >= 0.45)
    want = {
        (int(ids[i]), int(ids[j])): round(float(sims[i, j]), 6)
        for i, j in zip(ai, bj)
        if ids[i] < ids[j]
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_ivf_partitioned_probe_is_partition_pruned(spark, tmp_path_factory):
    """The materialized IVF layout must turn probes into partition-pruned
    scans: the cell filter lands in PartitionFilters (file skipping), not
    a post-scan Filter over all cells."""
    from etl_active911_spark.operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        ivf_probe_topk,
        ivf_write_index,
    )

    path = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_write_index(spark, SF_ORACLE, path)
    got = ivf_probe_topk(spark, SF_ORACLE, path)
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m, plan[:3000]
    rows = got.collect()
    # every query answered with k ranked neighbors from probed cells
    assert len(rows) == N_QUERIES * TOP_K
    assert IVF_NPROBE < 16  # probes read a strict subset of cells


def test_ngram_jaccard_df_cut_knob(spark):
    """max_df=None must be bit-identical to the oracle-checked exact query;
    a tight cut may only LOSE pairs or LOWER scores, never invent them."""
    from etl_active911_spark.io import read_table
    from etl_active911_spark.operators.dedup import ngram_jaccard_with_df_cut
    from etl_active911_spark.plans import registry

    registry.load_all()
    docs = read_table(spark, SF_ORACLE, "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in registry.QUERIES["x2_ngram_jaccard"](spark, SF_ORACLE).collect()
    }
    uncut = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_with_df_cut(docs, max_df=None).collect()
    }
    assert uncut == exact
    cut = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_with_df_cut(docs, max_df=3).collect()
    }
    assert set(cut) <= set(exact)
    for pair, j in cut.items():
        assert j <= exact[pair] + 1e-9


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("warehouse")
    return d


def test_bucketed_join_eliminates_exchange(spark, warehouse):
    """Bucketing both sides by the join key removes the shuffle: the
    SortMergeJoin reads pre-bucketed files directly (no Exchange above the
    scans). This is the repeated-large-join layout for 100 TB."""
    orders = read_table(spark, SF_ORACLE, "orders")
    lineitem = read_table(spark, SF_ORACLE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(warehouse / "b_orders"))
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(warehouse / "b_lineitem"))
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    # disable broadcast so the join would otherwise need a full shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
        # and it is still correct
        assert joined.count() == lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_geo_bucket_join_has_no_cartesian(spark):
    """x7_geo_bucket_join must candidate-generate via the grid-cell
    equi-join — never a cartesian/nested-loop over all alert pairs."""
    from etl_active911_spark.plans import registry

    registry.load_all()
    plan = (
        registry.QUERIES["x7_geo_bucket_join"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """x2_decontaminate's posting join must broadcast the (small) benchmark
    gram side — the corpus side must not shuffle on the gram."""
    from etl_active911_spark.plans import registry

    registry.load_all()
    plan = (
        registry.QUERIES["x2_decontaminate"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_dtw_chunked_grouping_is_bounded_and_exact(spark):
    """VERDICT r02 #3: DTW must never hold one user's unbounded series in a
    single task. The chunked grouping bounds every pandas group at
    chunk + WINDOW - 1 rows and — because each window is emitted exactly
    once by the chunk owning its end row — produces bit-identical output
    to the unchunked per-user grouping."""
    from etl_active911_spark.operators.timeseries import WINDOW, dtw_batch

    events = read_table(spark, SF_ORACLE, "events")
    chunk = 16  # tiny chunk: forces many chunks per user at sf0.01

    # bound: no (user, chunk) group exceeds chunk + WINDOW - 1 rows
    wo = __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy("ts", "event_id")
    base = events.select("user_id", "ts", "event_id").withColumn(
        "seq", F.row_number().over(wo) - 1
    )
    home = F.floor(F.col("seq") / chunk)
    feeds = F.when(
        F.col("seq") % chunk >= chunk - (WINDOW - 1), F.array(home, home + 1)
    ).otherwise(F.array(home))
    sizes = (
        base.withColumn("chunk", F.explode(feeds))
        .groupBy("user_id", "chunk")
        .count()
        .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("groups"))
        .collect()[0]
    )
    assert sizes["mx"] <= chunk + WINDOW - 1
    assert sizes["groups"] > events.select("user_id").distinct().count()  # multi-chunk

    tiny = {
        (r["user_id"], r["event_id"]): r["dtw"]
        for r in dtw_batch(events, chunk=chunk).collect()
    }
    big = {
        (r["user_id"], r["event_id"]): r["dtw"]
        for r in dtw_batch(events).collect()  # DTW_CHUNK: one chunk per user here
    }
    assert tiny == big  # exact float equality — chunking is bit-neutral


def test_dtw_chunk_must_cover_window():
    from etl_active911_spark.operators.timeseries import WINDOW, dtw_batch

    with pytest.raises(ValueError):
        dtw_batch(None, chunk=WINDOW - 1)


def test_dtw_stream_matches_batch_across_arrow_boundaries(spark):
    """r15 optimization pin: ``dtw_stream`` (one exchange, per-batch DP
    with a WINDOW-1 carry) is bit-identical to ``dtw_batch`` — including
    under a tiny Arrow batch size that forces windows to SPAN batch
    boundaries, exercising the carry path on every batch."""
    from etl_active911_spark.operators.timeseries import dtw_batch, dtw_stream

    events = read_table(spark, SF_ORACLE, "events")
    want = {tuple(r) for r in dtw_batch(events).collect()}

    got = {tuple(r) for r in dtw_stream(events).collect()}
    assert got == want  # exact float equality, default batching

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "13")  # < WINDOW*2: every batch carries
        tiny = {tuple(r) for r in dtw_stream(events).collect()}
    finally:
        spark.conf.set(key, prev)
    assert tiny == want


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of join must be the union-scan plan: ONE exchange on the key
    and NO join operator anywhere — a range-join formulation would put an
    unbounded per-click candidate set on the build side at scale."""
    from etl_active911_spark.plans.registry import QUERIES, load_all

    load_all()
    plan = (
        QUERIES["n17_asof_join"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_bloom_prefilter_is_broadcast_only_and_superset(spark):
    """n19's probe must be pure broadcast hash joins (the fact side never
    shuffles, no BNLJ/sort-merge), the word table must stay within its
    fixed 2048-row bound, and the bloom candidate set must be a SUPERSET
    of the true matches (no false negatives) with a small FP rate."""
    from etl_active911_spark.operators import bloom
    from etl_active911_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["n19_bloom_prefilter_join"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The fact side must never shuffle for a join. The ONLY nested-loop
    # join allowed is the 1-row bloom-bitset broadcast (Catalyst folds the
    # constant-key equi join into a BNLJ whose build side is the single
    # `_bloom` row — a scalar broadcast, 1×N, no pairwise blowup); the
    # exact FP-removal join must be a BroadcastHashJoin.
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    if "BroadcastNestedLoopJoin" in plan:
        assert "_bloom" in plan.split("BroadcastNestedLoopJoin")[1][:2500], plan[:3000]
    assert "BroadcastHashJoin" in plan

    cust = read_table(spark, SF_ORACLE, "customer")
    keys = {
        r["c_custkey"]
        for r in cust.filter(F.col("c_mktsegment") == bloom._SEGMENT)
        .select("c_custkey")
        .collect()
    }
    words = bloom.bloom_build(
        cust.filter(F.col("c_mktsegment") == bloom._SEGMENT).select("c_custkey"),
        "c_custkey",
    )
    assert words.count() <= bloom.M_BITS // 32

    cand = {
        r["o_custkey"]
        for r in bloom.bloom_candidates(spark, SF_ORACLE)
        .select("o_custkey")
        .distinct()
        .collect()
    }
    all_cust = {r["c_custkey"] for r in cust.select("c_custkey").collect()}
    orders_cust = {
        r["o_custkey"]
        for r in read_table(spark, SF_ORACLE, "orders")
        .select("o_custkey")
        .distinct()
        .collect()
    }
    true_matches = keys & orders_cust
    assert true_matches <= cand  # no false negatives — the data-loss bug class
    false_pos = cand - keys
    # m/n ~ 21 bits/key here -> theoretical FP ~ 0.1%; allow generous slack.
    assert len(false_pos) <= max(5, 0.02 * len(all_cust)), len(false_pos)


def test_fuzzy_linkage_blocking_superset_and_subquadratic(spark):
    """VERDICT r03 item 2: x2_fuzzy_linkage must not block on p_brand alone.
    (a) SUPERSET: the PassJoin segment blocking over the distinct-name
    vocabulary must contain every true edit-≤3 pair of different names —
    zero recall loss, so the unblocked oracle stays valid. (b) SUB-QUADRATIC:
    candidate count must be vocabulary-bounded, far below the within-brand
    pair count the old blocking produced. (c) PLAN: candidate generation is
    a pure equi-join on the composite (brand, l, i, seg) key — no
    cartesian/BNLJ anywhere."""
    from etl_active911_spark.operators.dedup import ED_K, fuzzy_candidate_name_pairs

    part = read_table(spark, SF_ORACLE, "part").select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name")
    )
    classes = part.distinct()
    cand = fuzzy_candidate_name_pairs(classes)

    # (a) superset of the brute-force truth over the vocabulary
    a = classes.select("brand", F.col("name").alias("name_a"))
    b = classes.select("brand", F.col("name").alias("name_b"))
    true_pairs = (
        a.join(b, "brand")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b", ED_K) >= 0)
    )
    missed = true_pairs.join(cand, ["brand", "name_a", "name_b"], "left_anti").count()
    assert missed == 0

    # (b) candidates are bounded by vocabulary collisions, not brand size:
    # the old p_brand blocking yields sum_b n_b*(n_b-1)/2 row-level pairs
    n_cand = cand.count()
    brand_rows = read_table(spark, SF_ORACLE, "part").groupBy("p_brand").count().collect()
    brand_level_pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in brand_rows)
    assert n_cand * 5 < brand_level_pairs, (n_cand, brand_level_pairs)

    # (c) equi-join on the composite segment key; no quadratic join operator
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "seg" in plan


def test_fuzzy_linkage_candidates_grow_sublinearly(spark):
    """Class-dedup makes candidate work scale with the name VOCABULARY, not
    the row count: once the vocabulary saturates (by sf0.01 here), 10x the
    rows (sf0.01 -> sf0.1) must grow name-level candidates by well under
    10x. The old row-level p_brand blocking grew ~100x over the same step
    (quadratic in block size — measured r4: 32.6k -> 3.3M pairs)."""
    from etl_active911_spark.operators.dedup import fuzzy_candidate_name_pairs

    counts = {}
    skip_if_no_bench_sf()
    for sf in (SF_ORACLE, SF_BENCH):
        classes = (
            read_table(spark, sf, "part")
            .select(F.col("p_brand").alias("brand"), F.col("p_name").alias("name"))
            .distinct()
        )
        counts[sf] = fuzzy_candidate_name_pairs(classes).count()
    assert counts[SF_BENCH] < 5 * counts[SF_ORACLE], counts


def test_reservoir_sample_uses_window_group_limit(spark):
    """x8_reservoir_sample's scale story is Spark's WindowGroupLimit
    pushdown (per-partition top-k before the lang shuffle, so no single
    task ever sees a whole language); pin it in the executed plan
    (VERDICT r03 minor)."""
    from etl_active911_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["x8_reservoir_sample"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:3000]
    # the pushdown must appear on BOTH sides of the exchange: a partial
    # (map-side) group-limit before the shuffle and the final one after
    pre, _, post = plan.partition("Exchange")
    assert "WindowGroupLimit" in pre and "WindowGroupLimit" in post, plan[:3000]


def test_shard_assign_two_phase_prefix_sum(spark):
    """x8_shard_assign must (a) equal the naive global-window prefix sum
    row-for-row, and (b) keep the corpus-sized window PARTITIONED — the
    only single-partition window allowed is the per-range offsets table
    (one row per range). A global ORDER BY window over the corpus would
    funnel 100 TB through one task."""
    from etl_active911_spark.operators.sampling import TARGET_SHARD_BYTES, assign_shards

    docs = read_table(spark, SF_ORACLE, "documents")
    got = {
        r["doc_id"]: (r["n_bytes"], r["shard_id"])
        for r in assign_shards(docs).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = (
        docs.select("doc_id", F.octet_length("text").cast("bigint").alias("n_bytes"))
        .withColumn("cum", F.sum("n_bytes").over(w))
        .withColumn(
            "shard_id", F.expr(f"CAST((cum - n_bytes) DIV {TARGET_SHARD_BYTES} AS BIGINT)")
        )
    )
    want = {r["doc_id"]: (r["n_bytes"], r["shard_id"]) for r in naive.collect()}
    assert got == want

    plan = assign_shards(docs)._jdf.queryExecution().executedPlan().toString()
    # SinglePartition exchanges may only feed O(1)-row subtrees: the two
    # global min/max bounds aggregates (partials are 1 row per input
    # partition) and the n_ranges-row offsets cumsum — never the corpus
    assert plan.count("SinglePartition") <= 3, plan[:3000]
    # the corpus-sized running-sum window must shuffle by HASH on the
    # derived range id, not funnel into one task
    assert "hashpartitioning(pid" in plan, plan[:3000]
    # r6: range ids must be DATA-derived — physical-partition state in the
    # plan is exactly the nondeterminism that broke r5's driver rows
    assert "spark_partition_id" not in plan.lower(), plan[:3000]


def test_scoped_persist_bounds_cache_entries(spark):
    """plans/cache.py contract: re-invoking a query that scoped-persists
    must leave at most ONE live cache entry per key — the r2 ADVICE
    concern (persist accumulation across the parity sweep) stays fixed."""
    from etl_active911_spark.plans.cache import _LIVE, scoped_persist

    df1 = scoped_persist("test.cache.key", spark.range(10))
    assert df1.storageLevel.useMemory
    df2 = scoped_persist("test.cache.key", spark.range(20))
    assert df2.count() == 20  # the NEW frame is returned, never the old
    assert not df1.storageLevel.useMemory  # previous entry released
    assert _LIVE["test.cache.key"] is df2
    df2.unpersist()
    del _LIVE["test.cache.key"]


def test_minhash_candidates_are_join_free(spark):
    """r4: LSH candidate generation is bucket-and-explode — the banded
    signature pipeline must appear ONCE in the plan (a band self-join
    evaluated it once per join side; Spark cannot reuse an exchange
    across a broadcast boundary)."""
    from etl_active911_spark.io import spread
    from etl_active911_spark.operators.dedup import lsh_candidate_pairs

    docs = spread(read_table(spark, SF_ORACLE, "documents"))
    plan = lsh_candidate_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan[:2000])


def test_partial_topk_plans_windowgrouplimit_partial(spark):
    """partial_topk relies on Spark's rank-limit pushdown for its partial
    phase: the plan must contain a map-side WindowGroupLimit (Partial)
    BEFORE the final window's exchange, so only partitions x queries x k
    rows ever shuffle (r5 — replaced the Arrow mapInPandas prune)."""
    from etl_active911_spark.operators.similarity import x3_cosine_topk

    plan = x3_cosine_topk(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
    assert "row_number(), 5, Partial" in plan, plan[:2000]
    assert "row_number(), 5, Final" in plan


def test_bucketed_join_has_no_exchange(spark):
    """Bucketed layout (``io.write_bucketed``): joining two tables
    bucketed on the same key with the same bucket count must plan a
    SortMergeJoin with ZERO shuffle exchange on either side — the
    write-once/join-forever co-location story SCALE.md claims for
    repeated fact-fact joins. Broadcast is disabled for the assert so
    the planner can't sidestep the demonstration at fixture scale."""
    from etl_active911_spark.io import read_table, write_bucketed

    orders = read_table(spark, SF_ORACLE, "orders").select("o_orderkey", "o_orderdate")
    lineitem = read_table(spark, SF_ORACLE, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    write_bucketed(orders, "bkt_orders", "o_orderkey", n_buckets=8, sort_col="o_orderkey")
    write_bucketed(lineitem, "bkt_lineitem", "o_orderkey", n_buckets=8, sort_col="o_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_orders").join(spark.table("bkt_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan, plan[:1500]
        assert "SelectedBucketsCount" in plan  # scans are bucket-aware
        # and the join is real: row count matches the unbucketed join
        n = joined.count()
        want = (
            read_table(spark, SF_ORACLE, "lineitem")
            .join(
                read_table(spark, SF_ORACLE, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n == want and n > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
