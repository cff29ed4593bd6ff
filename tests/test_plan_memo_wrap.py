"""Contract tests for the memo layer (plans/cache): the r15 whole-plan
memo (registry.PLAN_MEMOED, fixtures.synthetic_alerts) and the
fixture-memo invalidation.

The optimization removes per-call driver-side plan construction (rule 35)
WITHOUT caching any data: every action on the memoized DataFrame must
still recompute from the parquet inputs. These tests make the eligibility
rule mechanical and pin the no-result-caching property.
"""

from __future__ import annotations

import pytest

from etl_active911_spark.plans import cache, registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_all_plan_memoed_names_registered():
    missing = [n for n in registry.PLAN_MEMOED if n not in registry.QUERIES]
    assert not missing, missing


def test_wrapper_applied_and_idempotent():
    for name in registry.PLAN_MEMOED:
        assert getattr(registry.QUERIES[name], "_plan_memoed", False), name
    before = {n: registry.QUERIES[n] for n in registry.PLAN_MEMOED}
    registry._wrap_plan_memoed()
    for n, fn in before.items():
        assert registry.QUERIES[n] is fn, f"{n} double-wrapped"


@pytest.mark.parametrize("name", registry.PLAN_MEMOED)
def test_no_materialization_in_plan(spark, name):
    """ELIGIBILITY: a memoized plan must hold no cached-data nodes — no
    InMemoryTableScan/InMemoryRelation (scoped_persist inside the builder
    would carry cached blocks across bench runs) and no ExistingRDD/
    LogicalRDD (builder-side collect/localCheckpoint freezes computed
    values). A query that grows one of these must leave PLAN_MEMOED."""
    df = registry.QUERIES[name](spark, SF_SMOKE)
    txt = df._jdf.queryExecution().toString()
    for marker in ("InMemoryTableScan", "InMemoryRelation", "ExistingRDD", "LogicalRDD"):
        assert marker not in txt, f"{name}: {marker} in memoized plan"


def _executed(df) -> str:
    """The executed plan's text plus its first leaf's SQL metrics: an
    action on this QueryExecution changes one or the other (AQE's
    ``isFinalPlan``, or the scan's file and row counts)."""
    ep = df._jdf.queryExecution().executedPlan()
    return ep.toString() + ep.collectLeaves().head().metrics().toString()


def test_memo_hit_and_tz_key(spark):
    """Repeat invocation reuses the memoized ANALYZED subtree (the stored
    entry is the same object) while every call returns a FRESH Dataset
    wrapper — an executed instance must never leak its post-execution
    plan to another caller (the r15 in-suite hygiene failures). A
    session-TZ flip (the hostile sweep's move) must MISS the memo and
    build fresh, then hit again after restoring the zone. Checked for a
    registry-wrapped query and for the shared alert fixture plan."""
    import os

    from etl_active911_spark.pipeline.fixtures import synthetic_alerts

    app_id = spark.sparkContext.applicationId
    sf_abs = os.path.abspath(SF_SMOKE)
    flagship = registry.QUERIES["flagship_revenue_by_nation"]
    cases = {
        "q.flagship_revenue_by_nation": lambda: flagship(spark, SF_SMOKE),
        "fixtures.synthetic_alerts": lambda: synthetic_alerts(spark, SF_SMOKE),
    }

    def stored(memo_name, tz):
        # Filter on the FULL memo key (app id + sf_dir, not just name+tz):
        # in suite order, other tests legitimately add entries for other
        # sf_dirs and for restarted SparkContexts — matching on name+tz
        # alone made this test order-dependent.
        return [
            v[1]
            for k, v in cache._QPLAN_MEMO.items()
            if k[0] == memo_name and k[1] == app_id and k[2] == sf_abs and k[3] == tz
        ]

    for memo_name, call in cases.items():
        prev = spark.conf.get("spark.sql.session.timeZone")
        a = call()
        (sa,) = stored(memo_name, prev)
        b = call()
        (sb,) = stored(memo_name, prev)
        assert sa is sb, f"{memo_name}: second call must HIT the memo (same stored subtree)"
        assert a is not b, f"{memo_name}: each call must return a fresh wrapper"
        before = _executed(b)
        a.collect()
        assert _executed(b) == before, f"{memo_name}: executing one wrapper changed another"
        try:
            spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
            call()
            (sc,) = stored(memo_name, "Asia/Tokyo")
            assert sc is not sa, f"{memo_name}: TZ flip must not serve the UTC-built plan"
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        call()
        (sd,) = stored(memo_name, prev)
        assert sd is sa, f"{memo_name}: restored zone must hit the original entry"


def test_memoized_plan_stays_initial_after_execution(spark):
    """Regression pin for the r15 order-dependent hygiene failures: after
    an action on one returned instance, a NEW invocation's executedPlan
    must still be the INITIAL adaptive plan (isFinalPlan=false shape),
    not the executed instance's re-optimized plan — x8_epoch_shuffle read
    4 BroadcastNestedLoopJoins (vs 2) and n17_asof_join 2 Exchanges
    (vs 1) when the stored object itself was returned."""
    d1 = registry.QUERIES["x8_epoch_shuffle"](spark, SF_SMOKE)
    before = d1._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastNestedLoopJoin"
    )
    d1.collect()
    d2 = registry.QUERIES["x8_epoch_shuffle"](spark, SF_SMOKE)
    after = d2._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastNestedLoopJoin"
    )
    assert after == before, f"post-execution plan leaked: {before} -> {after}"


def test_memoized_plan_recomputes_every_action(spark):
    """No-result-caching proof: each action on the memoized DataFrame runs
    real Spark jobs (a cached result would run zero)."""
    name = "flagship_revenue_by_nation"
    df = registry.QUERIES[name](spark, SF_SMOKE)
    st = spark.sparkContext.statusTracker()
    df.count()
    mid = set(st.getJobIdsForGroup(None))
    df.count()
    after = set(st.getJobIdsForGroup(None))
    assert len(after - mid) >= 1, "second action ran no jobs — data was cached"


def test_fingerprint_covers_every_table(tmp_path):
    """table='*' fingerprints all parquet entries under sf_dir, so a
    rewrite of ANY input table invalidates the whole-plan memo."""
    import shutil
    import os

    for t in ("region", "nation"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    fp1 = cache._fixture_fingerprint(str(tmp_path), "*")
    assert len(fp1) == 2
    os.utime(tmp_path / "nation.parquet", (0, 0))
    fp2 = cache._fixture_fingerprint(str(tmp_path), "*")
    assert fp1 != fp2


def test_fixture_memo_rewrite_invalidates_and_releases(spark, tmp_path):
    """Rewriting the fixture under a live ``fixture_memo`` entry must
    rebuild it — the shared pair graph then holds the NEW pairs — and
    release the stale entry's checkpoint blocks."""
    from etl_active911_spark.operators.dedup import shared_verified_pairs

    words = [" ".join(f"{tag}{i}" for i in range(12)) for tag in ("ka", "lo", "mu", "ne")]

    def write(texts):
        docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id long, text string")
        docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    def pairs(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}

    def persistent_rdds():
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    write([words[0], words[0], words[1], words[2]])
    first = shared_verified_pairs(spark, str(tmp_path))
    assert pairs(first) == {(1, 2)}
    assert shared_verified_pairs(spark, str(tmp_path)) is first, "unchanged fixture must hit"
    rdd_id = first._jdf.queryExecution().logical().rdd().id()
    assert rdd_id in persistent_rdds()

    write([words[0], words[1], words[3], words[3]])
    second = shared_verified_pairs(spark, str(tmp_path))
    assert second is not first
    assert pairs(second) == {(3, 4)}
    assert rdd_id not in persistent_rdds(), "stale entry's checkpoint blocks still pinned"


def test_connected_components_repeat_calls_hold_rdd_count_flat(spark):
    """Each ``connected_components`` call checkpoints its edge list and,
    every third iteration, its labels. The next call must release them:
    ``Dataset.unpersist`` cannot, so before the fix every call left one
    more checkpoint RDD pinned (2 → 3 → 4 → 5 over four calls)."""
    from etl_active911_spark.operators.clustering import connected_components

    # four 6-node paths, 20 edges: diameter 5, so the loop runs six
    # iterations and checkpoints its labels at the third and the sixth
    edges = [(b + i, b + i + 1) for b in (0, 10, 20, 30) for i in range(5)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    counts = []
    for _ in range(4):
        comp = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
        assert comp == {b + i: b for b in (0, 10, 20, 30) for i in range(6)}
        counts.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert counts[1:] == counts[:1] * 3, f"checkpoint RDDs accumulate: {counts}"


def test_connected_components_star_repeat_calls_hold_rdd_count_flat(spark):
    """``connected_components_star`` checkpoints its edge list and each
    round's stars; the next call under the same key must release them
    (without the release four calls read 3 → 5 → 7 → 8 pinned RDDs). Two
    keys hold their checkpoints apart: a second-key call between the
    calls must not free the first key's result."""
    from etl_active911_spark.operators.clustering import connected_components_star

    edges = [(b + i, b + i + 1) for b in (0, 10, 20, 30) for i in range(5)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {b + i: b for b in (0, 10, 20, 30) for i in range(6)}

    def comp(df):
        return {r["doc_id"]: r["component"] for r in df.collect()}

    counts = []
    for _ in range(4):
        assert comp(connected_components_star(pairs)) == want
        counts.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert counts[1:] == counts[:1] * 3, f"checkpoint RDDs accumulate: {counts}"

    held = connected_components_star(pairs, key="t.star.held")
    assert comp(connected_components_star(pairs, key="t.star.other")) == want
    assert comp(held) == want
