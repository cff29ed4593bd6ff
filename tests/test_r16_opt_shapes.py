"""Plan-shape and contract pins for the r16 optimization round's changes.

Value-level correctness is pinned by oracle parity; these are the
mechanical guards for the structural properties each change bought."""

from __future__ import annotations

import os
import re

from etl_active911_spark.plans import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_reseed_plan_persist_free_and_memoized(spark):
    """r16 fold: occupancy + outlier ride ONE cell-keyed window pass, so
    the scoped_persist is gone — no InMemory nodes anywhere (the
    wrap_plan_memo eligibility contract) and the query is PLAN_MEMOED."""
    assert "x3_ann_ivf_reseed_plan" in registry.PLAN_MEMOED
    df = registry.QUERIES["x3_ann_ivf_reseed_plan"](spark, SF_SMOKE)
    txt = df._jdf.queryExecution().toString()
    assert "InMemoryRelation" not in txt and "InMemoryTableScan" not in txt, txt[:3000]


def test_reseed_plan_occupancy_folded_into_window(spark):
    """The occupancy count is a window function over the cell partition
    (an unordered count(1) windowspecdefinition(cell...)), not a separate
    groupBy-aggregate consumer of the scored assignment. The outlier
    row_number is cell-partitioned too, so the pin names the count."""
    df = registry.QUERIES["x3_ann_ivf_reseed_plan"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    occupancy = r"count\(1\) windowspecdefinition\(cell#\d+, specifiedwindowframe\(RowFrame"
    assert re.search(occupancy, analyzed), analyzed[:3000]


def test_textrank_tokenized_corpus_not_persisted(spark):
    """r16 measured rejection: persisting select(doc_id, tokens(text))
    — the engine's most common plan fragment — lets the CacheManager
    substitute it into OTHER queries' plans by canonicalized-subtree
    match (it leaked an InMemoryRelation into x2_substr_scrub's
    memo-eligibility pin). The builder must not register that key."""
    from etl_active911_spark.plans import cache

    registry.QUERIES["x4_textrank_keywords"](spark, SF_SMOKE)
    assert "x4_textrank_keywords.toks" not in cache._LIVE


def test_bigram_comb_guarded_against_empty_token_array(spark):
    """ADVICE r15: the positional explode must not see a size-0 array
    (sequence(1, 0) is descending; element_at(t, 0) throws). The guard
    filter sits between tokenize and the explode."""
    df = registry.QUERIES["x4_bigram_logprob"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "(size(t" in analyzed, analyzed[:3000]


def test_bench_disk_rows_and_io_probe():
    """r16 bench additions: the disk-row bracket names real HEADLINE
    queries, adjacent so the pre-disk-rows probe brackets them all, and
    the IO probe measures something positive."""
    import bench

    assert set(bench.DISK_ROWS) <= set(bench.HEADLINE)
    at = sorted(bench.HEADLINE.index(n) for n in bench.DISK_ROWS)
    assert at == list(range(at[0], at[0] + len(at))), f"DISK_ROWS split in HEADLINE: {at}"
    sec = bench._io_probe()
    assert 0 < sec < 60


def test_driver_gate_selects_contract_modules():
    """The default pytest run must keep every contract-critical module
    (driver-budget gate, VERDICT r15 item 2) and each named module must
    exist on disk — a renamed file would silently shrink the gate."""
    from tests import conftest as c

    here = os.path.dirname(os.path.abspath(__file__))
    required = {
        "test_oracle_parity.py",
        "test_local_correctness.py",
        "test_oracle_types.py",
        "test_plan_hygiene.py",
        "test_plan_memo_wrap.py",
        "test_registry_order.py",
        "test_bench_contract.py",
        "test_active911.py",
        "test_source.py",
        "test_http_transport.py",
    }
    assert required <= c.GATE_MODULES
    for name in c.GATE_MODULES:
        assert os.path.exists(os.path.join(here, name)), name


def test_named_test_file_runs_in_full():
    """`pytest tests/test_streaming.py` must run that file, not
    deselect it silently. A run naming only files outside the gate (also
    as node ids) is targeted and runs them in full; a directory, no
    path, or any gate module among the named files (`pytest
    tests/test_*.py` names every module) keeps the gate, so a suite-wide
    run stays inside its budget however it is spelled."""
    from tests import conftest as c

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    named = c.named_files(
        ["tests/test_threshold_sweep.py::test_threshold_sweep_graded_pairs", "tests", "tests/nope.py"],
        root,
    )
    assert named == {os.path.realpath(os.path.join(root, "tests", "test_threshold_sweep.py"))}
    assert c.is_targeted(["tests/test_streaming.py"], root)
    assert c.is_targeted(["tests/test_threshold_sweep.py::test_threshold_sweep_graded_pairs",
                          "tests/test_streaming.py"], root)
    assert not c.is_targeted([], root)
    assert not c.is_targeted(["tests"], root)
    assert not c.is_targeted(["tests", "tests/test_streaming.py"], root)
    assert not c.is_targeted(["tests/test_streaming.py", "tests/test_plan_hygiene.py"], root)
    every_module = sorted(
        os.path.join("tests", f) for f in os.listdir(os.path.join(root, "tests"))
        if f.startswith("test_") and f.endswith(".py")
    )
    assert not c.is_targeted(every_module, root)
