"""Tests of the benchmark's own measurement logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from measure import (  # noqa: E402
    OpLog,
    ProcTree,
    Tracer,
    attempt,
    covered,
    descendants,
    parse_stat,
    percentile,
    tail_percentile,
)


@pytest.mark.parametrize(
    "n, pct", [(1, 50), (19, 50), (20, 50), (39, 74), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_rule(n, pct):
    assert tail_percentile(n) == pct


@pytest.mark.parametrize("n", range(20, 400, 7))
def test_tail_percentile_leaves_ten_beyond_and_is_highest(n):
    values = [float(i) for i in range(n)]
    pct = tail_percentile(n)
    assert sum(v > percentile(values, pct) for v in values) >= 10
    # the share beyond p holds ten ops; the share beyond p + 1 does not
    assert (100 - pct) * n >= 1000 > (100 - pct - 1) * n


def test_percentile_interpolates():
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert percentile([1.0, 2.0, 3.0], 100) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_ops_are_counted_against_attempted():
    log = OpLog()
    for lat, err in [(1.0, None), (2.0, "q: 3 rows, oracle has 4"), (3.0, None), (4.0, None)]:
        log.record(lat, err)
    assert (log.attempted, log.failed) == (4, 1)
    assert log.failed_frac == 0.25
    s = log.summary(wall_s=10.0, tail_pct=75)
    assert s["ops_per_s"] == 0.4
    assert s["latency_p50_s"] == 2.5
    assert s["latency_tail_s"] == 3.25
    assert s["failed_frac"] == 0.25


def test_failed_frac_of_no_ops_is_total_failure():
    assert OpLog().failed_frac == 1.0


def test_warm_up_failures_count_but_carry_no_latency():
    log = OpLog()
    log.check("q: 3 rows, oracle has 4")  # a warm-up op with a wrong output
    log.check(None)
    log.record(2.0, None)
    log.record(4.0, "q: 3 rows, oracle has 4")
    assert (log.attempted, log.failed) == (4, 2)
    assert log.failed_frac == 0.5
    s = log.summary(wall_s=6.0, tail_pct=50)
    assert s["ops_per_s"] == pytest.approx(2 / 6)  # timed ops only
    assert s["latency_p50_s"] == 3.0


def test_attempt_turns_an_exception_into_a_failure():
    def boom(x):
        raise KeyError(x)

    assert attempt(lambda x: None, 1) is None
    assert attempt(lambda x: f"bad {x}", 1) == "bad 1"
    assert attempt(boom, "q21") == "KeyError: 'q21'"


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(3, 3), (6, 4)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    tr.add("op", 0.0, 10.0, op=0, parent=None)
    tr.add("build", 1.0, 3.0, op=0, parent=0)
    tr.add("http", 2.0, 5.0, op=0, parent=0)  # overlaps build: counted once
    tr.add("exec", 7.0, 8.0, op=0, parent=0)
    tr.add("scan", 7.0, 7.5, op=0, parent=3)  # grandchild: only exec loses it
    st = tr.self_times()
    assert st["op"] == pytest.approx(5.0)
    assert st["exec"] == pytest.approx(0.5)
    assert st["scan"] == pytest.approx(0.5)


def test_nested_spans_take_parent_from_the_open_span():
    tr = Tracer()
    with tr.span("op", 7) as outer:
        with tr.span("inner", 7) as inner:
            pass
    assert tr.spans[inner].parent == outer
    assert tr.spans[outer].parent is None
    assert all(s.op == 7 and s.end >= s.start for s in tr.spans)


def test_parse_stat_handles_spaces_and_parens_in_name():
    fields = ["S", "42"] + ["0"] * 9 + ["100", "20", "3", "4"] + ["0"] * 30
    ppid, ticks = parse_stat("1234 (py (worker) x) " + " ".join(fields))
    assert ppid == 42 and ticks == 127


def test_descendants_walks_the_whole_tree():
    ppids = {2: 1, 3: 2, 4: 3, 5: 1, 6: 99, 7: 6}
    assert descendants(1, ppids) == {2, 3, 4, 5}
    assert descendants(6, ppids) == {7}
    assert descendants(4, ppids) == set()


def test_proc_tree_reads_child_cpu_and_memory():
    tree = ProcTree()
    own = tree.rss_mib()
    cpu0 = tree.child_cpu_s()
    code = (
        "import time; b = bytearray(64 << 20); t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print('ready', flush=True); time.sleep(30)"
    )
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        assert tree.child_cpu_s() - cpu0 >= 0.4
        assert tree.rss_mib() - own >= 60
    finally:
        child.kill()
        child.wait(timeout=10)
    time.sleep(0.05)
    assert tree.rss_mib() < own + 60
