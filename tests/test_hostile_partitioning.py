"""Partition-count invariance sweep for the r7 additions (SCALE.md
invariant 9's broader form): a correct distributed operator's RESULT must
not depend on how many partitions the data happens to arrive in — the
property a 1000-executor cluster exercises on every run. This sweep
re-checks oracle parity for the window/prefix-sum/explode-shaped r7
queries under a hostile shuffle-partition count (prime, tiny) with AQE
coalescing disabled, so every shuffle Spark sizes from
``spark.sql.shuffle.partitions`` (aggregates, joins, windows) lands in 7
partitions instead of the tuned 32. ``io.spread``'s round-robin
exchanges keep their own size, the task-slot count, and its keyed ones
take the larger of the slot count and 7, so a query that spreads may be
checked with two partition counts in one plan."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tests.parity import compare, fetch_df

from etl_active911_spark.plans import registry

registry.load_all()

HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
}

#: the r7 queries whose shapes involve windows, prefix sums, exploded
#: aggregates, or Arrow batching — the shapes partitioning could bite
R7_PARTITION_SENSITIVE = [
    "x2_cdc_chunks",
    "x6_matrix_profile",
    "x8_length_batching",
    "x8_budget_allocation",
    "x5_phash_dedup",
    "x5_audio_decode_real",
    "x9_dataset_report",
    "x9_corpus_diff",
    "x3_scalar_quant",
]


@pytest.fixture()
def hostile_partitions(spark):
    prev = {k: spark.conf.get(k) for k in HOSTILE}
    for k, v in HOSTILE.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in prev.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", R7_PARTITION_SENSITIVE)
def test_r7_query_parity_under_hostile_partitioning(hostile_partitions, duck, name):
    spark_df = registry.QUERIES[name](hostile_partitions, SF_ORACLE)
    problems = compare(spark_df, fetch_df(duck, registry.ORACLES[name]))
    assert not problems, f"{name} under 7 shuffle partitions: " + "; ".join(problems[:2])
