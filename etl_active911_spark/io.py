"""Fixture-table readers (SURVEY.md §2.1 O-8).

Schemas are inferred from the parquet footer, not declared: every
``read_table`` call reads the footer again, which costs one Spark job
while the query is still being built. The footer carries the fixture's
physical types, so the inferred schema is stable for a given file.
Filters/projections applied by callers reach the scan via Catalyst
pushdown — do not pre-materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects by
        # default (PARQUET_TYPE_ILLEGAL). Read nanos as long (runtime conf)
        # and convert to a microsecond timestamp — lossless for this data,
        # and identical to DuckDB's ns→us handling.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            # Integer division — a double division here would lose precision
            # (epoch-nanos ≈ 1.7e18 exceeds double's 53-bit mantissa).
            # The ntz cast renders the instant in the *session* zone, so
            # convert that wall clock back to UTC wall: events.ts becomes a
            # UTC TIMESTAMP_NTZ under ANY session timezone — matching
            # DuckDB's naive reading and the other tables' ntz columns
            # (date functions on events.ts are then session-tz-independent;
            # verified by the Asia/Tokyo parity sweep in tests).
            session_tz = spark.conf.get("spark.sql.session.timeZone")
            df = df.withColumn(
                "ts",
                F.convert_timezone(
                    F.lit(session_tz),
                    F.lit("UTC"),
                    F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
                ),
            )
        return df
    return spark.read.parquet(path)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition so every task slot gets rows — round-robin to the slot
    count (``defaultParallelism``) by default, HASH-partitioned to
    ``max(slots, spark.sql.shuffle.partitions)`` when key columns are
    given.

    The fixture tables are single parquet files → Spark reads them as ONE
    partition, serializing any CPU-heavy per-row work (measured: the whole
    MinHash pipeline ran on one core). A cheap exchange before expensive
    derivations buys full parallelism; on a real 100 TB layout inputs
    arrive pre-split, and this becomes a no-op-sized safeguard for
    small/skewed file sets.

    The round-robin form is sized to the slots, not to
    ``spark.sql.shuffle.partitions``: it exists to put rows on every
    slot, and more partitions than slots only add tasks (AQE never
    coalesces a repartition to an explicit count). On ``local[4]`` a
    32-way spread ran 32-task stages over 1k rows; ``x3_cosine_topk``
    went 0.58-0.65 → 0.38-0.42 s per pass at 4 slots.

    Passing key columns makes the exchange do double duty: narrow ops
    (project/filter/explode) preserve hash partitioning, so a downstream
    ``groupBy(cols)`` or equi-join on the same keys needs NO further
    exchange — e.g. the MinHash signature aggregate goes from 2 exchanges
    to 1 when documents are spread by ``doc_id`` before the shingle
    explode (the per-doc explosion is what the parallelism is for, and
    the aggregate runs where the rows already live). That is why the
    keyed form never drops below ``spark.sql.shuffle.partitions``: an
    equi-join re-shuffles BOTH sides when a hash-partitioned child has
    fewer partitions than the conf (``x9_curation_v6`` planned 9 → 10
    exchanges on ``local[4]`` with a slot-sized keyed spread). A spread
    whose key no downstream operator uses should be round-robin.

    Both counts are read when the plan is built. The slot count can change
    during an application (executors joining or leaving a cluster) and the
    conf can be set mid-session, so ``plans.cache.plan_memo`` keys on both."""
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    if not cols:
        return df.repartition(slots)
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(max(slots, conf), *cols)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table as a DataFrame keyed by table name."""
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the fixture tables as temp views for spark.sql queries."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a BUCKETED managed table: rows are hash-clustered
    into ``n_buckets`` files by ``bucket_col`` (optionally sorted within
    buckets), so every FUTURE equi-join or aggregation on that column
    reads pre-clustered data and plans with NO shuffle exchange on the
    bucketed side (SCALE.md "what changes at 1000 executors": bucketing
    both join sides removes the exchange entirely). This is the repeated-
    join amortization knob: pay one clustered write, join shuffle-free
    forever after. Plan-asserted in tests/test_data_skipping.py.

    Bucketing requires ``saveAsTable`` (the metastore records the bucket
    spec); ``path`` pins the warehouse location when given."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)
