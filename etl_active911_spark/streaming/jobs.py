"""Structured Streaming jobs (SURVEY.md §7 Phase 3).

The reference's ingestion model — scheduled pull of an overlapping 6-hour
window, one batched submit per run (task.ts:81,134-135,238) — maps to:
file/readStream source → event-time watermark → windowed aggregation or
keyed dedup → ``foreachBatch`` sink (batch-atomic, like the single
FeatureCollection submit). ``Trigger.AvailableNow`` gives the same
catch-up-then-stop behavior as a scheduled Lambda run.

The transform bodies are shared with batch (streaming/windows.py), so the
oracle-checked batch results ARE the streaming results — asserted by the
parity tests in tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_active911_spark.streaming.windows import tumbling_counts

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-based micro-batch source over a directory of parquet parts.

    At scale this is the landing zone written by the ingestion tier; new
    files become micro-batches. ``maxFilesPerTrigger`` bounds batch size.
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
    )


def windowed_counts_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """N-11 streaming: watermarked tumbling counts. Late rows beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    return tumbling_counts(events.withWatermark("ts", watermark))


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """N-12 streaming: keyed dedup within the watermark horizon — the
    streaming analogue of the reference's overlapping-window re-pull dedup
    (alert ids resubmitted within 6h collapse to one feature)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"
) -> None:
    """O-7 analogue: batch-atomic sink via foreachBatch (one 'submit' per
    micro-batch, mirroring task.ts:238's single FeatureCollection POST)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode(mode).parquet(os.path.join(out_dir, f"batch={batch_id}"))

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_complete_to_memory(stream_df: DataFrame, name: str) -> None:
    """Test helper: run an aggregation stream to a memory sink in complete
    mode with AvailableNow (process-everything-then-stop)."""
    (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


#: Pulls a control stream makes without a ``max_pulls`` source option.
MAX_PULLS = 2


def run_control_stream(
    spark: SparkSession,
    submit_url: str,
    checkpoint_dir: str,
    source_options: dict | None = None,
    max_features_per_post: int = 1000,
) -> StreamingQuery:
    """The reference's COMPLETE lifecycle (task.ts:98-243) as ONE streaming
    job: authenticated windowed source pulls → dead-letter routing →
    alert→Feature transform → deduplicated FeatureCollection POSTs.
    Returns the terminated query (its progress names the tick source).

    Mapping, stage by stage:
    - schedule: Spark's JVM ``rate-micro-batch`` source emits one tick per
      micro-batch; the batch id is the pull index, kept in the checkpoint,
      so a restart resumes at the next pull (task.ts:81 Schedule). Batches
      from ``max_pulls`` on return without pulling. A Python streaming
      source would cost a fresh interpreter on every query start;
    - source: the driver runs one pull (``Active911Reader.pull``: the
      agencies one after another, window pushed into each fetch —
      task.ts:124-148) and hands the rows to the JVM as one Arrow table;
    - error routing: ``_error`` rows are diverted, not fatal — task.ts:123;
    - transform: ``to_features`` (links built inside each alert row, no
      shuffle), analyzed once and bound to each pull's rows;
    - dedup: stable feature ids collapse an id repeated across a pull's
      agencies before the POST, first occurrence in pull order wins; the
      next run re-POSTs what its overlapping window re-emits (task.ts:238);
    - sink: the features are serialized to JSON in the JVM and collected
      to the driver, then POSTed in FeatureCollection chunks of
      ``max_features_per_post`` (streaming/http_sink.py), batch-atomic via
      foreachBatch.

    The batch body runs no Spark job: a pull's Arrow table becomes a
    ``LocalRelation`` (a pull over
    ``spark.sql.execution.arrow.localRelationThreshold`` is cut into
    ordered slices under it, and dedup spans the slices), so Catalyst
    folds the filter and the projection into a ``LocalTableScan`` at
    optimization, and ``collect`` reads it on the driver. A shuffle
    (``dropDuplicates``) or an executor sink would each cost a job per
    pull.

    Nor does a pull build or analyze the transform: ``plans.cache.
    bind_rows`` analyzes it once per application and zone and swaps each
    pull's rows into the leaf of that plan. What a pull costs in its
    batch is the pull itself, ``createDataFrame`` and the optimizer's
    interpreted fold of the projection over the rows: for 750 alerts on
    a 4-core host, ``createDataFrame`` to ``collect`` takes ≈0.13 s, the
    fold ≈75 ms of it, against ≈0.25 s when each pull built and analyzed
    the ~1000-node projection again (≈77 ms of analysis).

    What a run costs beyond the batch is the stream's start and stop and
    its three checkpoint writes (``metadata``, ``offsets/0``,
    ``commits/0``), the write-ahead logs that keep the pull index. They
    go through the FileSystem checkpoint manager ``session.get_spark``
    selects: without the native Hadoop library Spark's default
    FileContext manager forks a shell for each permission and status
    call, 71 process clones per run against 23 (4-core host).
    """
    from etl_active911_spark.pipeline.active911 import to_features
    from etl_active911_spark.plans.cache import bind_rows
    from etl_active911_spark.sources import active911_source as src
    from etl_active911_spark.streaming.http_sink import json_column, post_in_chunks

    # The stream never reads through the data source: perfbench's
    # AlertEtl._replay_layers does, in this session, without registering
    # it. Move this there when the benchmark retires that replay.
    src.register(spark)
    options = dict(source_options or {})
    reader = src.Active911Reader(options)
    max_pulls = int(options.get("max_pulls", MAX_PULLS))

    def features_json(alerts: DataFrame) -> DataFrame:
        return to_features(alerts.filter(F.col("_error").isNull())).select("id", json_column())

    def sink(ticks: DataFrame, batch_id: int) -> None:
        if batch_id >= max_pulls:
            return
        session = ticks.sparkSession
        first: dict[str, str] = {}
        for table in _local_slices(session, src.alerts_table(reader.pull())):
            alerts = session.createDataFrame(table, src.SOURCE_SCHEMA)
            rows = bind_rows("control_stream.features", session, alerts, features_json)
            for fid, feature in rows.collect():
                first.setdefault(fid, feature)
        post_in_chunks(submit_url, first.values(), max_features_per_post)

    query = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("numPartitions", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def _local_slices(spark: SparkSession, table):
    """``table`` in ordered row slices that ``createDataFrame`` turns into
    ``LocalRelation``s: each slice's Arrow batches, as PySpark cuts them,
    add up to at most ``spark.sql.execution.arrow.localRelationThreshold``
    bytes (above it ``createDataFrame`` gives an RDD scan, a job per
    action). A single row over the threshold is its own slice, which
    ``bind_rows`` then refuses."""
    import pyarrow as pa

    conf = spark._jconf
    limit, per_batch = conf.arrowLocalRelationThreshold(), conf.arrowMaxRecordsPerBatch()

    def cut(t):
        size = sum(pa.ipc.get_record_batch_size(b) for b in t.to_batches(per_batch))
        if size <= limit or t.num_rows <= 1:
            yield t
        else:
            half = t.num_rows // 2
            yield from cut(t.slice(0, half))
            yield from cut(t.slice(half))

    return cut(table)


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Parquet read that treats ONLY path-not-found as "first batch: nothing
    materialized yet". Any other failure (transient FS error, corrupt
    footer, permissions) must abort the batch: read as a first batch, it
    would make a sink overwrite stored rows or a gate lose every pair with
    its history (ADVICE r02)."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so PATH_NOT_FOUND surfaces here
        return df
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e.getCondition() or "") and not isinstance(
            getattr(e, "cause", None), FileNotFoundError
        ):
            raise
        return None


def unseen_arrivals(batch: DataFrame, key: str, guard_dir: str) -> DataFrame | None:
    """The re-delivery guard every ingest gate runs first: ``batch`` with
    one row per ``key`` and none whose ``key`` is already in ``guard_dir``,
    or ``None`` when no arrival is left. A replayable source plus this
    idempotent sink is Structured Streaming's exactly-once recipe (SIGMOD
    2018): a gate writes ``guard_dir`` LAST, after its state, so a
    re-delivered arrival appends nothing once its rows are on disk."""
    batch = batch.dropDuplicates([key])
    seen = _read_or_none(batch.sparkSession, guard_dir)
    if seen is not None:
        batch = batch.join(seen.select(key), key, "left_anti")
    return batch if batch.take(1) else None


def run_upsert_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str,
    n_buckets: int = 8,
) -> None:
    """MERGE-style keyed upsert sink via foreachBatch: last-write-wins per
    key across micro-batches, materialized as a hash-bucketed parquet table.

    Each micro-batch rewrites ONLY the bucket directories its keys hash
    into (read-modify-replace of affected buckets; untouched buckets keep
    their files) — the partition-overwrite trick that stands in for a real
    MERGE INTO on plain parquet. At 100 TB, n_buckets scales with key
    cardinality so a rewrite touches data proportional to the batch, not
    the table; swapping this sink for Delta/Iceberg MERGE changes nothing
    upstream. Idempotent per (checkpoint, batch_id): replaying a batch
    rewrites the same buckets to the same state — exercised by the
    crash/restart test in tests/test_streaming.py.
    """
    (
        stream_df.writeStream.foreachBatch(upsert_sink(out_dir, key_col, n_buckets))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def upsert_sink(out_dir: str, key_col: str, n_buckets: int = 8):
    """The foreachBatch body of ``run_upsert_to_parquet``, exposed so tests
    can wrap it (e.g. crash injection between batches)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
        )
        touched = [r["__bucket"] for r in batch.select("__bucket").distinct().collect()]
        if not touched:
            return
        existing = _read_or_none(spark, out_dir)
        if existing is None:
            merged = batch
        else:
            # last-write-wins: keys present in this batch replace old rows
            keep = existing.filter(F.col("__bucket").isin(touched)).join(
                batch.select(F.col(key_col)).distinct(), key_col, "left_anti"
            )
            merged = keep.unionByName(batch)
        merged = merged.localCheckpoint(eager=True)  # cut self-referencing lineage
        (
            merged.write.mode("overwrite")
            .partitionBy("__bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    return sink
