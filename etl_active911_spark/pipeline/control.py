"""The full control() lifecycle (reference task.ts:98-243) as engine jobs:
source → transform → error accounting → sink, plus driver-contract queries
for the source path (O-1/O-2) and error accumulation (O-22).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_active911_spark.pipeline import active911 as a911
from etl_active911_spark.pipeline.fixtures import SYNTH_ALERTS_SQL, synthetic_alerts
from etl_active911_spark.plans.registry import query


def _wire_fixture_dir(spark: SparkSession, sf_dir: str, n_agencies: int = 3) -> str:
    """Materialize deterministic wire-format fixtures (JSONP/base64/CSV)
    from the synthetic alerts table: agency i gets alerts with
    o_orderkey % 500 == i. Content depends only on sf_dir → stable dir name
    lets Spark/DuckDB compare runs reuse it."""
    from etl_active911_spark.sources.active911_source import encode_wire_payload

    # Per-process dir (keyed by pid): two concurrent runs (pytest + bench,
    # or parallel test workers) previously interleaved the delete/rewrite
    # steps on a shared path and could read partial fixtures (ADVICE r01).
    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(tempfile.gettempdir(), f"a911_wire_{tag}_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    # remove stale agency files (e.g. from older fixture layouts or probes)
    # — the source globs agency_*.jsonp, so leftovers would add rows
    for f in os.listdir(d):
        if f.startswith("agency_"):
            os.unlink(os.path.join(d, f))
    # Pre-create an empty payload per agency so agencies with zero alerts
    # still expose a wire file (the source globs agency_*.jsonp).
    for agency in range(n_agencies):
        tmp = os.path.join(d, f".tmp_agency_{agency}.jsonp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(encode_wire_payload([]))
        os.replace(tmp, os.path.join(d, f"agency_{agency}.jsonp"))
    # The per-agency payloads are written by EXECUTOR tasks, not collected
    # to the driver (ADVICE r02: the collect scaled linearly with sf and
    # could OOM the driver mid-sweep at a future sf bump). Hash-partition
    # by agency id so each agency lands wholly in one task; the task
    # writes one file per agency it holds, write-then-rename so a reader
    # in this process never sees a half-written payload. Local-mode note:
    # tasks share the driver's filesystem; on a real cluster this job
    # would target shared storage, same layout.
    alerts = synthetic_alerts(spark, sf_dir)
    sub = (
        alerts.filter((F.col("id").cast("long") % 500) < n_agencies)
        .withColumn("_agency", (F.col("id").cast("long") % 500).cast("int"))
        .repartition(n_agencies, "_agency")
    )

    def _write_partition(rows) -> None:
        by_agency: dict[int, list[dict]] = {}
        for r in rows:
            rec = r.asDict()
            by_agency.setdefault(int(rec.pop("_agency")), []).append(rec)
        for agency, payload in by_agency.items():
            payload.sort(key=lambda x: int(x["id"]))
            tmp = os.path.join(d, f".tmp_agency_{agency}.jsonp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(encode_wire_payload(payload))
            os.replace(tmp, os.path.join(d, f"agency_{agency}.jsonp"))

    sub.foreachPartition(_write_partition)
    return d


@query(
    "o2_source_roundtrip",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL})
    SELECT id, sent, place, responses,
           CAST(CAST(id AS BIGINT) % 500 AS STRING) AS agency_id
    FROM alerts
    WHERE CAST(id AS BIGINT) % 500 < 3
    """,
)
def o2_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-1/O-2/O-3/O-5/O-6: alerts → wire format (JSONP+base64+CSV files,
    one per agency) → custom Python DataSource → rows. The oracle is the
    original alert subset: exact round-trip through the whole wire decode
    proves login/partition/unwrap/decode fidelity."""
    from etl_active911_spark.sources import active911_source

    d = _wire_fixture_dir(spark, sf_dir)
    active911_source.register(spark)
    df = spark.read.format("active911").option("fixture_dir", d).load()
    return df.filter(F.col("_error").isNull()).select(
        "id", "sent", "place", "responses", "agency_id"
    )


@query(
    "o22_error_accounting",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}),
    c AS (
        SELECT CASE WHEN TRIM(lon) = '' THEN 0.0 ELSE TRY_CAST(TRIM(lon) AS DOUBLE) END AS lon0,
               CASE WHEN TRIM(lat) = '' THEN 0.0 ELSE TRY_CAST(TRIM(lat) AS DOUBLE) END AS lat0,
               string_split(TRIM(place), ',') AS pc
        FROM alerts
    ),
    f AS (
        SELECT COALESCE(lon0 = 0 OR lat0 = 0, FALSE) AS needs_fb,
               len(pc) >= 2
                 AND (CASE WHEN TRIM(pc[1])='' THEN 0.0 ELSE TRY_CAST(TRIM(pc[1]) AS DOUBLE) END) IS NOT NULL
                 AND (CASE WHEN TRIM(pc[2])='' THEN 0.0 ELSE TRY_CAST(TRIM(pc[2]) AS DOUBLE) END) IS NOT NULL
               AS fb_ok
        FROM c
    )
    SELECT COUNT(*) AS n_input,
           CAST(SUM(CASE WHEN needs_fb AND NOT fb_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN NOT needs_fb OR fb_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_features
    FROM f
    """,
)
def o22_error_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-22 (task.ts:123,240-242): error/drop accounting via ``observe()``
    metrics — counts ride the same job as the data (no second scan), the
    Spark analogue of the reference's errs[] accumulation + terminal
    assert. Returns the observed counters as a one-row DataFrame."""
    from pyspark.sql import Observation

    alerts = synthetic_alerts(spark, sf_dir)
    obs = Observation("a911_errors")
    # the O-10 row condition resolve_coordinates filters on (task.ts:172-185)
    keep = a911._coordinates()[0]
    observed = alerts.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(~keep, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_features"),
    )
    # run the real pipeline over the observed scan (metrics piggyback on it)
    a911.resolve_coordinates(observed).count()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_input"], m["n_dropped"], m["n_features"])],
        "n_input bigint, n_dropped bigint, n_features bigint",
    )
