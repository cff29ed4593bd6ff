"""Tests for the Active911 custom Python DataSource: wire-format decode,
per-agency partitioning, allow-list validation, and error routing."""

from __future__ import annotations

import pytest

from etl_active911_spark.sources.active911_source import (
    encode_error_payload,
    encode_wire_payload,
    register,
)
from etl_active911_spark.pipeline.active911 import to_features


ALERT = {
    "id": "42",
    "sent": "12/08/2025 18:27:47 MST",
    "description": "Structure Fire",
    "lat": "39.7",
    "lon": "-104.9",
    "units": "E1",
    "source": "CAD",
    "details": "det",
    "responses": "Got a response of Respond to Nick(123) at 12/08/2025 18:28:20 MST.",
}


@pytest.fixture()
def fixture_dir(tmp_path, spark):
    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(encode_wire_payload([ALERT]))
    (d / "agency_2.jsonp").write_text(
        encode_wire_payload([{**ALERT, "id": "43"}, {**ALERT, "id": "44"}])
    )
    (d / "agency_3.jsonp").write_text(encode_error_payload("upstream failure"))
    register(spark)
    return str(d)


def test_reads_all_agencies(spark, fixture_dir):
    df = spark.read.format("active911").option("fixture_dir", fixture_dir).load()
    ok = df.filter("_error IS NULL")
    assert {r["id"] for r in ok.collect()} == {"42", "43", "44"}
    assert {r["agency_id"] for r in ok.collect()} == {"1", "2"}


def test_error_result_routed_not_fatal(spark, fixture_dir):
    """O-4/O-22: an error-result agency yields a dead-letter row; the other
    agencies still produce data (task.ts:123,162-165 isolation)."""
    df = spark.read.format("active911").option("fixture_dir", fixture_dir).load()
    errs = df.filter("_error IS NOT NULL").collect()
    assert len(errs) == 1 and errs[0]["agency_id"] == "3"
    assert "upstream failure" in errs[0]["_error"]
    assert df.filter("_error IS NULL").count() == 3


def test_agency_allowlist_validation(spark, fixture_dir):
    """O-11 (task.ts:105-114): requesting a non-entitled agency raises."""
    with pytest.raises(Exception, match="does not provide access to agency: 99"):
        (
            spark.read.format("active911")
            .option("fixture_dir", fixture_dir)
            .option("agencies", "1,99")
            .load()
            .collect()
        )


def test_agency_subset(spark, fixture_dir):
    df = (
        spark.read.format("active911")
        .option("fixture_dir", fixture_dir)
        .option("agencies", "2")
        .load()
    )
    assert {r["id"] for r in df.collect()} == {"43", "44"}


def test_driver_pull_matches_partitioned_read(spark, fixture_dir):
    """``Active911Reader.pull`` (the control stream's driver-side pull)
    handed over as an Arrow table gives the rows the partitioned batch
    read gives, dead letter included; an empty pull keeps the schema."""
    from etl_active911_spark.sources.active911_source import (
        SOURCE_SCHEMA,
        Active911Reader,
        alerts_table,
    )

    rows = Active911Reader({"fixture_dir": fixture_dir}).pull()
    pulled = spark.createDataFrame(alerts_table(rows), SOURCE_SCHEMA)
    read = spark.read.format("active911").option("fixture_dir", fixture_dir).load()
    assert pulled.schema == read.schema == SOURCE_SCHEMA
    assert sorted(pulled.collect(), key=str) == sorted(read.collect(), key=str)
    assert len(rows) == 4
    empty = spark.createDataFrame(alerts_table([]), SOURCE_SCHEMA)
    assert empty.schema == SOURCE_SCHEMA and empty.count() == 0


def test_source_to_features_end_to_end(spark, fixture_dir):
    """Full reference lifecycle offline: wire payload → source → transform
    → GeoJSON features (the control() pipeline, task.ts:98-243)."""
    raw = spark.read.format("active911").option("fixture_dir", fixture_dir).load()
    feats = to_features(raw.filter("_error IS NULL").drop("agency_id", "_error")).collect()
    assert {f["id"] for f in feats} == {"active911-42", "active911-43", "active911-44"}
    f = [x for x in feats if x["id"] == "active911-42"][0]
    assert f["geometry"]["coordinates"] == [-104.9, 39.7]
    assert f["properties"]["links"][0]["callsign"] == "Nick"
