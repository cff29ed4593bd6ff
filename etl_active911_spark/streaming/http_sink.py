"""HTTP FeatureCollection sink — the reference's ``this.submit(fc)``
(task.ts:238): each run POSTs the transformed features to the ETL API as a
GeoJSON FeatureCollection.

One serializer: every feature is written to JSON in the JVM
(``to_json`` with ``JSON_OPTIONS``, so nulls stay and timestamps are the
reference's UTC ISO strings), and ``post_feature_collection`` joins the
pre-serialized strings into one body. Two callers:

- ``submit_features``: a DataFrame that lives on the executors POSTs
  per-PARTITION chunks from there (``foreachPartition``), never collected
  to the driver;
- the control stream (``streaming/jobs.run_control_stream``), the
  scheduled lifecycle: a pull is already on the driver, so it collects
  the strings and POSTs from there.

Each POST carries at most ``max_features_per_post`` features. The
reference submits one FeatureCollection per scheduled run; at scale that
single POST becomes the bottleneck, so the sink shards it while keeping
the same payload contract.

Stdlib urllib only; tests drive it against a loopback http.server.
"""

from __future__ import annotations

import itertools
import urllib.request
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ``to_json`` options for the reference's wire form (task.ts:214-231):
#: null fields are written, not dropped, and timestamps are moment
#: ``toISOString`` strings whatever the session time zone.
JSON_OPTIONS = {
    "ignoreNullFields": "false",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    "timeZone": "UTC",
}


def json_column() -> Column:
    """Each row, all of its columns, as one JSON object string."""
    return F.to_json(F.struct("*"), JSON_OPTIONS)


def post_feature_collection(
    url: str, json_parts: list[str], timeout: float = 30.0
) -> int:
    """POST one {type: FeatureCollection, features: [...]} body built from
    pre-serialized feature objects; returns the HTTP status. Raises on
    transport errors (caller isolates)."""
    body = '{"type": "FeatureCollection", "features": [' + ", ".join(json_parts) + "]}"
    req = urllib.request.Request(
        url,
        data=body.encode("utf-8"),
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.status


def post_in_chunks(
    url: str, json_parts: Iterable[str], chunk: int, timeout: float = 30.0
) -> None:
    """POST ``json_parts`` as FeatureCollections of at most ``chunk``."""
    it = iter(json_parts)
    while part := list(itertools.islice(it, chunk)):
        post_feature_collection(url, part, timeout)


def submit_features(
    features_df: DataFrame,
    url: str,
    max_features_per_post: int = 1000,
    timeout: float = 30.0,
) -> None:
    """The literal ``submit(fc)`` analogue for a DataFrame that lives on
    the executors: each partition POSTs its features in chunks of at most
    ``max_features_per_post`` from where it runs, never collected to the
    driver."""
    features_df.select(json_column()).foreachPartition(
        lambda rows: post_in_chunks(url, (r[0] for r in rows), max_features_per_post, timeout)
    )
