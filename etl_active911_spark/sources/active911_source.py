"""Custom Python DataSource for Active911 archived-alert ingestion
(O-1/O-2/O-3/O-4/O-5/O-6, reference task.ts:98-167,245-279).

Spark 4 Python DataSource API — no JVM code. ``format("active911")`` is a
batch source only: the scheduled lifecycle is the control stream
(``streaming/jobs.run_control_stream``), which ticks from Spark's JVM rate
source and pulls on the driver through ``Active911Reader.pull``, never
through a Python streaming source (CLAUDE.md rule 39). The reference's
shape maps as:

- login + cookie jar + JWT (task.ts:245-279)  → driver-side ``Transport``
  setup, once per read (``pull``: one login for the whole pull).
- per-agency sequential fetch loop (task.ts:124) → one ``InputPartition``
  per agency: Spark parallelizes what the reference serializes. The
  control stream keeps the reference's loop instead: ``pull`` reads the
  agencies one after another on the driver, where a small pull costs
  less than a Python task per agency.
- 6-hour time window in the POST body (task.ts:134-135) → ``from_date`` /
  ``to_date`` reader options: the time-range predicate is *pushed into the
  fetch*, never filtered client-side — the source's one genuine
  optimization, preserved.
- JSONP unwrap / result-error routing / base64 / CSV parse
  (task.ts:155-167) → per-partition decode; error results become
  dead-letter rows (``_error`` column) instead of killing the job, so one
  bad agency doesn't fail the rest (task.ts:123,151,163 semantics), and the
  O-22 terminal assert becomes a post-read filter+count.

Transports: ``fixture`` (offline; reads ``<fixture_dir>/agency_<id>.jsonp``
files in the exact wire format) is the default and what the driver-contract
tests use. ``transport=http`` selects the live protocol implementation
(sources/http_transport.py — stdlib urllib + cookie jar, multipart forms,
task.ts:245-279); its tests run against a loopback http.server, never the
internet.
"""

from __future__ import annotations

import base64
import csv
import io
import json
import os
import re
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from etl_active911_spark.pipeline.active911 import ALERT_COLUMNS

SOURCE_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ALERT_COLUMNS]
    + [StructField("agency_id", StringType()), StructField("_error", StringType())]
)

_JSONP_RE = re.compile(r"^.*?\(")  # task.ts:158 — strip 'callback(' prefix


def unwrap_jsonp(text: str) -> dict:
    """O-3 (task.ts:155-160): strip ``callback( ... )`` and parse JSON."""
    stripped = _JSONP_RE.sub("", text.strip(), count=1)
    stripped = re.sub(r"\)$", "", stripped)
    return json.loads(stripped)


def decode_alert_csv(message_b64: str) -> list[dict[str, str]]:
    """O-5/O-6 (task.ts:167): base64 → utf-8 CSV with header → dict rows."""
    text = base64.b64decode(message_b64).decode("utf-8")
    return list(csv.DictReader(io.StringIO(text)))


def encode_wire_payload(rows: list[dict[str, str]], callback: str = "jQuery12345") -> str:
    """Inverse of the decode path — used to build offline fixtures in the
    exact wire format the reference receives."""
    buf = io.StringIO()
    writer = csv.DictWriter(buf, fieldnames=ALERT_COLUMNS)
    writer.writeheader()
    for row in rows:
        writer.writerow({c: row.get(c, "") for c in ALERT_COLUMNS})
    message = base64.b64encode(buf.getvalue().encode("utf-8")).decode("ascii")
    body = json.dumps({"result": "success", "message": message})
    return f"{callback}({body})"


def encode_error_payload(message: str, callback: str = "jQuery12345") -> str:
    return f"{callback}({json.dumps({'result': 'error', 'message': message})})"


@dataclass
class AgencyPartition(InputPartition):
    agency_id: int


class FixtureTransport:
    """Offline stand-in for the HTTPS interface: login yields a static token
    and the agency list present on disk; fetch returns the stored JSONP."""

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir

    def login(self) -> tuple[str, list[int]]:  # task.ts:245-279
        agencies = sorted(
            int(m.group(1))
            for f in os.listdir(self.fixture_dir)
            if (m := re.match(r"agency_(\d+)\.jsonp$", f))
        )
        return "fixture-jwt-token", agencies

    def fetch(self, agency_id: int, from_ms: int, to_ms: int) -> str:  # task.ts:129-148
        path = os.path.join(self.fixture_dir, f"agency_{agency_id}.jsonp")
        with open(path, encoding="utf-8") as fh:
            return fh.read()


class Active911Reader(DataSourceReader):
    def __init__(self, options: dict):
        self.transport_kind = options.get("transport", "fixture")
        self.fixture_dir = options.get("fixture_dir")
        self.base_url = options.get("base_url")
        self.username = options.get("username")
        self.password = options.get("password")
        if self.transport_kind == "fixture" and not self.fixture_dir:
            raise ValueError(
                "active911 source requires a fixture_dir option for the "
                "fixture transport (or transport=http with username/password)"
            )
        if self.transport_kind == "http" and not (self.username and self.password):
            raise ValueError("transport=http requires username and password options")
        if self.transport_kind == "http":
            # reference default: overlapping 6-hour pull window ending now.
            # Each missing bound defaults INDIVIDUALLY (ADVICE r02: a lone
            # from_date previously paired with the 1<<62 batch sentinel —
            # a live-API window ending in year ~146M).
            from etl_active911_spark.sources.http_transport import default_window_ms

            dflt_from, dflt_to = default_window_ms()
            self.from_ms = (
                int(options["from_date"]) if "from_date" in options else dflt_from
            )
            self.to_ms = int(options["to_date"]) if "to_date" in options else dflt_to
        else:
            # batch/fixture sentinels: the full range unless explicitly bounded
            self.from_ms = int(options.get("from_date", 0))
            self.to_ms = int(options.get("to_date", 1 << 62))
        self.requested = (
            [int(a) for a in str(options["agencies"]).split(",") if a]
            if "agencies" in options
            else None
        )

    def _transport(self):
        if self.transport_kind == "http":
            from etl_active911_spark.sources.http_transport import (
                DEFAULT_BASE_URL,
                HttpTransport,
            )

            return HttpTransport(
                self.username, self.password, self.base_url or DEFAULT_BASE_URL
            )
        return FixtureTransport(self.fixture_dir)

    def _agencies(self, transport) -> list[int]:
        _token, entitled = transport.login()
        # O-11 allow-list validation (task.ts:105-114): requested ⊆ entitled
        if not self.requested:
            return entitled
        for a in self.requested:
            if a not in entitled:
                raise ValueError(
                    f"Current user account does not provide access to agency: {a}"
                )
        return self.requested

    def partitions(self) -> list[AgencyPartition]:
        return [AgencyPartition(a) for a in self._agencies(self._transport())]

    def read(self, partition: AgencyPartition) -> Iterator[tuple]:
        # one transport per partition: HTTP logs in lazily per executor
        # (cookies never serialize through the plan)
        return self._rows(self._transport(), partition.agency_id)

    def _rows(self, transport, agency_id: int) -> Iterator[tuple]:
        agency = str(agency_id)
        try:
            payload = transport.fetch(agency_id, self.from_ms, self.to_ms)
            alerts = unwrap_jsonp(payload)
            if alerts.get("result") == "error":  # O-4 (task.ts:162-165)
                yield tuple([None] * len(ALERT_COLUMNS)) + (agency, str(alerts.get("message")))
                return
            for row in decode_alert_csv(alerts["message"]):
                yield tuple(row.get(c, "") for c in ALERT_COLUMNS) + (agency, None)
        except Exception as err:  # noqa: BLE001 — per-agency isolation (task.ts:233-235)
            yield tuple([None] * len(ALERT_COLUMNS)) + (agency, f"{type(err).__name__}: {err}")

    def pull(self) -> list[tuple]:
        """One scheduled pull: log in once, then read every agency's rows
        one after another in this process through the same transport
        (task.ts:124, task.ts:245-279)."""
        transport = self._transport()
        return [row for a in self._agencies(transport) for row in self._rows(transport, a)]


def alerts_table(rows: list[tuple]):
    """Source rows as one all-string Arrow table in ``SOURCE_SCHEMA``
    order, for ``spark.createDataFrame(table, SOURCE_SCHEMA)``."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(SOURCE_SCHEMA)
    return pa.table([pa.array(c, pa.string()) for c in cols], names=SOURCE_SCHEMA.names)


class Active911DataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "active911"

    def schema(self) -> StructType:
        return SOURCE_SCHEMA

    def reader(self, schema: StructType) -> Active911Reader:
        return Active911Reader(dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(Active911DataSource)
