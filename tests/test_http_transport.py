"""Live-protocol tests for the HTTP transport (O-1/O-2, task.ts:245-279)
and the HTTP FeatureCollection sink (task.ts:238) — against a loopback
``http.server`` that speaks the reference's wire protocol. No internet.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from etl_active911_spark.sources.active911_source import (
    encode_error_payload,
    encode_wire_payload,
)

VALID_USER, VALID_PASS = "dispatcher", "hunter2"
AGENCIES = {7: [{"id": "101", "description": "Engine run"}], 9: []}
JWT = "jwt-abc123"
SESSION_COOKIE = "A911SESS=deadbeef"


class _InterfaceHandler(BaseHTTPRequestHandler):
    """Minimal interface.ajax.php: login (sets session cookie, returns JWT
    + agency entitlements) and get_archived_alerts_spreadsheet (requires
    the cookie AND the JWT, returns the JSONP wire payload)."""

    server_version = "A911Fixture/1.0"

    def log_message(self, *args):  # quiet
        pass

    def _body(self) -> str:
        return self.rfile.read(int(self.headers.get("Content-Length", 0))).decode()

    def _reply(self, text: str, status: int = 200):
        data = text.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/javascript")
        self.send_header("Content-Length", str(len(data)))
        if getattr(self, "_set_cookie", None):
            self.send_header("Set-Cookie", self._set_cookie)
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self):  # noqa: N802 — stdlib naming
        body = self._body()
        self._set_cookie = None
        post_data = json.loads(
            re.search(r'name="post_data"\r\n\r\n(.*?)\r\n', body, re.S).group(1)
        )
        if 'name="operation"\r\n\r\nlogin' in body:
            self.server.login_bodies.append(post_data)
            if (
                post_data.get("username") != VALID_USER
                or post_data.get("password") != VALID_PASS
            ):
                self._reply(json.dumps({"result": "error", "message": "bad creds"}))
                return
            self._set_cookie = SESSION_COOKIE
            self._reply(
                "("
                + json.dumps(
                    {
                        "result": "success",
                        "message": {
                            "jwt": JWT,
                            "agencies": [{"id": a} for a in sorted(AGENCIES)],
                        },
                    }
                )
                + ")"
            )
            return
        # archived-alerts fetch: cookie + jwt both required (cookie jar +
        # auth token, task.ts:129-148)
        auth = re.search(r'name="auth"\r\n\r\n(.*?)\r\n', body, re.S).group(1)
        if SESSION_COOKIE.split("=")[0] not in (self.headers.get("Cookie") or ""):
            self._reply(encode_error_payload("no session cookie"))
            return
        if auth != JWT:
            self._reply(encode_error_payload("bad token"))
            return
        agency = int(post_data["agency_id"])
        self.server.fetch_windows.append((agency, post_data["from_date"], post_data["to_date"]))
        rows = [
            {"id": r["id"], "description": r["description"]}
            for r in AGENCIES.get(agency, [])
        ]
        self._reply(encode_wire_payload(rows))


class _SubmitHandler(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.server.raw_posts.append(body)
        self.server.posts.append(json.loads(body))
        self.send_response(200)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"ok")


@pytest.fixture()
def interface_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _InterfaceHandler)
    srv.login_bodies, srv.fetch_windows = [], []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.fixture()
def submit_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SubmitHandler)
    srv.posts, srv.raw_posts = [], []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, f"http://127.0.0.1:{srv.server_address[1]}/api/etl"
    srv.shutdown()


def test_transport_login_and_fetch(interface_server):
    srv, url = interface_server
    from etl_active911_spark.sources.http_transport import HttpTransport

    tr = HttpTransport(VALID_USER, VALID_PASS, url, clock=lambda: 1755000000.0)
    token, agencies = tr.login()
    assert token == JWT
    assert agencies == sorted(AGENCIES)
    text = tr.fetch(7, 0, 10_000)
    from etl_active911_spark.sources.active911_source import (
        decode_alert_csv,
        unwrap_jsonp,
    )

    payload = unwrap_jsonp(text)
    assert payload["result"] == "success"
    rows = decode_alert_csv(payload["message"])
    assert [r["id"] for r in rows] == ["101"]
    # the time window was pushed into the fetch body (O-2, task.ts:134-135)
    assert srv.fetch_windows == [(7, 0, 10_000)]
    # login body carried the reference's form fields
    assert srv.login_bodies[0]["permanent"] == 0


def test_transport_rejects_bad_credentials(interface_server):
    _, url = interface_server
    from etl_active911_spark.sources.http_transport import HttpTransport

    tr = HttpTransport(VALID_USER, "wrong", url)
    with pytest.raises(ValueError, match="login failed"):
        tr.login()  # error payload has no jwt message


def test_source_end_to_end_over_http(spark, interface_server):
    srv, url = interface_server
    from etl_active911_spark.sources import active911_source

    active911_source.register(spark)
    df = (
        spark.read.format("active911")
        .option("transport", "http")
        .option("base_url", url)
        .option("username", VALID_USER)
        .option("password", VALID_PASS)
        .option("from_date", "1000")
        .option("to_date", "2000")
        .load()
    )
    rows = df.filter(F.col("_error").isNull()).select("id", "agency_id").collect()
    assert {(r["id"], r["agency_id"]) for r in rows} == {("101", "7")}
    # one partition per agency; each fetch carried the pushed window
    assert sorted(set(srv.fetch_windows)) == [(7, 1000, 2000), (9, 1000, 2000)]


def test_driver_pull_logs_in_once(interface_server):
    """``Active911Reader.pull`` logs in once and fetches every agency
    through that one session, as the reference does (task.ts:245-279
    before the agency loop at task.ts:124); the executor-side ``read``
    keeps its own login per partition."""
    srv, url = interface_server
    from etl_active911_spark.sources.active911_source import (
        SOURCE_SCHEMA,
        Active911Reader,
    )

    rows = Active911Reader(
        {
            "transport": "http",
            "base_url": url,
            "username": VALID_USER,
            "password": VALID_PASS,
            "from_date": "1000",
            "to_date": "2000",
        }
    ).pull()
    assert len(srv.login_bodies) == 1
    assert srv.fetch_windows == [(7, 1000, 2000), (9, 1000, 2000)]
    idx = [SOURCE_SCHEMA.names.index(c) for c in ("id", "agency_id", "_error")]
    assert [tuple(r[i] for i in idx) for r in rows] == [("101", "7", None)]


def test_source_http_allowlist_validation(spark, interface_server):
    _, url = interface_server
    from etl_active911_spark.sources import active911_source

    active911_source.register(spark)
    df = (
        spark.read.format("active911")
        .option("transport", "http")
        .option("base_url", url)
        .option("username", VALID_USER)
        .option("password", VALID_PASS)
        .option("agencies", "7,42")
        .load()
    )
    with pytest.raises(Exception, match="does not provide access to agency: 42"):
        df.collect()


def test_http_sink_posts_feature_collections(spark, submit_server):
    srv, url = submit_server
    from etl_active911_spark.pipeline.active911 import to_features
    from etl_active911_spark.streaming.http_sink import submit_features
    from tests.test_active911 import make_alert

    features = to_features(make_alert(spark))
    submit_features(features, url, max_features_per_post=10)
    assert len(srv.posts) == 1
    fc = srv.posts[0]
    assert fc["type"] == "FeatureCollection"
    [feat] = fc["features"]
    assert feat["id"] == "active911-1"
    assert feat["type"] == "Feature"
    assert feat["properties"]["callsign"] == "Structure Fire"
    assert feat["properties"]["start"] == "2025-12-09T01:27:47.000Z"
    assert feat["geometry"] == {"type": "Point", "coordinates": [-104.9, 39.7]}


def test_http_sink_chunks_partitions(spark, submit_server):
    srv, url = submit_server
    from etl_active911_spark.streaming.http_sink import submit_features

    df = spark.range(25).select(
        F.col("id").cast("string").alias("id"), F.lit("Feature").alias("type")
    ).coalesce(1)
    submit_features(df, url, max_features_per_post=10)
    sizes = sorted(len(p["features"]) for p in srv.posts)
    assert sizes == [5, 10, 10]


def test_control_stream_end_to_end(spark, submit_server, tmp_path):
    """The full reference lifecycle as one streaming job: fixture-transport
    source (overlapping pulls re-emit alerts) → error routing → features →
    per-batch deduped FeatureCollection POSTs to the loopback sink."""
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(encode_wire_payload([ALERT]))
    (d / "agency_2.jsonp").write_text(
        encode_wire_payload([{**ALERT, "id": "43"}, {**ALERT, "id": "44"}])
    )
    (d / "agency_3.jsonp").write_text(encode_error_payload("upstream failure"))

    srv, url = submit_server
    run_control_stream(
        spark,
        url,
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_options={"fixture_dir": str(d), "max_pulls": "2"},
    )
    all_ids = {f["id"] for p in srv.posts for f in p["features"]}
    assert all_ids == {"active911-42", "active911-43", "active911-44"}
    # overlapping pulls re-emit alerts; dedup by stable feature id must
    # collapse them within each POSTed batch (task.ts:238 sink semantics)
    for p in srv.posts:
        ids = [f["id"] for f in p["features"]]
        assert len(ids) == len(set(ids)), "features must be deduped per batch"
    # the dead-letter agency is routed, never POSTed
    assert all(not f["id"].endswith("-None") for p in srv.posts for f in p["features"])


def test_control_stream_resumes_pull_index_from_checkpoint(spark, submit_server, tmp_path):
    """One run is one scheduled pull, and the checkpoint keeps the pull
    index: with ``max_pulls=2`` three runs on one checkpoint POST, POST,
    then stop, with the same ids each time. The ticks come from Spark's
    JVM rate source, not a Python streaming source, which would start a
    fresh interpreter on every run."""
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(encode_wire_payload([ALERT]))
    (d / "agency_2.jsonp").write_text(
        encode_wire_payload([{**ALERT, "id": "43"}, {**ALERT, "id": "44"}])
    )
    (d / "agency_3.jsonp").write_text(encode_error_payload("upstream failure"))

    srv, url = submit_server
    posts, ids = [], []
    for _ in range(3):
        srv.posts.clear()
        query = run_control_stream(
            spark,
            url,
            checkpoint_dir=str(tmp_path / "ckpt"),
            source_options={"fixture_dir": str(d), "max_pulls": "2"},
        )
        posts.append(len(srv.posts))
        ids.append({f["id"] for p in srv.posts for f in p["features"]})
    assert posts == [1, 1, 0]
    assert ids[0] == ids[1] == {"active911-42", "active911-43", "active911-44"}
    [source] = query.lastProgress["sources"]
    assert source["description"].startswith("RatePerMicroBatchStream")


def test_control_stream_keeps_source_registered(spark, submit_server, tmp_path, monkeypatch):
    """A run registers the ``active911`` data source in its session, and
    ``format("active911")`` loads after it: perfbench's
    ``AlertEtl._replay_layers`` reads the pull window through it and
    registers nothing itself. Delete this test with that replay."""
    from etl_active911_spark.sources import active911_source as src
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    registered, register = [], src.register
    monkeypatch.setattr(src, "register", lambda s: registered.append(s) or register(s))
    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(encode_wire_payload([ALERT]))
    _, url = submit_server
    run_control_stream(
        spark,
        url,
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_options={"fixture_dir": str(d), "max_pulls": "1"},
    )
    assert registered == [spark]
    read = spark.read.format("active911").option("fixture_dir", str(d)).load()
    assert [r["id"] for r in read.collect()] == ["42"]


def test_control_stream_runs_in_a_second_session(spark, submit_server, tmp_path):
    """A run in a new session of the application, after the fixture
    session registered ``active911``, POSTs the same bodies and leaves
    ``format("active911")`` loadable there: Spark checks a data source's
    name against the active session, not the one it registers in."""
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(encode_wire_payload([ALERT]))
    srv, url = submit_server
    bodies = []
    for i, session in enumerate((spark, spark.newSession())):
        srv.raw_posts.clear()
        run_control_stream(
            session,
            url,
            checkpoint_dir=str(tmp_path / f"ckpt{i}"),
            source_options={"fixture_dir": str(d), "max_pulls": "1"},
        )
        bodies.append(list(srv.raw_posts))
    assert bodies[0] and bodies[1] == bodies[0]
    read = session.read.format("active911").option("fixture_dir", str(d)).load()
    assert [r["id"] for r in read.collect()] == ["42"]


def test_checkpoint_writes_use_filesystem_manager(spark, tmp_path):
    """Streaming checkpoints go through the FileSystem API: without the
    native Hadoop library the default FileContext manager forks a shell
    for each permission and status call (~20 per atomic write against 4).
    A renamed conf key or manager class fails here, not silently. The
    offset and commit logs rely on an atomic write onto an existing file
    failing, so a second ``createAtomic(path, overwriteIfPossible=False)``
    must raise and leave the first file as written."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = getattr(getattr(pkg, "CheckpointFileManager$"), "MODULE$").create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = manager.createAtomic(path, False)
    out.write(b"first")
    out.close()
    again = manager.createAtomic(path, False)
    again.write(b"second")
    with pytest.raises(Py4JJavaError, match="already exists"):
        again.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_control_stream_payloads_tz_invariant(spark, submit_server, tmp_path):
    """VERDICT r05 item 7: the FULL source → transform → HTTP-sink loop
    (Trigger.AvailableNow foreachBatch POSTs) must emit BYTE-IDENTICAL
    feature payloads whatever the session timezone — the reference's
    FeatureCollection carries moment-style UTC ISO strings (task.ts:
    214-231), so a hostile session TZ leaking into the serialized start
    timestamp would corrupt every downstream consumer. Runs the loopback
    e2e under UTC and again under Asia/Tokyo and compares the POSTed
    feature bytes (sorted per-feature: POST chunking order is partition
    order, which is not part of the contract)."""
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    d = tmp_path / "wire_tz"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(
        encode_wire_payload([ALERT, {**ALERT, "id": "52"}])
    )

    srv, url = submit_server

    def one_run(tag: str) -> list[bytes]:
        srv.posts.clear()
        srv.raw_posts.clear()
        run_control_stream(
            spark,
            url,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            source_options={"fixture_dir": str(d), "max_pulls": "1"},
        )
        feats = sorted(
            json.dumps(f, sort_keys=True).encode() for p in srv.posts for f in p["features"]
        )
        assert feats, "e2e run must POST features"
        return feats

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        base = one_run("utc")
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        tokyo = one_run("tokyo")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert base == tokyo
    # and the serialized timestamps are the reference's UTC ISO form
    starts = [json.loads(f)["properties"]["start"] for f in base]
    assert starts and all(s.endswith("Z") for s in starts)
    # ABSOLUTE golden (r7): relative UTC-vs-Tokyo equality cannot catch a
    # serialization change that shifts BOTH runs the same way, so pin the
    # exact POSTed bytes for feature 42 — byte-exact remarks template
    # (task.ts:221-226), link extraction, coordinate order, and the
    # moment-toISOString UTC instant (12/08 18:27:47 MST → 12/09 01:27 Z)
    f42 = next(f for f in base if b"active911-42" in f)
    assert f42 == (
        b'{"geometry": {"coordinates": [-104.9, 39.7], "type": "Point"}, '
        b'"id": "active911-42", "properties": {"callsign": "Structure Fire", '
        b'"links": [{"callsign": "Nick", "production_time": '
        b'"2025-12-09T01:28:20.000Z", "relation": "t-s", "remarks": "Respond"}], '
        b'"remarks": "\\n                                Groups: E1'
        b'\\n                                Author: CAD'
        b'\\n                                det'
        b'\\n                            ", '
        b'"start": "2025-12-09T01:27:47.000Z"}, "type": "Feature"}'
    )


def _reject_constant(token: str):
    raise ValueError(f"non-JSON number token {token!r} in a POSTed body")


def _render_feature(v):
    """Independent Python rendering of a ``to_features`` row as the
    reference's ``JSON.stringify`` writes it (task.ts:214-238): rows
    become objects, timestamps moment ``toISOString`` UTC strings,
    non-finite numbers null."""
    import datetime as dt
    import math

    from pyspark.sql import Row

    if isinstance(v, dt.datetime):
        # collect() yields naive local-time datetimes
        v = v.astimezone(dt.timezone.utc)
        return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, Row):
        return {k: _render_feature(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_render_feature(x) for x in v]
    return v


#: Hostile alerts for the payload tests: (agency, alert). ``h-dup`` comes
#: twice in one pull, under two agencies, with different fields.
_HOSTILE = [
    (1, {"id": "h-null", "sent": None, "responses": None, "lat": "39.7", "lon": "-104.9"}),
    (1, {"id": "h-empty", "sent": "", "responses": "", "lat": "39.7", "lon": "-104.9"}),
    (1, {
        "id": "h-uni", "sent": "12/08/2025 18:27:47 MST",
        "description": "Feu de forêt ☃ 🚒", "units": "Ünïts E1", "source": "CAD \"q\" \\",
        "details": "naïve\ttab\x01ctl",
        "responses": "Got a response of Réspond ☃ to Nïck(123) at 12/08/2025 18:28:20 MST.",
        "lat": "-4.9e-324", "lon": "1.7976931348623157e308",
    }),
    (1, {"id": "h-inf", "sent": "12/08/2025 18:27:47 MST", "lat": "NaN", "lon": "Infinity"}),
    (1, {"id": "h-big", "sent": "12/08/2025 18:27:47 MST", "lat": "-Infinity", "lon": "1e400"}),
    (1, {"id": "h-dup", "description": "first", "lat": "40.1", "lon": "-105.2"}),
    (2, {"id": "h-dup", "description": "second", "lat": "41.5", "lon": "-106.5"}),
]


def _hostile_alerts(spark):
    from etl_active911_spark.pipeline.active911 import ALERT_COLUMNS, ALERTS_SCHEMA

    rows = [tuple(a.get(c, "") for c in ALERT_COLUMNS) for _, a in _HOSTILE]
    return spark.createDataFrame(rows, ALERTS_SCHEMA)


def _posted(srv) -> list[dict]:
    return [
        f
        for body in srv.raw_posts
        for f in json.loads(body, parse_constant=_reject_constant)["features"]
    ]


def _check_hostile_payload(posted: list[dict], expected: list[dict]) -> None:
    key = lambda f: json.dumps(f, sort_keys=True)  # noqa: E731
    assert sorted(map(key, posted)) == sorted(map(key, expected))
    by_id = {f["id"]: f for f in posted}
    # JSON.stringify writes non-finite coordinates as null
    assert by_id["active911-h-inf"]["geometry"]["coordinates"] == [None, None]
    assert by_id["active911-h-big"]["geometry"]["coordinates"] == [None, None]
    assert by_id["active911-h-uni"]["geometry"]["coordinates"] == [1.7976931348623157e308, -5e-324]
    assert by_id["active911-h-null"]["properties"]["start"] is None
    assert by_id["active911-h-null"]["properties"]["links"] == []
    assert by_id["active911-h-empty"]["properties"]["links"] == []
    [link] = by_id["active911-h-uni"]["properties"]["links"]
    assert link["remarks"] == "Réspond ☃" and link["callsign"] == "Nïck"


def test_submit_features_hostile_payload(spark, submit_server):
    """The executor path writes every hostile row exactly as the Python
    rendering of its ``to_features`` row: NULL and empty ``sent`` and
    ``responses``, unicode and control characters, extreme finite and
    non-finite coordinates. Every body is strict JSON."""
    from etl_active911_spark.pipeline.active911 import to_features
    from etl_active911_spark.streaming.http_sink import submit_features

    srv, url = submit_server
    features = to_features(_hostile_alerts(spark))
    submit_features(features, url, max_features_per_post=3)
    posted = _posted(srv)
    _check_hostile_payload(posted, [_render_feature(r) for r in features.collect()])
    assert sorted(f["id"] for f in posted).count("active911-h-dup") == 2


def test_control_stream_hostile_payload(spark, submit_server, tmp_path):
    """The driver path POSTs each feature once, first occurrence in pull
    order winning (``h-dup`` keeps agency 1's fields), and writes it as the
    Python rendering of its ``to_features`` row. The wire has no NULL, so
    the NULL fields arrive as empty strings."""
    from etl_active911_spark.pipeline.active911 import to_features
    from etl_active911_spark.sources.active911_source import register
    from etl_active911_spark.streaming.jobs import run_control_stream

    d = tmp_path / "wire"
    d.mkdir()
    for agency in (1, 2):
        rows = [a for ag, a in _HOSTILE if ag == agency]
        (d / f"agency_{agency}.jsonp").write_text(encode_wire_payload(rows), encoding="utf-8")

    srv, url = submit_server
    run_control_stream(
        spark,
        url,
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_options={"fixture_dir": str(d), "max_pulls": "1"},
        max_features_per_post=2,
    )
    register(spark)
    pulled = spark.read.format("active911").option("fixture_dir", str(d)).load()
    first: dict[str, dict] = {}
    for r in to_features(pulled.filter("_error IS NULL")).collect():
        first.setdefault(r["id"], _render_feature(r))
    posted = _posted(srv)
    _check_hostile_payload(posted, list(first.values()))
    assert len(srv.raw_posts) == 3
    dup = next(f for f in posted if f["id"] == "active911-h-dup")
    assert dup["properties"]["callsign"] == "first"
    assert dup["geometry"]["coordinates"] == [-105.2, 40.1]


def _newest_job(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_control_stream_pull_runs_no_spark_job(spark, submit_server, tmp_path):
    """A pull is a ``LocalRelation`` on the driver: the transform folds
    into it at optimization and the features are collected and POSTed from
    the driver, so a whole ``max_pulls=1`` run starts no Spark job (a
    ``dropDuplicates`` shuffle plus an executor POST cost two)."""
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(encode_wire_payload([ALERT, {**ALERT, "id": "43"}]))
    (d / "agency_2.jsonp").write_text(encode_wire_payload([ALERT]))

    srv, url = submit_server
    spark.range(1).collect()  # a job to bracket against
    before = _newest_job(spark)
    query = run_control_stream(
        spark,
        url,
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_options={"fixture_dir": str(d), "max_pulls": "1"},
    )
    assert _newest_job(spark) == before
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)) == []
    assert sorted(f["id"] for f in _posted(srv)) == ["active911-42", "active911-43"]


def _features_json(alerts):
    """The control stream's transform, built and analyzed from scratch."""
    from etl_active911_spark.pipeline.active911 import to_features
    from etl_active911_spark.streaming.http_sink import json_column

    return to_features(alerts.filter(F.col("_error").isNull())).select("id", json_column())


def _pulled_frames(spark, tmp_path) -> list:
    """Two pull windows as the control stream hands them to the JVM:
    agency 3 is a dead letter, and ids repeat across agencies and
    across windows."""
    from etl_active911_spark.sources.active911_source import (
        SOURCE_SCHEMA,
        Active911Reader,
        alerts_table,
    )
    from tests.test_source import ALERT

    frames = []
    for w, ids in enumerate((["42", "43", "h-dup"], ["43", "44", "h-dup"])):
        d = tmp_path / f"window_{w}"
        d.mkdir(parents=True)
        first = [{**ALERT, "id": i} for i in ids] + [a for ag, a in _HOSTILE if ag == 1]
        (d / "agency_1.jsonp").write_text(encode_wire_payload(first), encoding="utf-8")
        second = [a for ag, a in _HOSTILE if ag == 2]
        (d / "agency_2.jsonp").write_text(encode_wire_payload(second), encoding="utf-8")
        (d / "agency_3.jsonp").write_text(encode_error_payload("upstream failure"))
        table = alerts_table(Active911Reader({"fixture_dir": str(d)}).pull())
        frames.append(spark.createDataFrame(table, SOURCE_SCHEMA))
    return frames


def test_bind_rows_matches_unbound_transform_across_zones(spark, tmp_path):
    """A bound pull returns exactly the (id, json) rows, in order, of
    building and analyzing the transform again, under every session
    zone. The zone is part of the template key: each new zone analyzes
    its own template, and a second pull in the same zone reuses it."""
    from etl_active911_spark.plans import cache

    name = "test.bind_rows_parity"
    zones = ["UTC", "Asia/Tokyo", "Australia/Eucla"]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    templates = []
    try:
        for tz in zones:
            spark.conf.set("spark.sql.session.timeZone", tz)
            for alerts in _pulled_frames(spark, tmp_path / tz.replace("/", "_")):
                bound = cache.bind_rows(name, spark, alerts, _features_json).collect()
                assert bound == _features_json(alerts).collect()
                ids = [r["id"] for r in bound]
                assert ids.count("active911-h-dup") == 3  # twice from agency 1, once from 2
                assert "active911-None" not in ids  # the dead letter is filtered
                templates.append([k[2] for k in cache._BIND_MEMO if k[0] == name])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert templates == [zones[:1], zones[:1], zones[:2], zones[:2], zones, zones]


def test_bound_pull_runs_no_analyzer_rule(spark, tmp_path):
    """A bound pull is marked analyzed: after the template is built, its
    query records no Analyzer rule in its planning tracker, while
    building the transform again runs them. The Spark internals the bind
    uses are pinned by signature, so an upgrade that moves them fails
    here rather than in a scheduled pull."""
    from etl_active911_spark.plans import cache

    jvm = spark._jvm
    gateway = spark.sparkContext._gateway

    def cls(name: str):
        return jvm.java.lang.Class.forName(name)

    def types(*classes):
        arr = gateway.new_array(jvm.java.lang.Class, len(classes))
        for i, c in enumerate(classes):
            arr[i] = c
        return arr

    logical = "org.apache.spark.sql.catalyst.plans.logical."
    plan, seq = cls(logical + "LogicalPlan"), cls("scala.collection.immutable.Seq")
    session = cls("org.apache.spark.sql.classic.SparkSession")
    cls("org.apache.spark.sql.classic.Dataset").getMethod("ofRows", types(session, plan))
    plan.getMethod("setAnalyzed", types())
    cls(logical + "LocalRelation").getConstructor(
        types(seq, seq, jvm.java.lang.Boolean.TYPE, cls("scala.Option"))
    )

    def analyzer_rules(df) -> list[str]:
        df.collect()
        names = df._jdf.queryExecution().tracker().rules().keys().mkString("\n")
        prefix = "org.apache.spark.sql.catalyst.analysis.Analyzer$"
        return [n for n in names.split("\n") if n.startswith(prefix)]

    first, second = _pulled_frames(spark, tmp_path)
    name = "test.bind_rows_no_analysis"
    cache.bind_rows(name, spark, first, _features_json).collect()
    assert analyzer_rules(cache.bind_rows(name, spark, second, _features_json)) == []
    assert analyzer_rules(_features_json(second))


def test_bind_rows_refuses_what_it_cannot_bind(spark, tmp_path):
    """A template that is not one chain over its input, or rows that are
    not a ``LocalRelation`` on the driver, raise instead of binding."""
    from etl_active911_spark.plans import cache

    [alerts, _] = _pulled_frames(spark, tmp_path)
    with pytest.raises(ValueError, match="not one chain"):
        cache.bind_rows("test.bind_rows_union", spark, alerts, lambda a: a.unionByName(a))
    on_executors = spark.createDataFrame(alerts.collect(), alerts.schema)
    with pytest.raises(ValueError, match="LogicalRDD"):
        cache.bind_rows("test.bind_rows_rdd", spark, on_executors, _features_json)


def test_control_stream_large_pull_binds_in_slices(spark, submit_server, tmp_path):
    """A pull over ``spark.sql.execution.arrow.localRelationThreshold``
    (an RDD scan if handed over whole) is bound in ordered slices under
    it: the control stream POSTs the same bytes as under the default
    threshold, first occurrence in pull order winning across slices, and
    still starts no Spark job."""
    from etl_active911_spark.sources.active911_source import (
        SOURCE_SCHEMA,
        Active911Reader,
        alerts_table,
    )
    from etl_active911_spark.streaming.jobs import run_control_stream
    from tests.test_source import ALERT

    d = tmp_path / "wire"
    d.mkdir()
    (d / "agency_1.jsonp").write_text(
        encode_wire_payload([{**ALERT, "id": str(i)} for i in range(30)])
    )
    (d / "agency_2.jsonp").write_text(
        encode_wire_payload([{**ALERT, "id": str(i), "description": "second"} for i in range(20, 50)])
    )
    (d / "agency_3.jsonp").write_text(encode_error_payload("upstream failure"))
    srv, url = submit_server

    def one_run(tag: str) -> list[bytes]:
        srv.posts.clear()
        srv.raw_posts.clear()
        run_control_stream(
            spark,
            url,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            source_options={"fixture_dir": str(d), "max_pulls": "1"},
        )
        return list(srv.raw_posts)

    base = one_run("default")
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(4 * 1024))
        whole = spark.createDataFrame(
            alerts_table(Active911Reader({"fixture_dir": str(d)}).pull()), SOURCE_SCHEMA
        )
        assert whole._jdf.queryExecution().logical().getClass().getSimpleName() == "LogicalRDD"
        spark.range(1).collect()  # a job to bracket against
        before = _newest_job(spark)
        sliced = one_run("sliced")
        assert _newest_job(spark) == before
    finally:
        spark.conf.set(key, prev)
    assert sliced == base
    posted = _posted(srv)
    assert [f["id"] for f in posted] == [f"active911-{i}" for i in range(50)]
    assert {f["properties"]["callsign"] for f in posted} == {"Structure Fire", "second"}
    assert next(f for f in posted if f["id"] == "active911-25")["properties"]["callsign"] == "Structure Fire"
