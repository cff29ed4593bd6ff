"""The benchmark's workloads. Each is a closed loop with one client: the
next op starts when the previous one returns. A workload prepares its
inputs and expected outputs from the seed, warms up, and then runs ops;
``op`` returns ``None`` when the op's output is correct and an error
string otherwise. Warm-up ops are checked too: ``setup`` counts them in
the run's ``OpLog`` and raises only when it cannot run at all.

Per-layer numbers are collected only for traced ops (``trace`` not None)
and never inside an untraced op.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import shutil
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa

import datagen
from measure import OpLog, ProcTree, Tracer, attempt
from sparkprobe import ProgressLog, StatusStore, progress_durations

MIB = float(1 << 20)
#: Spark runs on local[CORES].
CORES = 4


class OpTrace:
    """Per-layer record of one traced op: spans go to the run's tracer,
    numbers to ``values``."""

    def __init__(self, tracer: Tracer, op: int) -> None:
        self.tracer, self.op = tracer, op
        self.values: dict[str, float] = {}

    def span(self, name: str):
        return self.tracer.span(name, self.op)

    @contextlib.contextmanager
    def timed(self, name: str):
        """A span whose duration is also recorded as ``values[name]``."""
        with self.span(name.removesuffix("_s")):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.values[name] = self.values.get(name, 0.0) + time.perf_counter() - t0


class EngineProbe:
    """Brackets a traced op with the engine's own counters: status-store
    jobs and stages, JVM GC and the process tree's CPU."""

    def __init__(self, spark) -> None:
        self.store = StatusStore(spark)
        self.tree = ProcTree()

    def begin(self) -> tuple:
        self.store.flush()
        return self.store.newest_job(), self.store.gc_s(), self.tree.child_cpu_s()

    def end(self, mark: tuple, latency_s: float, trace: OpTrace) -> None:
        job0, gc0, cpu0 = mark
        self.store.flush()
        cpu = self.tree.child_cpu_s() - cpu0
        trace.values["runtime.cpu_s"] = cpu
        trace.values["runtime.busy_frac"] = cpu / (latency_s * CORES)
        trace.values["runtime.jvm_gc_s"] = self.store.gc_s() - gc0
        for k, v in self.store.jobs_since(job0).items():
            trace.values[f"spark.{k}"] = v


# ------------------------------------------------------------------ alert_etl


class LoopbackSink(ThreadingHTTPServer):
    """The ETL API the control stream POSTs FeatureCollections to. Counts
    what arrives and how long it spends handling it."""

    daemon_threads = True

    def __init__(self) -> None:
        super().__init__(("127.0.0.1", 0), _SinkHandler)
        self.lock = threading.Lock()
        self.trace: OpTrace | None = None
        self.op_span: int | None = None
        self.reset()
        self._thread = threading.Thread(target=self.serve_forever, name="sink", daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/api/etl"

    def reset(self) -> None:
        with self.lock:
            self.ids: list[str] = []
            self.posts = 0
            self.bytes = 0
            self.busy_s = 0.0

    def record(self, ids: list[str], n_bytes: int, t0: float, t1: float) -> None:
        with self.lock:
            self.ids.extend(ids)
            self.posts += 1
            self.bytes += n_bytes
            self.busy_s += t1 - t0
            if self.trace is not None:
                self.trace.tracer.add("http_sink.request", t0, t1, self.trace.op, self.op_span)

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        self._thread.join(timeout=10)


class _SinkHandler(BaseHTTPRequestHandler):
    def do_POST(self) -> None:  # noqa: N802 — http.server's naming
        t0 = time.perf_counter()
        body = self.rfile.read(int(self.headers["Content-Length"]))
        ids = [f["id"] for f in json.loads(body)["features"]]
        self.send_response(200)
        self.end_headers()
        self.server.record(ids, len(body), t0, time.perf_counter())

    def log_message(self, *args) -> None:
        pass


class AlertEtl:
    """One op is one scheduled pull through ``run_control_stream`` with
    AvailableNow, ``max_pulls=1`` and a fresh checkpoint: the reference's
    whole lifecycle (authenticated source, dead-letter routing,
    ``to_features``, dedup, chunked POSTs to the loopback sink).

    Fifteen agencies return ``PER_AGENCY`` alerts each and one returns an
    error payload. Consecutive pull windows share a quarter of their
    alerts, as the reference's overlapping 6-hour windows do. The pull cost
    is mostly fixed per stream start, so the op is kept small enough for
    several timed pulls to fit a run.
    """

    name = "alert_etl"
    #: The fewest timed pulls a run makes on a slow host; it fixes which
    #: percentile ``latency_tail_s`` reports (p50: too few for a higher one).
    MIN_OPS = 2
    AGENCIES = 15
    PER_AGENCY = 50
    WINDOWS = 8
    WARMUP = 2

    def __init__(self, spark, seed: int, state_dir: str) -> None:
        self.spark, self.seed, self.dir = spark, seed, state_dir
        self.sink = LoopbackSink()
        self.progress: ProgressLog | None = None
        self.probe: EngineProbe | None = None
        self.n_done = 0
        self.once: dict[str, float] = {}

    def _alerts(self) -> tuple[list[dict], set[str]]:
        """The synthetic alert fixture for seeded order keys, in seeded
        order, and the feature ids the reference transform emits for them.
        Both come from DuckDB: ``SYNTH_ALERTS_SQL`` is written for Spark
        and DuckDB alike, and the ``a911_pipeline_flat`` oracle is the
        transform's DuckDB reference. Preparing inputs and expectations
        costs the engine nothing and shares no code with it."""
        import duckdb

        from etl_active911_spark.pipeline.fixtures import SYNTH_ALERTS_SQL
        from etl_active911_spark.plans import registry

        registry.load_all()
        size = self.AGENCIES * self.PER_AGENCY
        n = size + size * 3 // 4 * (self.WINDOWS - 1)
        rng = np.random.default_rng(self.seed)
        keys = rng.choice(10_000_000, n, replace=False)
        con = duckdb.connect()
        try:
            con.register("orders", pa.table({"o_orderkey": pa.array(keys, pa.int64())}))
            alerts = con.execute(SYNTH_ALERTS_SQL).fetch_arrow_table().to_pylist()
            oracle = registry.ORACLES["a911_pipeline_flat"]
            featured = {r[0] for r in con.execute(f"SELECT feature_id FROM ({oracle})").fetchall()}
        finally:
            con.close()
        return [alerts[i] for i in rng.permutation(len(alerts))], featured

    def setup(self, log: OpLog) -> None:
        from etl_active911_spark.sources import active911_source as src

        alerts, featured = self._alerts()
        size = self.AGENCIES * self.PER_AGENCY
        step = size * 3 // 4
        self.windows: list[str] = []
        self.expected: list[collections.Counter] = []
        for w in range(self.WINDOWS):
            rows = alerts[w * step: w * step + size]
            d = os.path.join(self.dir, f"wire_{w:02d}")
            os.makedirs(d)
            for a in range(self.AGENCIES):
                chunk = rows[a * self.PER_AGENCY:(a + 1) * self.PER_AGENCY]
                with open(os.path.join(d, f"agency_{a + 1}.jsonp"), "w", encoding="utf-8") as fh:
                    fh.write(src.encode_wire_payload(chunk))
            with open(os.path.join(d, f"agency_{self.AGENCIES + 1}.jsonp"), "w", encoding="utf-8") as fh:
                fh.write(src.encode_error_payload("upstream failure"))
            self.windows.append(d)
            # an alert the transform drops is never POSTed
            ids = (f"active911-{r['id']}" for r in rows)
            self.expected.append(collections.Counter(i for i in ids if i in featured))
        for i in range(self.WARMUP):
            log.check(attempt(self.op, i, None))

    def start_tracing(self) -> None:
        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)
        self.probe = EngineProbe(self.spark)

    def _replay_layers(self, window: int, trace: OpTrace) -> None:
        """Source decode and transform build on the pull's payloads, run
        beside the op (not inside it) to split its cost by layer."""
        from etl_active911_spark.pipeline.active911 import to_features
        from etl_active911_spark.sources import active911_source as src

        d = self.windows[window]
        rows = dead = 0
        with trace.timed("sources.decode_s"):
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    payload = src.unwrap_jsonp(fh.read())
                if payload.get("result") == "error":
                    dead += 1
                else:
                    rows += len(src.decode_alert_csv(payload["message"]))
        trace.values["sources.rows"] = rows
        trace.values["sources.dead_letters"] = dead
        frame = self.spark.read.format("active911").option("fixture_dir", d).load()
        with trace.timed("pipeline.build_s"):
            to_features(frame.filter("_error IS NULL").drop("agency_id", "_error"))

    def op(self, i: int, trace: OpTrace | None) -> str | None:
        from etl_active911_spark.streaming.jobs import run_control_stream

        window = self.n_done % self.WINDOWS
        ckpt = os.path.join(self.dir, f"ckpt_{self.n_done}")
        self.n_done += 1
        self.sink.reset()
        if trace is not None:
            self._replay_layers(window, trace)
            self.progress.take()
            n_term = self.progress.terminated
            mark = self.probe.begin()
            self.sink.trace, self.sink.op_span = trace, trace.tracer.begin("op", trace.op)
        t0 = time.perf_counter()
        try:
            run_control_stream(
                self.spark, self.sink.url, ckpt,
                {"fixture_dir": self.windows[window], "max_pulls": "1"},
            )
            latency = time.perf_counter() - t0
            got = collections.Counter(self.sink.ids)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        if trace is not None:
            trace.tracer.end(self.sink.op_span)
            self.sink.trace = None
            self.probe.end(mark, latency, trace)
            self.progress.wait_terminated(n_term + 1)
            d = progress_durations(self.progress.take())
            trace.values.update({
                "streaming.add_batch_s": d["add_batch_s"],
                "streaming.commit_s": d["commit_s"],
                "streaming.planning_s": d["planning_s"],
                "streaming.overhead_s": latency - d["trigger_s"],
                "http_sink.posts": self.sink.posts,
                "http_sink.features": len(self.sink.ids),
                "http_sink.mib": self.sink.bytes / MIB,
                "http_sink.server_busy_s": self.sink.busy_s,
            })
        want = self.expected[window]
        if got != want:
            dup = sum(c - 1 for c in got.values() if c > 1)
            return (
                f"pull {window}: {len(got)} ids POSTed ({dup} repeats), "
                f"{len(want)} expected, {len(set(want) - set(got))} missing, "
                f"{len(set(got) - set(want))} unexpected"
            )
        return None

    def close(self) -> None:
        self.sink.close()


# ------------------------------------------------------------------ query_mix


class QueryMix:
    """One op is one pass over ``QUERIES``: build each registered query and
    count it, in a fixed order. Per-query ops (0.3-1 s) made a median that
    sat on the boundary between query classes and jumped with the number of
    passes a run fitted; a pass averages over the whole mix. The mix spans
    relational joins (flagship, q21), the token windows of the skew item
    (bigram), vector top-k (cosine) and an Arrow/pandas hop
    (applyInPandas). Queries whose first call, warm op or DuckDB oracle
    would eat too much of a run's time budget are left out.

    Setup runs ``WARM_PASSES`` untimed passes. The first pays every query's
    codegen and memo builds. Passes keep getting faster for about twelve
    more (JIT), too many for the run budget; every run times the same
    stretch of that curve.
    """

    name = "query_mix"
    QUERIES = (
        "flagship_revenue_by_nation",
        "tpch_q21_waiting_suppliers",
        "x4_bigram_logprob",
        "x3_cosine_topk",
        "n13_apply_in_pandas",
    )
    #: The fewest timed passes a run makes on a slow host: the tail it
    #: supports is p50.
    MIN_OPS = 3
    WARM_PASSES = 5
    #: About sf0.01. A warm pass took as long with ten times the rows (4.5
    #: vs 4.8 s): its cost is per job, stage and task, not per row. The
    #: sf0.1 tables added ~16 s of first calls to set-up and nothing to
    #: the timed passes.
    N_ORDERS, N_DOCS, N_VECS = 15_000, 1_000, 1_000

    def __init__(self, spark, seed: int, state_dir: str) -> None:
        self.spark, self.seed, self.dir = spark, seed, state_dir
        self.data = os.path.join(state_dir, "tables")
        self.probe: EngineProbe | None = None
        self.once: dict[str, float] = {}

    def setup(self, log: OpLog) -> None:
        import duckdb

        from etl_active911_spark.plans import registry

        t0 = time.perf_counter()
        registry.load_all()
        self.once["plans.load_s"] = time.perf_counter() - t0
        self.registry = registry
        datagen.write_tables(self.data, self.seed, self.N_ORDERS, self.N_DOCS, self.N_VECS)
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {
                q: con.execute(f"SELECT count(*) FROM ({registry.ORACLES[q]})").fetchone()[0]
                for q in self.QUERIES
            }
        finally:
            con.close()
        # the first warm-up pass is the cold first call of every query
        first_call, errors = [], []
        for q in self.QUERIES:
            t = time.perf_counter()
            errors.append(attempt(self._query, q, None))
            first_call.append(time.perf_counter() - t)
        log.check("; ".join(e for e in errors if e) or None)
        self.once["plans.first_call_s"] = sum(first_call) / len(first_call)
        for i in range(self.WARM_PASSES - 1):
            log.check(attempt(self.op, i, None))

    def start_tracing(self) -> None:
        self.probe = EngineProbe(self.spark)

    def _query(self, q: str, trace: OpTrace | None) -> str | None:
        fn = self.registry.QUERIES[q]
        if trace is None:
            n = fn(self.spark, self.data).count()
        else:
            with trace.timed("plans.build_s"):
                df = fn(self.spark, self.data)
            with trace.timed("operators.exec_s"):
                n = df.count()
        if n != self.expected[q]:
            return f"{q}: {n} rows, oracle has {self.expected[q]}"
        return None

    def op(self, i: int, trace: OpTrace | None) -> str | None:
        if trace is None:
            errors = [self._query(q, None) for q in self.QUERIES]
        else:
            mark = self.probe.begin()
            t0 = time.perf_counter()
            with trace.span("op"):
                errors = [self._query(q, trace) for q in self.QUERIES]
            self.probe.end(mark, time.perf_counter() - t0, trace)
        return "; ".join(e for e in errors if e) or None

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (AlertEtl, QueryMix)}
