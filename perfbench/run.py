"""Closed-loop benchmark of the engine: one client, one op at a time, on
``local[4]``.

    python3 perfbench/run.py --workload alert_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The benchmark builds
its inputs from ``--seed``, warms up, runs ops for ``--seconds`` and
checks the output of every op, the warm-up's included. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``. A human-readable summary,
``failed_frac`` included, goes to standard error. All state lives in a
scratch directory inside the checkout and is removed at exit; a traced
run also writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402 — the clock above starts first
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "etl_active911_spark"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mib": "MiB",
}

#: Per-layer metrics (name → unit). Every traced run reports all of them;
#: a layer its workload never enters reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "plans.load_s": "s",
    "plans.first_call_s": "s",
    "plans.build_s": "s",
    "pipeline.build_s": "s",
    "operators.exec_s": "s",
    "runtime.cpu_s": "s",
    "runtime.busy_frac": "1",
    "runtime.jvm_gc_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_wall_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "spark.shuffle_read_mib": "MiB",
    "spark.shuffle_write_mib": "MiB",
    "spark.spill_mib": "MiB",
    "spark.input_mib": "MiB",
    "spark.skew_max": "1",
    "sources.decode_s": "s",
    "sources.rows": "count",
    "sources.dead_letters": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.overhead_s": "s",
    "http_sink.posts": "count",
    "http_sink.features": "count",
    "http_sink.mib": "MiB",
    "http_sink.server_busy_s": "s",
    "op.self_s": "s",
    "trace.overhead_frac": "1",
}


def configure_env() -> str:
    """Point every temporary file of this process, the JVM and Spark's
    Python workers at a fresh directory inside the checkout, and put the
    checkout on the workers' import path (the Python data source is
    unpickled in a worker that does not start in the checkout)."""
    base = ROOT / ".perfbench" / "tmp"
    base.mkdir(parents=True, exist_ok=True)
    state = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = state
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={state} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return state


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, state: str) -> dict:
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    from measure import OpLog, PeakRss, ProcTree, Tracer, attempt, tail_percentile
    from workloads import WORKLOADS, OpTrace

    from etl_active911_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    wl = WORKLOADS[workload](spark, seed, state)
    log = OpLog()
    try:
        wl.setup(log)
        n_warm = log.attempted
        tracer = Tracer() if trace else None
        if trace:
            wl.start_tracing()
        op_walls = {True: [], False: []}  # traced? → wall time per op, tracing work included
        layer_rows: list[dict[str, float]] = []
        setup_s = time.perf_counter() - PROCESS_START
        with PeakRss(ProcTree()) as rss:
            start = time.perf_counter()
            i = 0
            while keep_going(time.perf_counter() - start, seconds, op_walls):
                traced = trace and i % 2 == 1
                op_trace = OpTrace(tracer, i) if traced else None
                t = time.perf_counter()
                err = attempt(wl.op, i, op_trace)
                dt = time.perf_counter() - t
                log.record(dt, err)
                op_walls[traced].append(dt)
                if op_trace is not None:
                    layer_rows.append(op_trace.values)
                i += 1
            wall = time.perf_counter() - start
    finally:
        wl.close()
        stop_spark(spark)

    tail_pct = tail_percentile(wl.MIN_OPS)
    summary = log.summary(wall, tail_pct)
    summary.update(setup_s=setup_s, peak_rss_mib=rss.peak)
    print(
        f"{workload} seed={seed} ops={len(log.latencies)} warm-up={n_warm} "
        f"failed={log.failed} "
        f"failed_frac={summary['failed_frac']:.3f} tail=p{tail_pct} "
        + " ".join(f"{k}={summary[k]:.4f}{END_TO_END[k]}" for k in END_TO_END),
        file=sys.stderr,
    )
    print("  op latencies: " + " ".join(f"{x:.3f}" for x in log.latencies), file=sys.stderr)
    for err in log.failures[:5]:
        print(f"  failed op: {err}", file=sys.stderr)
    if not trace:
        metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        metrics = layer_metrics(wl, layer_rows, tracer, op_walls, session_start_s)
        write_spans(tracer, workload, seed)
    return {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": metrics,
    }


def keep_going(elapsed: float, seconds: float, op_walls: dict) -> bool:
    """Start another op while it would end nearer the deadline than
    stopping now would."""
    done = op_walls[True] + op_walls[False]
    mean = sum(done) / len(done) if done else 0.0
    return elapsed + mean / 2 < seconds


def layer_metrics(wl, rows, tracer, op_walls, session_start_s) -> dict:
    """Per-op means over the traced ops, plus the once-per-run numbers."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    n = max(len(rows), 1)
    for row in rows:
        for k, v in row.items():
            values[k] += v / n
    values["op.self_s"] = tracer.self_times().get("op", 0.0) / n
    values["session.start_s"] = session_start_s
    values.update(wl.once)
    if op_walls[True] and op_walls[False]:
        values["trace.overhead_frac"] = (
            statistics.mean(op_walls[True]) / statistics.mean(op_walls[False]) - 1.0
        )
    return {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


def write_spans(tracer, workload: str, seed: int) -> None:
    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / f"{workload}-{seed}.json", "w", encoding="utf-8") as fh:
        json.dump([s.__dict__ for s in tracer.spans], fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("alert_etl", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE} package at {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    state = configure_env()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), state)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
