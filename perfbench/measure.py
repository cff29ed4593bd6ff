"""Measurement logic that needs no Spark: latency summaries, failed-op
accounting, trace spans with self time, and process-tree CPU and memory
read from ``/proc``. Kept free of side effects on import so the tests can
exercise it directly.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

#: A tail percentile must leave at least this many ops beyond it.
TAIL_BEYOND = 10


def tail_percentile(n_ops: int) -> int:
    """The highest whole percentile with at least ``TAIL_BEYOND`` of
    ``n_ops`` beyond it: p50 at 20 ops, p75 at 40, p90 at 100. Below 20 ops
    no percentile qualifies and the median is the furthest the run can
    see, so p50 is returned."""
    if n_ops < 2 * TAIL_BEYOND:
        return 50
    return max(50, math.floor(100 * (1 - TAIL_BEYOND / n_ops)))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the ``statistics`` inclusive rule)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class OpLog:
    """Closed-loop op record. Every checked op counts as attempted and,
    when it raised or failed its output check, as failed: the timed ops
    and the untimed warm-up ops alike, so a defect that shows from the
    first op on is counted, not raised. Only timed ops carry a latency."""

    latencies: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def check(self, error: str | None) -> None:
        """Count one untimed (warm-up) op."""
        self.attempted += 1
        if error is not None:
            self.failures.append(error)

    def record(self, latency_s: float, error: str | None) -> None:
        """Count one timed op."""
        self.latencies.append(latency_s)
        self.check(error)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def summary(self, wall_s: float, tail_pct: int) -> dict[str, float]:
        """Timed ops/s over the timed wall, median and ``tail_pct`` latency."""
        return {
            "ops_per_s": len(self.latencies) / wall_s,
            "latency_p50_s": statistics.median(self.latencies),
            "latency_tail_s": percentile(self.latencies, tail_pct),
            "failed_frac": self.failed_frac,
        }


def attempt(fn, *args) -> str | None:
    """Run one op; its error string, or the exception it raised as one."""
    try:
        return fn(*args)
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
        return f"{type(exc).__name__}: {exc}"


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int
    parent: int | None = None
    span_id: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. Spans of one op share its op id; a span's
    parent is the span that was open on the same thread when it began,
    unless given explicitly (the loopback server's request spans name the
    op span they belong to)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op: int, parent: int | None = None) -> int:
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            span_id = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), math.nan, op, parent, span_id))
        stack.append(span_id)
        return span_id

    def end(self, span_id: int) -> None:
        self.spans[span_id].end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span_id:
            stack.pop()

    def add(self, name: str, start: float, end: float, op: int, parent: int | None) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, op, parent, len(self.spans)))

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        span_id = self.begin(name, op)
        try:
            yield span_id
        finally:
            self.end(span_id)

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed self time: each span's duration minus
        the part of its interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            own = s.duration - covered(children.get(s.span_id, []), s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + own
        return out


# ---------------------------------------------------------------- /proc


def parse_stat(text: str) -> tuple[int, float]:
    """(ppid, utime+stime+cutime+cstime in clock ticks) from a
    ``/proc/<pid>/stat`` line."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    return int(rest[1]), float(sum(int(x) for x in rest[11:15]))


def descendants(root: int, ppids: dict[int, int]) -> set[int]:
    """Every pid whose parent chain reaches ``root`` (``root`` excluded)."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppids.items():
        kids.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, []))
    return out


class ProcTree:
    """CPU and resident memory of this process's tree: the Python driver,
    the JVM it launched and the JVM's Python workers."""

    TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096

    def __init__(self, root: int | None = None) -> None:
        self.root = root if root is not None else os.getpid()

    def _scan(self) -> tuple[dict[int, int], dict[int, float]]:
        ppids: dict[int, int] = {}
        cpu: dict[int, float] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    ppid, ticks = parse_stat(fh.read())
            except (FileNotFoundError, ProcessLookupError, PermissionError, ValueError):
                continue
            ppids[int(name)] = ppid
            cpu[int(name)] = ticks
        return ppids, cpu

    def child_cpu_s(self) -> float:
        """CPU seconds used by every descendant (the JVM and its workers),
        including their reaped children."""
        ppids, cpu = self._scan()
        return sum(cpu[p] for p in descendants(self.root, ppids)) / self.TICK

    def rss_mib(self) -> float:
        """Resident memory summed over this process and its descendants."""
        ppids, _ = self._scan()
        total = 0
        for pid in descendants(self.root, ppids) | {self.root}:
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    total += int(fh.read().split()[1])
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                continue
        return total * self.PAGE / (1 << 20)


class PeakRss:
    """Samples the tree's RSS on a background thread while active."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.1) -> None:
        self.tree, self.interval_s = tree, interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_mib())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_mib())
