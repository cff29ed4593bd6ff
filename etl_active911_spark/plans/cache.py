"""Scoped persist: cache-backed subtree reuse with bounded CacheManager growth.

Round-4 resolution of the materialization-strategy saga (VERDICT r03 item 1):

* ``persist()`` is the fastest way to share a subtree between two consumers
  in one action (fresh-session median 2.74 s for x2_minhash_lsh at sf0.1 vs
  3.36 s for ``localCheckpoint(eager=True)`` and 4.61 s for ``eager=False``
  — the eager variant pays a separate materialization job that is brutal on
  a cold session, and the lazy variant loses stage-level dedup entirely).
* But a bare ``persist()`` pins a CacheManager entry for the session
  (ADVICE r02): across a 130-query parity sweep those entries accumulate.

``scoped_persist(key, df)`` resolves the tension: at most ONE live cached
DataFrame per key — re-invoking the same query unpersists the previous
entry before pinning the new one, so sweep-wide cache growth is bounded by
the number of distinct keys (a handful), not the number of invocations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: dict[str, DataFrame] = {}
_LIVE_CHECKPOINTS: dict[str, tuple[DataFrame, ...]] = {}


def scoped_persist(key: str, df: DataFrame) -> DataFrame:
    """``df.persist()`` that keeps at most one live cache entry per ``key``.

    The previous DataFrame registered under ``key`` (from an earlier
    invocation of the same query) is unpersisted first — non-blocking, and
    tolerant of its session having been stopped since.
    """
    return scoped_register(key, df.persist())


def scoped_register(
    key: str, df: DataFrame, checkpoints: tuple[DataFrame, ...] = ()
) -> DataFrame:
    """Track an ALREADY-persisted DataFrame under ``key`` (e.g. the final
    labels of an iterative loop that manages its own per-iteration
    persist/unpersist): the previous holder of the key is unpersisted, so
    repeat invocations cannot accumulate CacheManager entries.

    ``checkpoints`` are the ``localCheckpoint``-ed frames the lineage of
    ``df`` may still read (an iterative loop's edge list and label
    checkpoints). ``Dataset.unpersist`` cannot free their blocks, which sit
    on the RDD under each LogicalRDD leaf, so they are released with
    ``_release(..., checkpointed=True)`` when the next holder of ``key``
    registers.

    SEQUENTIAL-EVALUATION ASSUMPTION (ADVICE r04): a checkpoint has no
    lineage to recompute from. A reference to the PREVIOUS holder that is
    re-collected AFTER a later call registered a new one fails with
    'checkpoint block not found' instead of recomputing. That is safe
    under the engine's build-then-evaluate usage (the driver sweep and
    the parity replica evaluate each query's result before building the
    next), and deliberate: keeping dead checkpoint blocks alive is exactly
    the unbounded growth this module exists to prevent. Callers that need
    a returned plan to outlive the next invocation must re-persist a
    plain copy themselves."""
    prev = _LIVE.pop(key, None)
    if prev is not None and prev is not df:
        _release(prev)
    for cp in _LIVE_CHECKPOINTS.pop(key, ()):
        _release(cp, checkpointed=True)
    _LIVE[key] = df
    if checkpoints:
        _LIVE_CHECKPOINTS[key] = tuple(checkpoints)
    return df


def _release(df: DataFrame, checkpointed: bool = False) -> None:
    """Unpersist ``df`` (non-blocking), tolerating its session having
    been stopped since — nothing is left to free then.
    ``Dataset.unpersist`` only drops CacheManager entries: the blocks of
    a ``localCheckpoint``-ed frame (``checkpointed``) live on the RDD
    under its LogicalRDD leaf, so that RDD is unpersisted instead."""
    try:
        if checkpointed:
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        else:
            df.unpersist(blocking=False)
    except Exception:
        pass


def _fixture_fingerprint(sf_dir: str, table: str = "documents") -> tuple:
    """Cheap change-detection for a fixture table: parquet file list +
    mtimes (the fixture-memo invalidation contract, ADVICE r06).

    ``table="*"`` fingerprints EVERY ``*.parquet`` entry under ``sf_dir``
    — for memos over queries that read several tables (r15 optimization
    round: the whole-plan memo must invalidate when ANY input changes)."""
    import os

    base = os.path.abspath(sf_dir)
    if table == "*":
        try:
            names = sorted(n for n in os.listdir(base) if n.endswith(".parquet"))
        except OSError:
            return ()
        return tuple(
            (n,) + _fixture_fingerprint(sf_dir, n[: -len(".parquet")])
            for n in names
        )
    p = os.path.join(base, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            return tuple(sorted((f, os.path.getmtime(os.path.join(p, f))) for f in os.listdir(p)))
        return (("", os.path.getmtime(p)),)
    except OSError:
        return ()


def _lookup(
    store: dict, name: str, spark, sf_dir: str, table: str, build,
    *, holds_data: bool, key_extra: tuple = (),
):
    """The one memo decision shared by ``fixture_memo`` and ``plan_memo``:
    key ``name`` per (application, sf_dir) plus ``key_extra``, serve the
    stored value while the fixture fingerprint of ``table`` under
    ``sf_dir`` is unchanged, else rebuild via ``build()`` — releasing the
    stale value's checkpoint blocks first when it ``holds_data``."""
    import os

    key = (name, spark.sparkContext.applicationId, os.path.abspath(sf_dir)) + key_extra
    fp = _fixture_fingerprint(sf_dir, table)
    got = store.get(key)
    if got is None or got[0] != fp:
        if got is not None and holds_data:
            _release(got[1], checkpointed=True)
        got = store[key] = (fp, build())
    return got[1]


_MEMO: dict[tuple, tuple[tuple, DataFrame]] = {}


def fixture_memo(name, spark, sf_dir, builder, table: str = "documents") -> DataFrame:
    """Session-scoped memo of a small derived DataFrame shared by SEVERAL
    registered queries (the cross-query analogue of ``scoped_persist``):
    built once per (application, sf_dir), materialized with an eager
    ``localCheckpoint`` (consumers include iterative loops — lineage
    truncation, CLAUDE.md rule 17), and invalidated when the backing
    fixture parquet changes (file list + mtimes) — the stale entry's
    blocks are released. ``clear_fixture_memos`` gives tests a hard
    reset. Only use for results that are SMALL (≪ corpus — keep lists,
    pair graphs): the blocks pin executor memory for the session."""
    return _lookup(
        _MEMO,
        name,
        spark,
        sf_dir,
        table,
        lambda: builder().localCheckpoint(eager=True),
        holds_data=True,
    )


def clear_fixture_memos() -> None:
    for _, df in _MEMO.values():
        _release(df, checkpointed=True)
    _MEMO.clear()


_QPLAN_MEMO: dict[tuple, tuple[tuple, DataFrame]] = {}


def plan_memo(name: str, spark, sf_dir: str, builder, table: str = "documents") -> DataFrame:
    """Memoize an ANALYZED DataFrame plan per (name, application,
    sf_dir, session timezone, task slots, shuffle partitions), invalidated
    when the backing fixture table changes — for any query (or shared
    fixture plan, e.g. ``pipeline.fixtures.synthetic_alerts``) whose
    per-call cost is dominated by driver-side plan construction (rule
    35: parquet footer + file listing + py4j Column trees re-paid every
    invocation). NO
    data is materialized: every execution still runs the full pipeline;
    only the immutable analyzed plan is reused.

    Do NOT use for plans that must present FRESH lineage to a self-join
    / cogroup consumer (rule 29: those sites pass factories precisely to
    mint new dataset-ids) — memoization would resurrect the ambiguous
    self-join. Intended for leaf queries returning straight
    scan→project/aggregate pipelines."""
    # Session timezone is part of the key (r15 optimization round): the
    # events reader and analysis-time timestamp resolution embed the
    # SESSION zone into the analyzed plan, and the hostile-TZ sweep flips
    # the conf mid-session — a UTC-built plan must never serve a
    # Tokyo-session call. The partition counts ``io.spread`` embeds are
    # part of it too: the task-slot count (it changes as executors join or
    # leave a cluster) and the shuffle conf (the hostile-partitioning
    # sweep sets it mid-session).
    key_extra = (
        spark.conf.get("spark.sql.session.timeZone"),
        spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    got = _lookup(
        _QPLAN_MEMO, name, spark, sf_dir, table, builder, holds_data=False, key_extra=key_extra
    )
    # Return a FRESH Dataset over the memoized ANALYZED subtree, never the
    # stored object itself (r15 close-out fix): a Dataset's
    # QueryExecution materializes its physical plan ONCE, under whatever
    # session state is active at that moment — returning the stored
    # object meant (a) an executed instance later showed its
    # POST-EXECUTION AQE plan to plan-shape observers (the in-suite
    # hygiene failures on x8_epoch_shuffle/n17_asof_join: 2 BNLJ → 4,
    # 1 Exchange → 2 after an earlier test collect()ed the same object),
    # and (b) a session-conf change after first materialization would
    # silently not take effect. ``select("*")`` builds a new
    # QueryExecution per call while re-analysis of the already-resolved
    # child is a fast pass — the memo still skips the expensive py4j
    # tree construction + first-principles analysis.
    return got.select("*")


def wrap_plan_memo(name: str, fn):
    """Wrap a REGISTERED query function so repeat invocations reuse the
    analyzed plan via :func:`plan_memo` (r15 optimization round, rule 35:
    ~35 s of the 93 s bench suite was per-call driver-side plan
    construction — py4j Column trees + parquet footer/file-listing
    re-paid on every warm-up and timed run).

    SAFETY CONTRACT (why only registry-listed queries are wrapped —
    ``registry.PLAN_MEMOED``): the wrapped query's plan must contain NO
    per-call materialization — no ``scoped_persist`` (memoizing would
    carry CACHED DATA across timed runs: the run after the first would
    read the persisted blocks instead of recomputing — result caching,
    not optimization) and no builder-side ``collect``/``localCheckpoint``
    (same class: the collected value freezes). Mechanically: the plan
    text of an eligible query has zero ``InMemoryTableScan`` /
    ``InMemoryRelation`` / ``ExistingRDD`` nodes — contract-tested in
    tests/test_plan_memo_wrap.py. Execution is UNCHANGED: every action
    on the memoized DataFrame builds a fresh QueryExecution and re-runs
    the full pipeline from the parquet inputs (measured: 6 jobs per
    ``.count()``, identical before/after; only analysis is reused).

    The memo key carries (application id, sf_dir, session timezone) and
    a whole-directory fixture fingerprint, so context restarts, fixture
    rewrites, and the hostile-TZ sweep all invalidate correctly."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        return plan_memo(
            "q." + name, spark, sf_dir, lambda: fn(spark, sf_dir), table="*"
        )

    wrapper._plan_memoed = True
    return wrapper


_LOCAL_RELATION = "org.apache.spark.sql.catalyst.plans.logical.LocalRelation"
_BIND_MEMO: dict[tuple, tuple] = {}


def bind_rows(name: str, spark, rows: DataFrame, build) -> DataFrame:
    """``build(rows)`` without building or analyzing it again: the plan
    is analyzed once per (name, application, session timezone, schema of
    ``rows``) over an empty frame of that schema, and each call swaps the
    rows of ``rows`` into the leaf of that template — what Structured
    Streaming does with a micro-batch's data (SIGMOD 2018). ``name``
    stands for ``build``: one name, one build.

    The bound plan is marked analyzed, so a call builds no Column tree
    and runs no analyzer rule; optimization still runs on every call
    (the ``LocalRelation`` fold, ``current_*``, time-zone rules).

    Only for a ``build`` whose analyzed plan is a single-child chain over
    its input, and only for ``rows`` already on the driver: its plan must
    be a ``LocalRelation`` (a ``createDataFrame`` of an Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold``). Anything else
    raises. The zone is in the key because analysis embeds it (see
    ``plan_memo``); as there, no other conf is. Never for plans that
    must mint fresh lineage (rule 29) or hold materialization (rule 38):
    every call shares the template's expression ids."""
    from pyspark.sql.pandas.types import to_arrow_schema

    jvm = spark._jvm
    tz = spark.conf.get("spark.sql.session.timeZone")
    key = (name, spark.sparkContext.applicationId, tz, rows.schema.json())
    got = _BIND_MEMO.get(key)
    if got is None:
        empty = spark.createDataFrame(to_arrow_schema(rows.schema).empty_table(), rows.schema)
        chain, node = [], build(empty)._jdf.queryExecution().analyzed()
        while node.children().size() == 1:
            chain.append(node)
            node = node.children().head()
        if node.children().size() or node.getClass().getName() != _LOCAL_RELATION:
            raise ValueError(f"bind_rows({name!r}): the template is not one chain over a LocalRelation")
        got = _BIND_MEMO[key] = (node.output(), chain[::-1])
    output, chain = got
    data = rows._jdf.queryExecution().logical()
    if data.getClass().getName() != _LOCAL_RELATION:
        raise ValueError(
            f"bind_rows({name!r}): rows are a {data.getClass().getSimpleName()}, not a LocalRelation"
        )
    node = jvm.org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        output, data.data(), False, jvm.scala.Option.empty()
    )
    for parent in chain:
        node = parent.withNewChildren(jvm.PythonUtils.toSeq([node]))
    node.setAnalyzed()
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, node), spark)


_COLS_MEMO: dict[tuple, object] = {}


def memo_cols(key: str, builder):
    """Memoize a fixed Column tree (or tuple/list of them) built by
    ``builder`` (r14, anchor attribution — BASELINE.md r14: several
    anchors spent 60-80% of their per-call wall on py4j Column-tree
    construction, not execution). Columns are immutable unresolved
    expressions over NAMED input columns, so one instance is safely
    reusable across plans within the process. Only use for trees with no
    per-call inputs (no sf_dir/parameter dependence), with NO aliases
    inside unless the tree is used at most once per plan (Alias mints
    its exprId at construction — rule 29 class), and build LAZILY —
    never at import (CLAUDE.md rule 15).

    Also serves a small DataFrame of MODULE CONSTANTS (a literal table
    such as the ANN projection sign matrix: ``createDataFrame`` ships
    every literal through py4j per call), under the same at-most-one-
    reference-per-plan caveat. Never memoize fixture-derived data here:
    that would be result caching.

    Entries are scoped to the active SparkContext's application id:
    Columns hold py4j object refs that die with the JVM, so a context
    restart must invalidate the memo, not serve stale handles."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    full = (app, key)
    got = _COLS_MEMO.get(full)
    if got is None:
        got = builder()
        _COLS_MEMO[full] = got
    return got

