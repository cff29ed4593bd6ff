"""Duplicate-group clustering (X-2 final stage, SURVEY.md §2.6): connected
components over the near-dup candidate pair graph, so each duplicate
cluster keeps one representative.

Algorithm: iterative label propagation (alternating large-star/small-star
style min-label exchange) — each vertex's label converges to the minimum
doc_id reachable from it. Iteration count is bounded by the cluster
diameter, which for near-dup graphs is tiny (dups of the same document
form near-cliques); a fixed cap + convergence check guards pathological
chains. Each iteration is one join + one aggregate, all keyed by vertex id
— no driver-side graph state, scales with the pair list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_active911_spark.io import read_table
from etl_active911_spark.plans.cache import scoped_persist, scoped_register
from etl_active911_spark.plans.registry import query


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 10
) -> DataFrame:
    """(a, b) edge list → (doc_id, component) with component = min doc_id
    of the component.

    Plain min-label propagation: converges in O(diameter) passes (NOT
    O(log diameter) — that would need star-contraction; ADVICE r01). For
    near-dup graphs the diameter is tiny (dups of one document form
    near-cliques), so a small cap suffices; if the cap is hit without the
    stable-labels check firing, components may be silently split — we
    raise instead of returning wrong clusters.

    Scale hygiene: labels are persisted per iteration and
    ``localCheckpoint``-ed every 3 iterations to truncate the join
    lineage; the per-iteration driver round-trip is one LIMIT-1 count.
    """
    # materialize the edge list ONCE: every iteration joins against it, and
    # without this the entire upstream pair pipeline (MinHash banding +
    # Jaccard verification when called from x2_dup_clusters) re-evaluates
    # per iteration — measured 5.1 s → ~3.6 s on x8_cluster_split at sf0.1.
    # localCheckpoint, NOT scoped_persist, despite the minhash finding
    # (plans/cache.py): the loop needs LINEAGE TRUNCATION, not just block
    # reuse — with persist() every iteration's plan still embeds the full
    # upstream MinHash pipeline and Catalyst re-optimizes that tree per
    # iteration (A/B r4: persist made x8_cluster_split 6.0 s → 22.3 s).
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    checkpoints = [edges]
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    converged = False
    for it in range(max_iter):
        # neighbor's current label, per vertex
        neigh = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("neigh_min"), F.col("component"))
                ).alias("component"),
            )
        )
        if (it + 1) % 3 == 0:
            # truncate lineage: each iteration stacks a join on the last
            new_labels = new_labels.localCheckpoint(eager=False)
            checkpoints.append(new_labels)
        new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels.unpersist() if hasattr(labels, "unpersist") else None
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(component diameter exceeds the cap); raise max_iter — returning "
            "would silently split clusters"
        )
    # the loop unpersists intermediates; register the surviving final
    # labels, and the checkpoints their lineage reads, so repeat
    # invocations can't accumulate cache entries or checkpoint blocks
    return scoped_register("connected_components.labels", labels, tuple(checkpoints))


def _dup_clusters_oracle() -> str:
    """DuckDB oracle: the shared MinHash-LSH CTE chain (dedup.py) feeding a
    recursive transitive-closure walk — component = min reachable doc_id.
    O(V·E) closure is fine at oracle scale; the Spark side is the
    distributed label-propagation loop."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    prs AS (
        SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS doc_id, dst FROM walk
        UNION
        SELECT src, src FROM edges
    ),
    comp AS (
        SELECT doc_id, MIN(dst) AS component FROM reach GROUP BY doc_id
    )
    SELECT c.doc_id, c.component, c.doc_id = k.keeper_id AS is_keeper
    FROM comp c
    JOIN (SELECT component, MIN(doc_id) AS keeper_id FROM comp GROUP BY component) k
      ON c.component = k.component
    """


@query("x2_dup_clusters", _dup_clusters_oracle())
def x2_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 end-to-end dedup: MinHash-LSH candidate pairs → exact-Jaccard
    verification (≥ 0.5) → connected components → one keeper per cluster.
    Returns (doc_id, component, is_keeper); downstream drops
    ``is_keeper = false`` rows."""
    from etl_active911_spark.operators.dedup import shared_verified_pairs

    pairs = shared_verified_pairs(spark, sf_dir)
    comp = connected_components(pairs)
    keepers = comp.groupBy("component").agg(F.min("doc_id").alias("keeper_id"))
    return (
        comp.join(keepers, "component")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


def connected_components_star(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 20,
    key: str = "connected_components_star",
) -> DataFrame:
    """(a, b) edge list → (doc_id, component) via the alternating
    large-star/small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi
    & Vassilvitskii, "Connected Components in MapReduce and Beyond",
    SoCC 2014 — public literature).

    Complement to ``connected_components`` (min-label propagation): that
    one converges in O(diameter) passes — ideal for near-clique dup
    graphs, but a long chain blows its cap. Star contraction converges in
    O(log n) ROUNDS FOR ANY GRAPH, so high-diameter graphs (linked lists
    of near-dups, threaded conversations) stay cheap: a 10⁶-hop chain is
    ~20 rounds instead of 10⁶. Per round: two star steps, each ONE keyed
    aggregate + ONE equi-join on the edge list, localCheckpoint-ed per
    round (iterative loop ⇒ lineage truncation, CLAUDE.md rule 17);
    convergence = the directed (child → parent) edge set reaching a
    fixpoint, checked with a LIMIT-1 anti-join probe (cheap: both sides
    are the current edge lists, not closures).

    * large-star: every node's LARGER neighbors re-attach to its current
      minimum (min over neighborhood ∪ self);
    * small-star: its smaller-or-equal neighbors and itself attach to the
      minimum of that smaller set.
    At the fixpoint every non-root points directly at its component min.

    Convergence detection (r5, tightened r6 per ADVICE r05): both star
    steps emit only child > parent edges and preserve the connectivity of
    the original graph, so the edge set is a converged disjoint union of
    stars (roots = component minima) when BOTH hold:

    * FLAT — no parent also appears as a child, and
    * FUNCTIONAL — no child holds two distinct parents. Flatness alone is
      NOT sufficient: on the path graph {(3,6),(5,6),(5,7),(4,7)} a round
      can emit {5→3, 5→4, 6→3, 7→4} — flat, but doc 5 has two parents and
      the single component {3,4,5,6,7} would be returned split in two
      (the ADVICE r05 counterexample, pinned in
      tests/test_extensions.py::test_star_components_path_counterexample).

    Two LIMIT-1 probes per round (a semi-join for flatness, a keyed count
    for functionality) — still cheaper than the old two-sided anti-join
    edge-set diff. Per-round cost: two keyed aggregates, two equi-joins,
    ONE distinct (duplicates are tolerated inside a round — the min
    aggregates ignore them — and collapsed once before the checkpoint).

    FRONTIER PRUNING: measured and rejected (r9, VERDICT r08 item 5).
    The sound settle unit is a whole star (root plus ALL children clean —
    "both endpoints clean" per edge is NOT sound: a clean root can share
    a component with a smaller vertex through one bad child, which would
    re-label its settled children later). Implemented that way and A/B'd
    interleaved-warm on the 82k-edge geo graph: pruned 9.4 s vs plain
    6.5 s median — WORSE, because this graph converges in TWO
    materialization rounds, per-round cost is Spark job scheduling (not
    data volume), and pruning adds jobs (bad-vertex materialization +
    settled/frontier splits) while only round 1's input shrinks (~32%).
    Also measured and rejected on the same graph: 3/4 star-pairs per
    checkpoint (13.5 s / 50.7 s — unmaterialized window-chain lineage,
    the rule-17 blowup regime), shuffle-partition cuts 32→4/8/16 (flat;
    AQE already coalesces), and long-hashed ids (−0.4 s, eaten by the
    rank-encode/decode joins an order-preserving mapping needs). Pruning
    would pay on graphs with MANY rounds (per-round work tracking a
    shrinking frontier at 100 TB); revisit only with a high-diameter
    workload that actually runs >3 rounds.

    The edge-list and per-round ``stars`` checkpoints are registered
    under ``key`` (``scoped_register``): the next call with the same key
    frees them. Two calls whose results one query reads together need
    distinct keys, or the second frees the first's blocks.
    """
    sym = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .union(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = sym  # invariant: symmetric, no self-loops
    checkpoints = [sym]

    # Star steps as ONE window pass each (r7): the groupBy(u).min + join-
    # back-on-u shape costs two exchanges and a join per step; a window
    # PARTITIONED by u delivers the per-neighborhood min to every row in
    # a single exchange with no join operator. The loop's wall-clock is
    # per-round fixed overhead × rounds, so halving exchanges halves it.
    from pyspark.sql import Window

    def _large_star(e: DataFrame) -> DataFrame:
        mn = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        return (
            e.withColumn("m", mn)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("child"), F.col("m").alias("parent"))
            .filter(F.col("child") != F.col("parent"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        sm = e.filter(F.col("v") < F.col("u"))
        # ordered window: first(v) == min(v) under the sort, and rn==1
        # marks exactly one row per u for the self-attachment — no
        # distinct, no second exchange
        w_ord = Window.partitionBy("u").orderBy("v")
        sm2 = sm.select(
            "u",
            "v",
            F.row_number().over(w_ord).alias("rn"),
            F.first("v").over(w_ord).alias("m"),
        )
        attach_nb = sm2.select(F.col("v").alias("child"), F.col("m").alias("parent"))
        attach_self = sm2.filter(F.col("rn") == 1).select(
            F.col("u").alias("child"), F.col("m").alias("parent")
        )
        return attach_nb.union(attach_self).filter(F.col("child") != F.col("parent"))

    def _resym(directed: DataFrame) -> DataFrame:
        # each star step consumes the UNDIRECTED view of the previous output
        return directed.select(
            F.col("child").alias("u"), F.col("parent").alias("v")
        ).union(directed.select(F.col("parent").alias("u"), F.col("child").alias("v")))

    for _ in range(max_iter):
        # TWO large/small star pairs per materialization round (r7 A/B on
        # the 82k-edge geo graph: 4 → 2 checkpoint+probe cycles, 9.2 →
        # 6.2 s): the checkpoint and probe are the round's fixed cost,
        # and star steps are IDEMPOTENT on a converged star set, so
        # over-stepping past the fixpoint changes nothing — the probe
        # after the super-round still certifies exactly the same
        # invariants. Lineage per checkpoint stays bounded at two
        # logical rounds (~6 exchanges), far below the re-optimization
        # blowup regime rule 17 guards against.
        stars = _small_star(_resym(_large_star(edges)))  # directed child → parent
        stars = _small_star(_resym(_large_star(_resym(stars))))
        stars = stars.distinct().localCheckpoint(eager=True)
        checkpoints.append(stars)
        # both convergence probes in ONE keyed aggregate job (r7: was a
        # semi-join probe + a count probe = two jobs per round; the loop's
        # cost is dominated by per-job fixed overhead on these small edge
        # lists). stars is distinct, so per x:
        #   nc  = #rows where x is a child  == distinct parents of x
        #   nt-nc = #rows where x is a parent
        # NOT FUNCTIONAL ⇔ nc > 1; NOT FLAT ⇔ nc > 0 AND nt-nc > 0.
        violations = (
            stars.select(F.col("child").alias("x"), F.lit(1).alias("as_child"))
            .union(stars.select(F.col("parent").alias("x"), F.lit(0).alias("as_child")))
            .groupBy("x")
            .agg(F.sum("as_child").alias("nc"), F.count(F.lit(1)).alias("nt"))
            .filter(
                (F.col("nc") > 1)
                | ((F.col("nc") > 0) & ((F.col("nt") - F.col("nc")) > 0))
            )
            .limit(1)
            .count()
        )
        if violations == 0:
            comp = stars.select(
                F.col("child").alias("doc_id"), F.col("parent").alias("component")
            )
            roots = (
                stars.select(F.col("parent").alias("doc_id"))
                .distinct()
                .withColumn("component", F.col("doc_id"))
            )
            return scoped_register(key, comp.union(roots), tuple(checkpoints))
        edges = _resym(stars).distinct()
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds "
        "(theoretical bound is O(log n) — raise max_iter for truly enormous "
        "graphs; returning would silently split clusters)"
    )


@query("x2_dup_clusters_star", _dup_clusters_oracle())
def x2_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 end-to-end dedup on the star-contraction components
    (``connected_components_star``): identical output contract to
    ``x2_dup_clusters`` — same oracle — via the O(log n)-round algorithm,
    so both components engines carry independent hard correctness
    evidence on real pair data."""
    from etl_active911_spark.operators.dedup import shared_verified_pairs

    pairs = shared_verified_pairs(spark, sf_dir)
    comp = connected_components_star(pairs, key="x2_dup_clusters_star")
    keepers = comp.groupBy("component").agg(F.min("doc_id").alias("keeper_id"))
    return (
        comp.join(keepers, "component")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# X-2j: PageRank over the near-dup graph (bounded power iteration)
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """DuckDB oracle: the shared MinHash CTE chain feeding 3 chained
    power-iteration CTEs — same damping formula, same operation order
    (`0.15 / n + 0.85 * SUM(r / d)`), rounded 6dp only at the end."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    it = """
    r{next} AS (
        SELECT e.dst AS doc_id,
               0.15 / (SELECT n FROM nv) + 0.85 * SUM(r{prev}.r / deg.d) AS r
        FROM edges e
        JOIN r{prev} ON r{prev}.doc_id = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    )"""
    iters = ",".join(it.format(prev=i, next=i + 1) for i in range(PR_ITERS))
    return f"""
    WITH {MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nv AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS doc_id, 1.0 / (SELECT n FROM nv) AS r FROM deg),
    {iters}
    SELECT f.doc_id,
           deg.d AS degree,
           ROUND(f.r, 6) AS pagerank
    FROM r{PR_ITERS} f JOIN deg ON deg.src = f.doc_id
    """


@query("x2_graph_pagerank", _pagerank_oracle())
def x2_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2j: PageRank over the verified near-dup pair graph — ranks the
    'canonical-est' document inside heavily-duplicated neighborhoods (a
    centrality-based keeper choice, vs x2_dup_clusters' min-id choice).

    The iterative-algorithm template at scale: each of the 3 power
    iterations is ONE edge join + ONE keyed aggregate (no driver-side
    graph state; the only driver scalar is the vertex count). The edge
    list is localCheckpoint-ed once and reused by every iteration
    (CLAUDE.md rule 17); symmetric near-dup edges mean no dangling-node
    mass correction is needed (in-degree ≡ out-degree ≥ 1). Damping
    formula replicated operation-for-operation in the oracle
    (`0.15 / n + 0.85 * Σ r/d`), rounded 6dp after the final iteration
    only (rule 4/11).
    """
    from etl_active911_spark.operators.dedup import shared_verified_pairs

    pairs = shared_verified_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n = deg.count()  # vertex count: the one (bounded) driver scalar
    ranks = deg.select(F.col("src").alias("doc_id"), (F.lit(1.0) / F.lit(n)).alias("r"))
    for _ in range(PR_ITERS):
        ranks = (
            edges.join(deg, "src")
            .join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(
                (
                    F.lit(0.15) / F.lit(n)
                    + F.lit(PR_DAMP) * F.sum(F.col("r") / F.col("d"))
                ).alias("r")
            )
        )
    return (
        ranks.join(deg.withColumnRenamed("src", "doc_id"), "doc_id")
        .select("doc_id", F.col("d").alias("degree"), F.round("r", 6).alias("pagerank"))
    )


def _triangles_oracle() -> str:
    """Shared MinHash CTE chain → ordered three-way self-join (a<b<c) —
    the exact triangle count; per-node degree from the symmetric edges."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""
    WITH {MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM prs e1
        JOIN prs e2 ON e2.doc_a = e1.doc_b
        JOIN prs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    nodes AS (
        SELECT doc_a AS doc_id FROM prs UNION SELECT doc_b FROM prs
    ),
    deg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT doc_a AS doc_id FROM prs UNION ALL SELECT doc_b FROM prs
        ) GROUP BY doc_id
    ),
    pernode AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY doc_id
    )
    SELECT n.doc_id, d.degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN ROUND(2.0 * COALESCE(p.n_triangles, 0)
                           / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering_coef
    FROM nodes n
    JOIN deg d USING (doc_id)
    LEFT JOIN pernode p USING (doc_id)
    """


@query("x2_graph_triangles", _triangles_oracle())
def x2_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2o (r5): exact TRIANGLE COUNT + local clustering coefficient per
    node of the verified near-dup graph — the density diagnostic that
    separates true duplicate CLIQUES (coefficient ≈ 1: safe to keep one
    representative) from weakly-chained components (coefficient ≈ 0:
    transitive closure over-merges, review before dropping). Classic
    ordered-wedge algorithm: with edges kept as (small < large) pairs,
    a triangle a<b<c is counted exactly once by joining wedge
    (a-b, b-c) against closing edge (a-c) — two equi-joins on the pair
    list, work proportional to Σ wedge counts, never all pairs. The
    pair list is localCheckpoint-ed once and reused by all three join
    legs (shared-subtree rule does not apply: three consumers in ONE
    action still re-evaluate the upstream MinHash pipeline per leg
    without materialization)."""
    from etl_active911_spark.operators.dedup import shared_verified_pairs

    prs = shared_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e1 = prs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = prs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = prs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        prs.select(F.col("doc_a").alias("doc_id"))
        .union(prs.select("doc_b"))
        .distinct()
    )
    deg = (
        prs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(prs.select("doc_b"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    pernode = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        nodes.join(deg, "doc_id")
        .join(pernode, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coef"),
        )
    )


def component_ctes() -> str:
    """Near-dup connected components as a reusable RECURSIVE oracle CTE
    chain ending in ``assigned`` (doc_id, component — singletons key by
    themselves) — shared by the size histogram and the dup-weighted
    accounting so the two can never desynchronize. Callers must open
    with ``WITH RECURSIVE``."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""{MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS doc_id, dst FROM walk
        UNION
        SELECT src, src FROM edges
    ),
    comp AS (SELECT doc_id, MIN(dst) AS component FROM reach GROUP BY doc_id),
    assigned AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )"""


def _cluster_size_hist_oracle() -> str:
    return f"""
    WITH RECURSIVE {component_ctes()},
    sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS size
        FROM assigned GROUP BY component
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY size
    """


#: Newman (2005) discrete power-law tail MLE over cluster sizes:
#: alpha = 1 + n / SUM ln(size / (x_min - 1/2)) with x_min = 2 — the
#: half-shift makes the denominator strictly positive (ln(2/1.5) > 0),
#: so no zero-division guard is needed.
TAIL_XMIN = 2

#: shared-text ln term (rule 24: CASTs keep both engines in DOUBLE)
_TAIL_LN = "ln(CAST(size AS DOUBLE) / CAST(1.5 AS DOUBLE))"

_TAIL_INDEX_ORACLE = f"""
    WITH RECURSIVE {{component_ctes}},
    sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS size
        FROM assigned GROUP BY component
    ),
    szg AS (
        SELECT size, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM sizes WHERE size >= {TAIL_XMIN} GROUP BY size
    ),
    acc AS (
        -- ORDERED accumulation (ascending size, cumulative window): both
        -- engines add the ~10 double terms in the SAME sequence, so the
        -- float sum is bit-identical — rule 26a applied to an irrational
        -- sum that cannot be integerized
        SELECT size, cnt,
               SUM(cnt * {{ln_term}}) OVER (ORDER BY size
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER () AS n_tail,
               MAX(size) OVER () AS max_size,
               COUNT(*) OVER () AS n_sizes
        FROM szg
    )
    SELECT CAST(n_tail AS BIGINT) AS n_tail_clusters,
           CAST(max_size AS BIGINT) AS max_size,
           CAST(n_sizes AS BIGINT) AS n_distinct_sizes,
           ROUND(CAST(1 AS DOUBLE) + CAST(n_tail AS DOUBLE) / cum, 6) AS alpha
    FROM acc
    QUALIFY ROW_NUMBER() OVER (ORDER BY size DESC) = 1
    """


@query(
    "x2_cluster_tail_index",
    _TAIL_INDEX_ORACLE.format(component_ctes=component_ctes(), ln_term=_TAIL_LN),
)
def x2_cluster_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r13): DUP-CLUSTER TAIL INDEX — the single number behind the
    size histogram's "fat right tail" alarm (``x2_cluster_size_
    histogram``): fit the discrete power-law exponent of the ≥2-member
    cluster-size distribution with Newman's MLE (Newman, Contemporary
    Physics 2005 §3: α = 1 + n / Σ ln(xᵢ/(x_min−½)) — the half-shift
    discrete correction, which also makes the denominator strictly
    positive at x_min = 2, so the estimator is total). A dedup-healthy
    corpus has α well above 2 (sizes concentrate near 2); a boilerplate
    flood drags α toward 1 LONG before any single bucket trips the LSH
    cap — this is the monitoring dial, the histogram is the diagnosis.

    Determinism: counts per size are exact ints off the memoized labels;
    the one irrational sum (Σ cnt·ln(size/1.5)) cannot be integerized,
    so instead it is made ORDER-DETERMINISTIC — an ascending-size
    cumulative window over the ~10-row size-grouped table, so both
    engines fold the identical IEEE additions in the identical sequence
    (rule 26a's hazard closed by ordering rather than quantizing);
    ln-term text shared verbatim, ROUND after an irrational ratio is
    tie-free (rule 26).

    Scale shape: rides the memoized component labels (rule 25) + the
    same two keyed aggregates as the histogram; the windowed fold runs
    over ≤ distinct-sizes rows. Output: ONE row."""
    from pyspark.sql import Window

    from etl_active911_spark.io import read_table
    from etl_active911_spark.operators.dedup import shared_component_labels

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    comp = shared_component_labels(spark, sf_dir)
    assigned = docs.join(comp, "doc_id", "left").select(
        F.coalesce("component", F.col("doc_id")).alias("component")
    )
    sizes = assigned.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    szg = (
        sizes.filter(F.col("size") >= TAIL_XMIN)
        .groupBy("size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_cum = (
        Window.orderBy("size").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.orderBy("size").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    acc = szg.select(
        "size",
        F.sum(F.col("cnt") * F.expr(_TAIL_LN)).over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_tail"),
        F.max("size").over(w_all).alias("max_size"),
        F.count(F.lit(1)).over(w_all).alias("n_sizes"),
    )
    last = acc.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("size").desc()))
    ).filter(F.col("rk") == 1)
    return last.select(
        F.col("n_tail").cast("bigint").alias("n_tail_clusters"),
        F.col("max_size").cast("bigint").alias("max_size"),
        F.col("n_sizes").cast("bigint").alias("n_distinct_sizes"),
        F.round(
            F.lit(1.0) + F.col("n_tail").cast("double") / F.col("cum"), 6
        ).alias("alpha"),
    )


@query("x2_cluster_size_histogram", _cluster_size_hist_oracle())
def x2_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r9): NEAR-DUP CLUSTER-SIZE HISTOGRAM — the figure every
    dedup writeup leads with (how much of the corpus sits in clusters
    of size 2, 3, …, and how big the worst family is): every document
    assigned to its near-dup component (singletons key by themselves —
    the x8_cluster_split COALESCE, so size-1 mass is part of the
    distribution, not a footnote), sizes rolled up to
    (size → n_clusters, n_docs). Downstream: the boilerplate-flood
    alarm is a fat right tail here, LONG before the pair list itself
    becomes the problem.

    Scale shape: components come straight from the memoized star-engine
    labels (``shared_component_labels``, rule 25); the rest is two keyed
    aggregates, the first on component (near-dup clusters ≪ corpus),
    the second on the handful of distinct sizes."""
    from etl_active911_spark.operators.dedup import shared_component_labels
    from etl_active911_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    comp = shared_component_labels(spark, sf_dir)
    assigned = docs.join(comp, "doc_id", "left").select(
        F.coalesce("component", F.col("doc_id")).alias("component")
    )
    sizes = assigned.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("size").cast("bigint").alias("n_docs"),
    )


TEMPLATE_PREFIX_MAX = 80  # chars of template surfaced per cluster


def _cluster_template_oracle() -> str:
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    prs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    cedges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM cedges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN cedges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS doc_id, dst FROM walk
        UNION
        SELECT src, src FROM cedges
    ),
    comp AS (SELECT doc_id, MIN(dst) AS component FROM reach GROUP BY doc_id),
    ab AS (
        SELECT c.component,
               CAST(COUNT(*) AS BIGINT) AS size,
               MIN(d.text) AS a, MAX(d.text) AS b
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        GROUP BY c.component
    ),
    pos AS (
        SELECT component, size, a, b,
               LEAST(LENGTH(a), LENGTH(b)) AS lmin,
               unnest(range(1, LEAST(LENGTH(a), LENGTH(b)) + 1)) AS i
        FROM ab
    ),
    mm AS (
        SELECT component, MIN(i) AS first_diff
        FROM pos WHERE substr(a, CAST(i AS INT), 1) <> substr(b, CAST(i AS INT), 1)
        GROUP BY component
    )
    SELECT ab.component, ab.size,
           CAST(COALESCE(mm.first_diff - 1, ab.lmin2) AS BIGINT) AS lcp_len,
           substr(ab.a, 1,
                  CAST(LEAST(COALESCE(mm.first_diff - 1, ab.lmin2),
                             {TEMPLATE_PREFIX_MAX}) AS INT)) AS template_prefix
    FROM (SELECT component, size, a, LEAST(LENGTH(a), LENGTH(b)) AS lmin2 FROM ab) ab
    LEFT JOIN mm ON mm.component = ab.component
    """


@query("x2_cluster_template", _cluster_template_oracle())
def x2_cluster_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r9): TEMPLATE MINING from near-dup clusters — per
    multi-member cluster, the LONGEST COMMON PREFIX of all member texts
    (boilerplate identification: the shared skeleton a scrubber or
    boilerplate classifier wants). Uses the classic order-statistics
    trick: the LCP of a whole set equals LCP(min(text), max(text))
    under the same lexicographic order — so the per-cluster aggregate
    carries TWO strings regardless of cluster size, and the
    character-scan is positions × clusters, never positions × members.
    First-mismatch position via a position explode + MIN (no loops —
    SQL-expressible in both engines); fixture texts are ASCII so
    lexicographic min/max agree byte-for-byte across engines.

    Scale shape: components come straight from the memoized star-engine
    labels (``shared_component_labels``, rule 25); the min/max aggregate
    is cluster-keyed; the position explode is bounded by min member
    length per cluster (clusters ≪ corpus)."""
    from etl_active911_spark.operators.dedup import shared_component_labels

    comp = shared_component_labels(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ab = (
        docs.join(comp, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("size"),
            F.min("text").alias("a"),
            F.max("text").alias("b"),
        )
        .withColumn("lmin", F.least(F.length("a"), F.length("b")))
    )
    pos = ab.select(
        "component",
        "a",
        "b",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("lmin"), F.lit(1)))).alias("i"),
    )
    mm = (
        pos.filter(
            F.expr("substr(a, CAST(i AS INT), 1)")
            != F.expr("substr(b, CAST(i AS INT), 1)")
        )
        .groupBy("component")
        .agg(F.min("i").alias("first_diff"))
    )
    return (
        ab.join(mm, "component", "left")
        .select(
            "component",
            "size",
            F.coalesce(F.col("first_diff") - 1, F.col("lmin"))
            .cast("bigint")
            .alias("lcp_len"),
            F.expr(
                f"substr(a, 1, CAST(LEAST(COALESCE(first_diff - 1, lmin), {TEMPLATE_PREFIX_MAX}) AS INT))"
            ).alias("template_prefix"),
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r11): transitive over-merge audit (weakest link / edge density)
# ---------------------------------------------------------------------------


def _overmerge_oracle() -> str:
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    prs AS (
        SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
        FROM verified WHERE jac >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS doc_id, dst FROM walk
        UNION
        SELECT src, src FROM edges
    ),
    comp AS (
        SELECT doc_id, MIN(dst) AS component FROM reach GROUP BY doc_id
    ),
    sizes AS (
        SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
    ),
    ce AS (
        SELECT c.component, p.jaccard
        FROM prs p JOIN comp c ON c.doc_id = p.doc_a
    ),
    agg AS (
        SELECT component, COUNT(*) AS n_edges,
               MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
        FROM ce GROUP BY component
    )
    SELECT s.component,
           CAST(s.sz AS BIGINT) AS size,
           CAST(a.n_edges AS BIGINT) AS n_edges,
           a.min_jaccard, a.max_jaccard,
           CAST((2 * (2 * a.n_edges * 1000000) + s.sz * (s.sz - 1))
                // (2 * s.sz * (s.sz - 1)) AS BIGINT) / 1000000.0
               AS edge_density
    FROM sizes s JOIN agg a ON a.component = s.component
    WHERE s.sz >= 3
    """


@query("x2_overmerge_audit", _overmerge_oracle())
def x2_overmerge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r11): TRANSITIVE OVER-MERGE AUDIT — connected-component
    dedup's one structural failure mode: A≈B and B≈C chain A and C into
    one cluster even when A and C share almost nothing, so the keeper
    silently "represents" documents it doesn't resemble. Per cluster of
    size ≥ 3: member count, VERIFIED edge count, the weakest and
    strongest edge Jaccard, and the edge density 2E/(s(s-1)) — a cluster
    with density ≪ 1 and a low min_jaccard is a chain, not a clique, and
    is the cluster a release pipeline re-splits (or spot-checks) before
    trusting one-keeper-per-component. Complements
    ``x2_cluster_size_histogram`` (how big) with HOW COHESIVE.

    Determinism: edges are the memoized verified pairs (round-6
    Jaccard); density is the rule-26b half-up micro division (numerator
    ≤ 4·10⁶·C(s,2) — int64-safe far past fixture scale).

    Scale shape: rides the rule-25 pair-graph memo and the memoized
    O(log n) star-contraction component labels
    (``shared_component_labels``) the dedup family shares; the audit
    itself is two keyed aggregates and one tiny join on component ids —
    nothing corpus-sized moves."""
    from etl_active911_spark.operators.dedup import (
        shared_component_labels,
        shared_verified_pairs,
    )

    return overmerge_audit_rows(
        shared_verified_pairs(spark, sf_dir),
        comp=shared_component_labels(spark, sf_dir),
    )


def overmerge_audit_rows(pairs: DataFrame, comp: DataFrame | None = None) -> DataFrame:
    """Core of ``x2_overmerge_audit`` over an arbitrary verified-pair
    frame (doc_a, doc_b, jaccard) — split out so the chain-vs-clique
    polarity is pinned on crafted graphs in pytest. ``comp`` lets the
    registered query pass the memoized labels; the default computes them
    with the star engine — this audit TARGETS chain-shaped clusters, the
    worst case for min-label propagation's O(diameter) rounds, so the
    O(log n)-for-any-graph engine is the only safe default (ADVICE r11
    item 2)."""
    if comp is None:
        comp = connected_components_star(pairs, key="overmerge_audit")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    ce = pairs.join(
        comp.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).select("component", "jaccard")
    agg = ce.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.min("jaccard").alias("min_jaccard"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        sizes.filter(F.col("sz") >= 3)
        .join(agg, "component")
        .select(
            "component",
            F.col("sz").cast("bigint").alias("size"),
            "n_edges",
            "min_jaccard",
            "max_jaccard",
            (
                F.expr(
                    "CAST((2 * (2 * n_edges * 1000000) + sz * (sz - 1))"
                    " div (2 * sz * (sz - 1)) AS BIGINT)"
                ).cast("double")
                / 1000000.0
            ).alias("edge_density"),
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r12): cluster drift between corpus snapshots (incremental dedup ops)
# ---------------------------------------------------------------------------

#: delta slice: the same ``doc_id % 10 = 0`` convention as
#: ``x2_incremental_neardup`` — the base snapshot is everything else.
DRIFT_DELTA_MOD = 10


def _cluster_drift_oracle() -> str:
    """Two recursive component closures over the SAME materialized
    verified-pair table (rule 27: prs is referenced by both edge sets —
    without AS MATERIALIZED DuckDB re-inlines the whole MinHash chain per
    reference): the FULL components and the BASE components (pairs whose
    endpoints are both non-delta — pairwise Jaccard is membership-
    independent, so base pairs are exactly the full pairs restricted to
    base docs)."""
    from etl_active911_spark.operators.dedup import MINHASH_CTES

    return f"""
    WITH RECURSIVE {MINHASH_CTES},
    prs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5
    ),
    fedges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        UNION SELECT doc_b, doc_a FROM prs
    ),
    fwalk(src, dst) AS (
        SELECT src, dst FROM fedges
        UNION
        SELECT w.src, e.dst FROM fwalk w JOIN fedges e ON w.dst = e.src
    ),
    freach AS (
        SELECT src AS doc_id, dst FROM fwalk
        UNION SELECT src, src FROM fedges
    ),
    fcomp AS (SELECT doc_id, MIN(dst) AS component FROM freach GROUP BY doc_id),
    bedges AS (
        SELECT doc_a AS src, doc_b AS dst FROM prs
        WHERE doc_a % {DRIFT_DELTA_MOD} <> 0 AND doc_b % {DRIFT_DELTA_MOD} <> 0
        UNION
        SELECT doc_b, doc_a FROM prs
        WHERE doc_a % {DRIFT_DELTA_MOD} <> 0 AND doc_b % {DRIFT_DELTA_MOD} <> 0
    ),
    bwalk(src, dst) AS (
        SELECT src, dst FROM bedges
        UNION
        SELECT w.src, e.dst FROM bwalk w JOIN bedges e ON w.dst = e.src
    ),
    breach AS (
        SELECT src AS doc_id, dst FROM bwalk
        UNION SELECT src, src FROM bedges
    ),
    bcomp AS (SELECT doc_id, MIN(dst) AS base_component FROM breach GROUP BY doc_id),
    members AS (
        SELECT f.component, f.doc_id,
               CASE WHEN f.doc_id % {DRIFT_DELTA_MOD} = 0 THEN 1 ELSE 0 END AS is_delta,
               -- base docs outside any base pair are their own base
               -- component (singletons key by themselves, the assigned
               -- COALESCE idiom)
               CASE WHEN f.doc_id % {DRIFT_DELTA_MOD} = 0 THEN NULL
                    ELSE COALESCE(b.base_component, f.doc_id) END AS base_component
        FROM fcomp f LEFT JOIN bcomp b ON b.doc_id = f.doc_id
    ),
    agg AS (
        SELECT component,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(is_delta) AS BIGINT) AS n_delta_docs,
               CAST(COUNT(DISTINCT base_component) AS BIGINT) AS n_prior_components
        FROM members GROUP BY component
    )
    SELECT CAST(component AS BIGINT) AS component,
           n_docs, n_delta_docs, n_prior_components,
           CASE WHEN n_delta_docs = n_docs THEN 'new'
                WHEN n_prior_components >= 2 THEN 'merged'
                ELSE 'grown' END AS drift_class
    FROM agg
    WHERE n_delta_docs >= 1 AND n_docs >= 2
    """


@query("x2_cluster_drift", _cluster_drift_oracle())
def x2_cluster_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r12): CLUSTER DRIFT between corpus snapshots — the report an
    INCREMENTAL dedup pipeline owes its operator when a delta lands
    (``x2_incremental_neardup`` finds the delta's pairs; this says what
    those pairs DO to the cluster structure): for every full-corpus
    near-dup cluster touched by the delta (``doc_id % 10 = 0``), the
    member count, delta-member count, the number of PRIOR (base-
    snapshot) clusters its base members came from, and the verdict:

    * ``new`` — every member is a delta doc (a dup family born today);
    * ``grown`` — one prior cluster gained members (cheap: the keeper
      is unchanged or monotonically re-keyed);
    * ``merged`` — ≥2 prior clusters were BRIDGED by delta docs — the
      case incremental keeper-assignment must special-case, because
      previously-independent keepers now collide.

    Base components need NO second pipeline run: pairwise Jaccard is
    corpus-membership-independent, so the base pair graph is exactly the
    memoized full pair graph restricted to base-only endpoints; base
    singletons key by themselves (the x8_cluster_split COALESCE idiom).

    Scale shape: rides the rule-25 pair-graph memo + the memoized full
    labels; the ONLY extra work is one O(log n) star contraction over
    the base-filtered pair list (pairs ≪ corpus) and two cluster-keyed
    aggregates. Oracle: two recursive closures over one AS MATERIALIZED
    pair CTE (rule 27)."""
    from etl_active911_spark.operators.dedup import (
        shared_component_labels,
        shared_verified_pairs,
    )

    return cluster_drift_rows(
        shared_verified_pairs(spark, sf_dir),
        fcomp=shared_component_labels(spark, sf_dir),
    )


def cluster_drift_rows(
    pairs: DataFrame,
    fcomp: DataFrame | None = None,
    delta_mod: int = DRIFT_DELTA_MOD,
) -> DataFrame:
    """Core of ``x2_cluster_drift`` over an arbitrary verified-pair
    frame — split out so the MERGED class (two prior clusters bridged by
    a delta doc — unreachable on the fixture's pair-sized clusters) is
    pinned on crafted graphs in pytest. ``fcomp`` lets the registered
    query pass the memoized full labels."""
    if fcomp is None:
        fcomp = connected_components_star(pairs, key="cluster_drift.full")
    is_delta_expr = F.col("doc_id") % delta_mod == 0
    base_pairs = pairs.filter(
        (F.col("doc_a") % delta_mod != 0) & (F.col("doc_b") % delta_mod != 0)
    )
    bcomp = connected_components_star(base_pairs, key="cluster_drift.base").select(
        "doc_id", F.col("component").alias("base_component")
    )
    members = fcomp.join(bcomp, "doc_id", "left").select(
        "component",
        is_delta_expr.cast("int").alias("is_delta"),
        F.when(is_delta_expr, F.lit(None).cast("long")).otherwise(
            F.coalesce("base_component", F.col("doc_id"))
        ).alias("base_component"),
    )
    agg = members.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_delta").cast("bigint").alias("n_delta_docs"),
        F.count_distinct("base_component").cast("bigint").alias("n_prior_components"),
    )
    return (
        agg.filter((F.col("n_delta_docs") >= 1) & (F.col("n_docs") >= 2))
        .select(
            F.col("component").cast("bigint").alias("component"),
            "n_docs",
            "n_delta_docs",
            "n_prior_components",
            F.when(F.col("n_delta_docs") == F.col("n_docs"), "new")
            .when(F.col("n_prior_components") >= 2, "merged")
            .otherwise("grown")
            .alias("drift_class"),
        )
    )


# ---------------------------------------------------------------------------
# X-2 (r12): license-aware dedup — rights propagation across near-dup
# clusters (the governance decision collapsing copies forces)
# ---------------------------------------------------------------------------

#: license ladder, least → most restrictive (rank = index)
LICENSE_LADDER = ("cc0", "cc-by", "cc-by-nc", "proprietary")

_LIC_CASE = (
    "CASE CAST({x} AS INT) "
    + " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(LICENSE_LADDER))
    + " END"
)


#: shared CTE text — ≥2-member cluster members with injected license
#: ranks, aggregated per component (``pc``). Nested VERBATIM by the
#: license oracle and x9_release_scorecard so the two can never
#: desynchronize (the component_ctes discipline). Callers open WITH
#: RECURSIVE and must have ``assigned`` in scope (component_ctes).
_LICENSE_PC_CTES = """
    mem AS (
        SELECT component, doc_id, CAST(doc_id % 4 AS BIGINT) AS rank
        FROM assigned
        QUALIFY COUNT(*) OVER (PARTITION BY component) >= 2
    ),
    pc AS (
        SELECT CAST(component AS BIGINT) AS component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(doc_id) AS BIGINT) AS keeper,
               CAST(MAX(rank) AS BIGINT) AS effective_rank,
               CAST(COUNT(DISTINCT rank) AS BIGINT) AS n_distinct_licenses
        FROM mem GROUP BY component
    )"""


def _license_prop_oracle() -> str:
    return f"""
    WITH RECURSIVE {component_ctes()},
    {_LICENSE_PC_CTES}
    SELECT component, n_members, keeper,
           {_LIC_CASE.format(x="keeper % 4")} AS keeper_license,
           {_LIC_CASE.format(x="effective_rank")} AS effective_license,
           n_distinct_licenses,
           (effective_rank > keeper % 4) AS keeper_understates
    FROM pc
    """


@query("x2_license_propagation", _license_prop_oracle())
def x2_license_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r12): LICENSE PROPAGATION across near-dup clusters — the
    governance rule dedup forces: when a cluster collapses to one
    keeper, the kept text is near-identical to EVERY member, so the
    release must carry the cluster's most restrictive license, not the
    keeper's own (conservative derivative-work reading — the standard
    posture for mixed-rights training corpora). Per ≥2-member cluster:
    the keeper (MIN doc_id, the family's canonical-copy rule), the
    keeper's own license, the propagated effective license (MAX ladder
    rank over members), and ``keeper_understates`` — the audit flag:
    shipping the keeper under its own license tag would understate the
    cluster's rights (the legal hazard this query exists to surface).
    Licenses are INJECTED as ``doc_id % 4`` over the license ladder
    (identically in both engines, the house injection discipline).

    Scale shape: reads ONLY the memoized component labels (rule 25 —
    zero corpus scans: the license rank is a pure function of doc_id,
    and cluster membership is one row per clustered doc ≪ corpus); one
    member-count window + one component-keyed hash aggregate. The
    keeper's license needs no argmax aggregate (rule 30 dodge): rank is
    a function of doc_id, so ``keeper % 4`` recovers it from the MIN."""
    from pyspark.sql import Column, Window

    from etl_active911_spark.operators.dedup import shared_component_labels

    comp = shared_component_labels(spark, sf_dir)
    w = Window.partitionBy("component")
    mem = (
        comp.select(
            "component",
            "doc_id",
            (F.col("doc_id") % 4).cast("bigint").alias("rank"),
        )
        .withColumn("sz", F.count(F.lit(1)).over(w))
        .filter(F.col("sz") >= 2)
    )
    agg = mem.groupBy(F.col("component").cast("bigint").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("keeper"),
        F.max("rank").cast("bigint").alias("effective_rank"),
        F.countDistinct("rank").cast("bigint").alias("n_distinct_licenses"),
    )

    def lic(col: Column) -> Column:
        out = F.lit(None).cast("string")
        for i, name in enumerate(LICENSE_LADDER):
            out = F.when(col == i, F.lit(name)).otherwise(out)
        return out

    return agg.select(
        "component",
        "n_members",
        "keeper",
        lic(F.col("keeper") % 4).alias("keeper_license"),
        lic(F.col("effective_rank")).alias("effective_license"),
        "n_distinct_licenses",
        (F.col("effective_rank") > F.col("keeper") % 4).alias("keeper_understates"),
    )


# ---------------------------------------------------------------------------
# X-2 (r12): deletion propagation — right-to-erasure amplification across
# near-dup clusters (the governance twin of license propagation)
# ---------------------------------------------------------------------------

#: injected erasure requests: every 13th document files one
_DELETE_MOD = 13


def _deletion_prop_oracle() -> str:
    return f"""
    WITH RECURSIVE {component_ctes()},
    mem AS (
        SELECT component, doc_id,
               CASE WHEN doc_id % {_DELETE_MOD} = 0 THEN 1 ELSE 0 END AS req
        FROM assigned
        QUALIFY COUNT(*) OVER (PARTITION BY component) >= 2
    ),
    cl AS (
        SELECT CAST(component AS BIGINT) AS component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(req) AS BIGINT) AS n_direct_requests
        FROM mem GROUP BY component
    ),
    tainted AS MATERIALIZED (
        -- referenced twice (per-cluster rows + total row): MATERIALIZED so
        -- DuckDB cannot re-inline the recursive closure per reference
        -- (rule-27 practice; ADVICE r12)
        SELECT component, n_members, n_direct_requests,
               CAST(n_members - n_direct_requests AS BIGINT) AS n_collateral
        FROM cl WHERE n_direct_requests >= 1
    )
    SELECT component, n_members, n_direct_requests, n_collateral
    FROM tainted
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS component,
           CAST(COALESCE(SUM(n_members), 0) AS BIGINT) AS n_members,
           CAST(COALESCE(SUM(n_direct_requests), 0) AS BIGINT) AS n_direct_requests,
           CAST(COALESCE(SUM(n_collateral), 0) AS BIGINT) AS n_collateral
    FROM tainted
    """


@query("x2_deletion_propagation", _deletion_prop_oracle())
def x2_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2 (r12): DELETION PROPAGATION — right-to-erasure across near-dup
    clusters, the governance twin of ``x2_license_propagation``: when a
    document owner requests erasure, every near-duplicate copy carries
    (essentially) the same content, so an honest purge removes the WHOLE
    cluster — and the pipeline owes its operator the amplification
    inventory before executing: per tainted ≥2-member cluster, members,
    direct requests, and ``n_collateral`` (copies purged only
    transitively — the amplification the erasure audit must disclose).
    A corpus-total row (component NULL) ships in the same schema so the
    headline factor (total purged / total requested) reads off one
    result. Requests are injected as ``doc_id % {mod} = 0`` (the house
    injection discipline). Singleton documents amplify by exactly 1 and
    are out of scope here (their purge is the trivial delete-by-key
    path); clusters are where erasure cost is non-obvious.

    Scale shape: reads ONLY the memoized component labels (zero corpus
    scans — the request flag is a pure function of doc_id); one member
    window + one component-keyed aggregate + a tainted-only total
    (tainted clusters ≪ corpus)."""
    from pyspark.sql import Window

    from etl_active911_spark.operators.dedup import shared_component_labels

    comp = shared_component_labels(spark, sf_dir)
    w = Window.partitionBy("component")
    mem = (
        comp.select(
            "component",
            "doc_id",
            F.when(F.col("doc_id") % _DELETE_MOD == 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("req"),
        )
        .withColumn("sz", F.count(F.lit(1)).over(w))
        .filter(F.col("sz") >= 2)
    )
    cl = mem.groupBy(F.col("component").cast("bigint").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("req").cast("bigint").alias("n_direct_requests"),
    )
    tainted = cl.filter(F.col("n_direct_requests") >= 1).select(
        "component",
        "n_members",
        "n_direct_requests",
        (F.col("n_members") - F.col("n_direct_requests"))
        .cast("bigint")
        .alias("n_collateral"),
    )
    from etl_active911_spark.plans.cache import scoped_persist

    tainted = scoped_persist("x2_deletion_propagation.tainted", tainted)
    total = tainted.agg(
        F.lit(None).cast("bigint").alias("component"),
        F.coalesce(F.sum("n_members"), F.lit(0)).cast("bigint").alias("n_members"),
        F.coalesce(F.sum("n_direct_requests"), F.lit(0))
        .cast("bigint")
        .alias("n_direct_requests"),
        F.coalesce(F.sum("n_collateral"), F.lit(0)).cast("bigint").alias("n_collateral"),
    )
    return tainted.unionByName(total)


# ---------------------------------------------------------------------------
# X-9 (r12): release scorecard — the ship/no-ship gate composing the
# corpus audits (capstone of the governance family)
# ---------------------------------------------------------------------------

#: (gate name, threshold in micro-units): a release ships only if every
#: metric is <= its threshold
SCORECARD_GATES = (
    ("exact_dup_rate", 250_000),
    ("neardup_mass", 250_000),
    ("pii_quarantine_rate", 500_000),
    ("license_conflict_rate", 0),
)


def _scorecard_oracle() -> str:
    from etl_active911_spark.functions.textpat import (
        PII_EMAIL,
        PII_PHONE,
        PII_QUARANTINE_MIN,
        PII_SSN,
        pii_aug_cte,
        pii_n_matches_sql,
    )

    th = dict(SCORECARD_GATES)
    return f"""
    WITH RECURSIVE {component_ctes()},
    d AS MATERIALIZED (
        -- d and cm are each referenced by three UNION ALL branches inside
        -- gates: MATERIALIZED so the full-documents scan / recursive
        -- closure cannot be re-inlined per reference (ADVICE r12)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS dh
        FROM documents
    ),
    {_LICENSE_PC_CTES},
    cm AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(n_members), 0) AS BIGINT) AS clustered,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COALESCE(SUM(CASE WHEN effective_rank > keeper % 4
                                      THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS conflicts
        FROM pc
    ),
    {pii_aug_cte()},
    pii AS (
        SELECT CAST(SUM(CASE WHEN
                   {pii_n_matches_sql("aug", PII_EMAIL)}
                 + {pii_n_matches_sql("aug", PII_PHONE)}
                 + {pii_n_matches_sql("aug", PII_SSN)}
                 >= {PII_QUARANTINE_MIN} THEN 1 ELSE 0 END) AS BIGINT) AS q
        FROM aug
    ),
    gates AS MATERIALIZED (
        SELECT 'exact_dup_rate' AS gate,
               CAST((2 * (d.n - d.dh) * 1000000 + d.n) // (2 * d.n) AS BIGINT) AS metric_micro,
               CAST({th["exact_dup_rate"]} AS BIGINT) AS threshold_micro
        FROM d
        UNION ALL
        SELECT 'neardup_mass',
               CAST((2 * cm.clustered * 1000000 + d.n) // (2 * d.n) AS BIGINT),
               CAST({th["neardup_mass"]} AS BIGINT)
        FROM cm, d
        UNION ALL
        SELECT 'pii_quarantine_rate',
               CAST((2 * pii.q * 1000000 + d.n) // (2 * d.n) AS BIGINT),
               CAST({th["pii_quarantine_rate"]} AS BIGINT)
        FROM pii, d
        UNION ALL
        SELECT 'license_conflict_rate',
               CAST(CASE WHEN cm.n_clusters = 0 THEN 0
                    ELSE (2 * cm.conflicts * 1000000 + cm.n_clusters)
                         // (2 * cm.n_clusters) END AS BIGINT),
               CAST({th["license_conflict_rate"]} AS BIGINT)
        FROM cm
    )
    SELECT gate, metric_micro, threshold_micro,
           (metric_micro <= threshold_micro) AS passed
    FROM gates
    UNION ALL
    SELECT 'ALL', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           BOOL_AND(metric_micro <= threshold_micro)
    FROM gates
    """


@query("x9_release_scorecard", _scorecard_oracle())
def x9_release_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9 (r12): the RELEASE SCORECARD — one ship/no-ship surface
    composing the corpus audits a data release must clear: exact-dup
    rate (content-hash), near-dup cluster mass (fraction of docs inside
    ≥2-member clusters), PII quarantine rate (the ``x4_pii_gate``
    verdicts), and the license-conflict rate (``x2_license_propagation``
    understates ÷ clusters — threshold ZERO: any conflict blocks the
    release). Per-gate rows carry the metric, threshold, and verdict in
    exact micro-units; the 'ALL' row is the release decision
    (``BOOL_AND`` over gates — at sf0.01 license conflicts exist, so
    the scorecard honestly reads no-ship with the blocking gate
    visible). Thresholds live in ``SCORECARD_GATES`` (one shared
    constant for both engines).

    Rule-27 note: the oracle's ``gates`` CTE embeds the recursive
    component closure AND the PII regex chain and is referenced twice
    (rows + BOOL_AND) — ``AS MATERIALIZED`` so DuckDB cannot re-inline
    the heavy chain per reference (the x7_knox lesson).

    Scale shape: the cluster gates read the memoized component labels
    (zero extra corpus passes); the hash and PII gates are each one
    scan → one scalar aggregate; the assembly is 1-row crossJoins
    (bounded BNLJs, allowlisted); the 4-row gate table is
    scoped_persist'd so the ALL row reuses it (rule 17)."""
    from etl_active911_spark.io import read_table, spread
    from etl_active911_spark.operators.dedup import shared_component_labels
    from etl_active911_spark.operators.textual import pii_verdict_rows
    from pyspark.sql import Window

    th = dict(SCORECARD_GATES)
    docs = spread(read_table(spark, sf_dir, "documents"))
    # 1-row scalar aggregates with 2-3 consumers each: scoped_persist
    # (rule 17) so the corpus scan / component aggregate run once even
    # under exchange.reuse=false (the SCALE.md invariant-9 hostile conf)
    d = scoped_persist(
        "x9_release_scorecard.d",
        docs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct(F.md5("text")).cast("bigint").alias("dh"),
        ),
    )
    comp = shared_component_labels(spark, sf_dir)
    w = Window.partitionBy("component")
    mem = comp.withColumn("sz", F.count(F.lit(1)).over(w)).filter(F.col("sz") >= 2)
    pc = mem.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").alias("keeper"),
        F.max(F.col("doc_id") % 4).alias("eff"),
    )
    cm = scoped_persist(
        "x9_release_scorecard.cm",
        pc.agg(
            F.coalesce(F.sum("n_members"), F.lit(0)).cast("bigint").alias("clustered"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.coalesce(
                F.sum(F.when(F.col("eff") > F.col("keeper") % 4, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("conflicts"),
        ),
    )
    pii = pii_verdict_rows(docs.select("doc_id", "source", "text")).agg(
        F.sum("quarantined").cast("bigint").alias("q")
    )

    def rate(num: str, den: str) -> F.Column:
        return F.expr(f"CAST((2 * {num} * 1000000 + {den}) div (2 * {den}) AS BIGINT)")

    g1 = d.select(
        F.lit("exact_dup_rate").alias("gate"),
        rate("(n - dh)", "n").alias("metric_micro"),
        F.lit(th["exact_dup_rate"]).cast("bigint").alias("threshold_micro"),
    )
    g2 = cm.crossJoin(F.broadcast(d)).select(
        F.lit("neardup_mass").alias("gate"),
        rate("clustered", "n").alias("metric_micro"),
        F.lit(th["neardup_mass"]).cast("bigint").alias("threshold_micro"),
    )
    g3 = pii.crossJoin(F.broadcast(d)).select(
        F.lit("pii_quarantine_rate").alias("gate"),
        rate("q", "n").alias("metric_micro"),
        F.lit(th["pii_quarantine_rate"]).cast("bigint").alias("threshold_micro"),
    )
    g4 = cm.select(
        F.lit("license_conflict_rate").alias("gate"),
        F.when(F.col("n_clusters") == 0, F.lit(0).cast("bigint"))
        .otherwise(rate("conflicts", "n_clusters"))
        .alias("metric_micro"),
        F.lit(th["license_conflict_rate"]).cast("bigint").alias("threshold_micro"),
    )
    gates = scoped_persist(
        "x9_release_scorecard.gates",
        g1.unionByName(g2).unionByName(g3).unionByName(g4),
    )
    rows = gates.select(
        "gate",
        "metric_micro",
        "threshold_micro",
        (F.col("metric_micro") <= F.col("threshold_micro")).alias("passed"),
    )
    allrow = gates.agg(
        F.lit("ALL").alias("gate"),
        F.lit(None).cast("bigint").alias("metric_micro"),
        F.lit(None).cast("bigint").alias("threshold_micro"),
        F.bool_and(F.col("metric_micro") <= F.col("threshold_micro")).alias("passed"),
    )
    return rows.unionByName(allrow)
