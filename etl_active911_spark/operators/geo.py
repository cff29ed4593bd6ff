"""Geospatial operators over point features (the engine's output domain is
GeoJSON/CoT points, task.ts:227-231): haversine distance, radius filtering,
and nearest-facility assignment.

Pure-math column expressions (radians/sin/cos/asin exist in both engines),
so everything is oracle-checkable; distances are ranked/filtered on their
ROUNDED value so both engines make identical boundary decisions despite
last-ulp libm differences (plans/canonical.py policy 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_active911_spark.io import spread
from etl_active911_spark.operators.dedup import sql_hash60
from etl_active911_spark.pipeline import active911 as a911
from etl_active911_spark.pipeline.fixtures import SYNTH_ALERTS_SQL, synthetic_alerts
from etl_active911_spark.plans.registry import query

EARTH_RADIUS_KM = 6371.0088

#: Dispatch center the radius query measures from (Denver-ish, matching the
#: fixture coordinate space 39.x/-104.x).
CENTER_LAT, CENTER_LON = 39.5, -104.5


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    h = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(h))


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2 * {EARTH_RADIUS_KM} * asin(sqrt("
        f"  sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)"
        f"  + cos(radians({lat1})) * cos(radians({lat2}))"
        f"  * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)))"
    )


# stations derived from the region table: 5 facilities on a deterministic
# grid inside the fixture coordinate space
_STATIONS_SQL = """
SELECT r_regionkey AS station_id,
       39.0 + CAST(r_regionkey AS DOUBLE) * 0.3 AS s_lat,
       -105.0 + CAST(r_regionkey AS DOUBLE) * 0.25 AS s_lon
FROM region
"""

from etl_active911_spark.pipeline.oracle_sql import _COORDS_CTE  # noqa: E402


def _resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved synthetic alerts, materialized once per (session, sf_dir)
    and shared by the WHOLE geo family (radius, nearest-station, quadkey
    rollup, bucket join, cluster) — each re-ran the full synthetic-
    fixture + coordinate-resolve pipeline (~2 s at sf0.1) before r7.
    fixture_memo contract: localCheckpoint blocks, fingerprint
    invalidation on the backing orders parquet, clear hook for tests."""
    from etl_active911_spark.plans.cache import fixture_memo

    return fixture_memo(
        "geo.resolved",
        spark,
        sf_dir,
        lambda: a911.resolve_coordinates(synthetic_alerts(spark, sf_dir)),
        table="orders",
    )


def _thinned_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-in-RIPLEY_THIN hash-thinned resolved point pattern at the
    RIPLEY_GRID_DEG grain, shared by the point-pattern statistics family
    (``x7_ripley_k`` / ``x7_clark_evans`` / ``x7_knox``) — before r11
    each independently rebuilt and ``spread().localCheckpoint()``'d this
    same projection, three checkpoint passes over the suite's heaviest
    family (VERDICT r10 item 4; rule 25 memo).

    Carries the epoch-seconds column knox needs as a NULLABLE ``es``
    (null when the alert time fails to parse): ripley and clark_evans
    ignore ``es`` entirely and filter nothing on it, knox filters
    ``es IS NOT NULL`` — so sharing the epoch-extended projection is
    result-identical for all three consumers. ``spread`` before the
    checkpoint (rule 2): the memo would otherwise be ONE partition and
    the 9-cell pair passes would run on one core."""
    from etl_active911_spark.plans.cache import fixture_memo

    def build() -> DataFrame:
        from etl_active911_spark.functions.timeparse import parse_alert_time_iso
        from etl_active911_spark.operators.dedup import token_hash60

        r = _resolved(spark, sf_dir)
        iso = parse_alert_time_iso(F.col("sent"))
        epoch = (
            F.datediff(
                F.to_date(F.substring("iso", 1, 10)), F.lit("1970-01-01")
            ).cast("long")
            * 86400
            + F.substring("iso", 12, 2).cast("long") * 3600
            + F.substring("iso", 15, 2).cast("long") * 60
            + F.substring("iso", 18, 2).cast("long")
        )
        pts = (
            r.select("id", "lat_d", "lon_d", iso.alias("iso"))
            .filter(
                F.col("lat_d").isNotNull()
                & F.col("lon_d").isNotNull()
                & (token_hash60(F.col("id").cast("string")) % RIPLEY_THIN == 0)
            )
            .select(
                "id",
                "lat_d",
                "lon_d",
                F.floor(F.col("lat_d") / RIPLEY_GRID_DEG).cast("long").alias("cy"),
                F.floor(F.col("lon_d") / RIPLEY_GRID_DEG).cast("long").alias("cx"),
                epoch.alias("es"),
            )
        )
        return spread(pts)

    return fixture_memo("geo.thinned_pts", spark, sf_dir, build, table="orders")


@query(
    "x7_geo_radius",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE}
    SELECT id, ROUND({_haversine_sql(str(CENTER_LAT), str(CENTER_LON), "lat_d", "lon_d")}, 3) AS dist_km
    FROM resolved
    WHERE ROUND({_haversine_sql(str(CENTER_LAT), str(CENTER_LON), "lat_d", "lon_d")}, 3) <= 60.0
    """,
)
def x7_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo: alerts within 60 km of the dispatch center (haversine),
    filtered on the rounded distance for cross-engine determinism."""
    resolved = _resolved(spark, sf_dir)
    dist = F.round(
        haversine_km(F.lit(CENTER_LAT), F.lit(CENTER_LON), F.col("lat_d"), F.col("lon_d")), 3
    )
    return (
        resolved.withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= 60.0)
        .select("id", "dist_km")
    )


@query(
    "x7_nearest_station",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    stations AS ({_STATIONS_SQL}),
    scored AS (
        SELECT r.id, s.station_id,
               ROUND({_haversine_sql("r.lat_d", "r.lon_d", "s.s_lat", "s.s_lon")}, 3) AS dist_km
        FROM resolved r CROSS JOIN stations s
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist_km, station_id) AS rn
        FROM scored
    )
    SELECT id, station_id, dist_km FROM ranked WHERE rn = 1
    """,
)
def x7_nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo: nearest-facility assignment with ZERO shuffle of the alert
    side: the (tiny) station dim is collapsed to ONE array-of-structs row
    and broadcast-cross-joined onto every alert, so the arg-min is a
    bounded 5-element ``array_sort`` inside the row. Round 1 ranked a
    5×-exploded cross join through a per-alert window — a shuffle of 5n
    rows into n tiny groups (measured 2.0 s of the sf0.1 bench; now ~0.4 s).
    The 100 TB shape: facilities always broadcast; alerts never shuffle.
    Interpreted-lambda cost is constant per row (5 stations — bounded,
    SCALE.md invariant 3 does not apply)."""
    from etl_active911_spark.io import read_table

    resolved = _resolved(spark, sf_dir)
    stations = read_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("station_id"),
        (F.lit(39.0) + F.col("r_regionkey").cast("double") * 0.3).alias("s_lat"),
        (F.lit(-105.0) + F.col("r_regionkey").cast("double") * 0.25).alias("s_lon"),
    )
    sarr = stations.agg(
        F.collect_list(F.struct("station_id", "s_lat", "s_lon")).alias("stations")
    )
    # rank key (dist_km, station_id) matches the oracle's ROW_NUMBER order;
    # NULL coords → all 5 distances NULL → struct compare falls to
    # station_id on both engines (station 0, NULL distance)
    best = F.element_at(
        F.array_sort(
            F.transform(
                F.col("stations"),
                lambda s: F.struct(
                    F.round(
                        haversine_km(
                            F.col("lat_d"), F.col("lon_d"), s["s_lat"], s["s_lon"]
                        ),
                        3,
                    ).alias("dist_km"),
                    s["station_id"].alias("station_id"),
                ),
            )
        ),
        1,
    )
    return (
        resolved.crossJoin(F.broadcast(sarr))
        .withColumn("__best", best)
        .select(
            "id",
            F.col("__best.station_id").alias("station_id"),
            F.col("__best.dist_km").alias("dist_km"),
        )
    )


# grid cell edge in degrees: 0.001° ≈ 111 m of latitude / ≈ 85 m of
# longitude at the fixture's 39–40°N — both ≥ the 20 m pair radius, so a
# qualifying pair can never span more than one cell boundary per axis
# (neighbor expansion is RECALL-EXACT, like SimHash's chunk pigeonhole)
GRID_DEG = 0.001
PAIR_RADIUS_KM = 0.02


@query(
    "x7_geo_bucket_join",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE}
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND({_haversine_sql('a.lat_d', 'a.lon_d', 'b.lat_d', 'b.lon_d')}, 3) AS dist_km
    FROM resolved a JOIN resolved b ON a.id < b.id
    WHERE ROUND({_haversine_sql('a.lat_d', 'a.lon_d', 'b.lat_d', 'b.lon_d')}, 3)
          <= {PAIR_RADIUS_KM}
    """,
)
def x7_geo_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo: co-located alert pairs (≤ 20 m apart — duplicate-incident
    detection) via GRID-BUCKETED self-join: each point keys to its
    0.001° grid cell; the left side expands to the 9-cell neighborhood,
    the right side stays in its own cell, and the equi-join on the cell
    key enumerates ONLY near cells — never the all-pairs cross join the
    oracle runs. Because the cell edge exceeds the pair radius on both
    axes, the expansion is recall-exact, so the banded plan must equal
    the brute-force oracle row-for-row (the same provable-pruning pattern
    as SimHash chunk banding). At 100 TB the shuffle key is the 16-byte
    cell id and each point replicates 9×/1× — independent of density;
    hot cells (urban cores) are the AQE-skew/salting case, documented in
    plans/skew.py. Since r12 the pair graph is the rule-25
    ``_shared_pair_graph`` memo (one build per session for this query,
    the cluster, and the dbscan census)."""
    return _shared_pair_graph(spark, sf_dir)


def _grid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (id, lat_d, lon_d, cy, cx) grid-keyed points.

    localCheckpoint (NOT persist): multiple consumers read pts (both join
    sides of the pair generator; in x7_geo_cluster also the id roster) —
    without materialization the whole synthetic fixture +
    coordinate-resolve subtree evaluates once PER consumer (measured
    5.3 s → 2.6 s at sf0.1). An eager local checkpoint gives the same
    single-computation reuse, but its blocks are freed by the
    ContextCleaner when this DataFrame is garbage-collected — a plain
    persist() pins a CacheManager entry for the life of the session,
    accumulating across the ~100-query parity sweep (ADVICE r02)."""
    resolved = _resolved(spark, sf_dir)
    return resolved.select(
        "id",
        "lat_d",
        "lon_d",
        F.floor(F.col("lat_d") / GRID_DEG).cast("long").alias("cy"),
        F.floor(F.col("lon_d") / GRID_DEG).cast("long").alias("cx"),
    ).localCheckpoint(eager=True)


def _colocated_pairs(pts: DataFrame) -> DataFrame:
    """9-cell-neighborhood equi-join pair enumeration over grid points
    (the body of ``x7_geo_bucket_join``, shared with ``x7_geo_cluster``
    so the cluster query does not rebuild the resolve pipeline)."""
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    left = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat_d").alias("lat_a"),
        F.col("lon_d").alias("lon_a"),
        F.explode(offsets).alias("o"),
        "cy",
        "cx",
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat_d").alias("lat_b"),
        F.col("lon_d").alias("lon_b"),
        F.col("cy").alias("jy"),
        F.col("cx").alias("jx"),
    )
    dist = F.round(
        haversine_km(F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")), 3
    )
    return (
        left.join(right, ["jy", "jx"])
        .filter(F.col("id_a") < F.col("id_b"))
        # provably-super-cap pairs drop before the haversine (see
        # _lat_prune_deg): the dist_km <= cap filter below would reject
        # them anyway, and the 20 m radius vs ~111 m cells means ~94% of
        # window candidates skip the 6-trig distance
        .filter(
            F.abs(F.col("lat_a") - F.col("lat_b"))
            <= F.lit(_lat_prune_deg(PAIR_RADIUS_KM))
        )
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= PAIR_RADIUS_KM)
        .select("id_a", "id_b", "dist_km")
    )


def _shared_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ≤ PAIR_RADIUS_KM co-located pair graph (id_a, id_b, dist_km),
    materialized once per (session, sf_dir) — VERDICT r11 item 4: the
    grid-bucketed 9-cell pair pass is the dominant cost of the cluster
    family and THREE registered queries built it per call
    (``x7_geo_bucket_join``, ``x7_geo_cluster``, ``x7_dbscan_labels`` —
    the latter already checkpointed its private copy). The pair list is
    tiny (near-coincident alerts only), well under the rule-25 bar.

    Pair membership is independent of the null-coordinate filter the
    dbscan entry used to apply first: null lat/lon yields null grid
    keys, and equi-join keys never match on null — so the memoized
    graph is result-identical for every consumer."""
    from etl_active911_spark.plans.cache import fixture_memo

    return fixture_memo(
        "geo.pair_graph",
        spark,
        sf_dir,
        lambda: _colocated_pairs(_grid_points(spark, sf_dir)),
        table="orders",
    )


def _shared_incident_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component) star-contraction labels over the shared pair
    graph — the geo twin of ``dedup.shared_component_labels`` (VERDICT
    r11 item 4: lift the labels, not just the pairs, so the iterative
    star loop runs once per session; ``x7_dbscan_labels`` reads only the
    pair graph, ``x7_geo_cluster`` reads both)."""
    from etl_active911_spark.operators.clustering import connected_components_star
    from etl_active911_spark.plans.cache import fixture_memo

    return fixture_memo(
        "geo.incident_labels",
        spark,
        sf_dir,
        lambda: connected_components_star(
            _shared_pair_graph(spark, sf_dir), a="id_a", b="id_b", key="geo.incident_labels"
        ).withColumnRenamed("doc_id", "id"),
        table="orders",
    )


QUAD_Z = 12  # quadkey zoom: ~10 km tiles at mid-latitudes


def _quadkey_digits_sql(x: str, y: str) -> str:
    """Bing-maps quadkey string from tile indices: digit i (most
    significant first) = bit i of y, doubled, plus bit i of x."""
    return " || ".join(
        f"CAST((({y} >> {i}) & 1) * 2 + (({x} >> {i}) & 1) AS VARCHAR)"
        for i in range(QUAD_Z - 1, -1, -1)
    )


@query(
    "x7_quadkey_rollup",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    tiles AS (
        SELECT id,
               lat_d, lon_d,
               GREATEST(0, LEAST({2**QUAD_Z - 1},
                   CAST(FLOOR((lon_d + 180.0) / 360.0 * {2**QUAD_Z}) AS BIGINT))) AS tx,
               GREATEST(0, LEAST({2**QUAD_Z - 1},
                   CAST(FLOOR((90.0 - lat_d) / 180.0 * {2**QUAD_Z}) AS BIGINT))) AS ty
        FROM resolved WHERE lat_d IS NOT NULL AND lon_d IS NOT NULL
    ),
    keyed AS (
        SELECT id, lat_d, lon_d, {_quadkey_digits_sql("tx", "ty")} AS quadkey
        FROM tiles
    )
    SELECT quadkey,
           CAST(COUNT(*) AS BIGINT) AS n_alerts,
           ROUND(MIN(lat_d), 6) AS min_lat, ROUND(MAX(lat_d), 6) AS max_lat,
           ROUND(MIN(lon_d), 6) AS min_lon, ROUND(MAX(lon_d), 6) AS max_lon
    FROM keyed GROUP BY quadkey
    """,
)
def x7_quadkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r5): QUADKEY tile rollup — the web-map tiling aggregate
    (Bing quadkey, public spec): resolved alert coordinates bin into
    level-{QUAD_Z} quadtree tiles whose keys are bit-interleaved tile
    indices rendered as base-4 digit strings; per-tile counts + exact
    coordinate envelopes feed heatmap/cluster layers directly (each
    key's PREFIX is its ancestor tile, so coarser zooms are a substring
    groupBy away — no re-binning).

    Engine-exactness: binning is LINEAR (no Mercator ln/tan — libm
    differs across engines in the last ulp and a tile boundary would
    flip), so tile index = floor of identical IEEE multiply/divide on
    identical doubles; envelope stats are MIN/MAX (order-independent),
    never AVG. One shuffle keyed by the 12-char quadkey; at 100 TB the
    quadkey doubles as the storage partition prefix (the x3 partitioned-
    index pattern applied to space)."""
    resolved = _resolved(spark, sf_dir)
    n = 2**QUAD_Z
    tx = F.greatest(
        F.lit(0),
        F.least(F.lit(n - 1), F.floor((F.col("lon_d") + 180.0) / 360.0 * n).cast("long")),
    )
    ty = F.greatest(
        F.lit(0),
        F.least(F.lit(n - 1), F.floor((90.0 - F.col("lat_d")) / 180.0 * n).cast("long")),
    )
    tiles = resolved.filter(
        F.col("lat_d").isNotNull() & F.col("lon_d").isNotNull()
    ).select("id", "lat_d", "lon_d", tx.alias("tx"), ty.alias("ty"))
    quadkey = F.concat(
        *[
            (
                (F.shiftright(F.col("ty"), i).bitwiseAND(F.lit(1)) * 2
                 + F.shiftright(F.col("tx"), i).bitwiseAND(F.lit(1)))
            ).cast("string")
            for i in range(QUAD_Z - 1, -1, -1)
        ]
    )
    return (
        tiles.select("lat_d", "lon_d", quadkey.alias("quadkey"))
        .groupBy("quadkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_alerts"),
            F.round(F.min("lat_d"), 6).alias("min_lat"),
            F.round(F.max("lat_d"), 6).alias("max_lat"),
            F.round(F.min("lon_d"), 6).alias("min_lon"),
            F.round(F.max("lon_d"), 6).alias("max_lon"),
        )
    )


def _geo_cluster_oracle() -> str:
    return f"""
    WITH RECURSIVE alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    prs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM resolved a JOIN resolved b ON a.id < b.id
        WHERE ROUND({_haversine_sql('a.lat_d', 'a.lon_d', 'b.lat_d', 'b.lon_d')}, 3)
              <= {PAIR_RADIUS_KM}
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM prs
        UNION
        SELECT id_b, id_a FROM prs
    ),
    walk(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    reach AS (
        SELECT src AS id, dst FROM walk
        UNION
        SELECT src, src FROM edges
    ),
    comp AS (SELECT id, MIN(dst) AS component FROM reach GROUP BY id),
    assigned AS (
        SELECT r.id, COALESCE(c.component, r.id) AS incident_id
        FROM resolved r LEFT JOIN comp c ON r.id = c.id
    ),
    sizes AS (
        SELECT incident_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM assigned GROUP BY incident_id
    )
    SELECT a.id, a.incident_id, s.n_members
    FROM assigned a JOIN sizes s USING (incident_id)
    """


@query("x7_geo_cluster", _geo_cluster_oracle())
def x7_geo_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r6): INCIDENT CLUSTERING — connected components over the
    co-located pair graph (``x7_geo_bucket_join``: grid-bucketed,
    recall-exact ≤ 20 m pairs), the spatial twin of near-dup clustering:
    one physical incident reported through several alerts becomes ONE
    cluster keyed by its lexicographically-smallest alert id; singleton
    alerts key by themselves. Emits every resolved alert with its
    incident id and the incident's member count — the dedup-for-dispatch
    rollup the reference's downstream consumers would want.

    Engine reuse is the point: the SAME O(log n) star-contraction engine
    that clusters near-dup documents (``connected_components_star``,
    SoCC'14; flatness + functionality convergence per ADVICE r05) runs
    unchanged on string alert ids (min = lexicographic), fed by the
    grid-bucket candidate generator instead of MinHash bands. Oracle =
    brute-force pair join + recursive closure.

    r12 (VERDICT r11 item 4): both the pair graph AND the
    star-contraction labels are rule-25 memos (``_shared_pair_graph`` /
    ``_shared_incident_labels``) — the suite's top-slot query no longer
    re-runs the 9-cell pair pass or the iterative star loop when any
    sibling already has; the roster comes from the memoized resolve."""
    comp = _shared_incident_labels(spark, sf_dir)
    roster = _resolved(spark, sf_dir).select("id")
    assigned = roster.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("incident_id")
    )
    # member counts via a window over the SAME incident_id shuffle the
    # output is keyed by — one exchange, vs the groupBy + re-join shape
    # (two exchanges over the full roster)
    w = Window.partitionBy("incident_id")
    return assigned.withColumn(
        "n_members", F.count(F.lit(1)).over(w).cast("bigint")
    ).select("id", "incident_id", "n_members")


# ---------------------------------------------------------------------------
# X-7 (r9): geofence assignment (dispatch-zone membership)
# ---------------------------------------------------------------------------

#: Shared fence table (SQL text identical on both engines): six
#: axis-aligned dispatch zones over the fixture's coordinate box
#: (lat 39-41, lon -106..-104), including one deliberately overlapping
#: zone (f6) and one that catches the place-fallback 40.x band (f5).
#: Bounds are CAST AS DOUBLE so no DECIMAL-vs-DOUBLE comparison path
#: diverges between engines (CLAUDE.md rule 24).
_FENCES_SQL = """
    SELECT * FROM (VALUES
        ('f1', CAST(39.0 AS DOUBLE), CAST(39.5 AS DOUBLE), CAST(-105.0 AS DOUBLE), CAST(-104.5 AS DOUBLE)),
        ('f2', CAST(39.5 AS DOUBLE), CAST(40.0 AS DOUBLE), CAST(-105.0 AS DOUBLE), CAST(-104.5 AS DOUBLE)),
        ('f3', CAST(39.0 AS DOUBLE), CAST(39.5 AS DOUBLE), CAST(-104.5 AS DOUBLE), CAST(-104.0 AS DOUBLE)),
        ('f4', CAST(39.5 AS DOUBLE), CAST(40.0 AS DOUBLE), CAST(-104.5 AS DOUBLE), CAST(-104.0 AS DOUBLE)),
        ('f5', CAST(40.0 AS DOUBLE), CAST(40.5 AS DOUBLE), CAST(-106.0 AS DOUBLE), CAST(-104.0 AS DOUBLE)),
        ('f6', CAST(39.25 AS DOUBLE), CAST(39.75 AS DOUBLE), CAST(-104.75 AS DOUBLE), CAST(-104.25 AS DOUBLE))
    ) AS t(fence_id, lat_min, lat_max, lon_min, lon_max)
"""


@query(
    "x7_geofence_assignment",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    fences AS ({_FENCES_SQL}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM resolved),
    m AS (
        SELECT f.fence_id, CAST(COUNT(r.id) AS BIGINT) AS n_alerts
        FROM fences f
        LEFT JOIN resolved r
          ON r.lat_d >= f.lat_min AND r.lat_d < f.lat_max
         AND r.lon_d >= f.lon_min AND r.lon_d < f.lon_max
        GROUP BY f.fence_id
    )
    SELECT m.fence_id, m.n_alerts,
           ROUND(CAST(m.n_alerts AS DOUBLE) / tot.n, 6) AS share
    FROM m CROSS JOIN tot
    """,
)
def x7_geofence_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r9): GEOFENCE ASSIGNMENT — membership of every resolved
    alert in a set of axis-aligned dispatch zones (the
    which-jurisdiction-pages question), rolled up to per-fence counts
    and corpus shares; zones may overlap (an alert counts in each) and
    empty zones report zero (LEFT join from the fence side). Half-open
    bounds [min, max) so a boundary coordinate lands in exactly one of
    two adjacent zones.

    Determinism: coordinates are the fixture's parsed decimal strings —
    identical doubles on both engines — and the fence bounds are CAST
    AS DOUBLE literals from one shared SQL text, so containment is
    bit-stable with no rounding step needed.

    Scale shape: the fence table broadcasts (zones ≈ hundreds in a real
    deployment); the containment join is a bounded BNLJ against the
    6-row build side — at thousands of fences the grid-bucket equi-join
    of x7_geo_bucket_join replaces it (bucket by lat/lon cell, fences
    replicated to overlapped cells); the rollup is |fences|-group."""
    resolved = _resolved(spark, sf_dir).select("id", "lat_d", "lon_d")
    fences = spark.sql(_FENCES_SQL)
    contained = (
        (F.col("lat_d") >= F.col("lat_min"))
        & (F.col("lat_d") < F.col("lat_max"))
        & (F.col("lon_d") >= F.col("lon_min"))
        & (F.col("lon_d") < F.col("lon_max"))
    )
    m = (
        F.broadcast(fences)
        .join(resolved, on=contained, how="left")
        .groupBy("fence_id")
        .agg(F.count("id").cast("bigint").alias("n_alerts"))
    )
    tot = resolved.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return m.crossJoin(F.broadcast(tot)).select(
        "fence_id",
        "n_alerts",
        F.round(F.col("n_alerts").cast("double") / F.col("n"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# X-7 (r9): hotspot detection (Getis-Ord-style local clustering score)
# ---------------------------------------------------------------------------

HOTSPOT_TOP = 10


@query(
    "x7_hotspot_cells",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    cells AS (
        SELECT CAST(FLOOR(lat_d / {GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(lon_d / {GRID_DEG}) AS BIGINT) AS cx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM resolved GROUP BY 1, 2
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               SUM(n) * 1.0 / COUNT(*) AS mu,
               sqrt(SUM(n * n) * 1.0 / COUNT(*)
                    - (SUM(n) * 1.0 / COUNT(*)) * (SUM(n) * 1.0 / COUNT(*))) AS sd
        FROM cells
    ),
    shifted AS (
        SELECT c.cy + o.dy AS jy, c.cx + o.dx AS jx, c.n
        FROM cells c
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
        CROSS JOIN (SELECT oy.dy, ox.dx) o
    ),
    neigh AS (
        SELECT c.cy, c.cx, c.n,
               CAST(SUM(s.n) AS BIGINT) AS neigh_sum
        FROM cells c
        JOIN shifted s ON s.jy = c.cy AND s.jx = c.cx
        GROUP BY c.cy, c.cx, c.n
    ),
    scored AS (
        SELECT cy, cx, n, neigh_sum,
               ROUND(CASE WHEN g.sd > 0
                          THEN (neigh_sum - 9 * g.mu) / (3 * g.sd)
                          ELSE 0.0 END, 6) AS score
        FROM neigh CROSS JOIN g
    )
    SELECT cy, cx, n, neigh_sum, score, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, cy, cx) AS rnk
        FROM scored
    ) t WHERE rnk <= {HOTSPOT_TOP}
    """,
)
def x7_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r9): INCIDENT HOTSPOT DETECTION — a Getis-Ord-style local
    clustering score over the alert grid (the analysis a dispatch
    center's planning team actually runs: which blocks are running
    hot?): per occupied cell, the 3×3-neighborhood alert sum compared
    against the all-cells mean in sd units
    (``(Σ_neigh − 9μ)/(3σ)`` — Gi* with uniform weights over the
    neighborhood, scored over OCCUPIED cells; empty in-neighborhood
    cells contribute zero through the join, and the simplification —
    no calibrated p-values — is documented, the output is a RANKING).
    Emits the top-{HOTSPOT_TOP} hotspot cells.

    Determinism: counts are integers, so μ/σ are bit-identical given
    the same op order (mirrored term-for-term); the score rounds before
    the rank, ties break on (cy, cx).

    Scale shape: the neighborhood sum is the same 9-shift equi-join
    trick as ``_colocated_pairs`` — each CELL (not point) replicates 9
    ways and joins back on the shifted key, so cost is 9×|occupied
    cells|, never points²; the global moment is a 1-row broadcast."""
    pts = _grid_points(spark, sf_dir)
    cells = pts.groupBy("cy", "cx").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from etl_active911_spark.plans.cache import scoped_persist

    cells = scoped_persist("x7_hotspot.cells", cells)
    g = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (F.sum("n") * 1.0 / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum(F.col("n") * F.col("n")) * 1.0 / F.count(F.lit(1))
            - (F.sum("n") * 1.0 / F.count(F.lit(1)))
            * (F.sum("n") * 1.0 / F.count(F.lit(1)))
        ).alias("sd"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    shifted = cells.select(
        F.explode(offsets).alias("o"), "cy", "cx", "n"
    ).select(
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        "n",
    )
    sh = shifted.withColumnRenamed("n", "sn")
    neigh = (
        cells.join(sh, (F.col("jy") == F.col("cy")) & (F.col("jx") == F.col("cx")))
        .groupBy("cy", "cx", "n")
        .agg(F.sum("sn").cast("bigint").alias("neigh_sum"))
    )
    scored = neigh.crossJoin(F.broadcast(g)).select(
        "cy",
        "cx",
        "n",
        "neigh_sum",
        F.round(
            F.when(
                F.col("sd") > 0,
                (F.col("neigh_sum") - 9 * F.col("mu")) / (3 * F.col("sd")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("score"),
    )
    # global top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heap + driver merge — no single-task global sort even at millions of
    # cells, rule 19); the rank window then runs over the 10-row RESULT
    top = scored.orderBy(F.col("score").desc(), "cy", "cx").limit(HOTSPOT_TOP)
    w = Window.orderBy(F.col("score").desc(), "cy", "cx")
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint")).select(
        "cy", "cx", "n", "neigh_sum", "score", "rnk"
    )


# ---------------------------------------------------------------------------
# X-7 (r10): station coverage-gap analysis
# ---------------------------------------------------------------------------

COVER_GRID_DEG = 0.05  # ~5.5 km cells — response-zone grain, not pair grain
COVER_RADIUS_KM = 15.0  # served = some station within this drive radius
COVER_MIN_INCIDENTS = 3  # below this a gap cell is noise, not demand

_COVERAGE_ORACLE = f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    stations AS ({_STATIONS_SQL}),
    cells AS (
        SELECT CAST(FLOOR(lat_d / {COVER_GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(lon_d / {COVER_GRID_DEG}) AS BIGINT) AS cx,
               CAST(COUNT(*) AS BIGINT) AS n_incidents
        FROM resolved WHERE lat_d IS NOT NULL GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.cy, c.cx, c.n_incidents, s.station_id,
               ROUND({_haversine_sql(
                   f"(c.cy + 0.5) * {COVER_GRID_DEG}",
                   f"(c.cx + 0.5) * {COVER_GRID_DEG}",
                   "s.s_lat", "s.s_lon")}, 3) AS dist_km
        FROM cells c CROSS JOIN stations s
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cy, cx
                                     ORDER BY dist_km, station_id) AS rn
        FROM scored
    )
    SELECT cy, cx, n_incidents, station_id AS nearest_station, dist_km
    FROM ranked
    WHERE rn = 1 AND dist_km > {COVER_RADIUS_KM}
      AND n_incidents >= {COVER_MIN_INCIDENTS}
    """


@query("x7_coverage_gap", _COVERAGE_ORACLE)
def x7_coverage_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): STATION COVERAGE GAPS — the dispatch-planning question
    the hotspot ranking sets up: which demand cells (≥
    COVER_MIN_INCIDENTS incidents on the ~5.5 km planning grid) sit
    farther than COVER_RADIUS_KM from EVERY station? Emits each gap cell
    with its demand, nearest station, and distance — the site-selection
    shortlist. Distances are computed from the cell CENTER, a closed
    form of the integer cell ids, so no floating centroid aggregation
    can drift cross-engine; the rounded distance is compared, not the
    raw one (canonical policy 4).

    Scale shape: incidents collapse to cells FIRST (one keyed aggregate
    — the cross join touches |cells| × |stations|, never points ×
    stations); the station dim broadcasts; the arg-min is one
    WindowGroupLimit-pruned rank per cell."""
    from etl_active911_spark.io import read_table

    resolved = _resolved(spark, sf_dir)
    cells = (
        resolved.filter(F.col("lat_d").isNotNull())
        .groupBy(
            F.floor(F.col("lat_d") / COVER_GRID_DEG).cast("long").alias("cy"),
            F.floor(F.col("lon_d") / COVER_GRID_DEG).cast("long").alias("cx"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_incidents"))
    )
    stations = read_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("station_id"),
        (F.lit(39.0) + F.col("r_regionkey").cast("double") * 0.3).alias("s_lat"),
        (F.lit(-105.0) + F.col("r_regionkey").cast("double") * 0.25).alias("s_lon"),
    )
    clat = (F.col("cy") + 0.5) * COVER_GRID_DEG
    clon = (F.col("cx") + 0.5) * COVER_GRID_DEG
    scored = cells.crossJoin(F.broadcast(stations)).select(
        "cy",
        "cx",
        "n_incidents",
        "station_id",
        F.round(haversine_km(clat, clon, F.col("s_lat"), F.col("s_lon")), 3).alias(
            "dist_km"
        ),
    )
    w = Window.partitionBy("cy", "cx").orderBy("dist_km", "station_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("dist_km") > COVER_RADIUS_KM)
            & (F.col("n_incidents") >= COVER_MIN_INCIDENTS)
        )
        .select(
            "cy",
            "cx",
            "n_incidents",
            F.col("station_id").alias("nearest_station"),
            "dist_km",
        )
    )


# ---------------------------------------------------------------------------
# X-7 (r10): spatiotemporal hotspots (cell × weekday peaks)
# ---------------------------------------------------------------------------


def _temporal_hotspot_oracle() -> str:
    from etl_active911_spark.pipeline.oracle_sql import _TZ_CASE, parse_iso_sql

    return f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    p AS (
        SELECT id,
            TRIM(REGEXP_REPLACE(TRIM(sent), '\\s*\\S+$', '')) AS dp,
            regexp_extract(TRIM(sent), '(\\S+)$', 1) AS abbr,
            TRIM(sent) AS fullp
        FROM alerts
    ),
    tt AS (
        SELECT id,
            {parse_iso_sql(tz="(" + _TZ_CASE + ")", dp="dp", full="fullp")} AS iso
        FROM p
    ),
    j AS (
        SELECT r.id, r.lat_d, r.lon_d,
               CAST(isodow(CAST(substr(tt.iso, 1, 10) AS DATE)) - 1
                    AS INTEGER) AS dow
        FROM resolved r JOIN tt ON tt.id = r.id
        WHERE tt.iso IS NOT NULL AND r.lat_d IS NOT NULL
    ),
    cells AS (
        SELECT CAST(FLOOR(lat_d / {COVER_GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(lon_d / {COVER_GRID_DEG}) AS BIGINT) AS cx,
               dow, CAST(COUNT(*) AS BIGINT) AS n
        FROM j GROUP BY 1, 2, 3
    ),
    tot AS (SELECT cy, cx, SUM(n) AS n_incidents FROM cells GROUP BY cy, cx),
    rk AS (
        SELECT cy, cx, dow, n,
               ROW_NUMBER() OVER (PARTITION BY cy, cx
                                  ORDER BY n DESC, dow) AS rn
        FROM cells
    )
    SELECT t.cy, t.cx, CAST(t.n_incidents AS BIGINT) AS n_incidents,
           r.dow AS peak_dow, r.n AS peak_n,
           ROUND(CAST(r.n AS DOUBLE) / t.n_incidents, 6) AS peak_share
    FROM tot t JOIN rk r ON r.cy = t.cy AND r.cx = t.cx AND r.rn = 1
    WHERE t.n_incidents >= {COVER_MIN_INCIDENTS}
    """


@query("x7_temporal_hotspots", _temporal_hotspot_oracle())
def x7_temporal_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): SPATIOTEMPORAL HOTSPOTS — the staffing question pure
    spatial hotspots can't answer: per planning-grid cell (≥
    COVER_MIN_INCIDENTS incidents), WHICH ISO weekday peaks, how many
    incidents it carries, and the peak's share of the cell's demand —
    composing the reference's hardest surface (the O-15 lenient
    timestamp parse, shared verbatim with the o15 oracle) with the geo
    family's resolved-coordinates memo and the calendar bucketing of
    ``x6_weekday_profile``. Weekday comes from the parsed UTC ISO
    string's date part, so buckets are session-timezone-independent.

    Scale shape: parse + weekday are per-alert projections on the memo;
    one (cell, dow) keyed aggregate, then cell-grain windows/joins over
    ≤7 rows per cell."""
    from etl_active911_spark.functions.timeparse import parse_alert_time_iso

    r = _resolved(spark, sf_dir)
    j = (
        r.select(
            "id",
            "lat_d",
            "lon_d",
            parse_alert_time_iso(F.col("sent")).alias("iso"),
        )
        .filter(F.col("iso").isNotNull() & F.col("lat_d").isNotNull())
        .select(
            F.floor(F.col("lat_d") / COVER_GRID_DEG).cast("long").alias("cy"),
            F.floor(F.col("lon_d") / COVER_GRID_DEG).cast("long").alias("cx"),
            F.weekday(F.to_date(F.substring("iso", 1, 10))).cast("int").alias("dow"),
        )
    )
    cells = j.groupBy("cy", "cx", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cells.groupBy("cy", "cx").agg(
        F.sum("n").cast("bigint").alias("n_incidents")
    )
    rk = (
        cells.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cy", "cx").orderBy(F.col("n").desc(), "dow")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cy", "cx", F.col("dow").alias("peak_dow"), F.col("n").alias("peak_n"))
    )
    return (
        tot.join(rk, ["cy", "cx"])
        .filter(F.col("n_incidents") >= COVER_MIN_INCIDENTS)
        .select(
            "cy",
            "cx",
            "n_incidents",
            "peak_dow",
            "peak_n",
            F.round(
                F.col("peak_n").cast("double") / F.col("n_incidents"), 6
            ).alias("peak_share"),
        )
    )


# ---------------------------------------------------------------------------
# X-7 (r10): global spatial autocorrelation (Moran's I, rook adjacency)
# ---------------------------------------------------------------------------


@query(
    "x7_moran_i",
    f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    cells AS (
        SELECT CAST(FLOOR(lat_d / {GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(lon_d / {GRID_DEG}) AS BIGINT) AS cx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM resolved GROUP BY 1, 2
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(n) AS BIGINT) AS s
        FROM cells
    ),
    di AS (
        SELECT cy, cx, stats.nc * cells.n - stats.s AS d
        FROM cells CROSS JOIN stats
    ),
    ssq AS (SELECT CAST(SUM(d * d) AS BIGINT) AS s_sq FROM di),
    sh AS (
        SELECT di.cy + o.dy AS jy, di.cx + o.dx AS jx, di.d
        FROM di CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dy, dx)
    ),
    pr AS (
        SELECT CAST(COALESCE(SUM(a.d * sh.d), 0) AS BIGINT) AS cross_sum,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM di a JOIN sh ON sh.jy = a.cy AND sh.jx = a.cx
    )
    SELECT stats.nc AS n_cells,
           pr.w AS w_pairs,
           ssq.s_sq,
           pr.cross_sum,
           ROUND(CASE WHEN pr.w > 0 AND ssq.s_sq > 0
                      THEN CAST(stats.nc AS DOUBLE) * CAST(pr.cross_sum AS DOUBLE)
                           / (CAST(pr.w AS DOUBLE) * CAST(ssq.s_sq AS DOUBLE))
                      ELSE NULL END, 6) AS moran_i,
           ROUND(CAST(-1.0 AS DOUBLE) / CAST(stats.nc - 1 AS DOUBLE), 6)
               AS expected_i
    FROM stats CROSS JOIN ssq CROSS JOIN pr
    """,
)
def x7_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): GLOBAL SPATIAL AUTOCORRELATION — Moran's I over the
    occupied alert-grid cells with rook (4-neighbor) adjacency: the one
    number that says whether incident load CLUSTERS in space (I > E[I]),
    is checkerboard-dispersed (I < E[I]), or is spatially random
    (I ≈ E[I] = −1/(N−1)). The global complement of
    ``x7_hotspot_cells``' local Gi* ranking — planners read Gi* for
    WHERE, Moran's I for WHETHER the clustering is real corpus-wide.
    Adjacency is between OCCUPIED cells (the analysis lattice), the
    standard restriction for sparse incident grids; documented contract.

    Determinism: with integer counts x_i, N = |cells|, S = Σx, the
    centered residual scaled by N is d_i = N·x_i − S — EXACT BIGINT.
    Moran's I = (N/W)·(Σ_adj d_i d_j)/(Σ d_i²): both sums stay integer,
    so the statistic is ONE terminal double expression (mirrored op
    order, rounded 6dp). E[I] divides double literals only.

    Scale shape: cell aggregation is the hotspot shape (keyed by cell);
    the 4-shift equi-join replicates CELLS (never points) 4 ways; the
    (N, S) moment is a 1-row broadcast; final assembly crossJoins three
    1-row aggregates. No all-pairs anything; d_i stays < N·max(x) ≪
    2^63 for any real grid."""
    from etl_active911_spark.plans.cache import scoped_persist

    pts = _grid_points(spark, sf_dir)
    cells = pts.groupBy("cy", "cx").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    stats = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("nc"),
        F.sum("n").cast("bigint").alias("s"),
    )
    di = scoped_persist(
        "x7_moran.di",
        cells.crossJoin(F.broadcast(stats)).select(
            "cy", "cx", "nc", (F.col("nc") * F.col("n") - F.col("s")).alias("d")
        ),
    )
    ssq = di.agg(F.sum(F.col("d") * F.col("d")).cast("bigint").alias("s_sq"))
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    sh = di.select(F.explode(offsets).alias("o"), "cy", "cx", "d").select(
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        F.col("d").alias("sd"),
    )
    pr = (
        di.join(sh, (F.col("jy") == F.col("cy")) & (F.col("jx") == F.col("cx")))
        .agg(
            F.coalesce(F.sum(F.col("d") * F.col("sd")), F.lit(0))
            .cast("bigint")
            .alias("cross_sum"),
            F.count(F.lit(1)).cast("bigint").alias("w"),
        )
    )
    return (
        stats.crossJoin(F.broadcast(ssq))
        .crossJoin(F.broadcast(pr))
        .select(
            F.col("nc").alias("n_cells"),
            F.col("w").alias("w_pairs"),
            "s_sq",
            "cross_sum",
            F.round(
                F.when(
                    (F.col("w") > 0) & (F.col("s_sq") > 0),
                    F.col("nc").cast("double")
                    * F.col("cross_sum").cast("double")
                    / (F.col("w").cast("double") * F.col("s_sq").cast("double")),
                ),
                6,
            ).alias("moran_i"),
            F.round(
                F.lit(-1.0).cast("double") / (F.col("nc") - 1).cast("double"), 6
            ).alias("expected_i"),
        )
    )


# ---------------------------------------------------------------------------
# X-7 (r10): Ripley's K / L function (point-pattern clustering by scale)
# ---------------------------------------------------------------------------

# Ripley pair grain: 0.05° cells. Pigeonhole bound for the 4 km max
# radius: 0.05° of latitude = 5.53 km everywhere; 0.05° of longitude at
# the box's highest latitude (40.94°N) = 111.32·cos(40.94°)·0.05 =
# 4.20 km ≥ 4.0 — so a qualifying pair never spans more than one cell
# per axis and the 9-cell neighborhood join is RECALL-EXACT (same
# argument as GRID_DEG's, at the K-function's coarser grain).
RIPLEY_GRID_DEG = 0.05
RIPLEY_RADII = (1.0, 2.0, 4.0)
#: deterministic 1-in-8 hash thinning of the point pattern before pair
#: counting. Independent p-thinning PRESERVES Ripley's K (the thinned
#: process has the same K function — Illian et al. 2008 §6; the
#: estimator over kept points with kept-n in the denominator stays
#: unbiased), so this is a measurement-faithful work bound, not an
#: approximation knob: candidate pairs scale with (n/8)². The
#: content-addressed cut (md5 hash of id — the X-8 sampler idiom) makes
#: the kept set reproducible across engines and partitionings.
RIPLEY_THIN = 8
_RIPLEY_PI = "3.141592653589793"


def _lat_prune_deg(cap_km: float) -> float:
    """Trig-free candidate-prune threshold for a distance-capped pair
    predicate (r15, guide §2.3): great-circle distance >= the meridian
    arc R·|Δφ|, so |Δlat| beyond this many degrees proves the 3dp-rounded
    haversine exceeds ``cap_km``. The 0.0006 km slack over-covers the
    3dp rounding (a true 1.0004 km rounds DOWN to 1.000 and must
    survive). Filtering ``|lat_a − lat_b| <= _lat_prune_deg(cap)``
    before the haversine removes only rows the cap predicate would
    reject anyway — output-invariant, but the pruned majority pays one
    subtract+compare instead of the full 6-trig haversine."""
    import math

    return (cap_km + 0.0006) / EARTH_RADIUS_KM * 180.0 / math.pi

_RIPLEY_HAV = _haversine_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")

_RIPLEY_ORACLE = f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    pts AS (
        SELECT id, lat_d, lon_d,
               CAST(FLOOR(lat_d / {RIPLEY_GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(lon_d / {RIPLEY_GRID_DEG}) AS BIGINT) AS cx
        FROM resolved
        WHERE lat_d IS NOT NULL AND lon_d IS NOT NULL
          AND ({sql_hash60('CAST(id AS STRING)')}) % {RIPLEY_THIN} = 0
    ),
    offy AS (SELECT unnest(range(-1, 2)) AS dy),
    offx AS (SELECT unnest(range(-1, 2)) AS dx),
    pairs AS (
        SELECT ROUND({_RIPLEY_HAV}, 3) AS d
        FROM pts a
        JOIN offy ON TRUE
        JOIN offx ON TRUE
        JOIN pts b ON b.cy = a.cy + dy AND b.cx = a.cx + dx
                   AND a.id < b.id
        WHERE ROUND({_RIPLEY_HAV}, 3) <= {max(RIPLEY_RADII)}
    ),
    cnt AS (
        SELECT {', '.join(
            f"CAST(SUM(CASE WHEN d <= {r} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS c{i}" for i, r in enumerate(RIPLEY_RADII))}
        FROM pairs
    ),
    npts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts),
    bbox AS (
        SELECT MIN(lat_d) AS mnlat, MAX(lat_d) AS mxlat,
               MIN(lon_d) AS mnlon, MAX(lon_d) AS mxlon
        FROM pts
    ),
    edges AS (
        SELECT ROUND({_haversine_sql('mnlat', 'mnlon', 'mxlat', 'mnlon')}, 3)
                   AS e_ns,
               ROUND({_haversine_sql('mnlat', 'mnlon', 'mnlat', 'mxlon')}, 3)
                   AS e_ew
        FROM bbox
    ),
    per_r AS (
        SELECT r_km,
               CASE {' '.join(
                   f"WHEN r_km = {r} THEN c{i}"
                   for i, r in enumerate(RIPLEY_RADII))} END AS c,
               n, e_ns, e_ew
        FROM (SELECT unnest([{', '.join(
                  f"CAST({r} AS DOUBLE)" for r in RIPLEY_RADII)}]) AS r_km)
        CROSS JOIN cnt CROSS JOIN npts CROSS JOIN edges
    )
    SELECT r_km,
           c AS n_pairs,
           ROUND(e_ns * e_ew * (CAST(2 * c AS DOUBLE)
                                / CAST(n * (n - 1) AS DOUBLE)), 6) AS k_hat,
           ROUND(sqrt(e_ns * e_ew * (CAST(2 * c AS DOUBLE)
                                     / CAST(n * (n - 1) AS DOUBLE))
                      / {_RIPLEY_PI}) - r_km, 6) AS l_minus_r
    FROM per_r
    """


@query("x7_ripley_k", _RIPLEY_ORACLE)
def x7_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): RIPLEY'S K / L FUNCTION (Ripley, JRSS-B 1976) — the
    multi-scale point-pattern statistic: K̂(r) = A·Σᵢ≠ⱼ1[dᵢⱼ≤r]/(n(n−1))
    counts average co-incidents within r, and the variance-stabilized
    L̂(r) − r reads sign-directly (> 0 clustered at scale r, < 0
    dispersed). The SCALE-RESOLVED complement of ``x7_moran_i`` (one
    global number at the fixed grid grain): Moran answers WHETHER load
    clusters, Ripley answers AT WHICH RADII. Naive (unedged) estimator
    over the bbox study window — standard for comparing radii on one
    window; documented contract.

    Determinism: pair counts and n are EXACT BIGINT off the rounded-3dp
    haversine (the family's distance idiom); the study area comes from
    the bbox corners via the SAME mirrored haversine text (exact MIN/MAX
    selections, no accumulation), rounded 3dp per edge; K̂ and L̂−r are
    mirrored double expressions with a shared π literal, rounded 6dp.

    Scale shape: the point pattern is hash-THINNED 1-in-RIPLEY_THIN
    first — K is invariant under independent thinning (see the constant's
    note), so this bounds pair work at (n/8)² worth of density while
    still ESTIMATING THE SAME CURVE (kept-n in the denominator); the
    thinning rate is the production knob for denser patterns. The pair
    enumeration is then the recall-exact 9-cell neighborhood equi-join at
    the 0.05° grain (bound proven at RIPLEY_GRID_DEG) — work scales with
    Σ cell-occupancy², never n²; hot cells are the documented AQE-skew
    case. All K radii share ONE pair pass (three conditional counts in
    one 1-row aggregate); bbox, n, and counts broadcast-join into the
    3-row radii table."""
    # shared thinned-pattern memo (r11): one spread+checkpoint pass
    # serves ripley/clark_evans/knox; es is ignored here
    pts = _thinned_pts(spark, sf_dir).select("id", "lat_d", "lon_d", "cy", "cx")
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    left = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat_d").alias("lat_a"),
        F.col("lon_d").alias("lon_a"),
        F.explode(offsets).alias("o"),
        "cy",
        "cx",
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat_d").alias("lat_b"),
        F.col("lon_d").alias("lon_b"),
        F.col("cy").alias("jy"),
        F.col("cx").alias("jx"),
    )
    d = F.round(
        haversine_km(F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")),
        3,
    )
    pairs = (
        left.join(right, ["jy", "jx"])
        .filter(F.col("id_a") < F.col("id_b"))
        # provably-super-cap pairs drop before the haversine (see
        # _lat_prune_deg): only d <= max radius survives the next filter
        .filter(
            F.abs(F.col("lat_a") - F.col("lat_b"))
            <= F.lit(_lat_prune_deg(max(RIPLEY_RADII)))
        )
        .select(d.alias("d"))
        .filter(F.col("d") <= max(RIPLEY_RADII))
    )
    cnt = pairs.agg(
        *[
            F.sum(F.when(F.col("d") <= r, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i}")
            for i, r in enumerate(RIPLEY_RADII)
        ]
    )
    npts = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bbox = pts.agg(
        F.min("lat_d").alias("mnlat"),
        F.max("lat_d").alias("mxlat"),
        F.min("lon_d").alias("mnlon"),
        F.max("lon_d").alias("mxlon"),
    )
    edges = bbox.select(
        F.round(
            haversine_km(
                F.col("mnlat"), F.col("mnlon"), F.col("mxlat"), F.col("mnlon")
            ),
            3,
        ).alias("e_ns"),
        F.round(
            haversine_km(
                F.col("mnlat"), F.col("mnlon"), F.col("mnlat"), F.col("mxlon")
            ),
            3,
        ).alias("e_ew"),
    )
    radii = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(float(r)).alias("r_km"),
                    F.col(f"c{i}").alias("c"),
                )
                for i, r in enumerate(RIPLEY_RADII)
            ]
        )
    )
    per_r = (
        cnt.crossJoin(F.broadcast(npts))
        .crossJoin(F.broadcast(edges))
        .select(radii.alias("rc"), "n", "e_ns", "e_ew")
        .select(
            F.col("rc.r_km").alias("r_km"),
            F.col("rc.c").alias("c"),
            "n",
            "e_ns",
            "e_ew",
        )
    )
    k_raw = (
        F.col("e_ns")
        * F.col("e_ew")
        * (
            (2 * F.col("c")).cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double")
        )
    )
    return per_r.select(
        "r_km",
        F.col("c").alias("n_pairs"),
        F.round(k_raw, 6).alias("k_hat"),
        F.round(
            F.sqrt(k_raw / F.lit(float(_RIPLEY_PI))) - F.col("r_km"), 6
        ).alias("l_minus_r"),
    )


# ---------------------------------------------------------------------------
# X-7 (r10): DBSCAN point classification (Ester et al., KDD 1996)
# ---------------------------------------------------------------------------

#: DBSCAN minPts at the family's 20 m pair radius: |N_eps(p)| >= 4
#: including p itself, i.e. neighbor degree >= 3
DBSCAN_MINPTS = 4

_DBSCAN_ORACLE = f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    pts AS (
        SELECT id FROM resolved
        WHERE lat_d IS NOT NULL AND lon_d IS NOT NULL
    ),
    pr AS MATERIALIZED (
        -- MATERIALIZED: referenced 3x below; DuckDB would otherwise
        -- inline (= re-run) the brute-force n^2 pair join per reference
        SELECT a.id AS id_a, b.id AS id_b
        FROM resolved a JOIN resolved b ON a.id < b.id
        WHERE a.lat_d IS NOT NULL AND a.lon_d IS NOT NULL
          AND b.lat_d IS NOT NULL AND b.lon_d IS NOT NULL
          AND ROUND({_haversine_sql('a.lat_d', 'a.lon_d', 'b.lat_d', 'b.lon_d')}, 3)
              <= {PAIR_RADIUS_KM}
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT id_a AS id FROM pr UNION ALL SELECT id_b AS id FROM pr)
        GROUP BY id
    ),
    pd AS (
        SELECT p.id, COALESCE(deg.d, 0) AS d
        FROM pts p LEFT JOIN deg USING (id)
    ),
    core AS (SELECT id FROM pd WHERE d >= {DBSCAN_MINPTS - 1}),
    border AS (
        SELECT DISTINCT x.id
        FROM (SELECT id_a AS id, id_b AS nb FROM pr
              UNION ALL SELECT id_b AS id, id_a AS nb FROM pr) x
        JOIN core c ON c.id = x.nb
        WHERE x.id NOT IN (SELECT id FROM core)
    ),
    cls AS (
        SELECT pd.id, pd.d,
               CASE WHEN pd.d >= {DBSCAN_MINPTS - 1} THEN 'core'
                    WHEN b.id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS label
        FROM pd LEFT JOIN border b USING (id)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(d) AS BIGINT) AS sum_degree,
           CAST((2 * SUM(d) * 1000000 + COUNT(*)) // (2 * COUNT(*))
                AS DOUBLE) / 1000000.0 AS mean_degree
    FROM cls GROUP BY label
    """


@query("x7_dbscan_labels", _DBSCAN_ORACLE)
def x7_dbscan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): DBSCAN POINT CLASSIFICATION (Ester, Kriegel, Sander &
    Xu, KDD 1996) at (eps = 20 m, minPts = 4): every resolved alert
    labeled core (dense — ≥ minPts incidents within eps including
    itself), border (within eps of a core but not itself dense), or
    noise — the density CENSUS underneath ``x7_geo_cluster``'s
    connected components. Clustering says WHICH incidents merge; this
    says whether each merge is density-supported or a chance adjacency
    — noise points are exactly the singletons dispatch should NOT fold
    into a neighbor.

    Determinism: degrees are exact integers off the rounded-3dp
    haversine pair set; the class CASE is integer threshold + existence
    of a core neighbor; mean degree is integer HALF-UP micro-division
    (rule 26 — class counts can be 2^a·5^b-divisible).

    Scale shape: degrees and border flags ride the SAME recall-exact
    grid-bucketed pair graph as the cluster family — the rule-25
    ``_shared_pair_graph`` memo since r12 (one build per session;
    previously this query checkpointed a private copy); both-direction
    degree = one union + keyed count; border = core-keyed semi-join +
    distinct; the output is 3 rows. The oracle recomputes pairs
    brute-force — the banded plan must equal it row-for-row. The roster
    keeps the null-coordinate filter (unresolved alerts are not points);
    pair membership is unaffected (null grid keys never equi-join)."""
    pts = _grid_points(spark, sf_dir).filter(
        F.col("lat_d").isNotNull() & F.col("lon_d").isNotNull()
    )
    pairs = _shared_pair_graph(spark, sf_dir).select("id_a", "id_b")
    adj = pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("nb")).unionAll(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb"))
    )
    deg = adj.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    pd_ = pts.select("id").join(deg, "id", "left").select(
        "id", F.coalesce("d", F.lit(0)).cast("bigint").alias("d")
    )
    core = pd_.filter(F.col("d") >= DBSCAN_MINPTS - 1).select("id")
    border = (
        adj.join(core.withColumnRenamed("id", "nb"), "nb")
        .select("id")
        .join(core, "id", "left_anti")
        .distinct()
        .withColumn("is_border", F.lit(1))
    )
    cls = (
        pd_.join(border, "id", "left")
        .select(
            "d",
            F.when(F.col("d") >= DBSCAN_MINPTS - 1, "core")
            .when(F.col("is_border").isNotNull(), "border")
            .otherwise("noise")
            .alias("label"),
        )
    )
    return cls.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("d").cast("bigint").alias("sum_degree"),
    ).select(
        "label",
        "n_points",
        "sum_degree",
        (
            F.expr(
                "(2 * sum_degree * 1000000 + n_points) div (2 * n_points)"
            ).cast("double")
            / 1000000.0
        ).alias("mean_degree"),
    )


# ---------------------------------------------------------------------------
# X-7 (r10): Clark-Evans nearest-neighbour index (Clark & Evans 1954)
# ---------------------------------------------------------------------------

#: NN distances are CENSORED at this cap (metres). 4.0 km is the largest
#: radius the 9-cell neighbourhood join provably covers at this fixture's
#: latitudes: a neighbour within d is inside the 3x3 window iff
#: d <= RIPLEY_GRID_DEG * 111.19 km * cos(lat_max); cos(41 deg) = 0.7547
#: gives 4.19 km, so every nn_m <= 4000 is the TRUE nearest neighbour.
#: Points whose true NN lies beyond the cap are reported as censored,
#: never silently assigned a wrong neighbour.
CE_CAP_M = 4000

_CE_HAV = _haversine_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")

_CLARK_EVANS_ORACLE = f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    pts AS (
        SELECT id, lat_d, lon_d,
               CAST(FLOOR(lat_d / {RIPLEY_GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(lon_d / {RIPLEY_GRID_DEG}) AS BIGINT) AS cx
        FROM resolved
        WHERE lat_d IS NOT NULL AND lon_d IS NOT NULL
          AND ({sql_hash60('CAST(id AS STRING)')}) % {RIPLEY_THIN} = 0
    ),
    offy AS (SELECT unnest(range(-1, 2)) AS dy),
    offx AS (SELECT unnest(range(-1, 2)) AS dx),
    nn AS (
        SELECT a.id,
               MIN(CAST(ROUND(ROUND({_CE_HAV}, 3) * 1000) AS BIGINT)) AS nn_m
        FROM pts a
        JOIN offy ON TRUE
        JOIN offx ON TRUE
        JOIN pts b ON b.cy = a.cy + dy AND b.cx = a.cx + dx
                   AND b.id <> a.id
        GROUP BY a.id
    ),
    found AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_with_nn,
               CAST(COALESCE(SUM(nn_m), 0) AS BIGINT) AS sum_m
        FROM nn WHERE nn_m <= {CE_CAP_M}
    ),
    npts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points FROM pts),
    bbox AS (
        SELECT MIN(lat_d) AS mnlat, MAX(lat_d) AS mxlat,
               MIN(lon_d) AS mnlon, MAX(lon_d) AS mxlon
        FROM pts
    ),
    edges AS (
        SELECT ROUND({_haversine_sql('mnlat', 'mnlon', 'mxlat', 'mnlon')}, 3)
                   AS e_ns,
               ROUND({_haversine_sql('mnlat', 'mnlon', 'mnlat', 'mxlon')}, 3)
                   AS e_ew
        FROM bbox
    ),
    s AS (
        SELECT n_points, n_with_nn, n_points - n_with_nn AS n_censored,
               CASE WHEN n_with_nn = 0 THEN 0
                    ELSE (2 * sum_m * 1000 + n_with_nn) // (2 * n_with_nn)
               END AS mean_micro,
               0.5 / sqrt(CAST(n_points AS DOUBLE) / (e_ns * e_ew)) AS exp_km
        FROM found CROSS JOIN npts CROSS JOIN edges
    )
    SELECT n_points, n_with_nn, n_censored,
           CAST(mean_micro AS DOUBLE) / 1000000.0 AS mean_nn_km,
           ROUND(exp_km, 6) AS expected_nn_km,
           ROUND((CAST(mean_micro AS DOUBLE) / 1000000.0) / exp_km, 6) AS ce_ratio,
           CASE WHEN ROUND((CAST(mean_micro AS DOUBLE) / 1000000.0) / exp_km, 6) < 1.0
                THEN 'clustered'
                WHEN ROUND((CAST(mean_micro AS DOUBLE) / 1000000.0) / exp_km, 6) > 1.0
                THEN 'dispersed'
                ELSE 'random' END AS verdict
    FROM s
    """


@query("x7_clark_evans", _CLARK_EVANS_ORACLE)
def x7_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): CLARK-EVANS NEAREST-NEIGHBOUR INDEX (Clark & Evans,
    Ecology 1954) — R = observed mean NN distance / CSR expectation
    0.5/sqrt(lambda): the FIRST-ORDER dispersion test (R < 1 clustered,
    R > 1 dispersed) complementing Ripley's K (second-order, multi-scale)
    and Moran's I (areal autocorrelation). NN distances are censored at
    ``CE_CAP_M`` (see the constant: below the cap the 9-cell window
    provably contains the true NN, so no wrong-neighbour bias); censored
    points are COUNTED and excluded from the mean — the standard
    radius-capped estimator, honest about its window.

    Determinism: per-point NN is an exact MIN over integer-metre
    distances (3dp haversine x 1000); their sum is BIGINT, the mean is
    integer HALF-UP micro-division (rule 26b: sum/count is rational);
    expectation and ratio round AFTER an irrational op (sqrt / division
    by it) — tie-free, mirrored text.

    Scale shape: same recall-exact 9-cell neighbourhood equi-join as
    ``x7_ripley_k`` — work is sum(cell-occupancy x neighbourhood), never
    n squared — over the SAME 1-in-RIPLEY_THIN hash-thinned pattern as
    ripley (applied in code after the unthinned pass measured 74 s at
    sf0.1: thinning changes lambda and the mean together, so R stays a
    valid dispersion test ON THE THINNED PATTERN — the documented
    estimator). The MIN aggregate combines map-side per partition before
    the id shuffle."""
    # shared thinned-pattern memo (r11): one spread+checkpoint pass
    # serves ripley/clark_evans/knox; es is ignored here
    pts = _thinned_pts(spark, sf_dir).select("id", "lat_d", "lon_d", "cy", "cx")
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    left = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat_d").alias("lat_a"),
        F.col("lon_d").alias("lon_a"),
        F.explode(offsets).alias("o"),
        "cy",
        "cx",
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat_d").alias("lat_b"),
        F.col("lon_d").alias("lon_b"),
        F.col("cy").alias("jy"),
        F.col("cx").alias("jx"),
    )
    d_m = F.round(
        F.round(
            haversine_km(
                F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
            ),
            3,
        )
        * 1000
    ).cast("long")
    # r15 candidate prune (see _lat_prune_deg): only sub-cap pairs can
    # reach `found` (nn_m <= CE_CAP_M filters the min, and a point whose
    # every pair is pruned is censored exactly as if its super-cap min
    # had been computed), so dropping provably-super-cap pairs before
    # the haversine is output-invariant. Keeps ~27% of the ~20M
    # 3×3-window pairs at sf0.1 (cap 4 km vs 5.56 km cells), cutting
    # both the per-pair trig and the rows entering the partial MIN
    # (noop median 2.4 -> 1.2 s).
    nn = (
        left.join(right, ["jy", "jx"])
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.abs(F.col("lat_a") - F.col("lat_b"))
            <= F.lit(_lat_prune_deg(CE_CAP_M / 1000.0))
        )
        .select(F.col("id_a").alias("id"), d_m.alias("d_m"))
        .groupBy("id")
        .agg(F.min("d_m").alias("nn_m"))
    )
    found = nn.filter(F.col("nn_m") <= CE_CAP_M).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_with_nn"),
        F.coalesce(F.sum("nn_m"), F.lit(0)).cast("bigint").alias("sum_m"),
    )
    npts = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    bbox = pts.agg(
        F.min("lat_d").alias("mnlat"),
        F.max("lat_d").alias("mxlat"),
        F.min("lon_d").alias("mnlon"),
        F.max("lon_d").alias("mxlon"),
    )
    edges = bbox.select(
        F.round(
            haversine_km(
                F.col("mnlat"), F.col("mnlon"), F.col("mxlat"), F.col("mnlon")
            ),
            3,
        ).alias("e_ns"),
        F.round(
            haversine_km(
                F.col("mnlat"), F.col("mnlon"), F.col("mnlat"), F.col("mxlon")
            ),
            3,
        ).alias("e_ew"),
    )
    s = (
        found.crossJoin(F.broadcast(npts))
        .crossJoin(F.broadcast(edges))
        .select(
            "n_points",
            "n_with_nn",
            (F.col("n_points") - F.col("n_with_nn")).alias("n_censored"),
            F.when(F.col("n_with_nn") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("(2 * sum_m * 1000 + n_with_nn) div (2 * n_with_nn)")
            )
            .alias("mean_micro"),
            (
                0.5
                / F.sqrt(
                    F.col("n_points").cast("double")
                    / (F.col("e_ns") * F.col("e_ew"))
                )
            ).alias("exp_km"),
        )
    )
    mean_km = F.col("mean_micro").cast("double") / 1000000.0
    ratio = F.round(mean_km / F.col("exp_km"), 6)
    return s.select(
        "n_points",
        "n_with_nn",
        "n_censored",
        mean_km.alias("mean_nn_km"),
        F.round(F.col("exp_km"), 6).alias("expected_nn_km"),
        ratio.alias("ce_ratio"),
        F.when(ratio < 1.0, "clustered")
        .when(ratio > 1.0, "dispersed")
        .otherwise("random")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# X-7 (r10): Knox space-time interaction test (Knox, JRSS-C 1964)
# ---------------------------------------------------------------------------

KNOX_SPACE_KM = 1.0   # "close in space" (<= the 9-cell proof radius)
KNOX_TIME_S = 3600    # "close in time" (1 hour)


def _knox_epoch_sql(iso: str) -> str:
    """UTC-wall epoch seconds from the O-15 ISO string by PURE string/date
    arithmetic — no engine timestamp parse, so no session-TZ exposure."""
    return (
        f"CAST((CAST(substr({iso}, 1, 10) AS DATE) - DATE '1970-01-01') AS BIGINT)"
        f" * 86400 + CAST(substr({iso}, 12, 2) AS BIGINT) * 3600"
        f" + CAST(substr({iso}, 15, 2) AS BIGINT) * 60"
        f" + CAST(substr({iso}, 18, 2) AS BIGINT)"
    )


def _knox_oracle() -> str:
    from etl_active911_spark.pipeline.oracle_sql import _TZ_CASE, parse_iso_sql

    return f"""
    WITH alerts AS ({SYNTH_ALERTS_SQL}), {_COORDS_CTE},
    p AS (
        SELECT id,
            TRIM(REGEXP_REPLACE(TRIM(sent), '\\s*\\S+$', '')) AS dp,
            regexp_extract(TRIM(sent), '(\\S+)$', 1) AS abbr,
            TRIM(sent) AS fullp
        FROM alerts
    ),
    tt AS (
        SELECT id,
            {parse_iso_sql(tz="(" + _TZ_CASE + ")", dp="dp", full="fullp")} AS iso
        FROM p
    ),
    pts AS MATERIALIZED (
        -- MATERIALIZED: referenced 4x below (two pair-join sides, the
        -- bucket table, the count); DuckDB would otherwise re-inline the
        -- O-15 regex parse pipeline per reference and exhaust memory
        SELECT r.id, r.lat_d, r.lon_d,
               CAST(FLOOR(r.lat_d / {RIPLEY_GRID_DEG}) AS BIGINT) AS cy,
               CAST(FLOOR(r.lon_d / {RIPLEY_GRID_DEG}) AS BIGINT) AS cx,
               {_knox_epoch_sql('tt.iso')} AS es
        FROM resolved r JOIN tt ON tt.id = r.id
        WHERE r.lat_d IS NOT NULL AND r.lon_d IS NOT NULL AND tt.iso IS NOT NULL
          AND ({sql_hash60('CAST(r.id AS STRING)')}) % {RIPLEY_THIN} = 0
    ),
    ptb AS (SELECT id, es, es // {KNOX_TIME_S} AS tb FROM pts),
    offy AS (SELECT unnest(range(-1, 2)) AS dy),
    offx AS (SELECT unnest(range(-1, 2)) AS dx),
    offt AS (SELECT unnest(range(-1, 2)) AS dt),
    sp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(COALESCE(SUM(CASE WHEN ABS(a.es - b.es) <= {KNOX_TIME_S}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS x
        FROM pts a
        JOIN offy ON TRUE
        JOIN offx ON TRUE
        JOIN pts b ON b.cy = a.cy + dy AND b.cx = a.cx + dx
                   AND a.id < b.id
        WHERE ROUND({_CE_HAV}, 3) <= {KNOX_SPACE_KM}
    ),
    tp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nt
        FROM ptb a
        JOIN offt ON TRUE
        JOIN ptb b ON b.tb = a.tb + dt AND a.id < b.id
        WHERE ABS(a.es - b.es) <= {KNOX_TIME_S}
    ),
    npts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_all
        FROM pts
    ),
    s AS (
        SELECT n_points, ns, nt, x, n_all,
               CASE WHEN n_all = 0 THEN 0
                    ELSE CAST((2::HUGEINT * ns * nt * 1000000 + n_all)
                              // (2::HUGEINT * n_all) AS BIGINT) END AS e_micro,
               CASE WHEN ns = 0 OR nt = 0 THEN 0
                    ELSE CAST((2::HUGEINT * x * n_all * 1000000
                               + ns::HUGEINT * nt)
                              // (2::HUGEINT * ns * nt) AS BIGINT) END AS r_micro
        FROM sp CROSS JOIN tp CROSS JOIN npts
    )
    SELECT n_points, ns AS n_space_pairs, nt AS n_time_pairs, x AS n_st_pairs,
           CAST(e_micro AS DOUBLE) / 1000000.0 AS expected_st_pairs,
           CAST(r_micro AS DOUBLE) / 1000000.0 AS knox_ratio,
           CASE WHEN r_micro > 1000000 THEN 'interaction' ELSE 'none' END AS verdict
    FROM s
    """


@query("x7_knox", _knox_oracle())
def x7_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 (r10): KNOX SPACE-TIME INTERACTION TEST (Knox, JRSS-C 1964;
    the classic epidemiology statistic) — do incidents cluster in space
    AND time TOGETHER, beyond what the spatial pattern and the temporal
    pattern each explain alone? X = pairs close in both (<= 1 km and
    <= 1 h); under independence E[X] = Ns*Nt/N, and the ratio X/E[X] > 1
    signals contagion/common-cause (repeat-call storms, multi-unit
    events). Composes the O-15 lenient parse (epoch by PURE string/date
    arithmetic — session-TZ-proof) with the geo family's resolved memo.

    Determinism: all four pair counts are EXACT BIGINT; expectation and
    ratio are integer HALF-UP micro-divisions run in 128-bit integer
    space (DuckDB HUGEINT == Spark DECIMAL(38,0), parity-tested at
    overflow-relevant magnitudes) because Ns*Nt*2e6 exceeds int64 at
    ~10x this fixture; the verdict compares micro-integers, never floats.

    Scale shape: spatial pairs ride the 9-cell neighbourhood equi-join
    (1 km <= the window's 4.19 km proof radius); temporal pairs ride the
    same trick in 1-D (adjacent hour-bucket equi-join); both run over
    the SAME 1-in-RIPLEY_THIN hash-thinned pattern as ripley (the Knox
    RATIO is invariant under independent thinning in expectation — X,
    Ns, Nt and N all scale by p^2; applied in code after the unthinned
    pass measured 25 s at sf0.1); both are
    sum-of-bucket-occupancy-squared, never n^2, and both reduce to 1-row
    aggregates before the 3-way scalar assembly."""
    # shared thinned-pattern memo (r11): one spread+checkpoint pass
    # serves ripley/clark_evans/knox; knox's iso-notnull filter becomes
    # the es-notnull filter on the memo's nullable epoch column
    pts = _thinned_pts(spark, sf_dir).filter(F.col("es").isNotNull())
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    left = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat_d").alias("lat_a"),
        F.col("lon_d").alias("lon_a"),
        F.col("es").alias("es_a"),
        F.explode(offsets).alias("o"),
        "cy",
        "cx",
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        "es_a",
        (F.col("cy") + F.col("o.dy")).alias("jy"),
        (F.col("cx") + F.col("o.dx")).alias("jx"),
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat_d").alias("lat_b"),
        F.col("lon_d").alias("lon_b"),
        F.col("es").alias("es_b"),
        F.col("cy").alias("jy"),
        F.col("cx").alias("jx"),
    )
    d3 = F.round(
        haversine_km(F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")),
        3,
    )
    sp = (
        left.join(right, ["jy", "jx"])
        # provably-super-cap pairs drop before the haversine (see
        # _lat_prune_deg): the d3 <= 1 km conjunct would reject them
        # anyway, and with a 4.19 km-radius window this keeps ~7% of
        # candidate rows away from the 6-trig distance
        .filter(
            F.abs(F.col("lat_a") - F.col("lat_b"))
            <= F.lit(_lat_prune_deg(KNOX_SPACE_KM))
        )
        .filter((F.col("id_a") < F.col("id_b")) & (d3 <= KNOX_SPACE_KM))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ns"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("es_a") - F.col("es_b")) <= KNOX_TIME_S, 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    tleft = pts.select(
        F.col("id").alias("id_a"),
        F.col("es").alias("es_a"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dt"),
        F.expr(f"es div {KNOX_TIME_S}").alias("tb"),
    ).select("id_a", "es_a", (F.col("tb") + F.col("dt")).alias("jtb"))
    tright = pts.select(
        F.col("id").alias("id_b"),
        F.col("es").alias("es_b"),
        F.expr(f"es div {KNOX_TIME_S}").alias("jtb"),
    )
    tp = (
        tleft.join(tright, "jtb")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("es_a") - F.col("es_b")) <= KNOX_TIME_S)
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    )
    npts = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("bigint")
        .alias("n_all"),
    )
    s = (
        sp.crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(npts))
        .select(
            "n_points",
            "ns",
            "nt",
            "x",
            "n_all",
            F.when(F.col("n_all") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "CAST((2 * CAST(ns AS DECIMAL(38,0)) * nt * 1000000 + n_all)"
                    " div (2 * CAST(n_all AS DECIMAL(38,0))) AS BIGINT)"
                )
            )
            .alias("e_micro"),
            F.when((F.col("ns") == 0) | (F.col("nt") == 0), F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "CAST((2 * CAST(x AS DECIMAL(38,0)) * n_all * 1000000"
                    " + CAST(ns AS DECIMAL(38,0)) * nt)"
                    " div (2 * CAST(ns AS DECIMAL(38,0)) * nt) AS BIGINT)"
                )
            )
            .alias("r_micro"),
        )
    )
    return s.select(
        "n_points",
        F.col("ns").alias("n_space_pairs"),
        F.col("nt").alias("n_time_pairs"),
        F.col("x").alias("n_st_pairs"),
        (F.col("e_micro").cast("double") / 1000000.0).alias("expected_st_pairs"),
        (F.col("r_micro").cast("double") / 1000000.0).alias("knox_ratio"),
        F.when(F.col("r_micro") > 1000000, "interaction")
        .otherwise("none")
        .alias("verdict"),
    )
