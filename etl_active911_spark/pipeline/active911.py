"""The Active911 alert→GeoJSON-feature transform (SURVEY.md §2 O-9…O-20).

Pure DataFrame logic: ``alerts_df`` (24 string columns, the reference's
OutputSchema task.ts:18-43) → ``features_df`` (nested GeoJSON features,
task.ts:214-231). Everything is built-in Column expressions; the only
shuffle is the response-dedup aggregation (O-19), keyed by alert id.

At 100 TB the per-alert work (coordinate fallback, regex extraction,
templating) is a single narrow stage. The links array and the time parse
are higher-order lambdas, which run interpreted inside it with no
common-subexpression elimination, so each shared sub-expression is bound
once (``timeparse.let``): the per-alert cost is one match and three
group extracts per response line, plus one time parse per link. The
explode formulation's dedup shuffles only (alert_id, callsign, small
structs) — not the wide alert rows, which are re-joined by id afterwards.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_active911_spark.functions.timeparse import let, parse_alert_time, parse_alert_time_iso

#: Reference OutputSchema (task.ts:18-43): 24 columns, all strings.
ALERT_COLUMNS = [
    "id", "received", "sent", "priority", "description", "details",
    "external_data", "place", "address", "unit", "cross_street", "city",
    "state", "lat", "lon", "coordinate_source", "source", "units",
    "cad_code", "map_code", "map_id", "alert_key", "messages", "responses",
]

ALERTS_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in ALERT_COLUMNS])

#: FIXTURES.md §A.4 / task.ts:214-231 — the nested GeoJSON feature schema.
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField("callsign", T.StringType()),
                    T.StructField("start", T.TimestampType()),
                    T.StructField(
                        "links",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("relation", T.StringType()),
                                    T.StructField("callsign", T.StringType()),
                                    T.StructField("remarks", T.StringType()),
                                    T.StructField("production_time", T.TimestampType()),
                                ]
                            )
                        ),
                    ),
                    T.StructField("remarks", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "geometry",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("coordinates", T.ArrayType(T.DoubleType())),
                ]
            ),
        ),
    ]
)


def input_schema() -> T.StructType:
    """Schema-discovery entry point (reference ``schema(SchemaType.Input)``,
    task.ts:83-96): the 24-string-column alert input."""
    return ALERTS_SCHEMA


def output_schema() -> T.StructType:
    """Schema-discovery entry point (``schema(SchemaType.Output)``): the
    nested GeoJSON feature output."""
    return FEATURES_SCHEMA

#: task.ts:121 — response-log line parser (non-greedy groups, unanchored).
RESPONSE_REGEX = r"Got a response of (.+?) to (.+?)\((\d+)\) at (.+?)\."
RESPONSE_PREFIX = "Got a response of "

#: task.ts:221-226 — template literal whitespace, byte-exact.
_REMARKS_INDENT = " " * 32
_REMARKS_TAIL = " " * 28


def js_number(col: Column) -> Column:
    """JS ``Number(str)`` semantics used at task.ts:172-181: empty/blank
    string → 0.0; unparseable → NULL (the Column stand-in for JS NaN —
    callers must treat NULL exactly as JS treats NaN: NaN !== 0, and
    ``isNaN`` checks map to IS NULL)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0.0)).otherwise(t.try_cast("double"))


def resolve_coordinates(alerts: DataFrame) -> DataFrame:
    """O-10 (task.ts:172-185): if Number(lon)===0 or Number(lat)===0, fall
    back to parsing ``place`` as 'lat,lon' (note the swap: place is
    lat-first, output is lon-first); drop the row when the fallback is
    invalid. NaN is NOT === 0, so rows whose lat/lon are non-blank but
    unparseable skip the fallback and are KEPT with NULL (JS NaN)
    coordinates — the reference emits those features with NaN geometry
    (ADVICE r01 alignment; previously we dropped them).

    Emits ``lon_d``/``lat_d`` double columns next to the original strings.
    """
    # One filter + one select (not chained withColumns): every chained
    # withColumn re-analyzes the whole plan driver-side — 6 passes over
    # the fixture plan cost ~0.3 s per invocation (r14 a911 anchor
    # attribution, BASELINE.md r14). Catalyst collapses the projections
    # identically either way; only the build cost differs.
    keep, lon, lat = _coordinates()
    return alerts.filter(keep).select("*", lon.alias("lon_d"), lat.alias("lat_d"))


def _coordinates() -> tuple[Column, Column, Column]:
    """The O-10 trees ``(keep, lon, lat)``, memoized: ``keep`` is the
    coordinate-fallback row condition, ``lon``/``lat`` the resolved
    doubles. Unaliased, so one plan may use them more than once."""
    from etl_active911_spark.plans.cache import memo_cols

    return memo_cols("active911.coordinates", _build_coordinates)


def _build_coordinates() -> tuple[Column, Column, Column]:
    lon0 = js_number(F.col("lon"))
    lat0 = js_number(F.col("lat"))
    # NULL (NaN) comparisons yield NULL → coalesce to False, matching
    # JS `NaN === 0` being false (task.ts:172).
    needs_fallback = F.coalesce((lon0 == 0) | (lat0 == 0), F.lit(False))

    coords = F.slice(F.split(F.trim(F.col("place")), ","), 1, 2)
    place_lat = js_number(F.element_at(coords, 1))
    place_lon = js_number(F.try_element_at(coords, F.lit(2)))
    fallback_ok = (F.size(coords) == 2) & place_lat.isNotNull() & place_lon.isNotNull()
    return (
        ~needs_fallback | fallback_ok,
        F.when(needs_fallback, place_lon).otherwise(lon0),
        F.when(needs_fallback, place_lat).otherwise(lat0),
    )


def extract_responses(alerts: DataFrame, time_as_iso: bool = False) -> DataFrame:
    """O-13/O-14 (task.ts:195-209): split the responses log into lines,
    keep 'Got a response of ' lines, extract (remarks, callsign, device_id,
    time) via regex; unmatched lines yield the 'Unknown' sentinel.

    Returns one row per response line: (id, pos, link_callsign,
    link_remarks, device_id, production_time). ``time_as_iso`` emits the
    reference's ISO-string form (session-tz-independent) instead of a
    timestamp — used by the oracle-checked flat queries.
    """
    time_fn = parse_alert_time_iso if time_as_iso else parse_alert_time

    lines = alerts.select(
        "id",
        F.posexplode(F.split(F.col("responses"), "\n")).alias("pos", "line"),
    ).filter(F.col("line").startswith(RESPONSE_PREFIX))

    matched = F.col("line").rlike(RESPONSE_REGEX)
    g = lambda i: F.regexp_extract(F.col("line"), RESPONSE_REGEX, i)  # noqa: E731
    return lines.select(
        "id",
        "pos",
        F.when(matched, F.trim(g(2))).otherwise(F.lit("Unknown")).alias("link_callsign"),
        F.when(matched, F.trim(g(1))).otherwise(F.lit("Unknown")).alias("link_remarks"),
        F.when(matched, g(3)).alias("device_id"),
        F.when(matched, time_fn(F.trim(g(4)))).alias("production_time"),
    )


def dedupe_links(responses: DataFrame) -> DataFrame:
    """O-19/O-20 (task.ts:187-209,220): last-wins dedup per (id, callsign)
    — ``Map.set`` overwrites values but keeps first-insertion key order, so
    the surviving link carries the LAST occurrence's fields at the FIRST
    occurrence's position. One aggregation, shuffle keyed by (id, callsign).
    """
    return responses.groupBy("id", "link_callsign").agg(
        F.min("pos").alias("first_pos"),
        F.max_by(
            F.struct("link_remarks", "device_id", "production_time"), "pos"
        ).alias("last"),
    ).select(
        "id",
        "first_pos",
        F.col("link_callsign"),
        F.col("last.link_remarks").alias("link_remarks"),
        F.col("last.device_id").alias("device_id"),
        F.col("last.production_time").alias("production_time"),
    )


def links_array(deduped: DataFrame) -> DataFrame:
    """Re-nest deduped links into the ``links`` array, ordered by first
    occurrence (Map insertion order, task.ts:220)."""
    link_struct = F.struct(
        F.lit("t-s").alias("relation"),
        F.col("link_callsign").alias("callsign"),
        F.col("link_remarks").alias("remarks"),
        F.col("production_time").alias("production_time"),
    )
    return (
        deduped.withColumn("__entry", F.struct(F.col("first_pos"), link_struct.alias("link")))
        .groupBy("id")
        .agg(F.transform(F.array_sort(F.collect_list("__entry")), lambda e: e.link).alias("links"))
    )


def links_array_native(time_as_iso: bool = False) -> Column:
    """O-13/O-14/O-19/O-20 in one shuffle-free Column expression
    (SURVEY.md §7 "semantics-preserving shortcut": ``responses`` never
    leaves its alert row, so dedup can stay inside the row).

    Each 'Got a response of ' line is parsed ONCE into a
    (key, remarks, time) struct; keys = first-occurrence-ordered distinct
    callsigns (array_distinct preserves first occurrence = Map insertion
    order, task.ts:187-209); each key's link carries the LAST struct with
    that key (last-wins), and only that struct's time is parsed. Lambdas
    are interpreted without common-subexpression elimination (CLAUDE.md
    rule 1), so every shared value is bound once with ``let`` — the cost
    per alert is one match and three group extracts per line, plus one
    time parse per link.
    A NULL log yields no links, as in the explode formulation.
    """
    from etl_active911_spark.plans.cache import memo_cols

    # Memoized per flag (r14): building the tree costs py4j round trips;
    # it is a fixed expression over the `responses` column, reusable
    # across plans. Routed through memo_cols (ADVICE r14 item 2) for
    # applicationId-scoped invalidation. Built lazily, never at import
    # (CLAUDE.md rule 15).
    return memo_cols(
        f"active911.links_array:{time_as_iso}",
        lambda: _build_links_array(time_as_iso),
    )


def _build_links_array(time_as_iso: bool) -> Column:
    time_fn = parse_alert_time_iso if time_as_iso else parse_alert_time

    def parse_line(l: Column) -> Column:
        g = lambda i: F.trim(F.regexp_extract(l, RESPONSE_REGEX, i))  # noqa: E731
        return let(
            l.rlike(RESPONSE_REGEX),
            lambda m: F.struct(
                F.when(m, g(2)).otherwise(F.lit("Unknown")).alias("key"),
                F.when(m, g(1)).otherwise(F.lit("Unknown")).alias("remarks"),
                F.when(m, g(4)).alias("time"),
            ),
        )

    def links_of(parsed: Column) -> Column:
        def link_of(k: Column) -> Column:
            last = F.element_at(F.filter(parsed, lambda p: p["key"] == k), -1)
            return let(
                last,
                lambda p: F.struct(
                    F.lit("t-s").alias("relation"),
                    k.alias("callsign"),
                    p["remarks"].alias("remarks"),
                    time_fn(p["time"]).alias("production_time"),
                ),
            )

        return F.transform(F.array_distinct(F.transform(parsed, lambda p: p["key"])), link_of)

    lines = F.filter(
        F.split(F.coalesce(F.col("responses"), F.lit("")), "\n"),
        lambda l: l.startswith(RESPONSE_PREFIX),
    )
    return let(F.transform(lines, parse_line), links_of)


def alert_start() -> Column:
    """O-15 (task.ts:215): the feature's ``start`` time, parsed from
    ``sent``."""
    return parse_alert_time(F.col("sent"))


def alert_remarks() -> Column:
    """O-16 (task.ts:221-226): the remarks template literal, byte-exact
    (leading newline, 32-space indents, 28-space tail)."""
    return F.concat(
        F.lit("\n" + _REMARKS_INDENT + "Groups: "), F.col("units"),
        F.lit("\n" + _REMARKS_INDENT + "Author: "), F.col("source"),
        F.lit("\n" + _REMARKS_INDENT), F.col("details"),
        F.lit("\n" + _REMARKS_TAIL),
    )


#: Top-level fields of a GeoJSON Feature row (FEATURES_SCHEMA order).
FEATURE_FIELDS = ("id", "type", "properties", "geometry")


def _feature_fields(links: Column, lon: Column, lat: Column) -> list[Column]:
    """The ``FEATURE_FIELDS`` trees, unaliased (task.ts:214-231).

    The geometry carries what ``JSON.stringify`` writes for the
    reference's ``[Number(lon), Number(lat)]``: a non-finite coordinate
    (``Number("Infinity")``, ``"NaN"``, ``"1e400"``) becomes null, as an
    unparseable one already is. JSON has no token for either, so a
    feature must not carry one. ``lon_d``/``lat_d`` of
    ``resolve_coordinates`` keep the raw doubles."""
    finite = sys.float_info.max
    return [
        F.concat(F.lit("active911-"), F.col("id")),
        F.lit("Feature"),
        F.struct(
            F.col("description").alias("callsign"),
            alert_start().alias("start"),
            links.alias("links"),
            alert_remarks().alias("remarks"),
        ),
        F.struct(
            F.lit("Point").alias("type"),
            F.transform(
                F.array(lon, lat), lambda v: F.when(F.abs(v) <= F.lit(finite), v)
            ).alias("coordinates"),
        ),
    ]


def _features() -> tuple[Column, list[Column]]:
    """``(keep, fields)`` of the array-native ``to_features``, memoized:
    the tree is fixed, and building it costs py4j round trips on every
    call (rule 35). The tree is unresolved, so each plan still binds the
    session time zone of the ``start`` parse at its own analysis."""
    from etl_active911_spark.plans.cache import memo_cols

    def build():
        keep, lon, lat = _coordinates()
        return keep, _feature_fields(links_array_native(), lon, lat)

    return memo_cols("active911.features", build)


def _named(fields: list[Column]) -> list[Column]:
    # top-level aliases are applied per call (memo_cols alias caveat)
    return [c.alias(n) for n, c in zip(FEATURE_FIELDS, fields)]


def to_features(alerts: DataFrame, array_native: bool = True) -> DataFrame:
    """Full O-9…O-20 pipeline: alerts (24 string cols) → GeoJSON features
    (task.ts:214-231). Returns one row per feature, nested struct schema
    matching FIXTURES.md §A.4.

    ``array_native=True`` (default) computes links inside each row — the
    whole pipeline is then one filter and one select over memoized Column
    trees, one narrow stage with ZERO shuffles. The explode+aggregate
    formulation (``array_native=False``) produces identical results
    (asserted in tests) and exists because its exploded intermediates are
    what the flat oracle queries check.
    """
    if array_native:
        keep, fields = _features()
        return alerts.filter(keep).select(*_named(fields))
    resolved = resolve_coordinates(alerts)
    links = links_array(dedupe_links(extract_responses(alerts)))
    with_links = resolved.join(links, "id", "left").withColumn(
        "links",
        F.coalesce(
            F.col("links"),
            F.array().cast(
                "array<struct<relation:string,callsign:string,remarks:string,production_time:timestamp>>"
            ),
        ),
    )
    return with_links.select(
        *_named(_feature_fields(F.col("links"), F.col("lon_d"), F.col("lat_d")))
    )
