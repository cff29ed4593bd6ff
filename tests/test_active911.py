"""Golden tests for the Active911 transform (SURVEY.md §5.2).

The reference has no tests; expected values here are derived by hand from
task.ts semantics (file:line cited per case) and pin every subtlety:
tz map + unknown-abbr fallback, zero-coord place fallback + lat/lon swap +
row drop, 'Unknown' sentinel + last-wins dedup + insertion order, and the
byte-exact remarks template.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_active911_spark.functions.timeparse import parse_alert_time_iso
from etl_active911_spark.pipeline.active911 import (
    ALERT_COLUMNS,
    ALERTS_SCHEMA,
    to_features,
)


def make_alert(spark, **overrides):
    base = {c: "" for c in ALERT_COLUMNS}
    base.update(
        id="1",
        sent="12/08/2025 18:27:47 MST",
        lat="39.7",
        lon="-104.9",
        description="Structure Fire",
        units="E1,L2",
        source="CAD",
        details="Some details",
    )
    base.update(overrides)
    return spark.createDataFrame([tuple(base[c] for c in ALERT_COLUMNS)], ALERTS_SCHEMA)


# --- O-15 parseTime (task.ts:45-76) ---------------------------------------

TZ_CASES = [
    # (input, expected ISO) — winter date: standard offsets apply
    ("12/08/2025 18:27:47 EST", "2025-12-08T23:27:47.000Z"),
    ("12/08/2025 18:27:47 EDT", "2025-12-08T23:27:47.000Z"),  # map→NY, Dec = -5
    ("12/08/2025 18:27:47 CST", "2025-12-09T00:27:47.000Z"),
    ("12/08/2025 18:27:47 MST", "2025-12-09T01:27:47.000Z"),
    ("12/08/2025 18:27:47 PST", "2025-12-09T02:27:47.000Z"),
    ("12/08/2025 18:27:47 AKST", "2025-12-09T03:27:47.000Z"),
    ("12/08/2025 18:27:47 HST", "2025-12-09T04:27:47.000Z"),
    ("12/08/2025 18:27:47 AST", "2025-12-08T22:27:47.000Z"),  # Halifax -4
    ("12/08/2025 18:27:47 NST", "2025-12-08T21:57:47.000Z"),  # St_Johns -3:30
    ("12/08/2025 18:27:47 UTC", "2025-12-08T18:27:47.000Z"),
    ("12/08/2025 18:27:47 GMT", "2025-12-08T18:27:47.000Z"),
    # summer date: daylight offsets apply via the IANA zone
    ("07/08/2025 18:27:47 EDT", "2025-07-08T22:27:47.000Z"),
    ("07/08/2025 18:27:47 MST", "2025-07-09T00:27:47.000Z"),  # map→Denver, Jul = -6
    # unknown abbreviation → date part parsed as UTC (task.ts:75)
    ("12/08/2025 18:27:47 XYZ", "2025-12-08T18:27:47.000Z"),
    # NO abbreviation: moment parses the whole string in UTC ('z' token is
    # a parse no-op, task.ts:75) — ADVICE r01 whole-string fallback
    ("12/08/2025 18:27:47", "2025-12-08T18:27:47.000Z"),
    ("  12/08/2025 18:27:47  ", "2025-12-08T18:27:47.000Z"),
    # unparseable → null
    ("not a date at all", None),
    # --- moment-LENIENT parses (r4, VERDICT r03 item 4) -------------------
    # mangled interior whitespace (moment skips separators entirely)
    ("12/08/2025  18:27:47 EST", "2025-12-08T23:27:47.000Z"),
    ("12/08/2025   18:27:47", "2025-12-08T18:27:47.000Z"),
    # unpadded single-digit fields (moment token regex \d\d? matches 1-2)
    ("1/8/2025 3:27:47 EST", "2025-01-08T08:27:47.000Z"),
    # wrong separators (moment ignores format literals in non-strict mode)
    ("12-08-2025 18:27:47 EST", "2025-12-08T23:27:47.000Z"),
    ("12.08.2025 18:27:47", "2025-12-08T18:27:47.000Z"),
    # trailing junk glued to the last token (moment discards the rest)
    ("12/08/2025 18:27:47junk EST", "2025-12-08T23:27:47.000Z"),
    # compact digits — moment's unanchored token regexes still match
    ("12082025 10:00:00 EST", "2025-12-08T15:00:00.000Z"),
    # missing time components default to 0 (moment defaulting rule)
    ("12/08/2025 EST", "2025-12-08T05:00:00.000Z"),
    ("12/08/2025 18:27 EST", "2025-12-08T23:27:00.000Z"),
    # overflow components → Invalid Date → null (moment's overflow check)
    ("99/99/2025 10:00:00 EST", None),
    ("13/01/2025 10:00:00 EST", None),
    ("12/08/2025 99:00:00 EST", None),
    ("02/30/2025 10:00:00 EST", None),
    # garbage with time-position letters: the first digit run after the
    # year ('47') lands in the hour slot → 47 overflows → null
    ("12/08/2025 aa:bb:47 EST", None),
]


# --- FINAL accepted deltas vs moment (O-15 ledger closed, r10) ------------
# These pin the TWO permanent divergences as decided behavior (VERDICT r09
# item 8); changing either is a regression against the closed ledger, not
# a fidelity improvement — see functions/timeparse.py module docstring.
ACCEPTED_DELTA_CASES = [
    # (b) bare mergeable digit run: moment rejects '123'; our shared
    # 3-run backtracking regex splits it 1/2/3 → year 3 literal. Both
    # engines share the regex, so parity is unaffected.
    ("123", "0003-01-02T00:00:00.000Z"),
    ("1 2 3", "0003-01-02T00:00:00.000Z"),
    # (c) year 0 parses here (proleptic ISO year 0); the DuckDB oracle
    # would RENDER it as a BC date, so fixtures must never emit year-0
    # rows — the parse itself is pinned so the exclusion stays deliberate.
    ("01/02/0000 UTC", "0000-01-02T00:00:00.000Z"),
]


@pytest.mark.parametrize("raw,expected", ACCEPTED_DELTA_CASES)
def test_parse_time_accepted_deltas_final(spark, raw, expected):
    got = (
        spark.range(1)
        .select(parse_alert_time_iso(F.lit(raw)).alias("iso"))
        .first()["iso"]
    )
    assert got == expected, f"{raw!r}: got {got!r}, want {expected!r}"


@pytest.mark.parametrize("raw,expected", TZ_CASES)
def test_parse_time_golden(spark, raw, expected):
    got = (
        spark.range(1)
        .select(parse_alert_time_iso(F.lit(raw)).alias("iso"))
        .first()["iso"]
    )
    assert got == expected, f"{raw!r}: got {got!r}, want {expected!r}"


# --- pinned-`now` missing-year default + parseTwoDigitYear (r5) -----------

NOW_YEAR_CASES = [
    # (input, now_year, expected ISO) — moment('12/08', 'MM/DD/YYYY') with
    # a pinned now = Dec 8 of now's year, midnight local (task.ts:66-76
    # via moment's missing-token defaulting)
    ("12/08 EST", 2025, "2025-12-08T05:00:00.000Z"),
    ("7/4 PDT", 2024, "2024-07-04T07:00:00.000Z"),  # summer: PDT = -7
    ("12/08", 2025, "2025-12-08T00:00:00.000Z"),  # no abbr → UTC wall
    ("02/30 EST", 2025, None),  # overflow under the pinned year
    # with a year present, the pin must be IGNORED
    ("12/08/2019 EST", 2025, "2019-12-08T05:00:00.000Z"),
    # two-digit year: moment parseTwoDigitYear (<=68 -> 2000s)
    ("12/08/25 18:27:47 UTC", 2025, "2025-12-08T18:27:47.000Z"),
    ("12/08/69 00:00:00 UTC", 2025, "1969-12-08T00:00:00.000Z"),
    ("12/08/68 00:00:00 UTC", None, "2068-12-08T00:00:00.000Z"),
    ("1/8/99 3:27:47 EST", None, "1999-01-08T08:27:47.000Z"),
    # golden NEGATIVE (r13, VERDICT r12 item 5): a bare mergeable digit
    # run must NOT be hijacked by the month/day pinned-now default even
    # when now_year is supplied — LENIENT_PAT_MD requires a non-digit
    # separator, so '123' still takes the accepted-delta 3-run backtrack
    # parse (1/2/year 3), NOT '2025-01-02'
    ("123", 2025, "0003-01-02T00:00:00.000Z"),
]


@pytest.mark.parametrize("raw,now_year,expected", NOW_YEAR_CASES)
def test_parse_time_pinned_now_golden(spark, raw, now_year, expected):
    got = (
        spark.range(1)
        .select(parse_alert_time_iso(F.lit(raw), now_year=now_year).alias("iso"))
        .first()["iso"]
    )
    assert got == expected, f"{raw!r}: got {got!r}, want {expected!r}"


def test_parse_time_pinned_now_cross_engine(spark):
    """The DuckDB replica (oracle_sql.parse_iso_sql with now_year) must
    agree with the Spark parse on every pinned-now and two-digit-year
    case — the same contract the o15 oracle enforces for the default
    path."""
    import duckdb

    from etl_active911_spark.pipeline.oracle_sql import _TZ_CASE, parse_iso_sql

    con = duckdb.connect()
    for raw, now_year, expected in NOW_YEAR_CASES:
        sql = parse_iso_sql(
            tz="(" + _TZ_CASE + ")", dp="dp", full="fullp", now_year=now_year
        )
        got = con.execute(
            f"""
            WITH t AS (SELECT TRIM(?) AS fullp),
            p AS (
                SELECT fullp,
                       regexp_extract(fullp, '(\\S+)$', 1) AS abbr,
                       TRIM(REGEXP_REPLACE(fullp, '\\s*\\S+$', '')) AS dp
                FROM t
            )
            SELECT {sql} FROM p
            """,
            [raw],
        ).fetchone()[0]
        assert got == expected, f"duckdb {raw!r}: got {got!r}, want {expected!r}"


# --- O-10 coordinate fallback (task.ts:172-185) ---------------------------


def geometry_of(spark, **overrides):
    rows = to_features(make_alert(spark, **overrides)).collect()
    return rows[0]["geometry"] if rows else None


def test_coords_passthrough(spark):
    geo = geometry_of(spark, lat="39.7", lon="-104.9")
    assert geo["coordinates"] == [-104.9, 39.7]  # lon-first (task.ts:229)


def test_coords_zero_lon_place_fallback_swaps(spark):
    # place is lat-first; output is lon-first (task.ts:173-181)
    geo = geometry_of(spark, lon="0", place=" 40.1 , -105.2 ")
    assert geo["coordinates"] == [-105.2, 40.1]


def test_coords_empty_string_is_zero(spark):
    # JS Number('') === 0 → triggers fallback (task.ts:172)
    geo = geometry_of(spark, lat="", place="41.5,-106.5")
    assert geo["coordinates"] == [-106.5, 41.5]


def test_coords_invalid_place_drops_row(spark):
    assert geometry_of(spark, lon="0", place="Station 5") is None  # task.ts:183


def test_coords_one_component_drops_row(spark):
    assert geometry_of(spark, lon="0", place="40.1") is None


def test_coords_three_components_uses_first_two(spark):
    geo = geometry_of(spark, lon="0", place="40.1,-105.2,extra")
    assert geo["coordinates"] == [-105.2, 40.1]


def test_coords_zero_zero_from_place_accepted(spark):
    # Number('0')==0 twice, but fallback only validates NaN — 0,0 survives
    geo = geometry_of(spark, lon="0", place="0,0")
    assert geo["coordinates"] == [0.0, 0.0]


def test_coords_nan_row_kept_with_null_coords(spark):
    # Number('N/A') is NaN; NaN !== 0 so the fallback branch is NOT taken
    # and the reference emits the feature with NaN coordinates
    # (task.ts:172-185). We represent JS NaN as NULL. ADVICE r01 alignment.
    geo = geometry_of(spark, lat="N/A", lon="-104.9", place="40.1,-105.2")
    assert geo is not None, "NaN-coordinate row must NOT be dropped"
    assert geo["coordinates"] == [-104.9, None]


def test_coords_nan_lon_kept_and_place_ignored(spark):
    # NaN lon + lat==0-triggering lat: lat=='' → Number 0 → fallback runs
    # (lat===0 is true even though lon is NaN, task.ts:172)
    geo = geometry_of(spark, lat="", lon="junk", place="41.5,-106.5")
    assert geo["coordinates"] == [-106.5, 41.5]


# --- O-13/O-14/O-19 responses (task.ts:121,187-209) -----------------------

RESPONSES = "\n".join(
    [
        "Got a response of Respond to Nick Ingalls(123456) at 12/08/2025 18:28:20 MST.",
        "Some noise line that is filtered",
        "Got a response of weird unmatched line",
        "Got a response of Arrived to Nick Ingalls(123456) at 12/08/2025 18:40:00 MST.",
        "Got a response of Respond to Jane Doe(654321) at 12/08/2025 18:30:00 MST.",
        "Got a response of another unmatched line",
    ]
)


def test_links_last_wins_and_insertion_order(spark):
    feats = to_features(make_alert(spark, responses=RESPONSES)).collect()
    links = feats[0]["properties"]["links"]
    # Map insertion order: Nick (first seen pos 0), Unknown (pos 2), Jane (pos 4)
    assert [l["callsign"] for l in links] == ["Nick Ingalls", "Unknown", "Jane Doe"]
    nick = links[0]
    assert nick["remarks"] == "Arrived"  # last-wins (task.ts:203)
    assert nick["relation"] == "t-s"
    unknown = links[1]
    # both unmatched lines dedup to the 'Unknown' key; last one wins but all
    # fields are the sentinel/None (task.ts:203-207)
    assert unknown["remarks"] == "Unknown" and unknown["production_time"] is None
    jane = links[2]
    assert jane["production_time"] is not None


def test_empty_responses_empty_links(spark):
    feats = to_features(make_alert(spark, responses="no prefix here")).collect()
    assert feats[0]["properties"]["links"] == []


# --- O-12/O-16 feature construction (task.ts:214-231) ---------------------


def test_array_native_equals_explode_formulation(spark):
    """The shuffle-free array-native links path must produce exactly the
    nested output of the explode+aggregate path (same fixture corpus)."""
    from etl_active911_spark.pipeline.fixtures import synthetic_alerts

    alerts = synthetic_alerts(spark, "/root/testdata/sf0.001").limit(300)
    a = to_features(alerts, array_native=True).collect()
    b = to_features(alerts, array_native=False).collect()
    canon = lambda rows: sorted((r["id"], repr(r["properties"]), repr(r["geometry"])) for r in rows)  # noqa: E731
    assert canon(a) == canon(b)


def test_memoized_features_reused_twice_in_one_plan(spark, monkeypatch):
    """``to_features`` reuses one memoized Column tree per session, so a
    plan that calls it twice (a union, a join on id) holds the same tree
    twice. Both plans must resolve and equal the plans built from fresh,
    unmemoized trees."""
    from etl_active911_spark.pipeline import active911
    from etl_active911_spark.pipeline.fixtures import synthetic_alerts
    from etl_active911_spark.plans import cache
    from tests.conftest import SF_SMOKE

    alerts = synthetic_alerts(spark, SF_SMOKE).limit(100)
    canon = lambda rows: sorted(repr(r) for r in rows)  # noqa: E731

    def results():
        a, b = to_features(alerts), to_features(alerts)
        joined = a.join(b.select("id", F.col("properties").alias("p2"), F.col("geometry").alias("g2")), "id")
        return canon(a.union(b).collect()), canon(joined.collect())

    assert active911._features() is active911._features()
    union, joined = results()
    assert len(union) == 2 * len(joined) > 0
    monkeypatch.setattr(cache, "memo_cols", lambda key, builder: builder())
    assert active911._features() is not active911._features()
    assert results() == (union, joined)


def test_schema_discovery_matches_actual_output(spark):
    """Entry point 3 (task.ts:83-96): the declared output schema must equal
    the schema the transform actually produces (the 'catalog' contract)."""
    from etl_active911_spark.pipeline.active911 import input_schema, output_schema

    alerts = make_alert(spark)
    # simpleString ignores nullability (literal-derived fields are non-null)
    assert alerts.schema.simpleString() == input_schema().simpleString()
    assert to_features(alerts).schema.simpleString() == output_schema().simpleString()


def test_feature_shape_and_remarks_whitespace(spark):
    feats = to_features(make_alert(spark)).collect()
    f = feats[0]
    assert f["id"] == "active911-1"
    assert f["type"] == "Feature"
    assert f["properties"]["callsign"] == "Structure Fire"
    expected_remarks = (
        "\n" + " " * 32 + "Groups: E1,L2"
        "\n" + " " * 32 + "Author: CAD"
        "\n" + " " * 32 + "Some details"
        "\n" + " " * 28
    )
    assert f["properties"]["remarks"] == expected_remarks  # task.ts:221-226
    assert f["geometry"]["type"] == "Point"


# --- hostile response logs: array-native == explode == goldens ------------

# (responses, expected links as (callsign, remarks, ISO production_time))
HOSTILE_LOGS = [
    # repeated callsign: the LAST line's values at the FIRST position
    (
        "Got a response of Respond to A B(1) at 12/08/2025 18:28:20 MST.\n"
        "Got a response of Respond to C(2) at 12/08/2025 18:29:00 EST.\n"
        "Got a response of Arrived to A B(1) at 12/08/2025 18:40:00 MST.",
        [
            ("A B", "Arrived", "2025-12-09T01:40:00.000Z"),
            ("C", "Respond", "2025-12-08T23:29:00.000Z"),
        ],
    ),
    # prefix-only line: unmatched → the 'Unknown' sentinel link
    ("Got a response of ", [("Unknown", "Unknown", None)]),
    # garbage time and month overflow → NULL time, link kept
    (
        "Got a response of Respond to G(3) at not a time.\n"
        "Got a response of Respond to M(4) at 13/01/2025 10:00:00 EST.",
        [("G", "Respond", None), ("M", "Respond", None)],
    ),
    # mangled whitespace (trimmed fields, doubled separators) and dashes
    (
        "Got a response of  Respond  to  W  (5) at 12/08/2025  18:27:47 EST.\n"
        "Got a response of Arrived to D(6) at 12-08-2025 18:27:47 CST.",
        [
            ("W", "Respond", "2025-12-08T23:27:47.000Z"),
            ("D", "Arrived", "2025-12-09T00:27:47.000Z"),
        ],
    ),
    # unknown abbreviation and no abbreviation → UTC; half-hour NST zone
    (
        "Got a response of Respond to X(7) at 12/08/2025 18:27:47 XYZ.\n"
        "Got a response of Respond to N(8) at 12/08/2025 18:27:47.\n"
        "Got a response of Respond to S(9) at 12/08/2025 18:27:47 NST.",
        [
            ("X", "Respond", "2025-12-08T18:27:47.000Z"),
            ("N", "Respond", "2025-12-08T18:27:47.000Z"),
            ("S", "Respond", "2025-12-08T21:57:47.000Z"),
        ],
    ),
    ("", []),
    (None, []),
]


def _hostile_alerts(spark):
    base = {c: "" for c in ALERT_COLUMNS}
    base.update(sent="12/08/2025 18:27:47 MST", lat="39.7", lon="-104.9")
    rows = [
        tuple({**base, "id": str(i), "responses": log}[c] for c in ALERT_COLUMNS)
        for i, (log, _links) in enumerate(HOSTILE_LOGS)
    ]
    return spark.createDataFrame(rows, ALERTS_SCHEMA)


def test_hostile_logs_links_golden(spark):
    from etl_active911_spark.pipeline.active911 import links_array_native

    got = {
        r["id"]: [(l["callsign"], l["remarks"], l["production_time"]) for l in r["links"]]
        for r in _hostile_alerts(spark)
        .select("id", links_array_native(time_as_iso=True).alias("links"))
        .collect()
    }
    for i, (log, want) in enumerate(HOSTILE_LOGS):
        assert got[str(i)] == want, f"{log!r}: got {got[str(i)]!r}, want {want!r}"


def test_hostile_logs_array_native_equals_explode(spark):
    alerts = _hostile_alerts(spark)
    a = to_features(alerts, array_native=True).collect()
    b = to_features(alerts, array_native=False).collect()
    canon = lambda rows: sorted((r["id"], repr(r["properties"])) for r in rows)  # noqa: E731
    assert len(a) == len(HOSTILE_LOGS)
    assert canon(a) == canon(b)


@pytest.mark.parametrize("now_year", [None, 2025])
def test_parse_same_at_top_level_and_inside_lambda(spark, now_year):
    """Each parse entry point binds its sub-expressions with lambda
    variables; nested inside a caller's ``transform`` lambda it must give
    exactly its top-level values. Compared as strings: the accepted-delta
    years 0 and 3 have no Python datetime."""
    from etl_active911_spark.functions.timeparse import parse_alert_time, parse_alert_time_ntz

    raws = [r for r, _ in TZ_CASES + ACCEPTED_DELTA_CASES] + [r for r, _, _ in NOW_YEAR_CASES]
    for fn in (parse_alert_time, parse_alert_time_ntz, parse_alert_time_iso):
        top = [
            r["v"]
            for r in spark.createDataFrame([(r,) for r in raws], "s string")
            .select(fn(F.col("s"), now_year).cast("string").alias("v"))
            .collect()
        ]
        nested = (
            spark.range(1)
            .select(
                F.transform(
                    F.array(*[F.lit(r) for r in raws]), lambda s: fn(s, now_year).cast("string")
                ).alias("v")
            )
            .first()["v"]
        )
        assert nested == top, fn.__name__
        assert any(v is not None for v in top) and any(v is None for v in top)
