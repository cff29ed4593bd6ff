"""Deterministic synthetic Active911 alert fixtures (FIXTURES.md §A).

``SYNTH_ALERTS_SQL`` is written in the common SQL subset of Spark SQL and
DuckDB, and derives the 24-column ``alerts_csv`` table (reference
OutputSchema, task.ts:18-43) purely from integer arithmetic on
``orders.o_orderkey`` — no RNG, no float formatting — so both engines
materialize byte-identical fixture tables. The driver's oracle check then
exercises the *transform* (pipeline/active911.py) on identical inputs.

Fixture coverage (per FIXTURES.md §A / task.ts):
- ``k10 = o_orderkey % 10``: 0 → lon='0' (fallback), 1 → lat='' (JS
  ``Number('') === 0`` → fallback), 2 → lat='N/A' (JS NaN: NOT === 0 so no
  fallback; the row is KEPT with NaN/NULL latitude, task.ts:172-185), else
  real coordinates.
- fallback rows: ``o_orderkey % 100 < 50`` → place carries ' lat , lon '
  (valid, exercises trim; lat-first per task.ts:173-181), else a malformed
  'Station N' → row dropped (task.ts:183).
- ``sent``/``received``: 'MM/DD/YYYY HH:mm:ss ABBR' covering all 18 tz
  abbreviations (task.ts:45-64) + unknown 'XYZ' (fallback path,
  task.ts:75) + every 23rd key abbreviation-LESS (moment parses the whole
  string in UTC — whole-string fallback, ADVICE r01) + moment-LENIENT
  malformed variants on ``o_orderkey % 29 ∈ 1..7`` (r4: mangled
  whitespace, unpadded digits, dash separators, trailing junk, garbage,
  month overflow, compact digits — see ``_SENT_FULL``). Local hours 06-17
  only: avoids DST-transition ambiguity, where moment-timezone and
  java.time may legally disagree (SURVEY.md §7).
- ``responses``: chronological lines (task.ts:194) with a repeated callsign
  (last-wins dedup), a prefix-matching but regex-unmatched line ('Unknown'
  sentinel), a noise line (filtered), and for k4=0 an empty-links alert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_active911_spark.io import read_table
from etl_active911_spark.plans.cache import plan_memo

_ABBRS = [
    "EDT", "EST", "CDT", "CST", "MDT", "MST", "PDT", "PST",
    "AKDT", "AKST", "HDT", "HST", "ADT", "AST", "NDT", "NST",
    "UTC", "GMT", "XYZ",  # XYZ = unknown abbreviation → UTC fallback
]

_ABBR_CASE = "CASE CAST(o_orderkey % 19 AS INT) " + " ".join(
    f"WHEN {i} THEN '{a}'" for i, a in enumerate(_ABBRS)
) + " END"

# 'MM/DD/YYYY HH:mm:ss' from pure integer arithmetic (no date formatting —
# strftime patterns differ between engines).
_MM = "LPAD(CAST(1 + o_orderkey % 12 AS STRING), 2, '0')"
_DD = "LPAD(CAST(1 + o_orderkey % 28 AS STRING), 2, '0')"
_YY = "CAST(1995 + o_orderkey % 8 AS STRING)"
_HH = "LPAD(CAST(6 + o_orderkey % 12 AS STRING), 2, '0')"
_MI = "LPAD(CAST(o_orderkey % 60 AS STRING), 2, '0')"
_SS = "LPAD(CAST((o_orderkey * 7) % 60 AS STRING), 2, '0')"
# unpadded variants (moment-lenient coverage: single-digit fields)
_MM_U = "CAST(1 + o_orderkey % 12 AS STRING)"
_DD_U = "CAST(1 + o_orderkey % 28 AS STRING)"
_HH_U = "CAST(6 + o_orderkey % 12 AS STRING)"

_SENT_TS = f"{_MM} || '/' || {_DD} || '/' || {_YY} || ' ' || {_HH} || ':' || {_MI} || ':' || {_SS}"

# Response-line time: fixed simple January dates, EST.
_RESP_TS = (
    "'01/' || LPAD(CAST(1 + o_orderkey % 9 AS STRING), 2, '0') || "
    "'/2025 ' || LPAD(CAST(6 + o_orderkey % 10 AS STRING), 2, '0') || "
    "':15:' || LPAD(CAST(o_orderkey % 50 AS STRING), 2, '0')"
)

# Malformed-date coverage (r4, VERDICT r03 item 4 — moment parses these
# leniently and so must both engines): keyed on o_orderkey % 29 so every
# variant lands on every tz abbreviation over the fixture. Case 1 mangled
# interior whitespace, 2 unpadded single-digit fields, 3 dash separators,
# 4 trailing junk glued to the seconds, 5 pure garbage (NULL), 6 month
# overflow (NULL — moment's overflow rule), 7 compact digits (no
# separators at all; moment's unanchored token regexes still match).
#
# FACTORED FORM (r14, a911 anchor attribution): the r4 inline form
# repeated the 19-branch tz CASE 14× across sent+received, ballooning the
# SQL text to the point that PARSING it dominated the a911 anchor (plan
# build ~0.9 s vs 0.44 s execution, BASELINE.md r14). The date fields and
# the tz abbreviation are now computed ONCE in an inner subquery and the
# sent string ONCE in a mid subquery (referenced by both `received` and
# `sent`). Values are byte-identical — same expressions, factored through
# named columns; both engines run the same factored text.
_TS_N = "f_mm || '/' || f_dd || '/' || f_yy || ' ' || f_hh || ':' || f_mi || ':' || f_ss"
_SENT_FULL_N = (
    f"CASE CAST(o_orderkey % 29 AS INT) "
    f"WHEN 1 THEN f_mm || '/' || f_dd || '/' || f_yy || '  ' || f_hh || ':' || f_mi || ':' || f_ss || ' ' || tzabbr "
    f"WHEN 2 THEN f_mmu || '/' || f_ddu || '/' || f_yy || ' ' || f_hhu || ':' || f_mi || ':' || f_ss || ' ' || tzabbr "
    f"WHEN 3 THEN f_mm || '-' || f_dd || '-' || f_yy || ' ' || f_hh || ':' || f_mi || ':' || f_ss || ' ' || tzabbr "
    f"WHEN 4 THEN {_TS_N} || 'junk ' || tzabbr "
    f"WHEN 5 THEN 'not a date at all' "
    f"WHEN 6 THEN '99/99/' || f_yy || ' 10:00:00 ' || tzabbr "
    f"WHEN 7 THEN f_mm || f_dd || f_yy || ' ' || f_hh || ':' || f_mi || ':' || f_ss || ' ' || tzabbr "
    f"ELSE CASE WHEN o_orderkey % 23 = 0 THEN {_TS_N} "
    f"ELSE {_TS_N} || ' ' || tzabbr END END"
)

_PARTS_SQL = f"""
SELECT o_orderkey,
    {_ABBR_CASE} AS tzabbr,
    {_MM} AS f_mm, {_DD} AS f_dd, {_YY} AS f_yy,
    {_HH} AS f_hh, {_MI} AS f_mi, {_SS} AS f_ss,
    {_MM_U} AS f_mmu, {_DD_U} AS f_ddu, {_HH_U} AS f_hhu,
    {_RESP_TS} AS resp_ts
FROM orders
"""

SYNTH_ALERTS_SQL = f"""
SELECT
    CAST(o_orderkey AS STRING) AS id,
    sentv AS received,
    sentv AS sent,
    CAST(o_orderkey % 4 AS STRING) AS priority,
    'Incident ' || CAST(o_orderkey % 13 AS STRING) AS description,
    'Details for alert ' || CAST(o_orderkey AS STRING) AS details,
    '' AS external_data,
    CASE
        WHEN o_orderkey % 10 IN (0, 1) AND o_orderkey % 100 < 50
            THEN ' 40.' || CAST(o_orderkey % 1000 AS STRING) || ' , -105.' || CAST(o_orderkey % 997 AS STRING) || ' '
        WHEN o_orderkey % 10 IN (0, 1)
            THEN 'Station ' || CAST(o_orderkey % 30 AS STRING)
        ELSE 'HQ Building'
    END AS place,
    CAST(100 + o_orderkey % 900 AS STRING) || ' Main St' AS address,
    'Unit ' || CAST(o_orderkey % 20 AS STRING) AS unit,
    'Cross ' || CAST(o_orderkey % 11 AS STRING) AS cross_street,
    'City' || CAST(o_orderkey % 6 AS STRING) AS city,
    'CO' AS state,
    CASE WHEN o_orderkey % 10 = 1 THEN ''
         WHEN o_orderkey % 10 = 2 THEN 'N/A'
         ELSE '39.' || CAST(o_orderkey % 10000 AS STRING) END AS lat,
    CASE WHEN o_orderkey % 10 = 0 THEN '0' ELSE '-104.' || CAST(o_orderkey % 9973 AS STRING) END AS lon,
    'cad' AS coordinate_source,
    'CAD' || CAST(o_orderkey % 7 AS STRING) AS source,
    'E' || CAST(o_orderkey % 50 AS STRING) || ',L' || CAST(o_orderkey % 21 AS STRING) AS units,
    'CODE' || CAST(o_orderkey % 9 AS STRING) AS cad_code,
    '' AS map_code,
    'MAP' || CAST(o_orderkey % 5 AS STRING) AS map_id,
    'AK' || CAST(o_orderkey AS STRING) AS alert_key,
    '' AS messages,
    CASE WHEN o_orderkey % 4 = 0
        THEN 'Noise line without the magic prefix'
        ELSE
            'Got a response of Responding to Unit ' || CAST(o_orderkey % 5 AS STRING)
              || '(' || CAST(10000 + o_orderkey % 500 AS STRING) || ') at ' || resp_ts || ' EST.'
            || CHR(10) ||
            'Got a response of Watch to Medic ' || CAST(o_orderkey % 3 AS STRING)
              || '(' || CAST(20000 + o_orderkey % 500 AS STRING) || ') at ' || resp_ts || ' CST.'
            || CHR(10) ||
            'Got a response of malformed line with no parens'
            || CHR(10) ||
            'Got a response of Arrived to Unit ' || CAST(o_orderkey % 5 AS STRING)
              || '(' || CAST(10000 + o_orderkey % 500 AS STRING) || ') at ' || resp_ts || ' MST.'
            || CHR(10) ||
            'Unrelated noise line'
    END AS responses
FROM (
    SELECT o_orderkey, resp_ts, {_SENT_FULL_N} AS sentv
    FROM ({_PARTS_SQL}) AS fx_parts
) AS fx_sent
"""


def synthetic_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic alerts table in Spark (same SQL text the DuckDB
    oracle runs, so inputs are identical on both sides). About 30
    registered queries read it, so its analyzed plan is memoized
    (``plan_memo``, rule 35: the SQL parse and analysis cost ~0.35 s per
    build) and invalidated when ``orders.parquet`` changes."""

    def build() -> DataFrame:
        read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
        return spark.sql(SYNTH_ALERTS_SQL)

    return plan_memo("fixtures.synthetic_alerts", spark, sf_dir, build, table="orders")
