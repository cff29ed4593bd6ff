"""Timezone-abbreviation-normalized timestamp parsing (O-15).

Reproduces ``parseTime`` (reference task.ts:66-76) and its 18-entry
abbreviation→IANA map (task.ts:45-64) as a pure Column expression —
JVM-side, no UDF.

Semantics (pinned by golden tests):
- trim, split on single spaces; the last token is the tz abbreviation.
- known abbreviation → parse the rest as local wall time in the mapped
  IANA zone, emit UTC.
- unknown abbreviation → the reference parses the WHOLE string with
  moment's 'z' token, which is a parse-time no-op, in zone UTC
  (task.ts:75) — so an abbreviation-less but well-formed input
  ('12/08/2025 18:27:47') parses as UTC (ADVICE r01).
- LENIENT parse (r4, VERDICT r03 item 4): moment's non-strict parser does
  not require the input to match 'MM/DD/YYYY HH:mm:ss' literally — it
  extracts one digit run per format token, in order, skipping any
  separators and junk between them (public moment.js parse internals:
  each token regex, e.g. /\\d\\d?/ for MM, is matched UNANCHORED against
  the remaining input and everything before the match is discarded).
  ``_LENIENT_PAT`` reproduces exactly that: 6 ordered digit-run groups
  with lazy non-digit gaps, month/day/year required, time components
  defaulting to 0 when absent — so '12/08/2025  18:27:47' (mangled
  whitespace), '1/8/2025 3:27:47' (unpadded), '12-08-2025 18:27:47'
  (wrong separators), and trailing junk all parse exactly as moment does,
  while out-of-range components (month 13, hour 99) yield NULL exactly as
  moment's overflow check does.
- unparseable input → NULL timestamp (moment emits a null ISO string).
- MISSING YEAR (r5, VERDICT r04 item 6): moment defaults it to the
  current year — non-deterministic unless the reference instant is
  pinned. Every parse entry point accepts ``now_year``: when set, a
  month/day-only input (exactly two digit runs — ``LENIENT_PAT_MD``)
  parses as that year at midnight, reproducing moment's default against
  an injected now; when None (the default for the production pipeline
  queries) such inputs stay NULL so oracle results remain deterministic.
  Since r9 the pinned-now path carries its own DRIVER-checkable
  registered query (``o15_time_parse_pinned_now``, pipeline/queries.py:
  literal ``PINNED_NOW_YEAR`` injected into BOTH engines), closing the
  last O-15 fidelity sliver (VERDICT r08 item 7).
- TWO-DIGIT YEAR (r5, ADVICE r04): moment routes an exactly-2-digit
  year through ``parseTwoDigitYear`` — ≤ 68 → 2000s, else 1900s
  ('25' → 2025, '69' → 1969). Replicated in both engines (1/3/4-digit
  years still cast literally).
  LEDGER CLOSED (r10, VERDICT r09 item 8) — the two remaining
  divergences are PERMANENT ACCEPTED DELTAS, pinned by goldens
  (tests/test_active911.py::test_parse_time_accepted_deltas_final), both
  outside any reachable input shape: (b) strings whose digit runs can be
  re-split by regex backtracking (e.g. '123' → moment NULL, we parse
  month 1/day 2/year 3 — accepted because BOTH engines share LENIENT_PAT
  verbatim so parity is unaffected, and ``LENIENT_PAT_MD`` deliberately
  requires a non-digit separator so '123' never month/day-parses; both
  directions are golden-pinned — the backtrack parse by
  tests/test_active911.py::test_parse_time_accepted_deltas_final, the
  MD-path rejection under a pinned now by the '123' case of
  ::test_parse_time_pinned_now_golden [r13, VERDICT r12 item 5]);
  (c) year 0 parses here as proleptic ISO year 0 but renders as a BC
  date in the DuckDB oracle — accepted by excluding year-0 rows from
  fixtures (the parse itself is golden-pinned so the exclusion stays a
  decision, not an accident). No further O-15 work is planned.
- DST-ambiguous local times resolve to the earlier offset (java.time);
  moment-timezone agrees for US zones. Golden fixtures avoid the 2am
  transition window entirely (SURVEY.md §7 hard-part #1).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# task.ts:45-64 — exact mapping, including the quirks (HDT→Honolulu even
# though Hawaii observes no DST; NDT/NST→St_Johns half-hour zone).
TIMEZONE_MAPPINGS: dict[str, str] = {
    "EDT": "America/New_York",
    "EST": "America/New_York",
    "CDT": "America/Chicago",
    "CST": "America/Chicago",
    "MDT": "America/Denver",
    "MST": "America/Denver",
    "PDT": "America/Los_Angeles",
    "PST": "America/Los_Angeles",
    "AKDT": "America/Anchorage",
    "AKST": "America/Anchorage",
    "HDT": "Pacific/Honolulu",
    "HST": "Pacific/Honolulu",
    "ADT": "America/Halifax",
    "AST": "America/Halifax",
    "NDT": "America/St_Johns",
    "NST": "America/St_Johns",
    "UTC": "UTC",
    "GMT": "Etc/GMT",
}

def _tz_map_lit() -> Column:
    # Built lazily: F.lit requires an active SparkSession, and this module
    # is imported by the registry before any session exists.
    return F.create_map(*[F.lit(x) for pair in TIMEZONE_MAPPINGS.items() for x in pair])


ALERT_TIME_FORMAT = "MM/dd/yyyy HH:mm:ss"  # the nominal shape; parse is lenient

#: moment non-strict 'MM/DD/YYYY HH:mm:ss': 6 ordered digit runs, lazy
#: non-digit gaps, time components optional. Shared verbatim (module-level
#: SQL mirror below) with the DuckDB oracle — both engines run the same
#: regex, and neither uses possessive quantifiers so backtracking behavior
#: matches between java.util.regex and RE2.
LENIENT_PAT = (
    r"(\d{1,2})\D*?(\d{1,2})\D*?(\d{1,4})"
    r"(?:\D*?(\d{1,2})(?:\D*?(\d{1,2})(?:\D*?(\d{1,2}))?)?)?"
)

#: Month/day-only shape for the pinned-``now`` missing-year default:
#: exactly TWO digit runs with a mandatory non-digit separator (so a bare
#: run like '123' stays unparseable, matching moment — divergence (b)).
LENIENT_PAT_MD = r"^\D*(\d{1,2})\D+(\d{1,2})\D*$"


def _two_digit_year(raw: Column) -> Column:
    """moment ``parseTwoDigitYear``: an exactly-2-digit year maps ≤ 68 →
    2000s, else 1900s; other widths cast literally."""
    y = raw.cast("int")
    return F.when(
        F.length(raw) == 2, F.when(y <= 68, y + 2000).otherwise(y + 1900)
    ).otherwise(y)


def let(x: Column, f: Callable[[Column], Column]) -> Column:
    """Evaluate ``x`` ONCE and pass its value to ``f`` as a lambda variable:
    ``element_at(transform(array(x), f), 1)``. Lambda bodies are
    interpreted with no common-subexpression elimination (CLAUDE.md rule
    1), and neither are CASE branches — a sub-expression referenced k
    times there is evaluated k times. Binding it first makes that once."""
    return F.element_at(F.transform(F.array(x), f), 1)


def _groups(s: Column, pat: str, n: int, f: Callable[[Callable[[int], Column]], Column]) -> Column:
    """Bind ``pat``'s capture groups 1..n of ``s`` once; ``f`` receives
    ``g(i)``, group i with '' (no match) as NULL. ``nullif(a, b)`` reads
    ``a`` twice, so it applies to the bound field, never to the extract."""
    groups = F.struct(*[F.regexp_extract(s, pat, i).alias(f"g{i}") for i in range(1, n + 1)])
    return let(groups, lambda v: f(lambda i: F.nullif(v[f"g{i}"], F.lit(""))))


def _lenient_wall(col: Column, now_year: int | None = None) -> Column:
    """moment-non-strict parse → LOCAL wall clock as TIMESTAMP_NTZ (NULL
    when month/day/year can't be extracted or any component overflows —
    ``try_make_timestamp_ntz`` applies exactly moment's overflow rule).
    ``now_year`` pins moment's missing-year default (module docstring).

    Cost note: the input is bound once (``let``), and so are the
    ``LENIENT_PAT`` groups — one ``regexp_extract`` per group per row.
    A strict-format fast path runs first — one parse attempt instead of
    six regex extractions. When it succeeds the lenient extraction would
    produce the identical components (an exact 'MM/dd/yyyy HH:mm:ss'
    match IS six separator-delimited digit runs with a 4-digit year — the
    strict 'yyyy' token never accepts the 2-digit shape, so
    parseTwoDigitYear rows always reach the lenient branch), so only
    malformed rows pay the regex extractions. Measured r5: collapsing the
    six ``regexp_extract`` calls into ONE ``(?s)^.*?PAT.*$``
    regexp_replace emitting all groups + split is ~70% SLOWER — the
    anchored wrapper backtracks harder than six cached-pattern extracts.
    ``to_timestamp_ntz`` is guarded behind the try-probe because it
    throws on malformed input under ANSI mode."""

    def wall(s: Column) -> Column:
        def full(g: Callable[[int], Column]) -> Column:
            opt = lambda i: F.coalesce(g(i).cast("int"), F.lit(0))  # noqa: E731
            return F.try_make_timestamp_ntz(
                _two_digit_year(g(3)), g(1).cast("int"), g(2).cast("int"), opt(4), opt(5), opt(6)
            )

        lenient = _groups(s, LENIENT_PAT, 6, full)
        if now_year is not None:
            # checked FIRST: on a 2-run input the 6-run pattern would
            # backtrack-SPLIT the second run into day+year ('02/30' → day 3,
            # year 0) — moment instead leaves the year token empty and
            # defaults it, so an MD-shaped string is always the MD parse
            # (including its overflow NULLs: Feb 30 stays invalid)
            def md_or_full(m: Callable[[int], Column]) -> Column:
                md_ts = F.try_make_timestamp_ntz(
                    F.lit(int(now_year)), m(1).cast("int"), m(2).cast("int"),
                    F.lit(0), F.lit(0), F.lit(0),
                )
                return F.when(m(1).isNotNull(), md_ts).otherwise(lenient)

            lenient = _groups(s, LENIENT_PAT_MD, 2, md_or_full)
        fmt = F.lit(ALERT_TIME_FORMAT)
        strict_ok = F.try_to_timestamp(s, fmt).isNotNull()
        return F.when(strict_ok, F.to_timestamp_ntz(s, fmt)).otherwise(lenient)

    return let(col, wall)


def parse_alert_time_ntz(col: Column, now_year: int | None = None) -> Column:
    """'MM/DD/YYYY HH:mm:ss ABBR' string → the UTC wall clock as
    TIMESTAMP_NTZ — fully session-independent representation for
    oracle-checked queries.

    Dispatch per the reference: a known trailing abbreviation → parse only
    the string minus that token (task.ts:71) as local wall time in the
    mapped zone (task.ts:70-73); otherwise parse the WHOLE string in UTC
    (task.ts:75 — moment's 'z' token is a parse no-op and the lenient
    parser skips a trailing unknown token as junk anyway). The trimmed
    input and the zone lookup are each bound once, and so is the lenient
    parse: a row without a known zone converts UTC → UTC, the identity."""

    def dispatch(s: Column) -> Column:
        def in_zone(tz: Column) -> Column:
            date_part = F.trim(F.regexp_replace(s, r"\s*\S+$", ""))
            wall = _lenient_wall(F.when(tz.isNotNull(), date_part).otherwise(s), now_year)
            return F.convert_timezone(F.coalesce(tz, F.lit("UTC")), F.lit("UTC"), wall)

        return let(F.try_element_at(_tz_map_lit(), F.regexp_extract(s, r"(\S+)$", 1)), in_zone)

    return let(F.trim(col), dispatch)


def parse_alert_time(col: Column, now_year: int | None = None) -> Column:
    """Same parse as ``parse_alert_time_ntz``, as a UTC-instant timestamp.

    Session-timezone independence (r7, ADVICE r06): the instant is built
    with ``make_timestamp(fields..., 'UTC')`` from the UTC wall clock's
    own fields — the session zone never touches the value, so the result
    is exact for EVERY session zone including ones with DST. (The r6 form
    ``from_utc_timestamp(ntz.cast(timestamp), current_timezone())``
    round-tripped through the session zone: the cast applies the session
    offset at the WALL, the un-shift at the INSTANT — equal for
    fixed-offset zones but off by an hour inside a DST transition window
    of a DST session zone, and the driver's session zone is unknown.)
    ``extract(SECOND)`` carries the fractional part (DECIMAL(8,6)), so
    millisecond precision survives.

    ``now_year`` (optional) pins moment's missing-year default — the year
    of the reference instant 'now' in the input's zone frame.
    """
    return let(
        parse_alert_time_ntz(col, now_year),
        lambda t: F.make_timestamp(
            F.year(t),
            F.month(t),
            F.dayofmonth(t),
            F.hour(t),
            F.minute(t),
            F.extract(F.lit("SECOND"), t),
            F.lit("UTC"),
        ),
    )


def parse_alert_time_iso(col: Column, now_year: int | None = None) -> Column:
    """The reference's exact output shape: ISO-8601 'yyyy-MM-ddTHH:mm:ss.SSSZ'
    UTC string (moment ``toISOString``, task.ts:72,75), NULL when invalid."""
    return F.date_format(parse_alert_time_ntz(col, now_year), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")


def sent_iso_col(name: str = "sent", now_year: int | None = None) -> Column:
    """Memoized ``parse_alert_time_iso(F.col(name))`` (r14, a911 anchor
    attribution — BASELINE.md r14: building this Column costs ~0.13 s of
    py4j round trips PER CALL, paid by every a911-family query
    invocation). Routed through ``plans.cache.memo_cols`` (ADVICE r14
    item 2) so the entry shares the applicationId-scoped invalidation —
    a SparkContext restart in the same process must not serve stale
    py4j handles. Built lazily — never at import (CLAUDE.md rule 15)."""
    from etl_active911_spark.plans.cache import memo_cols

    return memo_cols(
        f"timeparse.sent_iso:{name}:{now_year}",
        lambda: parse_alert_time_iso(F.col(name), now_year),
    )

