"""F1 domain expression library — native Column expressions only.

Centralizes the domain constants and scalar logic the reference scatters
across UDFs and transforms (SURVEY §7.4.10): the points table, fastest-lap
bonus rule, status buckets, team-name standardization, and time formatting.
Every function returns a Column built from pyspark.sql.functions, keeping
whole-stage codegen and predicate pushdown intact (reference used 8 row-wise
Python UDFs for these — SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference: src/jobs/config/job_config.py:267-269, common.py:232-262.
POINTS_BY_POSITION = (25, 18, 15, 12, 10, 8, 6, 4, 2, 1)
SPRINT_POINTS_BY_POSITION = (8, 7, 6, 5, 4, 3, 2, 1)
FASTEST_LAP_BONUS = 1
FASTEST_LAP_MAX_POSITION = 10

# Reference: src/jobs/utils/transformations/common.py:58-142.
TEAM_NAME_MAP = {
    "red bull racing": "Red Bull Racing",
    "oracle red bull racing": "Red Bull Racing",
    "mercedes": "Mercedes",
    "mercedes amg petronas": "Mercedes",
    "ferrari": "Ferrari",
    "scuderia ferrari": "Ferrari",
    "mclaren": "McLaren",
    "aston martin": "Aston Martin",
    "alpine": "Alpine",
    "williams": "Williams",
    "rb": "RB",
    "visa cash app rb": "RB",
    "racing bulls": "RB",
    "kick sauber": "Kick Sauber",
    "sauber": "Kick Sauber",
    "haas": "Haas",
    "haas f1 team": "Haas",
    "moneygram haas f1 team": "Haas",
}

# Reference: sessions_transform.py:277-316 — locations that host sprints.
SPRINT_LOCATIONS = ("china", "miami", "austria", "united states", "sao paulo", "qatar", "belgium")


def points_for_position(position: Column, sprint: bool = False) -> Column:
    """F1 points when/otherwise chain (race_results_transform.py:157-171)."""
    table = SPRINT_POINTS_BY_POSITION if sprint else POINTS_BY_POSITION
    expr = F.lit(0)
    for pos, pts in reversed(list(enumerate(table, start=1))):
        expr = F.when(position == pos, pts).otherwise(expr)
    return expr.cast("int")


def fastest_lap_bonus(position: Column, has_fastest_lap: Column) -> Column:
    """+1 only when finishing inside the top 10 (common.py:232-262)."""
    return (
        F.when(
            has_fastest_lap & position.isNotNull() & (position <= FASTEST_LAP_MAX_POSITION),
            FASTEST_LAP_BONUS,
        )
        .otherwise(0)
        .cast("int")
    )


def standardize_team_name(col: Column) -> Column:
    """Map raw team names to canonical ones (common.py:58-142) — a when-chain
    over a lowercase/suffix-stripped key instead of a Python UDF."""
    key = F.regexp_replace(F.lower(F.trim(col)), r"\s+(f1|formula 1)\s+team$", "")
    expr: Column = F.trim(col)
    for raw, canonical in TEAM_NAME_MAP.items():
        expr = F.when(key == raw, canonical).otherwise(expr)
    return expr


def standardize_race_status(
    dnf: Column, dns: Column, dsq: Column, position: Column
) -> Column:
    """Keyword-bucket status ladder (common.py:265-318,
    race_results_transform.py:264-289): DSQ > DNS > DNF > Finished."""
    return (
        F.when(dsq, "DSQ")
        .when(dns, "DNS")
        .when(dnf, "DNF")
        .when(position.isNotNull(), "Finished")
        .otherwise("Unknown")
    )


def qualifying_status(
    dsq: Column, dns: Column, q1: Column, q2: Column, q3: Column
) -> Column:
    """Qualifying elimination ladder (qualifying_transform.py:240-248):
    DSQ > DNS > Q3 > Q2-OUT > Q1-OUT > DNQ."""
    return (
        F.when(dsq, "DSQ")
        .when(dns, "DNS")
        .when(q3.isNotNull(), "Q3")
        .when(q2.isNotNull(), "Q2-OUT")
        .when(q1.isNotNull(), "Q1-OUT")
        .otherwise("DNQ")
    )


def session_name_for_type(session_type: Column) -> Column:
    """Descriptive session name (sessions_transform.py:213-218)."""
    return (
        F.when(session_type == "qualifying", "Qualifying Session")
        .when(session_type == "race", "Race Session")
        .otherwise(session_type)
    )


def detect_sprint_weekend(location: Column) -> Column:
    """Substring membership over the sprint-location list
    (sessions_transform.py:277-316) as a single rlike."""
    pattern = "|".join(loc.replace(" ", r"\s+") for loc in SPRINT_LOCATIONS)
    return F.lower(location).rlike(pattern)


def seconds_to_millis(col: Column) -> Column:
    """round(x*1000) → BIGINT (qualifying_transform.py:151-172)."""
    return F.round(col * 1000).cast("long")


def format_millis(ms: Column) -> Column:
    """millis → 'H:MM:SS.mmm' (race_results_transform.py:210-234) using only
    integer arithmetic + lpad/concat (stays in codegen)."""
    h = (ms / F.lit(3600000)).cast("long")
    m = (ms % 3600000 / F.lit(60000)).cast("long")
    s = (ms % 60000 / F.lit(1000)).cast("long")
    frac = (ms % 1000).cast("long")
    return F.concat(
        h.cast("string"),
        F.lit(":"),
        F.lpad(m.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(s.cast("string"), 2, "0"),
        F.lit("."),
        F.lpad(frac.cast("string"), 3, "0"),
    )


def time_string_to_millis(col: Column) -> Column:
    """Time-string → BIGINT millis (common.py:145-206 ``calculate_time_millis``),
    as a pure regexp/arithmetic expression (stays in codegen, no UDF).

    Formats: 'H:MM:SS.mmm', 'M:SS.mmm', 'SS.mmm', plain integer seconds;
    anything else → NULL. Reference quirks preserved exactly: the fractional
    part is parsed as an INTEGER MILLIS COUNT, not a decimal fraction
    ('1:23.4' → 4 ms, '1:23.456789' → 456789 ms). Deviation: exotic float
    forms the reference's ``float()`` would accept ('1e3') parse as NULL here.
    """
    s = F.trim(col.cast("string"))
    hms = r"^(\d+):(\d+):(\d+)(?:\.(\d+))?$"
    mmss = r"^(\d+):(\d+)(?:\.(\d+))?$"
    ssmmm = r"^(\d+)\.(\d+)$"
    plain = r"^\d+$"

    def _g(pattern: str, idx: int) -> Column:
        return F.regexp_extract(s, pattern, idx).cast("long")

    def _frac(pattern: str, idx: int) -> Column:
        # optional fractional group: '' (no match) casts to NULL → 0
        return F.coalesce(F.regexp_extract(s, pattern, idx).cast("long"), F.lit(0))

    return (
        F.when(
            s.rlike(hms),
            _g(hms, 1) * 3600000 + _g(hms, 2) * 60000 + _g(hms, 3) * 1000 + _frac(hms, 4),
        )
        .when(s.rlike(mmss), _g(mmss, 1) * 60000 + _g(mmss, 2) * 1000 + _frac(mmss, 3))
        .when(s.rlike(ssmmm), _g(ssmmm, 1) * 1000 + _g(ssmmm, 2))
        .when(s.rlike(plain), s.cast("long") * 1000)
        .otherwise(F.lit(None).cast("long"))
    )


def format_lap_time(ms: Column) -> Column:
    """millis → 'M:SS.mmm' (laps_transform.py:187-204)."""
    m = (ms / F.lit(60000)).cast("long")
    s = (ms % 60000 / F.lit(1000)).cast("long")
    frac = (ms % 1000).cast("long")
    return F.concat(
        m.cast("string"),
        F.lit(":"),
        F.lpad(s.cast("string"), 2, "0"),
        F.lit("."),
        F.lpad(frac.cast("string"), 3, "0"),
    )
