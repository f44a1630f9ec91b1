"""Silver transforms: bronze → 6 cleaned silver tables.

Pure DataFrame→DataFrame functions (no writes, no eager counts — the runner
owns IO), reproducing the reference's silver column surface exactly
(schemas.py:16-135) with zero Python UDFs:

- sessions     ≙ silver/sessions_transform.py   (distinct sessions, GP-name
  normalization, session_name, sprint detection, duration)
- drivers      ≙ SCD2 via operators/scd2        (scd.py:199-245) + total_races
  (common.py:526-558 — the A3 countDistinct with the J3 fillna backfill)
- qualifying   ≙ silver/qualifying_transform.py (Q1/Q2/Q3 array split,
  fastest time, gap to pole W1, elimination-ladder status)
- race_results ≙ silver/race_results_transform.py (points table, status
  ladder, time formatting, gold-deferred NULL placeholders)
- laps         ≙ silver/laps_transform.py       (sector fallback, W2/W3
  personal-best & fastest-lap flags with tie-break, strategy placeholders)
- pitstops     ≙ silver/pitstops_transform.py   (ms→DECIMAL(6,3) s, validity
  range filter, strategy placeholders)

Session-type case is normalized ONCE here to lowercase canonical form —
fixing the reference's silver-lowercase vs gold-Titlecase inconsistency
(SURVEY §7.4.3).

Deliberate deviation: the reference's final race filter drops position-NULL
rows (race_results_transform.py:322-327), which silently loses unclassified
DNFs; we retain them so DNF accounting in gold stays complete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.functions.f1 import (
    detect_sprint_weekend,
    format_lap_time,
    format_millis,
    points_for_position,
    qualifying_status,
    seconds_to_millis,
    session_name_for_type,
    standardize_race_status,
    standardize_team_name,
)
from f1_datalakehouse_pipeline_spark.functions.names import normalize_grand_prix_name
from f1_datalakehouse_pipeline_spark.operators.scd2 import scd2_from_observations
from f1_datalakehouse_pipeline_spark.schemas import conform


def _with_audit(df: DataFrame) -> DataFrame:
    """created/updated audit columns (common.py:209-230)."""
    now = F.current_timestamp()
    return df.withColumn("created_timestamp", now).withColumn("updated_timestamp", now)


def transform_sessions(session_result: DataFrame) -> DataFrame:
    """Distinct sessions + derived fields (sessions_transform.py:135-234)."""
    sessions = (
        session_result.select(
            "session_key",
            "meeting_key",
            "year",
            F.lower(F.col("session_type")).alias("session_type"),
            "meeting_name",
            "date_start",
            "date_end",
        )
        .filter(F.col("session_key").isNotNull() & F.col("date_start").isNotNull())
        .distinct()  # A1: one row per session from per-driver rows
    )
    return conform(
        _with_audit(
            sessions.select(
                "*",
                session_name_for_type(F.col("session_type")).alias("session_name"),
                normalize_grand_prix_name(F.col("meeting_name")).alias("grand_prix_name"),
                (
                    (F.unix_timestamp("date_end") - F.unix_timestamp("date_start")) / 60
                )
                .cast("int")
                .alias("session_duration_minutes"),
                detect_sprint_weekend(F.col("meeting_name")).alias("is_sprint_weekend"),
            )
        ),
        "sessions_silver",
    )


def _driver_observations(drivers: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """J1 join attaching session dates/types to driver rows (common.py:500-523).

    Bronze partition columns (session_type et al.) are dropped first — the
    session dim is the canonical source for them.
    """
    return (
        drivers.drop("session_type", "grand_prix", "year")
        .filter(F.col("driver_number").isNotNull())
        .join(
            sessions_silver.select("session_key", "date_start", "session_type"),
            "session_key",
            "inner",
        )
        .select(
            F.col("driver_number").cast("int").alias("driver_number"),
            standardize_team_name(F.col("team_name")).alias("team_name"),
            "broadcast_name",
            "full_name",
            "name_acronym",
            "country_code",
            "team_colour",
            "date_start",
            "session_type",
            "session_key",
        )
    )


def total_races_per_driver(obs: DataFrame) -> DataFrame:
    """A3: countDistinct race sessions per driver (common.py:536-556)."""
    return (
        obs.filter(F.col("session_type") == "race")
        .groupBy("driver_number")
        .agg(F.countDistinct("session_key").alias("total_races"))
    )


def transform_drivers_scd2(drivers: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """SCD2 driver dimension from per-session driver observations.

    Generic SCD2 build collapses per-driver team stints (scd.py:199-245
    semantics with the F.max-intent fix); latest non-team attributes attach
    deterministically; total_races backfills via left join + fillna(0) (J3,
    common.py:549-556).
    """
    obs = _driver_observations(drivers, sessions_silver)
    dim = scd2_from_observations(
        obs,
        entity_col="driver_number",
        attr_col="team_name",
        order_cols=["date_start", "session_key"],
        time_col="date_start",
    )
    w_latest = Window.partitionBy("driver_number").orderBy(
        F.col("date_start").desc(), F.col("session_key").desc()
    )
    latest = (
        obs.withColumn("rn", F.row_number().over(w_latest))
        .filter(F.col("rn") == 1)
        .select(
            "driver_number",
            "broadcast_name",
            "full_name",
            "name_acronym",
            "country_code",
            "team_colour",
        )
    )
    races = total_races_per_driver(obs)
    return conform(
        _with_audit(
            dim.join(latest, "driver_number", "left")
            .join(races, "driver_number", "left")
            .fillna({"total_races": 0})
            .select(
                "driver_number",
                "broadcast_name",
                "full_name",
                "name_acronym",
                F.col("attr").alias("team_name"),
                "country_code",
                "team_colour",
                "total_races",
                "valid_from",
                "valid_to",
                "is_current",
            )
        ),
        "drivers_silver",
    )


def _with_gp_name(df: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """Attach canonical grand_prix_name via the (broadcastable) session dim."""
    sess = F.broadcast(sessions_silver.select("session_key", "grand_prix_name"))
    return df.join(sess, "session_key", "inner")


def transform_qualifying(session_result: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """Q1/Q2/Q3 array split + fastest time + gap-to-pole
    (qualifying_transform.py:134-248)."""
    q = session_result.filter(
        (F.lower(F.col("session_type")) == "qualifying")
        & F.col("session_key").isNotNull()
        & F.col("driver_number").isNotNull()
    )
    dur = F.col("duration")

    def q_time(k: int):
        # size guard + element_at (qualifying_transform.py:151-172); seconds→millis
        return F.when(F.size(dur) >= k, seconds_to_millis(F.element_at(dur, k)))

    q = q.select(
        "session_key",
        "year",
        F.col("driver_number").cast("int").alias("driver_number"),
        F.col("position").cast("int").alias("position"),
        q_time(1).alias("q1_time_millis"),
        q_time(2).alias("q2_time_millis"),
        q_time(3).alias("q3_time_millis"),
        F.coalesce(F.col("dnf"), F.lit(False)).alias("dnf"),
        F.coalesce(F.col("dns"), F.lit(False)).alias("dns"),
        F.coalesce(F.col("dsq"), F.lit(False)).alias("dsq"),
    ).withColumn(
        "fastest_qualifying_time_millis",
        F.coalesce("q3_time_millis", "q2_time_millis", "q1_time_millis"),
    )
    # W1: session pole + gap
    w = Window.partitionBy("session_key")
    q = q.withColumn(
        "gap_to_pole_millis",
        F.col("fastest_qualifying_time_millis")
        - F.min("fastest_qualifying_time_millis").over(w),
    ).withColumn(
        # elimination ladder (qualifying_transform.py:240-248)
        "qualifying_status",
        qualifying_status(
            F.col("dsq"),
            F.col("dns"),
            F.col("q1_time_millis"),
            F.col("q2_time_millis"),
            F.col("q3_time_millis"),
        ),
    )
    return conform(_with_audit(_with_gp_name(q, sessions_silver)), "qualifying_results_silver")


def transform_race_results(session_result: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """Points table + status buckets + time formatting
    (race_results_transform.py:133-327)."""
    r = session_result.filter(
        (F.lower(F.col("session_type")) == "race")
        & F.col("session_key").isNotNull()
        & F.col("driver_number").isNotNull()
    )
    race_ms = seconds_to_millis(F.col("duration").cast("double"))
    r = r.select(
        "session_key",
        "year",
        F.col("driver_number").cast("int").alias("driver_number"),
        F.col("position").cast("int").alias("position"),
        F.col("points").cast("int").alias("points"),
        race_ms.alias("race_time_millis"),
        seconds_to_millis(F.col("gap_to_leader")).alias("gap_to_winner_millis"),
        F.coalesce(F.col("dnf"), F.lit(False)).alias("dnf"),
        F.coalesce(F.col("dns"), F.lit(False)).alias("dns"),
        F.coalesce(F.col("dsq"), F.lit(False)).alias("dsq"),
    )
    status = standardize_race_status(
        F.col("dnf"), F.col("dns"), F.col("dsq"), F.col("position")
    )
    r = (
        r.withColumn("validated_points", points_for_position(F.col("position")))
        # our bronze carries status FLAGS, not free text, so raw == bucketed;
        # both columns exist for schema parity (reference keeps the raw API
        # string alongside standardized_status)
        .withColumn("status", status)
        .withColumn("standardized_status", status)
        .withColumn("time", format_millis(F.col("race_time_millis")))
        # grid/positions_gained deferred to Gold (race_results_transform.py:312-315)
        .withColumn("grid_position", F.lit(None).cast("int"))
        .withColumn("positions_gained", F.lit(None).cast("int"))
    )
    return conform(_with_audit(_with_gp_name(r, sessions_silver)), "race_results_silver")


def transform_laps(laps: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """Sector fallback + personal-best / fastest-lap flags (laps_transform.py:94-320).

    The reference processes HISTORICAL laps in a per-GP driver loop
    (laps_transform.py:386-451) as a small-executor workaround — here it's one
    partition-parallel plan (SURVEY §4.3.4); windows share the session_key
    partitioning so the flag stack plans a single shuffle.
    """
    base = laps.filter(
        F.col("session_key").isNotNull()
        & F.col("driver_number").isNotNull()
        & F.col("lap_number").isNotNull()
    ).select(
        "session_key",
        "year",
        F.col("driver_number").cast("int").alias("driver_number"),
        F.col("lap_number").cast("int").alias("lap_number"),
        # lap time: lap_duration, else sector sum (null if any sector null) —
        # laps_transform.py:167-183; segments_sector_* arrays dropped on read
        # (:127-128) simply by never selecting them.
        F.coalesce(
            seconds_to_millis(F.col("lap_duration")),
            seconds_to_millis(
                F.col("duration_sector_1") + F.col("duration_sector_2") + F.col("duration_sector_3")
            ),
        ).alias("lap_time_millis"),
        seconds_to_millis(F.col("duration_sector_1")).alias("sector_1_millis"),
        seconds_to_millis(F.col("duration_sector_2")).alias("sector_2_millis"),
        seconds_to_millis(F.col("duration_sector_3")).alias("sector_3_millis"),
    )
    w_driver = Window.partitionBy("session_key", "driver_number")
    w_session = Window.partitionBy("session_key")
    w_tie = Window.partitionBy("session_key", "lap_time_millis").orderBy(
        "driver_number", "lap_number"
    )
    timed = F.col("lap_time_millis").isNotNull()
    out = (
        base.withColumn(
            "is_personal_best",
            timed
            & (
                F.col("lap_time_millis")
                == F.min(F.when(timed, F.col("lap_time_millis"))).over(w_driver)
            ),
        )
        .withColumn(
            "__session_min", F.min(F.when(timed, F.col("lap_time_millis"))).over(w_session)
        )
        .withColumn(
            # W3 tie-break: only the first of equal fastest laps is flagged
            # (laps_transform.py:255-269: order by driver_number, lap_number)
            "is_fastest_lap",
            timed
            & (F.col("lap_time_millis") == F.col("__session_min"))
            & (F.row_number().over(w_tie) == 1),
        )
        .withColumn("lap_time", format_lap_time(F.col("lap_time_millis")))
        # gold-deferred / unavailable-in-endpoint placeholders
        # (laps_transform.py:297-308)
        .withColumn("position_at_lap", F.lit(None).cast("int"))
        .withColumn("gap_to_leader_millis", F.lit(None).cast("long"))
        .withColumn("interval_to_ahead_millis", F.lit(None).cast("long"))
        .withColumn("tire_compound", F.lit(None).cast("string"))
        .withColumn("track_status", F.lit(None).cast("string"))
        .withColumn("session_type", F.lit("race"))
    )
    return conform(_with_audit(_with_gp_name(out, sessions_silver)), "laps_silver")


def transform_pitstops(pit: DataFrame, sessions_silver: DataFrame) -> DataFrame:
    """ms → DECIMAL(6,3) seconds + validity filter + strategy placeholders
    (pitstops_transform.py:85-239)."""
    p = pit.filter(
        F.col("session_key").isNotNull() & F.col("driver_number").isNotNull()
    ).select(
        "session_key",
        "year",
        F.col("driver_number").cast("int").alias("driver_number"),
        F.col("lap_number").cast("int").alias("lap_number"),
        F.round(F.col("pit_duration") / 1000.0, 3)
        .cast("decimal(6,3)")
        .alias("pit_duration"),
    )
    # P3: 0 < duration < 999 (DECIMAL(6,3) bound), drop null/zero/absurd
    p = p.filter(
        F.col("pit_duration").isNotNull()
        & (F.col("pit_duration") > 0)
        & (F.col("pit_duration") < 999)
    )
    # strategy placeholders (pitstops_transform.py:220-239)
    p = (
        p.withColumn("positions_lost_gained", F.lit(None).cast("int"))
        .withColumn("undercut_attempt", F.lit(False))
        .withColumn("safety_car_stop", F.lit(False))
        .withColumn("tire_compound_old", F.lit(None).cast("string"))
        .withColumn("tire_compound_new", F.lit(None).cast("string"))
    )
    return conform(_with_audit(_with_gp_name(p, sessions_silver)), "pitstops_silver")
