"""Declarative schema registry for the medallion tables.

Reference: src/jobs/utils/table_management/schemas.py:16-221 (dict-of-dicts
registry rendered to Iceberg DDL). Re-expressed as StructType objects plus a
partition-spec map; tables are plain partitioned Parquet directories managed
by sources/tables.py (no Glue/Iceberg).

Type parity (SURVEY §1.2): BIGINT keys/millis, INT positions/years, STRING
names, TIMESTAMP dates, DATE race_date, BOOLEAN flags, DECIMAL(6,3) pit
durations, DECIMAL(5,3)/(4,1) gold gaps/averages.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


_AUDIT_SILVER = (
    ("created_timestamp", TimestampType(), True),
    ("updated_timestamp", TimestampType(), True),
)

SILVER_SCHEMAS: dict[str, StructType] = {
    # reference schemas.py:17-33 (meeting_name kept as an engine extra)
    "sessions_silver": _st(
        ("session_key", LongType(), False),
        ("session_type", StringType(), False),
        ("session_name", StringType(), True),
        ("meeting_key", LongType(), True),
        ("meeting_name", StringType(), True),
        ("grand_prix_name", StringType(), False),
        ("date_start", TimestampType(), True),
        ("date_end", TimestampType(), True),
        ("year", IntegerType(), False),
        ("session_duration_minutes", IntegerType(), True),
        ("is_sprint_weekend", BooleanType(), True),
        *_AUDIT_SILVER,
    ),
    # reference schemas.py:35-52 (SCD Type 2)
    "drivers_silver": _st(
        ("driver_number", IntegerType(), False),
        ("broadcast_name", StringType(), True),
        ("full_name", StringType(), True),
        ("team_name", StringType(), True),
        ("country_code", StringType(), True),
        ("team_colour", StringType(), True),
        ("name_acronym", StringType(), True),
        ("total_races", IntegerType(), True),
        ("valid_from", TimestampType(), False),
        ("valid_to", TimestampType(), True),
        ("is_current", BooleanType(), False),
        *_AUDIT_SILVER,
    ),
    # reference schemas.py:54-71
    "qualifying_results_silver": _st(
        ("session_key", LongType(), False),
        ("driver_number", IntegerType(), False),
        ("position", IntegerType(), True),
        ("q1_time_millis", LongType(), True),
        ("q2_time_millis", LongType(), True),
        ("q3_time_millis", LongType(), True),
        ("fastest_qualifying_time_millis", LongType(), True),
        ("gap_to_pole_millis", LongType(), True),
        ("qualifying_status", StringType(), True),
        ("year", IntegerType(), False),
        ("grand_prix_name", StringType(), False),
        *_AUDIT_SILVER,
    ),
    # reference schemas.py:74-93 (race_time_millis kept as an engine extra;
    # grid_position/positions_gained are NULL placeholders filled in Gold,
    # race_results_transform.py:312-315)
    "race_results_silver": _st(
        ("session_key", LongType(), False),
        ("driver_number", IntegerType(), False),
        ("position", IntegerType(), True),
        ("grid_position", IntegerType(), True),
        ("points", IntegerType(), True),
        ("validated_points", IntegerType(), True),
        ("positions_gained", IntegerType(), True),
        ("time", StringType(), True),
        ("race_time_millis", LongType(), True),
        ("gap_to_winner_millis", LongType(), True),
        ("status", StringType(), True),
        ("standardized_status", StringType(), True),
        ("year", IntegerType(), False),
        ("grand_prix_name", StringType(), False),
        *_AUDIT_SILVER,
    ),
    # reference schemas.py:96-117 (sector millis kept as engine extras;
    # position_at_lap/gaps/tires are NULL placeholders, laps_transform.py:297-308)
    "laps_silver": _st(
        ("session_key", LongType(), False),
        ("driver_number", IntegerType(), False),
        ("lap_number", IntegerType(), False),
        ("lap_time", StringType(), True),
        ("lap_time_millis", LongType(), True),
        ("sector_1_millis", LongType(), True),
        ("sector_2_millis", LongType(), True),
        ("sector_3_millis", LongType(), True),
        ("position_at_lap", IntegerType(), True),
        ("gap_to_leader_millis", LongType(), True),
        ("interval_to_ahead_millis", LongType(), True),
        ("is_personal_best", BooleanType(), True),
        ("is_fastest_lap", BooleanType(), True),
        ("tire_compound", StringType(), True),
        ("track_status", StringType(), True),
        ("year", IntegerType(), False),
        ("grand_prix_name", StringType(), False),
        ("session_type", StringType(), True),
        *_AUDIT_SILVER,
    ),
    # reference schemas.py:120-135 (strategy placeholders,
    # pitstops_transform.py:220-239)
    "pitstops_silver": _st(
        ("session_key", LongType(), False),
        ("driver_number", IntegerType(), False),
        ("lap_number", IntegerType(), True),
        ("pit_duration", DecimalType(6, 3), True),
        ("positions_lost_gained", IntegerType(), True),
        ("undercut_attempt", BooleanType(), True),
        ("safety_car_stop", BooleanType(), True),
        ("tire_compound_old", StringType(), True),
        ("tire_compound_new", StringType(), True),
        ("year", IntegerType(), False),
        ("grand_prix_name", StringType(), False),
        *_AUDIT_SILVER,
    ),
}

_AUDIT = (
    ("created_timestamp", TimestampType(), True),
    ("updated_timestamp", TimestampType(), True),
)

GOLD_SCHEMAS: dict[str, StructType] = {
    # reference schemas.py:142-160 (column-for-column; best_time_millis is an
    # engine extra)
    "driver_performance_summary_qualifying": _st(
        ("session_key", LongType(), False),
        ("year", IntegerType(), False),
        ("race_date", DateType(), True),
        ("grand_prix_name", StringType(), False),
        ("round_number", IntegerType(), True),
        ("driver_number", IntegerType(), False),
        ("driver_name", StringType(), True),
        ("team_name", StringType(), True),
        ("qualifying_position", IntegerType(), True),
        ("best_time_millis", LongType(), True),
        ("gap_to_pole_seconds", DecimalType(5, 3), True),
        ("made_q3", BooleanType(), True),
        ("season_avg_qualifying_position", DecimalType(4, 1), True),
        *_AUDIT,
    ),
    # reference schemas.py:162-180 (race_status / season_avg are engine extras)
    "driver_performance_summary_race": _st(
        ("session_key", LongType(), False),
        ("year", IntegerType(), False),
        ("race_date", DateType(), True),
        ("grand_prix_name", StringType(), False),
        ("round_number", IntegerType(), True),
        ("driver_number", IntegerType(), False),
        ("driver_name", StringType(), True),
        ("team_name", StringType(), True),
        ("grid_position", IntegerType(), True),
        ("finish_position", IntegerType(), True),
        ("positions_gained", IntegerType(), True),
        ("race_status", StringType(), True),
        ("race_points", DecimalType(4, 1), True),
        ("season_points_total", DecimalType(6, 1), True),
        ("season_avg_finish_position", DecimalType(4, 1), True),
        *_AUDIT,
    ),
    # reference schemas.py:184-202
    "championship_tracker": _st(
        ("year", IntegerType(), False),
        ("race_date", DateType(), True),
        ("grand_prix_name", StringType(), False),
        ("round_number", IntegerType(), True),
        ("driver_number", IntegerType(), False),
        ("driver_name", StringType(), True),
        ("team_name", StringType(), True),
        ("finish_position", IntegerType(), True),
        ("race_points", DecimalType(4, 1), True),
        ("season_points_total", DecimalType(6, 1), True),
        ("championship_position", IntegerType(), True),
        ("points_gap_to_leader", DecimalType(6, 1), True),
        *_AUDIT,
    ),
    # reference schemas.py:206-221 (driver numbers / field_size / sprint flag
    # are engine extras)
    "race_weekend_insights": _st(
        ("year", IntegerType(), False),
        ("grand_prix_name", StringType(), False),
        ("race_date", DateType(), True),
        ("round_number", IntegerType(), True),
        ("pole_driver_number", IntegerType(), True),
        ("pole_position_driver", StringType(), True),
        ("winner_driver_number", IntegerType(), True),
        ("race_winner_driver", StringType(), True),
        ("race_winner_team", StringType(), True),
        ("pole_to_win", BooleanType(), True),
        ("field_size", IntegerType(), True),
        ("total_finishers", IntegerType(), True),
        ("dnf_count", IntegerType(), True),
        ("is_sprint_weekend", BooleanType(), True),
        *_AUDIT,
    ),
}

# Partition specs (reference job_config.py:81-88; championship_tracker is
# year-only and always fully recomputed — f1_silver_to_gold_transform.py:209-217).
# sessions_silver follows job_config.py:82 ([year, grand_prix_name]) rather
# than the DDL's year-only spec (the reference is internally inconsistent,
# SURVEY §1.4) — the finer spec makes one-GP incremental overwrite idempotent.
PARTITION_SPECS: dict[str, list[str]] = {
    "sessions_silver": ["year", "grand_prix_name"],
    "drivers_silver": [],  # small SCD dimension, unpartitioned
    "qualifying_results_silver": ["year", "grand_prix_name"],
    "race_results_silver": ["year", "grand_prix_name"],
    "laps_silver": ["year", "grand_prix_name"],
    "pitstops_silver": ["year", "grand_prix_name"],
    "driver_performance_summary_qualifying": ["year", "grand_prix_name"],
    "driver_performance_summary_race": ["year", "grand_prix_name"],
    "championship_tracker": ["year"],
    "race_weekend_insights": ["year"],
}

# Managed-table registration for the oracle-gated TableStore round-trip
# query (registry_ext.tablestore_delete_tombstone): a TPC-H-ish orders slice
# partitioned on its low-cardinality priority class, so DELETE / tombstone
# MERGE exercise the partition-scoped rewrite paths.
UTILITY_SCHEMAS: dict[str, StructType] = {
    "orders_managed": _st(
        ("o_orderkey", LongType(), False),
        ("o_custkey", LongType(), True),
        ("o_orderstatus", StringType(), True),
        ("o_totalprice", DoubleType(), True),
        ("o_orderpriority", StringType(), True),
    ),
}
PARTITION_SPECS["orders_managed"] = ["o_orderpriority"]

ALL_SCHEMAS: dict[str, StructType] = {
    **SILVER_SCHEMAS,
    **GOLD_SCHEMAS,
    **UTILITY_SCHEMAS,
}


def conform(df, table: str, allow_missing: bool = False):
    """Project/cast a DataFrame to the declared schema (order + types) —
    the typed-projection P1 operator (sessions_transform.py:173-189).

    ``allow_missing=True`` fills absent columns with typed NULLs — the
    schema-evolution read path: after a column is added to the registry,
    old files read through ``mergeSchema`` + this projection without a
    rewrite (parquet-native equivalent of Iceberg add-column evolution).

    The projection is built as SQL strings and sent in ONE ``selectExpr``
    call: the same CAST/alias plan as per-field Column objects, without
    three py4j round trips per field.
    """
    schema = ALL_SCHEMAS[table]
    exprs = []
    present = set(df.columns)
    for f in schema.fields:
        if f.name in present:
            src = f"`{f.name}`"
        elif allow_missing:
            src = "NULL"
        else:
            raise ValueError(
                f"column {f.name!r} missing for table {table!r}; "
                "pass allow_missing=True for schema-evolution reads"
            )
        exprs.append(f"CAST({src} AS {f.dataType.simpleString()}) AS `{f.name}`")
    return df.selectExpr(*exprs)
