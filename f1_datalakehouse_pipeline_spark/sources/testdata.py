"""Readers for the driver-provided TPC-H-ish parquet testdata.

Tables (one parquet file each, see TESTDATA.md at the repository root):
region nation customer supplier part orders lineitem events documents embeddings.

At 100 TB these would be partitioned parquet/Delta directories; the reader is
path-based so swapping a single file for a partitioned root is transparent
(Spark partition discovery + Catalyst partition pruning take over — replacing
the reference's manual partition-path construction, reference:
src/jobs/transforms/silver/qualifying_transform.py:101-112).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs registry semantics depend on.

    The harness may hand us a session built without the engine's session
    factory; these are all SQL confs, so setting them per-read is safe.
    """
    # TIMESTAMP(NANOS) parquet (events.ts) is unreadable without this.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive µs parquet timestamps must read as TIMESTAMP (UTC), not NTZ —
    # keeps unix_micros/unix_timestamp valid and matches the DuckDB oracle.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # date_format/unix_timestamp outputs must match the (tz-naive) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # permissive NULL-on-bad-input semantics (see session.py docstring).
    spark.conf.set("spark.sql.ansi.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) parquet read as ns-long (see session.py conf);
        # integer-floor-divide to µs — same truncation DuckDB applies.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt-and-suspenders for sessions created before our confs applied:
    # NTZ and TIMESTAMP have identical epochs under the UTC session tz.
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(TimestampType()))
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
