"""Bronze layer: Hive-partitioned parquet landing zone.

Reference: src/dags/services/s3_writer.py:62-128 (pandas→parquet writes to
``bronze/{endpoint}/year=/grand_prix=/session_type=/``) and the per-transform
manual partition-path construction at read time
(silver/qualifying_transform.py:101-112). Here both collapse into Spark
built-ins: ``partitionBy`` on write, partition-column ``.filter`` on read —
Catalyst partition pruning replaces string-built glob paths (SURVEY §2.1 S3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITIONS = ("year", "grand_prix", "session_type")


def bronze_path(root: str, endpoint: str) -> str:
    return os.path.join(root, endpoint)


def write_bronze(df: DataFrame, root: str, endpoint: str, mode: str = "overwrite") -> None:
    (
        df.write.format("parquet")
        .partitionBy(*PARTITIONS)
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .save(bronze_path(root, endpoint))
    )


def read_bronze(
    spark: SparkSession,
    root: str,
    endpoint: str,
    year: int | None = None,
    grand_prix: str | None = None,
    session_type: str | None = None,
    tolerate_corrupt: bool = False,
) -> DataFrame:
    """Schema-merging scan with partition pruning pushed to the PATH level.

    ``mergeSchema`` mirrors bronze_readers.py:43,75,105,142 — bronze files are
    schema-inferred and may drift per landing batch. But mergeSchema reads
    EVERY matched file's footer at plan time, so any known partition value
    (year / grand_prix / session_type) is baked into the path glob instead of
    a post-filter: schema-inference cost then scales with the BATCH, not the
    table (measured: a one-GP incremental over a 100-GP bronze spent more
    time footer-scanning 99 untouched partitions than transforming). With
    ``basePath`` set, Spark still surfaces the partition columns. Unspecified
    dimensions keep Catalyst partition pruning via the residual filters.

    ``session_type`` pruning is additionally REQUIRED for correctness on
    session_result: ``duration`` is array-typed in qualifying partitions but
    scalar in race partitions (FIXTURES.md §1), so a whole-root mergeSchema
    scan would fail on the type conflict. This is the Spark-idiomatic version
    of the reference's manual partition-path construction
    (qualifying_transform.py:101-112).

    ``tolerate_corrupt`` skips unreadable files instead of failing the scan —
    the landing zone is written by external producers (reference: pandas
    uploads from MWAA tasks, s3_writer.py:62-128), so a half-uploaded or
    truncated object must not take down the whole batch. Default False:
    silent data loss is worse than a failed job unless explicitly opted in.
    """
    base = bronze_path(root, endpoint)
    reader = spark.read.option("mergeSchema", "true").option("basePath", base)
    if tolerate_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    if year is not None or grand_prix is not None or session_type is not None:

        def seg(v) -> str:
            # A known value must match LITERALLY (ADVICE r3): first apply the
            # same %XX escaping Spark's partitionBy used when writing the
            # directory (ExternalCatalogUtils.escapePathName — so a slug
            # containing ':' or '*' finds the dir Spark actually created),
            # then neutralize any remaining glob metacharacters so '[ ] * ?'
            # in a slug can't over-match or spuriously "match no partitions".
            # '*' stays only for the intentionally-unset dimensions.
            if v is None:
                return "*"
            escaped = "".join(
                f"%{ord(ch):02X}" if ch in '"#%\'*/:=?\\{[]^\x7f' or ord(ch) < 32 else ch
                for ch in str(v)
            )
            import glob as _glob

            return _glob.escape(escaped)

        pattern = (
            f"{base}/year={seg(year)}"
            f"/grand_prix={seg(grand_prix)}"
            f"/session_type={seg(session_type)}"
        )
        import glob as _glob

        if "://" not in base and not _glob.glob(pattern):
            # loud scope failure with the engine's vocabulary instead of a
            # raw PATH_NOT_FOUND from the reader (ADVICE r1: a bad GP slug
            # must never silently no-op — and should not be cryptic either)
            raise ValueError(
                f"bronze scope matched no partitions: endpoint={endpoint} "
                f"year={year} grand_prix={grand_prix!r} "
                f"session_type={session_type!r} — check the GP slug"
            )
        df = reader.parquet(pattern)
    else:
        df = reader.parquet(base)
    # residual filters: redundant where the path already pinned the value
    # (Catalyst folds them), load-bearing for the globbed dimensions
    if year is not None:
        df = df.filter(F.col("year") == year)
    if grand_prix is not None:
        df = df.filter(F.col("grand_prix") == grand_prix)
    return df
