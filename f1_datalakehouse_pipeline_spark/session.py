"""SparkSession factory with scale-oriented defaults.

Mirrors the deliberate tuning of the reference jobs
(reference: src/jobs/f1_bronze_to_silver_transform.py:77-101,
src/jobs/f1_silver_to_gold_transform.py:89-97, src/jobs/config/job_config.py:210-218)
re-expressed as plain Spark confs: AQE with partition coalescing, skew-join
handling and local shuffle readers; dynamic partition overwrite for
idempotent incremental writes; snappy parquet.

Design notes for 100 TB scale:
- AQE is the first line of defense: runtime partition coalescing keeps small
  stages cheap, skew-join splitting keeps hot keys from stalling a stage.
- ``spark.sql.shuffle.partitions`` defaults to the local core count for tests;
  on a real cluster this should be ~2-3x total executor cores (AQE coalesces
  down, it never splits up a too-small setting).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  across driver/executor hosts.
- ANSI mode is disabled: the engine's transforms use permissive
  NULL-on-bad-input semantics (matching the reference's tolerant cleaning
  behavior and the DuckDB oracle comparisons); guarded expressions
  (``try_*``, size checks) are still used where intent matters.
- Runtime bloom-filter semi-join reduction is ON by Spark 4 default
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``): big-big joins with
  a selective build side get a might_contain pre-filter on the fact scan
  before the SortMergeJoin shuffle. The size thresholds that gate it
  (creation ≤10 MB build, application ≥10 GB scan) only trigger at real
  scale — local testdata sits below them, so the injection path is proven
  by ``tests/test_plan_shapes.test_runtime_bloom_filter_semi_join_reduction``
  with the thresholds lowered, not by the bench.
- PySpark's DataFrame call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled``) is OFF. When on, every
  Column call also ships the Python call site to the JVM: on PySpark 4.1
  ``F.col`` costs 13 py4j round trips instead of 3, and ``.cast().alias()``
  22 instead of 2. One warm INCREMENTAL Grand Prix landing (perfbench
  ``gp_incremental``) made 24,430 round trips with it on; with it off, and
  ``schemas.conform`` sending one ``selectExpr``, 6,731. Failures stay
  loud; only the Python call-site text in Spark's error messages is lost.
- Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``, a
  static conf) holds 1000 classes instead of Spark's default 100. One
  INCREMENTAL Grand Prix landing generates about 278 classes, so with 100
  the LRU evicts everything and each warm landing recompiled about 275 of
  them with Janino (about 1 s on 4 vCPU); with 1000 it compiles 22-44, the
  stages whose inlined literals change per landing (``current_timestamp()``
  folds into one). A warm corpus build went from 157 compiles to 2-16.
  4000 entries gave the same counts as 1000.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # Adaptive execution (reference: job_config.py:210-218)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Idempotent incremental overwrites (replaces Iceberg overwritePartitions,
    # reference: src/jobs/utils/transformations/common.py:371-387)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Storage (reference: iceberg_manager.py:65-77)
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Determinism / semantics
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # Arrow for any pandas-UDF path and fast toPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) columns (e.g. events.ts) read as LongType ns —
    # sources/testdata.py converts to µs timestamps (matching DuckDB's
    # truncate-to-µs read of the same files).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive parquet timestamps (isAdjustedToUTC=false) must read as TIMESTAMP,
    # not TIMESTAMP_NTZ: with the session tz pinned to UTC the epoch values
    # are identical to DuckDB's naive interpretation, and strict functions
    # (unix_micros et al.) keep working.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # No Python call-site capture per Column call (see module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # One landing's generated classes stay compiled (see module docstring)
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "f1-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores);
    ``shuffle_partitions`` defaults to the same core count — on a real
    cluster pass an explicit value sized to executor cores.
    """
    par = _default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{par}]"
    )
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or par)
    # In local mode the driver JVM IS the cluster; Spark's 1g default heap
    # OOMs the first real broadcast build. Size it like a worker node
    # (overridable; ignored if a session already exists).
    confs.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    )
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
