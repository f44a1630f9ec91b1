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
- Case mapping (``spark.sql.icu.caseMappings.enabled``) is the JVM's, as in
  Spark 3.5 and the reference's Glue 5.0, not ICU's. Spark 4.1's ICU path
  builds a case-mapping table on first use in a JVM (1.6-1.9 s on 4 vCPU),
  on the critical path of the first landing and the first corpus build.
  ``lower``/``upper`` give identical results for ASCII, and for every input
  the F1 fixtures, the perfbench generators and the testdata ``documents``
  feed them (``tests/test_session.py``). For other non-ASCII strings the
  JVM path uses the driver's default locale (Turkish dotted/dotless i under
  a Turkish locale) and JVM rules such as context-sensitive final sigma.

Class-data sharing: a start that launches the driver JVM gives it a JDK 17
dynamic class-data-sharing (CDS) archive of the classes a Spark driver
loads, which cuts ``get_spark`` from 5-7 s to about 3 s on 4 vCPU.

- The archive lives in ``$XDG_CACHE_HOME/f1-lakehouse-spark/`` (default
  ``~/.cache/f1-lakehouse-spark/``, mode 0700), named by a key over the JDK
  (``java.home`` and its ``release`` file), the Spark version, the name,
  size and mtime of every jar, and whether a heap of 32 GiB or more turns
  compressed oops off. A new JDK or jar set dumps a new archive and deletes
  the old one. Delete the directory to start over; nothing else keeps
  state.
- The first start for a key dumps the archive (``-XX:ArchiveClassesAtExit``)
  to ``<key>.<pid>.tmp`` and writes ``<key>.marker``. It pays once: its
  ``get_spark`` took 9.4 s against 3.1-3.3 s mapped (4 vCPU), and perfbench's
  history build, which dumps in a fresh cache, took 85.7 s against 58.3 s
  without CDS, the archive being written at JVM exit. A later
  start publishes the dump only after its JVM is gone and ``java -Xshare:on
  -XX:SharedArchiveFile=<tmp> -cp <recorded class path> -version`` exits 0;
  mapping a truncated archive kills the JVM with SIGBUS, so nothing maps a
  file that has not passed. A dump that fails is deleted, and while the
  marker stands without an archive no start dumps again: it logs one line
  naming the marker. Every other start maps the archive
  (``-XX:SharedArchiveFile``).
- The options go in ``spark.driver.defaultJavaOptions``, so a caller's
  ``spark.driver.extraJavaOptions`` still applies after them.
- Conf dirs: JDK 17 dumps no archive while a non-empty directory is on the
  class path, and Spark puts the conf dir there (``$SPARK_CONF_DIR``, else
  ``$SPARK_HOME/conf``; also ``HADOOP_CONF_DIR`` and ``YARN_CONF_DIR`` when
  set). One holding only ``*.template`` files is swapped, for the launch
  only, for an empty directory beside the archive. One holding a real file
  (``spark-defaults.conf``, ``log4j2.properties``, ...) stays in effect and
  the start runs without the archive, with one log line. So does a start
  whose cache directory cannot be created or written.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import shlex
import shutil
import subprocess
from dataclasses import dataclass, field

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

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
    # JVM case mapping, as in Spark 3.5 (see module docstring)
    "spark.sql.icu.caseMappings.enabled": "false",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


# -- class-data sharing for the driver JVM (see module docstring) -------------

_CONF_DIR_VARS = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


@dataclass
class _Cds:
    """How one driver JVM launch uses the class-data-sharing archive."""

    options: list[str] = field(default_factory=list)  # JVM options
    env: dict[str, str] = field(default_factory=dict)  # set for the launch only
    dump: str | None = None  # the archive this launch dumps at JVM exit


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "f1-lakehouse-spark")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _heap_bytes(mem: str) -> int:
    """Bytes of a Spark memory string (``16g``, ``3072m``; MiB when bare)."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", mem.strip().lower())
    return int(m[1]) * 1024 ** ("kmgtp".index(m[2] or "m") + 1) if m else 0


def _java_home() -> str | None:
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _archive_key(java_home: str, spark_home: str, confs: dict[str, str]) -> str:
    """``<hash>-<coops|nocoops>``: the hash covers the JDK (its path and
    ``release`` file), the Spark version and the name, size and mtime of
    every jar; the suffix says whether the heap (>= 32 GiB) disables
    compressed oops, which an archive must match."""
    h = hashlib.sha256()
    h.update(os.path.realpath(java_home).encode())
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    h.update(pyspark.__version__.encode())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    big = _heap_bytes(confs.get("spark.driver.memory", "1g")) >= 32 << 30
    return f"{h.hexdigest()[:20]}-{'nocoops' if big else 'coops'}"


def _conf_dir_env(spark_home: str, empty: str) -> dict[str, str] | None:
    """Launch environment that keeps non-empty directories off the class
    path (JDK 17 dumps no archive while one is on it): a conf dir holding
    only ``*.template`` files is swapped for ``empty``. None when a conf dir
    holds a real file, which must stay in effect."""
    dirs = {"SPARK_CONF_DIR": os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")}
    dirs.update((v, os.environ[v]) for v in _CONF_DIR_VARS[1:] if os.environ.get(v))
    env = {}
    for var, path in dirs.items():
        try:
            names = os.listdir(path)
        except (FileNotFoundError, NotADirectoryError):
            continue
        real = sorted(n for n in names if not n.endswith(".template"))
        if real:
            log.warning("class-data sharing off: %s=%s holds %s", var, path, ", ".join(real))
            return None
        if names:
            env[var] = empty
    return env


def _validate(java: str, archive: str, class_path: str, key: str) -> bool:
    """Whether a JVM maps ``archive`` under ``-Xshare:on``. Mapping a
    truncated archive kills the JVM (SIGBUS) even under ``-Xshare:auto``, so
    no driver maps a file this has not accepted."""
    oops = ["-XX:-UseCompressedOops"] if key.endswith("-nocoops") else []
    cmd = [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", *oops,
           f"-XX:ErrorFile={os.devnull}", "-XX:-CreateCoredumpOnCrash",
           "-cp", class_path, "-version"]
    try:
        return subprocess.run(cmd, capture_output=True, timeout=60).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _publish_dumps(cache: str, key: str, java: str) -> None:
    """Validate each finished ``<key>.<pid>.tmp`` dump: rename a good one to
    ``<key>.jsa``, delete a bad one."""
    archive = os.path.join(cache, f"{key}.jsa")
    for name in sorted(os.listdir(cache)):
        if not (name.startswith(key + ".") and name.endswith(".tmp")):
            continue
        tmp = os.path.join(cache, name)
        record = tmp[: -len(".tmp")] + ".json"
        try:
            with open(record) as fh:
                rec = json.load(fh)
        except (FileNotFoundError, ValueError):  # not (fully) recorded yet
            rec = None
        # the dumping JVM writes the file at its exit
        if _pid_alive(rec["jvm_pid"] if rec else int(name.split(".")[1])):
            continue
        if rec and _validate(java, tmp, rec["class_path"], key):
            try:
                os.replace(tmp, archive)
                log.info("class-data sharing: published %s", archive)
            except FileNotFoundError:  # a concurrent start published it
                pass
            _remove(os.path.join(cache, f"{key}.marker"))
        else:
            log.warning("class-data sharing: deleted %s, it failed validation", tmp)
            _remove(tmp)
        _remove(record)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _plan_cds(confs: dict[str, str]) -> _Cds:
    """Map the validated archive; else dump one, once per key."""
    java_home = _java_home()
    if not java_home:
        return _Cds()
    spark_home = _find_spark_home()
    cache = _cache_dir()
    empty = os.path.join(cache, "empty-conf")
    env = _conf_dir_env(spark_home, empty)
    if env is None:
        return _Cds()
    try:
        os.makedirs(empty, mode=0o700, exist_ok=True)
        os.chmod(cache, 0o700)
        key = _archive_key(java_home, spark_home, confs)
        java = os.path.join(java_home, "bin", "java")
        _publish_dumps(cache, key, java)
        archive = os.path.join(cache, f"{key}.jsa")
        if os.path.exists(archive):
            return _Cds([f"-XX:SharedArchiveFile={shlex.quote(archive)}"], env)
        marker = os.path.join(cache, f"{key}.marker")
        try:
            fd = os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600)
        except FileExistsError:
            with open(marker) as fh:
                owner = fh.read().strip()
            pending = any(n.startswith(key + ".") and n.endswith(".tmp") for n in os.listdir(cache))
            if not (pending or (owner.isdigit() and _pid_alive(int(owner)))):
                log.warning("class-data sharing off: an earlier dump attempt left no archive "
                            "(delete %s to let the next start dump again)", marker)
            return _Cds()
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        # a new JDK or jar set: the other keys' archives are stale
        prefix = key.split("-")[0]
        for name in os.listdir(cache):
            if name.split("-")[0] != prefix and name.endswith((".jsa", ".tmp", ".json", ".marker")):
                _remove(os.path.join(cache, name))
        tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
        # the dump warns once per class it skips: keep only errors
        return _Cds([f"-XX:ArchiveClassesAtExit={shlex.quote(tmp)}", "-Xlog:cds=error"], env, tmp)
    except OSError as e:
        log.warning("class-data sharing off: %s", e)
        return _Cds()


def _record_dump(tmp: str, jvm_pid: int, class_path: str) -> None:
    """Record what validating a dump needs: the JVM that writes it at its
    exit and the class path it was dumped against."""
    try:
        with open(tmp[: -len(".tmp")] + ".json", "w") as fh:
            json.dump({"jvm_pid": jvm_pid, "class_path": class_path}, fh)
    except OSError as e:
        log.warning("class-data sharing: cannot record the dump (%s)", e)


def get_spark(
    app_name: str = "f1-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores);
    ``shuffle_partitions`` defaults to the same core count — on a real
    cluster pass an explicit value sized to executor cores. A start that
    launches the driver JVM gives it the class-data-sharing archive.
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
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _plan_cds(confs) if launching else _Cds()
    if cds.options:
        # defaultJavaOptions sit before a caller's extraJavaOptions
        opts = [*cds.options, confs.get("spark.driver.defaultJavaOptions", "")]
        confs["spark.driver.defaultJavaOptions"] = " ".join(opts).strip()
    for k, v in confs.items():
        builder = builder.config(k, v)
    saved = {k: os.environ.get(k) for k in cds.env}
    os.environ.update(cds.env)
    try:
        spark = builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                del os.environ[k]
            else:
                os.environ[k] = v
    if cds.dump:
        jvm = spark.sparkContext._jvm
        _record_dump(cds.dump, int(jvm.java.lang.ProcessHandle.current().pid()),
                     jvm.java.lang.System.getProperty("java.class.path"))
    return spark
