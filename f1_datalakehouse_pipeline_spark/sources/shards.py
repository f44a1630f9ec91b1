"""Training-shard delivery sink: sharded corpus + verifiable manifest.

The last step of a training-data pipeline is not a query — it is handing a
trainer a directory of shard files it can stream per epoch. This sink ties
the deterministic corpus shuffle (``operators/util.shuffle_assignments``) to
the storage layout: rows land parquet-partitioned by ``shard_id`` in a
seeded pseudo-random order, and a manifest records per-shard row counts,
token totals, and an order-independent content checksum so the consumer (or
a later audit) can verify shard integrity without trusting the producer.

Scale shape: one hash-partition exchange for the shuffle assignment, one
window per shard for positions, and a partitionBy write — no global sort,
no driver-side iteration. The manifest is one groupBy(shard_id) over the
same pass. Epoch reshuffle = new seed → new layout, old shards untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48, token_count
from f1_datalakehouse_pipeline_spark.operators.util import shuffle_assignments

MANIFEST_DIR = "_manifest"
CHECKSUM_ALGO = "sum-hash48-mod-2p31m1"
# Pre-versioning manifests (no checksum_algo column) used the raw 48-bit term
# sum; verify recomputes with that formula for them so intact old shard
# directories still audit clean instead of being flagged wholesale (migration
# note: rewriting such manifests is optional, not required).
LEGACY_ALGO = "unversioned"
# Most manifest rows (one per shard) an append collects to the driver; a
# larger manifest fails loudly instead of flooding the driver.
MAX_SHARDS = 100_000


def write_training_shards(
    df: DataFrame,
    id_col: str,
    content_col: str,
    out_path: str,
    n_shards: int,
    seed: str,
) -> DataFrame:
    """Write ``df`` as shard-partitioned parquet plus a manifest; returns the
    manifest DataFrame (shard_id, n_rows, n_tokens, checksum).

    The checksum is the per-shard SUM of ``content_hash48 % (2^31 - 1)`` —
    order-independent (file/row order inside a shard never matters to it)
    and cheap to recompute on read (:func:`verify_training_shards`). The
    Mersenne-prime reduction keeps the running sum under int64 for shards up
    to ~4.3 billion rows even with ANSI overflow checking enabled (summing
    the raw 48-bit terms would overflow past ~65K rows — wrapping
    consistently under the session's non-ANSI config, but crashing any ANSI
    deployment). The manifest records ``checksum_algo`` so an audit against
    a manifest written under a different formula reports a loud
    algo-mismatch row instead of flagging every shard corrupt.
    """
    if df.isEmpty():
        # A zero-row partitionBy write creates a data/ dir with no
        # partition files — every later read (audit, append) then fails
        # schema inference. Refuse to poison out_path; callers with a
        # possibly-empty corpus should skip delivery (plans/corpus.py does).
        raise ValueError(
            f"refusing to write an EMPTY shard set to {out_path!r}: the "
            "resulting data directory would be unreadable"
        )
    assigned = shuffle_assignments(df, id_col, n_shards, seed).withColumn(
        "__chk", portable_hash48(F.col(content_col)) % F.lit(2147483647)
    )
    data_path = os.path.join(out_path, "data")
    (
        assigned.repartition(n_shards, "shard_id")
        .sortWithinPartitions("pos_in_shard")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(data_path)
    )
    manifest = (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(token_count(F.col(content_col))).alias("n_tokens"),
            F.sum("__chk").alias("checksum"),
        )
        .withColumn("seed", F.lit(seed))
        .withColumn("checksum_algo", F.lit(CHECKSUM_ALGO))
        .withColumn("n_shards", F.lit(n_shards))
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_path, MANIFEST_DIR)
    )
    return manifest


def append_training_shards(
    df: DataFrame,
    id_col: str,
    content_col: str,
    out_path: str,
    seed: str,
) -> DataFrame:
    """Append a new batch into an EXISTING shard set (the incremental-corpus
    delivery path) and return the UPDATED manifest.

    Same seeded shard assignment as :func:`write_training_shards` (the hash
    is per-id, so a doc lands in the same shard whether delivered in one
    shot or incrementally); positions are offset past each shard's existing
    rows so (shard_id, pos_in_shard) stays a total replay order — old epoch
    content first, new batch after. The manifest updates by per-shard
    SUMMATION, valid because every manifest quantity is an order-independent
    per-row sum (that is the point of the checksum design); no re-scan of
    the existing shards.

    The batch must use the manifest's recorded ``seed`` (a different seed
    would interleave two incompatible permutations) and the manifest must be
    current-algo; both are checked loudly.
    """
    spark = df.sparkSession
    if not os.path.isdir(os.path.join(out_path, MANIFEST_DIR)):
        raise ValueError(f"no existing shard manifest under {out_path!r}")
    old = read_shard_manifest(spark, out_path)
    # ONE bounded collect (one row per shard) answers every validation the
    # r11 form ran four separate driver actions for (head probe, algo
    # distinct, seed distinct, n_shards head/max) — this sits on the
    # per-micro-batch streaming-ingest hot path, where each extra action is
    # a scheduled job. The collected rows also back the offset join and
    # manifest merge below via a driver-local DataFrame, so the append never
    # re-scans the manifest dir it is about to swap out.
    old_rows = old.limit(MAX_SHARDS + 1).collect()
    if not old_rows:
        raise ValueError(f"no existing shard manifest under {out_path!r}")
    if len(old_rows) > MAX_SHARDS:
        raise ValueError(
            f"shard manifest under {out_path!r} has more than {MAX_SHARDS} "
            f"rows ({len(old_rows)} collected); appends support at most "
            f"MAX_SHARDS={MAX_SHARDS} shards"
        )
    if "checksum_algo" in old.columns:
        algos = {r["checksum_algo"] for r in old_rows}
    else:
        # pre-versioning manifest: raw 48-bit-sum checksums. Summing those
        # with current-algo terms would stamp a silently mixed-formula
        # manifest that the next audit flags wholesale — same loud refusal
        # as an explicit foreign algo.
        algos = {LEGACY_ALGO}
    if algos != {CHECKSUM_ALGO}:
        raise ValueError(
            f"cannot append to a manifest with checksum_algo {algos}; "
            f"rewrite the shard set under {CHECKSUM_ALGO!r} first"
        )
    seeds = {r["seed"] for r in old_rows}
    if seeds != {seed}:
        raise ValueError(
            f"append seed {seed!r} != shard-set seed {seeds}; appending under a "
            "different seed would interleave two incompatible permutations"
        )
    if "n_shards" in old.columns:
        n_shards = int(old_rows[0]["n_shards"])
    else:  # pre-column manifest: every shard of a real corpus is occupied
        n_shards = max(int(r["shard_id"]) for r in old_rows) + 1
    old = spark.createDataFrame(old_rows, old.schema)

    assigned = (
        shuffle_assignments(df, id_col, n_shards, seed)
        .withColumn("__chk", portable_hash48(F.col(content_col)) % F.lit(2147483647))
        .join(
            F.broadcast(old.select("shard_id", F.col("n_rows").alias("__offset"))),
            "shard_id",
            "left",
        )
        .withColumn(
            "pos_in_shard",
            # int, matching the original write's row_number type (parquet
            # readers reject an int64 column landing in an int32 layout)
            (F.col("pos_in_shard") + F.coalesce(F.col("__offset"), F.lit(0))).cast("int"),
        )
        .drop("__offset")
    )
    # consumed twice (data append + manifest agg); without the cache each
    # append would run the assignment shuffle, position window, and per-row
    # hashing twice — per MICRO-BATCH on the streaming-ingest hot path
    assigned = assigned.cache()
    (
        assigned.repartition(n_shards, "shard_id")
        .sortWithinPartitions("pos_in_shard")
        .write.mode("append")
        .partitionBy("shard_id")
        .parquet(os.path.join(out_path, "data"))
    )
    batch = assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(token_count(F.col(content_col))).alias("n_tokens"),
        F.sum("__chk").alias("checksum"),
    )
    merged = (
        old.select("shard_id", "n_rows", "n_tokens", "checksum")
        .unionByName(batch)
        .groupBy("shard_id")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("checksum").alias("checksum"),
        )
        .withColumn("seed", F.lit(seed))
        .withColumn("checksum_algo", F.lit(CHECKSUM_ALGO))
        .withColumn("n_shards", F.lit(n_shards))
    )
    # stage-then-swap (the merged manifest is driver-local-backed since r12,
    # so the old dir is no longer a lazy input — the swap stays for crash
    # safety). The swap is rename-aside, not delete-then-rename:
    # a complete manifest copy exists at every instant (a crash between the
    # two renames leaves the old manifest under _manifest_retired and the
    # new one under _manifest_staged — recover by renaming either back),
    # where an rmtree-first swap had a window with NO surviving copy.
    staged = os.path.join(out_path, MANIFEST_DIR + "_staged")
    merged.coalesce(1).write.mode("overwrite").parquet(staged)
    assigned.unpersist()
    final = os.path.join(out_path, MANIFEST_DIR)
    retired = os.path.join(out_path, MANIFEST_DIR + "_retired")
    import shutil

    shutil.rmtree(retired, ignore_errors=True)
    os.replace(final, retired)
    os.replace(staged, final)
    shutil.rmtree(retired)
    return read_shard_manifest(spark, out_path)


def read_training_shards(spark: SparkSession, out_path: str) -> DataFrame:
    """The shard data, with shard_id/pos_in_shard columns intact — streaming
    it ordered by (shard_id, pos_in_shard) replays the seeded permutation."""
    return spark.read.parquet(os.path.join(out_path, "data"))


def read_shard_manifest(spark: SparkSession, out_path: str) -> DataFrame:
    """The manifest as written (shard_id, n_rows, n_tokens, checksum, seed,
    checksum_algo)."""
    return spark.read.parquet(os.path.join(out_path, MANIFEST_DIR))


def verify_training_shards(
    spark: SparkSession, out_path: str, content_col: str
) -> DataFrame:
    """Integrity audit: recompute each shard's row count and checksum from
    the data files and diff against the manifest. Returns a violations
    DataFrame (empty ⇒ pass, quality.py convention) with one row per
    corrupted / missing / unexpected shard.
    """
    manifest = read_shard_manifest(spark, out_path)
    if "checksum_algo" not in manifest.columns:  # pre-versioning manifest
        manifest = manifest.withColumn("checksum_algo", F.lit(LEGACY_ALGO))
    manifest = manifest.select("shard_id", "n_rows", "checksum", "checksum_algo")
    # compute only the checksum flavor(s) the manifest actually uses: the
    # legacy raw 48-bit sum deliberately WRAPS int64 (matching the old
    # writer under non-ANSI configs), so recomputing it unconditionally
    # would crash an ANSI session auditing a current-algo shard set — and
    # waste a full-corpus aggregate everywhere else
    algos = {r[0] for r in manifest.select("checksum_algo").distinct().collect()}
    data = read_training_shards(spark, out_path)
    term = portable_hash48(F.col(content_col))
    aggs = [F.count(F.lit(1)).alias("actual_rows")]
    if algos - {LEGACY_ALGO}:
        aggs.append(F.sum(term % F.lit(2147483647)).alias("actual_checksum"))
    if LEGACY_ALGO in algos:
        aggs.append(F.sum(term).alias("actual_checksum_legacy"))
    actual = data.groupBy("shard_id").agg(*aggs)
    for col in ("actual_checksum", "actual_checksum_legacy"):
        if col not in actual.columns:
            actual = actual.withColumn(col, F.lit(None).cast("long"))
    checksum_ok = (
        F.when(
            F.col("checksum_algo") == CHECKSUM_ALGO,
            F.col("checksum").eqNullSafe(F.col("actual_checksum")),
        )
        .when(
            F.col("checksum_algo") == LEGACY_ALGO,
            F.col("checksum").eqNullSafe(F.col("actual_checksum_legacy")),
        )
        # an UNKNOWN algo is ONE loud violation class (no formula to
        # recompute with), not a per-shard corruption verdict
        .otherwise(F.lit(False))
    )
    return (
        manifest.join(actual, "shard_id", "full_outer")
        .filter(
            ~(F.col("n_rows").eqNullSafe(F.col("actual_rows")) & checksum_ok)
        )
    )
