"""Small operator utilities."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@contextmanager
def persisted(*dfs: DataFrame) -> Iterator[None]:
    """Persist each plan for the block and unpersist it on exit, raise or
    not. A plan the caller had already cached is left alone: Spark's cache
    manager keys by logical plan, so an unconditional unpersist would
    silently evict the caller's entry."""
    owned = [df for df in dfs if not (df.storageLevel.useMemory or df.storageLevel.useDisk)]
    for df in owned:
        df.persist()
    try:
        yield
    finally:
        for df in owned:
            df.unpersist()


def release_local_checkpoints(df: DataFrame, since_rdd_id: int = 0) -> None:
    """Drop the blocks of every local checkpoint ``df``'s plan reads that was
    made at or after RDD id ``since_rdd_id`` (ids only grow), once every
    consumer of them has run. Left alone, a local checkpoint is freed only
    when the driver JVM garbage-collects its RDD (Spark's ContextCleaner),
    at no predictable time; reading it after this call fails loudly."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            rdd = leaf.rdd()
            if rdd.id() >= since_rdd_id and rdd.isLocallyCheckpointed():
                rdd.unpersist(False)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the session's default parallelism when the input has
    fewer partitions (e.g. a single parquet file feeding a compute-heavy
    projection — locally that strands all but one core).

    At 100 TB inputs already have thousands of partitions, so this is a no-op
    there; it only pays the shuffle when parallelism is otherwise wasted.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    # Decide off the FILE LISTING, not df.rdd.getNumPartitions(): the RDD
    # conversion forces plan analysis + a physical RDD per call. inputFiles()
    # is analysis-only; a many-file input is already parallel enough, and a
    # non-file source (empty list) just takes the repartition.
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — conservative fallback
        n_files = 0
    if n_files >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_cols: list[str],
    budget: int = 2048,
    partition_cols: list[str] | None = None,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Deterministic streaming-greedy sequence packer for training batches:
    assign rows to ~``budget``-token packs by running-token-count division
    (a pack may straddle the boundary by one row — exact bin packing is
    NP-hard and order-dependent; this form is reproducible in one window
    pass and is what training-data pipelines actually ship).

    ``partition_cols`` is the SCALE form: packing runs independently WITHIN
    each shard (one window partition per shard — parallel, no global sort),
    which matches how corpora are physically sharded (date / source / hash
    bucket); the returned ``pack_col`` is the pack index LOCAL to its shard,
    so callers compose a global id from (shard, pack_id). Omitting
    ``partition_cols`` packs the whole frame in ONE partition (Spark's
    no-partition window funnel) — the documented single-shard special case,
    only for small corpora: at 100 TB always pass shards.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    )
    w = base.orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(
        pack_col,
        F.floor((F.sum(token_col).over(w) - 1) / budget).cast("long"),
    )


def shuffle_assignments(
    df: DataFrame, id_col: str, n_shards: int, seed: str
) -> DataFrame:
    """Deterministic corpus shuffle: assign every row a (shard_id,
    pos_in_shard) drawn from a seeded hash permutation — the reproducible
    global reshuffle a training run needs before epoch streaming, WITHOUT a
    global sort.

    A total ORDER BY hash funnels the corpus through one task at scale;
    instead the permutation is factored: shard = hash % n_shards (one
    hash-partition exchange), position = row_number within the shard ordered
    by (hash, id) — per-shard windows, partition-parallel. Reading shards in
    id order shard-major reproduces one fixed pseudo-random permutation of
    the corpus for a given (seed, n_shards); changing the seed gives an
    independent permutation (epoch reshuffle = seed bump, zero data rewrite
    if shards are stored as the partition layout).

    The hash is the md5-derived portable hash over seed||id (reproducible
    cross-engine for the oracle); the (hash, id) tie-break makes positions
    total even on 48-bit collisions.
    """
    from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48

    h = portable_hash48(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard_id").orderBy("h", id_col)
    return (
        df.withColumn("h", h)
        .withColumn("shard_id", (F.col("h") % n_shards).cast("int"))
        .withColumn("pos_in_shard", F.row_number().over(w))
        .drop("h")
    )
