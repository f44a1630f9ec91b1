"""On-disk near-duplicate history index for incremental corpus builds.

``plans/corpus.run_corpus_pipeline_incremental`` probes each new batch
against the signatures of every document admitted so far (the bipartite
banded-LSH probe of ``operators/dedup.novelty_pairs``, oracle-verified as
``dedup_incremental_novelty``) and then appends the admitted batch's own
index rows, so batch N+1 sees them. Admission is therefore order-dependent
by design (first arrival wins). The gate matches on k-token shingles, so
documents SHORTER than k tokens have no signature and always pass.

The index is three parquet dirs (``bands/`` partitioned by band,
``shingles/``, ``sizes/``): the index is the product, readable by any batch
job. Per-batch probe cost: shingling/banding the batch itself, a bucket
join against the bands index, and an exact-Jaccard verify that scans index
shingles only for candidate pairs. For 100 TB indexes pass
``shingle_buckets``: ``shingles/`` then lives as a catalog table
bucketed+sorted by doc, and the verify join reads the index side
pre-partitioned — zero Exchange on the (corpus-sized) index, shuffle only
on the (batch-sized) probe side.

Each admitted batch appends one small file per component;
:func:`compact_novelty_index` folds them back (recoverably, see
:func:`_recover_compaction`) and :func:`should_compact` decides when.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.sources.bucketed import save_bucketed


def _shingles_table_name(index_path: str) -> str:
    """Catalog name for the bucketed shingles table of one index directory.

    Bucket specs live in the session catalog, not in the parquet files, so
    the bucketed layout needs a table identity; hashing the absolute path in
    keeps two indexes on one warehouse from colliding."""
    digest = hashlib.md5(os.path.abspath(index_path).encode()).hexdigest()[:12]
    return f"novelty_shingles_{digest}"


_INDEX_COMPONENTS = ("bands", "shingles", "sizes")


def _recover_compaction(index_path: str) -> None:
    """Finish or roll back an interrupted :func:`compact_novelty_index`.

    Compaction swaps each component directory through a two-rename dance
    (``x`` → ``x__precompact``, ``x__compact`` → ``x``); every crash point
    is recoverable from the directory states alone:

    - ``x`` missing, ``x__precompact`` present → crashed between the two
      renames: roll the original back (the completed-but-undeployed rewrite
      is discarded; re-run compaction later);
    - ``x`` AND ``x__precompact`` present → crashed after the swap, before
      the backup delete: drop the backup;
    - any leftover ``x__compact`` → an incomplete (or rolled-back) rewrite:
      drop it.

    Idempotent and cheap (six isdir probes); runs before every index read
    so a crashed maintenance job can never strand the ingest path.
    """
    import shutil

    for comp in _INDEX_COMPONENTS:
        main = os.path.join(index_path, comp)
        pre = main + "__precompact"
        tmp = main + "__compact"
        if os.path.isdir(pre) and not os.path.isdir(main):
            os.rename(pre, main)
        if os.path.isdir(pre) and os.path.isdir(main):
            shutil.rmtree(pre, ignore_errors=True)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)


def _swap_compacted(main: str) -> None:
    """Deploy ``main__compact`` over ``main`` (recovery contract above)."""
    import shutil

    pre = main + "__precompact"
    os.rename(main, pre)
    os.rename(main + "__compact", main)
    shutil.rmtree(pre, ignore_errors=True)


def _num_buckets(spark: SparkSession, table: str) -> int:
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if r.col_name.strip() == "Num Buckets":
            return int(r.data_type)
    raise ValueError(f"{table} is not a bucketed table")


def _count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def _index_footprint(
    index_path: str, components: tuple[str, ...] | None = _INDEX_COMPONENTS
) -> tuple[int, int]:
    """(data-file count, data-file bytes) across the state's data dirs.

    ``components=None`` walks the whole tree instead, skipping ``_``/``.``
    prefixed directories (staging, commit markers) — the layout-agnostic
    form for state roots whose component set varies (the corpus state adds
    ``semantic/`` only when embeddings are wired in). One directory walk —
    the same LIST an object store bills for once per maintenance decision,
    vs once per file per probe when the small-file pileup is left to grow
    (PERF_NOTES r6 compaction rung)."""
    n = b = 0
    roots = (
        [os.path.join(index_path, c) for c in components]
        if components is not None
        else [index_path]
    )
    for root in roots:
        for dirpath, dirnames, files in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                n += 1
                try:
                    b += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return n, b


def should_compact(
    index_path: str,
    *,
    max_files: int | None = None,
    max_bytes_per_file: int | None = None,
    components: tuple[str, ...] | None = _INDEX_COMPONENTS,
) -> bool:
    """Observable-driven compaction policy (VERDICT r6 item 7).

    A fixed ``compact_every_batches`` cadence needs hand-tuning to the
    stream's batch size: too sparse and the probe wall grows with the file
    count (measured 1.27→3.54 s over 384→6144 files, PERF_NOTES r6); too
    dense and the fold cost (≤6 s) is paid for nothing. This predicate keys
    the decision on what actually degrades the probe — the index's FILE
    COUNT — with an optional mean-file-size floor so a large index made of
    few big files is never churned:

    - ``max_files``: compact when the component dirs hold more data files
      than this (the probe opens every one of them);
    - ``max_bytes_per_file``: additionally require the MEAN file size to sit
      below this — above it, files are already chunky and rewriting them
      buys nothing (0 disables the floor).

    Pure function of the directory state; callable from any scheduler, not
    just the in-stream hook.
    """
    if max_files is None:
        return False
    n, b = _index_footprint(index_path, components)
    if n <= max_files:
        return False
    if max_bytes_per_file and n and (b / n) >= max_bytes_per_file:
        return False
    return True


def compact_novelty_index(
    spark: SparkSession, index_path: str, *, target_files: int = 1
) -> dict:
    """Maintenance hook (VERDICT r5 item 3): rewrite the index's accumulated
    per-batch appends — one parquet file per component per admitted batch —
    into few files, EXACTLY preserving the row multiset (shingle duplicates
    would inflate the count-based Jaccard verify in
    :func:`dedup.novelty_pairs`, so unlike an anti-join store this rewrite
    must be exact, hence the recoverable rename dance in
    :func:`_recover_compaction`).

    Layout is preserved: ``bands/`` stays partitioned by band (one file per
    band dir); a bucketed ``shingles`` catalog table is rewritten THROUGH a
    same-spec bucketed write (pre-repartitioned on the bucket key so each
    bucket lands in one file) and keeps its zero-Exchange probe plan;
    ``sizes/`` coalesces to ``target_files``. The TableStore ``compact``
    analogue for state dirs that are not catalog tables.

    MUST NOT run concurrently with an active ingest into the same index —
    schedule between drains, like any OPTIMIZE. Returns per-component
    ``{files_before, files_after}``.
    """
    import shutil

    _recover_compaction(index_path)
    bands_dir = os.path.join(index_path, "bands")
    stats: dict = {}
    if not os.path.isdir(bands_dir):
        return stats

    # bands: one shuffle keyed on the partition column → one file per band dir
    before = _count_files(bands_dir)
    spark.read.parquet(bands_dir).repartition(F.col("band")).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(bands_dir + "__compact")
    _swap_compacted(bands_dir)
    stats["bands"] = {"files_before": before, "files_after": _count_files(bands_dir)}

    # shingles: bucketed catalog layout rewrites through a same-spec bucketed
    # temp table (dropping it keeps the files — external table), then the dir
    # swap deploys the compacted bucket files under the ORIGINAL table's
    # unchanged location; plain layout is a coalesce rewrite.
    sh_dir = os.path.join(index_path, "shingles")
    before = _count_files(sh_dir)
    sh_table = _shingles_table_name(index_path)
    if spark.catalog.tableExists(sh_table):
        nb = _num_buckets(spark, sh_table)
        tmp_table = f"{sh_table}__compact"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        shutil.rmtree(sh_dir + "__compact", ignore_errors=True)
        save_bucketed(
            # pre-partition on the bucket key with the bucket count so every
            # writer task holds exactly one bucket → one file per bucket
            spark.table(sh_table).repartition(nb, F.col("doc")),
            tmp_table,
            ["doc"],
            nb,
            sort_cols=["doc"],
            path=sh_dir + "__compact",
            mode="overwrite",
        )
        spark.sql(f"DROP TABLE {tmp_table}")  # external: files remain
        _swap_compacted(sh_dir)
        spark.catalog.refreshTable(sh_table)
    else:
        spark.read.parquet(sh_dir).coalesce(target_files).write.mode(
            "overwrite"
        ).parquet(sh_dir + "__compact")
        _swap_compacted(sh_dir)
    stats["shingles"] = {"files_before": before, "files_after": _count_files(sh_dir)}

    sizes_dir = os.path.join(index_path, "sizes")
    before = _count_files(sizes_dir)
    spark.read.parquet(sizes_dir).coalesce(target_files).write.mode(
        "overwrite"
    ).parquet(sizes_dir + "__compact")
    _swap_compacted(sizes_dir)
    stats["sizes"] = {"files_before": before, "files_after": _count_files(sizes_dir)}
    return stats


def _read_index(
    spark: SparkSession, index_path: str
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """Load the on-disk history index, or None before the first admission.

    A batch of shingle-less documents (all shorter than k tokens) appends
    ZERO index rows, leaving directories with no data files — parquet schema
    inference fails on those, which is equivalent to "no index yet", so that
    failure maps to None rather than crashing the next micro-batch.
    """
    _recover_compaction(index_path)
    if not os.path.isdir(os.path.join(index_path, "bands")):
        return None
    try:
        sh_table = _shingles_table_name(index_path)
        shingles = (
            # the bucketed layout: reading through the catalog keeps the
            # bucket spec, so the verify join co-locates with no Exchange on
            # the index side (a raw path read would lose it)
            spark.table(sh_table)
            if spark.catalog.tableExists(sh_table)
            else spark.read.parquet(os.path.join(index_path, "shingles"))
        )
        return (
            spark.read.parquet(os.path.join(index_path, "bands")),
            shingles,
            spark.read.parquet(os.path.join(index_path, "sizes")),
        )
    except Exception:  # AnalysisException: unable to infer schema (empty dir)
        return None


def _append_index(
    index_path: str,
    index: tuple[DataFrame, DataFrame, DataFrame],
    shingle_buckets: int | None = None,
) -> None:
    """Append one admitted batch's index rows.

    ``shingle_buckets`` switches ``shingles/`` to the 100 TB layout: a
    catalog table bucketed (and sorted) by ``doc``, so the candidate-verify
    join in :func:`dedup.novelty_pairs` — keyed on (doc_hist, h), for which
    HashPartitioning(doc) is a valid subset clustering — reads the index
    side pre-partitioned, shuffling only the (batch-sized) probe side.
    Must stay constant for the life of an index: the bucket count is part
    of the on-disk layout.

    r12 (guide §6/§2.3): all three components derive from the same shingle
    inverted index ``sh`` (``bands``/``sizes`` are aggregates over it), but
    three separate write actions re-ran the tokenize→shingle→distinct
    pipeline once EACH. ``sh`` is now cached for the span of the appends —
    the bands write (first, preserving the crash-ordering contract: the
    "index exists" probe keys on ``bands/``) materializes it at full
    aggregate parallelism, the other two read the cache. The flat writes
    also carry a REBALANCE hint so each batch appends AQE-advisory-sized
    files instead of one file per upstream shuffle partition — the guide's
    small-files fix, scale-adaptive with no tuned constant (a tiny batch
    appends 1 file per component; a huge one appends ~128 MB files). The
    bucketed shingles path keeps its own repartition-by-bucket layout.
    Extra cost: one AQE-coalesced shuffle of each component's (small,
    post-aggregate or batch-sized) rows, the documented price of sized
    output (guide §6 "REBALANCE hint before the write").
    """
    bands, sh, sizes = index
    sh = sh.cache()
    try:
        bands.hint("rebalance", "band").write.mode("append").partitionBy(
            "band"
        ).parquet(os.path.join(index_path, "bands"))
        if shingle_buckets:
            save_bucketed(
                sh,
                _shingles_table_name(index_path),
                ["doc"],
                shingle_buckets,
                sort_cols=["doc"],
                path=os.path.join(index_path, "shingles"),
                mode="append",
            )
        else:
            sh.hint("rebalance").write.mode("append").parquet(
                os.path.join(index_path, "shingles")
            )
        sizes.hint("rebalance").write.mode("append").parquet(
            os.path.join(index_path, "sizes")
        )
    finally:
        sh.unpersist()
