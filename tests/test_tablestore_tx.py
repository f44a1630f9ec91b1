"""Transactional-write semantics of TableStore (SURVEY §2.1 S8; reference
Iceberg commit guarantees at iceberg_manager.py:190-313): a full overwrite is
write-to-fresh-version + atomic symlink swap, so a failed write never
corrupts the live table and read-then-overwrite-same-table plans need no
driver-side materialization."""

import os
import re

import pytest
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.schemas import conform
from f1_datalakehouse_pipeline_spark.sources.tables import TableStore


def _sessions(spark, n, gp="monaco"):
    return conform(
        spark.range(n).select(
            F.col("id").cast("long").alias("session_key"),
            F.lit(2025).alias("year"),
            F.lit(gp).alias("grand_prix_name"),
            F.lit("race").alias("session_type"),
            F.lit("GP").alias("meeting_name"),
            F.lit(None).cast("long").alias("meeting_key"),
            F.lit("2025-03-01 14:00:00").cast("timestamp").alias("date_start"),
            F.lit("2025-03-01 16:00:00").cast("timestamp").alias("date_end"),
            F.lit(False).alias("is_sprint_weekend"),
        ),
        "sessions_silver",
        allow_missing=True,
    )


def test_overwrite_publishes_via_symlink_and_gcs_versions(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    for i, n in enumerate([10, 20, 30, 40]):
        store.overwrite(_sessions(spark, n), "sessions_silver")
        assert store.read("sessions_silver").count() == n
    live = store.path("sessions_silver")
    assert os.path.islink(live)
    vroot = os.path.join(store.root, ".versions", "sessions_silver")
    # current + at most 1 kept predecessor survive GC
    assert len(os.listdir(vroot)) <= 2


def test_read_of_declared_table_starts_no_spark_job(spark, tmp_path):
    """A plain read passes the registry schema: no schema-inference job runs
    until the scan itself, and the schema is the declared one."""
    from f1_datalakehouse_pipeline_spark.schemas import ALL_SCHEMAS

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sessions(spark, 5), "sessions_silver")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = store.read("sessions_silver")
    assert set(tracker.getJobIdsForGroup()) == before
    assert {f.name: f.dataType for f in df.schema.fields} == {
        f.name: f.dataType for f in ALL_SCHEMAS["sessions_silver"].fields
    }
    # the tracker does see this session's jobs: the scan itself starts one
    assert df.count() == 5
    assert set(tracker.getJobIdsForGroup()) - before


def test_failed_overwrite_leaves_old_table_readable(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sessions(spark, 10, gp="monaco"), "sessions_silver")

    @F.udf("string")
    def boom(x):
        raise ValueError("mid-write failure")

    bad = _sessions(spark, 5, gp="miami").withColumn("meeting_name", boom("meeting_name"))
    with pytest.raises(Exception, match="mid-write failure"):
        store.overwrite(bad, "sessions_silver")

    # the live table is intact: same rows, same partition values
    out = store.read("sessions_silver")
    assert out.count() == 10
    assert out.select("grand_prix_name").distinct().collect()[0][0] == "monaco"

    # and the store recovers: the next good overwrite commits normally
    store.overwrite(_sessions(spark, 7, gp="miami"), "sessions_silver")
    assert store.read("sessions_silver").count() == 7


def test_read_then_overwrite_same_table_is_safe(spark, tmp_path):
    """The SCD2 incremental-merge shape: the overwrite's input scans the very
    table being overwritten. The versioned write keeps reading the old files
    while building the new version — no toPandas/checkpoint needed."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sessions(spark, 12), "sessions_silver")
    current = store.read("sessions_silver")
    doubled = current.unionByName(
        current.withColumn("session_key", F.col("session_key") + 1000)
    )
    store.overwrite(doubled, "sessions_silver")
    assert store.read("sessions_silver").count() == 24


def test_real_directory_at_live_path_makes_overwrite_raise(spark, tmp_path):
    """A live path is always a symlink to a version: a real directory there
    was not written by the store, so the publish raises, names the path and
    leaves every file of that directory as it was. Both write paths fail
    before their Spark job, so no staged version dir is left behind."""
    store = TableStore(spark, str(tmp_path / "wh"))
    live = store.path("sessions_silver")
    _sessions(spark, 5).write.parquet(live)
    vroot = store._version_root("sessions_silver")

    def snapshot():
        files = {}
        for d, _dirs, names in os.walk(live):
            for f in names:
                with open(os.path.join(d, f), "rb") as fh:
                    files[os.path.join(d, f)] = fh.read()
        return files

    before = snapshot()
    assert before
    with pytest.raises(RuntimeError, match=re.escape(live)):
        store.overwrite(_sessions(spark, 8), "sessions_silver")
    with pytest.raises(RuntimeError, match=re.escape(live)):
        store.overwrite_partitions(_sessions(spark, 8), "sessions_silver")
    assert os.path.isdir(live) and not os.path.islink(live)
    assert snapshot() == before
    assert not os.path.exists(vroot) or not os.listdir(vroot)


def test_time_travel_reads_previous_version(spark, tmp_path):
    import pytest as _pytest

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sessions(spark, 10, gp="monaco"), "sessions_silver")
    store.overwrite(_sessions(spark, 25, gp="miami"), "sessions_silver")

    assert store.read_version("sessions_silver", 0).count() == 25
    prev = store.read_version("sessions_silver", 1)
    assert prev.count() == 10
    assert prev.select("grand_prix_name").distinct().collect()[0][0] == "monaco"
    # past the retention horizon -> loud failure, never silent wrong data
    with _pytest.raises(IndexError):
        store.read_version("sessions_silver", 5)


def test_merge_upsert_update_insert_persist(spark, tmp_path):
    """MERGE semantics: matched keys update, new keys insert, untouched rows
    persist — atomically (one version swap)."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sessions(spark, 5, gp="monaco"), "sessions_silver")

    updates = _sessions(spark, 2, gp="miami").withColumn(
        "session_key", F.col("session_key") + 3  # keys 3,4 update; none insert
    ).union(_sessions(spark, 1, gp="miami").withColumn("session_key", F.lit(99)))
    store.merge_upsert(updates, "sessions_silver", keys=["session_key"])

    out = store.read("sessions_silver")
    assert out.count() == 6  # 5 original (2 replaced) + 1 inserted
    gp = {r.session_key: r.grand_prix_name for r in out.collect()}
    assert gp[0] == "monaco" and gp[2] == "monaco"      # persisted
    assert gp[3] == "miami" and gp[4] == "miami"        # updated
    assert gp[99] == "miami"                            # inserted
    # previous version still time-travelable
    assert store.read_version("sessions_silver", 1).count() == 5


def test_relative_warehouse_root_survives_overwrite(spark, tmp_path, monkeypatch):
    """A store built from a RELATIVE root (plain CLI --warehouse usage) must
    keep working after the first transactional overwrite: symlink targets are
    absolutized, so resolution never depends on the CWD."""
    monkeypatch.chdir(tmp_path)
    store = TableStore(spark, "wh_rel")
    store.overwrite(_sessions(spark, 9), "sessions_silver")
    assert store.read("sessions_silver").count() == 9
    # reads still resolve after the process CWD moves elsewhere
    monkeypatch.chdir(tmp_path.parent)
    assert store.read("sessions_silver").count() == 9
    target = os.readlink(os.path.join(str(tmp_path), "wh_rel", "sessions_silver"))
    assert os.path.isabs(target)


def test_orphaned_failed_write_never_shadows_committed_version(spark, tmp_path):
    """A crashed overwrite's staging dir carries no commit sentinel: it is
    never listed by versions()/read_version, never counted against the keep
    quota (so it cannot evict a good committed predecessor), and is reaped by
    GC once past orphan_ttl_s."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.orphan_ttl_s = 0.0
    store.overwrite(_sessions(spark, 10, gp="monaco"), "sessions_silver")

    @F.udf("string")
    def boom(x):
        raise ValueError("mid-write failure")

    bad = _sessions(spark, 5, gp="miami").withColumn("meeting_name", boom("meeting_name"))
    with pytest.raises(Exception, match="mid-write failure"):
        store.overwrite(bad, "sessions_silver")

    # the orphan is invisible to time travel even before GC runs
    assert all(store._is_committed(v) for v in store.versions("sessions_silver"))

    store.overwrite(_sessions(spark, 20, gp="miami"), "sessions_silver")
    vs = store.versions("sessions_silver")
    assert len(vs) == 2  # current + the GOOD predecessor; orphan GC'd
    prev = store.read_version("sessions_silver", 1)
    assert prev.count() == 10
    assert prev.select("grand_prix_name").distinct().collect()[0][0] == "monaco"
    vroot = os.path.join(store.root, ".versions", "sessions_silver")
    assert len(os.listdir(vroot)) == 2  # stale orphan physically removed


def test_concurrent_overwrite_cas_raises_for_second_writer(spark, tmp_path):
    """Two interleaved overwrites: the slower writer's publish fails its
    compare-and-swap loudly; the table stays consistent at the winner's
    version (no silent last-swap-wins)."""
    from f1_datalakehouse_pipeline_spark.sources.tables import ConcurrentWriteError

    root = str(tmp_path / "wh")
    store_a = TableStore(spark, root)
    store_b = TableStore(spark, root)
    store_a.overwrite(_sessions(spark, 10, gp="monaco"), "sessions_silver")

    # writer A starts: captures its read snapshot, finishes its Spark write
    expected_a = store_a._current_target("sessions_silver")
    vdir_a = os.path.join(store_a._version_root("sessions_silver"), "v-interleaved")
    store_a._writer(_sessions(spark, 5, gp="miami"), "sessions_silver").option(
        "partitionOverwriteMode", "static"
    ).mode("overwrite").save(vdir_a)

    # writer B commits in between
    store_b.overwrite(_sessions(spark, 20, gp="spa"), "sessions_silver")

    # writer A's publish must lose the CAS
    with pytest.raises(ConcurrentWriteError, match="live version changed"):
        store_a._publish("sessions_silver", vdir_a, expected=expected_a)

    out = store_a.read("sessions_silver")
    assert out.count() == 20
    assert out.select("grand_prix_name").distinct().collect()[0][0] == "spa"


def test_overwrite_partitions_is_whole_commit_transactional(spark, tmp_path):
    """A crash mid partition-overwrite leaves EVERY live partition readable
    at its old version (whole-commit atomicity, not per-partition-dir)."""
    store = TableStore(spark, str(tmp_path / "wh"))
    base = _sessions(spark, 10, gp="monaco").unionByName(
        _sessions(spark, 6, gp="miami").withColumn("session_key", F.col("session_key") + 100)
    )
    store.overwrite(base, "sessions_silver")

    @F.udf("string")
    def boom(x):
        raise ValueError("mid-write failure")

    bad = _sessions(spark, 3, gp="miami").withColumn("meeting_name", boom("meeting_name"))
    with pytest.raises(Exception, match="mid-write failure"):
        store.overwrite_partitions(bad, "sessions_silver")

    out = store.read("sessions_silver")
    assert out.count() == 16
    assert set(r.grand_prix_name for r in out.select("grand_prix_name").distinct().collect()) == {
        "monaco",
        "miami",
    }

    # and a good partition overwrite replaces exactly the miami partition
    store.overwrite_partitions(
        _sessions(spark, 3, gp="miami").withColumn("session_key", F.col("session_key") + 200),
        "sessions_silver",
    )
    out = store.read("sessions_silver")
    assert out.filter(F.col("grand_prix_name") == "monaco").count() == 10
    assert out.filter(F.col("grand_prix_name") == "miami").count() == 3


def test_overwrite_partitions_grafts_untouched_partitions_as_hardlinks(spark, tmp_path):
    """Untouched partitions are carried into the new version with zero data
    movement: the new version's files share inodes with the old version's."""
    import glob

    store = TableStore(spark, str(tmp_path / "wh"))
    base = _sessions(spark, 10, gp="monaco").unionByName(
        _sessions(spark, 6, gp="miami").withColumn("session_key", F.col("session_key") + 100)
    )
    store.overwrite(base, "sessions_silver")
    old_live = os.path.realpath(store.path("sessions_silver"))
    old_inodes = {
        os.path.relpath(f, old_live): os.stat(f).st_ino
        for f in glob.glob(f"{old_live}/**/*.parquet", recursive=True)
        if "grand_prix_name=monaco" in f
    }
    assert old_inodes

    store.overwrite_partitions(
        _sessions(spark, 2, gp="miami").withColumn("session_key", F.col("session_key") + 500),
        "sessions_silver",
    )
    new_live = os.path.realpath(store.path("sessions_silver"))
    assert new_live != old_live
    new_inodes = {
        os.path.relpath(f, new_live): os.stat(f).st_ino
        for f in glob.glob(f"{new_live}/**/*.parquet", recursive=True)
        if "grand_prix_name=monaco" in f
    }
    assert new_inodes == old_inodes  # same files, same inodes: hardlinked


def test_compact_one_partition_leaves_other_partition_files_untouched(spark, tmp_path):
    """compact(predicate=...) rewrites only the selected partition's files;
    every other partition dir carries over byte-identical (same inodes)."""
    import glob

    from f1_datalakehouse_pipeline_spark.sources.tables import compact

    store = TableStore(spark, str(tmp_path / "wh"))
    # one overwrite over two write tasks -> at least 2 files per partition dir
    batch = _sessions(spark, 10, gp="monaco").unionByName(
        _sessions(spark, 6, gp="miami").withColumn(
            "session_key", F.col("session_key") + 100
        )
    )
    both = batch.unionByName(
        batch.withColumn("session_key", F.col("session_key") + 1000)
    )
    store.overwrite(both.repartition(2), "sessions_silver")

    live0 = os.path.realpath(store.path("sessions_silver"))
    monaco_files = [
        f
        for f in glob.glob(f"{live0}/**/*.parquet", recursive=True)
        if "grand_prix_name=monaco" in f
    ]
    miami_before = {
        os.path.basename(f): os.stat(f).st_ino
        for f in glob.glob(f"{live0}/**/*.parquet", recursive=True)
        if "grand_prix_name=miami" in f
    }
    assert len(monaco_files) >= 2 and len(miami_before) >= 2

    compact(store, "sessions_silver", predicate=F.col("grand_prix_name") == "monaco")

    live1 = os.path.realpath(store.path("sessions_silver"))
    monaco_after = [
        f
        for f in glob.glob(f"{live1}/**/*.parquet", recursive=True)
        if "grand_prix_name=monaco" in f
    ]
    miami_after = {
        os.path.basename(f): os.stat(f).st_ino
        for f in glob.glob(f"{live1}/**/*.parquet", recursive=True)
        if "grand_prix_name=miami" in f
    }
    assert len(monaco_after) == 1  # compacted to a single file
    assert miami_after == miami_before  # untouched, not rewritten
    out = store.read("sessions_silver")
    assert out.count() == 32
    assert out.filter(F.col("grand_prix_name") == "monaco").count() == 20


def test_history_and_vacuum(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    for n in (5, 10, 15):
        store.overwrite(_sessions(spark, n), "sessions_silver")
    hist = store.history("sessions_silver")
    assert len(hist) == 2  # current + 1 retained
    assert hist[0]["is_current"] and not hist[1]["is_current"]
    assert all(h["n_files"] > 0 and h["n_bytes"] > 0 for h in hist)

    removed = store.vacuum("sessions_silver", keep=0)
    assert removed == 1
    assert len(store.versions("sessions_silver")) == 1
    assert store.read("sessions_silver").count() == 15  # current untouched
    import pytest as _pytest

    with _pytest.raises(IndexError):
        store.read_version("sessions_silver", 1)  # time travel pruned, loudly


def test_compact_non_partition_predicate_never_drops_rows(spark, tmp_path):
    """A predicate on a NON-partition column selects partitions (any
    partition containing a match is rewritten IN FULL) — it must never act
    as a row filter; on an unpartitioned table it raises."""
    from f1_datalakehouse_pipeline_spark.sources.tables import compact

    store = TableStore(spark, str(tmp_path / "wh"))
    base = _sessions(spark, 10, gp="monaco").unionByName(
        _sessions(spark, 6, gp="miami").withColumn(
            "session_key", F.col("session_key") + 100
        )
    )
    store.overwrite(base, "sessions_silver")

    # session_key == 3 exists only in the monaco partition
    compact(store, "sessions_silver", predicate=F.col("session_key") == 3)
    out = store.read("sessions_silver")
    assert out.count() == 16  # nothing deleted
    assert out.filter(F.col("grand_prix_name") == "monaco").count() == 10

    # unpartitioned table (empty fallback suffices — the guard is static)
    with pytest.raises(ValueError, match="unpartitioned"):
        compact(store, "drivers_silver", predicate=F.col("driver_number") == 1)


def test_pre_sentinel_warehouse_upgrade_preserves_retention(spark, tmp_path):
    """Version dirs written before the commit-sentinel protocol carry no
    marker; the next publish must mark the outgoing live version (it
    provably served reads) so retention and time travel survive the
    upgrade instead of the predecessor being GC'd as an orphan."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.orphan_ttl_s = 0.0
    store.overwrite(_sessions(spark, 10, gp="monaco"), "sessions_silver")
    # simulate a pre-r3 warehouse: strip every sentinel
    vroot = os.path.join(store.root, ".versions", "sessions_silver")
    for d in os.listdir(vroot):
        mark = os.path.join(vroot, d, ".committed")
        if os.path.exists(mark):
            os.unlink(mark)

    store.overwrite(_sessions(spark, 20, gp="miami"), "sessions_silver")
    vs = store.versions("sessions_silver")
    assert len(vs) == 2  # predecessor retained, not orphan-GC'd
    prev = store.read_version("sessions_silver", 1)
    assert prev.count() == 10
    assert prev.select("grand_prix_name").distinct().collect()[0][0] == "monaco"


def test_delete_where_rewrites_only_touched_partitions(spark, tmp_path):
    """Row deletes rewrite matching partitions minus matching rows; other
    partitions carry over as hardlinks; a no-match predicate is a no-op."""
    import glob

    store = TableStore(spark, str(tmp_path / "wh"))
    base = _sessions(spark, 10, gp="monaco").unionByName(
        _sessions(spark, 6, gp="miami").withColumn(
            "session_key", F.col("session_key") + 100
        )
    )
    store.overwrite(base, "sessions_silver")
    live0 = os.path.realpath(store.path("sessions_silver"))
    miami_inodes = {
        os.path.basename(f): os.stat(f).st_ino
        for f in glob.glob(f"{live0}/**/*.parquet", recursive=True)
        if "grand_prix_name=miami" in f
    }

    # delete 3 monaco rows (session_key < 3): only monaco rewrites
    store.delete_where(F.col("session_key") < 3, "sessions_silver")
    out = store.read("sessions_silver")
    assert out.count() == 13
    assert out.filter(F.col("grand_prix_name") == "monaco").count() == 7
    live1 = os.path.realpath(store.path("sessions_silver"))
    miami_after = {
        os.path.basename(f): os.stat(f).st_ino
        for f in glob.glob(f"{live1}/**/*.parquet", recursive=True)
        if "grand_prix_name=miami" in f
    }
    assert miami_after == miami_inodes  # untouched partition: hardlinked

    # deleting an ENTIRE partition leaves the table consistent
    store.delete_where(F.col("grand_prix_name") == "miami", "sessions_silver")
    out = store.read("sessions_silver")
    assert out.count() == 7
    assert out.filter(F.col("grand_prix_name") == "miami").count() == 0


def test_merge_upsert_with_tombstones(spark, tmp_path):
    """delete_col rows remove matching keys (WHEN MATCHED AND flag THEN
    DELETE); tombstones for absent keys no-op; upserts still apply."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sessions(spark, 5, gp="monaco"), "sessions_silver")

    updates = (
        _sessions(spark, 1, gp="miami").withColumn("session_key", F.lit(2))
        .withColumn("__del", F.lit(False))          # update key 2
        .unionByName(
            _sessions(spark, 1, gp="miami").withColumn("session_key", F.lit(4))
            .withColumn("__del", F.lit(True))       # delete key 4
        )
        .unionByName(
            _sessions(spark, 1, gp="miami").withColumn("session_key", F.lit(77))
            .withColumn("__del", F.lit(True))       # tombstone, absent key
        )
    )
    store.merge_upsert(updates, "sessions_silver", keys=["session_key"], delete_col="__del")
    out = {r.session_key: r.grand_prix_name for r in store.read("sessions_silver").collect()}
    assert set(out) == {0, 1, 2, 3}  # 4 deleted, 77 never existed
    assert out[2] == "miami" and out[0] == "monaco"


def test_delete_where_removes_null_partition_rows(spark, tmp_path):
    """ADVICE r3 (medium): rows whose partition-column value is NULL land in
    __HIVE_DEFAULT_PARTITION__; a null-unsafe semi/anti join on the partition
    columns would never match them against `touched`, so they'd silently
    survive any delete. The eqNullSafe join must delete them like any row."""
    store = TableStore(spark, str(tmp_path / "wh"))
    base = _sessions(spark, 6, gp="monaco").unionByName(
        _sessions(spark, 4, gp="ghost")
        .withColumn("session_key", F.col("session_key") + 100)
        .withColumn("grand_prix_name", F.lit(None).cast("string"))
    )
    store.overwrite(base, "sessions_silver")
    assert store.read("sessions_silver").count() == 10

    # predicate selects 2 NULL-partition rows and 2 monaco rows
    store.delete_where(
        (F.col("session_key").isin(100, 101)) | (F.col("session_key") < 2),
        "sessions_silver",
    )
    out = store.read("sessions_silver")
    assert out.count() == 6
    assert out.filter(F.col("grand_prix_name").isNull()).count() == 2
    assert out.filter(F.col("session_key").isin(100, 101)).count() == 0

    # deleting ALL remaining NULL-partition rows (whole-partition edge)
    store.delete_where(F.col("grand_prix_name").isNull(), "sessions_silver")
    out = store.read("sessions_silver")
    assert out.count() == 4
    assert out.filter(F.col("grand_prix_name").isNull()).count() == 0


def test_merge_upsert_cas_snapshot_captured_at_read_time(spark, tmp_path):
    """ADVICE r3: the CAS `expected` must be pinned when the table is READ,
    not when overwrite() later publishes — a rival commit landing in between
    must surface as ConcurrentWriteError, never as a silent merge computed
    from a superseded version."""
    from f1_datalakehouse_pipeline_spark.sources.tables import (
        ConcurrentWriteError,
        _UNSET,
    )

    root = str(tmp_path / "wh")

    class RacyStore(TableStore):
        """Injects a rival commit AFTER merge_upsert's read but BEFORE its
        publishing overwrite — exactly the window the advice describes."""

        def overwrite(
            self, df, table, expected=_UNSET, changes=None, change_keys=None,
        ):
            TableStore(self.spark, self.root).overwrite(
                _sessions(self.spark, 9, gp="rival"), table
            )
            super().overwrite(
                df, table, expected=expected,
                changes=changes, change_keys=change_keys,
            )

    store = RacyStore(spark, root)
    TableStore(spark, root).overwrite(_sessions(spark, 5, gp="monaco"), "sessions_silver")
    updates = _sessions(spark, 1, gp="miami").withColumn("session_key", F.lit(2))
    with pytest.raises(ConcurrentWriteError, match="live version changed"):
        store.merge_upsert(updates, "sessions_silver", keys=["session_key"])
    # the rival's commit is what serves
    out = store.read("sessions_silver")
    assert out.count() == 9
    assert out.select("grand_prix_name").distinct().collect()[0][0] == "rival"


def test_delete_where_cas_snapshot_captured_at_read_time(spark, tmp_path):
    from f1_datalakehouse_pipeline_spark.sources.tables import (
        ConcurrentWriteError,
        _UNSET,
    )

    root = str(tmp_path / "wh")

    class RacyStore(TableStore):
        def overwrite_partitions(
            self, df, table, expected=_UNSET, changes=None, change_keys=None,
        ):
            TableStore(self.spark, self.root).overwrite(
                _sessions(self.spark, 9, gp="rival"), table
            )
            super().overwrite_partitions(
                df, table, expected=expected,
                changes=changes, change_keys=change_keys,
            )

    store = RacyStore(spark, root)
    TableStore(spark, root).overwrite(_sessions(spark, 8, gp="monaco"), "sessions_silver")
    with pytest.raises(ConcurrentWriteError, match="live version changed"):
        store.delete_where(F.col("session_key") < 3, "sessions_silver")
    out = store.read("sessions_silver")
    assert out.count() == 9


def test_two_process_writer_race_overlapping_and_disjoint(spark, tmp_path):
    """VERDICT r3 item 6: a REAL second process (own JVM) races this one on
    the same warehouse. Disjoint partitions: both writers' last rounds must
    land. Overlapping partition: exactly one last-writer wins per commit and
    nothing is lost/duplicated. Every retained version must carry the commit
    sentinel (no orphan ever served)."""
    import subprocess
    import sys
    import textwrap
    import time as _time

    root = str(tmp_path / "wh")
    store = TableStore(spark, root)
    # seed all three partitions so overwrite_partitions grafts from round 1
    seed = (
        _sessions(spark, 4, gp="monaco")
        .unionByName(_sessions(spark, 4, gp="miami"))
        .unionByName(_sessions(spark, 4, gp="shared"))
    )
    store.overwrite(seed, "sessions_silver")

    rounds = 3
    child_code = textwrap.dedent(
        """
        import sys, time
        root, ready, go = sys.argv[1], sys.argv[2], sys.argv[3]
        sys.path.insert(0, %(repo)r)
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .appName("race-child")
            .getOrCreate()
        )
        from f1_datalakehouse_pipeline_spark.schemas import conform
        from f1_datalakehouse_pipeline_spark.sources.tables import (
            ConcurrentWriteError, TableStore,
        )

        def sessions(n, gp, tag):
            return conform(
                spark.range(n).select(
                    F.col("id").alias("session_key"),
                    F.lit(2025).alias("year"),
                    F.lit(gp).alias("grand_prix_name"),
                    F.lit("race").alias("session_type"),
                    F.lit(tag).alias("meeting_name"),
                ),
                "sessions_silver",
                allow_missing=True,
            )

        store = TableStore(spark, root)
        open(ready, "w").close()
        while True:
            try:
                open(go).close(); break
            except OSError:
                time.sleep(0.02)
        for i in range(%(rounds)d):
            df = sessions(5, "miami", f"child-{i}").unionByName(
                sessions(3, "shared", f"child-{i}")
            )
            for _ in range(60):
                try:
                    store.overwrite_partitions(df, "sessions_silver")
                    break
                except ConcurrentWriteError:
                    time.sleep(0.05)
            else:
                raise SystemExit("child starved")
        print("CHILD-DONE")
        """
        % {"rounds": rounds, "repo": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}
    )
    script = tmp_path / "child.py"
    script.write_text(child_code)
    ready, go = str(tmp_path / "ready"), str(tmp_path / "go")
    child = subprocess.Popen(
        [sys.executable, str(script), root, ready, go],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        deadline = _time.monotonic() + 120
        while not os.path.exists(ready):
            assert _time.monotonic() < deadline, "child never became ready"
            _time.sleep(0.1)
        open(go, "w").close()

        for i in range(rounds):
            df = _sessions(spark, 6, gp="monaco").withColumn(
                "meeting_name", F.lit(f"parent-{i}")
            ).unionByName(
                _sessions(spark, 3, gp="shared").withColumn(
                    "meeting_name", F.lit(f"parent-{i}")
                )
            )
            for _ in range(60):
                try:
                    store.overwrite_partitions(df, "sessions_silver")
                    break
                except ConcurrentWriteError:
                    _time.sleep(0.05)
            else:
                raise AssertionError("parent starved")
        out, err = child.communicate(timeout=180)
        assert "CHILD-DONE" in out, f"child failed: {err[-2000:]}"
    finally:
        if child.poll() is None:
            child.kill()

    final = store.read("sessions_silver")
    by_gp = {
        r.grand_prix_name: (r.cnt, r.tags)
        for r in final.groupBy("grand_prix_name").agg(
            F.count("*").alias("cnt"),
            F.collect_set("meeting_name").alias("tags"),
        ).collect()
    }
    # disjoint partitions: each writer's LAST round landed intact
    assert by_gp["monaco"] == (6, [f"parent-{rounds-1}"])
    assert by_gp["miami"] == (5, [f"child-{rounds-1}"])
    # overlapping partition: exactly one whole commit serves (no mix of
    # writers, no duplicate rows)
    assert by_gp["shared"][0] == 3
    assert len(by_gp["shared"][1]) == 1
    assert by_gp["shared"][1][0] in (f"parent-{rounds-1}", f"child-{rounds-1}")
    # every retained version carries the commit sentinel; current serves
    for v in store.versions("sessions_silver"):
        is_current = os.path.realpath(v) == os.path.realpath(store.path("sessions_silver"))
        assert is_current or os.path.exists(os.path.join(v, ".committed"))


def _results(spark, n, gp="monaco"):
    return conform(
        spark.range(n).select(
            F.col("id").cast("long").alias("session_key"),
            F.lit(2025).alias("year"),
            F.lit(gp).alias("grand_prix_name"),
            (F.col("id") % 20 + 1).cast("int").alias("driver_number"),
        ),
        "race_results_silver",
        allow_missing=True,
    )


def test_commit_many_publishes_all_tables(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.commit_many(
        [
            (_sessions(spark, 5, gp="monaco"), "sessions_silver"),
            (_results(spark, 7, gp="monaco"), "race_results_silver"),
        ]
    )
    assert store.read("sessions_silver").count() == 5
    assert store.read("race_results_silver").count() == 7
    # both live paths are committed versions
    for t in ("sessions_silver", "race_results_silver"):
        cur = os.path.realpath(store.path(t))
        assert os.path.exists(os.path.join(cur, ".committed"))


def test_publish_many_is_all_or_nothing_on_rival_commit(spark, tmp_path):
    """A rival commit to ONE table between stage and publish must fail the
    WHOLE batch: neither table advances, staged dirs stay unpublished."""
    from f1_datalakehouse_pipeline_spark.sources.tables import ConcurrentWriteError

    root = str(tmp_path / "wh")
    store = TableStore(spark, root)
    store.commit_many(
        [
            (_sessions(spark, 5, gp="monaco"), "sessions_silver"),
            (_results(spark, 7, gp="monaco"), "race_results_silver"),
        ]
    )
    staged = store.stage_many(
        [
            (_sessions(spark, 9, gp="miami"), "sessions_silver"),
            (_results(spark, 11, gp="miami"), "race_results_silver"),
        ]
    )
    # rival single-table commit lands in between
    TableStore(spark, root).overwrite(
        _results(spark, 3, gp="rival"), "race_results_silver"
    )
    with pytest.raises(ConcurrentWriteError, match="live version changed"):
        store.publish_many(staged)
    # nothing from the batch is visible: sessions stayed at monaco/5,
    # results at the rival's commit
    s = store.read("sessions_silver")
    assert s.count() == 5
    assert s.select("grand_prix_name").distinct().collect()[0][0] == "monaco"
    r = store.read("race_results_silver")
    assert r.count() == 3
    assert r.select("grand_prix_name").distinct().collect()[0][0] == "rival"
    # the staged dirs remain unmarked (orphans for GC), never listed
    for table, vdir, _ in staged:
        assert not os.path.exists(os.path.join(vdir, ".committed"))
        assert vdir not in [os.path.realpath(v) for v in store.versions(table)]


def test_stage_many_rejects_duplicate_tables(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="duplicate table"):
        store.stage_many(
            [
                (_sessions(spark, 2), "sessions_silver"),
                (_sessions(spark, 3), "sessions_silver"),
            ]
        )


def _sess_mut(spark, rows):
    """sessions rows keyed by session_key with a mutable meeting_name."""
    return conform(
        spark.createDataFrame(
            [(k, name) for k, name in rows], "session_key long, meeting_name string"
        ).select(
            "session_key",
            F.lit(2025).alias("year"),
            F.lit("monaco").alias("grand_prix_name"),
            F.lit("race").alias("session_type"),
            "meeting_name",
            F.lit(None).cast("long").alias("meeting_key"),
            F.lit("2025-03-01 14:00:00").cast("timestamp").alias("date_start"),
            F.lit("2025-03-01 16:00:00").cast("timestamp").alias("date_end"),
            F.lit(False).alias("is_sprint_weekend"),
        ),
        "sessions_silver",
        allow_missing=True,
    )


def test_table_changes_key_based_cdc(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B"), (3, "C")]), "sessions_silver")
    # v2: 1 unchanged, 2 updated, 3 deleted, 4 inserted
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B2"), (4, "D")]), "sessions_silver")

    ch = store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    got = {(r.session_key, r._change_type, r.meeting_name) for r in ch.collect()}
    assert got == {
        (4, "insert", "D"),
        (3, "delete", "C"),
        (2, "update_preimage", "B"),
        (2, "update_postimage", "B2"),
    }


def test_table_changes_multiset_mode_and_noop(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.overwrite(_sess_mut(spark, [(1, "A"), (3, "C")]), "sessions_silver")
    ch = store.table_changes("sessions_silver", 1, 0)
    got = {(r.session_key, r._change_type) for r in ch.collect()}
    assert got == {(3, "insert"), (2, "delete")}
    # comparing a version against itself is an empty change set
    assert store.table_changes("sessions_silver", 0, 0).count() == 0


def test_table_changes_past_retention_raises(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A")]), "sessions_silver")
    with pytest.raises(IndexError):
        store.table_changes("sessions_silver", 5, 0, key_cols=["session_key"])


# ---------------------------------------------------------------------------
# r9: write-time CDF (VERDICT r8 item 3) — merge/delete commits persist their
# change rows under <version>/_changes/; single-step keyed reads serve the
# files, and the labels must be IDENTICAL to the snapshot-diff fallback.
# ---------------------------------------------------------------------------


def _force_snapshot_diff(store, table):
    """Delete the current version's change files so table_changes falls back
    to the two-snapshot diff for the same span."""
    import os
    import shutil

    p = os.path.join(store.versions(table)[0], "_changes")
    assert os.path.isdir(p), "commit was expected to have written CDF files"
    shutil.rmtree(p)


def test_cdf_merge_read_equals_snapshot_diff(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B"), (3, "C")]), "sessions_silver")
    updates = _sess_mut(spark, [(1, "A"), (2, "B2"), (3, "C"), (4, "D")]).withColumn(
        "__del", F.col("session_key") == 3
    )
    store.merge_upsert(
        updates, "sessions_silver", keys=["session_key"], delete_col="__del"
    )

    ch_files = store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    want = {
        (4, "insert", "D"),
        (3, "delete", "C"),
        (2, "update_preimage", "B"),
        (2, "update_postimage", "B2"),
        # key 1 matched with identical values: NO change row (diff parity)
    }
    got_files = {
        (r.session_key, r._change_type, r.meeting_name) for r in ch_files.collect()
    }
    assert got_files == want
    cols_files = sorted(ch_files.columns)

    _force_snapshot_diff(store, "sessions_silver")
    ch_diff = store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    got_diff = {
        (r.session_key, r._change_type, r.meeting_name) for r in ch_diff.collect()
    }
    assert got_diff == want
    assert sorted(ch_diff.columns) == cols_files


def test_cdf_delete_where_read_equals_snapshot_diff(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(
        _sess_mut(spark, [(1, "A"), (2, "B"), (3, "C"), (4, "D")]), "sessions_silver"
    )
    store.delete_where(F.col("session_key") <= 2, "sessions_silver")
    want = {(1, "delete"), (2, "delete")}
    ch = store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    assert {(r.session_key, r._change_type) for r in ch.collect()} == want
    _force_snapshot_diff(store, "sessions_silver")
    ch2 = store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    assert {(r.session_key, r._change_type) for r in ch2.collect()} == want


def test_cdf_files_not_grafted_into_next_version(spark, tmp_path):
    """A later partition-overwrite commit (which persists no change files)
    must NOT inherit the previous commit's _changes via the hardlink graft —
    that would mislabel the new commit's feed. The keyed single-step read of
    the new commit falls back to the snapshot diff."""
    import os

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.merge_upsert(
        _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
    )
    assert os.path.isdir(
        os.path.join(store.versions("sessions_silver")[0], "_changes")
    )
    store.overwrite_partitions(
        _sess_mut(spark, [(1, "A"), (2, "B3"), (5, "E")]), "sessions_silver"
    )
    cur = store.versions("sessions_silver")[0]
    assert not os.path.isdir(os.path.join(cur, "_changes"))
    got = {
        (r.session_key, r._change_type, r.meeting_name)
        for r in store.table_changes(
            "sessions_silver", 1, 0, key_cols=["session_key"]
        ).collect()
    }
    assert got == {
        (5, "insert", "E"),
        (2, "update_preimage", "B2"),
        (2, "update_postimage", "B3"),
    }


def test_cdf_multiset_mode_ignores_change_files(spark, tmp_path):
    """The no-keys multiset read keeps the snapshot diff even when change
    files exist: an update's multiset labeling is delete+insert, not
    pre/post — serving the keyed files would change the contract."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.merge_upsert(
        _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
    )
    ch = store.table_changes("sessions_silver", 1, 0)
    got = {(r.session_key, r._change_type, r.meeting_name) for r in ch.collect()}
    assert got == {(2, "delete", "B"), (2, "insert", "B2")}


def test_cdf_key_mismatch_falls_back_to_snapshot_diff(spark, tmp_path):
    """Review r9: change files carry the WRITER's key semantics — a reader
    asking for different key_cols must get the snapshot diff computed under
    ITS keys, not the file's labels. Discriminating case: the merge updates
    meeting_name under keys=[session_key]; a reader keying on
    (session_key, meeting_name) must see that row as delete+insert (the key
    changed under its view), never as update pre/post."""
    import json
    import os

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.merge_upsert(
        _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
    )
    kf = os.path.join(store.versions("sessions_silver")[0], "_changes", "_keys.json")
    assert json.load(open(kf)) == ["session_key"]
    # matching reader: file-served, update labels
    got = {
        (r.session_key, r._change_type)
        for r in store.table_changes(
            "sessions_silver", 1, 0, key_cols=["session_key"]
        ).collect()
    }
    assert got == {(2, "update_preimage"), (2, "update_postimage")}
    # mismatched reader: snapshot diff under ITS keys → delete+insert
    got2 = {
        (r.session_key, r.meeting_name, r._change_type)
        for r in store.table_changes(
            "sessions_silver", 1, 0, key_cols=["session_key", "meeting_name"]
        ).collect()
    }
    assert got2 == {(2, "B", "delete"), (2, "B2", "insert")}


def test_cdf_delete_feed_is_key_agnostic(spark, tmp_path):
    """delete_where's feed labels identically under every key choice, so
    its sidecar records "*" and any keyed reader is file-served."""
    import json
    import os

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.delete_where(F.col("session_key") == 1, "sessions_silver")
    kf = os.path.join(store.versions("sessions_silver")[0], "_changes", "_keys.json")
    assert json.load(open(kf)) == "*"
    for keys in (["session_key"], ["session_key", "meeting_name"]):
        got = {
            (r.session_key, r._change_type)
            for r in store.table_changes(
                "sessions_silver", 1, 0, key_cols=keys
            ).collect()
        }
        assert got == {(1, "delete")}


def test_compact_commit_writes_empty_change_feed(spark, tmp_path):
    """Compaction changes no logical rows, so its commit carries an EMPTY
    key-agnostic change feed — a single-step table_changes read of the
    compaction is file-served (zero rows) instead of paying a snapshot diff
    to learn nothing changed, and the step before it is unaffected."""
    import json
    import os

    from f1_datalakehouse_pipeline_spark.sources.tables import compact

    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=3)
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.merge_upsert(
        _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
    )
    compact(store, "sessions_silver", target_partitions=1)
    cdir = os.path.join(store.versions("sessions_silver")[0], "_changes")
    assert os.path.isdir(cdir)
    assert json.load(open(os.path.join(cdir, "_keys.json"))) == "*"
    # single-step keyed read of the compaction commit: zero changes
    assert (
        store.table_changes(
            "sessions_silver", 1, 0, key_cols=["session_key"]
        ).count()
        == 0
    )
    # the merge commit before it still reads its own delta
    merge_step = {
        (r.session_key, r._change_type)
        for r in store.table_changes(
            "sessions_silver", 2, 1, key_cols=["session_key"]
        ).collect()
    }
    assert merge_step == {(2, "update_preimage"), (2, "update_postimage")}
    # data intact after compaction
    assert store.read("sessions_silver").count() == 2


def test_cdc_span_and_index_guards(spark, tmp_path):
    """Review r9: negative n_back_to (or n_back) must raise loudly —
    Python negative indexing would silently serve a current-vs-OLDEST diff
    with inverted labels."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A")]), "sessions_silver")
    store.overwrite(_sess_mut(spark, [(1, "A2")]), "sessions_silver")
    with pytest.raises(ValueError, match="must be >= 0"):
        store.table_changes("sessions_silver", 1, -1, key_cols=["session_key"])
    # swapped arguments would silently invert every change label
    with pytest.raises(ValueError, match="OLDER"):
        store.table_changes("sessions_silver", 0, 1, key_cols=["session_key"])
    with pytest.raises(IndexError):
        store.read_version("sessions_silver", -1)


def test_merge_upsert_rejects_null_keys(spark, tmp_path):
    """NULL keys never match the merge's name-equality join (old row kept
    AND new row inserted — duplicate 'keys') and the two CDF tiers would
    label them differently; the merge rejects them loudly instead."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A")]), "sessions_silver")
    bad = _sess_mut(spark, [(2, "B")]).withColumn(
        "session_key", F.lit(None).cast("long")
    )
    with pytest.raises(ValueError, match="NULL in key"):
        store.merge_upsert(bad, "sessions_silver", keys=["session_key"])


def test_keyless_reader_served_from_star_sidecar_files(spark, tmp_path):
    """A '*' (key-agnostic) change file — delete-only or empty — labels
    identically under EVERY key choice, so the no-keys multiset reader is
    file-served too; a KEYED file still never serves it (review r9)."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.delete_where(F.col("session_key") == 1, "sessions_silver")
    ch = store.table_changes("sessions_silver", 1, 0)  # keyless multiset
    assert {(r.session_key, r._change_type) for r in ch.collect()} == {
        (1, "delete")
    }


# ---------------------------------------------------------------------------
# r10 crash-injection battery (VERDICT r9 item 3a): kill the writer at every
# seam of the CDC commit path and assert the documented guarantees hold.
# The r9 review rounds tested RACES; these test CRASHES.
# ---------------------------------------------------------------------------


def test_crash_between_changes_write_and_publish_is_invisible_then_reaped(
    spark, tmp_path
):
    """Kill after the data + _changes/ files are staged but BEFORE the
    publish swap: the live table and the change feed must be untouched, the
    half-commit must never be listed as a version, a retry must succeed
    with exactly ONE commit's changes, and GC must reap the orphan."""
    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=5)
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    vroot = store._version_root("sessions_silver")
    n_before = len(os.listdir(vroot))

    def boom(table, version_dir, expected=None):
        raise RuntimeError("killed before publish")

    store._publish = boom  # instance shadow: crash at the publish seam
    with pytest.raises(RuntimeError, match="killed before publish"):
        store.merge_upsert(
            _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
        )
    del store._publish

    # live table untouched, half-commit invisible to versions() and to CDC
    assert {
        (r.session_key, r.meeting_name)
        for r in store.read("sessions_silver").collect()
    } == {(1, "A"), (2, "B")}
    assert len(store.versions("sessions_silver")) == 1
    with pytest.raises(IndexError):
        store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    # …but the staged orphan (data + _changes, no sentinel) is on disk
    orphans = [
        d
        for d in os.listdir(vroot)
        if not store._is_committed(os.path.join(vroot, d))
    ]
    assert len(orphans) == 1 and len(os.listdir(vroot)) == n_before + 1
    assert os.path.isdir(os.path.join(vroot, orphans[0], "_changes"))

    # retry lands exactly once: one new commit, one update pre/post pair
    store.merge_upsert(
        _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
    )
    assert len(store.versions("sessions_silver")) == 2
    rows = store.table_changes(
        "sessions_silver", 1, 0, key_cols=["session_key"]
    ).collect()
    assert len(rows) == 2
    assert {(r.session_key, r._change_type) for r in rows} == {
        (2, "update_preimage"),
        (2, "update_postimage"),
    }

    # GC reaps the orphan once past the TTL grace (forced to zero here)
    store.orphan_ttl_s = -1.0
    store.vacuum("sessions_silver", keep=5)
    assert all(
        store._is_committed(os.path.join(vroot, d)) for d in os.listdir(vroot)
    )


def test_crash_between_swap_and_sentinel_self_heals_on_next_commit(
    spark, tmp_path
):
    """Kill between the symlink swap (the commit point) and the sentinel
    write: the unmarked-but-live version must still serve reads (the
    realpath==current escape), and the next publish must heal it into a
    committed predecessor so time travel keeps working."""
    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=3)
    store.overwrite(_sess_mut(spark, [(1, "A")]), "sessions_silver")
    store.merge_upsert(
        _sess_mut(spark, [(2, "B")]), "sessions_silver", keys=["session_key"]
    )
    # simulate the crash: the LIVE version loses its sentinel (exactly the
    # state a kill between os.replace and the sentinel open() leaves)
    live_target = store._current_target("sessions_silver")
    os.unlink(os.path.join(live_target, ".committed"))

    # reads and version listing still serve the live version
    assert store.read("sessions_silver").count() == 2
    assert os.path.realpath(store.versions("sessions_silver")[0]) == os.path.realpath(
        live_target
    )

    # next commit heals: the outgoing version is marked committed and
    # survives as a time-travelable predecessor
    store.merge_upsert(
        _sess_mut(spark, [(3, "C")]), "sessions_silver", keys=["session_key"]
    )
    assert store._is_committed(live_target)
    assert store.read_version("sessions_silver", 1).count() == 2
    assert store.read("sessions_silver").count() == 3
    # the healed sentinel is empty (parent unknown) — the healed commit's
    # successor must read without a spurious hole
    vs = store.versions("sessions_silver")
    assert store.chain_hole(vs[0], vs[1]) is None
    ch = store.table_changes("sessions_silver", 1, 0, key_cols=["session_key"])
    assert {(r.session_key, r._change_type) for r in ch.collect()} == {
        (3, "insert")
    }


def test_mid_vacuum_crash_leaves_contiguous_chain(spark, tmp_path):
    """Kill vacuum after its FIRST rmtree: with oldest-first removal the
    surviving retention window must be contiguous from the current version
    (pre-r10 newest-first removal left a HOLE in the chain). A step read
    from the reaped oldest version fails loudly; every surviving step
    still reads its own commit's delta."""
    import shutil as _shutil

    from f1_datalakehouse_pipeline_spark.sources import tables as tables_mod

    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=5)
    store.overwrite(_sess_mut(spark, [(1, "A")]), "sessions_silver")
    for name in ("B", "C", "D"):
        store.merge_upsert(
            _sess_mut(spark, [(2, name)]), "sessions_silver", keys=["session_key"]
        )
    store.merge_upsert(
        _sess_mut(spark, [(3, "E")]), "sessions_silver", keys=["session_key"]
    )
    vs_before = store.versions("sessions_silver")
    assert len(vs_before) == 5

    real_rmtree = _shutil.rmtree
    calls = []

    def crash_after_first(path, **kw):
        calls.append(path)
        real_rmtree(path, **kw)
        raise OSError("killed mid-vacuum")

    tables_mod.shutil.rmtree = crash_after_first
    try:
        with pytest.raises(OSError, match="killed mid-vacuum"):
            store.vacuum("sessions_silver", keep=1)
    finally:
        tables_mod.shutil.rmtree = real_rmtree
    # exactly one dir reaped, and it was the OLDEST retained version
    assert calls == [vs_before[-1]]
    vs_after = store.versions("sessions_silver")
    assert vs_after == vs_before[:-1]  # contiguous from the head — no hole

    assert all(
        store.chain_hole(vs_after[k], vs_after[k + 1]) is None
        for k in range(len(vs_after) - 1)
    )

    # the step out of the reaped version is gone, loudly
    with pytest.raises(IndexError):
        store.table_changes("sessions_silver", 4, 3, key_cols=["session_key"])
    # every surviving step reads exactly its own commit, oldest first
    steps = [
        {
            (r.session_key, r._change_type, r.meeting_name)
            for r in store.table_changes(
                "sessions_silver", k + 1, k, key_cols=["session_key"]
            ).collect()
        }
        for k in (2, 1, 0)
    ]
    assert steps == [
        {(2, "update_preimage", "B"), (2, "update_postimage", "C")},
        {(2, "update_preimage", "C"), (2, "update_postimage", "D")},
        {(3, "insert", "E")},
    ]


def test_feed_raises_on_chain_hole_and_net_diff_stays_correct(spark, tmp_path):
    """A HOLE in the retained chain (a middle version lost — crashed pre-r10
    GC, manual deletion): the parent stamp must expose it, so a read never
    serves the newer commit's write-time files against the wrong
    predecessor; table_changes() across the gap falls back to the
    snapshot diff and returns the correct NET delta."""
    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=5)
    store.overwrite(_sess_mut(spark, [(1, "A"), (2, "B")]), "sessions_silver")
    store.merge_upsert(  # middle commit: update key 2
        _sess_mut(spark, [(2, "B2")]), "sessions_silver", keys=["session_key"]
    )
    store.merge_upsert(  # head commit: insert key 3 (files describe ONLY this)
        _sess_mut(spark, [(3, "C")]), "sessions_silver", keys=["session_key"]
    )
    vs = store.versions("sessions_silver")
    import shutil as _shutil

    _shutil.rmtree(vs[1])  # lose the MIDDLE version

    vs_after = store.versions("sessions_silver")
    assert vs_after == [vs[0], vs[2]]
    # the head's sentinel names the lost version as its parent
    assert store.chain_hole(vs_after[0], vs_after[1]) == os.path.basename(vs[1])

    # the net read refuses the newer commit's files (they'd claim key 3 is
    # the only change) and diffs the snapshots: both commits' net delta
    net = {
        (r.session_key, r._change_type)
        for r in store.table_changes(
            "sessions_silver", 1, 0, key_cols=["session_key"]
        ).collect()
    }
    assert net == {
        (2, "update_preimage"),
        (2, "update_postimage"),
        (3, "insert"),
    }


@pytest.mark.slow
def test_cdc_random_mutation_walk_replay_reconstructs_the_model(spark, tmp_path):
    """Model-based end-to-end CDC check: a seeded random walk of merges,
    tombstone merges, predicate deletes and PLAIN OVERWRITES (the commit
    kind with no change files — exercising the snapshot-diff fallback
    between file-served steps) runs against both a TableStore and a dict
    model. The table must equal the model after every walk, and replaying
    the single-step table_changes reads oldest commit first with the
    standard CDF application rules (delete/pre-image removes the key,
    insert/post-image upserts) must reconstruct the model exactly — across
    every commit kind interleaved. Every label is also checked against the
    replayed state before its commit: a delete or pre-image carries the
    key's current value, an insert names a key not yet present, and a
    post-image follows its pre-image (upsert rules alone cannot tell an
    insert from a post-image)."""
    import random

    n_steps = 12
    for seed in (7, 13):
        rng = random.Random(seed)
        store = TableStore(spark, str(tmp_path / f"wh{seed}"), keep_versions=40)
        model: dict[int, str] = {1: "s1", 2: "s2", 3: "s3"}
        store.overwrite(_sess_mut(spark, list(model.items())), "sessions_silver")
        replay = dict(model)  # the replay bootstraps from the initial snapshot

        for step in range(n_steps):
            op = rng.choice(["merge", "merge", "tombstone", "delete", "overwrite"])
            if op == "merge":
                ks = rng.sample(range(1, 9), rng.randint(1, 3))
                rows = [(k, f"v{seed}.{step}.{k}") for k in ks]
                store.merge_upsert(
                    _sess_mut(spark, rows), "sessions_silver", keys=["session_key"]
                )
                model.update(dict(rows))
            elif op == "tombstone":
                ks = rng.sample(range(1, 9), 2)
                rows = _sess_mut(spark, [(k, "x") for k in ks]).withColumn(
                    "__del", F.lit(True)
                )
                store.merge_upsert(
                    rows, "sessions_silver", keys=["session_key"], delete_col="__del"
                )
                for k in ks:
                    model.pop(k, None)
            elif op == "delete":
                k = rng.randint(1, 8)
                store.delete_where(
                    F.col("session_key") == k, "sessions_silver"
                )
                model.pop(k, None)
            else:  # plain overwrite: arbitrary rewrite, NO change files
                model = {
                    k: f"ow{seed}.{step}.{k}"
                    for k in rng.sample(range(1, 9), rng.randint(2, 4))
                }
                store.overwrite(
                    _sess_mut(spark, list(model.items())), "sessions_silver"
                )

        # the table equals the model…
        got = {
            r.session_key: r.meeting_name
            for r in store.read("sessions_silver").collect()
        }
        assert got == model, f"seed {seed}: table diverged from model"
        assert len(store.versions("sessions_silver")) == n_steps + 1, (
            f"seed {seed}: expected one commit per mutation"
        )

        # …and the per-commit CDF replay reconstructs it from the seed
        for k in range(n_steps - 1, -1, -1):
            rows = store.table_changes(
                "sessions_silver", k + 1, k, key_cols=["session_key"]
            ).collect()
            # standard CDF application within one commit: removals
            # (delete/pre-image) first, then upserts (insert/post-image) —
            # a key both removed and re-upserted in the same commit ends up
            # at its post-image
            removes = {
                r.session_key
                for r in rows
                if r._change_type in ("delete", "update_preimage")
            }
            upserts = {
                r.session_key: r.meeting_name
                for r in rows
                if r._change_type in ("insert", "update_postimage")
            }
            for r in rows:
                if r._change_type in ("delete", "update_preimage"):
                    assert replay.get(r.session_key) == r.meeting_name, (seed, k, r)
                elif r._change_type == "insert":
                    assert r.session_key not in replay, (seed, k, r)
                else:
                    assert r._change_type == "update_postimage", (seed, k, r)
                    assert r.session_key in removes, (seed, k, r)
            for key in removes - set(upserts):
                replay.pop(key, None)
            replay.update(upserts)
        assert replay == model, f"seed {seed}: CDF replay diverged from model"


def test_concurrent_writers_with_polling_consumer_no_commit_lost_or_doubled(
    spark, tmp_path
):
    """VERDICT r9 item 3b: two merge_upsert writers race on one table (CAS
    retry loop) while a reader keeps reading the newest single-step change
    set. Every concurrent read must see exactly one commit's insert, every
    commit that lands must be replayable EXACTLY once from the retained
    chain (no loss, no double commit), and the final table must hold every
    writer's rows."""
    import threading
    import time

    from f1_datalakehouse_pipeline_spark.sources.tables import ConcurrentWriteError

    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=40)
    store.overwrite(_sess_mut(spark, [(0, "seed")]), "sessions_silver")

    n_per_writer = 4
    errors: list[Exception] = []
    done = threading.Event()

    def writer(wid: int):
        try:
            for i in range(n_per_writer):
                key = 1000 * (wid + 1) + i
                df = _sess_mut(spark, [(key, f"w{wid}-{i}")])
                while True:
                    try:
                        store.merge_upsert(
                            df, "sessions_silver", keys=["session_key"]
                        )
                        break
                    except ConcurrentWriteError:
                        continue  # CAS lost: re-read fresh data and retry
        except Exception as e:  # noqa: BLE001 — surfaced after join
            errors.append(e)

    observed: list[list[tuple[int, str]]] = []  # one entry per live read

    def reader():
        try:
            while not done.is_set():
                if len(store.versions("sessions_silver")) < 2:
                    time.sleep(0.05)  # no commit on top of the seed yet
                    continue
                observed.append(
                    [
                        (r.session_key, r._change_type)
                        for r in store.table_changes(
                            "sessions_silver", 1, 0, key_cols=["session_key"]
                        ).collect()
                    ]
                )
        except Exception as e:  # noqa: BLE001 — surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    reader_t = threading.Thread(target=reader)
    for t in threads:
        t.start()
    reader_t.start()
    for t in threads:
        t.join(timeout=600)
    done.set()
    reader_t.join(timeout=600)
    assert not errors, errors

    # every writer row landed exactly once in the table
    want_keys = {1000 * (w + 1) + i for w in (0, 1) for i in range(n_per_writer)}
    got = {
        r.session_key: r.meeting_name
        for r in store.read("sessions_silver").collect()
    }
    assert set(got) == want_keys | {0}

    # each live read saw one whole commit: a single writer insert
    assert all(
        len(rows) == 1 and rows[0][0] in want_keys and rows[0][1] == "insert"
        for rows in observed
    ), observed

    # replaying the retained chain oldest first: one commit per writer row,
    # none lost, none doubled, no hole between consecutive versions
    vs = store.versions("sessions_silver")
    assert len(vs) == 2 * n_per_writer + 1
    served = []
    for k in range(len(vs) - 2, -1, -1):
        assert store.chain_hole(vs[k], vs[k + 1]) is None
        step = store.table_changes(
            "sessions_silver", k + 1, k, key_cols=["session_key"]
        ).collect()
        assert [r._change_type for r in step] == ["insert"], step
        served.append(step[0].session_key)
    assert len(served) == len(set(served)), "a commit was served twice"
    assert set(served) == want_keys


def test_publish_many_rollback_decommits_the_aborted_versions(spark, tmp_path):
    """r10 review finding: a publish_many swap failure rolled the symlinks
    back but left the already-swapped tables' NEW version dirs COMMITTED —
    a committed impostor that would shadow the true predecessor in time
    travel AND poison the parent-stamped CDC chain (spurious hole, or the
    aborted commit's change rows served as real after the next commit).
    Rollback must de-commit them back to orphan status."""
    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=5)
    store.commit_many(
        [
            (_sessions(spark, 5, gp="monaco"), "sessions_silver"),
            (_results(spark, 7, gp="monaco"), "race_results_silver"),
        ]
    )

    # crash INSIDE the swap loop: first table (sorted order:
    # race_results_silver) swaps fine, second (sessions_silver) dies
    real_swap = store._swap_locked
    staged = store.stage_many(
        [
            (_sessions(spark, 9, gp="miami"), "sessions_silver"),
            (_results(spark, 11, gp="miami"), "race_results_silver"),
        ]
    )

    def crashing_swap(table, vdir):
        if table == "sessions_silver":
            raise OSError("killed mid-swap")
        real_swap(table, vdir)

    store._swap_locked = crashing_swap
    try:
        with pytest.raises(OSError, match="killed mid-swap"):
            store.publish_many(staged)
    finally:
        del store._swap_locked

    # both tables read their PRIOR images
    assert store.read("sessions_silver").count() == 5
    assert store.read("race_results_silver").count() == 7
    # the rolled-back version is an unmarked orphan again: not committed,
    # never listed, and CDC serves NO aborted change rows
    for table, vdir, _ in staged:
        assert not store._is_committed(vdir), table
        assert os.path.realpath(vdir) not in [
            os.path.realpath(v) for v in store.versions(table)
        ], table
    with pytest.raises(IndexError):
        store.table_changes("race_results_silver", 1, 0)

    # the NEXT real commit proceeds with an intact chain (no spurious hole)
    store.merge_upsert(
        _results(spark, 2, gp="spa"), "race_results_silver",
        keys=["session_key"],
    )
    vs = store.versions("race_results_silver")
    assert len(vs) == 2 and store.chain_hole(vs[0], vs[1]) is None
    rows = store.table_changes(
        "race_results_silver", 1, 0, key_cols=["session_key"]
    ).collect()
    # exactly the real commit's delta: pre-images of the replaced monaco
    # rows + spa post-images — and nothing from the aborted miami batch
    assert {(r._change_type, r.grand_prix_name) for r in rows} == {
        ("update_preimage", "monaco"),
        ("update_postimage", "spa"),
    }
    assert "miami" not in {r.grand_prix_name for r in rows}


def test_merge_upsert_leaves_caller_managed_cache_alone(spark, tmp_path):
    """r10 review finding: merge_upsert's internal persist/unpersist must
    not evict a cache the CALLER created on the same plan (Spark's cache
    manager keys by logical plan)."""
    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(_sess_mut(spark, [(1, "A")]), "sessions_silver")
    updates = _sess_mut(spark, [(2, "B")]).cache()
    try:
        updates.count()
        store.merge_upsert(updates, "sessions_silver", keys=["session_key"])
        assert updates.storageLevel.useMemory  # caller's cache survived
        assert store.read("sessions_silver").count() == 2
    finally:
        updates.unpersist()


def test_publish_many_rolls_back_a_swap_that_crashed_after_its_commit_point(
    spark, tmp_path
):
    """Second r10 review round: a table whose _swap_locked crashed AFTER
    the os.replace commit point but BEFORE the sentinel write never reached
    the rollback list — it stayed live at the aborted version, a silent
    partial publish the next commit would 'heal' into legitimacy. The
    in-flight table must be rolled back too."""
    store = TableStore(spark, str(tmp_path / "wh"), keep_versions=5)
    store.commit_many(
        [
            (_sessions(spark, 5, gp="monaco"), "sessions_silver"),
            (_results(spark, 7, gp="monaco"), "race_results_silver"),
        ]
    )
    staged = store.stage_many(
        [
            (_sessions(spark, 9, gp="miami"), "sessions_silver"),
            (_results(spark, 11, gp="miami"), "race_results_silver"),
        ]
    )
    real_swap = store._swap_locked

    def crashing_swap(table, vdir):
        if table == "sessions_silver":
            # reproduce the exact crash state: live symlink REPLACED (the
            # commit point) but no sentinel written yet
            tmp = os.path.join(store.root, f".{table}.crash-link")
            os.symlink(os.path.abspath(vdir), tmp)
            os.replace(tmp, store.path(table))
            raise OSError("killed after replace, before sentinel")
        real_swap(table, vdir)

    store._swap_locked = crashing_swap
    try:
        with pytest.raises(OSError, match="killed after replace"):
            store.publish_many(staged)
    finally:
        del store._swap_locked

    # BOTH tables serve their prior images — including the in-flight one
    s = store.read("sessions_silver")
    assert s.count() == 5
    assert s.select("grand_prix_name").distinct().collect()[0][0] == "monaco"
    assert store.read("race_results_silver").count() == 7
    # and both staged dirs are unmarked orphans, never listed
    for table, vdir, _ in staged:
        assert not store._is_committed(vdir), table
        assert os.path.realpath(vdir) not in [
            os.path.realpath(v) for v in store.versions(table)
        ], table
    # the next commit proceeds normally and does NOT legitimize the orphan
    store.overwrite(_sessions(spark, 3, gp="spa"), "sessions_silver")
    assert store.read("sessions_silver").count() == 3
    for table, vdir, _ in staged:
        assert not store._is_committed(vdir), table


