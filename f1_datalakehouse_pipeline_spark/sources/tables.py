"""Managed-table store: partitioned Parquet directories with transactional
write modes replacing the reference's Iceberg sinks (SURVEY §2.1 S6-S11).

Write-mode parity:
- append            ≙ writeTo().append()            (common.py:389-391)
- overwrite         ≙ writeTo().overwrite()         (common.py:367-369)
  — transactional: the new table contents are written to a fresh versioned
  directory and published by an ATOMIC symlink swap (os.replace), matching
  the Iceberg commit guarantee (iceberg_manager.py:190-313) that a failed
  write never corrupts the live table: readers see the old version until the
  single rename, and a crash mid-write leaves only an orphan staging dir.
- overwrite_partitions ≙ writeTo().overwritePartitions() (common.py:371-387)
  — transactional whole-commit (matching Iceberg's overwritePartitions,
  iceberg_manager.py:531-567): the incoming partitions are staged into a
  fresh version dir, every untouched partition of the live version is
  HARDLINKED in (metadata-only, no data copy — the plain-parquet analogue of
  an Iceberg manifest that re-points unchanged data files), and the whole
  new version is published with the same atomic symlink swap. A crash at any
  point leaves the live table fully readable at its old version; the
  incremental one-GP rerun stays idempotent by construction (SURVEY §7.4.6).

Commit protocol (per table):
- every committed version dir carries a ``.committed`` sentinel written
  immediately before the publish swap; directories without the sentinel are
  in-flight or crashed writes, are never listed by ``versions()`` / served by
  ``read_version()``, and are garbage-collected once older than
  ``orphan_ttl_s``.
- publishes run under an exclusive lock file plus a CAS check: the live
  symlink must still point at the version the writer observed when it
  started, otherwise ``ConcurrentWriteError`` — two simultaneous overwrites
  can never silently last-swap-wins (Iceberg's optimistic-concurrency commit,
  iceberg_manager.py commit path).

Because a full overwrite lands in a NEW version directory, read-then-
overwrite-same-table plans (the SCD2 incremental merge) are safe without any
driver-side materialization: the scan keeps reading the old version while the
write builds the new one.

Scale notes: partition columns are the physical layout (year / grand_prix_name
≙ date / tenant at 100 TB); Catalyst prunes reads from filters on them. The
version swap is a constant-time metadata operation regardless of table size,
and the untouched-partition graft is O(#files) hardlinks — no data movement —
exactly the cost profile of a metadata-only Iceberg/Delta commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from f1_datalakehouse_pipeline_spark.operators.util import persisted
from f1_datalakehouse_pipeline_spark.schemas import ALL_SCHEMAS, PARTITION_SPECS, conform

# versions kept per table after a transactional overwrite: the current one
# plus this many predecessors (lazily-evaluated DataFrames created against an
# older version keep working for one generation; Iceberg snapshots ≙ same idea)
_KEEP_VERSIONS = 1

# a committed version dir is marked with this sentinel just before the
# publish swap; unmarked dirs are crashed/in-flight writes (never served,
# GC'd after orphan_ttl_s)
_COMMIT_SENTINEL = ".committed"

_UNSET = object()


class ConcurrentWriteError(RuntimeError):
    """Raised when a publish loses the optimistic-concurrency race: another
    writer committed a new version after this writer captured its read
    snapshot, or the publish lock could not be acquired."""


class TableStore:
    """A warehouse directory holding one partitioned-parquet dir per table.

    The live path ``<root>/<table>`` is either a plain directory (legacy /
    append-created layout) or a symlink to ``<root>/.versions/<table>/<id>``
    after the first transactional overwrite.
    """

    #: unmarked (crash-orphaned) version dirs younger than this are left
    #: alone by GC — they may be a concurrent writer's in-flight stage.
    orphan_ttl_s: float = 3600.0
    #: how long a publisher waits for the per-table publish lock.
    lock_timeout_s: float = 10.0
    #: a publish lock older than this is presumed crashed and stolen
    #: (publishes are metadata-only: milliseconds, not minutes).
    lock_stale_s: float = 60.0

    def __init__(
        self, spark: SparkSession, root: str, keep_versions: int = _KEEP_VERSIONS
    ):
        self.spark = spark
        # Absolutize AND resolve symlink components: _publish creates
        # symlinks whose target embeds the root (a relative root would make
        # the target resolve relative to the symlink's own directory), and
        # publish_many's rollback compares realpath() outputs against paths
        # built from this root — with a symlinked root component, abspath
        # and realpath disagree and the plain-dir restore branch would be
        # silently skipped (ADVICE r10).
        self.root = os.path.realpath(os.path.abspath(root))
        # retention depth: current + this many predecessors survive GC.
        # The default keeps one generation (lazy reads against the prior
        # version stay valid across one overwrite); a CDC reader that needs
        # older single-step table_changes() reads raises it — retention
        # bounds how far back a change read can reach.
        self.keep_versions = keep_versions

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def _version_root(self, table: str) -> str:
        return os.path.join(self.root, ".versions", table)

    def _current_target(self, table: str) -> str | None:
        """Real path of the live version (None if the table doesn't exist)."""
        live = self.path(table)
        return os.path.realpath(live) if os.path.exists(live) else None

    @contextmanager
    def _publish_lock(self, table: str):
        """Exclusive per-table publish lock (O_CREAT|O_EXCL lock file).

        Publishes are millisecond metadata operations, so contention is
        resolved by a short poll; a lock older than ``lock_stale_s`` is
        presumed left by a crashed publisher and stolen. Stealing goes
        through an atomic ``rename`` of the stale lock to a unique grave
        name — exactly ONE of any number of concurrent stealers wins the
        rename (the losers' renames fail), so two waiters can never both
        conclude they hold the lock. Release unlinks only if the lock file
        still carries OUR token, so a (mis-judged) stealer's fresh lock is
        never removed by the previous holder's cleanup.
        """
        lock_dir = os.path.join(self.root, ".locks")
        os.makedirs(lock_dir, exist_ok=True)
        lock = os.path.join(lock_dir, f"{table}.lock")
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        deadline = time.monotonic() + self.lock_timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    stale = time.time() - os.path.getmtime(lock) > self.lock_stale_s
                except OSError:
                    continue  # holder released between exists-check and stat
                if stale:
                    grave = f"{lock}.stale.{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, grave)  # atomic: one stealer wins
                        os.unlink(grave)
                    except OSError:
                        pass  # another stealer won the rename; retry create
                    continue
                if time.monotonic() > deadline:
                    raise ConcurrentWriteError(
                        f"{table}: publish lock held by another writer"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            # Atomic release (ADVICE r3): read-verify alone leaves a window
            # between the token read and the unlink in which a stealer could
            # have replaced the lock — unlinking then would delete a THIRD
            # writer's valid lock. Mirror the steal path instead: rename the
            # (token-verified) lock to a grave, re-verify the grave actually
            # carries our token, and only then unlink; if the rename grabbed
            # somebody else's fresh lock (we stalled past lock_stale_s and
            # were stolen between read and rename), put it back atomically.
            grave = f"{lock}.release.{uuid.uuid4().hex[:8]}"
            try:
                with open(lock) as fh:
                    if fh.read() == token:
                        os.rename(lock, grave)
                        with open(grave) as fh2:
                            if fh2.read() == token:
                                os.unlink(grave)
                            else:
                                os.replace(grave, lock)
            except OSError:
                pass

    def _publish(self, table: str, version_dir: str, expected=_UNSET) -> None:
        """Atomically point ``<root>/<table>`` at ``version_dir``.

        POSIX ``rename(2)`` over an existing symlink is atomic: any
        concurrent reader resolves either the old or the new target, never a
        partial state. ``expected`` (the live target captured when the write
        started) makes the publish a compare-and-swap: if another writer
        committed in between, raise instead of silently overwriting their
        commit. The only non-atomic case is the one-time migration of a
        legacy real directory, which is moved aside first.
        """
        with self._publish_lock(table):
            self._check_cas(table, expected)
            self._swap_locked(table, version_dir)

    def _check_cas(self, table: str, expected) -> None:
        """CAS precondition (caller holds the publish lock)."""
        current = self._current_target(table)
        if expected is not _UNSET and current != expected:
            raise ConcurrentWriteError(
                f"{table}: live version changed since write start "
                f"(expected {expected}, found {current}); retry on "
                "fresh data"
            )

    def _swap_locked(self, table: str, version_dir: str) -> None:
        """Swap + sentinel + GC (caller holds the publish lock and has
        already CAS-checked). The incoming version's sentinel records its
        PARENT (the basename of the version it was published over, empty =
        first commit / unknown): per-commit CDC reads use it to detect a
        hole in the retained chain instead of silently serving a commit's
        write-time change files against the wrong predecessor (r10
        crash-injection finding)."""
        version_dir = os.path.abspath(version_dir)
        current = self._current_target(table)
        parent = (
            os.path.basename(current)
            if current and os.path.isdir(current)
            else ""
        )
        # Mark the OUTGOING live version as committed if it isn't yet:
        # it provably served reads, so it is a legitimate predecessor.
        # This self-heals a previous crash between swap and sentinel
        # (below) and migrates pre-sentinel warehouses — their retained
        # versions would otherwise read as orphans and be GC'd.
        if current and os.path.isdir(current) and not self._is_committed(current):
            open(os.path.join(current, _COMMIT_SENTINEL), "w").close()
        live = self.path(table)
        if os.path.isdir(live) and not os.path.islink(live):
            # one-time migration: preserve the old contents as a version
            legacy = os.path.join(
                self._version_root(table), f"legacy-{uuid.uuid4().hex[:8]}"
            )
            os.makedirs(os.path.dirname(legacy), exist_ok=True)
            os.rename(live, legacy)
            open(os.path.join(legacy, _COMMIT_SENTINEL), "w").close()
            # the migration renamed the predecessor: the incoming version's
            # parent is the legacy dir's NEW name
            parent = os.path.basename(legacy)
        tmp_link = os.path.join(self.root, f".{table}.link.{uuid.uuid4().hex[:8]}")
        os.symlink(version_dir, tmp_link)
        os.replace(tmp_link, live)  # the commit point
        # Sentinel AFTER the swap: a dir marked committed has therefore
        # ALWAYS been live (a crash in the swap→mark window leaves the
        # current version unmarked, which every reader/GC path protects
        # via the realpath==current escape, and the next publish's
        # outgoing-mark above heals). The reverse order would allow a
        # committed-but-never-live dir to shadow the true predecessor
        # in read_version()/history().
        with open(os.path.join(version_dir, _COMMIT_SENTINEL), "w") as fh:
            fh.write(parent)
        self._gc_versions(table, keep_target=os.path.realpath(version_dir))

    @staticmethod
    def _is_committed(version_dir: str) -> bool:
        return os.path.exists(os.path.join(version_dir, _COMMIT_SENTINEL))

    @staticmethod
    def chain_hole(newer_dir: str, older_dir: str) -> str | None:
        """If ``newer_dir``'s parent stamp contradicts ``older_dir``
        (commits lost between two RETAINED versions), return the recorded
        parent as evidence; ``None`` = adjacent, or no chain info (pre-stamp
        sentinel — assume adjacent for backward compatibility)."""
        p = TableStore._parent_of(newer_dir)
        if p is not None and p != os.path.basename(older_dir):
            return p
        return None

    @staticmethod
    def readable_change_files(version_dir: str, key_cols: list[str] | None) -> list[str]:
        """Part-file paths of ``version_dir``'s write-time change feed IF
        servable under ``key_cols`` (``_keys.json`` sidecar match), else
        ``[]``."""
        cpath = os.path.join(version_dir, "_changes")
        if not os.path.isdir(cpath) or not TableStore._change_keys_match(
            cpath, key_cols
        ):
            return []
        return sorted(
            os.path.join(cpath, f)
            for f in os.listdir(cpath)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    @staticmethod
    def _parent_of(version_dir: str) -> str | None:
        """Basename of the version this one was committed over, as recorded
        in its sentinel. ``None`` = unknown: a pre-parent-stamp sentinel, a
        heal-marked outgoing version, a legacy migration, or a first commit
        — all of which predate (or can't know) the chain, so hole checks
        treat None as 'assume adjacent' for backward compatibility."""
        try:
            with open(os.path.join(version_dir, _COMMIT_SENTINEL)) as f:
                s = f.read().strip()
            return s or None
        except OSError:
            return None

    @staticmethod
    def _orphan_age_s(p: str) -> float:
        """Age of an unmarked version dir for GC purposes.

        A staging dir's TOP-LEVEL mtime freezes at creation while Spark
        writes under ``_temporary/`` (files surface only at job commit), so
        a long-running legitimate write would look ancient. Probe the
        newest mtime among the dir itself and the first few levels of its
        ``_temporary`` commit tree (task-attempt churn keeps those fresh) —
        bounded listings, never a full walk.
        """
        newest = 0.0
        try:
            newest = os.path.getmtime(p)
        except OSError:
            return float("inf")
        probe = [p]
        for _ in range(3):  # _temporary/<jobAttempt>/_temporary/<taskAttempt>
            nxt: list[str] = []
            for d in probe:
                try:
                    children = os.listdir(d)[:64]
                except OSError:
                    continue
                for c in children:
                    cp = os.path.join(d, c)
                    try:
                        newest = max(newest, os.path.getmtime(cp))
                    except OSError:
                        continue
                    if c.startswith("_temporary") or os.path.isdir(cp):
                        nxt.append(cp)
            probe = nxt[:64]
        return time.time() - newest

    def _gc_versions(self, table: str, keep_target: str) -> None:
        """Best-effort prune of superseded version dirs.

        Committed dirs: keep the current one plus ``_KEEP_VERSIONS`` most
        recent others (by mtime). Unmarked dirs are crashed/abandoned writes:
        they are deleted once older than ``orphan_ttl_s`` (the grace period
        protects a concurrent writer's still-in-flight stage) and NEVER count
        against the keep quota — an orphan can't shadow a good predecessor.
        """
        vroot = self._version_root(table)
        if not os.path.isdir(vroot):
            return
        try:
            committed, orphans = [], []
            for d in os.listdir(vroot):
                p = os.path.join(vroot, d)
                if os.path.realpath(p) == keep_target:
                    continue
                (committed if self._is_committed(p) else orphans).append(p)
            committed.sort(key=os.path.getmtime, reverse=True)
            stale_orphans = [
                p for p in orphans if self._orphan_age_s(p) > self.orphan_ttl_s
            ]
        except OSError:
            return
        # OLDEST first: a crash midway through the loop must leave the
        # retained set contiguous from the head — newest-first removal would
        # leave a HOLE in the version chain, and a single-step CDC read
        # across a hole would serve the newer commit's write-time change
        # files against the wrong predecessor (r10 crash-injection finding;
        # the parent-stamp check, chain_hole, is the backstop).
        for stale in committed[self.keep_versions:][::-1] + stale_orphans:
            shutil.rmtree(stale, ignore_errors=True)

    def versions(self, table: str) -> list[str]:
        """Committed version directories for ``table``, newest first (current
        included). Plain-parquet time travel: the transactional overwrite
        keeps the current version plus ``keep_versions`` predecessors
        (≙ Iceberg snapshots, iceberg_manager.py history; bounded retention
        instead of unbounded snapshot log). In-flight or crashed (unmarked)
        dirs are never listed, except the current version in the
        millisecond swap-to-sentinel window."""
        live = self.path(table)
        vroot = self._version_root(table)
        if not os.path.isdir(vroot):
            return [live] if os.path.isdir(live) else []
        current = os.path.realpath(live)
        dirs = [
            os.path.join(vroot, d)
            for d in os.listdir(vroot)
            if self._is_committed(os.path.join(vroot, d))
            or os.path.realpath(os.path.join(vroot, d)) == current
        ]
        # A still-PLAIN (append-created) live dir is the current version even
        # once .versions/ exists (e.g. a failed first overwrite created the
        # dir and left only an orphan): without this, a serving table would
        # list zero versions (r10 review finding).
        if os.path.isdir(live) and not os.path.islink(live):
            dirs.append(live)
        # snapshot each mtime tolerantly: a superseded dir can be reaped by
        # a concurrent publish's GC between listdir and the sort — skip it,
        # never crash a pure read path (r10 review finding)
        keyed = []
        for p in dirs:
            try:
                keyed.append(((os.path.realpath(p) != current, -os.path.getmtime(p)), p))
            except OSError:
                continue
        keyed.sort(key=lambda kp: kp[0])
        return [p for _, p in keyed]

    def read_version(self, table: str, n_back: int = 0, conformed: bool = False) -> DataFrame:
        """Read the table as of ``n_back`` overwrites ago (0 = current).

        Raises IndexError past the retention horizon — deliberately loud:
        silently serving current data for a time-travel read would corrupt
        any reproducibility claim built on it.
        """
        vs = self.versions(table)
        if n_back < 0 or n_back >= len(vs):
            # negative n_back would silently Python-index from the OLDEST
            # retained version — the opposite of what the caller asked
            raise IndexError(
                f"{table}: only {len(vs)} retained versions, asked for n_back={n_back}"
            )
        df = self.spark.read.option("mergeSchema", "true").parquet(vs[n_back])
        return conform(df, table, allow_missing=True) if conformed else df

    def read_pinned(self, table: str) -> tuple[DataFrame, str | None]:
        """Read the table PINNED to the live version observed right now, and
        return that version as the CAS snapshot for a later publish.

        Read-modify-write operations (merge_upsert / delete_where) must
        capture ``expected`` at the same moment the input is resolved — not
        at overwrite()-time — otherwise a commit landing between the read and
        the write passes the CAS while the merged result was computed from
        the superseded version (ADVICE r3). Reading the version DIRECTORY
        (immutable once published) rather than the live symlink additionally
        pins Spark's lazy file listing: however late the job actually runs,
        it scans exactly the snapshot the CAS will compare against, instead
        of surfacing a concurrent swap as a confusing FileNotFound."""
        target = self._current_target(table)
        if target is None or not os.path.isdir(target):
            return self.spark.createDataFrame([], ALL_SCHEMAS[table]), target
        return self.spark.read.schema(ALL_SCHEMAS[table]).parquet(target), target

    def read(self, table: str, conformed: bool = False) -> DataFrame:
        """Read a managed table; ``conformed=True`` merges file schemas and
        projects to the current registry schema with NULL backfill for
        columns added since the files were written (schema evolution).

        The plain read passes the declared schema, so no schema-inference
        job runs: the file index still lists the files, but no footer is
        read until the scan."""
        if not self.exists(table):
            # empty-table fallback, reference declares per-transform empty
            # schemas for this (qualifying_transform.py:287-309)
            return self.spark.createDataFrame([], ALL_SCHEMAS[table])
        if conformed:
            df = self.spark.read.option("mergeSchema", "true").parquet(self.path(table))
            return conform(df, table, allow_missing=True)
        return self.spark.read.schema(ALL_SCHEMAS[table]).parquet(self.path(table))

    def _writer(self, df: DataFrame, table: str, sort_by: list[str] | None = None):
        out = conform(df, table)
        if sort_by:
            # cluster rows inside each file so parquet min/max statistics
            # prune on these columns (the plain-parquet cousin of Z-ORDER;
            # reference tunes Iceberg file layout, iceberg_manager.py:65-77)
            out = out.sortWithinPartitions(*sort_by)
        w = out.write.format("parquet")
        parts = PARTITION_SPECS.get(table, [])
        if parts:
            w = w.partitionBy(*parts)
        return w

    def append(self, df: DataFrame, table: str) -> None:
        """Append rows. On a VERSIONED table this stages a NEW version
        (hardlink-graft of the current version's data files + the appended
        rows) published under the usual CAS — appending through the live
        symlink would mutate a published snapshot in place, invisible to
        pinned readers, time travel, and table_changes (the rows would
        belong to no commit; r10 review finding). No write-time change
        files are emitted: append can duplicate merge keys, so keyed
        labeling is undefined — ``table_changes`` falls back to the
        snapshot diff, correct under both keyed and multiset semantics.
        A plain (append-created, pre-transactional) table keeps the cheap
        in-place append."""
        live = self.path(table)
        if not os.path.islink(live):
            self._writer(df, table).mode("append").save(live)
            return
        expected = self._current_target(table)
        version_dir = os.path.join(
            self._version_root(table), f"v-{uuid.uuid4().hex[:12]}"
        )
        os.makedirs(version_dir, exist_ok=True)
        try:
            for dirpath, dirnames, filenames in os.walk(expected):
                rel = os.path.relpath(dirpath, expected)
                comps = tuple() if rel == "." else tuple(rel.split(os.sep))
                if comps and comps[0].startswith(("_", ".")):
                    # the old version's _changes/ describe ITS commit — never
                    # carried forward (same rule as _graft_partitions)
                    dirnames[:] = []
                    continue
                for fn in filenames:
                    if fn.startswith(("_", ".")):
                        continue  # _SUCCESS / .committed / sidecars
                    os.makedirs(os.path.join(version_dir, rel), exist_ok=True)
                    os.link(
                        os.path.join(dirpath, fn), os.path.join(version_dir, rel, fn)
                    )
        except OSError as e:
            # The walk runs WITHOUT the publish lock (grafting may take a
            # while; the CAS at _publish is the serialization point): a
            # concurrent publish whose GC reaps `expected` mid-walk must
            # surface as the CAS contract's failure mode, not a raw
            # FileNotFoundError (ADVICE r10). But ONLY that: translating a
            # local failure (ENOSPC, EPERM, EMLINK) into the store's
            # retryable signal would send an automated caller into a retry
            # loop against a full disk (r11 review finding) — re-raise
            # unless the prior image actually vanished.
            import errno

            if e.errno == errno.ENOENT or not os.path.isdir(expected):
                raise ConcurrentWriteError(
                    f"{table}: live version changed since append start "
                    f"({expected} vanished mid-graft: {e}) — retry the append"
                ) from e
            raise
        self._writer(df, table).mode("append").save(version_dir)
        self._publish(table, version_dir, expected=expected)

    def _stage_version(
        self, df: DataFrame, table: str, sort_by: list[str] | None = None
    ) -> str:
        """Write ``df`` (static mode) into a fresh unpublished version dir
        and return it — the staging step shared by overwrite, stage_many,
        and overwrite_partitions (ONE implementation of the protocol: a
        future staging change cannot silently skip one of the three commit
        paths; r10 review finding). Static even when the session default is
        dynamic, otherwise stale partitions would survive inside the fresh
        version dir."""
        version_dir = os.path.join(
            self._version_root(table), f"v-{uuid.uuid4().hex[:12]}"
        )
        os.makedirs(os.path.dirname(version_dir), exist_ok=True)
        self._writer(df, table, sort_by).option(
            "partitionOverwriteMode", "static"
        ).mode("overwrite").save(version_dir)
        return version_dir

    def overwrite(
        self,
        df: DataFrame,
        table: str,
        sort_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        expected=_UNSET,
        changes: DataFrame | None = None,
        change_keys: list[str] | None = None,
    ) -> None:
        """Transactional full overwrite: write → (implicit) validate → atomic
        swap. If the write job fails, no swap happens and the live table is
        untouched; the unmarked half-written staging dir is never listed as a
        version and is reaped by a later GC once past ``orphan_ttl_s``.

        ``cluster_by``: Z-order the write on these (integer-valued) columns —
        range-partition + sort on the Morton interleave key so EVERY listed
        column gets tight per-file min/max stats (functions/zorder.py; the
        plain-parquet OPTIMIZE ZORDER BY). Mutually exclusive with
        ``sort_by`` (single-dimension clustering).

        ``changes``: write-time CDF rows (table columns + ``_change_type``)
        describing THIS commit's delta vs the version being replaced; they
        land under ``<version_dir>/_changes/`` before the publish swap
        (crash-safe: an unpublished version dir is an orphan, changes
        included), ride the version's retention/vacuum lifecycle, and are
        invisible to table scans (underscore-prefixed = Hadoop hidden).
        mutation APIs that KNOW their delta (merge_upsert, delete_where)
        pass this so table_changes() serves a metadata-located file read
        instead of a two-snapshot diff. ``change_keys`` records the key set
        the change labels were computed under (``None`` = key-agnostic, a
        pure delete feed); table_changes() only fast-paths readers whose
        key_cols MATCH — a mismatched reader silently getting the writer's
        labeling would diverge from the snapshot-diff contract (review
        finding, r9)."""
        if cluster_by and sort_by:
            # documented as mutually exclusive; silently applying both would
            # re-sort every range partition by sort_by AFTER the Morton
            # ordering, scrambling the Z-order layout the caller asked for
            raise ValueError(
                "overwrite(sort_by=..., cluster_by=...): mutually exclusive "
                "— cluster_by IS a sort (on the Morton interleave key)"
            )
        if cluster_by:
            from pyspark.sql import functions as F

            from f1_datalakehouse_pipeline_spark.functions.zorder import morton_interleave

            key = morton_interleave([F.col(c) for c in cluster_by])
            n = max(2, self.spark.sparkContext.defaultParallelism)
            df = (
                df.withColumn("__z", key)
                .repartitionByRange(n, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        if expected is _UNSET:
            expected = self._current_target(table)
        version_dir = self._stage_version(df, table, sort_by)
        if changes is not None:
            self._write_changes(version_dir, changes, change_keys)
        self._publish(table, version_dir, expected=expected)

    @staticmethod
    def _change_keys_match(cpath: str, key_cols: list[str] | None) -> bool:
        """Serve change files only to readers whose key_cols MATCH the key
        set the writer labeled them under (sidecar). "*" = key-agnostic
        (a pure delete feed or an empty compaction feed): those labels are
        valid under EVERY key choice — including the no-keys multiset
        reader, whose delete-only/empty labeling coincides. A keyed file
        never serves a differently-keyed or keyless reader; they fall back
        to the snapshot diff, which computes labels under THEIR semantics —
        without this gate the same call would return differently-labeled
        rows depending on whether a file happened to exist."""
        kf = os.path.join(cpath, "_keys.json")
        if not os.path.isfile(kf):
            return False  # no provenance, no fast path
        try:
            with open(kf) as f:
                spec = json.load(f)
        except (OSError, ValueError):
            return False
        if spec == "*":
            return True
        return key_cols is not None and spec == sorted(key_cols)

    @staticmethod
    def _write_changes(
        version_dir: str, changes: DataFrame, change_keys: list[str] | None
    ) -> None:
        cdir = os.path.join(version_dir, "_changes")
        changes.write.mode("overwrite").parquet(cdir)
        # sidecar: the key set the labels are valid under ("*" = any keys —
        # a delete-only feed labels identically under every key choice).
        # Underscore-prefixed like the dir, so the part-file glob skips it.
        with open(os.path.join(cdir, "_keys.json"), "w") as f:
            json.dump(sorted(change_keys) if change_keys else "*", f)

    def stage_many(
        self, writes: list[tuple[DataFrame, str]]
    ) -> list[tuple[str, str, str | None]]:
        """Stage a CROSS-TABLE overwrite: run every table's (expensive)
        Spark write into a fresh version dir — no locks held, nothing
        published. Returns the staged set for :func:`publish_many`. Each
        table's CAS snapshot is captured here, before its job runs."""
        seen: set[str] = set()
        staged: list[tuple[str, str, str | None]] = []
        for df, table in writes:
            if table in seen:
                raise ValueError(f"duplicate table in stage_many: {table!r}")
            seen.add(table)
            expected = self._current_target(table)
            staged.append((table, self._stage_version(df, table), expected))
        return staged

    def publish_many(self, staged: list[tuple[str, str, str | None]]) -> None:
        """Publish a staged cross-table commit ALL-OR-NOTHING:

        1. acquire every table's publish lock in sorted table order
           (deadlock-free against any other multi-table committer);
        2. CAS-check every table BEFORE swapping anything — a rival commit
           to any one table fails the whole batch with nothing published
           (the staged dirs are left as unmarked orphans for GC);
        3. swap all symlinks (milliseconds each); a swap failure rolls the
           already-swapped tables back to their previous targets.

        Isolation note, stated honestly: the N symlink swaps are each
        atomic but not jointly atomic — a reader racing step 3 can observe
        table A at the new version and table B at the old one for the few
        milliseconds the loop takes (read-committed per table, not
        cross-table snapshot isolation; single-pointer catalogs have the
        same window when the "catalog" is N independent pointers). Writers
        are fully serialized by the locks + CAS.
        """
        from contextlib import ExitStack

        order = sorted(staged, key=lambda s: s[0])
        with ExitStack() as stack:
            for table, _vdir, _expected in order:
                stack.enter_context(self._publish_lock(table))
            for table, _vdir, expected in order:
                self._check_cas(table, expected)  # nothing swapped yet
            swapped: list[tuple[str, str, str | None]] = []
            in_flight: tuple[str, str, str | None] | None = None
            try:
                for table, vdir, expected in order:
                    # Track the table BEFORE its swap: _swap_locked can
                    # crash AFTER its os.replace commit point but BEFORE
                    # the sentinel write, leaving this table live at the
                    # aborted version without ever reaching swapped — the
                    # rollback must cover it too (second r10 review round).
                    # Rolling back a table whose swap never reached the
                    # replace is harmless: re-pointing at the unchanged
                    # prior is a no-op and the sentinel unlink finds
                    # nothing.
                    in_flight = (table, vdir, expected)
                    self._swap_locked(table, vdir)
                    swapped.append((table, vdir, expected))
                    in_flight = None
            except BaseException:
                # roll already-swapped tables back to their prior targets,
                # INCLUDING the one that crashed mid-swap
                to_roll = swapped + ([in_flight] if in_flight else [])
                for table, vdir, prior in reversed(to_roll):
                    live = self.path(table)
                    if prior is not None and prior == live:
                        # the prior was a PLAIN (append-created) dir that
                        # _swap_locked migrated into .versions/ as
                        # legacy-<hex>; restoring `prior` verbatim would
                        # create a self-looping symlink (live -> live) and
                        # the table would read empty. Rename the migrated
                        # dir back instead — the exact pre-batch state.
                        vroot = self._version_root(table)
                        legacy = sorted(
                            (
                                os.path.join(vroot, d)
                                for d in os.listdir(vroot)
                                if d.startswith("legacy-")
                            ),
                            key=os.path.getmtime,
                        )
                        unlinked = False
                        try:
                            os.unlink(live)  # drop the symlink to vdir
                            unlinked = True
                        except FileNotFoundError:
                            # _swap_locked crashed after the one-time legacy
                            # migration but BEFORE the symlink replace —
                            # live is already absent and the rename below is
                            # exactly the restore needed; sharing one try
                            # with it stranded the data in
                            # .versions/legacy-* (ADVICE r10)
                            pass
                        except OSError:
                            # cannot modify the live path at all (EACCES,
                            # EBUSY): leave the table AT the new version,
                            # still committed — de-committing a version the
                            # live symlink still points at would let GC reap
                            # it under live's feet (r11 review finding).
                            # Partial publish beats a dangling live path.
                            continue
                        restored = False
                        if legacy:
                            try:
                                os.rename(legacy[-1], live)
                                restored = True
                            except OSError:
                                pass
                        if not restored:
                            if unlinked:
                                # the restore failed AFTER we dropped live:
                                # re-point it at the new version rather than
                                # leave no live path (its commit sentinel is
                                # intact, so reads and GC stay coherent)
                                try:
                                    os.symlink(os.path.abspath(vdir), live)
                                except OSError:
                                    pass
                            continue  # vdir stays committed — it may serve
                        # prior image restored: NOW the aborted version can
                        # safely become an unmarked orphan
                        try:
                            os.unlink(os.path.join(vdir, _COMMIT_SENTINEL))
                        except OSError:
                            pass
                        continue
                    if prior is not None and not os.path.isdir(prior):
                        # the prior version was GC'd during this batch
                        # (keep_versions=0 edge): rolling back would point
                        # the live symlink at nothing and de-commit the only
                        # remaining copy of the data — leave this table at
                        # the new version, still committed. Partial publish
                        # beats data loss; the raised error already tells
                        # the caller the batch failed.
                        continue
                    try:
                        if prior is None:
                            os.unlink(live)
                        else:
                            tmp = os.path.join(
                                self.root, f".{table}.link.{uuid.uuid4().hex[:8]}"
                            )
                            os.symlink(prior, tmp)
                            os.replace(tmp, live)
                    except OSError:
                        pass
                    # De-commit the rolled-back version (its sentinel was
                    # written by _swap_locked): with the sentinel gone it is
                    # an unmarked orphan again — never listed, GC'd past the
                    # TTL. Leaving it committed would shadow the TRUE
                    # predecessor in versions()/time travel AND poison the
                    # parent-stamped CDC chain (either a spurious hole error
                    # or, after the next real commit, serving the aborted
                    # commit's change rows as real — r10 review finding).
                    try:
                        os.unlink(os.path.join(vdir, _COMMIT_SENTINEL))
                    except OSError:
                        pass
                raise

    def commit_many(self, writes: list[tuple[DataFrame, str]]) -> None:
        """Cross-table transactional overwrite: ``stage_many`` +
        ``publish_many``. The medallion batch shape — one pipeline run
        refreshes several silver/gold tables; either every table advances
        to the new batch or none does (a rival single-table commit in the
        window fails this whole batch loudly)."""
        self.publish_many(self.stage_many(writes))

    def merge_upsert(
        self,
        updates: DataFrame,
        table: str,
        keys: list[str],
        delete_col: str | None = None,
    ) -> None:
        """MERGE INTO semantics on plain parquet: rows matching on ``keys``
        are replaced by the update row, unmatched updates insert, unmatched
        existing rows persist — committed via the transactional overwrite
        (write-new-version + atomic swap + CAS), so the merge is
        all-or-nothing like Iceberg's MERGE (iceberg_manager.py commit path)
        and a concurrent commit in between fails loudly instead of being
        silently overwritten. ``updates`` must be unique per key. The
        anti-join + union runs distributed; the read-then-overwrite cycle is
        safe because the write lands in a fresh version dir while the scan
        reads the live one.

        ``delete_col``: name of a boolean column in ``updates`` marking
        tombstones — matching rows are REMOVED instead of replaced
        (``WHEN MATCHED AND <flag> THEN DELETE``); a tombstone for an
        absent key is a no-op, and the column itself is stripped before
        the upsert rows are written.

        Write-time CDF: the merge already distinguishes matched/unmatched
        sides, so the per-commit change rows (insert / update_preimage /
        update_postimage for value-changed matches / delete for landed
        tombstones) are emitted HERE into the new version's ``_changes/``
        files — one extra join keyed the same as the merge itself, paid
        once at write time instead of a two-snapshot diff per CDC reader
        (``table_changes``). Matched rows whose values are byte-identical
        emit nothing, matching the snapshot-diff labeling exactly.
        """
        # The updates plan feeds the NULL-key guard, the anti-join, the
        # merged image, the change-feed join, and (with tombstones) the
        # landed-delete probe — up to five evaluations of a potentially
        # expensive, uncached input pipeline. Persist once at entry; every
        # consumer below (including the data + change-file writes inside
        # overwrite()) materializes before this method returns, so the
        # cache is dropped on exit either way (ADVICE r9). A caller's own
        # cache of the plan is left alone (r10 review finding).
        with persisted(updates):
            self._merge_upsert_body(updates, table, keys, delete_col)

    def _merge_upsert_body(
        self,
        updates: DataFrame,
        table: str,
        keys: list[str],
        delete_col: str | None,
    ) -> None:
        from pyspark.sql import functions as F
        import functools
        import operator

        # NULL keys are outside the merge contract and would diverge
        # silently THREE ways: the name-equality merge join never matches
        # them (old NULL-key row kept AND new one inserted — duplicate
        # "keys"), the write-time change feed labels under the same
        # name-equality, and the snapshot-diff fallback compares keys
        # null-SAFELY — so the same mutation would read differently
        # depending on which CDF tier served it (review finding, r9).
        # Reject loudly; the check costs one limit-1 job on the batch side.
        null_key = functools.reduce(
            operator.or_, [F.col(k).isNull() for k in keys]
        )
        if updates.filter(null_key).limit(1).count():
            raise ValueError(
                f"merge_upsert({table}): updates contain NULL in key "
                f"column(s) {keys} — NULL keys never match (name-equality "
                "join semantics) and would duplicate rows; filter or "
                "coalesce them first"
            )
        current, expected = self.read_pinned(table)
        if delete_col is not None:
            tomb = F.coalesce(F.col(delete_col), F.lit(False))
            upserts = updates.filter(~tomb).drop(delete_col)
        else:
            upserts = updates
        # every update key (tombstone or upsert) leaves the current image…
        kept = current.join(updates.select(*keys), keys, "left_anti")
        # …and only the non-tombstone rows come back
        merged = kept.unionByName(upserts.select(*current.columns))

        # ---- write-time change feed ------------------------------------
        cols = current.columns
        val_cols = [c for c in cols if c not in keys]
        # conform the upsert image so the change rows carry exactly the
        # types the data write persists (and the snapshot diff would read)
        u = (
            conform(upserts.select(*cols), table)
            .withColumn("__u", F.lit(True))
            .alias("u")
        )
        o = current.withColumn("__o", F.lit(True)).alias("o")
        cond = None
        for k in keys:
            eq = F.col(f"u.{k}") == F.col(f"o.{k}")
            cond = eq if cond is None else (cond & eq)
        j = u.join(o, cond, "left_outer")
        matched = F.col("o.__o").isNotNull()
        value_changed = (
            ~F.struct(*[F.col(f"o.{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"u.{c}") for c in val_cols])
            )
            if val_cols
            else F.lit(False)
        )
        ins = j.filter(~matched).select(
            *[F.col(f"u.{c}") for c in cols], F.lit("insert").alias("_change_type")
        )
        upd = j.filter(matched & value_changed)
        pre = upd.select(
            *[F.col(f"o.{c}") for c in cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = upd.select(
            *[F.col(f"u.{c}") for c in cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        changes = ins.unionByName(pre).unionByName(post)
        if delete_col is not None:
            landed = current.join(
                updates.filter(tomb).select(*keys), keys, "left_semi"
            )
            changes = changes.unionByName(
                landed.select(*cols, F.lit("delete").alias("_change_type"))
            )
        self.overwrite(
            merged, table, expected=expected, changes=changes, change_keys=keys
        )

    @staticmethod
    def _leaf_partitions(root: str, depth: int) -> set[tuple[str, ...]]:
        """Relative partition-dir tuples (exactly ``depth`` components) that
        contain at least one data file."""
        out: set[tuple[str, ...]] = set()
        for dirpath, dirnames, filenames in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            comps = tuple() if rel == "." else tuple(rel.split(os.sep))
            if comps and comps[0].startswith(("_", ".")):
                # metadata dirs (_changes CDF files, _temporary) are not
                # partitions
                dirnames[:] = []
                continue
            if len(comps) == depth:
                if any(not f.startswith(("_", ".")) for f in filenames):
                    out.add(comps)
                dirnames[:] = []  # parquet data lives at leaf depth
        return out

    @staticmethod
    def _graft_partitions(
        src: str, dst: str, depth: int, skip: set[tuple[str, ...]]
    ) -> None:
        """Hardlink every data file of ``src`` into ``dst`` except files under
        the partition dirs in ``skip``. Metadata-only (no data copy): the new
        version shares the physical parquet files of the old one, and GC of
        either version just drops link counts — the plain-parquet analogue of
        two Iceberg snapshots referencing the same data files."""
        for dirpath, dirnames, filenames in os.walk(src):
            rel = os.path.relpath(dirpath, src)
            comps = tuple() if rel == "." else tuple(rel.split(os.sep))
            if comps and comps[0].startswith(("_", ".")):
                # never graft metadata dirs: the old version's _changes CDF
                # files describe ITS commit — carrying them into the new
                # version would mislabel the new commit's change feed
                dirnames[:] = []
                continue
            if len(comps) >= depth and comps[:depth] in skip:
                dirnames[:] = []
                continue
            for fn in filenames:
                if len(comps) < depth:
                    # version-root markers (_SUCCESS, .committed): the new
                    # version writes its own
                    continue
                os.makedirs(os.path.join(dst, rel), exist_ok=True)
                os.link(
                    os.path.join(dirpath, fn), os.path.join(dst, rel, fn)
                )

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        sort_by: list[str] | None = None,
        expected=_UNSET,
        changes: DataFrame | None = None,
        change_keys: list[str] | None = None,
    ) -> None:
        """Replace only the partitions present in ``df`` — transactionally.

        The incoming partitions are written (static mode) into a fresh
        version dir; every live partition NOT being replaced is hardlinked in
        (no data movement); the composed version is then published with the
        same atomic-swap + CAS protocol as ``overwrite``. Matches Iceberg's
        ``overwritePartitions`` whole-commit guarantee
        (iceberg_manager.py:531-567): a crash at any point leaves every live
        partition readable at its old version, and re-running the same batch
        is idempotent.
        """
        if not PARTITION_SPECS.get(table):
            # unpartitioned table: partition-overwrite degenerates to overwrite
            self.overwrite(
                df, table, expected=expected,
                changes=changes, change_keys=change_keys,
            )
            return
        if expected is _UNSET:
            expected = self._current_target(table)
        if expected is None:
            self.overwrite(
                df, table, sort_by, expected=None,
                changes=changes, change_keys=change_keys,
            )
            return
        depth = len(PARTITION_SPECS[table])
        version_dir = self._stage_version(df, table, sort_by)
        replaced = self._leaf_partitions(version_dir, depth)
        self._graft_partitions(expected, version_dir, depth, skip=replaced)
        if changes is not None:
            self._write_changes(version_dir, changes, change_keys)
        self._publish(table, version_dir, expected=expected)


    def delete_where(self, df_predicate, table: str) -> None:
        """Row-level DELETE (≙ Delta ``DELETE FROM t WHERE ...``), committed
        transactionally and touching only the partitions that contain
        matches: matching partitions are rewritten WITHOUT the matching
        rows (via the transactional partition overwrite, so untouched
        partitions carry over as hardlinks), everything else is metadata
        work. A predicate matching nothing is a no-op; a predicate matching
        an entire partition leaves that partition empty but present.

        Unpartitioned tables rewrite in full (one transactional overwrite)
        — the honest cost of a row delete without per-file deletion
        vectors.
        """
        import functools
        import operator

        from pyspark.sql import functions as F

        parts = PARTITION_SPECS.get(table, [])
        current, expected = self.read_pinned(table)
        # write-time CDF: a DELETE's change feed is exactly the matching
        # rows — known here for free, no snapshot diff needed at read time
        deleted = current.filter(F.coalesce(df_predicate, F.lit(False))).select(
            *current.columns, F.lit("delete").alias("_change_type")
        )
        if not parts:
            self.overwrite(
                current.filter(~F.coalesce(df_predicate, F.lit(False))),
                table,
                expected=expected,
                changes=deleted,
            )
            return
        touched = current.filter(df_predicate).select(*parts).distinct()
        # NULL-safe equality on the partition columns (ADVICE r3): a NULL
        # partition value (__HIVE_DEFAULT_PARTITION__) never matches under
        # plain `=`, so such rows would always land in `kept` and survive
        # the delete — a silent no-op for exactly the rows the predicate
        # selected. `<=>` matches NULL to NULL.
        null_safe = functools.reduce(
            operator.and_, [current[c].eqNullSafe(touched[c]) for c in parts]
        )
        remaining = current.join(F.broadcast(touched), null_safe, "left_semi").filter(
            ~F.coalesce(df_predicate, F.lit(False))
        )
        # an all-deleted partition must still be REPLACED (emptied), which
        # dynamic overwrite can't express with zero rows — fall back to a
        # full transactional overwrite for that edge
        if remaining.select(*parts).distinct().count() < touched.count():
            kept = current.join(F.broadcast(touched), null_safe, "left_anti")
            self.overwrite(
                kept.unionByName(remaining), table, expected=expected, changes=deleted
            )
            return
        self.overwrite_partitions(remaining, table, expected=expected, changes=deleted)

    def history(self, table: str) -> list[dict]:
        """Commit metadata per retained version, newest first (≙ Delta
        ``DESCRIBE HISTORY`` / Iceberg snapshot listing, bounded by the
        retention policy): path, commit mtime, file count, total bytes.
        Driver-side directory walk over the retained versions only — never
        reads data files."""
        out = []
        for v in self.versions(table):
            n_files = total = 0
            for dirpath, _dirs, files in os.walk(v):
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    n_files += 1
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
            out.append(
                {
                    "path": v,
                    "committed_at": os.path.getmtime(v),
                    "n_files": n_files,
                    "n_bytes": total,
                    "is_current": os.path.realpath(v)
                    == os.path.realpath(self.path(table)),
                }
            )
        return out

    def vacuum(self, table: str, keep: int = 0) -> int:
        """Explicitly prune non-current versions beyond ``keep`` plus any
        stale orphans (≙ Delta VACUUM with retention 0). Returns the number
        of directories removed. The CURRENT version is never touched; time
        travel past ``keep`` versions stops working — that is the point."""
        live = self._current_target(table)
        removed = 0
        others = [v for v in self.versions(table) if os.path.realpath(v) != live]
        # oldest first (same crash-contiguity rule as _gc_versions): a
        # vacuum interrupted midway leaves the SURVIVING retention window
        # contiguous from the current version, never a holed chain
        for stale in others[keep:][::-1]:
            shutil.rmtree(stale, ignore_errors=True)
            removed += 1
        # stale orphans (crashed writes) go too, respecting the TTL grace
        vroot = self._version_root(table)
        if os.path.isdir(vroot):
            for d in os.listdir(vroot):
                p = os.path.join(vroot, d)
                if (
                    os.path.realpath(p) != live
                    and not self._is_committed(p)
                    and self._orphan_age_s(p) > self.orphan_ttl_s
                ):
                    shutil.rmtree(p, ignore_errors=True)
                    removed += 1
        return removed

    def table_changes(
        self,
        table: str,
        n_back_from: int,
        n_back_to: int = 0,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """CDC read between two retained versions (≙ Delta
        ``table_changes()`` / CDF output shape): every row carries a
        ``_change_type`` column.

        With ``key_cols``: key-based diff — ``insert`` (key only in the
        newer version), ``delete`` (key only in the older), and
        ``update_preimage``/``update_postimage`` pairs where the key exists
        in both but any non-key column differs (null-safe struct compare).
        Keys are assumed unique per version — the contract every
        merge_upsert-maintained table here already satisfies. Without
        ``key_cols``: multiset diff (exceptAll both ways) — inserts and
        deletes only, duplicate-count-aware.

        Serving tiers (r9): commits made by ``merge_upsert`` / ``delete_where``
        write their change rows at WRITE TIME into the new version's
        ``_changes/`` files; a single-step keyed read
        (``n_back_from == n_back_to + 1``) of such a commit is a plain
        file scan — no snapshot diff, no key shuffle, cost ∝ |changes| not
        |table| (the Delta CDF cost shape). The snapshot-diff path remains
        for: pre-CDF versions (plain ``overwrite`` commits persist no
        change files — their delta is an arbitrary rewrite the diff
        computes exactly), multi-step spans (per-step files don't compose
        into a NET diff without replaying), the no-keys multiset mode
        (written files are keyed per the writer's merge keys; the multiset
        labeling of an update is delete+insert, not pre/post), and readers
        whose ``key_cols`` differ from the key set the writer labeled under
        (a ``_keys.json`` sidecar records it; a mismatch falls back so the
        caller always gets labels computed under ITS keys — file-vs-diff
        equality under matching keys is pinned in
        tests/test_tablestore_tx.py). Within the bounded retention window
        the diff fallback costs what a full-outer join costs, and never
        touches the driver."""
        self._check_span(n_back_from, n_back_to)
        # ONE versions() snapshot resolves both endpoints: resolving each
        # endpoint independently would let a commit landing in between
        # shift the relative indices mid-read (review finding, r9)
        vs = self.versions(table)
        if n_back_from >= len(vs):
            raise IndexError(
                f"{table}: only {len(vs)} retained versions, asked for "
                f"n_back_from={n_back_from}"
            )
        return self._changes_between(
            vs[n_back_from],
            vs[n_back_to],
            key_cols,
            allow_files=n_back_from == n_back_to + 1,
        )

    @staticmethod
    def _check_span(n_back_from: int, n_back_to: int) -> None:
        if n_back_to < 0:
            # Python negative indexing would silently resolve to the OLDEST
            # retained version — a garbage diff with inverted labels
            raise ValueError(f"n_back_to={n_back_to} must be >= 0")
        if n_back_from < n_back_to:
            # swapped arguments would silently INVERT every change label
            # (inserts reported as deletes, pre/post images flipped)
            raise ValueError(
                f"n_back_from={n_back_from} must be the OLDER version "
                f"(>= n_back_to={n_back_to}): larger n_back = further back"
            )

    def _changes_between(
        self,
        old_dir: str,
        new_dir: str,
        key_cols: list[str] | None,
        allow_files: bool,
    ) -> DataFrame:
        """Change rows between two PINNED version directories (the caller
        resolved them from one versions() snapshot). ``allow_files``: serve
        the newer commit's write-time ``_changes/`` when present, keyed, and
        key-matching — only valid for single-step spans."""
        from pyspark.sql import functions as F

        if allow_files:
            # The write-time files describe new_dir's delta vs its ACTUAL
            # parent commit. If the chain records a different parent than
            # old_dir (a hole — versions lost between the two), serving
            # them would label the wrong delta; the snapshot diff below is
            # the honest NET answer in that case. Unknown parent (None,
            # pre-stamp sentinel) keeps the pre-r10 trust.
            files = (
                self.readable_change_files(new_dir, key_cols)
                if self.chain_hole(new_dir, old_dir) is None
                else []
            )
            if files:
                # explicit part-file paths: the dir's own leading
                # underscore (which keeps it invisible to TABLE scans)
                # would otherwise trip Hadoop's hidden-path filter into a
                # noisy "all paths ignored" warning on every CDF read
                return self.spark.read.parquet(*files)
        old = self.spark.read.option("mergeSchema", "true").parquet(old_dir)
        new = self.spark.read.option("mergeSchema", "true").parquet(new_dir)
        cols = new.columns
        if old.columns != cols:
            # schema evolution between the versions: conform both to the
            # union with NULL backfill so the diff compares like with like
            allc = list(dict.fromkeys(old.columns + cols))
            for c in allc:
                if c not in old.columns:
                    old = old.withColumn(c, F.lit(None))
                if c not in new.columns:
                    new = new.withColumn(c, F.lit(None))
            cols = allc
            old, new = old.select(*cols), new.select(*cols)
        if not key_cols:
            ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
            dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
            return ins.unionByName(dels)
        val_cols = [c for c in cols if c not in key_cols]
        # presence must be judged on the join side, not a (possibly NULL)
        # data column: tag each side with a literal before joining
        o = old.withColumn("__o", F.lit(True)).alias("o")
        n = new.withColumn("__n", F.lit(True)).alias("n")
        cond = None
        for k in key_cols:
            eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
            cond = eq if cond is None else (cond & eq)
        j = o.join(n, cond, "full_outer")
        in_old = F.col("o.__o").isNotNull()
        in_new = F.col("n.__n").isNotNull()
        changed = (
            ~F.struct(*[F.col(f"o.{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"n.{c}") for c in val_cols])
            )
            if val_cols
            else F.lit(False)
        )
        ins = j.filter(in_new & ~in_old).select(
            *[F.col(f"n.{c}") for c in cols], F.lit("insert").alias("_change_type")
        )
        dels = j.filter(in_old & ~in_new).select(
            *[F.col(f"o.{c}") for c in cols], F.lit("delete").alias("_change_type")
        )
        upd = j.filter(in_old & in_new & changed)
        pre = upd.select(
            *[F.col(f"o.{c}") for c in cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = upd.select(
            *[F.col(f"n.{c}") for c in cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        return ins.unionByName(dels).unionByName(pre).unionByName(post)


def compact(
    store: TableStore,
    table: str,
    target_partitions: int = 1,
    predicate=None,
) -> None:
    """OPTIMIZE analogue: rewrite a table's files into ``target_partitions``
    files per partition directory (reference tunes Iceberg target file sizes,
    iceberg_manager.py:65-77; on plain parquet, compaction is a rewrite).

    Partitioned tables compact PER PARTITION through the transactional
    ``overwrite_partitions``: only partitions selected by ``predicate``
    (default: all) are rewritten — every other partition's files are carried
    into the new version as hardlinks, untouched. ``predicate`` SELECTS
    PARTITIONS, never rows: every partition containing at least one matching
    row is rewritten IN FULL (matching + non-matching rows alike), so a
    predicate on a non-partition column can narrow the maintenance scope but
    can never silently delete data. Filter on partition columns (e.g.
    ``F.col("year") == 2024``) for exact pruning — at 100 TB a single
    day/GP then compacts without reading or rewriting the rest of the table.

    Within each rewritten partition the rows are hash-distributed into
    ``target_partitions`` writer tasks, yielding that many output files per
    partition dir. Unpartitioned tables degenerate to a full transactional
    overwrite coalesced to ``target_partitions`` files; a ``predicate``
    there would be row-dropping, so it raises instead.

    A compaction changes NO logical rows, so its commit writes an EMPTY
    key-agnostic change feed: a single-step ``table_changes`` read of the
    compaction is file-served (zero rows) instead of paying a full
    snapshot diff just to learn nothing changed.
    """
    from pyspark.sql import functions as F

    parts = PARTITION_SPECS.get(table, [])
    # PINNED read (not the live symlink): a concurrent commit could swap +
    # GC the version mid-scan (FileNotFound mid-job); the pinned dir also
    # supplies the CAS snapshot so a rival commit fails this compaction
    # loudly instead of being overwritten (r10 review finding)
    df, expected = store.read_pinned(table)
    # zero-row frame with the feed schema (table cols + _change_type)
    no_changes = df.select(
        "*", F.lit("insert").alias("_change_type")
    ).filter(F.lit(False))
    n = max(1, target_partitions)
    if not parts:
        if predicate is not None:
            raise ValueError(
                f"{table} is unpartitioned: compact(predicate=...) would "
                "rewrite the whole table minus the non-matching rows (a "
                "silent DELETE); compact without a predicate instead"
            )
        store.overwrite(df.coalesce(n), table, changes=no_changes, expected=expected)
        return
    if predicate is not None:
        selected = df.filter(predicate).select(*parts).distinct()
        df = df.join(F.broadcast(selected), parts, "left_semi")
    if n == 1:
        # one shuffle keyed on the partition columns → one task (= one file)
        # per partition dir
        compacted = df.repartition(*[F.col(c) for c in parts])
    else:
        # deterministic salt spreads each partition over exactly n tasks
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n))
        compacted = (
            df.withColumn("__compact_bucket", salt)
            .repartition(*([F.col(c) for c in parts] + [F.col("__compact_bucket")]))
            .drop("__compact_bucket")
        )
    store.overwrite_partitions(
        compacted, table, changes=no_changes, expected=expected
    )
