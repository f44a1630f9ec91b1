"""The benchmark's workloads: inputs, one operation, warm-up and checks.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. ``run_op`` is the timed unit; it raises
on any failed operation. ``check`` runs after the timed loops and returns
one message per wrong output.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb

from gen_corpus import generate_corpus
from gen_f1 import GrandPrix, generate_bronze, gp_partitions, move_gp


def disk_bytes(root: str) -> int:
    """Bytes on disk under ``root``, each hardlinked file counted once."""
    seen, total = set(), 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


class Workload:
    name = ""
    #: operations one timed loop runs at least and at most (None: unbounded)
    min_ops: int = 1
    max_ops: int | None = None

    def __init__(self, data_dir: str, seed: int):
        self.dir, self.seed = data_dir, seed
        self.input_bytes = 1
        self.attempted_checks = 0

    def prepare(self) -> None: ...
    def warm_up(self, spark) -> None: ...
    def run_op(self, spark) -> None: ...
    def check(self, spark, full: bool) -> list[str]: return []
    def stored_bytes(self) -> int: return 0


# -- gp_incremental -----------------------------------------------------------

HISTORY_YEARS = (2023, 2024)
SEASON = 2025
N_GP = 24
N_LAPS = 1250  # per driver and race: 25K lap rows per Grand Prix
HELD_BACK = 4  # rounds that land during a run: warm-up, two untraced, one traced
HISTORY_SEED = 20250
TABLES_SILVER = ("sessions_silver", "qualifying_results_silver", "race_results_silver",
                 "laps_silver", "pitstops_silver")
TABLES_GOLD = ("championship_tracker", "driver_performance_summary_race",
               "driver_performance_summary_qualifying", "race_weekend_insights")
DRIVER_COLS = ("driver_number", "broadcast_name", "full_name", "name_acronym", "team_name",
               "country_code", "team_colour", "valid_from", "valid_to", "is_current")


def history_cache_dir(cache_root: str) -> str:
    return os.path.join(cache_root, f"gp_history-{N_GP}x{N_LAPS}-{HELD_BACK}-{HISTORY_SEED}")


def build_history(cache_dir: str, spark) -> None:
    """Bronze and a HISTORICAL-built warehouse for every history season plus
    the first rounds of the current one. Seed-independent, so one checkout
    builds it once; written to a temp dir and renamed into place."""
    from f1_datalakehouse_pipeline_spark.plans import pipeline as pl
    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

    tmp = cache_dir + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    bronze = os.path.join(tmp, "bronze")
    gps = generate_bronze(bronze, HISTORY_SEED, [*HISTORY_YEARS, SEASON], N_GP, N_LAPS)
    held = [g for g in gps if g.year == SEASON and g.rnd > N_GP - HELD_BACK]
    for g in held:
        for d in gp_partitions(bronze, g):
            shutil.rmtree(d)
    store = TableStore(spark, os.path.join(tmp, "warehouse"))
    for year in (*HISTORY_YEARS, SEASON):
        pl.run_bronze_to_silver(spark, bronze, store, mode=pl.HISTORICAL, year=year)
        pl.run_silver_to_gold(spark, store, mode=pl.HISTORICAL, year=year)
    with open(os.path.join(tmp, "gps.json"), "w") as fh:
        json.dump([g.__dict__ for g in gps if g not in held], fh)
    _repoint_links(tmp, os.path.realpath(tmp), os.path.abspath(cache_dir))
    os.rename(tmp, cache_dir)


def _repoint_links(root: str, old: str, new: str) -> None:
    """TableStore's live table paths are absolute symlinks into its
    ``.versions`` dir; move the ones under ``old`` to ``new``."""
    for dirpath, dirnames, files in os.walk(root):
        for n in dirnames + files:
            p = os.path.join(dirpath, n)
            if os.path.islink(p):
                target = os.readlink(p)
                if target.startswith(old + os.sep):
                    os.unlink(p)
                    os.symlink(new + target[len(old):], p)


def _link_tree(src: str, dst: str) -> None:
    """Hardlink copy of a warehouse or bronze tree (no data is copied)."""
    src, dst = os.path.realpath(src), os.path.abspath(dst)
    shutil.copytree(src, dst, symlinks=True, copy_function=os.link)
    _repoint_links(dst, src, dst)


class GpIncremental(Workload):
    name = "gp_incremental"
    # two samples: the second landing of a JVM alone spread 30% run to run
    min_ops = max_ops = 2

    def prepare(self) -> None:
        cache = history_cache_dir(os.path.join(os.path.dirname(self.dir), "cache"))
        if not os.path.isdir(cache):
            # built by a child process so this run's set-up starts cold
            subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                            "--build-history", cache], check=True)
        self.bronze = os.path.join(self.dir, "bronze")
        self.wh = os.path.join(self.dir, "warehouse")
        _link_tree(os.path.join(cache, "bronze"), self.bronze)
        _link_tree(os.path.join(cache, "warehouse"), self.wh)
        with open(os.path.join(cache, "gps.json")) as fh:
            self.landed = [GrandPrix(**d) for d in json.load(fh)]
        staging = os.path.join(self.dir, "staging")
        season = generate_bronze(staging, self.seed, [SEASON], N_GP, N_LAPS)
        self.pending = [g for g in season if g.rnd > N_GP - HELD_BACK]
        self.staging = staging
        self.input_bytes = sum(g.bronze_bytes for g in self.landed + self.pending)

    def _land(self, spark) -> None:
        """One Grand Prix lands in bronze; auto-detect it, INCREMENTAL
        bronze->silver (SCD2 driver merge included), the silver quality gate,
        then INCREMENTAL silver->gold."""
        from f1_datalakehouse_pipeline_spark.plans import pipeline as pl
        from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

        gp = self.pending.pop(0)
        move_gp(self.staging, self.bronze, gp)
        self.landed.append(gp)
        store = TableStore(spark, self.wh)
        rep = pl.run_bronze_to_silver(spark, self.bronze, store, mode=pl.INCREMENTAL, year=SEASON)
        if rep.grand_prix != gp.slug:
            raise RuntimeError(f"detected {rep.grand_prix!r}, landed {gp.slug!r}")
        # the quality gate before gold is published: only the planted
        # points mismatches may show
        got = {c.name: c.violations for c in pl.validate_silver(store)}
        want = {k: 0 for k in got}
        want["points_reconciliation"] = sum(g.points_mismatch for g in self.landed)
        if got != want:
            raise RuntimeError(f"validate_silver: {got}, expected {want}")
        gold = pl.run_silver_to_gold(spark, store, mode=pl.INCREMENTAL, year=SEASON,
                                     grand_prix=rep.grand_prix)
        bad = {t: r for t, r in {**rep.results, **gold.results}.items() if r != "ok"}
        if bad:
            raise RuntimeError(f"transforms failed: {bad}")

    def warm_up(self, spark) -> None:
        self._land(spark)

    def run_op(self, spark) -> None:
        self._land(spark)

    def stored_bytes(self) -> int:
        return disk_bytes(self.wh)

    def check(self, spark, full: bool) -> list[str]:
        """Exact counts and DuckDB championship totals on every run; with
        ``full``, also the table-by-table match with a HISTORICAL rebuild
        of the same bronze (~25 s, so only traced runs and tests pay it)."""
        from pyspark.sql import functions as F

        from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

        test = TableStore(spark, self.wh)
        errors = self._check_historical(spark, test) if full else []
        season = [g for g in self.landed if g.year == SEASON]
        n_drivers = 20
        expect = {
            "laps_silver": sum(g.laps for g in season),
            "pitstops_silver": sum(g.pit_valid for g in season),
            "championship_tracker": len(season) * n_drivers,
        }
        for t, n in expect.items():
            self.attempted_checks += 1
            got = test.read(t).filter(F.col("year") == SEASON).count()
            if got != n:
                errors.append(f"{t}: {got} rows for {SEASON}, expected {n}")
        self.attempted_checks += 1
        cur = test.read("drivers_silver").filter("is_current").groupBy("driver_number").count().collect()
        if len(cur) != n_drivers or any(r["count"] != 1 for r in cur):
            errors.append(f"drivers_silver: expected one current row for each of {n_drivers} drivers")

        self.attempted_checks += 1
        errors += self._check_points(test)
        return errors

    def _check_historical(self, spark, test) -> list[str]:
        """Every table of the season against a HISTORICAL rebuild."""
        from pyspark.sql import functions as F

        from f1_datalakehouse_pipeline_spark.plans import pipeline as pl
        from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

        errors = []
        ref = TableStore(spark, os.path.join(self.dir, "reference"))
        pl.run_bronze_to_silver(spark, self.bronze, ref, mode=pl.HISTORICAL, year=SEASON)
        pl.run_silver_to_gold(spark, ref, mode=pl.HISTORICAL, year=SEASON)

        def digest(store, table):
            df = store.read(table)
            if table == "drivers_silver":
                df = df.filter("is_current").select(*DRIVER_COLS)
            else:
                df = df.filter(F.col("year") == SEASON).drop("created_timestamp", "updated_timestamp")
            cols = sorted(df.columns)
            return tuple(df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first())

        for t in (*TABLES_SILVER, "drivers_silver", *TABLES_GOLD):
            self.attempted_checks += 1
            a, b = digest(test, t), digest(ref, t)
            if a != b or a[0] == 0:
                errors.append(f"{t}: incremental (rows, hash) {a} != historical {b}")
        return errors

    def _check_points(self, store) -> list[str]:
        """Final championship totals against a DuckDB sum over bronze."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        glob = os.path.join(self.bronze, "session_result", f"year={SEASON}", "*",
                            "session_type=race", "*.parquet")
        cases = " ".join(f"WHEN {p} THEN {pts}" for p, pts in enumerate((25, 18, 15, 12, 10, 8, 6, 4, 2, 1), 1))
        want = dict(duckdb.sql(
            f"SELECT driver_number, SUM(CASE position {cases} ELSE 0 END) "
            f"FROM read_parquet('{glob}') GROUP BY 1").fetchall())
        last = Window.partitionBy("driver_number").orderBy(F.col("race_date").desc())
        got = {
            r["driver_number"]: int(r["season_points_total"])
            for r in store.read("championship_tracker").filter(F.col("year") == SEASON)
            .withColumn("rn", F.row_number().over(last)).filter("rn = 1").collect()
        }
        return [] if got == {int(k): int(v) for k, v in want.items()} else [
            f"championship totals {got} != bronze sums {want}"]


# -- corpus_build -------------------------------------------------------------


class CorpusBuild(Workload):
    name = "corpus_build"
    n_docs = 2_000

    def prepare(self) -> None:
        self.docs = os.path.join(self.dir, "docs", "corpus.parquet")
        self.truth = generate_corpus(self.docs, self.seed, self.n_docs)
        self.input_bytes = self.truth.input_bytes
        self.out = os.path.join(self.dir, "shards")
        self.reports: list = []

    def _build(self, spark) -> None:
        from f1_datalakehouse_pipeline_spark.plans import corpus

        self.reports.append(corpus.run_corpus_pipeline(spark, spark.read.parquet(self.docs), self.out))

    def warm_up(self, spark) -> None:
        # the same corpus: a smaller one leaves the first timed build
        # ~25% slower and its time noisy
        self._build(spark)

    def run_op(self, spark) -> None:
        self._build(spark)

    def stored_bytes(self) -> int:
        return disk_bytes(self.out)

    def check(self, spark, full: bool) -> list[str]:
        errors = []
        t = self.truth
        for rep in self.reports:
            self.attempted_checks += 1
            want = {"raw": t.docs_in, "after_quality": t.docs_after_quality,
                    "after_exact_dedup": t.docs_after_exact, "after_near_dedup": t.docs_after_near,
                    "chunks": t.chunks}
            got = {k: rep.counts.get(k) for k in want}
            shard_rows = sum(m["n_rows"] for m in rep.shard_manifest)
            if got != want or rep.audit_violations or shard_rows != t.chunks:
                errors.append(f"corpus counts {got} (shards {shard_rows}, audit "
                              f"{rep.audit_violations}) != planted {want}")
        return errors


WORKLOADS = {w.name: w for w in (GpIncremental, CorpusBuild)}
