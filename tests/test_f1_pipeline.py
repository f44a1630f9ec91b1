"""End-to-end medallion pipeline tests: bronze fixtures → silver → gold.

Covers the FIXTURES.md §5 oracle targets and SURVEY §5.2 invariants:
points validation, SCD2 stint shape, championship monotonicity/tie-breaks,
gap clamps, finisher+DNF accounting, fastest-lap tie-break, pit filters,
and INCREMENTAL idempotence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.plans.pipeline import (
    HISTORICAL,
    INCREMENTAL,
    run_bronze_to_silver,
    run_silver_to_gold,
    validate_silver,
)
from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

import fixtures_f1 as fx


@pytest.fixture(scope="module")
def lakehouse(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    bronze = str(root / "bronze")
    fx.generate_bronze(bronze)
    store = TableStore(spark, str(root / "warehouse"))
    rep_s = run_bronze_to_silver(spark, bronze, store, mode=HISTORICAL, year=fx.YEAR)
    rep_g = run_silver_to_gold(spark, store, mode=HISTORICAL, year=fx.YEAR)
    return dict(bronze=bronze, store=store, rep_s=rep_s, rep_g=rep_g)


def test_all_transforms_succeeded(lakehouse):
    assert all(v == "ok" for v in lakehouse["rep_s"].results.values()), lakehouse["rep_s"].results
    assert all(v == "ok" for v in lakehouse["rep_g"].results.values()), lakehouse["rep_g"].results


def test_sessions_silver(lakehouse):
    s = lakehouse["store"].read("sessions_silver")
    rows = {(r.grand_prix_name, r.session_type): r for r in s.collect()}
    assert len(rows) == fx.N_GP * 2
    # GP-name normalization incl. suffix strip; sprint detection
    assert ("sao_paulo", "race") in rows
    assert rows[("miami", "race")].is_sprint_weekend
    assert not rows[("monaco", "race")].is_sprint_weekend
    # NULL date_end ⇒ NULL duration (sessions_transform.py:225-229 path)
    assert rows[("sao_paulo", "qualifying")].session_duration_minutes is None
    assert rows[("bahrain", "race")].session_duration_minutes == 120
    assert rows[("bahrain", "race")].session_name == "Race Session"


def test_drivers_scd2(lakehouse):
    d = lakehouse["store"].read("drivers_silver")
    # team standardization applied
    teams = {r.team_name for r in d.collect()}
    assert "Red Bull Racing" in teams and "Oracle Red Bull Racing" not in teams
    # exactly one current row per driver
    cur = d.filter("is_current").groupBy("driver_number").count().collect()
    assert len(cur) == fx.N_DRIVERS and all(r["count"] == 1 for r in cur)
    # the team-change driver has 2 stints, contiguous validity
    stints = sorted(
        d.filter(F.col("driver_number") == fx.TEAM_CHANGE_DRIVER).collect(),
        key=lambda r: r.valid_from,
    )
    assert len(stints) == 2
    assert stints[0].valid_to == stints[1].valid_from
    assert stints[1].is_current and not stints[0].is_current
    # total_races backfill (J3): every driver raced all fixture GPs
    d2 = lakehouse["store"].read("drivers_silver").filter("is_current")
    assert {r.total_races for r in d2.collect()} == {fx.N_GP}


def test_qualifying_silver(lakehouse):
    q = lakehouse["store"].read("qualifying_results_silver").filter(
        F.col("grand_prix_name") == "bahrain"
    )
    rows = {r.driver_number: r for r in q.collect()}
    assert len(rows) == fx.N_DRIVERS
    for r in rows.values():
        # Q-split: pos ≤ 10 has Q3, 11-15 only Q1/Q2, 16-20 only Q1
        if r.position <= 10:
            assert r.q3_time_millis is not None
            assert r.fastest_qualifying_time_millis == r.q3_time_millis
            assert r.qualifying_status in ("Q3", "DSQ")
        elif r.position <= 15:
            assert r.q3_time_millis is None and r.q2_time_millis is not None
        else:
            assert r.q2_time_millis is None and r.q1_time_millis is not None
            assert r.qualifying_status in ("Q1-OUT", "DSQ")
        assert r.gap_to_pole_millis >= 0
    # pole has gap 0
    assert min(r.gap_to_pole_millis for r in rows.values()) == 0


def test_race_results_points_and_status(lakehouse):
    rr = lakehouse["store"].read("race_results_silver")
    bahrain = {r.driver_number: r for r in rr.filter(F.col("grand_prix_name") == "bahrain").collect()}
    # validated points from position table — catches the deliberate +2 mismatches
    mismatches = [
        r for r in bahrain.values()
        if r.points is not None and r.position is not None and r.points != r.validated_points
    ]
    assert len(mismatches) == 2
    for r in bahrain.values():
        if r.position is not None and r.position <= 10:
            assert r.validated_points == fx.POINTS[r.position - 1]
        if r.standardized_status == "DNF":
            assert r.position is None
    # time formatting shape H:MM:SS.mmm
    some = next(r for r in bahrain.values() if r.time)
    assert len(some.time.split(":")) == 3


def test_laps_flags(lakehouse):
    laps = lakehouse["store"].read("laps_silver").filter(F.col("grand_prix_name") == "bahrain")
    # exactly one session-fastest, tie broken toward lower driver_number
    fastest = laps.filter("is_fastest_lap").collect()
    assert len(fastest) == 1 and fastest[0].driver_number == 1
    assert fastest[0].lap_number == fx.N_LAPS + 1
    # NULL sector ⇒ NULL lap time but sectors retained
    r = laps.filter((F.col("driver_number") == 5) & (F.col("lap_number") == 10)).collect()[0]
    assert r.lap_time_millis is None and r.sector_2_millis is None and r.sector_1_millis is not None
    # sector-sum fallback: NULL lap_duration rows still get a time
    timed = laps.filter(F.col("lap_time_millis").isNotNull()).count()
    assert timed == laps.count() - 1  # only the null-sector row is untimed
    # each driver has ≥1 personal best among timed laps
    pb = laps.filter("is_personal_best").groupBy("driver_number").count().collect()
    assert len(pb) == fx.N_DRIVERS


def test_pitstops_filtered(lakehouse):
    p = lakehouse["store"].read("pitstops_silver").filter(F.col("grand_prix_name") == "bahrain")
    n = p.count()
    assert n == fx.N_DRIVERS * 2 - 2  # NULL and zero rows dropped
    stats = p.agg(F.min("pit_duration"), F.max("pit_duration")).collect()[0]
    assert 20 < float(stats[0]) < float(stats[1]) < 36


def test_championship_tracker(lakehouse):
    ct = lakehouse["store"].read("championship_tracker")
    assert ct.count() > 0
    # per-driver season totals monotone over rounds
    pdf = ct.orderBy("driver_number", "round_number").toPandas()
    for _, g in pdf.groupby("driver_number"):
        totals = list(g.sort_values("round_number")["season_points_total"])
        assert totals == sorted(totals)
    # leader gap 0 each race; rank 1 exists; tie-break deterministic
    for _, g in pdf.groupby("round_number"):
        lead = g[g["championship_position"] == 1]
        assert (lead["points_gap_to_leader"].astype(float) == 0).all()
        assert g["season_points_total"].max() == lead["season_points_total"].iloc[0]


def test_race_weekend_insights(lakehouse):
    wi = lakehouse["store"].read("race_weekend_insights")
    rows = {r.grand_prix_name: r for r in wi.collect()}
    assert len(rows) == fx.N_GP
    for r in rows.values():
        assert r.field_size == fx.N_DRIVERS
        assert r.total_finishers + r.dnf_count <= r.field_size
        assert r.winner_driver_number is not None
        assert r.pole_driver_number is not None
    assert rows["miami"].is_sprint_weekend


def test_gold_quali_summary(lakehouse):
    g = lakehouse["store"].read("driver_performance_summary_qualifying")
    pdf = g.toPandas()
    assert (pdf[pdf["qualifying_position"] == 1]["gap_to_pole_seconds"].astype(float) == 0).all()
    assert (pdf["gap_to_pole_seconds"].astype(float) >= 0).all()
    assert (pdf[pdf["qualifying_position"] <= 10]["made_q3"]).all()


def test_incremental_idempotent(lakehouse, spark):
    """Re-running the last GP INCREMENTAL twice changes nothing (SURVEY §5.2.4)."""
    store = lakehouse["store"]
    bronze = lakehouse["bronze"]

    def snapshot():
        out = {}
        for t in ("sessions_silver", "race_results_silver", "drivers_silver", "championship_tracker"):
            df = store.read(t)
            # audit timestamps are re-stamped per run by design — exclude
            df = df.drop("created_timestamp", "updated_timestamp")
            out[t] = sorted(map(tuple, df.collect()))
        return out

    before = snapshot()
    for _ in range(2):
        rep = run_bronze_to_silver(spark, bronze, store, mode=INCREMENTAL, year=fx.YEAR)
        assert rep.grand_prix == "italian"  # auto-detected latest GP
        assert all(v == "ok" for v in rep.results.values()), rep.results
        run_silver_to_gold(spark, store, mode=INCREMENTAL, year=fx.YEAR, grand_prix=rep.grand_prix)
    after = snapshot()
    assert before == after


def test_quality_checks(lakehouse):
    from f1_datalakehouse_pipeline_spark import quality
    from f1_datalakehouse_pipeline_spark.schemas import SILVER_SCHEMAS

    store = lakehouse["store"]
    rr = store.read("race_results_silver")
    dim = store.read("drivers_silver")

    # invariants hold on the pipeline output
    assert quality.check_position_range(rr).count() == 0
    assert quality.check_points_range(rr).count() == 0
    assert quality.check_scd2_single_current(dim, "driver_number").count() == 0
    assert quality.check_scd2_contiguous(dim, "driver_number").count() == 0
    # reconciliation surfaces exactly the 2 fixture mismatches (bahrain GP)
    mism = quality.reconcile_points(rr)
    assert mism.count() == 2
    # schema diff is clean against the registry
    assert quality.schema_diff(rr, SILVER_SCHEMAS["race_results_silver"]) == {
        "missing": [], "extra": [], "type_mismatch": []
    }
    # run_checks collects everything in one pass
    results = quality.run_checks({
        "points_range": quality.check_points_range(rr),
        "points_reconciliation": mism,
    })
    by_name = {r.name: r for r in results}
    assert by_name["points_range"].violations == 0
    assert by_name["points_reconciliation"].violations == 2
    assert len(by_name["points_reconciliation"].sample) == 2


def test_multi_year_partition_isolation(lakehouse, spark):
    """A second season's HISTORICAL rebuild must not touch year-2025 data
    (year-scoped dynamic partition overwrite), and gold season stats stay
    per-year."""
    store = lakehouse["store"]
    bronze = lakehouse["bronze"]
    y2025_before = sorted(
        map(tuple, store.read("race_results_silver").filter(F.col("year") == fx.YEAR).collect())
    )

    fx.generate_bronze(bronze, year=2026)
    rep = run_bronze_to_silver(spark, bronze, store, mode=HISTORICAL, year=2026)
    assert all(v == "ok" for v in rep.results.values()), rep.results
    run_silver_to_gold(spark, store, mode=HISTORICAL, year=2026)

    y2025_after = sorted(
        map(tuple, store.read("race_results_silver").filter(F.col("year") == fx.YEAR).collect())
    )
    assert y2025_before == y2025_after
    # both years present and separately ranked in gold
    ct = store.read("championship_tracker")
    years = {r.year for r in ct.select("year").distinct().collect()}
    assert years == {2025, 2026}
    per_year_rounds = {
        r.year: r.n for r in ct.groupBy("year").agg(
            F.countDistinct("round_number").alias("n")
        ).collect()
    }
    assert per_year_rounds == {2025: fx.N_GP, 2026: fx.N_GP}


def test_gold_race_summary_consistent_with_championship(lakehouse):
    """season_points_total must agree between the two gold tables computing it."""
    store = lakehouse["store"]
    rs = store.read("driver_performance_summary_race").filter(F.col("year") == fx.YEAR)
    ct = store.read("championship_tracker").filter(F.col("year") == fx.YEAR)
    a = {
        (r.driver_number, r.round_number): r.season_points_total for r in rs.collect()
    }
    b = {
        (r.driver_number, r.round_number): r.season_points_total for r in ct.collect()
    }
    assert a == b
    # per-row points equal the validated silver points
    rr = store.read("race_results_silver").filter(F.col("year") == fx.YEAR)
    silver_pts = {
        (r.driver_number, r.grand_prix_name): r.validated_points for r in rr.collect()
    }
    for r in rs.collect():
        assert float(r.race_points) == float(silver_pts[(r.driver_number, r.grand_prix_name)])
        if r.grid_position is not None and r.finish_position is not None:
            assert r.positions_gained == r.grid_position - r.finish_position


def test_lap_analytics(lakehouse):
    """position_at_lap / gaps computed from cumulative lap times — the
    metrics the reference schema declares but never fills."""
    from f1_datalakehouse_pipeline_spark.plans.gold import transform_lap_analytics

    laps = lakehouse["store"].read("laps_silver").filter(
        (F.col("grand_prix_name") == "bahrain") & (F.col("year") == fx.YEAR)
    )
    la = transform_lap_analytics(laps).cache()
    pdf = la.toPandas()

    for (_, lap), g in pdf.groupby(["session_key", "lap_number"]):
        # positions are 1..n contiguous (rank over distinct elapsed is dense here)
        assert sorted(g["position_at_lap"]) == list(range(1, len(g) + 1))
        lead = g[g["position_at_lap"] == 1]
        assert (lead["gap_to_leader_millis"] == 0).all()
        assert lead["interval_to_ahead_millis"].isna().all()
        rest = g[g["position_at_lap"] > 1]
        assert (rest["gap_to_leader_millis"] > 0).all()
        assert (rest["interval_to_ahead_millis"] >= 0).all()
    # elapsed is monotone per driver
    for _, g in pdf.groupby(["session_key", "driver_number"]):
        e = list(g.sort_values("lap_number")["elapsed_millis"])
        assert e == sorted(e)


def test_constructor_championship(lakehouse):
    from f1_datalakehouse_pipeline_spark.plans.gold import transform_constructor_championship

    store = lakehouse["store"]
    cc = transform_constructor_championship(
        store.read("race_results_silver").filter(F.col("year") == fx.YEAR),
        store.read("sessions_silver").filter(F.col("year") == fx.YEAR),
        store.read("drivers_silver"),
    ).toPandas()
    # team totals = sum of its drivers' totals at final round
    ct = lakehouse["store"].read("championship_tracker").filter(
        F.col("year") == fx.YEAR
    ).toPandas()
    last = ct["round_number"].max()
    driver_final = ct[ct["round_number"] == last]
    team_from_drivers = (
        driver_final.groupby("team_name")["season_points_total"]
        .apply(lambda s: sum(map(float, s)))
        .to_dict()
    )
    cc_final = cc[cc["round_number"] == last]
    team_from_cc = {
        r.team_name: float(r.season_points_total) for r in cc_final.itertuples()
    }
    # every team in both; totals can differ ONLY for the team-change driver's
    # teams (driver points follow the driver's current team; constructor
    # points accrue to the team that scored them per race)
    moved = {fx.TEAMS_RAW[(fx.TEAM_CHANGE_DRIVER - 1) // 2],
             fx.TEAMS_RAW[(fx.TEAM_CHANGE_DRIVER - 1) // 2 + 1]}
    from f1_datalakehouse_pipeline_spark.functions.f1 import TEAM_NAME_MAP
    moved = {TEAM_NAME_MAP.get(t.lower(), t) for t in moved}
    for team, total in team_from_cc.items():
        if team not in moved:
            assert total == team_from_drivers.get(team, 0.0), team
    # rank/gap invariants
    for _, g in cc.groupby(["round_number"]):
        lead = g[g["championship_position"] == 1]
        assert (lead["points_gap_to_leader"].astype(float) == 0).all()


def test_weekend_biggest_mover(lakehouse):
    from f1_datalakehouse_pipeline_spark.plans.gold import weekend_biggest_mover

    store = lakehouse["store"]
    bm = weekend_biggest_mover(
        store.read("race_results_silver").filter(F.col("year") == fx.YEAR),
        store.read("qualifying_results_silver").filter(F.col("year") == fx.YEAR),
        store.read("sessions_silver").filter(F.col("year") == fx.YEAR),
        store.read("drivers_silver"),
    )
    rows = {r.grand_prix_name: r for r in bm.collect()}
    assert len(rows) == fx.N_GP  # one mover per weekend
    # cross-check one weekend by brute force
    rs = store.read("driver_performance_summary_race").filter(
        (F.col("grand_prix_name") == "bahrain") & (F.col("year") == fx.YEAR)
        & F.col("positions_gained").isNotNull()
    ).toPandas()
    best = rs.sort_values(["positions_gained", "driver_number"], ascending=[False, True]).iloc[0]
    assert rows["bahrain"].biggest_mover_driver_number == best["driver_number"]
    assert rows["bahrain"].positions_gained == best["positions_gained"]


def test_incremental_empty_scope_aborts_loudly(lakehouse, spark, tmp_path):
    """A GP slug matching no silver sessions must raise, not silently no-op
    (ADVICE r1: slug-normalization mismatch made incrementals vanish)."""
    import pytest as _pytest

    from f1_datalakehouse_pipeline_spark.plans.pipeline import run_bronze_to_silver
    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

    # aborts at the bronze path-pruned scan (glob matches no partition) or,
    # if bronze partitions existed but silver scope is empty, at the probe —
    # either way a loud ValueError naming the slug problem
    with _pytest.raises(ValueError, match="matched no .*(partitions|sessions)"):
        run_bronze_to_silver(
            spark, lakehouse["bronze"], lakehouse["store"], mode="INCREMENTAL",
            year=2025, grand_prix="nonexistent_gp",
        )


def test_incremental_scope_accepts_unnormalized_slug(lakehouse, spark):
    """An externally-supplied punctuated slug ('Sao-Paulo') scopes the same
    sessions as the canonical silver name (normalize-before-compare)."""
    from f1_datalakehouse_pipeline_spark.plans.pipeline import run_bronze_to_silver

    report = run_bronze_to_silver(
        spark, lakehouse["bronze"], lakehouse["store"], mode="INCREMENTAL",
        year=2025, grand_prix="Sao-Paulo",
    )
    assert report.results["sessions_silver"] == "ok"
    assert report.grand_prix == "sao_paulo"  # canonicalized at entry
    # and the bronze-side partition filter actually selected the GP's rows
    # (not a silent empty batch): the batch re-wrote real race results
    assert report.row_counts.get("race_results_silver", 0) > 0


def test_incremental_reads_each_bronze_scope_once(lakehouse, spark, monkeypatch):
    """After detection, an INCREMENTAL run reads each (endpoint,
    session_type) bronze scope once: the sessions transform and the
    qualifying/race transforms share one session_result read each."""
    from collections import Counter

    from f1_datalakehouse_pipeline_spark.plans import pipeline

    calls = Counter()
    real = pipeline.read_bronze

    def counting(spark_, root, endpoint, **kw):
        calls[(endpoint, kw.get("session_type"), kw.get("grand_prix"))] += 1
        return real(spark_, root, endpoint, **kw)

    monkeypatch.setattr(pipeline, "read_bronze", counting)
    rep = run_bronze_to_silver(spark, lakehouse["bronze"], lakehouse["store"],
                               mode=INCREMENTAL, year=fx.YEAR)
    assert all(v == "ok" for v in rep.results.values()), rep.results
    scoped = {k: n for k, n in calls.items() if k[2] is not None}
    assert scoped and all(n == 1 for n in scoped.values()), calls
    assert sum(calls.values()) == 6, calls  # detect + 5 scopes


def _old_run_checks(checks: dict, sample_n: int = 5) -> list:
    """The one-action-per-check gate validate_silver replaced."""
    out = []
    for name, df in checks.items():
        rows = df.limit(sample_n + 1).collect()
        n = df.count() if len(rows) > sample_n else len(rows)
        out.append((name, n, [r.asDict() for r in rows[:sample_n]]))
    return out


def test_validate_silver_matches_per_check_actions(lakehouse, spark, tmp_path):
    """The one-pass-per-table gate reports the same names, counts and
    samples as one action per check, on a copy of the fixture warehouse
    with violations planted in five of the six checks."""
    from f1_datalakehouse_pipeline_spark import quality
    from f1_datalakehouse_pipeline_spark.plans.pipeline import validate_silver

    src = lakehouse["store"]
    store = TableStore(spark, str(tmp_path / "planted"))
    rr = src.read("race_results_silver").withColumn(
        "position",
        F.when(F.col("driver_number") <= 7, F.lit(25)).otherwise(F.col("position")),
    )
    qr = src.read("qualifying_results_silver").withColumn(
        "gap_to_pole_millis",
        F.when(F.col("driver_number") == 4, F.lit(-1)).otherwise(F.col("gap_to_pole_millis")),
    )
    dim = src.read("drivers_silver")
    reopened = dim.filter(F.col("is_current") & (F.col("driver_number") == 3)).withColumn(
        "valid_from", F.col("valid_from") + F.expr("INTERVAL 1 DAY")
    )
    store.overwrite(rr, "race_results_silver")
    store.overwrite(qr, "qualifying_results_silver")
    store.overwrite(dim.unionByName(reopened), "drivers_silver")

    rr, qr, dim = (store.read(t) for t in
                   ("race_results_silver", "qualifying_results_silver", "drivers_silver"))
    want = _old_run_checks({
        "race_position_range": quality.check_position_range(rr),
        "race_points_range": quality.check_points_range(rr),
        "quali_gap_non_negative": quality.check_non_negative(qr, "gap_to_pole_millis"),
        "points_reconciliation": quality.reconcile_points(rr),
        "scd2_single_current": quality.check_scd2_single_current(dim, "driver_number"),
        "scd2_contiguous": quality.check_scd2_contiguous(dim, "driver_number"),
    })
    got = [(c.name, c.violations, c.sample) for c in validate_silver(store)]
    assert got == want
    counts = {name: n for name, n, _ in got}
    assert counts["race_position_range"] > 5  # past the sample: counted
    assert counts["points_reconciliation"] > 0  # the fixture's own mismatches
    assert counts["quali_gap_non_negative"] > 0
    assert counts["scd2_single_current"] == 1 and counts["scd2_contiguous"] == 1
    assert counts["race_points_range"] == 0


def test_python_gp_normalizer_matches_column_version(spark):
    """The pure-Python twin that canonicalizes a GP argument without a
    Spark job returns what the Column expression returns, Java regex and
    Spark ``trim`` semantics included."""
    import random

    from f1_datalakehouse_pipeline_spark.functions.names import (
        normalize_grand_prix_name,
        normalize_grand_prix_name_py,
    )

    names = [
        "São Paulo Grand Prix", "Emilia-Romagna GRAND PRIX", "Mexico City grand prix",
        "Gran Premio de México", "ŠKODA Žilina gRaNd PrIx", "Grand Prix", "grand prix grand prix",
        "Monaco Grand Prix  ", "  Monaco Grand Prix", "\tMonaco Grand Prix\n",
        "Monaco Grand\tPrix", "Monaco Grand Prix\r\n", "Monaco Grand Prix\u2028",
        "Monaco Grand Prix\u0085", "Monaco Grand Prix\u00a0", "Monaco\u00a0Grand Prix",
        "Monaco Grand Prix.", "Grand Prix of Europe", "70th Anniversary Grand Prix",
        "Magny-Cours", "Sao-Paulo", "--Miami--", "__x__", " _ ", "", "sao_paulo", "abu_dhabi",
    ]
    alphabet = ["Grand Prix", "grand", " prix", " ", "\t", "\n", "\r", "\u0085", "\u2028",
                "\u00a0", "é", "Ö", "ß", "-", "_", ".", "A", "z", "9"]
    rng = random.Random(0)
    names += ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8))) for _ in range(300)]

    got = [normalize_grand_prix_name_py(n) for n in names]
    rows = (
        spark.createDataFrame([(i, n) for i, n in enumerate(names)], "i int, n string")
        .select("i", normalize_grand_prix_name(F.col("n")).alias("g"))
        .collect()
    )
    want = [g for _, g in sorted(rows)]
    assert got == want
    assert normalize_grand_prix_name_py("São Paulo Grand Prix") == "sao_paulo"


def test_warm_incremental_landing_reuses_generated_code(lakehouse, spark):
    """Repeating one INCREMENTAL landing (bronze->silver, quality gate,
    silver->gold) compiles few classes once the codegen cache holds a whole
    landing; with Spark's default 100 entries every landing recompiled
    about 278."""
    store, bronze = lakehouse["store"], lakehouse["bronze"]
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for _ in range(3):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        rep = run_bronze_to_silver(spark, bronze, store, mode=INCREMENTAL, year=fx.YEAR)
        validate_silver(store)
        run_silver_to_gold(spark, store, mode=INCREMENTAL, year=fx.YEAR, grand_prix=rep.grand_prix)
        compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[2] < 60, compiles


def _cache_state(spark):
    """Cached plans, and the ids of persistent RDDs: ids, not a count, so the
    ContextCleaner freeing an earlier test's RDDs meanwhile cannot mask one
    this call left behind."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return cache_manager.numCachedEntries(), set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("call", ["gold", "gold_raises", "incremental_silver"])
def test_landing_releases_its_caches(lakehouse, spark, monkeypatch, call):
    """The inputs a landing persists are released on return and on raise,
    and a plan the caller had already cached stays cached."""
    from f1_datalakehouse_pipeline_spark.plans import gold

    store, bronze = lakehouse["store"], lakehouse["bronze"]
    # the plans silver->gold persists: cached by nobody before or after, so
    # a leak from an earlier landing (the fixture's) fails here too
    gold_inputs = [store.read(t).filter(F.col("year") == fx.YEAR)
                   for t in ("sessions_silver", "race_results_silver", "qualifying_results_silver")]
    assert not any(df.storageLevel.useMemory for df in gold_inputs)
    mine = store.read("drivers_silver").cache()
    mine.count()
    try:
        entries, rdds = _cache_state(spark)
        if call == "gold":
            rep = run_silver_to_gold(spark, store, mode=INCREMENTAL, year=fx.YEAR, grand_prix="italian")
            assert all(v == "ok" for v in rep.results.values()), rep.results
        elif call == "gold_raises":
            def boom(*args, **kwargs):
                raise RuntimeError("planted championship failure")

            monkeypatch.setattr(gold, "transform_championship_tracker", boom)
            with pytest.raises(RuntimeError, match="planted"):
                run_silver_to_gold(spark, store, mode=INCREMENTAL, year=fx.YEAR, grand_prix="italian")
        else:
            rep = run_bronze_to_silver(spark, bronze, store, mode=INCREMENTAL, year=fx.YEAR)
            assert all(v == "ok" for v in rep.results.values()), rep.results
        entries_after, rdds_after = _cache_state(spark)
        assert entries_after == entries and rdds_after <= rdds, (entries_after, rdds_after - rdds)
        assert not any(df.storageLevel.useMemory for df in gold_inputs)
        assert mine.storageLevel.useMemory
    finally:
        mine.unpersist()
