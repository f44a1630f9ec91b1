"""Plan-shape regression tests: the optimizations PERF_NOTES claims must be
visible in the physical plan, not just intended."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark import registry


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    q = registry.queries()["a6_pricing_summary"](spark, sf_dir)
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 referenced columns — l_orderkey absent
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_star_join_broadcasts_dims(spark, sf_dir):
    q = registry.queries()["j4_star_join_revenue"](spark, sf_dir)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bronze_partition_pruning(spark, tmp_path):
    """Partition-column filters must prune at the source (S3 semantics)."""
    from f1_datalakehouse_pipeline_spark.sources.bronze import read_bronze

    df = spark.range(20).select(
        F.col("id"),
        (F.col("id") % 2 + 2024).cast("int").alias("year"),
        F.when(F.col("id") % 2 == 0, "monaco").otherwise("miami").alias("grand_prix"),
        F.lit("race").alias("session_type"),
    )
    root = str(tmp_path / "bronze")
    df.write.partitionBy("year", "grand_prix", "session_type").parquet(f"{root}/laps")

    scan = read_bronze(spark, root, "laps", year=2024, grand_prix="monaco")
    plan = plan_of(scan)
    assert "PartitionFilters" in plan
    assert "year" in plan.split("PartitionFilters")[1][:200]
    assert scan.count() == 10


def test_window_stack_shares_partitioning(spark, sf_dir):
    """The championship window stack must not re-shuffle for the second
    mon-window (rank + max share one exchange)."""
    q = registry.queries()["w4_w6_w7_championship"](spark, sf_dir)
    plan = plan_of(q)
    # 3 logical partitionings (groupBy, custkey-window, mon-windows) ⇒ at most
    # 3 shuffle exchanges in the final plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, f"window stack re-shuffles: {n_exchanges} exchanges"


def test_compact_preserves_data(spark, tmp_path):
    import glob as g

    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore, compact

    from f1_datalakehouse_pipeline_spark.schemas import conform

    store = TableStore(spark, str(tmp_path / "wh"))
    df = conform(
        spark.range(100).select(
            F.col("id").cast("long").alias("session_key"),
            F.lit(2025).alias("year"),
            F.when(F.col("id") % 2 == 0, "monaco").otherwise("miami").alias("grand_prix_name"),
            F.lit("race").alias("session_type"),
            F.lit("GP").alias("meeting_name"),
            F.lit(None).cast("long").alias("meeting_key"),
            F.lit("2025-03-01 14:00:00").cast("timestamp").alias("date_start"),
            F.lit("2025-03-01 16:00:00").cast("timestamp").alias("date_end"),
            F.lit(False).alias("is_sprint_weekend"),
        ),
        "sessions_silver",
        allow_missing=True,
    ).repartition(8)
    store.overwrite(df, "sessions_silver")
    before = sorted(map(tuple, store.read("sessions_silver").collect()))
    n_files_before = len(g.glob(str(tmp_path / "wh/sessions_silver/**/*.parquet"), recursive=True))
    compact(store, "sessions_silver", target_partitions=1)
    after = sorted(map(tuple, store.read("sessions_silver").collect()))
    n_files_after = len(g.glob(str(tmp_path / "wh/sessions_silver/**/*.parquet"), recursive=True))
    assert before == after
    assert n_files_after < n_files_before


def test_schema_evolution_read(spark, tmp_path):
    """Files written before a registry column existed read back with typed
    NULL backfill (no rewrite) — Iceberg-style add-column evolution on
    plain parquet."""
    from f1_datalakehouse_pipeline_spark.schemas import ALL_SCHEMAS
    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    full = ALL_SCHEMAS["pitstops_silver"]
    evolved = {"pit_duration", "positions_lost_gained", "undercut_attempt",
               "safety_car_stop", "tire_compound_old", "tire_compound_new",
               "created_timestamp", "updated_timestamp"}
    old_cols = [f.name for f in full.fields if f.name not in evolved]

    # simulate pre-evolution files: write WITHOUT the evolved column by
    # bypassing conform (raw parquet into the table dir)
    df = spark.createDataFrame(
        [(1, 2025, "monaco", 44, 12)],
        ["session_key", "year", "grand_prix_name", "driver_number", "lap_number"],
    ).select(*old_cols)
    df.write.partitionBy("year", "grand_prix_name").parquet(store.path("pitstops_silver"))

    out = store.read("pitstops_silver", conformed=True)
    assert [f.name for f in out.schema.fields] == [f.name for f in full.fields]
    row = out.collect()[0]
    assert row.pit_duration is None and row.driver_number == 44

    # strict mode refuses silently-missing columns
    import pytest as _pytest

    from f1_datalakehouse_pipeline_spark.schemas import conform

    with _pytest.raises(ValueError, match="pit_duration"):
        conform(df, "pitstops_silver")


def test_get_spark_disables_dataframe_call_site_capture(spark):
    """Call-site capture adds py4j round trips to every Column call (F.col:
    14 instead of 3); the engine's sessions run with it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_get_spark_sizes_codegen_cache_for_a_landing(spark):
    """One Grand Prix landing generates about 278 classes; Spark's default
    generated-code cache (100) would evict them all between landings."""
    from f1_datalakehouse_pipeline_spark.session import DEFAULT_CONFS

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == DEFAULT_CONFS[key] == "1000"


def _column_api_conform(df, table, allow_missing=False):
    """The per-field Column projection ``schemas.conform`` replaced."""
    from f1_datalakehouse_pipeline_spark.schemas import ALL_SCHEMAS

    cols = []
    for f in ALL_SCHEMAS[table].fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif allow_missing:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def test_conform_matches_column_api_projection(spark):
    """For every registry table the string-built projection gives the same
    schema (names, types, nullability) and the same values as per-field
    Column casts — from string inputs (cast may fail: nullable) and from
    non-null typed literals, with and without allow_missing."""
    from pyspark.sql.types import (
        BooleanType, DateType, DecimalType, DoubleType, IntegerType, LongType,
        TimestampType,
    )

    from f1_datalakehouse_pipeline_spark.schemas import ALL_SCHEMAS, conform

    def text(t):
        if isinstance(t, TimestampType):
            return "2025-03-01 14:00:00"
        if isinstance(t, DateType):
            return "2025-03-01"
        if isinstance(t, BooleanType):
            return "true"
        if isinstance(t, (DecimalType, DoubleType)):
            return "1.25"
        if isinstance(t, (IntegerType, LongType)):
            return "7"
        return "x"

    for table, schema in ALL_SCHEMAS.items():
        as_text = spark.range(2).select(
            *[F.when(F.col("id") == 0, F.lit(text(f.dataType))).alias(f.name)
              for f in schema.fields]
        )
        typed = spark.range(1).select(
            *[F.lit(text(f.dataType)).cast(f.dataType).alias(f.name)
              for f in schema.fields]
        )
        for src in (as_text, typed):
            old, new = _column_api_conform(src, table), conform(src, table)
            assert new.schema == old.schema, table
            assert new.collect() == old.collect(), table
            # schema evolution: every other column absent → typed NULLs
            part = src.select(*[f.name for f in schema.fields][::2])
            old = _column_api_conform(part, table, allow_missing=True)
            new = conform(part, table, allow_missing=True)
            assert new.schema == old.schema, table
            assert new.collect() == old.collect(), table


def test_bucketed_join_plans_no_exchange(spark, tmp_path):
    """Tables bucketed on the join key must join WITHOUT a shuffle: the
    catalog's bucket spec satisfies the join's required distribution, so the
    physical plan has zero Exchange nodes (and with sortBy, zero Sorts on the
    bucketed side). This is the write-once-join-many amortization for fact
    tables at scale."""
    from f1_datalakehouse_pipeline_spark.sources.bucketed import read_bucketed, save_bucketed

    a = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    b = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb")
    )
    save_bucketed(a, "bk_a", ["k"], 8, sort_cols=["k"], path=str(tmp_path / "bk_a"))
    save_bucketed(b, "bk_b", ["k"], 8, sort_cols=["k"], path=str(tmp_path / "bk_b"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_bucketed(spark, "bk_a").join(read_bucketed(spark, "bk_b"), "k")
            plan = plan_of(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert joined.count() == 10000

            # aggregation on the bucket key is exchange-free too
            agg = read_bucketed(spark, "bk_a").groupBy("k").agg(F.sum("va"))
            assert "Exchange" not in plan_of(agg)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bronze_corrupt_file_tolerance(spark, tmp_path):
    from f1_datalakehouse_pipeline_spark.sources.bronze import read_bronze

    import pytest as _pytest

    df = spark.range(10).select(
        F.col("id"),
        F.lit(2025).alias("year"),
        F.lit("monaco").alias("grand_prix"),
        F.lit("race").alias("session_type"),
    )
    root = str(tmp_path / "bronze")
    df.write.partitionBy("year", "grand_prix", "session_type").parquet(f"{root}/laps")
    # a half-uploaded object lands next to the good files
    import glob as g
    leaf = g.glob(f"{root}/laps/year=2025/grand_prix=monaco/session_type=race")[0]
    with open(f"{leaf}/part-corrupt.parquet", "wb") as f:
        f.write(b"this is not parquet at all")

    with _pytest.raises(Exception):
        read_bronze(spark, root, "laps", year=2025).count()
    out = read_bronze(spark, root, "laps", year=2025, tolerate_corrupt=True)
    assert out.count() == 10


def test_tpch_q10_uses_take_ordered_and_broadcasts(spark, sf_dir):
    q = registry.queries()["tpch_q10_returned_items"](spark, sf_dir)
    plan = plan_of(q)
    assert "TakeOrderedAndProject" in plan  # top-20 without a full sort
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_tpch_q18_single_exchange(spark, sf_dir):
    import re as _re

    q = registry.queries()["tpch_q18_large_orders"](spark, sf_dir)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    n_ex = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 1, f"expected the single groupBy exchange, got {n_ex}"


def test_r3_star_queries_broadcast_only(spark, sf_dir):
    """q7 (dual-role nation dim) and q8 (6-dim star) must plan every dim
    edge as a broadcast join — zero SortMergeJoin, one shuffle (the final
    aggregate)."""
    import re

    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        plan = plan_of(registry.queries()[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_ex <= 1, (name, n_ex)


def test_w18_both_frames_share_one_exchange(spark, sf_dir):
    """first_value (head frame) and last_value (tail frame) partition on the
    same key: Catalyst must plan exactly one shuffle."""
    import re

    plan = plan_of(registry.queries()["w18_first_last_value"](spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex == 1, n_ex


def test_j12_anti_join_zero_exchanges(spark, sf_dir):
    """NOT EXISTS ≙ broadcast anti join: status filter pushed to the scan,
    no shuffle anywhere."""
    import re

    plan = plan_of(registry.queries()["j12_not_exists_anti"](spark, sf_dir))
    assert "EqualTo(o_orderstatus,F)" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_ohlc_single_hash_aggregate_exchange(spark, sf_dir):
    """Hourly OHLC is one hash aggregate: a single exchange on the group
    keys, no window/sort operators at all."""
    import re

    plan = plan_of(registry.queries()["ts_resample_ohlc"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" not in plan


def test_contamination_join_not_cartesian(spark, sf_dir):
    """The contamination join must be an equi-join on the gram hash —
    never a nested-loop/cartesian plan."""
    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    plan = plan_of(
        dedup.contamination_pairs(train, test, "doc_id", "text", k=8)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_splice_is_single_pass(spark, sf_dir):
    """The splice must emit all stint branches from ONE projection over the
    joined frame (array+explode), not a 4-branch union that recomputes the
    join per branch: each input is scanned exactly once and the exchange
    count stays bounded (the r3 form planned 8 scans / 13 exchanges)."""
    import re

    plan = plan_of(registry.queries()["scd2_splice_backdated"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan[:500]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 5
    assert "Generate" in plan  # the explode emitting all branches at once


def test_novelty_probe_not_cartesian_and_no_history_self_join(spark, sf_dir):
    """The incremental novelty probe must be equi-joins only (band bucket +
    shingle hash) — no cartesian/nested-loop — and the history side must be
    scanned for indexing, never self-joined."""
    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    plan = plan_of(
        dedup.incremental_neardup_pairs(history, batch, "doc_id", "text", threshold=0.2)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_is_pure_projection(spark, sf_dir):
    """The PII scrub query is a single scan → project: zero shuffle
    exchanges, zero joins — the shape a 100 TB map-only pass needs."""
    from f1_datalakehouse_pipeline_spark.registry import queries

    plan = plan_of(queries()["t_pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats_two_aggregates_no_python(spark, sf_dir):
    """Repetition stats: the only shuffles are the (doc,bigram) and (doc)
    aggregations plus the join back to the per-doc base — all
    map-side-combinable HashAggregates, no Python evaluation."""
    from f1_datalakehouse_pipeline_spark.registry import queries

    plan = plan_of(queries()["t_repetition_quality"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # both aggregation levels are hash aggregates (partial + final pairs)
    assert plan.count("HashAggregate") >= 4


def test_chunking_zero_exchanges(spark, sf_dir):
    """Document chunking must be a pure map pipeline: scan → project →
    explode, no shuffles. (The registry query adds a verify-harness
    repartition via spread(); the operator itself is exchange-free.)"""
    from f1_datalakehouse_pipeline_spark.operators.textstats import chunk_documents
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(chunk_documents(docs, "doc_id", "text"))
    assert plan.count("Exchange") == 0
    assert "Generate" in plan  # the explode


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs predicate must yield derived partial filters pushed
    below the join on BOTH sides (lineitem quantity ranges, part
    brand/size), not a post-join-only filter."""
    plan = plan_of(registry.queries()["tpch_q19_disjunctive_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # lineitem side: quantity range disjunction reaches the scan
    assert "l_quantity" in plan.split("PushedFilters")[1][:400] or \
           "l_quantity" in [seg[:400] for seg in plan.split("PushedFilters")[1:]][0]
    # part side: brand disjunction reaches its scan
    part_scan = [seg for seg in plan.split("PushedFilters") if "p_brand" in seg[:500]]
    assert part_scan, "no pushed filter mentioning p_brand on the part scan"


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_dir):
    """Big-big joins (too large to broadcast) get a runtime bloom filter
    derived from the selective side and applied on the fact scan
    (might_contain), cutting shuffle volume before the SortMergeJoin. The
    conf is on by default; local testdata sits under the size thresholds
    that gate it at production scale, so the test lowers them to prove the
    injection path works end-to-end."""
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    def restore():
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        plan = plan_of(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        assert "SortMergeJoin" in plan
        # correctness unaffected: bloom-filtered SMJ result equals the
        # default broadcast-join result
        bloomed = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
            .collect()
        )
        restore()
        plain = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
            .collect()
        )
        assert bloomed == plain and len(plain) == 1
    finally:
        restore()


def test_domain_mix_windows_never_partition_on_domain_alone(spark, sf_dir):
    """budgeted_mixture's scale claim: every Window in the plan partitions on
    (domain, hash-bucket) — the naive per-domain window (one task per domain)
    must not appear on the data-sized side. The only domain-only window runs
    over the tiny per-bucket aggregate table, which is bounded by
    |domains| x n_buckets rows, and is ordered by __bucket (not the hash)."""
    q = registry.queries()["t_domain_mix"](spark, sf_dir)
    plan = plan_of(q)
    windows = [
        seg.split("\n")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert windows, "expected window specs in the mixture plan"
    data_sized = [w for w in windows if "__h" in w]  # per-doc running sum
    assert data_sized, "expected the within-bucket running-sum window"
    for w in data_sized:
        assert "__bucket" in w, f"doc-level window partitioned by domain alone: {w}"


def test_repeat_mixture_map_only(spark, sf_dir):
    """Upsampling must be a pure projection + generator: zero exchanges."""
    q = registry.queries()["t_repeat_mixture"](spark, sf_dir)
    plan = plan_of(q)
    assert plan.count("Exchange") == 0
    assert "Generate" in plan  # the explode


def test_bucketed_novelty_index_verify_join_no_index_exchange(spark, tmp_path):
    """With shingle_buckets set, the novelty verify join must read the
    shingles index pre-partitioned: the index-side scan shows the bucket
    spec and NO Exchange sits between it and the join — only the
    (batch-sized) probe side shuffles (VERDICT r4 item 3). The unbucketed
    layout shuffles BOTH sides under the same config, which is the
    corpus-sized exchange this layout deletes at 100 TB."""
    import re

    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _append_index,
        _read_index,
        _shingles_table_name,
    )

    docs = spark.createDataFrame(
        [(i, f"history doc {i} alpha beta gamma delta epsilon tok{i % 50} zeta") for i in range(400)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10_000 + i, f"history doc {i} alpha beta gamma delta epsilon tok{i % 50} zeta") for i in range(40)],
        ["doc_id", "text"],
    )
    idx_path = str(tmp_path / "nov_idx")
    idx = dedup.minhash_band_index(docs, "doc_id", "text")
    try:
        _append_index(idx_path, idx, shingle_buckets=8)
        loaded = _read_index(spark, idx_path)
        assert loaded is not None

        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            pairs = dedup.novelty_pairs(batch, loaded, "doc_id", "text", threshold=0.5)
            plan = plan_of(pairs)
            tree = plan.split("\n\n")[0]
            needle = _shingles_table_name(idx_path)
            # the index-side scan is the catalog bucketed table, read with
            # its bucket spec (not a plain path scan)
            assert needle in tree, tree
            assert re.search(r"Bucketed: true", plan), plan
            # …and the ANCESTOR CHAIN from that scan up to its join contains
            # no Exchange: walk the tree text upward following strictly
            # decreasing branch-marker indentation.
            lines = tree.splitlines()
            scan_i = next(i for i, l in enumerate(lines) if needle in l)

            def marker_pos(line: str) -> int:
                cands = [p for p in (line.find("+- "), line.find(":- ")) if p >= 0]
                return min(cands) if cands else -1

            cur = marker_pos(lines[scan_i])
            ancestors = []
            for line in reversed(lines[:scan_i]):
                p = marker_pos(line)
                if p < cur:
                    ancestors.append(line)
                    cur = p
                    if "Join" in line or p == -1:
                        break
            assert any("SortMergeJoin" in l for l in ancestors), ancestors
            assert not any("Exchange" in l for l in ancestors), (
                "Exchange above bucketed shingles scan:\n" + "\n".join(ancestors)
            )
            # correctness unchanged: every batch doc matches its history twin
            assert pairs.count() >= 40
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_shingles_table_name(idx_path)}")


def test_token_id_encoding_pure_projection(spark, sf_dir):
    """Vocabulary id encoding + posexplode must plan as scan → project →
    generate: zero exchanges, no Python evaluation."""
    from f1_datalakehouse_pipeline_spark import registry

    qs = registry.queries()
    plan = plan_of(qs["t_token_ids"](spark, sf_dir))
    assert plan.count("Exchange") == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the posexplode


def test_semantic_dedup_assignment_map_only_and_pairs_not_cartesian(spark, sf_dir):
    """SemDeDup shape: centroid assignment is a pure projection (zero
    exchanges — the centroid matrix is a literal), and the within-cluster
    pair stage plans as an equi-join on cluster_id, never a nested-loop or
    cartesian plan."""
    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [list(r[0]) for r in emb.filter(F.col("vec_id") < 4)
             .orderBy("vec_id")
             .select(F.col("embedding").cast("array<double>")).collect()]

    asg_plan = plan_of(dedup.semantic_cluster_assign(emb, "vec_id", "embedding", cents))
    assert asg_plan.count("Exchange") == 0, asg_plan
    assert "BatchEvalPython" not in asg_plan and "ArrowEvalPython" not in asg_plan

    flags_plan = plan_of(dedup.semantic_dedup_flags(emb, "vec_id", "embedding", cents, 0.3))
    assert "CartesianProduct" not in flags_plan
    assert "BroadcastNestedLoopJoin" not in flags_plan


def test_r6_final_tpch_shapes(spark, sf_dir):
    """The seven late-r6 TPC-H shapes (q2/q4/q9/q11/q12/q16/q20) must keep
    the plan properties their docstrings claim: no cartesian product other
    than q11's 1-row scalar broadcast, no SortMergeJoin anywhere (q2/q20's
    two-granularity aggregates are window rewrites, q4/q12's fact joins are
    key-equi under AQE, dims broadcast), and every scan carries pushed
    filters where a filter exists."""
    no_smj = [
        "tpch_q2_min_cost_supplier",
        "tpch_q4_priority_count",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q12_late_priority",
        "tpch_q16_supplier_count",
        "tpch_q20_dominant_supplier",
    ]
    for name in no_smj:
        plan = plan_of(registry.queries()[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        if name != "tpch_q11_important_stock":
            # q11's BroadcastNestedLoopJoin is the 1-row scalar-threshold
            # broadcast — the standard scalar-subquery decorrelation
            assert "BroadcastNestedLoop" not in plan, name
        assert "BroadcastHashJoin" in plan, name

    # q2/q20: the two-granularity aggregate must be ONE window over the
    # grouped table, never a second scan — exactly one parquet scan of
    # lineitem in each plan (counted per-table, not an aggregate cap:
    # a duplicated fact scan must fail even if a dim scan is elided,
    # ADVICE r6)
    for name in ("tpch_q2_min_cost_supplier", "tpch_q20_dominant_supplier"):
        plan = plan_of(registry.queries()[name](spark, sf_dir))
        assert "Window" in plan, name
        # the formatted plan's detail blocks name each scan's Location —
        # count the blocks that are a parquet scan OF lineitem
        li_scans = sum(
            1
            for block in (b.strip() for b in plan.split("\n\n"))
            if block
            and "Scan parquet" in block.splitlines()[0]
            and "lineitem" in block
        )
        assert li_scans == 1, (name, li_scans)

    # q6-style pushdown on q12: the ship-window must reach the lineitem scan
    plan = plan_of(registry.queries()["tpch_q12_late_priority"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_quantized_search_plans_broadcast_only(spark, sf_dir):
    """The r8 quantized-search queries must keep the brute-force family's
    join discipline: the query side broadcasts (BNLJ for the != cross, the
    same shape sim_cosine_topk pins), and nothing degenerates into a
    SortMergeJoin."""
    for name in ("sim_sq8_quantized_topk", "sim_pq_adc_topk"):
        plan = plan_of(registry.queries()[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name


def test_mad_outliers_stats_broadcast_never_smj(spark, sf_dir):
    plan = plan_of(registry.queries()["ts_mad_outliers"](spark, sf_dir))
    # the per-type median/MAD stats are tiny: both joins must broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dq_expectations_one_scan_per_battery_table(spark, sf_dir):
    """Each expectations_for_table battery shares ONE scan regardless of
    check count (conditional counts in one aggregate), and the RI joins
    broadcast the keys-only parent projection."""
    plan = plan_of(registry.queries()["dq_expectations"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # lineitem appears exactly twice: the RI child scan + its battery scan
    assert plan.count("lineitem.parquet") == 2
    # events/documents: battery scan only
    assert plan.count("events.parquet") == 1
    assert plan.count("documents.parquet") == 1


def test_funnel_windows_share_one_exchange(spark, sf_dir):
    """The three stacked funnel windows AND the per-user aggregate must all
    ride ONE user_id exchange (the 50M interleaved A/B picked this form
    over the per-stage aggregate/join; docstring has the numbers), with
    the participating-type isin filter pushed to the scan."""
    plan = plan_of(registry.queries()["w19_funnel_stages"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan
    assert "In(event_type, [click,purchase,view])" in plan


def test_windowed_funnel_same_plan_shape_and_horizon_bites(spark, sf_dir):
    """w22 (time-bounded hops) must keep w19's plan: one user_id exchange,
    zero joins, pushed isin — the horizon is a pure comparison term inside
    the window CASE. And the horizon must BITE: the bounded stage-2/3
    counts sit strictly between 0 and the unbounded w19 counts (a horizon
    that never excludes a conversion would make the query w19 with a new
    name)."""
    plan = plan_of(registry.queries()["w22_funnel_windowed"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan
    assert "In(event_type, [click,purchase,view])" in plan
    bounded = {r.stage: r.users for r in registry.queries()["w22_funnel_windowed"](spark, sf_dir).collect()}
    unbounded = {r.stage: r.users for r in registry.queries()["w19_funnel_stages"](spark, sf_dir).collect()}
    assert bounded["1_view"] == unbounded["1_view"]
    assert 0 < bounded["2_click_within_2d"] < unbounded["2_click_after_view"]
    assert bounded["3_purchase_within_3d"] < unbounded["3_purchase_after_click"]


def test_cohort_retention_single_user_exchange_no_join(spark, sf_dir):
    plan = plan_of(registry.queries()["a21_cohort_retention"](spark, sf_dir))
    # first-activity via window, not a groupBy+join back onto the fact
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
