"""Scale-stress harness for the dedup paths (VERDICT r1, next-round item 6).

Generates deterministic scaled documents tables (factor x sf0.1's 5000 docs)
with BOUNDED near-dup structure, caches them as parquet under .scale_cache/,
and times the two heavyweight dedup operators end-to-end at each scale:

- minhash_lsh_pairs (signatures -> bands -> bucket join -> verify)
- ngram_jaccard_pairs (inverted-index self-join, with/without the
  max_doc_frequency hot-shingle cap)

Generator structure: each base doc yields ``factor`` variants; variants
2i/2i+1 share a salt and are near-dups of each other (one trailing token
apart), while every 3rd word carries the salt so k=3 word shingles NEVER
collide across salts — cluster size is capped at 2 regardless of factor, so
the true pair count grows linearly and any super-linear runtime is the
operator's fault, not the data's. A --boilerplate mode prepends a shared
unsalted header to every doc, manufacturing hot shingles that hit every
document — the worst case max_doc_frequency exists to cap.

Usage:
  python tools/scale_stress.py [--factors 10,100] [--boilerplate] [--big]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark import get_spark
from f1_datalakehouse_pipeline_spark.operators import dedup
from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_cache")
BOILERPLATE = (
    "permission is hereby granted free of charge to any person obtaining a copy "
    "of this software and associated documentation files to deal in the software "
    "without restriction"
)


def scaled_docs(
    spark: SparkSession, sf_dir: str, factor: int, boilerplate: bool = False
) -> DataFrame:
    """factor x the sf_dir documents table, deterministic, clusters of 2."""
    tag = f"docs_x{factor}{'_bp' if boilerplate else ''}"
    path = os.path.join(CACHE, tag)
    if not os.path.isdir(path):
        # Parallelize the GENERATION side: the replica axis drives the row
        # explosion, so partition it — with the default 1-partition range the
        # whole factor-x corpus would be salted by a single task (measured:
        # factor 10000 = 50M rows through one thread, tens of minutes).
        base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        reps = spark.range(factor).repartition(min(max(32, factor // 8), 512)).select(
            F.col("id").alias("rep")
        )
        # broadcast the small DOC side explicitly: the streamed (partitioned)
        # side must be the replica axis or Spark broadcasts the tiny range
        # and the whole corpus generates in base's 1-2 input partitions
        out = reps.crossJoin(F.broadcast(base))
        salt = (F.col("rep") / 2).cast("long").cast("string")
        # salt every 3rd word: no k=3 word shingle survives across salts
        words = F.split(F.col("text"), " ")
        salted = F.concat_ws(
            " ",
            F.transform(
                words,
                lambda w, i: F.when(i % 3 == 0, F.concat(w, F.lit("q"), salt)).otherwise(w),
            ),
        )
        text = F.when(F.col("rep") % 2 == 1, F.concat(salted, F.lit(" zzvariant"))).otherwise(salted)
        if boilerplate:
            text = F.concat(F.lit(BOILERPLATE + " "), text)
        out = out.select(
            (F.col("doc_id") + F.col("rep") * F.lit(1_000_000)).alias("doc_id"),
            text.alias("text"),
        )
        out.repartition(max(32, factor // 8)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def sf_equiv_dir(spark: SparkSession, sf_dir: str, factor: int = 10) -> str:
    """Materialize a ``load_table``-compatible directory holding factor-x
    ``documents`` and ``embeddings`` tables (base schema preserved), so
    registry queries run UNCHANGED at a compute-bound scale — the bench's
    sf1 heavy-extras leg (VERDICT r6 item 8): queries like dedup_semantic
    and t_corpus_manifest are scheduler-bound at sf0.1, so regressions on
    their COMPUTE must be judged at 10×. Same deterministic salting as
    :func:`scaled_docs` (near-dup clusters capped at 2) and the same
    per-replica perturbation as :func:`scaled_embeddings`; cached under
    ``.scale_cache/`` like every other rung input."""
    root = os.path.join(CACHE, f"sfdir_x{factor}")
    docs_path = os.path.join(root, "documents.parquet")
    if not os.path.isdir(docs_path):
        base = load_table(spark, sf_dir, "documents")
        reps = spark.range(factor).repartition(
            min(max(32, factor // 8), 512)
        ).select(F.col("id").alias("rep"))
        out = reps.crossJoin(F.broadcast(base))
        salt = (F.col("rep") / 2).cast("long").cast("string")
        words = F.split(F.col("text"), " ")
        salted = F.concat_ws(
            " ",
            F.transform(
                words,
                lambda w, i: F.when(i % 3 == 0, F.concat(w, F.lit("q"), salt)).otherwise(w),
            ),
        )
        text = F.when(
            F.col("rep") % 2 == 1, F.concat(salted, F.lit(" zzvariant"))
        ).otherwise(salted)
        out.select(
            (F.col("doc_id") + F.col("rep") * F.lit(1_000_000)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).alias("n_chars"),
        ).repartition(max(32, factor // 8)).write.mode("overwrite").parquet(docs_path)
    emb_path = os.path.join(root, "embeddings.parquet")
    if not os.path.isdir(emb_path):
        base = load_table(spark, sf_dir, "embeddings")
        reps = spark.range(factor).select(F.col("id").alias("rep"))
        base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("rep") * F.lit(1_000_000)).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: (
                    x + (F.col("rep") % 7).cast("double") * 0.001 * (i % 5).cast("double")
                ).cast("float"),
            ).alias("embedding"),
            "label",
        ).repartition(max(32, factor)).write.mode("overwrite").parquet(emb_path)
    return root


def scaled_lineitem(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """factor x the sf_dir lineitem table (orderkeys preserved so dim joins
    keep their selectivity; linenumber offset keeps rows unique)."""
    path = os.path.join(CACHE, f"lineitem_x{factor}")
    if not os.path.isdir(path):
        base = load_table(spark, sf_dir, "lineitem")
        reps = spark.range(factor).select(F.col("id").alias("rep"))
        out = base.crossJoin(reps).withColumn(
            "l_linenumber", F.col("l_linenumber") + F.col("rep").cast("int") * 10
        ).drop("rep")
        out.repartition(max(32, factor * 4)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def run_fact_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Time the relational core (scan-agg + star join) against a scaled fact
    table with the ORIGINAL dimension tables — the shape of a 100 TB star
    schema where facts dwarf dims."""
    li = scaled_lineitem(spark, sf_dir, factor)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r: dict = {"lineitem_rows": li.count()}

    def pricing():
        price = F.col("l_extendedprice").cast("decimal(12,2)")
        disc = F.col("l_discount").cast("decimal(4,2)")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(price * (1 - disc)).alias("sum_disc_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("n"),
            )
            .count()
        )

    def star():
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
            1 - F.col("l_discount").cast("decimal(4,2)")
        )
        return (
            li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(rev).alias("revenue"))
            .count()
        )

    r["pricing_summary_sec"], _ = timed("pricing summary (scan+agg)", pricing)
    r["star_join_sec"], _ = timed("star join (broadcast dims)", star)
    return r


def scaled_embeddings(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """factor x the embeddings table; replicas are slightly perturbed per rep
    (native array transform) so vectors stay distinct but realistic."""
    path = os.path.join(CACHE, f"embeddings_x{factor}")
    if not os.path.isdir(path):
        base = load_table(spark, sf_dir, "embeddings")
        reps = spark.range(factor).select(F.col("id").alias("rep"))
        out = base.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * F.lit(1_000_000)).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x + (F.col("rep") % 7).cast("double") * 0.001 * (i % 5).cast("double"),
            ).alias("embedding"),
        )
        out.repartition(max(32, factor)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def first_k_centroids(emb: DataFrame, k: int) -> DataFrame:
    """``(cluster_id, centroid)`` table of the first ``k`` embeddings by
    ``vec_id`` — the centroids dedup_semantic pins, at any k."""
    w = Window.orderBy("vec_id")
    return emb.orderBy("vec_id").limit(k).select(
        (F.row_number().over(w) - 1).cast("long").alias("cluster_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )


def run_ann_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Brute-force vs hyperplane-LSH top-k over a scaled vector corpus: wall
    time plus recall@5 of the LSH path against brute truth."""
    from f1_datalakehouse_pipeline_spark.operators import similarity
    from f1_datalakehouse_pipeline_spark.registry_ext import _lsh_planes

    emb = scaled_embeddings(spark, sf_dir, factor)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    r: dict = {"vectors": emb.count()}

    def recall(approx_df, truth: set) -> float:
        got = {(x.query_id, x.neighbor_id) for x in approx_df.collect()}
        return round(len(got & truth) / max(len(truth), 1), 3)

    t0 = time.perf_counter()
    truth_rows = similarity.brute_force_topk(emb, queries, k=5).collect()
    r["brute_sec"] = round(time.perf_counter() - t0, 2)
    truth = {(x.query_id, x.neighbor_id) for x in truth_rows}

    t0 = time.perf_counter()
    lsh = similarity.lsh_bucketed_topk(emb, queries, _lsh_planes(), k=5)
    r["lsh_recall"] = recall(lsh, truth)
    r["lsh_sec"] = round(time.perf_counter() - t0, 2)
    print(f"  {r}", flush=True)
    return r


def scaled_events(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """factor × the events table: replicas shift user_id (disjoint user
    populations per rep — funnel/cohort/transition semantics stay exact)
    and event_id, keeping the timestamp distribution. Cache is keyed by
    (sf_dir, factor) — keying on factor alone would silently reuse a
    different SF's scaled table across rung invocations."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(CACHE, f"events_{tag}_x{factor}")
    if not os.path.isdir(path):
        base = load_table(spark, sf_dir, "events")
        # ADVICE r8: the disjointness claim is only true while base ids stay
        # below the replica stride — a bigger driver-provided events table
        # would silently alias users across replicas and invalidate the
        # funnel_agree baseline. Derive-or-die: assert before replicating.
        mx = base.agg(
            F.max("user_id").alias("u"), F.max("event_id").alias("e")
        ).collect()[0]
        if mx["u"] is None:
            raise ValueError("scaled_events: base events table is empty")
        if mx["u"] >= 1_000_000 or mx["e"] >= 100_000_000:
            raise ValueError(
                f"scaled_events stride too small: max user_id={mx['u']} "
                f"(stride 1_000_000), max event_id={mx['e']} (stride "
                "100_000_000) — replicas would alias ids"
            )
        reps = spark.range(factor).select(F.col("id").alias("rep"))
        out = base.crossJoin(reps).select(
            (F.col("event_id") + F.col("rep") * F.lit(100_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(1_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        out.repartition(max(32, factor)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)




def run_cdc_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """CDC cost-shape rung (r10): the claim under test is the Delta-CDF
    cost shape — reading a commit's changes costs ∝ |that commit's
    changes|, NOT ∝ |table| — measured by holding the change batch FIXED
    (10K updated orders) while the table grows with ``factor``:

    - ``cdf_file_read_sec``: single-step keyed ``table_changes`` served
      from the commit's write-time files (should stay FLAT up the ladder);
    - ``snapshot_diff_sec``: the same delta computed by the full-outer
      snapshot diff (the fallback tier; grows with the table — the cost
      the write-time files buy out of the read path);
    - ``merge_sec``: the producing merge itself — plain-parquet MERGE
      rewrites the table, so this one legitimately grows with |table|
      (the storage-side trade the module docstrings disclose).
    """
    import shutil as _shutil
    import tempfile

    wh = tempfile.mkdtemp(prefix="f1spark-cdcscale-")
    try:
        return _run_cdc_scale(spark, sf_dir, factor, wh)
    finally:
        # always reclaim the multi-GB temp warehouse, including on the
        # rung's own tier-agreement assert (second r10 review round)
        _shutil.rmtree(wh, ignore_errors=True)


def _run_cdc_scale(spark: SparkSession, sf_dir: str, factor: int, wh: str) -> dict:
    import os
    import time

    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    store = TableStore(spark, os.path.join(wh, "wh"), keep_versions=10)
    orders = load_table(spark, sf_dir, "orders")
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    base = orders.crossJoin(reps).select(
        (F.col("o_orderkey") * factor + F.col("rep")).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    r: dict = {"rows": base.count()}
    t0 = time.perf_counter()
    store.overwrite(base, "orders_managed")
    r["seed_overwrite_sec"] = round(time.perf_counter() - t0, 2)

    # stride ≥ 1 (a sub-10K table would divide by zero), and record the
    # batch size ACTUALLY selected — the sparse orderkey space can yield
    # fewer than 10K rows and the cost-shape claim normalizes on this
    stride = max(1, r["rows"] // 10_000)
    updates = store.read("orders_managed").filter(
        F.col("o_orderkey") % stride == 0
    ).limit(10_000).withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    updates = updates.localCheckpoint()  # pin the batch; don't time its derivation
    r["change_rows"] = updates.count()
    t0 = time.perf_counter()
    store.merge_upsert(updates, "orders_managed", keys=["o_orderkey"])
    r["merge_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n = store.table_changes("orders_managed", 1, 0, key_cols=["o_orderkey"]).count()
    r["cdf_file_read_sec"] = round(time.perf_counter() - t0, 2)
    r["cdf_rows"] = n
    t0 = time.perf_counter()
    m = store._changes_between(
        store.versions("orders_managed")[1],
        store.versions("orders_managed")[0],
        ["o_orderkey"],
        allow_files=False,
    ).count()
    r["snapshot_diff_sec"] = round(time.perf_counter() - t0, 2)
    assert m == n, (m, n)  # the two tiers must agree on the delta

    print(f"  {r}", flush=True)
    return r


def run_funnel_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Behavioral-analytics rung: the r8 funnel/cohort/transition/MAD/chisq
    queries on a factor-scaled events table, plus the per-stage
    aggregate/join funnel as the alternative form. Caveat learned the hard
    way: single-run readings here are ORDER-CONFOUNDED — the first-timed
    query pays the cold parquet read of the scaled table — so form
    comparisons must come from the interleaved hot-cache A/B (PERF_NOTES
    r8 late: window 3.0-3.5 s vs aggregate 3.7-5.0 s at 50M), not from two
    positions of this rung. funnel_agree asserts the two forms' stage
    counts are identical."""
    from f1_datalakehouse_pipeline_spark.registry_ext import (
        a21_cohort_retention,
        a24_chisq_cells,
        ts_mad_outliers,
        w19_funnel_stages,
        w20_event_transitions,
        w22_funnel_windowed,
    )

    ev = scaled_events(spark, sf_dir, factor)
    r: dict = {"events": ev.count()}

    for name, fn in (
        ("funnel_registry", w19_funnel_stages),
        ("funnel_windowed", w22_funnel_windowed),
        ("cohort", a21_cohort_retention),
        ("transitions", w20_event_transitions),
        ("mad_outliers", ts_mad_outliers),
        ("chisq", a24_chisq_cells),
    ):
        t0 = time.perf_counter()
        _run_with_events(spark, sf_dir, ev, fn).write.format("noop").mode(
            "overwrite"
        ).save()
        r[f"{name}_sec"] = round(time.perf_counter() - t0, 2)
        spark.catalog.clearCache()

    # alternative form: per-stage aggregate/join (map-side partial combine
    # before each shuffle, three pushed-filter scans) — the 50M interleaved
    # A/B picked the window form for the shipped query; this leg keeps the
    # comparison alive as scale/shape changes
    t0 = time.perf_counter()
    def _stage(t):
        return ev.filter(F.col("event_type") == t).select("user_id", "ts")
    views = _stage("view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    clicks = (
        _stage("click").join(views, "user_id").filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    purch = (
        _stage("purchase").join(clicks, "user_id").filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    win_counts = (
        views.agg(F.count(F.lit(1)).alias("s1"))
        .crossJoin(clicks.agg(F.count(F.lit(1)).alias("s2")))
        .crossJoin(purch.agg(F.count(F.lit(1)).alias("s3")))
    )
    win_row = win_counts.collect()[0]
    r["funnel_aggregate_form_sec"] = round(time.perf_counter() - t0, 2)
    # cross-check: the registry (window-form) funnel must agree with the
    # aggregate form exactly
    reg = {
        row["stage"]: row["users"]
        for row in _run_with_events(spark, sf_dir, ev, w19_funnel_stages).collect()
    }
    r["funnel_agree"] = (
        reg["1_view"] == win_row["s1"]
        and reg["2_click_after_view"] == win_row["s2"]
        and reg["3_purchase_after_click"] == win_row["s3"]
    )
    if not r["funnel_agree"]:
        raise RuntimeError(
            f"funnel forms disagree at factor {factor}: window={reg} "
            f"aggregate=({win_row['s1']}, {win_row['s2']}, {win_row['s3']})"
        )
    print(f"  {r}", flush=True)
    return r


def _run_with_events(spark, sf_dir, ev, fn):
    import f1_datalakehouse_pipeline_spark.registry_ext as rx

    real_load = rx.load_table
    rx.load_table = lambda s, d, t: ev if t == "events" else real_load(s, d, t)
    try:
        return fn(spark, sf_dir)
    finally:
        rx.load_table = real_load


def run_semantic_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """SemDeDup at scale. Claim under test: with k ∝ N (fixed target
    cluster size) the within-cluster pair mass is ~N·cluster_size/2 —
    LINEAR in corpus size, visible as near-flat sec-per-1k-vectors up the
    ladder. The centroids are pinned the way dedup_semantic pins them (the
    first k embeddings) and assigned through the broadcast-table tier, the
    large-k form; everything measured is engine-side."""
    from f1_datalakehouse_pipeline_spark.operators import dedup

    emb = scaled_embeddings(spark, sf_dir, factor)
    n = emb.count()
    # k ∝ N at the SemDeDup paper's density (one centroid per ~100 vectors)
    k = max(8, n // 100)
    r: dict = {"vectors": n, "k": k}
    cents = first_k_centroids(emb, k)

    t0 = time.perf_counter()
    asg = dedup.semantic_cluster_assign_table(emb, "vec_id", "embedding", cents)
    sizes = asg.groupBy("cluster_id").count()
    stats = sizes.agg(
        F.count("*"), F.max("count"), F.avg("count"), F.sum(F.col("count") * F.col("count"))
    ).collect()[0]
    r["assign_sec"] = round(time.perf_counter() - t0, 2)
    r["live_clusters"] = stats[0]
    r["max_cluster"] = stats[1]
    r["avg_cluster"] = round(stats[2], 1)
    r["pair_mass"] = int(stats[3] // 2)

    # lazy (unstaged) flags leg: the assignment recomputes once per
    # pair-join side — kept on the ladder as the anti-pattern's cost curve,
    # but skipped at the top rungs where its wall is pure already-measured
    # waste (the production shape below stages the assignment once)
    if n <= 2_500_000:
        t0 = time.perf_counter()
        flags = dedup.semantic_dedup_flags(emb, "vec_id", "embedding", cents, eps=0.95)
        agg = flags.agg(
            F.count("*").alias("n"),
            F.sum((~F.col("kept")).cast("long")).alias("removed"),
        ).collect()[0]
        r["flags_sec"] = round(time.perf_counter() - t0, 2)
        assert agg["n"] == n, (agg["n"], n)  # every row flagged once
        r["removed"] = agg["removed"]
        r["sec_per_1k_vectors"] = round(r["flags_sec"] / (n / 1000), 4)
    else:
        # lazy leg skipped; staged legs below are the measure. Keep the key
        # set uniform across rungs so cross-rung tabulation never has to
        # special-case the top rung (ADVICE r6).
        r["flags_sec"] = None
        r["removed"] = None
        r["sec_per_1k_vectors"] = None

    # production shape: stage the assignment ONCE, then flag from the staged
    # table — isolates the pair stage and lets the banded form show its
    # straggler protection without paying the assignment recompute
    from f1_datalakehouse_pipeline_spark.registry_ext import _lsh_planes

    staged_path = os.path.join(CACHE, f"semantic_asg_x{factor}")
    t0 = time.perf_counter()
    asg.write.mode("overwrite").parquet(staged_path)
    staged = spark.read.parquet(staged_path)
    r["stage_asg_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    plain = dedup.semantic_dedup_flags(staged, "vec_id", "embedding", None, eps=0.95)
    removed_plain = plain.agg(F.sum((~F.col("kept")).cast("long"))).collect()[0][0]
    r["flags_staged_sec"] = round(time.perf_counter() - t0, 2)

    planes = _lsh_planes(n=4)
    t0 = time.perf_counter()
    banded = dedup.semantic_dedup_flags(
        staged, "vec_id", "embedding", None, eps=0.95,
        lsh_planes=[planes[:2], planes[2:4]],
    )
    removed_banded = banded.agg(F.sum((~F.col("kept")).cast("long"))).collect()[0][0]
    r["flags_staged_banded_sec"] = round(time.perf_counter() - t0, 2)
    r["removed_staged"] = removed_plain
    r["removed_banded"] = removed_banded
    r["banded_recall"] = round(removed_banded / max(removed_plain, 1), 4)
    print(f"  {r}", flush=True)
    return r


def run_semantic_skew_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """The banding win, in the regime it exists for: DELIBERATELY coarse
    k=16 produces giant (~N/16-doc) clusters — the skewed-corpus shape
    where the within-cluster all-pairs stage is the straggler. Banding
    divides each cluster's pair mass by ~2^planes per band; on the bounded
    ~200-doc clusters of the main rung it is pure overhead (measured), so
    this leg isolates where it actually pays."""
    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.registry_ext import _lsh_planes

    emb = scaled_embeddings(spark, sf_dir, factor)
    n = emb.count()
    k = 16
    r: dict = {"vectors": n, "k": k}

    cents = [
        list(row.centroid)
        for row in first_k_centroids(emb, k).orderBy("cluster_id").collect()
    ]
    staged_path = os.path.join(CACHE, f"semantic_skew_asg_x{factor}")
    asg = dedup.semantic_cluster_assign(emb, "vec_id", "embedding", cents).select(
        "vec_id", "embedding", "cluster_id"
    )
    asg.write.mode("overwrite").parquet(staged_path)
    staged = spark.read.parquet(staged_path)
    sizes = staged.groupBy("cluster_id").count()
    stats = sizes.agg(F.max("count"), F.sum(F.col("count") * F.col("count"))).collect()[0]
    r["max_cluster"] = stats[0]
    r["pair_mass"] = int(stats[1] // 2)

    planes = _lsh_planes(n=8)
    t0 = time.perf_counter()
    banded = dedup.semantic_dedup_flags(
        staged, "vec_id", "embedding", None, eps=0.95,
        lsh_planes=[planes[:4], planes[4:8]],
    )
    removed_banded = banded.agg(F.sum((~F.col("kept")).cast("long"))).collect()[0][0]
    r["flags_banded_sec"] = round(time.perf_counter() - t0, 2)
    r["removed_banded"] = removed_banded
    print(f"  banded: {r}", flush=True)

    t0 = time.perf_counter()
    plain = dedup.semantic_dedup_flags(staged, "vec_id", "embedding", None, eps=0.95)
    removed_plain = plain.agg(F.sum((~F.col("kept")).cast("long"))).collect()[0][0]
    r["flags_plain_sec"] = round(time.perf_counter() - t0, 2)
    r["removed_plain"] = removed_plain
    r["banded_recall"] = round(removed_banded / max(removed_plain, 1), 4)
    r["speedup"] = round(r["flags_plain_sec"] / max(r["flags_banded_sec"], 1e-9), 2)
    print(f"  {r}", flush=True)
    return r


def run_semantic_divergence_scale(
    spark: SparkSession,
    sf_dir: str,
    factor: int,
    eps_list: tuple = (0.3, 0.4, 0.5, 0.55, 0.6, 0.7),
) -> dict:
    """Measure the embedding-space chained-middle-member divergence
    (VERDICT r7 item 4): the incremental semantic gate's one documented
    deviation from the one-shot greedy-by-id rule is that a one-shot
    removal can be caused by a vector that was ITSELF removed, while the
    incremental probe sees only ADMITTED members — so a B2 doc whose only
    eps-remover is a rejected B1 doc is admitted incrementally but dropped
    one-shot. plans/corpus.py discloses the caveat; this rung puts a
    NUMBER next to it, per eps, on the real (scaled) embedding corpus.

    Method: assign every vector once (first-k-vectors centroid table,
    k = N/100 — the SemDeDup regime), materialize the within-cluster pair
    list ONCE at the loosest eps with its exact cosine, then derive both
    removal sets per eps by pure filters:

      one-shot removed  = {b : ∃ a<b same-cluster, cos >= eps}
      incremental (B1 = ids <= mid, B2 = ids > mid, history-wins probe):
        B1-removed      = pairs with b <= mid  (a < b <= mid ⇒ a ∈ B1)
        B2-within       = pairs with a > mid   (mid < a < b ⇒ both ∈ B2)
        B2-history      = pairs a <= mid < b where a is an ADMITTED member
                          (a not in B1-removed)

    Every incremental removal corresponds to a qualifying pair, so
    inc ⊆ one-shot and the divergence is one-sided: docs the incremental
    path over-admits. Reported per eps as a count and as a share of the
    one-shot removal set — the honest denominator (divergence can only
    happen where removal happens)."""
    from f1_datalakehouse_pipeline_spark.operators import dedup, similarity

    emb = scaled_embeddings(spark, sf_dir, factor).cache()
    n = emb.count()
    k = max(8, n // 100)
    mid = emb.agg(F.max("vec_id")).collect()[0][0] // 2
    r: dict = {"vectors": n, "k": k, "mid": mid, "eps": {}}

    cent = first_k_centroids(emb, k)
    staged_path = os.path.join(CACHE, f"semantic_div_asg_x{factor}")
    dedup.semantic_cluster_assign_table(emb, "vec_id", "embedding", cent).select(
        "vec_id", F.col("embedding").alias("_v"), "cluster_id"
    ).write.mode("overwrite").parquet(staged_path)
    asg = spark.read.parquet(staged_path)

    eps_min = min(eps_list)
    a = asg.select(
        F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"), "cluster_id"
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"), "cluster_id"
    )
    t0 = time.perf_counter()
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            similarity.cosine(F.col("_va"), F.col("_vb")).alias("cos"),
        )
        .filter(F.col("cos") >= eps_min)
        .persist()
    )
    r["pairs_at_loosest_eps"] = pairs.count()
    r["pairs_sec"] = round(time.perf_counter() - t0, 2)
    print(f"  pairs: {r['pairs_at_loosest_eps']} in {r['pairs_sec']}s", flush=True)

    for eps in eps_list:
        pe = pairs.filter(F.col("cos") >= eps)
        oneshot = pe.select(F.col("id_b").alias("id")).distinct()
        b1_removed = (
            pe.filter(F.col("id_b") <= mid).select(F.col("id_b").alias("id")).distinct()
        )
        b2_within = (
            pe.filter(F.col("id_a") > mid).select(F.col("id_b").alias("id")).distinct()
        )
        b2_hist = (
            pe.filter((F.col("id_a") <= mid) & (F.col("id_b") > mid))
            .join(
                b1_removed.withColumnRenamed("id", "id_a"), "id_a", "left_anti"
            )
            .select(F.col("id_b").alias("id"))
            .distinct()
        )
        inc = b1_removed.unionByName(b2_within).unionByName(b2_hist).distinct()
        n_one = oneshot.count()
        n_inc = inc.count()
        n_div = oneshot.join(inc, "id", "left_anti").count()
        assert n_inc + n_div == n_one  # inc ⊆ one-shot, divergence one-sided
        leg = {
            "removed_oneshot": n_one,
            "removed_incremental": n_inc,
            "divergent_docs": n_div,
            "divergent_pct_of_removed": round(100.0 * n_div / max(n_one, 1), 3),
            "divergent_pct_of_corpus": round(100.0 * n_div / n, 4),
        }
        r["eps"][str(eps)] = leg
        print(f"  eps={eps}: {leg}", flush=True)
    pairs.unpersist()
    emb.unpersist()
    print(f"  {r}", flush=True)
    return r


def run_semantic_ingest_scale(
    spark: SparkSession,
    sf_dir: str,
    factor: int,
    n_batches: int = 10,
    compact_every: int = 4,
) -> dict:
    """Give the r7 incremental SEMANTIC state the same measured-ladder
    treatment the LSH state got in r5/r6 (VERDICT r7 item 3): admit the
    scaled corpus as ``n_batches`` batches through
    run_corpus_pipeline_incremental WITH the semantic trio enabled, twice —
    once never folding, once folding via compact_corpus_state every
    ``compact_every`` batches — recording per-batch admission wall, the
    ``semantic/`` store's data-file count, and (the claim under test) that
    per-batch cost stays ~flat because the history probe is cluster-keyed
    against persisted members, cost ∝ batch. Verdict parity: both ladders
    must deliver identical chunk counts (compaction changes no verdict).

    Batches split on the replica axis like run_corpus_incremental_scale
    (earlier batches carry smaller ids). Centroids: the first 64 base
    embeddings as a literal list — fixed across batches, the fingerprint
    guard's happy path. eps=0.55: the scaled corpus's replicas are small
    perturbations of 2000 base vectors, so same-cluster replicas sit near
    cosine 1 and the stage removes hard — the regime the member store and
    its probe must survive."""
    import shutil

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        compact_corpus_state,
        run_corpus_pipeline_incremental,
    )

    docs = scaled_docs(spark, sf_dir, factor)
    emb = scaled_embeddings(spark, sf_dir, factor)
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 64).orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>")).collect()
    )
    centroids = [list(x[0]) for x in seeds]
    rep_ax = F.col("doc_id") / F.lit(1_000_000)
    bounds = sorted(
        {round(i * factor / n_batches) & ~1 for i in range(n_batches + 1)} | {factor}
    )
    params = dict(
        quality_min=0.0, near_threshold=0.5, chunk_tokens=64,
        overlap_tokens=8, n_shards=64, seed="scale",
        max_doc_frequency=64, audit=False,
        embeddings=emb, semantic_eps=0.55, semantic_centroids=centroids,
    )

    def sem_files(state: str) -> int:
        sem = os.path.join(state, "semantic")
        cnt = 0
        for root, dirs, files in os.walk(sem):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            cnt += sum(
                1 for f in files
                if not f.startswith(("_", ".")) and f.endswith(".parquet")
            )
        return cnt

    r: dict = {"docs": docs.count(), "ladders": {}}
    for label, fold in (("no_compaction", 0), ("compacted", compact_every)):
        out = os.path.join(CACHE, f"sem_ing_out_{label}_x{factor}")
        state = os.path.join(CACHE, f"sem_ing_state_{label}_x{factor}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)
        leg: dict = {"batch_sec": [], "sem_files": [], "fold_sec": [], "chunks": 0}
        for i in range(len(bounds) - 1):
            batch = docs.filter((rep_ax >= bounds[i]) & (rep_ax < bounds[i + 1]))
            t0 = time.perf_counter()
            rep_i = run_corpus_pipeline_incremental(spark, batch, out, state, **params)
            leg["batch_sec"].append(round(time.perf_counter() - t0, 1))
            leg["chunks"] += rep_i.counts["chunks"]
            leg["sem_files"].append(sem_files(state))
            if fold and (i + 1) % fold == 0:
                t0 = time.perf_counter()
                compact_corpus_state(spark, state)
                leg["fold_sec"].append(round(time.perf_counter() - t0, 1))
            print(f"  {label} batch {i}: {leg['batch_sec'][-1]}s "
                  f"sem_files={leg['sem_files'][-1]} {rep_i.counts}", flush=True)
        r["ladders"][label] = leg
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)
    assert (
        r["ladders"]["no_compaction"]["chunks"] == r["ladders"]["compacted"]["chunks"]
    ), r
    print(f"  {r}", flush=True)
    return r


def run_novelty_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Quantify the incremental-dedup amortization claim: per-batch cost of
    probing a PREBUILT on-disk index vs re-running the full-corpus self-join
    (what a pipeline without the index pays every batch).

    Split: 90% of the scaled corpus is 'history', 10% is the incoming batch.
    Three timings: the naive self-join over history+batch, the ONE-TIME index
    build+persist, and the recurring probe against the reloaded index.
    """
    import shutil

    docs = scaled_docs(spark, sf_dir, factor)
    history = docs.filter(F.col("doc_id") % 10 < 9)
    batch = docs.filter(F.col("doc_id") % 10 >= 9)
    r: dict = {"history_docs": history.count(), "batch_docs": batch.count()}

    r["selfjoin_sec"], r["selfjoin_pairs"] = timed(
        "full self-join (naive per-batch cost)",
        lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).count(),
    )

    idx_path = os.path.join(CACHE, f"novelty_idx_x{factor}")
    shutil.rmtree(idx_path, ignore_errors=True)

    def build():
        bands, sh, sizes = dedup.minhash_band_index(history, "doc_id", "text")
        bands.write.partitionBy("band").parquet(idx_path + "/bands")
        sh.write.parquet(idx_path + "/shingles")
        sizes.write.parquet(idx_path + "/sizes")
        return 0

    r["index_build_sec"], _ = timed("index build+persist (one-time)", build)

    index = (
        spark.read.parquet(idx_path + "/bands"),
        spark.read.parquet(idx_path + "/shingles"),
        spark.read.parquet(idx_path + "/sizes"),
    )
    r["probe_sec"], r["probe_pairs"] = timed(
        "batch probe vs prebuilt index (recurring cost)",
        lambda: dedup.novelty_pairs(
            batch, index, "doc_id", "text", threshold=0.5
        ).count(),
    )
    r["amortized_speedup"] = round(r["selfjoin_sec"] / max(r["probe_sec"], 1e-9), 2)

    # The bucketed shingles layout (VERDICT r4 item 3): same index content,
    # shingles/ written as a catalog table bucketed by doc, so the verify
    # join plans no Exchange on the (corpus-sized) index side. Pair count
    # must be byte-identical to the plain layout.
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _append_index,
        _read_index,
        _shingles_table_name,
    )

    idx_b = os.path.join(CACHE, f"novelty_idx_bkt_x{factor}")
    shutil.rmtree(idx_b, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {_shingles_table_name(idx_b)}")

    def build_bucketed():
        _append_index(
            idx_b,
            dedup.minhash_band_index(history, "doc_id", "text"),
            shingle_buckets=32,
        )
        return 0

    r["index_build_bucketed_sec"], _ = timed(
        "bucketed index build+persist (one-time)", build_bucketed
    )
    index_b = _read_index(spark, idx_b)
    r["probe_bucketed_sec"], r["probe_bucketed_pairs"] = timed(
        "batch probe vs bucketed index (recurring cost)",
        lambda: dedup.novelty_pairs(
            batch, index_b, "doc_id", "text", threshold=0.5
        ).count(),
    )
    assert r["probe_bucketed_pairs"] == r["probe_pairs"], (
        "bucketed layout changed the pair count"
    )
    print(f"  {r}", flush=True)
    return r


def run_corpus_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Wall-time the FULL corpus pipeline (plans/corpus.run_corpus_pipeline)
    on the scaled documents corpus: proves the composed stages — not just
    each operator alone — hold their shape at scale. The benchmark set is a
    50-doc slice of the corpus itself (the variant salting breaks 8-gram
    overlap with anything else, so decontamination must remove exactly the
    planted docs' surviving keepers and nothing more)."""
    import shutil
    import time as _t

    from f1_datalakehouse_pipeline_spark.plans.corpus import run_corpus_pipeline

    docs = scaled_docs(spark, sf_dir, factor).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 10).cast("string"))
    )
    bench = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    out = os.path.join(CACHE, f"corpus_out_x{factor}")
    shutil.rmtree(out, ignore_errors=True)
    t0 = _t.perf_counter()
    rep = run_corpus_pipeline(
        spark, docs, out,
        benchmark=bench,
        quality_min=0.0,          # synthetic corpus: keep quality gate open
        near_threshold=0.5,
        chunk_tokens=64,
        overlap_tokens=8,
        n_shards=64,
        seed="scale",
        max_doc_frequency=64,
        # the late-r4 optional stages, exercised at scale: a containment
        # pass after the symmetric near-dedup, and a token-budget cap on
        # one of the ten synthetic domains (the others unlimited)
        containment_threshold=0.9,
        domain_col="source",
        domain_budgets={f"s{i}": (100_000 if i == 0 else 10**12) for i in range(10)},
    )
    wall = round(_t.perf_counter() - t0, 1)
    r = {"wall_sec": wall, "audit_violations": rep.audit_violations, **rep.counts}
    print(f"  {r}", flush=True)
    return r


def run_corpus_incremental_scale(
    spark: SparkSession,
    sf_dir: str,
    factor: int,
    n_bootstrap: int = 10,
    compare_oneshot: bool = True,
) -> dict:
    """Measure the r5 incremental-ingestion mode
    (plans/corpus.run_corpus_pipeline_incremental) at scale: admit the
    corpus as ``n_bootstrap`` equal batches plus one FINAL 1% batch,
    timing every admission. The claims under test:

    1. per-batch admission cost stays ~FLAT as the admitted corpus grows
       (the near-dedup leg is a within-batch self-join plus a
       novelty-index probe — never a history∪batch self-join);
    2. admitting the final 1% batch costs a small fraction of rebuilding
       the corpus one-shot (at factors where the one-shot's in-memory LSH
       fits the disk budget, ``compare_oneshot`` also asserts the
       incremental union delivers the SAME chunk count to within 1% —
       exact parity is impossible under a batch-relative df-cap, which
       perturbs LSH candidate recall on borderline short-doc pairs; the
       caveat and its measured root cause are documented on
       run_corpus_pipeline_incremental);
    3. at factors where the one-shot form is disk-INFEASIBLE on this host
       (its cached shingle index ENOSPCs at 5M docs, measured r5), the
       incremental path still runs — that asymmetry is the point.

    Batches split on the replica axis (rep = doc_id // 1M) so earlier
    batches carry smaller ids (first-arrival-wins == one-shot min-id
    keepers) and the generator's cluster-of-2 pairs never straddle a
    batch boundary (salt is shared by rep pair (2k, 2k+1) and every
    split index below is even). State uses the bucketed (100 TB) index
    layout. Audit must be clean after every admission's shard append."""
    import shutil
    import time as _t

    from f1_datalakehouse_pipeline_spark.plans.corpus import (
        run_corpus_pipeline,
        run_corpus_pipeline_incremental,
    )

    docs = scaled_docs(spark, sf_dir, factor)
    bench = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text"
    )
    n_final_reps = max(2, (factor // 100) & ~1)  # even, >= 2
    n_boot_reps = factor - n_final_reps
    rep = F.col("doc_id") / F.lit(1_000_000)
    params = dict(
        benchmark=bench,
        quality_min=0.0,
        near_threshold=0.5,
        chunk_tokens=64,
        overlap_tokens=8,
        n_shards=64,
        seed="scale",
        max_doc_frequency=64,
    )

    out = os.path.join(CACHE, f"corpus_inc_out_x{factor}")
    state = os.path.join(CACHE, f"corpus_inc_state_x{factor}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)

    r: dict = {"docs": docs.count(), "bootstrap_sec": [], "chunks_inc": 0}
    bounds = sorted(
        {round(i * n_boot_reps / n_bootstrap) & ~1 for i in range(n_bootstrap + 1)}
    )  # dedup: tiny factors round several deciles to the same even rep
    for i in range(len(bounds) - 1):
        batch = docs.filter((rep >= bounds[i]) & (rep < bounds[i + 1]))
        t0 = _t.perf_counter()
        rep_i = run_corpus_pipeline_incremental(
            spark, batch, out, state, shingle_buckets=32, **params
        )
        sec = round(_t.perf_counter() - t0, 1)
        assert rep_i.audit_violations == 0, rep_i.audit_violations
        r["bootstrap_sec"].append(sec)
        r["chunks_inc"] += rep_i.counts["chunks"]
        print(f"  bootstrap batch {i}: {sec}s {rep_i.counts}", flush=True)

    # from the last BOOTSTRAP bound, not n_boot_reps: odd factors round the
    # final even bound below n_boot_reps, and the slice between them must
    # not be dropped (it belongs to the final batch)
    final = docs.filter(rep >= bounds[-1])
    t0 = _t.perf_counter()
    rep_f = run_corpus_pipeline_incremental(
        spark, final, out, state, shingle_buckets=32, **params
    )
    r["final_batch_sec"] = round(_t.perf_counter() - t0, 1)
    assert rep_f.audit_violations == 0, rep_f.audit_violations
    r["chunks_inc"] += rep_f.counts["chunks"]
    r["final_batch_docs"] = rep_f.counts["raw"]

    if compare_oneshot:
        one_out = os.path.join(CACHE, f"corpus_one_out_x{factor}")
        shutil.rmtree(one_out, ignore_errors=True)
        t0 = _t.perf_counter()
        rep_one = run_corpus_pipeline(spark, docs, one_out, **params)
        r["oneshot_sec"] = round(_t.perf_counter() - t0, 1)
        r["chunks_oneshot"] = rep_one.counts["chunks"]
        assert rep_one.audit_violations == 0
        drift = abs(r["chunks_inc"] - r["chunks_oneshot"]) / r["chunks_oneshot"]
        r["chunk_drift_pct"] = round(100 * drift, 3)
        assert drift <= 0.01, r
        shutil.rmtree(one_out, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    print(f"  {r}", flush=True)
    return r


def run_corpus_stream_scale(
    spark: SparkSession, sf_dir: str, factor: int, n_batches: int = 10
) -> dict:
    """Wall-time the STREAMING corpus ingest (streaming/corpus_ingest) over
    the scaled corpus, delivered as ~``n_batches`` file-bounded
    micro-batches via maxFilesPerTrigger. Measures what foreachBatch
    orchestration adds over the batch incremental ladder (same pipeline per
    batch; micro-batch boundaries are file-grouping-dependent, so delivered
    chunk counts are reported, not asserted — the controlled-batch
    byte-equality contract is the e2e test's job). Out-of-band audit must
    be clean."""
    import glob
    import shutil
    import time as _t

    from f1_datalakehouse_pipeline_spark.sources.shards import (
        verify_training_shards,
    )
    from f1_datalakehouse_pipeline_spark.streaming.corpus_ingest import (
        corpus_ingest_stream,
    )

    docs = scaled_docs(spark, sf_dir, factor)
    src = os.path.join(CACHE, f"corpus_stream_src_x{factor}")
    if not os.path.isdir(src):
        # n_batches file groups; repartition keeps each file rep-contiguous
        docs.repartition(n_batches, (F.col("doc_id") / F.lit(1_000_000)).cast("long")) \
            .write.mode("overwrite").parquet(src)
    n_files = len(glob.glob(os.path.join(src, "part-*")))
    per_trigger = max(1, n_files // n_batches)

    out = os.path.join(CACHE, f"corpus_stream_out_x{factor}")
    state = os.path.join(CACHE, f"corpus_stream_state_x{factor}")
    ckpt = os.path.join(CACHE, f"corpus_stream_ckpt_x{factor}")
    for d in (out, state, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(src)
    )
    t0 = _t.perf_counter()
    q = corpus_ingest_stream(
        stream, out, state, ckpt,
        quality_min=0.0, near_threshold=0.5, chunk_tokens=64,
        overlap_tokens=8, n_shards=64, seed="scale",
        max_doc_frequency=64, shingle_buckets=32,
    )
    q.awaitTermination()
    wall = round(_t.perf_counter() - t0, 1)

    from f1_datalakehouse_pipeline_spark.sources.shards import read_shard_manifest

    chunks = sum(r.n_rows for r in read_shard_manifest(spark, out).collect())
    violations = verify_training_shards(spark, out, "chunk_text").count()
    r = {
        "docs": docs.count(), "wall_sec": wall, "n_files": n_files,
        "files_per_trigger": per_trigger, "chunks": chunks,
        "audit_violations": violations,
    }
    assert violations == 0, r
    for d in (out, state, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    print(f"  {r}", flush=True)
    return r


def run_mixture_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Bucketed vs naive budgeted_mixture on a 90%-one-domain corpus.

    The skew IS the point: the naive form windows an entire domain in one
    task, so a dominant domain serializes ~90% of the corpus through a
    single thread; the bucketed form never windows more than a (domain,
    bucket) slice. Both must return the identical row set (asserted)."""
    from f1_datalakehouse_pipeline_spark.operators.mixture import (
        budgeted_mixture,
        budgeted_mixture_naive,
    )

    docs = scaled_docs(spark, sf_dir, factor)
    corpus = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 9, F.lit("web"))
        .otherwise(F.concat(F.lit("src"), (F.col("doc_id") % 10).cast("string")))
        .alias("source"),
        F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")).alias(
            "n_tokens"
        ),
    )
    path = os.path.join(CACHE, f"mixture_x{factor}")
    if not os.path.isdir(path):
        corpus.write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    total_web = corpus.filter(F.col("source") == "web").agg(F.sum("n_tokens")).first()[0]
    budgets = {"web": int(total_web * 0.5), "src9": 10**12}

    out: dict[str, float | int] = {"docs": corpus.count(), "web_budget": budgets["web"]}
    t, n_fast = timed(
        "bucketed two-phase",
        lambda: budgeted_mixture(corpus, "doc_id", "source", "n_tokens", budgets).count(),
    )
    out["bucketed_sec"], out["kept"] = round(t, 1), n_fast
    t, n_naive = timed(
        "naive per-domain window",
        lambda: budgeted_mixture_naive(
            corpus, "doc_id", "source", "n_tokens", budgets
        ).count(),
    )
    out["naive_sec"] = round(t, 1)
    assert n_fast == n_naive, (n_fast, n_naive)
    # true set equality, not just cardinality: symmetric difference empty
    fast_df = budgeted_mixture(corpus, "doc_id", "source", "n_tokens", budgets)
    naive_df = budgeted_mixture_naive(corpus, "doc_id", "source", "n_tokens", budgets)
    diff = fast_df.exceptAll(naive_df).count() + naive_df.exceptAll(fast_df).count()
    assert diff == 0, f"bucketed vs naive row sets differ by {diff} rows"
    return out


def zipf_word_table(spark: SparkSession, n_words: int) -> DataFrame:
    """Deterministic Zipf-ish word-frequency table: n_words distinct
    pseudo-words (md5-derived letters, length 4-11) with counts ~ 1/rank^0.9
    — the tie-sparse head a natural-language corpus has, which the
    synthetic documents table (31 base words, 5-way replication ties)
    does not."""
    path = os.path.join(CACHE, f"zipf_words_{n_words}")
    if not os.path.isdir(path):
        ids = spark.range(n_words).repartition(32)
        hexs = F.md5(F.col("id").cast("string"))
        word = F.concat(
            F.translate(
                F.substring(hexs, 1, (F.col("id") % 8 + 4).cast("int")),
                "0123456789abcdef",
                "abcdefghijklmnop",
            ),
        )
        cnt = (F.lit(10**9) / F.pow(F.col("id") + 1, F.lit(0.9))).cast("long") + 1
        ids.select(word.alias("word"), cnt.alias("cnt")).groupBy("word").agg(
            F.max("cnt").alias("cnt")
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def run_bpe_scale(spark: SparkSession, sf_dir: str, factor: int) -> dict:
    """Distributed BPE trainer rung, two legs.

    Leg 1 (the 100 TB claim): per-pass training cost on a REALISTIC
    vocabulary — a Zipf word-frequency table with factor*100K distinct
    words. After the single corpus pass, training cost depends only on
    this table; the leg measures per-merge wall time and the _safe_batch
    multi-merge win on a tie-sparse (natural-language-like) count
    distribution, asserting the batched merge list equals sequential BPE.

    Leg 2 (corpus plumbing): word-frequency build + word-table encode
    join throughput on the scaled documents corpus. NOTE the synthetic
    corpus is a batching WORST CASE (31 base words x 5-way replication
    ties force near-singleton safe batches) — disclosed, and the
    exactness assert is the point there, not speedup."""
    from f1_datalakehouse_pipeline_spark.operators import bpe

    out: dict[str, float | int] = {}

    # ---- leg 1: Zipf vocabulary ------------------------------------
    n_words = factor * 100_000
    wt = zipf_word_table(spark, n_words).localCheckpoint(eager=True)
    out["zipf_words"] = wt.count()
    n_merges = 256
    stats_b: dict = {}
    t, _ = timed(
        f"zipf train {n_merges} merges (pairs_per_pass=64)",
        lambda: len(
            bpe.bpe_train_from_words(
                wt, n_merges, pairs_per_pass=64, stats=stats_b
            ).merges
        ),
    )
    out["zipf_train_batched_sec"] = round(t, 1)
    out["zipf_batched_passes"] = stats_b["passes"]
    n_seq = 32
    stats_s: dict = {}
    t, _ = timed(
        f"zipf train {n_seq} merges (pairs_per_pass=1)",
        lambda: len(
            bpe.bpe_train_from_words(
                wt, n_seq, pairs_per_pass=1, stats=stats_s
            ).merges
        ),
    )
    out["zipf_train_seq_sec"] = round(t, 1)
    out["zipf_per_merge_batched_sec"] = round(
        out["zipf_train_batched_sec"] / n_merges, 3
    )
    out["zipf_per_merge_seq_sec"] = round(out["zipf_train_seq_sec"] / n_seq, 3)
    out["zipf_batching_speedup"] = round(
        out["zipf_per_merge_seq_sec"] / out["zipf_per_merge_batched_sec"], 1
    )
    mb = bpe.bpe_train_from_words(wt, n_seq, pairs_per_pass=64)
    ms = bpe.bpe_train_from_words(wt, n_seq, pairs_per_pass=1)
    assert mb.merges == ms.merges, "zipf: batched != sequential"

    # ---- leg 2: corpus plumbing on scaled docs ----------------------
    docs = scaled_docs(spark, sf_dir, factor)
    out["docs"] = docs.count()
    t, n = timed(
        "word_frequency_table (one corpus pass)",
        lambda: bpe.word_frequency_table(docs, "text").count(),
    )
    out["wordfreq_sec"], out["corpus_words"] = round(t, 1), n
    corpus_stats: dict = {}
    n_corpus_merges = 48
    t, _ = timed(
        f"corpus train {n_corpus_merges} merges (pairs_per_pass=64, tie-heavy worst case)",
        lambda: len(
            bpe.bpe_train(
                docs, "text", n_corpus_merges, pairs_per_pass=64,
                stats=corpus_stats,
            ).merges
        ),
    )
    out["corpus_train_sec"] = round(t, 1)
    out["corpus_passes"] = corpus_stats["passes"]
    model_b = bpe.bpe_train(docs, "text", n_corpus_merges, pairs_per_pass=64)
    model_s = bpe.bpe_train(docs, "text", n_corpus_merges, pairs_per_pass=1)
    assert model_b.merges == model_s.merges, "corpus: batched != sequential"

    words = bpe.word_frequency_table(docs, "text")
    model = model_b
    t, _ = timed(
        "bpe_word_table (merges applied once per distinct word)",
        lambda: bpe.bpe_word_table(words, model).count(),
    )
    out["word_table_sec"] = round(t, 1)
    table = bpe.bpe_word_table(words, model).localCheckpoint(eager=True)
    t, n = timed(
        "encode corpus via vocabulary join (long form)",
        lambda: bpe.bpe_encode_with_table(
            docs, "doc_id", "text", table
        ).count(),
    )
    out["encode_sec"] = round(t, 1)
    out["pieces"] = n
    out["encode_rows_per_sec"] = int(n / t) if t > 0 else 0
    return out


def run_compaction_scale(
    spark: SparkSession, sf_dir: str, factor: int, shingle_buckets: int | None = None
) -> dict:
    """Small-file recovery rung (VERDICT r5 item 3): build a novelty index
    by appending ``factor`` per-batch deltas — the streaming-ingest file
    pattern, one parquet file per component per batch — then measure the
    SAME batch probe before and after :func:`compact_novelty_index`.
    Asserts the pair set is identical; reports file counts and probe wall
    (median of 3) on both sides, i.e. how much of the per-batch probe is
    file-listing/footer overhead that compaction reclaims."""
    import shutil
    import statistics

    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _append_index,
        _count_files,
        _read_index,
        compact_novelty_index,
    )

    docs = scaled_docs(spark, sf_dir, 10)
    n = docs.count()
    idx_path = os.path.join(
        CACHE, f"compact_idx_{factor}_{shingle_buckets or 0}"
    )
    shutil.rmtree(idx_path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS novelty_shingles_{__import__('hashlib').md5(os.path.abspath(idx_path).encode()).hexdigest()[:12]}")
    r: dict = {"docs": n, "batches": factor, "shingle_buckets": shingle_buckets}
    t0 = time.perf_counter()
    for b in range(factor):
        batch = docs.filter(F.col("doc_id") % factor == b)
        _append_index(
            idx_path,
            dedup.minhash_band_index(batch, "doc_id", "text", max_doc_frequency=1000),
            shingle_buckets=shingle_buckets,
        )
    r["append_sec"] = round(time.perf_counter() - t0, 1)
    r["files_before"] = _count_files(idx_path)

    probe = docs.filter(F.col("doc_id") % 97 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )

    def probe_pairs() -> set:
        index = _read_index(spark, idx_path)
        return {
            (x.doc_new, x.doc_hist)
            for x in dedup.novelty_pairs(
                probe, index, "doc_id", "text",
                threshold=0.5, max_doc_frequency=1000,
            ).collect()
        }

    def median_probe() -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            probe_pairs()
            times.append(time.perf_counter() - t0)
        return round(statistics.median(times), 2)

    before_pairs = probe_pairs()  # warm + correctness anchor
    r["probe_before_sec"] = median_probe()
    t0 = time.perf_counter()
    r["compact_stats"] = compact_novelty_index(spark, idx_path)
    r["compact_sec"] = round(time.perf_counter() - t0, 1)
    r["files_after"] = _count_files(idx_path)
    after_pairs = probe_pairs()
    assert after_pairs == before_pairs, (
        f"probe changed: {len(before_pairs)} -> {len(after_pairs)} pairs"
    )
    r["pairs"] = len(before_pairs)
    r["probe_after_sec"] = median_probe()
    r["probe_speedup"] = round(
        r["probe_before_sec"] / max(r["probe_after_sec"], 1e-9), 2
    )
    print(f"  {r}", flush=True)
    return r


def run_bpe_budget_scale(
    spark: SparkSession, sf_dir: str, factor: int, budget: int = 8192
) -> dict:
    """Realistic-merge-budget trainer rung (VERDICT r5 item 7): train
    ``budget`` merges on the factor*100K-word Zipf table and measure where
    multi-merge CONFLICTS bind — per-pass batch sizes shrink as the merge
    frontier crowds (composed symbols collide with pending candidates), so
    pass count grows faster than budget/pairs_per_pass. One training run
    yields the whole curve (stats["batch_sizes"] is cumulative), plus a
    ≥1K-merge encode-throughput leg through the word-table join — the only
    encode form that exists at this budget (inline expressions cap out at
    engine recursion limits near a few hundred merges)."""
    from f1_datalakehouse_pipeline_spark.operators import bpe

    out: dict = {"budget": budget}
    wt = zipf_word_table(spark, factor * 100_000).localCheckpoint(eager=True)
    out["zipf_words"] = wt.count()
    stats: dict = {}
    t0 = time.perf_counter()
    model = bpe.bpe_train_from_words(wt, budget, pairs_per_pass=64, stats=stats)
    t = time.perf_counter() - t0
    out["merges_learned"] = len(model.merges)
    out["train_sec"] = round(t, 1)
    out["passes"] = stats["passes"]
    sizes = stats["batch_sizes"]
    # pass-count growth at power-of-two budgets, from the one run
    cum, marks = 0, {}
    for i, b in enumerate(sizes, start=1):
        cum += b
        for m in (1024, 2048, 4096, 8192, 16384, 32768):
            if m not in marks and cum >= m:
                marks[m] = i
    out["passes_at_budget"] = {str(m): p for m, p in sorted(marks.items())}
    qs = [len(sizes) // 4, len(sizes) // 2, (3 * len(sizes)) // 4, len(sizes) - 1]
    out["batch_size_quartiles"] = [sizes[q] for q in qs if 0 <= q < len(sizes)]
    out["avg_batch_size"] = round(sum(sizes) / max(len(sizes), 1), 1)
    out["sec_per_merge"] = round(t / max(len(model.merges), 1), 4)

    # encode leg at this budget: the word-table join is the ONLY encode form
    # here (inline expression depth = merges); throughput over the Zipf
    # vocabulary expanded into a synthetic corpus of one row per word
    t, _ = timed(
        f"bpe_word_table ({len(model.merges)} merges once per distinct word)",
        lambda: bpe.bpe_word_table(wt, model).count(),
    )
    out["word_table_sec"] = round(t, 1)
    table = bpe.bpe_word_table(wt, model).localCheckpoint(eager=True)
    corpus = wt.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("word").alias("text"),
    )
    t, n = timed(
        "encode via vocabulary join (long form)",
        lambda: bpe.bpe_encode_with_table(corpus, "doc_id", "text", table).count(),
    )
    out["encode_sec"] = round(t, 1)
    out["pieces"] = n
    out["encode_pieces_per_sec"] = int(n / t) if t > 0 else 0
    print(f"  {out}", flush=True)
    return out


def generate_bronze_scaled(
    spark: SparkSession,
    root: str,
    n_gp: int = 100,
    n_drivers: int = 20,
    n_laps: int = 1250,
    year: int = 2025,
) -> None:
    """Distributed F1-shaped bronze generator (pure Spark, no driver loops).

    Same shape as tests/fixtures_f1.generate_bronze — Hive-partitioned
    parquet per endpoint under year=/grand_prix=/session_type= — but built
    entirely with native expressions and written with partitionBy, so the
    2.5M-lap rung generates in parallel (the pandas fixture is driver-side
    and tops out around thousands of rows). Data is reconciliation-clean:
    points always match the position-derived table, so the quality gate must
    report zero violations.
    """
    if os.path.isdir(os.path.join(root, "pit")):
        return  # complete (pit is written last)
    if os.path.isdir(root):
        import shutil as _shutil

        _shutil.rmtree(root)  # crashed partial generate: start clean
    from f1_datalakehouse_pipeline_spark.functions.f1 import POINTS_BY_POSITION

    gp = spark.range(n_gp).select(F.col("id").alias("gp"))
    drv = spark.range(1, n_drivers + 1).select(F.col("id").alias("drv"))
    sides = spark.range(2).select(F.col("id").alias("is_race"))

    slug = F.concat(F.lit("gp"), F.lpad(F.col("gp").cast("string"), 3, "0"))
    meeting_name = F.concat(F.initcap(slug), F.lit(" Grand Prix"))
    session_key = (F.lit(9000) + F.col("gp") * 2 + F.col("is_race")).cast("long")
    base_ts = F.lit(f"{year}-03-01 14:00:00").cast("timestamp")
    date_start = F.timestamp_seconds(
        F.unix_timestamp(base_ts) + (F.col("gp") * 2 + F.col("is_race")) * 86400
    )
    # deterministic position permutation per session: 7 is coprime with any
    # n_drivers not divisible by 7, giving a bijection driver -> position
    pos = ((F.col("drv") * 7 + F.col("gp") + F.col("is_race") * 3) % n_drivers + 1).cast("int")

    core = (
        gp.crossJoin(sides)
        .crossJoin(drv)
        .select(
            "gp",
            "is_race",
            "drv",
            session_key.alias("session_key"),
            (F.lit(1000) + F.col("gp")).cast("long").alias("meeting_key"),
            meeting_name.alias("meeting_name"),
            date_start.alias("date_start"),
            (date_start + F.expr("INTERVAL 2 HOURS")).alias("date_end"),
            pos.alias("pos"),
            slug.alias("grand_prix"),
            F.lit(year).alias("year"),
            F.when(F.col("is_race") == 1, "race").otherwise("qualifying").alias("session_type"),
        )
    )

    points_arr = F.array(*[F.lit(p) for p in POINTS_BY_POSITION])
    common = [
        "session_key",
        "meeting_key",
        "meeting_name",
        "date_start",
        "date_end",
        F.col("drv").cast("int").alias("driver_number"),
        F.col("pos").alias("position"),
        F.lit(False).alias("dnf"),
        F.lit(False).alias("dns"),
        F.lit(False).alias("dsq"),
        "year",
        "grand_prix",
        "session_type",
    ]
    race_sr = core.filter(F.col("is_race") == 1).select(
        *common,
        (F.lit(5400.0) + F.col("pos") * 9.5).alias("duration"),
        F.when(F.col("pos") > 1, F.col("pos") * 9.5).alias("gap_to_leader"),
        F.when(F.col("pos") <= 10, F.element_at(points_arr, F.col("pos")))
        .otherwise(0)
        .cast("int")
        .alias("points"),
    )
    q1 = F.round(F.lit(78.0) + F.col("pos") * 0.35, 3)
    quali_sr = core.filter(F.col("is_race") == 0).select(
        *common,
        F.filter(
            F.array(
                q1,
                F.when(F.col("pos") <= 15, q1 - 0.4),
                F.when(F.col("pos") <= 10, q1 - 0.8),
            ),
            lambda x: x.isNotNull(),
        ).alias("duration"),
        F.lit(None).cast("double").alias("gap_to_leader"),
        F.lit(0).alias("points"),
    )
    for df in (race_sr, quali_sr):
        df.write.mode("append").partitionBy("year", "grand_prix", "session_type").parquet(
            os.path.join(root, "session_result")
        )

    teams = [
        "Oracle Red Bull Racing", "Mercedes AMG Petronas", "Scuderia Ferrari",
        "McLaren", "Aston Martin", "Alpine", "Williams", "Visa Cash App RB",
        "Kick Sauber", "MoneyGram Haas F1 Team",
    ]
    team_arr = F.array(*[F.lit(t) for t in teams])
    # driver 7 changes teams mid-season: two SCD2 stints at any scale
    team_idx = F.when(
        (F.col("drv") == 7) & (F.col("gp") >= n_gp // 2),
        ((F.col("drv") - 1) / 2).cast("int") + 2,
    ).otherwise(((F.col("drv") - 1) / 2).cast("int") + 1)
    core.select(
        "session_key",
        F.col("drv").cast("int").alias("driver_number"),
        F.concat(F.lit("D DRIVER"), F.col("drv")).alias("broadcast_name"),
        F.concat(F.lit("Driver Number"), F.col("drv")).alias("full_name"),
        F.element_at(team_arr, ((team_idx - 1) % len(teams)) + 1).alias("team_name"),
        F.when(F.col("drv") % 2 == 1, "NED").otherwise("GBR").alias("country_code"),
        F.lpad(F.hex(F.col("drv")), 6, "0").alias("team_colour"),
        F.concat(F.lit("D"), F.lpad(F.col("drv").cast("string"), 2, "0")).alias("name_acronym"),
        "year",
        "grand_prix",
        "session_type",
    ).write.mode("overwrite").partitionBy("year", "grand_prix", "session_type").parquet(
        os.path.join(root, "drivers")
    )

    laps = spark.range(1, n_laps + 1).select(F.col("id").alias("lap"))
    lap_t = (
        F.lit(80.0)
        + F.col("pos") * 0.3
        + ((F.col("lap") * 7 + F.col("drv") * 13) % 50) / 25.0
    )
    core.filter(F.col("is_race") == 1).crossJoin(laps).select(
        "session_key",
        F.col("drv").cast("int").alias("driver_number"),
        F.col("lap").cast("int").alias("lap_number"),
        # ~2% NULL lap_duration exercises the sector-sum fallback at scale
        F.when((F.col("lap") + F.col("drv")) % 53 != 0, F.round(lap_t, 3)).alias("lap_duration"),
        F.round(lap_t * 0.3, 3).alias("duration_sector_1"),
        F.round(lap_t * 0.33, 3).alias("duration_sector_2"),
        F.round(lap_t * 0.37, 3).alias("duration_sector_3"),
        F.array(F.lit(2048), F.lit(2049)).alias("segments_sector_1"),
        F.array(F.lit(2051)).alias("segments_sector_2"),
        F.array(F.lit(2064), F.lit(2068)).alias("segments_sector_3"),
        "year",
        "grand_prix",
        "session_type",
    ).write.mode("overwrite").partitionBy("year", "grand_prix", "session_type").parquet(
        os.path.join(root, "laps")
    )

    stops = spark.range(2).select(F.col("id").alias("stop"))
    core.filter(F.col("is_race") == 1).crossJoin(stops).select(
        "session_key",
        F.col("drv").cast("int").alias("driver_number"),
        (F.lit(10) + F.col("stop") * 12 + F.col("drv") % 5).cast("int").alias("lap_number"),
        (F.lit(21000.0) + (F.col("drv") * 997 + F.col("stop") * 4001) % 14000).alias("pit_duration"),
        "year",
        "grand_prix",
        "session_type",
    ).write.mode("overwrite").partitionBy("year", "grand_prix", "session_type").parquet(
        os.path.join(root, "pit")
    )


def run_pipeline_scale(
    spark: SparkSession, n_gp: int = 100, n_drivers: int = 20, n_laps: int = 1250
) -> dict:
    """End-to-end F1 pipeline at ~100x the test fixture (VERDICT r2 item 6).

    The registry queries are scale-proven individually; this rung proves the
    PIPELINE COMPOSITION: bronze scan -> 6 silver transforms (SCD2 included)
    -> 4 gold transforms over ``n_gp * n_drivers * n_laps`` lap rows (default
    2.5M, ~670x the unit fixture's 3.7K), then the collected quality gate,
    then an INCREMENTAL one-GP rerun on the 100-partition table (exercising
    the transactional partition graft) asserted idempotent.
    """
    import shutil as _shutil

    from f1_datalakehouse_pipeline_spark.plans import pipeline as pl
    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

    root = os.path.join(CACHE, f"bronze_pipeline_{n_gp}x{n_drivers}x{n_laps}")
    t0 = time.perf_counter()
    generate_bronze_scaled(spark, root, n_gp=n_gp, n_drivers=n_drivers, n_laps=n_laps)
    r: dict = {"generate_sec": round(time.perf_counter() - t0, 1)}

    wh = os.path.join(CACHE, "wh_pipeline")
    _shutil.rmtree(wh, ignore_errors=True)
    store = TableStore(spark, wh)

    r["bronze_to_silver_sec"], _ = timed(
        "bronze->silver (6 transforms, HISTORICAL)",
        lambda: sum(
            pl.run_bronze_to_silver(spark, root, store, mode=pl.HISTORICAL).row_counts.values()
        ),
    )
    r["silver_to_gold_sec"], _ = timed(
        "silver->gold (4 transforms, HISTORICAL)",
        lambda: sum(pl.run_silver_to_gold(spark, store, mode=pl.HISTORICAL).row_counts.values()),
    )
    t0 = time.perf_counter()
    violations = {c.name: c.violations for c in pl.validate_silver(store)}
    r["quality_gate_sec"] = round(time.perf_counter() - t0, 1)
    r["quality_violations"] = violations
    assert all(n == 0 for n in violations.values()), violations

    expected_laps = n_gp * n_drivers * n_laps
    got_laps = store.read("laps_silver").count()
    assert got_laps == expected_laps, (got_laps, expected_laps)
    champ = store.read("championship_tracker").count()
    assert champ == n_gp * n_drivers, champ
    dim = store.read("drivers_silver")
    assert dim.filter("is_current").count() == n_drivers
    assert dim.count() == n_drivers + 1  # driver 7's team change = extra stint
    r["laps_silver_rows"] = got_laps
    r["championship_rows"] = champ

    before = got_laps
    r["incremental_one_gp_sec"], _ = timed(
        "incremental rerun (1 of n_gp partitions)",
        lambda: sum(
            pl.run_bronze_to_silver(
                spark, root, store, mode=pl.INCREMENTAL,
                grand_prix=f"gp{min(7, n_gp - 1):03d}",
            ).row_counts.values()
        ),
    )
    assert store.read("laps_silver").count() == before  # idempotent rerun
    return r


def timed(label: str, thunk) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = thunk()
    dt = time.perf_counter() - t0
    print(f"  {label}: {dt:.1f}s ({n} rows)", flush=True)
    return dt, n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="10,100")
    ap.add_argument("--big", action="store_true", help="add factor 1000 (~5M docs)")
    ap.add_argument("--boilerplate", action="store_true")
    ap.add_argument("--facts", action="store_true", help="scale the lineitem fact side instead of documents")
    ap.add_argument("--ann", action="store_true", help="scale the embeddings table: brute-force vs hyperplane-LSH top-k")
    ap.add_argument("--cdc", action="store_true", help="CDC cost-shape rung: fixed 10K-row change batch vs growing table — the file-served CDF read should stay FLAT while the snapshot-diff fallback grows")
    ap.add_argument("--funnel", action="store_true", help="behavioral-analytics rung: r8 funnel/cohort/transition/MAD/chisq queries on factor-scaled events + the textbook self-join funnel baseline")
    ap.add_argument("--pipeline", action="store_true", help="run the full F1 pipeline at ~2.5M lap rows")
    ap.add_argument("--novelty", action="store_true", help="measure incremental-probe amortization vs full self-join")
    ap.add_argument("--semantic", action="store_true", help="SemDeDup rung: pinned k = N/100 centroids, table assignment + within-cluster pair cost up the ladder")
    ap.add_argument("--semantic-skew", action="store_true", help="banding win on deliberately-giant clusters (k=16)")
    ap.add_argument("--semantic-divergence", action="store_true", help="chained-middle-member divergence of the incremental semantic gate vs one-shot, per eps (VERDICT r7 item 4)")
    ap.add_argument("--semantic-ingest", action="store_true", help="multi-batch semantic-state ladder: per-batch wall + semantic/ file growth with and without compaction folds (VERDICT r7 item 3)")
    ap.add_argument("--no-oneshot", action="store_true", help="with --corpus-incremental: skip the one-shot comparison leg (factors where it exceeds the disk budget)")
    ap.add_argument("--corpus", action="store_true", help="run the full corpus pipeline (plans/corpus.py) at scale")
    ap.add_argument("--mixture", action="store_true", help="bucketed vs naive budgeted_mixture on a 90%%-one-domain corpus")
    ap.add_argument("--corpus-incremental", action="store_true", help="batch-at-a-time corpus ingestion: per-batch cost curve vs one-shot rebuild")
    ap.add_argument("--bpe", action="store_true", help="distributed BPE trainer: per-pass cost, exact-batching speedup, join-encode throughput")
    ap.add_argument("--bpe-budget", type=int, default=0, help="realistic-merge-budget trainer rung: train N merges on the factor*100K-word Zipf table, report conflict-binding curve + encode throughput")
    ap.add_argument("--compaction", action="store_true", help="novelty-index small-file rung: factor per-batch appends, probe wall before/after compact_novelty_index (pair-set asserted identical)")
    ap.add_argument("--compaction-buckets", type=int, default=0, help="with --compaction: use the bucketed shingles layout with this bucket count")
    ap.add_argument("--corpus-stream", action="store_true", help="streaming (foreachBatch) corpus ingest wall time over ~10 micro-batches")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]
    if args.big:
        factors.append(1000)

    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}

    if args.pipeline:
        print("pipeline rung (2.5M laps):", flush=True)
        results["pipeline"] = run_pipeline_scale(spark)
        print(json.dumps(results, indent=2))
        return

    if args.facts:
        for factor in factors:
            print(f"fact factor {factor}:", flush=True)
            results[str(factor)] = run_fact_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.ann:
        for factor in factors:
            print(f"ann factor {factor}:", flush=True)
            results[str(factor)] = run_ann_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.cdc:
        for factor in factors:
            print(f"cdc factor {factor}:", flush=True)
            results[str(factor)] = run_cdc_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.funnel:
        for factor in factors:
            print(f"funnel factor {factor}:", flush=True)
            results[str(factor)] = run_funnel_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.bpe:
        for factor in factors:
            print(f"bpe factor {factor}:", flush=True)
            results[str(factor)] = run_bpe_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.compaction:
        for factor in factors:
            print(f"compaction factor {factor}:", flush=True)
            results[str(factor)] = run_compaction_scale(
                spark, args.sf_dir, factor,
                shingle_buckets=args.compaction_buckets or None,
            )
        print(json.dumps(results, indent=2))
        return

    if args.bpe_budget:
        for factor in factors:
            print(f"bpe-budget factor {factor} (budget {args.bpe_budget}):", flush=True)
            results[str(factor)] = run_bpe_budget_scale(
                spark, args.sf_dir, factor, budget=args.bpe_budget
            )
        print(json.dumps(results, indent=2))
        return

    if args.semantic_skew:
        for factor in factors:
            print(f"semantic-skew factor {factor}:", flush=True)
            results[str(factor)] = run_semantic_skew_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.semantic_divergence:
        for factor in factors:
            print(f"semantic-divergence factor {factor}:", flush=True)
            results[str(factor)] = run_semantic_divergence_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.semantic_ingest:
        for factor in factors:
            print(f"semantic-ingest factor {factor}:", flush=True)
            results[str(factor)] = run_semantic_ingest_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.semantic:
        for factor in factors:
            print(f"semantic factor {factor}:", flush=True)
            results[str(factor)] = run_semantic_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.novelty:
        for factor in factors:
            print(f"novelty factor {factor}:", flush=True)
            results[str(factor)] = run_novelty_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.corpus:
        for factor in factors:
            print(f"corpus factor {factor}:", flush=True)
            results[str(factor)] = run_corpus_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.corpus_stream:
        for factor in factors:
            print(f"corpus-stream factor {factor}:", flush=True)
            results[str(factor)] = run_corpus_stream_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    if args.corpus_incremental:
        for factor in factors:
            print(f"corpus-incremental factor {factor}:", flush=True)
            results[str(factor)] = run_corpus_incremental_scale(
                spark, args.sf_dir, factor, compare_oneshot=not args.no_oneshot
            )
        print(json.dumps(results, indent=2))
        return

    if args.mixture:
        for factor in factors:
            print(f"mixture factor {factor}:", flush=True)
            results[str(factor)] = run_mixture_scale(spark, args.sf_dir, factor)
        print(json.dumps(results, indent=2))
        return

    # warm codegen/shuffle paths so factor-1 overhead doesn't pollute slopes
    dedup.minhash_lsh_pairs(
        load_table(spark, args.sf_dir, "documents"), "doc_id", "text"
    ).count()

    for factor in factors:
        docs = scaled_docs(spark, args.sf_dir, factor, boilerplate=args.boilerplate)
        n_docs = docs.count()
        print(f"factor {factor}: {n_docs} docs", flush=True)
        r: dict = {"docs": n_docs}
        # boilerplate corpora need the df cap on the MinHash path too — shared
        # shingles otherwise dominate signatures and every band collides
        mh_cap = 32 if args.boilerplate else None
        r["minhash_lsh_sec"], r["minhash_pairs"] = timed(
            f"minhash_lsh (df cap {mh_cap})",
            lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", max_doc_frequency=mh_cap
            ).count(),
        )
        r["ngram_capped_sec"], r["ngram_capped_pairs"] = timed(
            "ngram_jaccard (df cap 32)",
            lambda: dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", max_doc_frequency=32
            ).count(),
        )
        if args.boilerplate:
            # The quadratic trap quantified WITHOUT running it: each shingle
            # in d docs generates d(d-1)/2 inverted-index candidate rows, so
            # the cost of capped vs uncapped is computable from doc
            # frequencies alone (one extra groupBy, no self-join).
            from f1_datalakehouse_pipeline_spark.operators.dedup import _shingle_table

            df_counts = (
                _shingle_table(docs, "doc_id", "text", 3)
                .groupBy("h")
                .agg(F.count(F.lit(1)).alias("df"))
            )
            pair_rows = F.sum(F.col("df") * (F.col("df") - 1) / 2)
            est = df_counts.agg(
                pair_rows.alias("uncapped"),
                F.sum(
                    F.when(F.col("df") <= 32, F.col("df") * (F.col("df") - 1) / 2).otherwise(0)
                ).alias("capped"),
            ).collect()[0]
            r["est_candidate_rows_uncapped"] = int(est["uncapped"])
            r["est_candidate_rows_capped"] = int(est["capped"])
            print(
                f"  inverted-index candidate rows: uncapped {int(est['uncapped']):,} "
                f"vs df<=32 capped {int(est['capped']):,}",
                flush=True,
            )
        results[str(factor)] = r

    if len(factors) >= 2:
        f0, f1 = str(factors[0]), str(factors[-1])
        ratio = factors[-1] / factors[0]
        for op in ("minhash_lsh_sec", "ngram_capped_sec"):
            growth = results[f1][op] / max(results[f0][op], 1e-9)
            results.setdefault("slopes", {})[op] = {
                "data_ratio": ratio,
                "time_ratio": round(growth, 2),
                "linear_ok": bool(growth <= 2 * ratio),
            }
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
