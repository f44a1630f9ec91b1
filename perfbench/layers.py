"""Per-layer metrics of the traced run: which functions are wrapped, and how
spans and Spark jobs turn into the per-layer numbers.

Every time and count is per timed operation: the traced window's total
divided by the operations in it. Layers a workload never calls read 0.
"""

from __future__ import annotations

import os

from spans import GROUP_PREFIX, SparkRest, Tracer, covered, dir_inodes

SILVER_TABLES = ("sessions_silver", "drivers_silver", "qualifying_results_silver",
                 "race_results_silver", "laps_silver", "pitstops_silver")
GOLD_TABLES = ("championship_tracker", "driver_performance_summary_race",
               "driver_performance_summary_qualifying", "race_weekend_insights")

TIMED_SPANS = (
    "sources.bronze.read_bronze", "sources.tables.write", "sources.tables.read",
    "plans.pipeline.run_bronze_to_silver", "plans.pipeline.run_silver_to_gold",
    "plans.pipeline.validate_silver", "plans.pipeline.detect_latest_grand_prix",
    "plans.silver.build", "plans.gold.build", "operators.scd2.merge_incremental",
    "quality.run_checks", "plans.corpus.run",
    "operators.dedup.exact_dedup", "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.apply_dedup", "sources.shards.write",
)
#: end-to-end metrics whose traced-minus-untraced difference is reported;
#: set-up ends before tracing starts, and stored bytes are not a timing
OVERHEAD_OF = {"latency_p50_s": "s", "peak_rss_mb": "MB"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    u = {"session.get_spark_s": "s", "session.warmup_s": "s"}
    u.update({f"{n}_s": "s" for n in TIMED_SPANS})
    u.update({
        "sources.bronze.read_bronze_calls": "count", "sources.bronze.files_matched": "count",
        "sources.tables.commit_s": "s", "sources.tables.files_written": "count",
        "sources.tables.bytes_written": "bytes", "sources.tables.files_linked": "count",
        "quality.violations": "count",
    })
    u.update({f"plans.silver.{t}.exec_s": "s" for t in SILVER_TABLES})
    u.update({f"plans.gold.{t}.exec_s": "s" for t in GOLD_TABLES})
    u.update({f"plans.corpus.{k}": "count" for k in ("docs_in", "docs_after_exact", "docs_after_near", "chunks")})
    u.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.driver_gap_s": "s", "spark.executor_run_s": "s", "spark.core_busy_ratio": "ratio",
        "spark.gc_s": "s", "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.output_bytes": "bytes",
    })
    u.update({f"trace.overhead.{m}": unit for m, unit in OVERHEAD_OF.items()})
    return u


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions at the name its caller resolves."""
    from f1_datalakehouse_pipeline_spark import quality
    from f1_datalakehouse_pipeline_spark.operators import dedup
    from f1_datalakehouse_pipeline_spark.plans import corpus, gold, pipeline, silver
    from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

    w = tracer.wrap
    # pipeline imports read_bronze and scd2_merge_incremental by name
    w(pipeline, "read_bronze", "sources.bronze.read_bronze",
      on_result=lambda a, df: a.update(files=len(df.inputFiles())))
    w(pipeline, "scd2_merge_incremental", "operators.scd2.merge_incremental")
    for fn in ("run_bronze_to_silver", "run_silver_to_gold", "validate_silver",
               "detect_latest_grand_prix"):
        w(pipeline, fn, f"plans.pipeline.{fn}")
    for mod, layer in ((silver, "plans.silver"), (gold, "plans.gold")):
        for fn in dir(mod):
            if fn.startswith("transform_"):
                w(mod, fn, f"{layer}.build")
    w(quality, "run_checks", "quality.run_checks",
      on_result=lambda a, res: a.update(violations=sum(c.violations for c in res)))

    # file counts from the warehouse directory before and after each write
    def before_write(a, args, kwargs):
        store, table = args[0], kwargs.get("table", args[2] if len(args) > 2 else None)
        a.update(table=table, root=store.root, before=dir_inodes(store.root))

    def after_write(a, _):
        before = a.pop("before")
        new = {i: n for i, n in dir_inodes(a["root"]).items() if i not in before}
        live = os.path.realpath(os.path.join(a["root"], a["table"]))
        a.update(files_written=len(new), bytes_written=sum(new.values()),
                 files_linked=sum(1 for i in dir_inodes(live) if i in before))

    for fn in ("overwrite", "overwrite_partitions"):
        w(TableStore, fn, "sources.tables.write", on_call=before_write, on_result=after_write)
    for fn in ("read", "read_pinned"):
        w(TableStore, fn, "sources.tables.read")
    w(corpus, "run_corpus_pipeline", "plans.corpus.run",
      on_result=lambda a, rep: a.update(counts=dict(rep.counts)))
    for fn in ("exact_dedup", "minhash_lsh_pairs", "apply_dedup"):
        w(dedup, fn, f"operators.dedup.{fn}")
    # corpus imports write_training_shards by name
    w(corpus, "write_training_shards", "sources.shards.write")


def compute(tracer: Tracer, rest: SparkRest, first_job: int, window: tuple[float, float],
            n_ops: int, cores: int, gc_ms: int) -> dict:
    """Per-layer metrics of the traced window."""
    lo, hi = window
    spans = [s for s in tracer.spans if s.start >= lo and s.end <= hi]
    by_sid = {s.sid: s for s in tracer.spans}
    jobs = rest.jobs_since(first_job)
    jobs_by_group: dict[str, list] = {}
    for j in jobs:
        jobs_by_group.setdefault(j.group, []).append(j)
    n = max(1, n_ops)
    m = dict.fromkeys(metric_units(), 0.0)

    def outermost(s) -> bool:
        p = s.parent
        while p is not None:
            if by_sid[p].name == s.name:
                return False
            p = by_sid[p].parent
        return True

    def job_time(s) -> float:
        iv = [(j.start, j.end) for sid in tracer.descendants(s.sid)
              for j in jobs_by_group.get(f"{GROUP_PREFIX}{sid}", [])]
        return covered(iv, s.start, s.end)

    for s in spans:
        if not outermost(s):
            continue
        m[f"{s.name}_s"] += s.seconds / n
        a = s.attrs
        if s.name == "sources.bronze.read_bronze":
            m["sources.bronze.read_bronze_calls"] += 1 / n
            m["sources.bronze.files_matched"] += a.get("files", 0) / n
        elif s.name == "sources.tables.write":
            in_jobs = job_time(s)
            m["sources.tables.commit_s"] += (s.seconds - in_jobs) / n
            for k in ("files_written", "bytes_written", "files_linked"):
                m[f"sources.tables.{k}"] += a.get(k, 0) / n
            layer = "silver" if a["table"] in SILVER_TABLES else "gold" if a["table"] in GOLD_TABLES else None
            if layer:
                m[f"plans.{layer}.{a['table']}.exec_s"] += in_jobs / n
        elif s.name == "quality.run_checks":
            m["quality.violations"] += a.get("violations", 0) / n
        elif s.name == "plans.corpus.run":
            c = a.get("counts", {})
            for k, src in (("docs_in", "raw"), ("docs_after_exact", "after_exact_dedup"),
                           ("docs_after_near", "after_near_dedup"), ("chunks", "chunks")):
                m[f"plans.corpus.{k}"] += c.get(src, 0) / n

    wall = hi - lo
    stage_ids = {sid for j in jobs for sid in j.stage_ids}
    stages = rest.stages(stage_ids)
    run_s = sum(st.get("executorRunTime", 0) for st in stages) / 1000
    m.update({
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(st.get("numCompleteTasks", 0) for st in stages) / n,
        "spark.driver_gap_s": (wall - covered([(j.start, j.end) for j in jobs], lo, hi)) / n,
        "spark.executor_run_s": run_s / n,
        "spark.core_busy_ratio": run_s / (wall * cores),
        "spark.gc_s": (rest.gc_ms() - gc_ms) / 1000 / n,
        "spark.input_bytes": sum(st.get("inputBytes", 0) for st in stages) / n,
        "spark.shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in stages) / n,
        "spark.output_bytes": sum(st.get("outputBytes", 0) for st in stages) / n,
    })
    return m
