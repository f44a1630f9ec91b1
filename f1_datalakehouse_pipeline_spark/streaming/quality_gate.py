"""Write-audit-publish (WAP) building blocks for the corpus admission gate.

``plans/corpus.run_corpus_pipeline_incremental`` audits each admitted batch
against declared checks before publication: :func:`audit_split` splits the
batch into clean rows, quarantined rows (with the names of the checks they
broke) and per-check violation counts, and :func:`_overwrite_batch` writes
each sink as an idempotent dynamic overwrite of the batch's own partition,
so a re-run batch replaces its partial output instead of appending beside it.

At 100 TB: the audit costs one pass over the batch (every check is a
conditional count in ONE aggregate, the same shared implementation as the
oracle-gated batch battery), and the metrics sink grows one row per check
per batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.quality import expectations_for_table


def _overwrite_batch(
    df: DataFrame,
    batch_id,
    path: str,
    stamp_col: str = "batch_id",
) -> None:
    """Idempotent per-batch sink write: dynamic partition overwrite of the
    batch's own ``<stamp_col>=`` partition. A crash-and-re-run of the same
    batch REPLACES its partial output instead of appending a duplicate — the
    idempotence exactly_once_batch_writer requires of its upsert.

    The dynamic mode is pinned ON THE WRITER (not inherited from the
    session): under Spark's default static partitionOverwriteMode a
    mode('overwrite').partitionBy(...) write deletes ALL existing
    partitions, which here would silently destroy every previously
    published batch for any caller whose session doesn't set the conf —
    the same per-writer pattern as sources/bronze.py."""
    (
        df.withColumn(stamp_col, F.lit(batch_id))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy(stamp_col)
        .parquet(path)
    )


def audit_split(
    batch_df: DataFrame, checks: dict[str, Column]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split one (already cached) batch into (clean, quarantined, metrics).

    ``checks`` maps check_name → boolean VIOLATION predicate (the
    ``expectations_for_table`` contract). Quarantined rows carry a
    ``violated_checks`` array naming every check they broke; metrics is one
    (check_name, violations, total) row per check, computed as conditional
    counts sharing one aggregate."""
    names = sorted(checks)
    flagged = batch_df.withColumn(
        "violated_checks",
        F.filter(
            F.array(
                *[
                    F.when(checks[n], F.lit(n)).otherwise(F.lit(None))
                    for n in names
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    clean = flagged.filter(F.size("violated_checks") == 0).drop("violated_checks")
    quarantined = flagged.filter(F.size("violated_checks") > 0)
    # the metrics battery IS the batch expectation battery — one shared
    # implementation so the corpus gate can never drift from the
    # oracle-gated dq_expectations counting semantics
    metrics = expectations_for_table(batch_df, "batch", checks).select(
        "check_name", "violations", "total"
    )
    return clean, quarantined, metrics
