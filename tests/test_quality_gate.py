"""Write-audit-publish building blocks of the corpus admission gate:
per-batch expectation audit and quarantine routing (``audit_split``), and
the idempotent per-batch sink write (``_overwrite_batch``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.streaming.quality_gate import (
    _overwrite_batch,
    audit_split,
)

CHECKS = lambda: {  # noqa: E731 - fresh Column objects per test
    "custkey_not_null": F.col("o_custkey").isNull(),
    "status_enum": F.col("o_orderstatus").isNull()
    | ~F.col("o_orderstatus").isin("O", "F", "P"),
}


def _batch(spark, keys):
    return spark.createDataFrame(
        [(k, k * 10, "O") for k in keys],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )


def _by_batch(spark, path, stamp_col):
    return {
        r[stamp_col]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy(stamp_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_audit_split_routes_and_counts(spark):
    df = spark.createDataFrame(
        [(1, 10, "O"), (2, None, "F"), (3, 30, "X"), (4, None, "X")],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    clean, quarantined, metrics = audit_split(df, CHECKS())
    assert {r.o_orderkey for r in clean.collect()} == {1}
    q = {r.o_orderkey: sorted(r.violated_checks) for r in quarantined.collect()}
    assert q == {
        2: ["custkey_not_null"],
        3: ["status_enum"],
        4: ["custkey_not_null", "status_enum"],
    }
    m = {r.check_name: (r.violations, r.total) for r in metrics.collect()}
    assert m == {"custkey_not_null": (2, 4), "status_enum": (2, 4)}


def test_gate_sinks_survive_static_overwrite_mode(spark, tmp_path):
    """The per-batch sink overwrite pins partitionOverwriteMode=dynamic ON
    THE WRITER, so a caller whose session runs Spark's default STATIC mode
    still keeps every previously published batch — under static semantics
    batch 1's mode('overwrite') write would otherwise delete batch 0's
    partition. Both stamp forms are covered: long batch ids and the corpus
    gate's string ``batch_token``."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        ids = str(tmp_path / "by_id")
        _overwrite_batch(_batch(spark, [1, 2, 3]), 0, ids)
        _overwrite_batch(_batch(spark, [4, 5]), 1, ids)
        tokens = str(tmp_path / "by_token")
        _overwrite_batch(_batch(spark, [1]), "aa", tokens, stamp_col="batch_token")
        _overwrite_batch(_batch(spark, [2, 3]), "bb", tokens, stamp_col="batch_token")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert _by_batch(spark, ids, "batch_id") == {0: 3, 1: 2}
    assert _by_batch(spark, tokens, "batch_token") == {"aa": 1, "bb": 2}


def test_gate_rerun_overwrites_instead_of_duplicating(spark, tmp_path):
    """A batch re-processed with the same id (the worst-case replay) must
    REPLACE its partition, not append beside it, and leave every other
    batch's partition alone: the sinks are dynamic partition overwrites
    keyed by the batch id, which is the idempotence
    exactly_once_batch_writer requires of its upsert."""
    path = str(tmp_path / "sink")
    _overwrite_batch(_batch(spark, [1, 2, 3]), 0, path)
    _overwrite_batch(_batch(spark, [4, 5]), 1, path)
    first = _by_batch(spark, path, "batch_id")
    # the same batch again: identical sink
    _overwrite_batch(_batch(spark, [1, 2, 3]), 0, path)
    assert _by_batch(spark, path, "batch_id") == first == {0: 3, 1: 2}
    # a re-run that produced different rows replaces exactly its partition
    _overwrite_batch(_batch(spark, [7]), 0, path)
    got = {
        (r.batch_id, r.o_orderkey)
        for r in spark.read.parquet(path).select("batch_id", "o_orderkey").collect()
    }
    assert got == {(0, 7), (1, 4), (1, 5)}
