"""psi_drift / psi_summary (quality.py): population-stability monitoring.

Pinned claims: zero drift is exactly zero; hand-computed PSI matches to
float tolerance; a DuckDB replication of the full pipeline (fixed-width
ref-bound buckets + top-k categorical folding + eps-smoothed PSI) agrees
to 1e-9; out-of-range new values surface in __lo__/__hi__ guard buckets
instead of being clamped invisible; the detail row count is
columns x buckets, independent of input rows.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.quality import psi_drift, psi_summary
from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_identical_distribution_is_exactly_zero(spark):
    df = load_table(spark, SF_DIR, "orders")
    detail = psi_drift(
        df, df, numeric_cols=["o_totalprice"], categorical_cols=["o_orderpriority"]
    )
    rows = psi_summary(detail).collect()
    assert {r.column for r in rows} == {"o_totalprice", "o_orderpriority"}
    for r in rows:
        assert r.psi == 0.0, r  # shares equal -> log(1) == 0 exactly


def test_hand_computed_psi(spark):
    ref = spark.createDataFrame([(float(v),) for v in [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]], ["x"])
    new = spark.createDataFrame([(float(v),) for v in [0, 0, 0, 0, 0, 5, 5, 5, 9, 9]], ["x"])
    eps = 1e-6
    detail = psi_drift(ref, new, numeric_cols=["x"], n_buckets=5, eps=eps).collect()
    # ref bounds [0,9], width 1.8: ref = 2 per bucket (share .2 each);
    # new: b0 gets 5x0 -> .5 ; b2 gets 3x5 -> .3 ; b4 gets 2x9 -> .2 ; b1,b3 0
    want = {}
    for bucket, (pr, pn) in {
        "b0": (0.2, 0.5),
        "b1": (0.2, 0.0),
        "b2": (0.2, 0.3),
        "b3": (0.2, 0.0),
        "b4": (0.2, 0.2),
    }.items():
        want[bucket] = (pn - pr) * math.log((pn + eps) / (pr + eps))
    got = {r.bucket: r.psi_term for r in detail}
    assert set(got) == set(want)
    for b in want:
        assert abs(got[b] - want[b]) < 1e-12, (b, got[b], want[b])


def test_guard_buckets_catch_out_of_range(spark):
    ref = spark.createDataFrame([(float(v),) for v in range(100)], ["x"])
    new = spark.createDataFrame([(-5.0,), (50.0,), (1000.0,), (None,)], ["x"])
    got = {
        r.bucket: (r.n_ref, r.n_new)
        for r in psi_drift(ref, new, numeric_cols=["x"], n_buckets=4).collect()
    }
    assert got["__lo__"] == (0, 1)
    assert got["__hi__"] == (0, 1)  # 1000.0 > ref max
    assert got["__null__"] == (0, 1)
    # the ref max itself stays in the top real bucket (inclusive top edge)
    assert got["b3"][0] > 0
    assert sum(n for _, n in got.values()) == 4


def test_constant_reference_column_surfaces_drift(spark):
    """A CONSTANT reference column (lo == hi) must not swallow drifted new
    values into the degenerate b0 bucket — shifted values land in
    __lo__/__hi__ and the PSI reads nonzero."""
    ref = spark.createDataFrame([(12.0,)] * 5, ["x"])
    new = spark.createDataFrame([(12.0,), (120.0,), (1.0,)], ["x"])
    got = {
        r.bucket: (r.n_ref, r.n_new)
        for r in psi_drift(ref, new, numeric_cols=["x"], n_buckets=4).collect()
    }
    assert got["b0"] == (5, 1)
    assert got["__hi__"] == (0, 1)
    assert got["__lo__"] == (0, 1)
    psi = psi_summary(
        psi_drift(ref, new, numeric_cols=["x"], n_buckets=4)
    ).collect()[0].psi
    assert psi > 0.25


def test_all_null_reference_column_surfaces_noref_bucket(spark):
    """ADVICE r5: an all-null reference column has null bounds; every non-null
    new value must land in ONE explicit __noref__ guard bucket (PSI visibly
    maximal-ish) instead of a null bucket label the full-outer join can
    never match."""
    ref = spark.createDataFrame([(None,), (None,)], "x double")
    new = spark.createDataFrame([(1.0,), (2.0,), (None,)], "x double")
    got = {
        r.bucket: (r.n_ref, r.n_new)
        for r in psi_drift(ref, new, numeric_cols=["x"], n_buckets=4).collect()
    }
    assert None not in got
    assert got["__noref__"] == (0, 2)
    assert got["__null__"] == (2, 1)
    assert sum(n for _, n in got.values()) == 3


def test_psi_from_precomputed_reference_equals_direct(spark):
    """ADVICE r5: the streaming monitor precomputes the reference aggregates
    once (psi_reference) and scores batches with psi_drift_from_reference —
    which must equal the direct psi_drift bit-for-bit, materialized or not."""
    from f1_datalakehouse_pipeline_spark.quality import (
        psi_drift_from_reference,
        psi_reference,
    )

    ref = load_table(spark, SF_DIR, "orders")
    new = ref.filter(F.col("o_orderkey") % 3 == 0)
    kw = dict(numeric_cols=["o_totalprice"], categorical_cols=["o_orderpriority"])
    direct = {
        (r.column, r.bucket): (r.n_ref, r.n_new, r.psi_term)
        for r in psi_drift(ref, new, **kw).collect()
    }
    for materialize in (False, True):
        rs = psi_reference(ref, materialize=materialize, **kw)
        got = {
            (r.column, r.bucket): (r.n_ref, r.n_new, r.psi_term)
            for r in psi_drift_from_reference(rs, new).collect()
        }
        assert got == direct, materialize


def test_topk_folding(spark):
    ref = spark.createDataFrame(
        [(f"cat{i % 30}",) for i in range(300)], ["c"]
    )
    new = spark.createDataFrame([("cat0",), ("brand_new",)], ["c"])
    detail = psi_drift(ref, new, categorical_cols=["c"], top_k=5).collect()
    buckets = {r.bucket for r in detail}
    # 5 kept + __other__ (both the ref tail and the unseen new value)
    assert len([b for b in buckets if not b.startswith("__")]) == 5
    other = [r for r in detail if r.bucket == "__other__"][0]
    assert other.n_ref == 300 - 5 * 10 and other.n_new == 1


def test_detail_size_independent_of_rows(spark):
    df = load_table(spark, SF_DIR, "lineitem")
    detail = psi_drift(
        df,
        df.filter(F.col("l_quantity") > 10),
        numeric_cols=["l_quantity", "l_extendedprice"],
        categorical_cols=["l_returnflag"],
        n_buckets=8,
    )
    n = detail.count()
    assert n <= (8 + 3) * 2 + 10  # buckets+guards per col, not row-driven


@pytest.mark.slow
def test_matches_duckdb_replication(spark):
    """Full-pipeline agreement with an independent DuckDB implementation on
    real data: orders ref vs a value-shifted new batch."""
    ref = load_table(spark, SF_DIR, "orders")
    new = ref.withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.15
    ).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("5-LOW")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    n_buckets, top_k, eps = 10, 3, 1e-6
    got = {
        r.column: r.psi
        for r in psi_summary(
            psi_drift(
                ref,
                new,
                numeric_cols=["o_totalprice"],
                categorical_cols=["o_orderpriority"],
                n_buckets=n_buckets,
                top_k=top_k,
                eps=eps,
            )
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ref AS SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')"
    )
    con.execute(
        """CREATE VIEW new AS SELECT o_totalprice * 1.15 AS o_totalprice,
           CASE WHEN o_orderkey % 3 = 0 THEN '5-LOW' ELSE o_orderpriority END
             AS o_orderpriority FROM ref"""
    )
    duck_num = con.execute(
        f"""
        WITH b AS (SELECT min(o_totalprice) lo, max(o_totalprice) hi FROM ref),
        rb AS (SELECT CASE WHEN o_totalprice < lo THEN '__lo__'
                           WHEN o_totalprice > hi THEN '__hi__'
                           ELSE 'b' || CAST(LEAST(CAST(FLOOR((o_totalprice - lo)
                                / ((hi - lo) / {n_buckets}.0)) AS BIGINT),
                                {n_buckets - 1}) AS VARCHAR) END AS bucket
               FROM ref, b),
        nb AS (SELECT CASE WHEN o_totalprice < lo THEN '__lo__'
                           WHEN o_totalprice > hi THEN '__hi__'
                           ELSE 'b' || CAST(LEAST(CAST(FLOOR((o_totalprice - lo)
                                / ((hi - lo) / {n_buckets}.0)) AS BIGINT),
                                {n_buckets - 1}) AS VARCHAR) END AS bucket
               FROM new, b),
        rc AS (SELECT bucket, COUNT(*) n FROM rb GROUP BY 1),
        nc AS (SELECT bucket, COUNT(*) n FROM nb GROUP BY 1),
        j AS (SELECT COALESCE(rc.bucket, nc.bucket) bucket,
                     COALESCE(rc.n, 0) nr, COALESCE(nc.n, 0) nn
              FROM rc FULL JOIN nc ON rc.bucket = nc.bucket)
        SELECT SUM((nn / (SELECT SUM(nn) FROM j) - nr / (SELECT SUM(nr) FROM j))
                   * LN((nn / (SELECT SUM(nn) FROM j) + {eps})
                        / (nr / (SELECT SUM(nr) FROM j) + {eps}))) FROM j
        """
    ).fetchone()[0]
    duck_cat = con.execute(
        f"""
        WITH keep AS (SELECT o_orderpriority v FROM ref GROUP BY 1
                      ORDER BY COUNT(*) DESC, v LIMIT {top_k}),
        rb AS (SELECT CASE WHEN o_orderpriority IN (SELECT v FROM keep)
                           THEN o_orderpriority ELSE '__other__' END bucket FROM ref),
        nb AS (SELECT CASE WHEN o_orderpriority IN (SELECT v FROM keep)
                           THEN o_orderpriority ELSE '__other__' END bucket FROM new),
        rc AS (SELECT bucket, COUNT(*) n FROM rb GROUP BY 1),
        nc AS (SELECT bucket, COUNT(*) n FROM nb GROUP BY 1),
        j AS (SELECT COALESCE(rc.bucket, nc.bucket) bucket,
                     COALESCE(rc.n, 0) nr, COALESCE(nc.n, 0) nn
              FROM rc FULL JOIN nc ON rc.bucket = nc.bucket)
        SELECT SUM((nn / (SELECT SUM(nn) FROM j) - nr / (SELECT SUM(nr) FROM j))
                   * LN((nn / (SELECT SUM(nn) FROM j) + {eps})
                        / (nr / (SELECT SUM(nr) FROM j) + {eps}))) FROM j
        """
    ).fetchone()[0]
    assert abs(got["o_totalprice"] - duck_num) < 1e-9, (got["o_totalprice"], duck_num)
    assert abs(got["o_orderpriority"] - duck_cat) < 1e-9, (
        got["o_orderpriority"],
        duck_cat,
    )
    # and the shifted batch actually reads as drifted
    assert got["o_totalprice"] > 0.1
