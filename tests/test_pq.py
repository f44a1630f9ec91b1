"""Quantized vector search (SQ8 + PQ) and the r8 quality/outlier additions.

The oracle-gated native tiers (sim_sq8_quantized_topk, sim_pq_adc_topk,
sim_ivfpq_residual_topk) are hash-verified by the driver; these tests pin
what the oracle can't see: the encoder's tie-break and dimension guard, the
SQ8 error bound, and the expectation battery's counting.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark import quality
from f1_datalakehouse_pipeline_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pq_encode_native_matches_vectorized(emb):
    books = similarity.pq_codebook_pinned(emb, n_codes=8, m=8)
    native = {
        r.neighbor_id: list(r.codes)
        for r in similarity.pq_encode_native(emb, books).collect()
    }
    vec = {
        r.neighbor_id: list(r.codes) for r in similarity.pq_encode(emb, books).collect()
    }
    assert native == vec


def test_pq_encode_tie_picks_lowest_code(spark):
    # two identical codewords → both distances equal → code 0 wins
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    books = [[[5.0, 5.0], [5.0, 5.0], [0.0, 0.0]]]
    (row,) = similarity.pq_encode_native(emb, books).collect()
    assert list(row.codes) == [2]
    books_tied = [[[1.0, 2.0], [1.0, 2.0]]]
    (row,) = similarity.pq_encode_native(emb, books_tied).collect()
    assert list(row.codes) == [0]


def test_sq8_dequantize_within_half_step(emb):
    mins, maxs = similarity.sq8_minmax(emb, dim=64)
    deq = emb.select(
        F.col("embedding").cast("array<double>").alias("x"),
        similarity.sq8_dequantize(F.col("embedding"), mins, maxs).alias("d"),
    )
    maxerr = deq.select(
        F.max(
            F.aggregate(
                F.zip_with("x", "d", lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda acc, v: F.greatest(acc, v),
            )
        ).alias("m")
    ).first()["m"]
    half_step = max((mx - mn) / 255.0 / 2.0 for mn, mx in zip(mins, maxs))
    assert maxerr <= half_step * (1 + 1e-9)


def test_sq8_constant_dimension_is_exact(spark):
    emb = spark.createDataFrame(
        [(0, [3.5, 1.0]), (1, [3.5, 2.0])], "vec_id long, embedding array<double>"
    )
    mins, maxs = similarity.sq8_minmax(emb, dim=2)
    assert mins[0] == maxs[0] == 3.5
    rows = emb.select(
        similarity.sq8_dequantize(F.col("embedding"), mins, maxs).alias("d")
    ).collect()
    assert all(r.d[0] == 3.5 for r in rows)


def test_expectations_single_scan_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (None, "c")], "k long, v string"
    )
    out = {
        r.check_name: r
        for r in quality.expectations_for_table(
            df, "t", {"k_not_null": F.col("k").isNull(), "v_not_null": F.col("v").isNull()}
        ).collect()
    }
    assert out["k_not_null"].violations == 1 and not out["k_not_null"].passed
    assert out["v_not_null"].violations == 1
    assert all(r.total == 4 and r.tbl == "t" for r in out.values())


def test_expectation_ri_counts_orphans_and_null_keys(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], "ck long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    (row,) = quality.expectation_ri(child, parent, "ck", "pk", "ri", "child").collect()
    assert row.total == 4
    assert row.violations == 2  # the orphan 9 and the NULL key
    assert not row.passed


def test_mad_outliers_flags_planted_spike(spark, sf_dir):
    from f1_datalakehouse_pipeline_spark.registry_ext import ts_mad_outliers

    out = ts_mad_outliers(spark, sf_dir)
    pdf = out.toPandas()
    # flags exist both ways and |value - med| <= 3*mad for every non-outlier
    inl = pdf[~pdf.is_outlier.astype(bool)]
    assert ((inl.value - inl.med).abs() <= 3.0 * inl.mad + 1e-12).all()
    if pdf.is_outlier.astype(bool).any():
        o = pdf[pdf.is_outlier.astype(bool)]
        assert ((o.value - o.med).abs() > 3.0 * o.mad).all()


def test_pq_rejects_untileable_dim(emb):
    with pytest.raises(ValueError, match="tile"):
        similarity.pq_codebook_pinned(emb, n_codes=8, m=7)  # 64 % 7 != 0


def test_html_strip_decodes_amp_last(spark):
    from f1_datalakehouse_pipeline_spark.functions.text import (
        html_strip,
        html_tag_count,
    )

    df = spark.createDataFrame(
        [("<p>a &amp;lt; b</p>", ), ("x &lt; y &amp; z", )], "raw string"
    )
    got = [r.c for r in df.select(html_strip(F.col("raw")).alias("c")).collect()]
    # '&amp;lt;' is the ESCAPED text '&lt;' — it must NOT double-decode to '<'
    assert got == ["a &lt; b", "x < y & z"]
    tags = [r.t for r in df.select(html_tag_count(F.col("raw")).alias("t")).collect()]
    assert tags == [2, 0]


# ---------------------------------------------------------------------------
# operators/robust.py: the SKETCH tier the exact-percentile queries promise
# for 100 TB (percentile_approx swap, flag/clip projection unchanged).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, "events")


def test_robust_mad_exact_tier_known_values(spark):
    """Hand-computed median/MAD fixture. Before the r11 fold this compared
    robust.mad_outliers against the registry's inline duplicate; the
    registry query now DELEGATES here (the staged fold, VERDICT r10
    item 2), so the independent check is a known-answer fixture plus the
    DuckDB oracle on ts_mad_outliers itself."""
    from f1_datalakehouse_pipeline_spark.operators import robust

    # group g: values 1..5 → med=3, absdevs {2,1,0,1,2} → mad=1; k=1.5
    # flags only |x−3|>1.5 → ids 1 and 5. group h: constant → mad=0, no
    # flags (0 > 0 is false).
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 6)]
        + [(10 + i, "h", 7.0) for i in range(3)],
        "event_id int, event_type string, value double",
    )
    out = robust.mad_outliers(
        df, "event_type", "value", ["event_id"], k=1.5
    )
    assert out.columns == [
        "event_id", "event_type", "value", "med", "mad", "is_outlier",
    ]
    rows = {r.event_id: r for r in out.collect()}
    assert rows[3].med == 3.0 and rows[3].mad == 1.0
    assert {i for i, r in rows.items() if r.is_outlier} == {1, 5}
    assert rows[11].mad == 0.0 and not rows[11].is_outlier


def test_registry_robust_queries_delegate_to_tiered_impl(spark, sf_dir):
    """The r11 fold contract: the registry queries are the exact tier of
    operators/robust (accuracy=None) — column names and order are the
    oracle-compared surface, pinned here so a drift in robust.* column
    output fails fast instead of at the driver gate."""
    from f1_datalakehouse_pipeline_spark.registry_ext import (
        a23_winsorize,
        ts_mad_outliers,
    )

    assert ts_mad_outliers(spark, sf_dir).columns == [
        "event_id", "event_type", "value", "med", "mad", "is_outlier",
    ]
    assert a23_winsorize(spark, sf_dir).columns == [
        "event_id", "event_type", "value", "value_w", "clipped",
    ]


def test_robust_mad_sketch_tier_agrees_with_exact(events):
    from f1_datalakehouse_pipeline_spark.operators import robust

    exact = {
        r.event_id: r.is_outlier
        for r in robust.mad_outliers(
            events, "event_type", "value", ["event_id"]
        ).collect()
    }
    sketch = {
        r.event_id: r.is_outlier
        for r in robust.mad_outliers(
            events, "event_type", "value", ["event_id"], accuracy=10_000
        ).collect()
    }
    agree = sum(exact[i] == sketch[i] for i in exact) / len(exact)
    assert agree >= 0.99, agree


def test_robust_winsorize_exact_tier_known_values(spark):
    """Hand-computed winsorize fixture (see the MAD twin above for why this
    replaced the registry-duplicate comparison at the r11 fold). Values
    1..21 in one group: exact p05 = 2.0, p95 = 20.0 (linear interpolation
    on 20 intervals), so 1→2 and 21→20 clip, everything else passes; a
    NULL row is excluded entirely, not imputed."""
    from f1_datalakehouse_pipeline_spark.operators import robust

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 22)] + [(99, "g", None)],
        "event_id int, event_type string, value double",
    )
    out = robust.winsorize(df, "event_type", "value", ["event_id"])
    assert out.columns == ["event_id", "event_type", "value", "value_w", "clipped"]
    rows = {r.event_id: r for r in out.collect()}
    assert 99 not in rows
    assert rows[1].value_w == 2.0 and rows[1].clipped
    assert rows[21].value_w == 20.0 and rows[21].clipped
    assert all(
        rows[i].value_w == float(i) and not rows[i].clipped for i in range(2, 21)
    )


def test_robust_winsorize_sketch_tier_agrees_with_exact(events):
    from f1_datalakehouse_pipeline_spark.operators import robust

    exact = {
        r.event_id: (r.value_w, r.clipped)
        for r in robust.winsorize(
            events, "event_type", "value", ["event_id"]
        ).collect()
    }
    sketch = {
        r.event_id: (r.value_w, r.clipped)
        for r in robust.winsorize(
            events, "event_type", "value", ["event_id"], accuracy=10_000
        ).collect()
    }
    flag_agree = sum(
        exact[i][1] == sketch[i][1] for i in exact
    ) / len(exact)
    assert flag_agree >= 0.99, flag_agree
    # interior (unclipped-in-both) values pass through untouched either way
    interior = [
        i for i in exact if not exact[i][1] and not sketch[i][1]
    ]
    assert all(exact[i][0] == sketch[i][0] for i in interior)
