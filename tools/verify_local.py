"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01 (or a given dir), normalizes both results (columns sorted by name,
rows sorted by all columns), and reports row-count / schema-class / value
matches. Values are compared EXACTLY after a light normalization (floats by
bit-equality, Decimals → float, dates/timestamps → ISO strings) — stricter
than any sane hash, so a PASS here should be a PASS for the driver.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from f1_datalakehouse_pipeline_spark import get_spark
from f1_datalakehouse_pipeline_spark.sources.testdata import TESTDATA_TABLES

import __spark_entry__ as entrymod


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # Decimal / date / bytes objects → canonical form
            def conv(v):
                if v is None:
                    return None
                import datetime
                import decimal

                if isinstance(v, decimal.Decimal):
                    return float(v)
                if isinstance(v, (datetime.datetime, datetime.date)):
                    return v.isoformat()
                if isinstance(v, (list, np.ndarray)):
                    return tuple(
                        round(float(x), 9)
                        if isinstance(x, (int, float, np.floating, np.integer))
                        else x
                        for x in v
                    )
                return v

            df[c] = s.map(conv)
        elif np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif s.dtype == np.float32:
            df[c] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s.dtype):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s.dtype):
            df[c] = s.astype("boolean")
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    for c in a.columns:
        if len(a) != len(b):
            break
        sa, sb = a[c], b[c]
        if sa.dtype != sb.dtype and not (
            pd.api.types.is_numeric_dtype(sa) and pd.api.types.is_numeric_dtype(sb)
        ):
            problems.append(f"dtype[{c}]: spark={sa.dtype} oracle={sb.dtype}")
        try:
            eq = (sa.isna() & sb.isna()) | (sa == sb)
            neq = int((~eq).sum())
            if neq:
                idx = (~eq).idxmax()
                problems.append(
                    f"values[{c}]: {neq} mismatches, first at row {idx}: "
                    f"spark={sa[idx]!r} oracle={sb[idx]!r}"
                )
        except Exception as e:  # noqa: BLE001
            problems.append(f"compare[{c}] failed: {e}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}

    n_pass = n_fail = n_nosql = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"NOSQL {name}: {len(sdf)} rows (rows-only check) [{time.time()-t0:.1f}s]")
            n_nosql += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: oracle raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_nosql} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
