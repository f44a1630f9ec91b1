"""Skew mitigation: salting for hot keys.

AQE's skew-join split (enabled in session.py, reference conf
f1_silver_to_gold_transform.py:97) handles most skew at runtime; the
explicit form is for the case AQE can't fix:

- salted_aggregate: two-phase aggregation for algebraic functions —
  partial groupBy((keys, salt)) then final groupBy(keys). Spark's hash
  aggregate already does map-side partials; the explicit form matters for
  countDistinct-like pipelines and for bounding reducer-side state on
  pathological keys.

Salts are deterministic (xxhash64 of the row's columns) so repeated runs
produce identical plans and results.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ALGEBRAIC = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
_FINAL = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    n_salt: int = 8,
) -> DataFrame:
    """Two-phase groupBy for algebraic aggs: {out_col: 'sum|count|min|max'}
    applied to the column of the same name (count counts rows)."""
    keys = list(keys)
    bad = set(aggs.values()) - set(_ALGEBRAIC)
    if bad:
        raise ValueError(f"non-algebraic aggs not supported here: {bad}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            *[
                (_ALGEBRAIC[fn](F.lit(1)) if fn == "count" else _ALGEBRAIC[fn](col))
                .alias(f"__p_{out}")
                for out, (col, fn) in ((o, (o, f)) for o, f in aggs.items())
            ]
        )
    )
    return partial.groupBy(*keys).agg(
        *[_FINAL[fn](f"__p_{out}").alias(out) for out, fn in aggs.items()]
    )
