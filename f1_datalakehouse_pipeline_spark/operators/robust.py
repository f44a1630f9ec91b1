"""Robust per-group statistics with an exact tier and a SKETCH tier.

The oracle-gated queries (``ts_mad_outliers``, ``a23_winsorize`` in
registry_ext.py) run the EXACT percentile machinery — a full sort per group,
bit-reproducible against DuckDB's quantile_cont, which is what a
hash-compare gate needs. Their docstrings promise the 100 TB form: swap the
exact percentiles for ``percentile_approx`` sketches (Spark's
Greenwald–Khanna variant: one map-combinable aggregate, bounded rank error
``1/accuracy``, no per-group sort) and keep the flag/clip projection
unchanged. This module IS that swap, one parameter apart from the exact
tier so the two can never drift structurally:

- ``accuracy=None``  → exact ``percentile`` (linear interpolation,
  matches SQL percentile_cont / DuckDB quantile_cont);
- ``accuracy=N``     → ``percentile_approx(..., N)`` (returns a real data
  value within rank error n/N — at accuracy 10⁴ on a 10⁹-row group the
  chosen element sits within ±10⁵ ranks of the true percentile).

Flag-agreement between the tiers is pinned in tests/test_pq.py: the sketch
tier reproduces ≥ 99% of the exact tier's outlier flags / clip decisions on
the test corpus — disagreements sit exactly on the percentile boundary,
which is the sketch's documented error surface, not a logic divergence.

Reference anchor: the reference engine has no robust-statistics operators
at all (SURVEY §2.4 ends at stddev); this extends the a13
approx-aggregation pattern to the median/MAD family.

Since the r11 fold (VERDICT r10 item 2) the oracle-gated registry queries
``ts_mad_outliers`` / ``a23_winsorize`` DELEGATE here with accuracy=None —
this module is the single implementation of both tiers, and the registry
rows re-verified against DuckDB the same round the fold landed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pct(col: str | Column, p: float, accuracy: int | None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if accuracy is None:
        return F.percentile(c, F.lit(p))
    return F.percentile_approx(c, F.lit(p), F.lit(accuracy))


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: list[str],
    k: float = 3.0,
    accuracy: int | None = None,
) -> DataFrame:
    """Median/MAD outlier flags per group: flag |x − med| > k·MAD.

    Two grouped percentiles + two broadcast joins of tiny per-group stats —
    the ``ts_mad_outliers`` shape with the percentile tier selectable. With
    ``accuracy`` set, both medians come from sketches: the per-group cost
    drops from a full sort to one mergeable aggregate, the 100 TB path."""
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(_pct(v, 0.5, accuracy).alias("med"))
    dev = (
        df.join(F.broadcast(med), group_col)
        .select(*id_cols, group_col, v.alias(value_col), "med")
        .withColumn("absdev", F.abs(F.col(value_col) - F.col("med")))
    )
    mad = dev.groupBy(group_col).agg(
        _pct(F.col("absdev"), 0.5, accuracy).alias("mad")
    )
    return dev.join(F.broadcast(mad), group_col).select(
        *id_cols,
        group_col,
        value_col,
        "med",
        "mad",
        (F.col("absdev") > F.lit(k) * F.col("mad")).alias("is_outlier"),
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
    accuracy: int | None = None,
) -> DataFrame:
    """Clip values to their group's [lo, hi] percentile band (the
    ``a23_winsorize`` shape, tier selectable; NULL values excluded — the
    NULL-clip hazard documented there applies to both tiers)."""
    e = df.filter(F.col(value_col).isNotNull())
    v = F.col(value_col).cast("double")
    bounds = e.groupBy(group_col).agg(
        _pct(v, lo, accuracy).alias("lo"), _pct(v, hi, accuracy).alias("hi")
    )
    return e.join(F.broadcast(bounds), group_col).select(
        *id_cols,
        group_col,
        v.alias(value_col),
        F.least(F.greatest(v, F.col("lo")), F.col("hi")).alias(f"{value_col}_w"),
        ((v < F.col("lo")) | (v > F.col("hi"))).alias("clipped"),
    )
