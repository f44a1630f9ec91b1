"""Data-quality checks: invariants & reconciliations as DataFrames.

The reference defines validators but never wires them into jobs
(business_logic.py:670-743, common.py:620-654 — SURVEY §5.1); here each check
returns a violations DataFrame (empty ⇒ pass) so pipelines can collect counts
via one action (or `observe` metrics) instead of log-and-forget.

All checks are pure filters/aggregations — partition-parallel, no collect.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    violations: int
    sample: list


@dataclass
class RowCheck:
    """A check that is a row predicate over ``source``: ``violation`` flags
    a violating row. :func:`run_checks` counts every RowCheck over the same
    source frame in ONE conditional-count aggregate. The sample comes from
    ``rows`` (default: the flagged rows of ``source``)."""

    source: DataFrame
    violation: Column
    rows: DataFrame | None = None


def run_checks(checks: dict[str, "DataFrame | RowCheck"], sample_n: int = 5) -> list[CheckResult]:
    """Count each check's violations; keep a small sample of each.

    A DataFrame check is its violations frame, materialized once (a count
    runs only past ``sample_n`` rows). RowChecks sharing a source frame
    share one scan (the :func:`expectations_for_table` aggregate), and a
    sample is collected only for a check whose count is above 0."""
    batteries: dict[int, tuple[DataFrame, dict[str, Column]]] = {}
    for name, c in checks.items():
        if isinstance(c, RowCheck):
            batteries.setdefault(id(c.source), (c.source, {}))[1][name] = c.violation
    counts = {
        r["check_name"]: r["violations"]
        for src, preds in batteries.values()
        for r in expectations_for_table(src, "", preds).collect()
    }
    out = []
    for name, c in checks.items():
        if isinstance(c, RowCheck):
            n = counts[name]
            frame = c.source.filter(c.violation) if c.rows is None else c.rows
            rows = frame.limit(sample_n).collect() if n else []
        else:
            rows = c.limit(sample_n + 1).collect()
            n = c.count() if len(rows) > sample_n else len(rows)
        out.append(CheckResult(name, n, [r.asDict() for r in rows[:sample_n]]))
    return out


# --- range/invariant checks (business_logic.py:670-743 semantics) ----------
# Each check is a violation predicate plus the filter over it; run_checks
# counts the predicates of one table in a single pass.


def out_of_range(col: str, lo: int, hi: int) -> Column:
    c = F.col(col)
    return c.isNotNull() & ((c < lo) | (c > hi))


def position_out_of_range(col: str = "position", lo: int = 1, hi: int = 20) -> Column:
    return out_of_range(col, lo, hi)


def points_out_of_range(col: str = "validated_points", lo: int = 0, hi: int = 26) -> Column:
    return out_of_range(col, lo, hi)


def negative(col: str) -> Column:
    return F.col(col).isNotNull() & (F.col(col) < 0)


def check_position_range(df: DataFrame, col: str = "position", lo: int = 1, hi: int = 20) -> DataFrame:
    return df.filter(position_out_of_range(col, lo, hi))


def check_points_range(df: DataFrame, col: str = "validated_points", lo: int = 0, hi: int = 26) -> DataFrame:
    return df.filter(points_out_of_range(col, lo, hi))


def check_non_negative(df: DataFrame, col: str) -> DataFrame:
    return df.filter(negative(col))


# --- reconciliation (race_results_transform.py:133-191 semantics) ----------


def points_mismatch() -> Column:
    """API-reported points disagree with position-derived points."""
    return (
        F.col("points").isNotNull()
        & F.col("validated_points").isNotNull()
        & (F.col("points") != F.col("validated_points"))
    )


def reconcile_points(race_results_silver: DataFrame) -> DataFrame:
    """Rows where API-reported points disagree with position-derived points."""
    return race_results_silver.filter(points_mismatch()).select(
        "session_key", "driver_number", "position", "points", "validated_points"
    )


# --- SCD2 structural invariants (FIXTURES.md §5) ---------------------------


def check_scd2_single_current(dim: DataFrame, entity_col: str) -> DataFrame:
    """Entities with ≠1 open (is_current) row."""
    return (
        dim.filter(F.col("is_current"))
        .groupBy(entity_col)
        .agg(F.count(F.lit(1)).alias("n_open"))
        .filter(F.col("n_open") != 1)
    )


def check_scd2_contiguous(dim: DataFrame, entity_col: str) -> DataFrame:
    """Stints whose valid_to ≠ the next stint's valid_from (gap or overlap)."""
    w = Window.partitionBy(entity_col).orderBy("valid_from")
    return (
        dim.withColumn("__next_from", F.lead("valid_from").over(w))
        .filter(scd2_gap())
        .select(entity_col, "valid_from", "valid_to", "__next_from")
    )


def scd2_windowed(dim: DataFrame, entity_col: str) -> DataFrame:
    """``dim`` plus the per-entity columns the SCD2 row predicates read:
    ``__next_from`` (the next stint's valid_from), ``__n_open`` (the
    entity's open-row count) and ``__first`` (true on exactly one row per
    entity)."""
    w = Window.partitionBy(entity_col).orderBy("valid_from")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return dim.select(
        "*",
        F.lead("valid_from").over(w).alias("__next_from"),
        F.count(F.when(F.col("is_current"), 1)).over(whole).alias("__n_open"),
        (F.row_number().over(w) == 1).alias("__first"),
    )


def scd2_multi_current() -> Column:
    """Over :func:`scd2_windowed`: one row per entity that has more than one
    open row — the entities :func:`check_scd2_single_current` returns (an
    entity it sees has at least one open row, so ≠1 means >1)."""
    return F.col("__first") & (F.col("__n_open") > 1)


def scd2_gap() -> Column:
    """A stint whose valid_to ≠ the next stint's valid_from (needs
    ``__next_from``, as :func:`scd2_windowed` adds)."""
    return F.col("__next_from").isNotNull() & ~F.col("valid_to").eqNullSafe(
        F.col("__next_from")
    )


# --- schema compatibility (common.py:620-654 semantics) --------------------


def schema_diff(df: DataFrame, expected: "DataFrame | object") -> dict:
    """Missing / extra / type-mismatched columns vs an expected StructType."""
    from pyspark.sql.types import StructType

    exp: StructType = expected.schema if isinstance(expected, DataFrame) else expected
    actual = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in exp.fields}
    return {
        "missing": sorted(set(want) - set(actual)),
        "extra": sorted(set(actual) - set(want)),
        "type_mismatch": sorted(
            n for n in set(want) & set(actual) if want[n] != actual[n]
        ),
    }


def profile_columns(
    df: DataFrame, cols: list[str], approx: bool = True
) -> DataFrame:
    """Per-column table profile in ONE aggregation pass: row count, null
    count, distinct count, min/max (rendered as strings) — the governance
    snapshot a corpus/lakehouse catalog records per table version.

    ``approx=True`` (default, the 100 TB path): ONE wide ``agg`` computes
    every statistic with HyperLogLog distinct sketches — single scan,
    map-side-combinable, regardless of column count — then a pure projection
    explodes it to long form (column, n_rows, n_null, n_distinct, min_value,
    max_value). ``approx=False`` unions one per-column aggregation per
    column instead: exact COUNT(DISTINCT) in one shared agg plans an Expand
    that replicates every row ×(len(cols)+1) through the shuffle (measured
    6× slower than the union form at sf0.1 for 3 columns); per-column aggs
    each get their own clean two-phase plan at the cost of one scan per
    column — the right trade only for oracle checks and small dims.

    Timestamps format as ``yyyy-MM-dd HH:mm:ss``; other types use CAST —
    keep float columns out of exact cross-engine comparisons (binary→string
    rendering differs between engines).
    """
    from functools import reduce

    types = dict(df.dtypes)

    def fmt(c, name: str):
        if types.get(name, "").startswith("timestamp"):
            return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        return c.cast("string")

    if not approx:
        def per_col(c: str) -> DataFrame:
            return df.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.countDistinct(F.col(c)).alias("n_distinct"),
                fmt(F.min(c), c).alias("min_value"),
                fmt(F.max(c), c).alias("max_value"),
            )

        return reduce(
            lambda a, b: a.unionByName(b), [per_col(c) for c in cols]
        )

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.approx_count_distinct(c).alias(f"{c}__nd"),
            fmt(F.min(c), c).alias(f"{c}__min"),
            fmt(F.max(c), c).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col("__n").alias("n_rows"),
                    (F.col("__n") - F.col(f"{c}__nn")).alias("n_null"),
                    F.col(f"{c}__nd").alias("n_distinct"),
                    F.col(f"{c}__min").alias("min_value"),
                    F.col(f"{c}__max").alias("max_value"),
                )
                for c in cols
            ]
        )
    )
    return wide.select(stacked.alias("s")).select("s.*")


def psi_drift(
    ref: DataFrame,
    new: DataFrame,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    *,
    n_buckets: int = 10,
    top_k: int = 20,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-stability drift between a reference snapshot and a new
    batch — the monitor a training-data pipeline runs on every ingest
    (feature drift, crawl-source rot, upstream schema accidents).

    Output is long-form detail, one row per (column, bucket):
    ``column, bucket, n_ref, n_new, ref_share, new_share, psi_term``;
    ``psi_term = (new_share - ref_share) * ln((new_share+eps)/(ref_share+eps))``
    so ``SUM(psi_term) GROUP BY column`` is the classic PSI (rule of thumb:
    < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).

    Scale design (two scans total, zero collects):

    - numeric columns bucket by FIXED-WIDTH intervals over the REFERENCE
      min/max (the a19 exact-bucketing shape) — bounds travel as a 1-row
      broadcast cross join, never through the driver; out-of-range new
      values land in ``__lo__``/``__hi__`` guard buckets (drift you must
      SEE, not clamp away), nulls in ``__null__``;
    - categorical columns keep the top_k reference categories and fold the
      rest into ``__other__``; the top-k frame is a per-column window over
      the (column, value) counts, broadcast into both sides;
    - each side makes ONE pass: every column's bucket label is emitted via
      a projection-side explode, and the (column, bucket) partial counts
      map-side-combine to a result whose size is columns x buckets,
      independent of row count.

    PSI's ``ln`` is evaluated by each engine's libm, so cross-engine
    comparisons are tolerance-based (1e-9 in tests), not hash-exact —
    which is why this ships as a monitor, not a driver-gate oracle query.
    """
    r = psi_reference(
        ref, numeric_cols, categorical_cols, n_buckets=n_buckets, top_k=top_k
    )
    return psi_drift_from_reference(r, new, eps=eps)


@dataclass
class PsiReference:
    """Precomputed reference-side aggregates for PSI scoring: numeric bounds
    (1 row), categorical top-k keep-list (≤ top_k rows/column), and the
    reference bucket counts (columns × buckets rows). Everything a repeated
    scorer needs — :func:`psi_drift_from_reference` makes ONE pass over the
    new batch and never rescans the reference. Built by
    :func:`psi_reference`; pass ``materialize=True`` there when the same
    reference scores many batches."""

    numeric_cols: list[str]
    categorical_cols: list[str]
    n_buckets: int
    bounds: DataFrame | None
    topk: DataFrame | None
    ref_counts: DataFrame


def psi_reference(
    ref: DataFrame,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
    *,
    n_buckets: int = 10,
    top_k: int = 20,
    materialize: bool = False,
) -> PsiReference:
    """Compute the reference side of :func:`psi_drift` once. With
    ``materialize=True`` the three aggregates are localCheckpointed eagerly
    (they are tiny — one bounds row, ≤ top_k rows per categorical column,
    columns × buckets count rows), so a per-batch scorer's cost is
    O(batch), independent of reference size."""
    numeric_cols = list(numeric_cols or [])
    categorical_cols = list(categorical_cols or [])
    if not numeric_cols and not categorical_cols:
        raise ValueError("psi_drift: no columns given")

    bounds = None
    if numeric_cols:
        aggs = []
        for c in numeric_cols:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"__lo_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"__hi_{c}"))
        bounds = ref.agg(*aggs)
        if materialize:
            bounds = bounds.localCheckpoint(eager=True)

    topk = None
    if categorical_cols:
        cats = ref.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("__col"),
                            F.col(c).cast("string").alias("__val"),
                        )
                        for c in categorical_cols
                    ]
                )
            ).alias("p")
        ).select("p.*").filter(F.col("__val").isNotNull())
        counts = cats.groupBy("__col", "__val").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("__col").orderBy(F.desc("n"), "__val")
        topk = (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_k)
            .select("__col", "__val")
        )
        if materialize:
            topk = topk.localCheckpoint(eager=True)

    ref_counts = _psi_bucketed(
        ref, numeric_cols, categorical_cols, n_buckets, bounds, topk
    ).withColumnRenamed("n", "n_ref")
    if materialize:
        ref_counts = ref_counts.localCheckpoint(eager=True)
    return PsiReference(
        numeric_cols, categorical_cols, n_buckets, bounds, topk, ref_counts
    )


def _psi_bucketed(
    df: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str],
    n_buckets: int,
    bounds: DataFrame | None,
    topk: DataFrame | None,
) -> DataFrame:
    labels = []
    for c in numeric_cols:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        width = (hi - lo) / F.lit(float(n_buckets))
        idx = F.floor((F.col(c).cast("double") - lo) / width)
        label = (
            F.when(F.col(c).isNull(), F.lit("__null__"))
            # all-null reference column → no bounds at all: surface as ONE
            # explicit guard bucket instead of null-keyed rows the
            # full-outer join can never match (ADVICE r5)
            .when(lo.isNull() | hi.isNull(), F.lit("__noref__"))
            # guard buckets BEFORE the degenerate-range branch: a CONSTANT
            # reference column (lo == hi) must still surface drifted new
            # values in __lo__/__hi__ — routing everything to b0 would read
            # PSI exactly 0 on a shifted batch
            .when(F.col(c).cast("double") < lo, F.lit("__lo__"))
            .when(F.col(c).cast("double") > hi, F.lit("__hi__"))
            .when(hi <= lo, F.lit("b0"))  # degenerate ref range, in-range value
            .otherwise(
                F.concat(
                    F.lit("b"),
                    F.least(idx, F.lit(n_buckets - 1)).cast("string"),
                )
            )
        )
        labels.append(
            F.struct(F.lit(c).alias("column"), label.alias("bucket"))
        )
    for c in categorical_cols:
        label = F.when(F.col(c).isNull(), F.lit("__null__")).otherwise(
            F.when(
                F.col(f"__keep_{c}").isNotNull(), F.col(c).cast("string")
            ).otherwise(F.lit("__other__"))
        )
        labels.append(
            F.struct(F.lit(c).alias("column"), label.alias("bucket"))
        )
    if numeric_cols:
        df = df.crossJoin(F.broadcast(bounds))
    for c in categorical_cols:
        keep = topk.filter(F.col("__col") == c).select(
            F.col("__val").alias(c), F.lit(1).alias(f"__keep_{c}")
        )
        df = df.join(F.broadcast(keep), on=c, how="left")
    pairs = df.select(F.explode(F.array(*labels)).alias("p")).select("p.*")
    return pairs.groupBy("column", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def psi_drift_from_reference(
    r: PsiReference,
    new: DataFrame,
    *,
    eps: float = 1e-6,
) -> DataFrame:
    """Score a new batch against a precomputed :class:`PsiReference` — ONE
    pass over the batch, zero reference scans. Same output contract as
    :func:`psi_drift` (which is now this, composed with
    :func:`psi_reference`). A caller scoring many batches builds the
    reference once with ``materialize=True`` and calls this per batch, so
    per-batch cost is O(batch) regardless of reference size (ADVICE r5).

    Plan note: the ref↔new bucket alignment is a FULL OUTER join (a bucket
    may exist on either side alone), which Spark's BroadcastHashJoin does
    not support — it plans as a SortMergeJoin. That is fine by
    construction: both inputs are post-aggregation bucket tables of
    O(columns × buckets) rows (tens), not data-sized relations; the
    batch-sized work is the single `_psi_bucketed` aggregation above it."""
    nc = _psi_bucketed(
        new, r.numeric_cols, r.categorical_cols, r.n_buckets, r.bounds, r.topk
    ).withColumnRenamed("n", "n_new")
    both = r.ref_counts.join(nc, ["column", "bucket"], "full").fillna(
        0, subset=["n_ref", "n_new"]
    )
    tot = both.groupBy("column").agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_new").alias("__tn")
    )
    both = both.join(F.broadcast(tot), "column")
    ref_share = F.col("n_ref") / F.greatest(F.col("__tr"), F.lit(1))
    new_share = F.col("n_new") / F.greatest(F.col("__tn"), F.lit(1))
    term = (new_share - ref_share) * F.log(
        (new_share + F.lit(eps)) / (ref_share + F.lit(eps))
    )
    return both.select(
        "column",
        "bucket",
        "n_ref",
        "n_new",
        ref_share.alias("ref_share"),
        new_share.alias("new_share"),
        term.alias("psi_term"),
    )


def psi_summary(detail: DataFrame) -> DataFrame:
    """(column, psi) rollup of :func:`psi_drift` detail."""
    return detail.groupBy("column").agg(F.sum("psi_term").alias("psi"))


def expectations_for_table(
    df: DataFrame, tbl: str, checks: dict[str, Column]
) -> DataFrame:
    """Declarative data-quality battery over ONE table in ONE scan.

    ``checks`` maps check_name → a boolean VIOLATION predicate; every check
    becomes a conditional count in a single aggregate (map-combinable, no
    per-check rescan — at 100 TB the scan is the cost, so the whole battery
    rides the one pass), then the single agg row explodes into one
    (check_name, tbl, violations, total, passed) row per check."""
    names = sorted(checks)
    agg = df.agg(
        F.count(F.lit(1)).alias("total"),
        *[F.count(F.when(checks[n], 1)).alias(f"__v{i}") for i, n in enumerate(names)],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(n).alias("check_name"), F.col(f"__v{i}").alias("violations")
            )
            for i, n in enumerate(names)
        ]
    )
    return agg.select(F.col("total"), F.explode(pairs).alias("c")).select(
        F.col("c.check_name").alias("check_name"),
        F.lit(tbl).alias("tbl"),
        F.col("c.violations").alias("violations"),
        F.col("total"),
        (F.col("c.violations") == 0).alias("passed"),
    )


def expectation_ri(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    check_name: str,
    tbl: str,
) -> DataFrame:
    """Referential-integrity expectation: count child rows whose key has no
    parent. Shaped as one LEFT join against the parent's keys-only distinct
    projection (broadcast here — dims are broadcast-sized by this engine's
    contract; a fact-to-fact RI check would flip to a shuffled left-anti
    count) plus the same conditional-count aggregate as the scan battery."""
    keys = F.broadcast(
        parent.select(F.col(parent_key).alias("__pk")).distinct()
    )
    joined = child.select(F.col(child_key).alias("__ck")).join(
        keys, F.col("__ck") == F.col("__pk"), "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("__pk").isNull(), 1)).alias("violations"),
    ).select(
        F.lit(check_name).alias("check_name"),
        F.lit(tbl).alias("tbl"),
        F.col("violations"),
        F.col("total"),
        (F.col("violations") == 0).alias("passed"),
    )
