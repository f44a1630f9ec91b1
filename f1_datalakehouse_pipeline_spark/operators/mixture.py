"""Token-budgeted corpus mixture: deterministic per-domain sampling to a
token budget — the "data mixing" step of a training-corpus pipeline (given
per-source/per-language target proportions, emit exactly the docs whose
cumulative token count fits each domain's budget, in a reproducible order).

Semantics (the naive form): within each domain, order docs by
(seeded_hash(doc_id), doc_id) and keep the prefix whose running token sum is
≤ the domain's budget. Hash order makes the prefix a uniform random-but-
reproducible sample; the same (seed, corpus) always yields the same mixture
on any engine or partitioning.

Scale design — the naive form is a window partitioned only by domain, which
funnels an entire domain (possibly 99% of a 100 TB corpus) through ONE task.
This module instead computes the identical row set in two phases:

1. Bucket the 48-bit hash into ``n_buckets`` ordered ranges (top bits, so
   bucket order == hash order). Per (domain, bucket), aggregate the token
   sum — a plain parallel groupBy, ~|domains|·n_buckets output rows.
2. A cumulative sum over that tiny table (window over ≤ n_buckets rows per
   domain) classifies every bucket as fully-kept (cum ≤ budget), fully-
   dropped (prior cum ≥ budget), or the single boundary bucket per domain.
   Fully-kept/dropped docs are decided by a broadcast join — map-only. Only
   the boundary bucket (~1/n_buckets of the domain) runs the exact
   within-bucket running sum, seeded with the prior buckets' total.

So the only data-sized shuffles are one groupBy and one window over 1/4096
of each domain, and no task ever sees more than a bucket. Equality with the
naive window is pinned by a unit test; the DuckDB oracle runs the naive SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48

# portable_hash48 yields 48-bit values; shifting off 36 bits leaves the top
# 12 → 4096 ordered buckets.
_HASH_BITS = 48


def _lookup_expr(mapping: dict[str, int], domain_col: str):
    """Map-literal lookup domain → long value (unlisted domains → 0).

    A flat ``create_map`` literal instead of a nested when/otherwise CASE
    chain: a CASE chain is O(n)-DEEP and with thousands of domains risks
    Catalyst analysis recursion/stack limits (ADVICE r4); the map literal is
    O(n)-wide but depth-1, still a pure map-stage expression with no shuffle
    and no driver round-trip.
    """
    if not mapping:
        return F.lit(0).cast("long")
    pairs: list = []
    for dom, v in mapping.items():
        pairs += [F.lit(dom), F.lit(int(v)).cast("long")]
    return F.coalesce(
        F.try_element_at(F.create_map(*pairs), F.col(domain_col).cast("string")),
        F.lit(0).cast("long"),
    )


def _budget_expr(budgets: dict[str, int], domain_col: str):
    """Domain → token budget expression (unlisted domains → 0)."""
    return _lookup_expr(budgets, domain_col)


def budgeted_mixture(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    n_tokens_col: str,
    budgets: dict[str, int],
    seed: str = "mix-1",
    n_buckets: int = 4096,
) -> DataFrame:
    """Keep, per domain, the hash-ordered prefix of docs whose cumulative
    token count fits ``budgets[domain]`` (docs in unlisted domains drop).

    Returns (id_col, domain_col, n_tokens_col, cum_tokens) where cum_tokens
    is the running sum including the row itself — identical to
    ``SUM(n) OVER (PARTITION BY domain ORDER BY hash, id ROWS UNBOUNDED
    PRECEDING)`` filtered to ``cum_tokens <= budget``.

    Rows with ``n_tokens <= 0`` are excluded by contract (they contribute
    nothing to a token budget, and admitting them past the boundary would
    make the kept set depend on where the boundary bucket falls).
    """
    shift = _HASH_BITS - max((n_buckets - 1).bit_length(), 1)
    h = portable_hash48(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    base = df.filter(F.col(n_tokens_col) > 0).select(
        F.col(id_col),
        F.col(domain_col),
        F.col(n_tokens_col).cast("long").alias(n_tokens_col),
        h.alias("__h"),
    ).withColumn("__bucket", F.shiftright("__h", shift))

    budget = _budget_expr(budgets, domain_col)

    # Phase 1: parallel per-(domain, bucket) token totals.
    per_bucket = base.groupBy(domain_col, "__bucket").agg(
        F.sum(n_tokens_col).alias("__bucket_tokens")
    )

    # Phase 2: cumulative over the tiny bucket table. `prior` excludes the
    # bucket itself; a bucket is fully kept iff prior + own total fits, fully
    # dropped iff prior alone already exceeds the budget, else boundary.
    wb = Window.partitionBy(domain_col).orderBy("__bucket")
    decisions = (
        per_bucket.withColumn(
            "__prior",
            F.coalesce(
                F.sum("__bucket_tokens").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("__budget", budget)
        .withColumn(
            "__kind",
            F.when(F.col("__prior") + F.col("__bucket_tokens") <= F.col("__budget"), F.lit("keep"))
            .when(F.col("__prior") >= F.col("__budget"), F.lit("drop"))
            .otherwise(F.lit("boundary")),
        )
        .select(domain_col, "__bucket", "__prior", "__kind")
    )

    # No forced broadcast hint: decisions is |domains| x n_buckets rows —
    # tiny for real domain columns, but a pathological high-cardinality
    # domain_col would OOM a forced driver collect. Spark's size-based
    # choice (AQE) broadcasts the normal case and degrades to a shuffle
    # join instead of crashing on the pathological one.
    tagged = base.join(decisions, [domain_col, "__bucket"], "left").withColumn(
        "__kind", F.coalesce(F.col("__kind"), F.lit("drop"))
    )

    # Fully-kept buckets still need cum_tokens for the output contract; the
    # within-bucket window partitions on (domain, bucket) — bounded by the
    # bucket size, never the domain size.
    ww = (
        Window.partitionBy(domain_col, "__bucket")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        tagged.filter(F.col("__kind") != "drop")
        .withColumn("cum_tokens", F.col("__prior") + F.sum(n_tokens_col).over(ww))
        .filter((F.col("__kind") == "keep") | (F.col("cum_tokens") <= budget))
    )
    return kept.select(id_col, domain_col, n_tokens_col, "cum_tokens")


def budgeted_mixture_naive(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    n_tokens_col: str,
    budgets: dict[str, int],
    seed: str = "mix-1",
) -> DataFrame:
    """Single-window reference form (one task per domain — test oracle only)."""
    h = portable_hash48(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(domain_col)
        .orderBy(h, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.filter(F.col(n_tokens_col) > 0)
        .select(
            F.col(id_col),
            F.col(domain_col),
            F.col(n_tokens_col).cast("long").alias(n_tokens_col),
        )
        .withColumn("cum_tokens", F.sum(n_tokens_col).over(w))
        .filter(F.col("cum_tokens") <= _budget_expr(budgets, domain_col))
    )


def repeat_mixture(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    rates: dict[str, float],
    seed: str = "rep-1",
) -> DataFrame:
    """Deterministic fractional repetition — the UPSAMPLING half of data
    mixing (budgeted_mixture is the downsampling half): domain rate r emits
    ``floor(r)`` copies of every doc plus one extra copy for a reproducible
    ``frac(r)`` fraction of docs (chosen by seeded hash, so the same docs
    get the extra epoch on every run and engine). rate 2.5 → every doc
    twice, half the docs a third time; rate 0.25 → a quarter of the docs
    once; rate 0 / unlisted → dropped.

    Map-only (project + explode): no shuffle, no state. Copies carry
    ``copy_idx`` (1-based) so downstream shuffling/sharding can give each
    epoch copy an independent position (seed the shuffle with id+copy_idx).
    """
    h = portable_hash48(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))) % F.lit(
        1_000_000
    )
    bases: dict[str, int] = {}
    thrs: dict[str, int] = {}
    for dom, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate for domain {dom!r}: {r}")
        bases[dom] = int(r)
        thrs[dom] = int(round((r - int(r)) * 1_000_000))
    # two flat map-literal lookups, not nested CASE chains (ADVICE r4)
    base_expr = _lookup_expr(bases, domain_col)
    thr_expr = _lookup_expr(thrs, domain_col)
    copies = base_expr + F.when(h < thr_expr, F.lit(1)).otherwise(F.lit(0))
    return df.select(
        F.col(id_col),
        F.col(domain_col),
        F.explode(
            F.when(copies >= 1, F.sequence(F.lit(1).cast("long"), copies)).otherwise(
                F.array()
            )
        ).alias("copy_idx"),
    )
