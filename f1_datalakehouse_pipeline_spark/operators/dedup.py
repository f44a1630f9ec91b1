"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-conscious and partition-parallel (BASELINE.json
mandate — these are first-class engine operators, not demos):

- exact_dedup: hash-groupBy on content. One shuffle on the content hash;
  at 100 TB group on the 48-bit portable hash (a few bytes) instead of the
  full text, then keep min(id) as the canonical representative.
- ngram_jaccard_pairs: exact Jaccard over word-shingle sets, restricted to
  pairs sharing ≥1 shingle (shingle-inverted-index self-join — never the
  quadratic all-pairs).
- minhash_lsh_pairs: MinHash signatures + banded LSH. Candidate generation
  touches only (band, signature) buckets, so the join cost tracks the number
  of truly-similar pairs, not n².
- simhash_codes: 48-bit SimHash per doc via explode + one groupBy with 48
  conditional sums (vectorized; no per-row higher-order loops).
- embedding_neardup_pairs: cosine near-duplicates over embedding vectors
  (delegates to operators/similarity.py primitives).
- semantic_dedup_flags: SemDeDup-style embedding-space dedup — centroid
  bucketing (three assignment tiers: literal / broadcast-table /
  two-level-routed, chosen by k), within-cluster cosine ≥ eps, greedy
  lowest-id keeper; optional within-cluster LSH banding for skewed
  clusters and a persisted-assignment production mode.

All hashes are the md5-derived portable hash (functions/text.py) so every
stage is exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

from f1_datalakehouse_pipeline_spark.functions.text import (
    MINHASH_A,
    minhash_term,
    portable_hash48,
    tokens,
)


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Group identical content; keep min(id) as keeper + duplicate count.

    Deterministic alternative to dropDuplicates (which keeps an arbitrary
    row). Returns (keeper_id, n_copies, content_hash).
    """
    return (
        df.select(
            F.col(id_col),
            portable_hash48(F.col(content_col)).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_table(df: DataFrame, id_col: str, content_col: str, k: int) -> DataFrame:
    """(id, shingle_hash) inverted-index rows — distinct per doc.

    Shingle hashes are computed arithmetically from per-token hashes
    (functions/text.shingle_hashes_from_tokens): one md5 per token and no
    shingle-string materialization — ~35% faster than hash(concat(k-gram))
    at sf0.1 and still exactly reproducible in the DuckDB oracle. Documents
    shorter than k tokens contribute no shingles (the NULL partial-window
    hashes are filtered).
    """
    from f1_datalakehouse_pipeline_spark.functions.text import shingle_hashes_from_tokens
    from f1_datalakehouse_pipeline_spark.operators.util import spread

    return (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(shingle_hashes_from_tokens(content_col, k)).alias("h"),
        )
        .filter(F.col("h").isNotNull())
        .distinct()
    )


def _drop_hot_shingles(sh: DataFrame, max_doc_frequency: int) -> DataFrame:
    """Remove shingles occurring in more than ``max_doc_frequency`` docs from
    an inverted-index table — the single O(d²)-candidate cap shared by every
    shingle-join operator (a hot shingle in d docs costs d(d-1)/2 candidate
    rows)."""
    doc_freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    hot = doc_freq.filter(F.col("df") > max_doc_frequency).select("h")
    return sh.join(hot, "h", "left_anti")


def _pair_intersections(
    df: DataFrame, id_col: str, content_col: str, k: int,
    max_doc_frequency: int | None,
) -> DataFrame:
    """Shared candidate machinery for the exact-overlap pair operators:
    inverted-index self-join over word shingles → one row per co-shingling
    pair (doc_a < doc_b) with the intersection count and BOTH pre-cap set
    sizes — (doc_a, doc_b, inter, n_a, n_b). Sizes are computed before the
    hot-shingle cap so every similarity derived from them stays exact for
    surviving pairs (the cap's approximation is one-sided: hot-shingle-only
    pairs drop out entirely)."""
    sh = _shingle_table(df, id_col, content_col, k)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    if max_doc_frequency is not None:
        sh = _drop_hot_shingles(sh, max_doc_frequency)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, content_col: str, k: int = 3, threshold: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity for doc pairs sharing at least one shingle.

    intersection via inverted-index self-join (co-occurring shingles),
    |A∪B| = |A| + |B| − |A∩B|. Output: (doc_a, doc_b, jaccard) with
    doc_a < doc_b and jaccard ≥ threshold.

    ``max_doc_frequency`` is the 100 TB lever: shingles appearing in more
    than N documents (boilerplate headers, license blocks) are dropped from
    the inverted index BEFORE the self-join — a hot shingle in d docs costs
    O(d²) candidate rows, so the cap bounds the worst key. Doc sizes are
    still computed pre-cap, so Jaccard stays exact for surviving pairs'
    denominators while hot-shingle-only pairs drop out (approximation is
    one-sided and documented).
    """
    return (
        _pair_intersections(df, id_col, content_col, k, max_doc_frequency)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_containment_pairs(
    df: DataFrame, id_col: str, content_col: str, k: int = 3, threshold: float = 0.8,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / min(|A|, |B|) over word-shingle
    sets, for pairs sharing at least one shingle.

    Jaccard is symmetric, so a short document fully quoted inside a much
    longer one scores near |A|/|B| ≈ 0 and survives symmetric dedup; its
    containment is 1.0. This operator catches exactly that subset-duplication
    case (boilerplate inclusion, quoted articles, README-in-repo-dump), the
    standard complement to Jaccard in training-corpus curation.

    Same inverted-index candidate generation as :func:`ngram_jaccard_pairs`
    (shared `_pair_intersections` machinery) — never all-pairs;
    ``max_doc_frequency`` caps the quadratic cost of hot shingles
    identically (sizes computed pre-cap, so surviving pairs' denominators
    stay exact). Output: (doc_a, doc_b, containment, contained_doc) with
    doc_a < doc_b; ``contained_doc`` is the smaller shingle set (doc_a on
    ties — deterministic).
    """
    return (
        _pair_intersections(df, id_col, content_col, k, max_doc_frequency)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, content_col: str, k: int = 3, n_hashes: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc, i, minhash) — the MinHash signature in long form.

    Long form keeps the plan a single groupBy; banding pivots from here.
    Pass a precomputed ``shingles`` table to share the scan with other stages.
    """
    sh = shingles if shingles is not None else _shingle_table(df, id_col, content_col, k)
    terms = [
        F.min(minhash_term(F.col("h"), i)).alias(f"mh{i}") for i in range(n_hashes)
    ]
    wide = sh.groupBy("doc").agg(*terms)
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("i"), F.col(f"mh{i}").alias("mh"))
                for i in range(n_hashes)
            ]
        )
    )
    return wide.select("doc", stacked.alias("s")).select(
        "doc", F.col("s.i").alias("i"), F.col("s.mh").alias("mh")
    )


def _band_signatures(sh: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc, band, band_sig) banded MinHash signatures from a shingle
    inverted index ``sh(doc, h)``.

    Wide signature first: ONE groupBy(doc) computes all n_hashes mins; band
    signatures are then a pure projection (explode of per-band structs) —
    no second shuffle (the long-form explode→groupBy(doc,band) alternative
    re-shuffles the signatures for nothing). Each band's minhashes are
    xxhash64-folded into ONE long (8-byte join key instead of an ~80-byte
    concat string — less shuffle IO, cheaper hash/compare; ANSI-safe, unlike
    manual overflow arithmetic). A 64-bit collision could admit a candidate
    pair the exact band match wouldn't, but callers verify with exact
    Jaccard, so the OUTPUT is unchanged; only (astronomically rare) extra
    verify work is at stake.
    """
    rows_per_band = n_hashes // bands
    terms = [F.min(minhash_term(F.col("h"), i)).alias(f"mh{i}") for i in range(n_hashes)]
    wide = sh.groupBy("doc").agg(*terms)

    def _band_sig(b: int):
        return F.xxhash64(
            *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
        )

    band_structs = [
        F.struct(F.lit(b).alias("band"), _band_sig(b).alias("band_sig"))
        for b in range(bands)
    ]
    return wide.select(
        "doc", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified with exact
    Jaccard. Output: (doc_a, doc_b, jaccard) for candidates ≥ threshold.
    Runs eagerly: the pairs (∝ near-duplicates, small) come back as a local
    checkpoint, so the shingle cache they consume is released before the
    call returns instead of staying pinned for the session.

    rows_per_band = n_hashes // bands; two docs become candidates iff some
    band's full signature slice matches. Bucket join is on (band, band_sig)
    so work scales with collision count, not n².

    ``max_doc_frequency``: drop shingles appearing in more than N documents
    BEFORE computing signatures. Boilerplate (license headers, templates)
    otherwise dominates the per-permutation minima — near-identical shared
    prefixes make unrelated documents collide in every band and candidate
    generation degrades toward O(n²) (measured: a 170-char header shared by a
    50K-doc corpus stalled the uncapped run; capped at 32 it finished in
    seconds). Jaccard is then similarity over non-boilerplate content —
    the semantics a real dedup pass wants anyway.
    """
    # One shingle scan shared by signatures and verification; caching it
    # avoids recomputing the tokenize→shingle→hash chain in each branch.
    sh = _shingle_table(df, id_col, content_col, k)
    if max_doc_frequency is not None:
        sh = _drop_hot_shingles(sh, max_doc_frequency)
    sh = sh.cache()
    band_sigs = _band_signatures(sh, n_hashes, bands)
    a, b = band_sigs.alias("a"), band_sigs.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # Exact-Jaccard verification computed ONLY for LSH candidates — the
    # all-co-shingle-pairs join would dominate the plan and defeat the point
    # of LSH (candidate count ≪ co-occurrence count at scale).
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    ca = candidates.join(sh.select(F.col("doc").alias("doc_a"), "h"), "doc_a")
    inter = (
        ca.join(sh.select(F.col("doc").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"))
    pairs = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return pairs


def _reclaim_shuffles(spark) -> None:
    """Nudge the driver JVM's GC so ContextCleaner frees FINISHED stages'
    shuffle files immediately. In one long local-mode lineage the shuffle
    dependencies of completed jobs are only cleaned when the driver happens
    to GC — without the nudge the banded 50M rung accumulated 64 GB of dead
    shuffle files alongside the live job (measured r5) and survived with
    1 GB to spare. No-op when the JVM handle is unavailable."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def lsh_docs_table(scratch_dir: str) -> str:
    """Catalog-table name of :func:`minhash_lsh_pairs_banded`'s bucketed
    text staging for ``scratch_dir``. The returned pairs DataFrame reads
    through this table lazily, so the table must outlive consumption;
    callers own the scratch lifecycle and should ``DROP TABLE`` this name
    when they delete the scratch dir (the table's data lives inside it)."""
    import hashlib as _hashlib
    import os as _os

    digest = _hashlib.md5(_os.path.abspath(scratch_dir).encode()).hexdigest()[:12]
    return f"lsh_docs_{digest}"


def minhash_lsh_pairs_banded(
    df: DataFrame,
    id_col: str,
    content_col: str,
    scratch_dir: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_doc_frequency: int | None = None,
    max_hot_literal: int = 1_000_000,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` restructured for corpora whose one-shot run
    exceeds the scratch-disk budget: same output pairs, peak disk bounded by
    the CORPUS TEXT, never the shingle table.

    The one-shot form's disk cost is the materialized shingle inverted index
    (cache spill or staging): ~#tokens × 8 B of incompressible hash — at
    50M docs that alone is >65 GB (measured, r5) and no staging order saves
    it. This form never materializes shingles at all:

    1. The (id, text) projection is staged once — compact parquet, text
       dictionary-compresses; every later job re-reads it instead of
       re-running upstream lineage.
    2. The hot-shingle (df-cap) list comes from a groupBy(h) over
       shingles computed ON THE FLY — count is map-side-combinable, so the
       shuffle carries partial counts, not raw shingle rows; its scratch is
       reclaimed when the job ends. The (by-definition small: only
       shingles in >cap docs) list is collected — guarded by
       ``max_hot_literal`` — and applied as a broadcast anti-join /
       array_except literal downstream.
    3. MinHash signatures are ONE groupBy(doc) of n_hashes min() aggregates
       — also map-side-combinable (the shuffle carries one partial row per
       (partition, doc), 16 longs wide) — staged as the ~50M-row wide table.
    4. Candidate generation runs BAND-AT-A-TIME (bands are independent: a
       pair is a candidate iff SOME band matches, so the union of per-band
       self-joins equals the one-shot join), each band its own job over a
       projection of the wide table, scratch reclaimed between bands.
    5. Verification re-derives each candidate doc's shingle SET as an array
       EXPRESSION over the staged text (map-side; the same per-doc set
       `_shingle_table` explodes, minus the hot list via array_except) —
       candidates join the text table on doc_a then doc_b, and Jaccard is
       ``array_intersect`` arithmetic. Shingles for non-candidate docs are
       never computed twice; nothing shingle-sized ever hits disk or a
       shuffle. (At real-corpus dup rates candidates are small and AQE
       broadcasts them, making the verify a map-only pass over the text.)

    The returned DataFrame reads from ``scratch_dir`` lazily — consume it
    (write/collect) before deleting the scratch. Callers own the scratch
    lifecycle; re-invoking with the same dir overwrites the stages.
    """
    import os as _os

    from f1_datalakehouse_pipeline_spark.functions.text import (
        shingle_hashes_from_tokens,
    )
    from f1_datalakehouse_pipeline_spark.sources.bucketed import save_bucketed

    spark = df.sparkSession
    # The text staging is a BUCKETED+SORTED catalog table: the two verify
    # joins below are keyed on single doc ids, so the corpus side plans
    # neither Exchange nor Sort (measured: with plain parquet staging the
    # verify job's two full-corpus sort spills ENOSPC'd the 50M rung even
    # though every earlier stage fit).
    docs_table = lsh_docs_table(scratch_dir)
    spark.sql(f"DROP TABLE IF EXISTS {docs_table}")
    save_bucketed(
        df.select(F.col(id_col).alias("doc"), F.col(content_col).alias("__text")),
        docs_table,
        ["doc"],
        32,
        sort_cols=["doc"],
        path=_os.path.join(scratch_dir, "docs"),
    )
    base = spark.table(docs_table)
    _reclaim_shuffles(spark)

    sh = (
        base.select("doc", F.explode(shingle_hashes_from_tokens("__text", k)).alias("h"))
        .filter(F.col("h").isNotNull())
    )

    hot_list: list[int] = []
    if max_doc_frequency is not None:
        hot_path = _os.path.join(scratch_dir, "hot_shingles")
        (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_frequency)
            .select("h")
            .write.mode("overwrite")
            .parquet(hot_path)
        )
        hot = spark.read.parquet(hot_path)
        n_hot = hot.count()
        if n_hot > max_hot_literal:
            raise ValueError(
                f"{n_hot} hot shingles exceed max_hot_literal={max_hot_literal}; "
                "a df-cap this unselective caps most of the corpus — raise "
                "max_doc_frequency or max_hot_literal"
            )
        hot_list = [r[0] for r in hot.collect()]  # bounded by the guard above
        sh = sh.join(F.broadcast(hot), "h", "left_anti")
        _reclaim_shuffles(spark)

    terms = [F.min(minhash_term(F.col("h"), i)).alias(f"mh{i}") for i in range(n_hashes)]
    wide_path = _os.path.join(scratch_dir, "wide_sigs")
    sh.groupBy("doc").agg(*terms).write.mode("overwrite").parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    _reclaim_shuffles(spark)

    rows_per_band = n_hashes // bands
    cand_path = _os.path.join(scratch_dir, "candidates")
    for b in range(bands):
        sig = F.xxhash64(
            *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
        )
        one = wide.select("doc", sig.alias("band_sig"))
        a_, b_ = one.alias("a"), one.alias("b")
        (
            a_.join(
                b_,
                (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .distinct()
            .write.mode("overwrite" if b == 0 else "append")
            .parquet(cand_path)
        )
    candidates = spark.read.parquet(cand_path).distinct()

    def shingle_set(text_col_name: str):
        s = F.filter(
            shingle_hashes_from_tokens(text_col_name, k), lambda x: x.isNotNull()
        )
        if hot_list:
            s = F.array_except(s, F.lit(hot_list).cast("array<bigint>"))
        return s

    # The only payload that crosses the one candidate-side shuffle (the
    # doc_b hash for the second join) is TEXT, not the shingle array: text
    # is smaller and lz4-compresses ~3-4x in shuffle, where the 48-bit hash
    # arrays are incompressible (measured: carrying arrays doubled the
    # verify job's sort spill and broke the 50M disk budget). Both sets are
    # recomputed map-side AFTER the joins; codegen subexpression
    # elimination evaluates each set expression once per row.
    ta = base.select(F.col("doc").alias("doc_a"), F.col("__text").alias("__text_a"))
    tb = base.select(F.col("doc").alias("doc_b"), F.col("__text").alias("__text_b"))
    return (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        # hoist each capped set into its OWN projection: the hot-list
        # literal then appears twice in the plan (once per set), not once
        # per use, and Catalyst keeps the projection boundary (non-cheap
        # expressions referenced multiple times are not collapse-inlined),
        # so each set is built once per row regardless of codegen CSE
        .select(
            "doc_a",
            "doc_b",
            shingle_set("__text_a").alias("__sa"),
            shingle_set("__text_b").alias("__sb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).alias("inter"),
            F.size("__sa").alias("n_a"),
            F.size("__sb").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_codes(df: DataFrame, id_col: str, content_col: str, n_bits: int = 48) -> DataFrame:
    """48-bit SimHash per document from token hashes.

    explode → one groupBy(doc) with n_bits conditional sums (majority vote per
    bit, ties round up) → recombined code. Output: (doc, simhash).
    """
    from f1_datalakehouse_pipeline_spark.operators.util import spread

    tok = (
        spread(df, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(tokens(F.col(content_col))).alias("t"))
        .select("doc", portable_hash48(F.col("t")).alias("h"))
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(((F.col("h").bitwiseAND(F.lit(1 << bit))) != 0).cast("int")).alias(f"b{bit}")
        for bit in range(n_bits)
    ]
    per_doc = tok.groupBy("doc").agg(*aggs)
    code: Column = F.lit(0).cast("long")
    for bit in range(n_bits):
        code = code + F.when(
            F.col(f"b{bit}") * 2 >= F.col("n"), F.lit(1 << bit).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc", code.alias("simhash"))


__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_codes",
    "MINHASH_A",
]


def connected_keepers(pairs: DataFrame, max_iterations: int = 10) -> DataFrame:
    """Resolve near-dup pairs into clusters: (doc, keeper) with keeper =
    min doc id reachable through the pair graph.

    Iterative min-label propagation PLUS pointer jumping: each round (a)
    takes the min label across edges, then (b) jumps every label to its
    keeper's keeper. The jump halves the remaining chain depth per round, so
    convergence needs O(log diameter) rounds — max_iterations=10 covers
    chains ~2^10 hops deep, far beyond any real near-dup cluster. Each round
    is two keyed shuffles on doc id; no driver-side graph state beyond the
    loop counter. If the loop still exits unconverged (pathological graph), a
    warning is logged: apply_dedup would then under-drop duplicates.

    Each round's local checkpoint is released once the next one is built,
    and the edges once the last one is; the returned labels read only the
    last round's checkpoint, which its consumer's caller may release
    (``util.release_local_checkpoints``) or leave to Spark's ContextCleaner.
    """
    from f1_datalakehouse_pipeline_spark.operators.util import release_local_checkpoints

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        # materialize ONCE: every propagation round joins against edges, and
        # without this the whole upstream pair-generation pipeline (LSH,
        # shingling, ...) re-executes per iteration — measured 37s -> 4s on
        # the sf0.1 dedup_docs_pipeline. Edge count ∝ near-dup pairs, so the
        # checkpoint is small at any corpus size.
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("keeper", F.col("doc"))
    )
    from pyspark.sql import Observation

    converged = False
    checkpoint = None
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("doc", "dst2"), edges.dst == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("keeper").alias("n_keeper"))
        )
        propagated = (
            labels.join(neighbor_min, labels.doc == neighbor_min.src, "left")
            .select(
                "doc",
                # the round's INPUT keeper rides along so the convergence
                # probe below is a per-row comparison, not a second join
                F.col("keeper").alias("_prev"),
                F.least(F.col("keeper"), F.coalesce(F.col("n_keeper"), F.col("keeper"))).alias("keeper"),
            )
        )
        # pointer jumping: doc -> keeper(keeper(doc)); this is what turns the
        # linear-diameter walk into a logarithmic one
        parent = propagated.select(
            F.col("doc").alias("p_doc"), F.col("keeper").alias("p_keeper")
        )
        updated = (
            propagated.join(parent, propagated.keeper == parent.p_doc, "left")
            .select(
                "doc",
                "_prev",
                F.least(
                    F.col("keeper"), F.coalesce(F.col("p_keeper"), F.col("keeper"))
                ).alias("keeper"),
            )
        )
        # Convergence probe FUSED into the round's materialization (r12; the
        # r11 form checkpointed first, then ran a new-vs-old join + count as
        # a second action per round): the same per-doc keeper comparison the
        # probe join made is evaluated inline on the round's own rows via an
        # observed metric, so the localCheckpoint that truncates lineage
        # also answers convergence — one action per round instead of two,
        # and no probe-side join/broadcast at all. Same labels, same
        # convergence decision (labels hold one row per doc, so "any row
        # where keeper != _prev" is exactly the old joined predicate).
        obs = Observation()
        previous = checkpoint
        checkpoint = updated.observe(
            obs, F.max((F.col("keeper") != F.col("_prev")).cast("int")).alias("chg")
        ).localCheckpoint(eager=True)  # truncate lineage per round
        if previous is not None:
            release_local_checkpoints(previous)
        labels = checkpoint.drop("_prev")
        try:
            # max over zero rows is NULL == converged
            chg = obs.get.get("chg") or 0
        except Exception:
            # No usable metric (e.g. a round the optimizer folded to an
            # EMPTY relation records an inconvertible empty metrics row):
            # recount on the checkpointed round instead of assuming
            # convergence, as plans/corpus.py resolve_counts does.
            chg = checkpoint.filter(F.col("keeper") != F.col("_prev")).count()
        if chg == 0:
            converged = True
            break
    if not converged:
        log.warning(
            "connected_keepers did not converge in %d rounds; clusters deeper "
            "than ~2^%d hops may have multiple keepers (under-deduplication)",
            max_iterations,
            max_iterations,
        )
    if checkpoint is not None:
        release_local_checkpoints(edges)
    return labels


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 8,
    min_containment: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Benchmark-contamination check: which held-out ``test`` documents leak
    into the ``train`` corpus (the pre-training hygiene pass every LLM data
    pipeline needs before trusting an eval).

    Bipartite version of the n-gram inverted-index join: distinct k-gram
    hashes per doc on BOTH sides, equi-join on the hash (never all-pairs),
    then per (test, train) pair the CONTAINMENT ``|test ∩ train| / |test|``
    — the right metric for contamination, where a short benchmark item
    embedded in a long training doc must still score ~1.0 (symmetric Jaccard
    would dilute it). ``k=8`` word-grams is the usual leak-detection window:
    long enough that natural re-use is rare, short enough to survive light
    paraphrase. ``max_doc_frequency`` drops boilerplate grams from the TRAIN
    index before the join (same O(d²)-candidate cap as ngram_jaccard_pairs).

    Output: (test_id, train_id, n_shared, test_ngrams, containment ≥
    ``min_containment``). Scales like the dedup joins: cost ∝ co-occurring
    grams, one shuffle per side + one pair groupBy.
    """
    test_sh, test_sizes = benchmark_shingle_index(test, id_col, content_col, k)
    return contamination_pairs_against_index(
        train,
        test_sh,
        test_sizes,
        id_col,
        content_col,
        k=k,
        min_containment=min_containment,
        max_doc_frequency=max_doc_frequency,
    )


def benchmark_shingle_index(
    test: DataFrame, id_col: str, content_col: str, k: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Precompute the held-out benchmark's shingle inverted index:
    ``(test_sh(test_id, h), test_sizes(test_id, test_ngrams))``. The
    benchmark side is static by definition during an ingestion window, so
    callers that repeatedly check incoming corpus slices compute — and
    cache — this once instead of re-shingling the benchmark per slice."""
    test_sh = _shingle_table(test, id_col, content_col, k).select(
        F.col("doc").alias("test_id"), "h"
    )
    test_sizes = test_sh.groupBy("test_id").agg(F.count(F.lit(1)).alias("test_ngrams"))
    return test_sh, test_sizes


def contamination_pairs_against_index(
    train: DataFrame,
    test_sh: DataFrame,
    test_sizes: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 8,
    min_containment: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """:func:`contamination_pairs` core against a precomputed benchmark
    index (see :func:`benchmark_shingle_index`): only the TRAIN side is
    shingled here, so a micro-batch check costs O(batch grams), not
    O(batch + benchmark)."""
    train_sh = _shingle_table(train, id_col, content_col, k).select(
        F.col("doc").alias("train_id"), "h"
    )
    if max_doc_frequency is not None:
        train_sh = _drop_hot_shingles(train_sh, max_doc_frequency)
    shared = (
        test_sh.join(train_sh, "h")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(test_sizes, "test_id")
        .withColumn(
            "containment",
            F.col("n_shared").cast("double") / F.col("test_ngrams").cast("double"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def contamination_report(pairs: DataFrame) -> DataFrame:
    """Per-test-document verdict from :func:`contamination_pairs` output:
    the worst (highest-containment) train match, ties broken by lowest
    train_id for determinism."""
    return pairs.groupBy("test_id").agg(
        F.max("containment").alias("max_containment"),
        F.min_by("train_id", F.struct(-F.col("containment"), F.col("train_id"))).alias(
            "worst_train_id"
        ),
        F.count(F.lit(1)).alias("n_matches"),
    )


def apply_dedup(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Drop every non-keeper member of each near-dup cluster (keeps rows that
    belong to no cluster untouched). The drop set scales with the duplicate
    count, which on a duplicate-heavy corpus (exactly what dedup targets) can
    exceed driver/broadcast limits — so no forced broadcast hint: AQE
    converts the anti-join to a broadcast join at runtime when the drop set
    is actually small, and falls back to a shuffle join when it isn't."""
    drop = connected_keepers(pairs).filter(F.col("doc") != F.col("keeper"))
    return df.join(drop, df[id_col] == drop.doc, "left_anti")


# ---------------------------------------------------------------------------
# Incremental (history-vs-batch) near-duplicate detection
# ---------------------------------------------------------------------------


def minhash_band_index(
    corpus: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    max_doc_frequency: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the persistable MinHash-LSH index of an already-ingested corpus:
    ``(band_sigs(doc, band, band_sig), shingles(doc, h), sizes(doc, n))``.

    The 100 TB ingestion pattern is INCREMENTAL: the historical corpus is
    indexed ONCE (or maintained by appending each accepted batch's rows),
    persisted as parquet — band_sigs partitioned by ``band`` so a batch probe
    co-partitions on the join key — and every new batch is checked against it
    with :func:`novelty_pairs` at a cost proportional to the BATCH, not the
    corpus. Re-running the self-join :func:`minhash_lsh_pairs` over
    history+batch would re-shingle and re-shuffle the full corpus per batch.

    ``sizes`` are post-cap (identical to :func:`minhash_lsh_pairs`
    semantics): Jaccard is similarity over non-boilerplate content.
    """
    sh = _shingle_table(corpus, id_col, content_col, k)
    if max_doc_frequency is not None:
        sh = _drop_hot_shingles(sh, max_doc_frequency)
    band_sigs = _band_signatures(sh, n_hashes, bands)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    return band_sigs, sh, sizes


def novelty_pairs(
    batch: DataFrame,
    history_index: tuple[DataFrame, DataFrame, DataFrame],
    id_col: str,
    content_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Which new-batch documents near-duplicate the HISTORICAL corpus —
    the incremental form of :func:`minhash_lsh_pairs`.

    Bipartite banded LSH: the batch's band signatures equi-join the
    history index on ``(band, band_sig)`` (never all-pairs, never a
    history self-join), candidates are verified with exact Jaccard between
    the batch's shingle sets and the history index's. Output:
    ``(doc_new, doc_hist, jaccard ≥ threshold)``.

    ``k``/``n_hashes``/``bands`` MUST match the parameters the index was
    built with — band signatures are only comparable under identical
    permutations and banding, and ``max_doc_frequency`` should match the
    cap the index was built with: it drops batch-side hot shingles
    (boilerplate shared across the batch) before signatures, the same
    candidate-explosion guard :func:`minhash_lsh_pairs` documents — without
    it a shared header in the batch collides every batch doc into the same
    history buckets.
    """
    hist_bands, hist_sh, hist_sizes = history_index
    batch_sh = _shingle_table(batch, id_col, content_col, k)
    if max_doc_frequency is not None:
        batch_sh = _drop_hot_shingles(batch_sh, max_doc_frequency)
    # The returned hits stay lazy, so no call here can tell when their last
    # consumer ran: the batch shingles are a local checkpoint, freed with the
    # hits once they are unreachable, not a cache() pinned for the session.
    batch_sh = batch_sh.localCheckpoint(eager=True)
    batch_bands = _band_signatures(batch_sh, n_hashes, bands)
    nb, hb = batch_bands.alias("nb"), hist_bands.alias("hb")
    candidates = (
        nb.join(
            hb,
            (F.col("nb.band") == F.col("hb.band"))
            & (F.col("nb.band_sig") == F.col("hb.band_sig")),
        )
        .select(F.col("nb.doc").alias("doc_new"), F.col("hb.doc").alias("doc_hist"))
        .distinct()
    )
    # Join ORDER is deliberate: the candidate pairs hit the (corpus-sized)
    # history shingle table FIRST, keyed on doc_hist ALONE — exactly the
    # index's bucket key when it was written with shingle_buckets (see
    # streaming/novelty._append_index), so that scan arrives pre-partitioned
    # and plans ZERO Exchange; only batch-proportional rows shuffle. Joining
    # batch_sh first would make the history join keyed (doc_hist, h), which
    # Spark re-shuffles on BOTH sides (requireAllClusterKeysForCoPartition).
    # Both shingle tables are distinct per (doc, h), so counting (doc_new, h)
    # matches after expanding history shingles yields the same intersection.
    inter = (
        candidates.join(hist_sh.select(F.col("doc").alias("doc_hist"), "h"), "doc_hist")
        .join(batch_sh.select(F.col("doc").alias("doc_new"), "h"), ["doc_new", "h"])
        .groupBy("doc_new", "doc_hist")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    batch_sizes = batch_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    nn = batch_sizes.select(F.col("doc").alias("doc_new"), F.col("n").alias("n_new"))
    nh = hist_sizes.select(F.col("doc").alias("doc_hist"), F.col("n").alias("n_hist"))
    return (
        inter.join(nn, "doc_new")
        .join(nh, "doc_hist")
        .select(
            "doc_new",
            "doc_hist",
            (
                F.col("inter").cast("double")
                / (F.col("n_new") + F.col("n_hist") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_neardup_pairs(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """One-shot convenience: build the history index, probe it with the
    batch (see :func:`minhash_band_index` / :func:`novelty_pairs`).
    Production ingestion persists the index instead of rebuilding it."""
    idx = minhash_band_index(
        history, id_col, content_col, k, n_hashes, bands, max_doc_frequency
    )
    return novelty_pairs(
        batch, idx, id_col, content_col, k, n_hashes, bands, threshold,
        max_doc_frequency=max_doc_frequency,
    )


def filter_novel(batch: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep only batch rows with NO near-duplicate in history — the rows an
    incremental ingestion admits. ``pairs`` is :func:`novelty_pairs` output.
    Anti-join on the id; AQE broadcasts the (usually small) duplicate set at
    runtime, same rationale as :func:`apply_dedup`."""
    dup_ids = pairs.select(F.col("doc_new")).distinct()
    return batch.join(dup_ids, batch[id_col] == dup_ids.doc_new, "left_anti")


# ---------------------------------------------------------------------------
# Semantic (embedding-space) deduplication — SemDeDup-style
# ---------------------------------------------------------------------------


def _centroid_norm(c: "list[float]") -> float:
    """Plan-time Python twin of ``similarity.norm``'s sequential fold over a
    LITERAL centroid: ``acc += x*x`` in element order, then sqrt — the same
    IEEE double operations in the same order, so the hoisted literal is
    bit-equal to the per-row fold it replaces (oracle-exactness depends on
    this)."""
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def semantic_cluster_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Assign each embedding to its max-cosine centroid (ties → lowest
    centroid id). Pure projection: the centroid matrix is a small literal
    (trained out-of-band — ``similarity.kmeans_distributed`` for moderate
    k, ``similarity.kmeans_hierarchical`` in the k ∝ N regime), so the
    assignment is map-only — no shuffle, no UDF, and the sequential-fold
    cosine is bit-reproducible in the DuckDB oracle.

    Adds ``cluster_id`` (long) and ``centroid_cos`` (double). The argmax is
    computed as ``array_max`` over ``struct(cos, -cid)`` rows: struct
    comparison is lexicographic, so the max struct carries the highest
    cosine and, among exact ties, the highest ``-cid`` = lowest cid —
    matching the oracle's ``ROW_NUMBER() ... ORDER BY cos DESC, cid ASC``.

    r11 (opt): the per-centroid score keeps the identical
    ``dot/(norm(v)·norm(c))`` expression tree, but ``norm(v)`` (and the
    array<double> cast) ride an intermediate column evaluated once per ROW
    instead of once per (row, centroid) — referenced k times and non-cheap,
    so CollapseProject keeps the hoist a separate Project — and each
    centroid's norm is folded at plan-build time (:func:`_centroid_norm`,
    bit-equal by construction). Per-row FLOPs drop from k·3d to k·d + d.
    """
    from f1_datalakehouse_pipeline_spark.operators import similarity as sim

    clash = {"_sca_vd", "_sca_nv", "_best"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with "
            "semantic_cluster_assign's temporaries — rename them upstream "
            "(they would be silently overwritten and dropped)"
        )
    v = F.col(vec_col).cast("array<double>")
    tmp = df.withColumn("_sca_vd", v).withColumn("_sca_nv", sim.norm(F.col("_sca_vd")))
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    (
                        sim.dot(F.col("_sca_vd"), F.array(*[F.lit(float(x)) for x in c]))
                        / (F.col("_sca_nv") * F.lit(_centroid_norm(c)))
                    ).alias("cos"),
                    F.lit(-i).cast("long").alias("neg_cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )
    return tmp.withColumn("_best", best).select(
        "*",
        (-F.col("_best.neg_cid")).alias("cluster_id"),
        F.col("_best.cos").alias("centroid_cos"),
    ).drop("_best", "_sca_vd", "_sca_nv")


def semantic_cluster_assign_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids_df: DataFrame,
) -> DataFrame:
    """Broadcast-join twin of :func:`semantic_cluster_assign` for LARGE k.

    The literal form bakes an O(k·dim) expression tree into the plan — fine
    for the IVF/SemDeDup-at-local regime (k·dim ≲ 10⁴) but plan
    serialization and Catalyst analysis cost grow linearly, so a 100 TB
    corpus at k ≈ N/cluster_size (easily k ≥ 10⁵) ships centroids as DATA
    instead: ``centroids_df`` is a k-row ``(cluster_id long, centroid
    array<double>)`` table, broadcast-joined against every vector, argmax
    taken by a map-combinable ``max(struct(cos, -cid))`` aggregation — the
    shuffle carries one pre-reduced row per vector, never the k-fanout.
    Same tie rule as the literal form (exact ties → lowest cluster_id).

    Returns ``(id_col, vec_col as array<double>, cluster_id, centroid_cos)``
    — a reduced projection, not ``df.*`` (join the result back on
    ``id_col`` if other columns are needed downstream).

    PRECONDITION: ``id_col`` identifies ONE vector. The per-id aggregation
    means duplicate-id rows collapse to one output row — harmless when the
    duplicate rows carry the SAME vector, but duplicate ids with
    CONFLICTING vectors would make this tier silently diverge from the
    literal tier (which preserves every input row), so that case raises at
    execution time. The check rides the existing aggregate (min == max over
    the vector, map-combinable) — no extra scan or shuffle.
    """
    from f1_datalakehouse_pipeline_spark.operators import similarity as sim

    # r11 (opt): per-row norm precompute before the broadcast fan-out — the
    # score keeps the identical dot/(nv·nc) expression tree, with norm(_v)
    # evaluated once per input row (not once per row×centroid) and norm(_cv)
    # once per centroid row on the broadcast side.
    v = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        sim.norm(F.col(vec_col).cast("array<double>")).alias("_nv"),
    )
    c = centroids_df.select(
        F.col("cluster_id").cast("long").alias("_cid"),
        F.col("centroid").cast("array<double>").alias("_cv"),
        sim.norm(F.col("centroid").cast("array<double>")).alias("_ncv"),
    )
    scored = v.join(F.broadcast(c)).select(
        F.col(id_col),
        F.col("_v"),
        F.struct(
            (sim.dot(F.col("_v"), F.col("_cv")) / (F.col("_nv") * F.col("_ncv"))).alias("cos"),
            (-F.col("_cid")).alias("neg_cid"),
        ).alias("_s"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max("_s").alias("_best"),
            F.first("_v").alias("_v"),
            (F.min("_v") != F.max("_v")).alias("_vec_conflict"),
        )
        .select(
            F.col(id_col),
            _guard_vec_conflict(id_col, vec_col).alias(vec_col),
            (-F.col("_best.neg_cid")).alias("cluster_id"),
            F.col("_best.cos").alias("centroid_cos"),
        )
    )


def _guard_vec_conflict(id_col: str, vec_col: str):
    """Raise at execution time when a vector id carried conflicting vectors
    (see :func:`semantic_cluster_assign_table` precondition); otherwise pass
    the vector through."""
    return F.when(
        F.col("_vec_conflict"),
        F.raise_error(
            F.concat(
                F.lit(
                    f"duplicate {id_col!r} rows with CONFLICTING {vec_col!r} "
                    "vectors reached centroid assignment (id="
                ),
                F.col(id_col).cast("string"),
                F.lit(") — deduplicate ids upstream; the per-id argmax would "
                      "otherwise pick one vector arbitrarily"),
            )
        ).cast("array<double>"),
    ).otherwise(F.col("_v"))


def semantic_index_two_level(
    fine_df: DataFrame,
    coarse_centroids: list[list[float]],
) -> DataFrame:
    """Attach coarse routing ids to a fine-centroid table — the literal
    assignment reused on the centroid table itself. Input ``(cluster_id,
    centroid)``; output adds ``coarse_id`` (the fine centroid's own
    argmax-cosine coarse cell). Train-time-only cost: k_fine × k_coarse
    cosines over a k_fine-row table."""
    tmp = fine_df.select(
        F.col("cluster_id").cast("long").alias("_fid"),
        F.col("centroid").cast("array<double>").alias("centroid"),
    )
    routed = semantic_cluster_assign(tmp, "_fid", "centroid", coarse_centroids)
    return routed.select(
        F.col("_fid").alias("cluster_id"),
        "centroid",
        F.col("cluster_id").alias("coarse_id"),
    )


def semantic_cluster_assign_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    indexed_fine_df: DataFrame,
    coarse_centroids: list[list[float]],
    nprobe: int = 1,
) -> DataFrame:
    """Two-level (IVF-style) centroid assignment — the O(n·k) escape hatch.

    Brute assignment costs n·k cosines; with SemDeDup's k ∝ N regime that
    trends quadratic in corpus size. The public fix (FAISS coarse
    quantizer / inverted multi-index shape) is hierarchical routing: score
    each vector against k_coarse ≈ √k coarse centroids (map-only literal
    expression), take the top-``nprobe`` cells, and broadcast-join only the
    fine centroids living in those cells (``indexed_fine_df`` from
    :func:`semantic_index_two_level`). Cost per vector:
    k_coarse + nprobe·(k/k_coarse) ≈ 2√k at nprobe=1 — at k = 10⁵ that is
    ~160× fewer cosines than brute.

    APPROXIMATE for nprobe < #cells, exactly like IVF probing: a vector
    whose true nearest fine centroid lives outside its probed coarse cells
    gets its best IN-probe centroid instead (equivalence at full nprobe is
    tested). Coarse cells with no fine centroids are dropped from the
    routing array at plan-build time, so every vector always lands in a
    non-empty cell and no row is ever lost to an empty probe.

    Output schema matches :func:`semantic_cluster_assign_table`, including
    its duplicate-id precondition: conflicting vectors under one id raise at
    execution time instead of silently collapsing to an arbitrary one.
    """
    from f1_datalakehouse_pipeline_spark.operators import similarity as sim

    fine = indexed_fine_df.select(
        F.col("cluster_id").cast("long").alias("_cid"),
        F.col("centroid").cast("array<double>").alias("_cv"),
        F.col("coarse_id").cast("long").alias("_coarse"),
        # r11 (opt): fine-centroid norm once per centroid row on the
        # broadcast side (see semantic_cluster_assign_table)
        sim.norm(F.col("centroid").cast("array<double>")).alias("_ncv"),
    )
    # non-empty coarse cells only (bounded collect: ≤ k_coarse longs)
    live = sorted(
        r[0] for r in fine.select("_coarse").distinct().collect()
    )
    if not live:
        raise ValueError("indexed_fine_df has no centroids")
    nprobe = min(nprobe, len(live))

    # r11 (opt): norm(_v) hoisted to a per-row column shared by the coarse
    # routing scores AND the fine scoring after the probe join; coarse
    # centroid norms fold at plan-build time (bit-equal, _centroid_norm).
    v = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        sim.norm(F.col(vec_col).cast("array<double>")).alias("_nv"),
    )
    scores = F.array(
        *[
            F.struct(
                (
                    sim.dot(
                        F.col("_v"),
                        F.array(*[F.lit(float(x)) for x in coarse_centroids[cid]]),
                    )
                    / (F.col("_nv") * F.lit(_centroid_norm(coarse_centroids[cid])))
                ).alias("cos"),
                F.lit(-cid).cast("long").alias("neg_cid"),
            )
            for cid in live
        ]
    )
    probes = F.slice(F.reverse(F.array_sort(scores)), 1, nprobe)
    routed = v.select(
        F.col(id_col),
        F.col("_v"),
        F.col("_nv"),
        F.explode(F.transform(probes, lambda s: -s["neg_cid"])).alias("_coarse"),
    )
    scored = routed.join(F.broadcast(fine), "_coarse").select(
        F.col(id_col),
        F.col("_v"),
        F.struct(
            (sim.dot(F.col("_v"), F.col("_cv")) / (F.col("_nv") * F.col("_ncv"))).alias("cos"),
            (-F.col("_cid")).alias("neg_cid"),
        ).alias("_s"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max("_s").alias("_best"),
            F.first("_v").alias("_v"),
            (F.min("_v") != F.max("_v")).alias("_vec_conflict"),
        )
        .select(
            F.col(id_col),
            _guard_vec_conflict(id_col, vec_col).alias(vec_col),
            (-F.col("_best.neg_cid")).alias("cluster_id"),
            F.col("_best.cos").alias("centroid_cos"),
        )
    )


def semantic_assignment(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]] | DataFrame | None",
    coarse_centroids: "list[list[float]] | None" = None,
    nprobe: int = 1,
) -> DataFrame:
    """Resolve the centroid-assignment tier for the semantic-dedup family
    and return the normalized ``(id_col, _v array<double>, cluster_id)``
    projection. The three tiers (literal map-only / broadcast-table /
    IVF two-level) and the ``centroids=None`` pre-assigned passthrough are
    exactly :func:`semantic_dedup_flags`'s dispatch, factored out so the
    incremental corpus pipeline's history probe
    (:func:`semantic_history_hits`) routes batch vectors with the SAME
    rule that produced the persisted members' cluster ids."""
    if centroids is None:
        return df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )
    if coarse_centroids is not None:
        if not isinstance(centroids, DataFrame):
            raise ValueError(
                "two-level assignment needs centroids as an indexed DataFrame "
                "(semantic_index_two_level output), got a literal list"
            )
        return semantic_cluster_assign_two_level(
            df, id_col, vec_col, centroids, coarse_centroids, nprobe
        ).select(F.col(id_col), F.col(vec_col).alias("_v"), "cluster_id")
    if isinstance(centroids, DataFrame):
        return semantic_cluster_assign_table(df, id_col, vec_col, centroids).select(
            F.col(id_col), F.col(vec_col).alias("_v"), "cluster_id"
        )
    return semantic_cluster_assign(df, id_col, vec_col, centroids).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"), "cluster_id"
    )


def semantic_history_hits(
    batch_asg: DataFrame,
    history: DataFrame,
    id_col: str,
    eps: float,
    lsh_planes: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Batch ids semantically duplicated by an already-admitted corpus: a
    batch vector is hit iff SOME history member of its cluster sits within
    cosine ``eps`` — history always wins, the embedding-space twin of the
    first-arrival-wins rule every other incremental gate uses, so no id
    comparison is needed.

    ``batch_asg`` is a :func:`semantic_assignment` result; ``history`` is
    the persisted member table ``(id, cluster_id, _v)`` (ids are never
    read — only cluster routing and vectors). Output: distinct ``id_col``
    rows, anti-join them off the batch.

    100 TB shape: the join is keyed on ``cluster_id`` (plus band/bucket
    under ``lsh_planes``, the same skew escape hatch as
    :func:`semantic_dedup_flags`), so probe cost is

        Σ_clusters |batch ∩ cluster| × |history ∩ cluster|

    — batch-proportional while cluster populations stay bounded (size k
    proportionally to the corpus, the SemDeDup regime). Never a history
    self-join: history pairs were already resolved when those batches were
    admitted."""
    from f1_datalakehouse_pipeline_spark.operators import similarity as sim

    # per-row norm precompute (r11): the eps filter keeps the identical
    # dot/(nb*nh) expression tree, with each norm evaluated once per input
    # row instead of once per joined pair
    b = batch_asg.select(
        F.col(id_col),
        F.col("_v").alias("_vb"),
        "cluster_id",
        sim.norm(F.col("_v")).alias("_nb"),
    )
    h = history.select(
        F.col("_v").cast("array<double>").alias("_vh"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        sim.norm(F.col("_v").cast("array<double>")).alias("_nh"),
    )
    if lsh_planes is not None:
        if not lsh_planes:
            raise ValueError("lsh_planes must contain at least one band")

        def banded(df: DataFrame, vcol: str) -> DataFrame:
            sigs = [
                df.select(
                    "*",
                    F.lit(bi).alias("_band"),
                    sim.hyperplane_bucket(F.col(vcol), planes).alias("_bucket"),
                )
                for bi, planes in enumerate(lsh_planes)
            ]
            out = sigs[0]
            for s in sigs[1:]:
                out = out.unionByName(s)
            return out

        b, h = banded(b, "_vb"), banded(h, "_vh")
        keys = ["cluster_id", "_band", "_bucket"]
    else:
        keys = ["cluster_id"]
    return (
        b.join(h, keys)
        .filter(
            (sim.dot(F.col("_vb"), F.col("_vh")) / (F.col("_nb") * F.col("_nh")))
            >= eps
        )
        .select(id_col)
        .distinct()
    )


def semantic_dedup_flags(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]] | DataFrame | None",
    eps: float,
    coarse_centroids: "list[list[float]] | None" = None,
    nprobe: int = 1,
    lsh_planes: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540, public): cluster embeddings,
    call same-cluster pairs with cosine ≥ ``eps`` semantic duplicates, keep
    one representative per neighborhood. Keeper rule here is the
    deterministic greedy-by-id form: a document is removed iff some
    LOWER-id document in its cluster sits within ``eps`` — expressible as a
    single NOT EXISTS, so the whole operator is oracle-verifiable.

    Output: (id, cluster_id, kept) for every input row.

    100 TB shape: assignment is a map-only projection (k literal centroids);
    the only shuffles are the within-cluster pair join (keyed on
    cluster_id) and the removed-set anti-join. Pair cost is bounded by the
    largest cluster — size k proportionally to the corpus
    (k ≈ N / target_cluster_size, the SemDeDup paper's regime) so cluster
    populations stay bounded and the join never degenerates toward n².
    Skewed/outlier-heavy clusters would show up as straggler tasks;
    ``lsh_planes`` is the structural fix: a list of hyperplane BANDS
    (each a list of planes) narrows pair candidates to same-(cluster,
    band, sign-bucket) — an oversized cluster's all-pairs cost divides by
    ~2^planes per band while the exact cosine ≥ eps verify keeps precision
    exact (recall approximate, the same contract as the MinHash-LSH
    banding; removed_lsh ⊆ removed_exact is property-tested, and a single
    empty band degenerates to the exact form bit-for-bit).

    ``centroids`` is either a literal ``list[list[float]]`` (map-only
    assignment, small k) or a ``(cluster_id, centroid)`` DataFrame
    (broadcast-join assignment via :func:`semantic_cluster_assign_table`,
    the large-k scale path); the two forms are equivalence-tested. When
    ``coarse_centroids`` is also given (centroids must then be the indexed
    DataFrame carrying ``coarse_id``), assignment routes hierarchically via
    :func:`semantic_cluster_assign_two_level` — O(√k) per vector instead of
    O(k), approximate below full ``nprobe``. ``centroids=None`` means ``df``
    ALREADY carries ``cluster_id`` (a persisted assignment) — the
    production shape: the lazy form recomputes the assignment for each
    pair-join side, so at scale assign once, write to parquet, then flag
    from the staged table.
    """
    from f1_datalakehouse_pipeline_spark.operators import similarity as sim

    asg = semantic_assignment(
        df, id_col, vec_col, centroids,
        coarse_centroids=coarse_centroids, nprobe=nprobe,
    )
    if lsh_planes is not None:
        if not lsh_planes:
            raise ValueError("lsh_planes must contain at least one band")
        sigs = [
            asg.select(
                F.col(id_col),
                F.col("_v"),
                "cluster_id",
                F.lit(bi).alias("_band"),
                sim.hyperplane_bucket(F.col("_v"), planes).alias("_bucket"),
            )
            for bi, planes in enumerate(lsh_planes)
        ]
        sig = sigs[0]
        for s in sigs[1:]:
            sig = sig.unionByName(s)
        # per-row norm precompute (r11): same dot/(na*nb) expression tree,
        # norms once per (row, band) instead of once per candidate pair
        a = sig.select(
            F.col(id_col).alias("_id_a"), F.col("_v").alias("_va"),
            "cluster_id", "_band", "_bucket",
            sim.norm(F.col("_v")).alias("_na"),
        )
        b = sig.select(
            F.col(id_col).alias("_id_b"), F.col("_v").alias("_vb"),
            "cluster_id", "_band", "_bucket",
            sim.norm(F.col("_v")).alias("_nb"),
        )
        pair_keys = ["cluster_id", "_band", "_bucket"]
    else:
        a = asg.select(
            F.col(id_col).alias("_id_a"), F.col("_v").alias("_va"), "cluster_id",
            sim.norm(F.col("_v")).alias("_na"),
        )
        b = asg.select(
            F.col(id_col).alias("_id_b"), F.col("_v").alias("_vb"), "cluster_id",
            sim.norm(F.col("_v")).alias("_nb"),
        )
        pair_keys = ["cluster_id"]
    removed = (
        a.join(b, pair_keys)
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(
            (sim.dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
            >= eps
        )
        .select(F.col("_id_b").alias("_removed_id"))
        .distinct()
    )
    return (
        asg.join(removed, asg[id_col] == removed._removed_id, "left_outer")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("_removed_id").isNull().alias("kept"),
        )
    )
