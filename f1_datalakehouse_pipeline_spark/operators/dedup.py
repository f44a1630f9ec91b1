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
  bucketing against caller-supplied centroids (two assignment tiers:
  literal / broadcast-table, chosen by k), within-cluster cosine ≥ eps,
  greedy lowest-id keeper; optional within-cluster LSH banding for skewed
  clusters and a persisted-assignment production mode.

Pair lists become clusters in connected_keepers / apply_dedup, the one
driver-side step: the pairs (one row per near-duplicate, so they scale with
the duplicates, not the corpus) are collected once under the
MAX_NEAR_DUP_EDGES bound and resolved exactly with numpy.

All hashes are the md5-derived portable hash (functions/text.py) so every
stage is exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.functions.text import (
    MINHASH_A,
    minhash_term,
    portable_hash48,
    tokens,
)

# Most near-duplicate pairs connected_keepers collects to the driver (16 B a
# pair in Arrow); a larger pair list fails loudly instead of flooding it.
MAX_NEAR_DUP_EDGES = 4_000_000


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
    "minhash_lsh_pairs",
    "simhash_codes",
    "MINHASH_A",
]


def connected_keepers(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into clusters: (doc, keeper) with keeper =
    min doc id reachable through the pair graph.

    The edge list (one row per near-duplicate pair, so it scales with the
    duplicates, not the corpus) comes to the driver in ONE bounded Arrow
    collect and the components are resolved there exactly: doc ids are
    densified with ``np.unique``, then min-label propagation across every
    edge in both directions plus pointer jumping (``lab = lab[lab]``)
    repeats until a fixed point — always reached, since labels only fall.
    A label is always a node of its own component and the component's
    minimum can never lose its own label, so the fixed point labels every
    node with that minimum. One collect in all, where distributed
    propagation cost two keyed shuffles and a checkpoint per round.

    More than ``MAX_NEAR_DUP_EDGES`` pairs raise ``ValueError`` instead of
    being truncated: past that the collect no longer fits a small driver
    budget. The labels are a driver-local DataFrame and read no checkpoint;
    it is coalesced to at most ``defaultParallelism`` partitions, because a
    large pandas frame arrives as one partition per Arrow batch (700 at
    7M docs) and the anti-join in :func:`apply_dedup` would read them all.
    """
    import numpy as np
    import pandas as pd

    edges = (
        pairs.select(F.col("doc_a").cast("long"), F.col("doc_b").cast("long"))
        .limit(MAX_NEAR_DUP_EDGES + 1)
        .toArrow()
    )
    n = edges.num_rows
    if n > MAX_NEAR_DUP_EDGES:
        raise ValueError(
            f"near-duplicate pair list has more than {MAX_NEAR_DUP_EDGES} rows "
            f"({n} collected); cluster resolution supports at most "
            f"MAX_NEAR_DUP_EDGES={MAX_NEAR_DUP_EDGES} pairs"
        )
    ends = np.concatenate(
        [edges.column("doc_a").to_numpy(), edges.column("doc_b").to_numpy()]
    )
    del edges
    # docs ascend, so the smallest label index IS the smallest doc id
    docs, idx = np.unique(ends, return_inverse=True)
    del ends
    src, dst = idx[:n], idx[n:]
    lab = np.arange(len(docs))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, src, lab[dst])
        np.minimum.at(lab, dst, lab[src])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            break
    spark = pairs.sparkSession
    return spark.createDataFrame(
        pd.DataFrame({"doc": docs, "keeper": docs[lab]}), "doc long, keeper long"
    ).coalesce(spark.sparkContext.defaultParallelism)


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
    test_sh = _shingle_table(test, id_col, content_col, k).select(
        F.col("doc").alias("test_id"), "h"
    )
    test_sizes = test_sh.groupBy("test_id").agg(F.count(F.lit(1)).alias("test_ngrams"))
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
    belong to no cluster untouched). The clusters are resolved on the driver
    (:func:`connected_keepers`, bounded by ``MAX_NEAR_DUP_EDGES``); the drop
    set still scales with the duplicate count, so no forced broadcast hint:
    AQE converts the anti-join to a broadcast join at runtime when the drop
    set is actually small, and falls back to a shuffle join when it isn't."""
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
    that the caller supplies (every caller pins it, e.g. the first k
    embeddings), so the assignment is map-only — no shuffle, no UDF, and
    the sequential-fold cosine is bit-reproducible in the DuckDB oracle.

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
    for the SemDeDup-at-local regime (k·dim ≲ 10⁴) but plan
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


def semantic_assignment(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]] | DataFrame | None",
) -> DataFrame:
    """Resolve the centroid-assignment tier for the semantic-dedup family
    and return the normalized ``(id_col, _v array<double>, cluster_id)``
    projection. The two tiers (literal map-only / broadcast-table) and the
    ``centroids=None`` pre-assigned passthrough are exactly
    :func:`semantic_dedup_flags`'s dispatch, factored out so the
    incremental corpus pipeline's history probe
    (:func:`semantic_history_hits`) routes batch vectors with the SAME
    rule that produced the persisted members' cluster ids."""
    if centroids is None:
        return df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )
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

    ``centroids`` are supplied by the caller: either a literal
    ``list[list[float]]`` (map-only assignment, small k) or a
    ``(cluster_id, centroid)`` DataFrame (broadcast-join assignment via
    :func:`semantic_cluster_assign_table`, the large-k scale path); the two
    forms are equivalence-tested. ``centroids=None`` means ``df``
    ALREADY carries ``cluster_id`` (a persisted assignment) — the
    production shape: the lazy form recomputes the assignment for each
    pair-join side, so at scale assign once, write to parquet, then flag
    from the staged table.
    """
    from f1_datalakehouse_pipeline_spark.operators import similarity as sim

    asg = semantic_assignment(df, id_col, vec_col, centroids)
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
