"""The training-corpus pipeline: raw documents → verified training shards.

The F1 medallion pipeline (plans/pipeline.py) is the reference-parity job;
this is its training-data sibling — the composition every 100 TB corpus
build runs, wired from the engine's own oracle-verified operators:

    raw docs
      → quality gate        (functions/text.quality_score ≥ threshold)
      → PII scrub           (functions/pii.scrub_pii — map-only)
      → exact dedup         (operators/dedup.exact_dedup keepers)
      → near-dup removal    (minhash_lsh_pairs + apply_dedup)
      → containment dedup   (optional: shingle_containment_pairs — drop docs
                             fully contained in a surviving superset doc)
      → semantic dedup      (optional: dedup.semantic_dedup_flags over a
                             doc-aligned embeddings table — rewordings the
                             shingle family cannot see; docs without an
                             embedding row pass through)
      → decontamination     (contamination_pairs vs a held-out benchmark)
      → domain mixture      (optional: mixture.budgeted_mixture — per-domain
                             token budgets, seeded and reproducible)
      → chunking            (operators/textstats.chunk_documents)
      → shard delivery      (sources/shards.write_training_shards:
                             seeded shuffle + verifiable manifest)

Every stage is a DataFrame transform (no collect, no Python row loops); the
only driver-side values are the per-stage counts in the report, each a
single aggregate action. Stage order is deliberate: cheap row-local filters
(quality, scrub) run before the shuffling dedup stages so the joins see the
smallest corpus; decontamination runs after dedup so the benchmark index
probes unique docs only; chunking runs last because near-dup detection on
full documents beats detection on fragments.

Chunk ids compose (doc_id << chunk_shift) | chunk_idx — collision-free
while docs stay under 2^chunk_shift chunks (default shift 12 → 4096 chunks,
a 2M-token doc at the default window; raise ``chunk_shift`` for longer).
Out-of-range rows raise at execution time instead of silently colliding
(VERDICT r4 blemish 3), and a non-integral ``doc_id`` column raises at plan
time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import os

from f1_datalakehouse_pipeline_spark.functions.pii import scrub_pii
from f1_datalakehouse_pipeline_spark.functions.text import portable_hash48, quality_score
from f1_datalakehouse_pipeline_spark.operators import dedup
from f1_datalakehouse_pipeline_spark.operators.textstats import chunk_documents
from f1_datalakehouse_pipeline_spark.operators.util import release_local_checkpoints
from f1_datalakehouse_pipeline_spark.sources.shards import (
    append_training_shards,
    verify_training_shards,
    write_training_shards,
)


@dataclass
class CorpusReport:
    counts: dict[str, int] = field(default_factory=dict)
    shard_manifest: list = field(default_factory=list)
    audit_violations: int = 0
    #: per-column PSI of this batch vs the bootstrap reference (set only
    #: when the caller passes drift_reference) and the columns whose PSI
    #: crossed the threshold. Drift FLAGS, it never rejects: a distribution
    #: shift is an operator signal (crawl rot, upstream unit change), not a
    #: per-document verdict — delivery identity stays byte-equal.
    drift_psi: dict = field(default_factory=dict)
    drift_flagged: list = field(default_factory=list)
    #: write-audit-publish results (set only when the caller passes
    #: wap_checks): per-check (violations, total), the number of rows routed
    #: to quarantine, and whether a critical check aborted the WHOLE batch
    #: (nothing delivered, no state touched, manifest unchanged).
    wap_metrics: dict = field(default_factory=dict)
    wap_quarantined: int = 0
    wap_batch_quarantined: bool = False


def corpus_drift_reference(docs: DataFrame, content_col: str = "text", *, n_buckets: int = 10):
    """Build the PSI drift reference for :func:`run_corpus_pipeline_incremental`
    from a bootstrap corpus snapshot: quality-score and token-count
    distributions, aggregates materialized once
    (quality.psi_reference(materialize=True)) so every later batch scores in
    O(batch)."""
    from f1_datalakehouse_pipeline_spark.functions.text import token_count
    from f1_datalakehouse_pipeline_spark.quality import psi_reference

    proj = docs.select(
        quality_score(F.col(content_col)).alias("quality"),
        token_count(F.col(content_col)).alias("n_tokens"),
    )
    return psi_reference(
        proj, numeric_cols=["quality", "n_tokens"], n_buckets=n_buckets,
        materialize=True,
    )


def _manifest_and_audit(spark: SparkSession, out_root: str, rep: "CorpusReport") -> None:
    """Shared delivery epilogue: read the manifest back from the parquet the
    sink just wrote (collecting the in-flight DataFrame would re-execute the
    pipeline lineage once the stage caches are gone) and run the integrity
    audit. One definition so the batch and incremental reports cannot drift."""
    from f1_datalakehouse_pipeline_spark.sources.shards import read_shard_manifest

    rep.shard_manifest = sorted(
        (r.asDict() for r in read_shard_manifest(spark, out_root).collect()),
        key=lambda d: d["shard_id"],
    )
    rep.audit_violations = verify_training_shards(
        spark, out_root, "chunk_text"
    ).count()


def _require_integral_id(df: DataFrame, id_col: str) -> None:
    """Both pipelines compose chunk ids by bit-shifting the doc id, so the
    id column must be integral — shared so the batch and incremental guards
    (and their remediation message) cannot drift."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"chunk_id composition requires an integral {id_col!r} column; got "
            f"{id_type.simpleString()} — map ids to int64 upstream (e.g. "
            "xxhash64) or chunk without the composed id"
        )


def _semantic_centroid_fingerprint(centroids) -> str:
    """Order-independent identity of a centroid set. Literal lists hash
    their exact float values; a ``(cluster_id, centroid)`` DataFrame is
    reduced by ONE bounded aggregate (count + sum of row hashes — no
    collect of the table itself, which at the 100 TB regime is k ≥ 10⁵
    rows)."""
    if isinstance(centroids, DataFrame):
        row = centroids.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(
                    F.col("cluster_id").cast("string"),
                    F.to_json(F.col("centroid").cast("array<double>")),
                )
            ).alias("h"),
        ).collect()[0]
        return "df-%d-%016x" % (row["n"], (row["h"] or 0) & 0xFFFFFFFFFFFFFFFF)
    import hashlib
    import json

    payload = json.dumps([[float(x) for x in c] for c in centroids])
    return "lit-" + hashlib.sha256(payload.encode()).hexdigest()[:24]


def _check_centroid_fingerprint(semantic_dir: str, centroids) -> None:
    """The persisted semantic members' cluster ids are meaningful ONLY under
    the centroid set that produced them, so the set is part of the state
    contract: its fingerprint is written on first use (a leading-underscore
    file, invisible to Spark's parquet reader) and every later batch must
    present the same set — a silent swap would route new vectors into
    clusters whose members were assigned under different geometry, quietly
    breaking the probe in BOTH directions (missed dups and false hits).
    Raises before any state is touched."""
    fp = _semantic_centroid_fingerprint(centroids)
    path = os.path.join(semantic_dir, "_centroid_fingerprint")
    if os.path.exists(path):
        with open(path) as fh:
            stored = fh.read().strip()
        if stored != fp:
            raise ValueError(
                "semantic_centroids do not match the set this state root was "
                f"built with (stored fingerprint {stored}, got {fp}) — the "
                "persisted cluster ids are only meaningful under the original "
                "centroids; pass the same set, or start a new state_root to "
                "re-cluster"
            )
    else:
        os.makedirs(semantic_dir, exist_ok=True)
        with open(path, "w") as fh:
            fh.write(fp)


def _has_member_partitions(state_dir: str) -> bool:
    """True when a batch_token-partitioned state dir holds at least one
    member partition (the dir may exist holding only the fingerprint file,
    which Spark ignores but cannot infer a schema from)."""
    if not os.path.isdir(state_dir):
        return False
    return any(d.startswith("batch_token=") for d in os.listdir(state_dir))


# Rows per output file for the per-batch state writes below (r11 opt,
# guide §6: state stores otherwise gain one file PER UPSTREAM PARTITION per
# batch — 32 tiny files per write locally — and the per-batch probe scan
# eventually drowns in listing/footer overhead; compact_corpus_state is the
# after-the-fact repair, this sizes the write in the first place). At the
# ~100–1000 B/row of hashes/ids/short docs, 1M rows/file lands inside the
# guide's 128 MB–1 GB output-file target; a batch smaller than one file
# coalesces to a single file, a huge batch keeps one file per 1M rows.
_STATE_ROWS_PER_FILE = 1_000_000


def _sized(df: DataFrame, n_rows: int) -> DataFrame:
    """Coalesce a state write to a row-count-derived file count. Pure
    layout: coalesce never changes data, only the number of write tasks.
    ``n_rows`` is an already-known count (never a new action); coalesce to
    MORE partitions than the input has is a no-op, so undercounts are safe."""
    return df.coalesce(max(1, -(-n_rows // _STATE_ROWS_PER_FILE)))


def compose_chunk_id(id_col: str, idx_col: str, shift: int = 12):
    """``(doc_id << shift) | chunk_idx`` with loud execution-time guards.

    Raises (via ``raise_error``, so the job fails with a message naming the
    offending row) instead of silently colliding when a document produces
    ``>= 2**shift`` chunks, when ``doc_id`` is negative, or when the shifted
    compose would overflow int64 (``doc_id >= 2**(63-shift)``).
    """
    doc = F.col(id_col).cast("long")
    idx = F.col(idx_col).cast("long")
    bad = (
        (idx >= F.lit(1 << shift))
        | (doc < F.lit(0))
        | (doc >= F.lit(1 << (63 - shift)))
    )
    msg = F.format_string(
        "chunk_id compose overflow: doc_id=%s chunk_idx=%s exceeds shift="
        + str(shift)
        + " (max 2^" + str(shift) + " chunks/doc, doc_id < 2^" + str(63 - shift)
        + "); raise chunk_shift",
        doc,
        idx,
    )
    return F.when(bad, F.raise_error(msg)).otherwise(doc * F.lit(1 << shift) + idx)


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    benchmark: DataFrame | None = None,
    quality_min: float = 0.5,
    near_threshold: float = 0.7,
    contamination_min: float = 0.5,
    chunk_tokens: int = 128,
    overlap_tokens: int = 32,
    n_shards: int = 16,
    seed: str = "epoch-0",
    max_doc_frequency: int | None = 1000,
    containment_threshold: float | None = None,
    domain_col: str | None = None,
    domain_budgets: dict[str, int] | None = None,
    chunk_shift: int = 12,
    embeddings: DataFrame | None = None,
    semantic_eps: float | None = None,
    semantic_centroids: "list[list[float]] | DataFrame | None" = None,
    semantic_vec_id_col: str = "vec_id",
    semantic_vec_col: str = "embedding",
    semantic_lsh_planes: "list[list[list[float]]] | None" = None,
) -> CorpusReport:
    """Run the full corpus build; returns per-stage counts + shard manifest
    + audit result. Idempotent: shards overwrite per (out_root, seed).

    ``embeddings`` + ``semantic_eps`` + ``semantic_centroids`` together
    enable the SemDeDup stage (operators/dedup.semantic_dedup_flags) after
    the text-level dedups and before decontamination: embeddings are
    semi-joined to the surviving docs first (no assignment work for rows
    other stages already dropped), and a doc with NO embedding row is KEPT
    — absence of evidence is not duplication evidence."""
    if (domain_col is None) != (domain_budgets is None):
        raise ValueError(
            "domain_col and domain_budgets enable the mixture stage TOGETHER; "
            f"got domain_col={domain_col!r}, domain_budgets="
            f"{'set' if domain_budgets is not None else 'None'} — passing only "
            "one would silently skip the stage"
        )
    semantic_args = (embeddings is not None, semantic_eps is not None,
                     semantic_centroids is not None)
    if any(semantic_args) and not all(semantic_args):
        raise ValueError(
            "embeddings, semantic_eps and semantic_centroids enable the "
            "semantic-dedup stage TOGETHER; passing a subset would silently "
            f"skip it (got embeddings={'set' if semantic_args[0] else 'None'}, "
            f"semantic_eps={semantic_eps!r}, semantic_centroids="
            f"{'set' if semantic_args[2] else 'None'})"
        )
    _require_integral_id(docs, id_col)
    rep = CorpusReport()

    # Each shuffling stage consumes its input at least twice (the dedup
    # pair-computation AND the semi/anti-join back), so stage boundaries are
    # cached — without this every second branch recomputes the whole
    # upstream lineage (measured: 141.5 s → see PERF_NOTES r4
    # composed-pipeline rung).
    # The unpersist runs in a finally: a stage that raises must not leak its
    # caches — a lingering cached plan that reads a state/output path would
    # silently serve STALE data to a later run in the same session (writes
    # into new partition subdirs do not invalidate a parent-dir cache).
    #
    # r12 (guide §1.2/§5: fewer actions = fewer full passes of scheduling):
    # the per-stage report counts used to be one count() ACTION per stage;
    # they now ride OBSERVED metrics attached under each stage cache and are
    # resolved after the chunk count — the single action that materializes
    # the whole chain — so N stages cost one materializing pass instead of
    # N+1 sequential jobs. observe(count) over a cached stage fires exactly
    # once (on cache fill, whichever action causes it) and count(lit(1)) is
    # the same aggregate count() ran, so the report values are identical.
    cached: list[DataFrame] = []
    pending: dict[str, tuple[Observation, DataFrame]] = {}

    def checkpoint_stage(df: DataFrame, count_key: str | None = None) -> DataFrame:
        # Invariant: every stage's FIRST action is a full scan. A PySpark
        # Observation records only the first action over the observed plan,
        # so a partial action (limit, take, head, isEmpty) on a stage before
        # resolve_counts would record a partial count and raise nothing.
        # Today the first action is always full: an eager localCheckpoint
        # inside a dedup operator, or the final chunks.count().
        obs = None
        if count_key is not None:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df = df.cache()
        cached.append(df)
        if obs is not None:
            pending[count_key] = (obs, df)
        return df

    def resolve_counts() -> None:
        # Observation.get blocks until its metric arrives; every pending
        # stage sits below the chunk count in lineage, so by the time this
        # runs each has already fired. Caveat: a stage the optimizer folded
        # into an EMPTY relation materializes with zero tasks, so its
        # CollectMetrics accumulator never updates and Spark records a
        # schema-less empty row that Observation.get cannot convert — fall
        # back to counting the (materialized, empty) cache: one trivial job,
        # and only on all-rows-rejected stages.
        for key, (obs, df) in pending.items():
            try:
                n = obs.get.get("n")
            except Exception:
                n = None
            rep.counts[key] = int(n) if n is not None else df.count()
        pending.clear()

    # the raw count rides the quality stage's materialization too
    raw_obs = Observation()
    docs = docs.observe(raw_obs, F.count(F.lit(1)).alias("n"))
    pending["raw"] = (raw_obs, docs)
    # The local checkpoints this build makes and its stages read (the LSH
    # pairs, the last connected_keepers round) are released with the stage
    # caches, not left for the ContextCleaner to free after some later
    # driver GC. RDD ids only grow, so the caller's own inputs are not
    # touched.
    first_rdd_id = spark.sparkContext._jsc.sc().newRddId()

    try:
        kept = checkpoint_stage(
            docs.filter(quality_score(F.col(content_col)) >= quality_min)
            .withColumn(content_col, scrub_pii(F.col(content_col))),
            "after_quality",
        )

        exact = dedup.exact_dedup(kept, id_col, content_col).select(
            F.col("keeper_id").alias(id_col)
        )
        kept = checkpoint_stage(
            kept.join(exact, id_col, "left_semi"), "after_exact_dedup"
        )

        pairs = dedup.minhash_lsh_pairs(
            kept, id_col, content_col,
            threshold=near_threshold, max_doc_frequency=max_doc_frequency,
        )
        cached.append(pairs)
        kept = checkpoint_stage(
            dedup.apply_dedup(kept, id_col, pairs), "after_near_dedup"
        )

        if containment_threshold is not None:
            # Subset-duplication pass: symmetric near-dedup above already
            # removed high-Jaccard pairs; this drops each remaining pair's
            # CONTAINED doc (the smaller shingle set), keeping the
            # superset's extra content.
            contained = (
                dedup.shingle_containment_pairs(
                    kept, id_col, content_col,
                    threshold=containment_threshold,
                    max_doc_frequency=max_doc_frequency,
                )
                .select(F.col("contained_doc").alias(id_col))
                .distinct()
            )
            kept = checkpoint_stage(
                kept.join(contained, id_col, "left_anti"),
                "after_containment_dedup",
            )

        if semantic_eps is not None:
            # Meaning-level dedup after the text-level passes (rewordings
            # and translations the shingle family cannot see). Embeddings
            # restricted to survivors before any assignment work; docs
            # without an embedding row pass through untouched.
            emb_kept = (
                embeddings.select(
                    F.col(semantic_vec_id_col).cast("long").alias(id_col),
                    F.col(semantic_vec_col).alias(semantic_vec_col),
                )
                .join(kept.select(id_col), id_col, "left_semi")
            )
            sem_removed = (
                dedup.semantic_dedup_flags(
                    emb_kept, id_col, semantic_vec_col,
                    semantic_centroids, semantic_eps,
                    lsh_planes=semantic_lsh_planes,
                )
                .filter(~F.col("kept"))
                .select(id_col)
            )
            kept = checkpoint_stage(
                kept.join(sem_removed, id_col, "left_anti"),
                "after_semantic_dedup",
            )

        if benchmark is not None:
            leaks = dedup.contamination_pairs(
                kept, benchmark, id_col, content_col,
                min_containment=contamination_min,
                max_doc_frequency=max_doc_frequency,
            ).select(F.col("train_id").alias(id_col)).distinct()
            kept = checkpoint_stage(
                kept.join(leaks, id_col, "left_anti"), "after_decontamination"
            )

        if domain_col is not None and domain_budgets is not None:
            # Mixture runs after all cleaning so budgets are spent on docs
            # that will actually ship, and before chunking so budgets count
            # document tokens, not overlap-inflated chunk tokens.
            from f1_datalakehouse_pipeline_spark.functions.text import token_count
            from f1_datalakehouse_pipeline_spark.operators.mixture import budgeted_mixture

            admitted = budgeted_mixture(
                kept.withColumn("__n_tokens", token_count(F.col(content_col))),
                id_col,
                domain_col,
                "__n_tokens",
                domain_budgets,
                seed=f"{seed}-mix",
            ).select(id_col)
            kept = checkpoint_stage(
                kept.join(admitted, id_col, "left_semi"), "after_mixture"
            )

        chunks = checkpoint_stage(
            chunk_documents(
                kept, id_col, content_col, chunk_tokens, overlap_tokens
            ).select(
                compose_chunk_id(id_col, "chunk_idx", chunk_shift).alias("chunk_id"),
                F.col("chunk_text"),
            )
        )
        # THE materializing action: executes every stage above (filling the
        # caches) and fires every pending stage-count observation.
        n_chunks = chunks.count()
        resolve_counts()
        rep.counts["chunks"] = n_chunks

        if rep.counts["chunks"] == 0:
            # Every doc was filtered out. A zero-row partitionBy write would
            # leave a data/ dir with no partition files, which no later read
            # (audit, append) can infer a schema from — deliver nothing.
            return rep
        write_training_shards(chunks, "chunk_id", "chunk_text", out_root, n_shards, seed)
    finally:
        for df in cached:
            df.unpersist()
            release_local_checkpoints(df, first_rdd_id)
    _manifest_and_audit(spark, out_root, rep)
    return rep


def run_corpus_pipeline_incremental(
    spark: SparkSession,
    batch: DataFrame,
    out_root: str,
    state_root: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    benchmark: DataFrame | None = None,
    quality_min: float = 0.5,
    near_threshold: float = 0.7,
    contamination_min: float = 0.5,
    chunk_tokens: int = 128,
    overlap_tokens: int = 32,
    n_shards: int = 16,
    seed: str = "epoch-0",
    max_doc_frequency: int | None = 1000,
    chunk_shift: int = 12,
    shingle_buckets: int | None = None,
    audit: bool = True,
    drift_reference=None,
    drift_threshold: float = 0.25,
    embeddings: DataFrame | None = None,
    semantic_eps: float | None = None,
    semantic_centroids: "list[list[float]] | DataFrame | None" = None,
    semantic_vec_id_col: str = "vec_id",
    semantic_vec_col: str = "embedding",
    semantic_lsh_planes: "list[list[list[float]]] | None" = None,
    wap_checks: "dict | None" = None,
    wap_critical: "set[str] | None" = None,
) -> CorpusReport:
    """Admit ONE NEW BATCH into an already-built corpus — the ingestion form
    of :func:`run_corpus_pipeline`.

    ``wap_checks`` (check_name → boolean VIOLATION predicate over the raw
    batch — the ``quality.expectations_for_table`` contract) turns on the
    write-audit-publish admission gate (VERDICT r8 item 4), implemented by
    the SAME ``streaming.quality_gate.audit_split`` battery as the
    oracle-gated ``dq_expectations``, so corpus admission can never drift
    from its counting semantics. Per batch:
    rows violating any check are routed to ``<state_root>/quarantine/``
    (batch_token-partitioned, idempotent dynamic overwrite — replay-safe
    like every other state write here) with the names of the checks they
    broke; one (check_name, violations, total, batch_quarantined) row per
    check lands in ``<state_root>/wap_metrics/``; clean rows continue into
    the quality→dedup→chunk pipeline. If a check named in ``wap_critical``
    has violations, the ENTIRE batch is quarantined and the function
    returns with shards, manifest and every state store untouched — the
    WAP abort. Results surface on the report (``wap_metrics``,
    ``wap_quarantined``, ``wap_batch_quarantined``). Note the
    quality_min score filter is a DIFFERENT axis (per-document model-score
    admission); the WAP battery is schema/contract violations an operator
    must see counted per check.

    ``drift_reference`` (a :func:`corpus_drift_reference` result, built once
    from the bootstrap corpus) turns on the per-batch PSI drift gate
    (VERDICT r5 item 5): the RAW batch's quality-score and token-count
    distributions are scored against the reference in O(batch) and the
    per-column PSI lands in ``report.drift_psi`` with columns past
    ``drift_threshold`` named in ``report.drift_flagged``. Drift FLAGS, it
    never rejects — delivery stays identical with or without the gate.

    ``audit=False`` skips the closing full-shard-set integrity re-scan (and
    the manifest collect): the audit is CORPUS-sized, so a high-frequency
    caller — the streaming front-end in ``streaming/corpus_ingest`` — must
    not pay it per micro-batch. Run :func:`~f1_datalakehouse_pipeline_spark.
    sources.shards.verify_training_shards` out-of-band instead.

    The batch runs quality → scrub → exact dedup (within-batch keepers, then
    an anti-join against the persisted content-hash history) → near dedup
    (within-batch LSH self-join over the BATCH only, then a
    :func:`dedup.novelty_pairs` probe of the persisted band index — never a
    self-join over history ∪ batch, so per-batch cost tracks the batch) →
    semantic dedup (optional — see below) →
    decontamination → chunking → :func:`append_training_shards` into the
    existing shard set, manifest updated by summation. Admitted docs then
    extend the state stores so the NEXT batch sees them.

    ``embeddings`` + ``semantic_eps`` + ``semantic_centroids`` (same trio
    coupling as the batch form) enable the SemDeDup stage for INGESTION
    (VERDICT r6 item 2): the batch's surviving embeddings are
    centroid-assigned once, then (a) within-batch greedy-by-id dedup via
    :func:`dedup.semantic_dedup_flags` and (b) a cluster-keyed probe of the
    PERSISTED member vectors (:func:`dedup.semantic_history_hits` —
    history always wins, never a history self-join, probe cost ∝ batch).
    Admitted docs' ``(id, cluster_id, vector)`` rows extend
    ``semantic/`` so later rewordings of an admitted doc are rejected.
    ``semantic_centroids`` must be IDENTICAL across an ingest's life — the
    persisted cluster ids are only meaningful under the centroids that
    produced them — and this is enforced by an order-independent centroid
    fingerprint written on first use (a mismatch raises before any state
    is touched). A doc with NO embedding row passes through untouched.

    State lives under ``state_root``:
      ``exact_hashes/``  admitted content hashes (8 B/doc), one
                         ``batch_token=<t>`` partition per admitted batch —
                         the token is derived from the RAW batch content, so
                         a replay recomputes the same token;
      ``lsh/``           the band/shingles/sizes index
                         (``streaming/novelty`` layout; ``shingle_buckets``
                         selects the bucketed 100 TB form);
      ``semantic/``      admitted ``(id, cluster_id, _v)`` member vectors,
                         ``batch_token=`` partitioned like exact_hashes
                         (present only when the semantic stage is enabled);
      ``_commits/<t>``   marker touched only after ALL state appends.

    Crash-replay contract (ADVICE r5): the two state extensions (exact-hash
    partition, then LSH index append) are not one atomic write, so a crash
    between them must not strand the state. The batch-token partition plus
    commit marker make the replay deterministic: a replay that finds its own
    token partition WITHOUT a marker (crash mid-state) excludes that
    partition from the exact gate — reproducing the original verdicts — then
    overwrites its own partition (idempotent) and completes the LSH append;
    a replay that finds the marker (fully committed) runs the normal gates
    and is rejected whole at the exact gate, extending nothing. Residue is
    limited to duplicate shard delivery of the one in-flight batch, exactly
    as documented for the shards-before-state ordering below.

    Equivalence contract (tested): incrementally admitting B1 then B2 equals
    the one-shot pipeline over B1∪B2 up to first-arrival-wins keeper choice
    — identical when earlier batches carry smaller ids (the one-shot keeper
    is min(id)) and no near-dup cluster chains across batches through a
    rejected middle member. The semantic stage inherits the same
    chained-middle-member caveat in embedding space: the one-shot
    greedy-by-id rule removes a doc when ANY lower-id neighbor is within
    ``semantic_eps`` (even a neighbor that was itself removed), while the
    incremental probe sees only ADMITTED history members — a B2 doc whose
    only eps-neighbor is a REJECTED B1 doc diverges. MEASURED (r8,
    ``tools/scale_stress.py --semantic-divergence`` + PERF_NOTES r8): on
    the real embeddings the over-admission is 4–6.5% of the one-shot
    removal set where the stage bites (e.g. 9 of 165 removals at eps=0.3,
    sf0.001) and always one-sided — the incremental path never removes a
    doc the one-shot rule keeps. Note the entanglement CASCADES through
    the text gates (state stores hold only finally-admitted docs): a B2
    exact-twin or near-dup of a never-admitted B1 doc passes the
    cross-batch gates — the driver query ``t_corpus_manifest_semantic``
    hash-pins this whole incremental contract against a DuckDB
    reconstruction. One more caveat when ``max_doc_frequency`` is
    set: the df-cap is VIEW-RELATIVE — the one-shot form counts shingle
    document frequency over the whole corpus, this form over each batch
    (and, in the probe, over the admitted history), so a shingle can cross
    the cap in one view and not the other. Dropping a near-cap shingle
    perturbs borderline pairs' MinHash signatures, which shifts LSH
    candidate RECALL on short documents (measured at 500K docs: 0.24% of
    delivered chunks, tools/scale_stress.py --corpus-incremental). This is
    inherent to any streaming df statistic, not a defect of the staging:
    exact global df would require re-scanning the full corpus per batch,
    which is the cost this mode exists to avoid. The first call (no shard manifest yet) creates
    the shard set with ``n_shards``; later calls ignore ``n_shards`` and
    append. The mixture/containment stages are deliberately absent here:
    cross-batch token budgets are not supported, and containment needs the
    superset corpus view.
    """
    _require_integral_id(batch, id_col)
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        _append_index,
        _read_index,
    )

    semantic_args = (embeddings is not None, semantic_eps is not None,
                     semantic_centroids is not None)
    if any(semantic_args) and not all(semantic_args):
        raise ValueError(
            "embeddings, semantic_eps and semantic_centroids enable the "
            "semantic-dedup stage TOGETHER; passing a subset would silently "
            f"skip it (got embeddings={'set' if semantic_args[0] else 'None'}, "
            f"semantic_eps={semantic_eps!r}, semantic_centroids="
            f"{'set' if semantic_args[2] else 'None'})"
        )
    exact_dir = os.path.join(state_root, "exact_hashes")
    lsh_dir = os.path.join(state_root, "lsh")
    semantic_dir = os.path.join(state_root, "semantic")
    if semantic_eps is not None:
        _check_centroid_fingerprint(semantic_dir, semantic_centroids)
    rep = CorpusReport()

    # Batch identity from the RAW input (order-independent sums, one small
    # aggregate that also provides the raw count): a crash-replay re-submits
    # the same rows and therefore recomputes the same token.
    tok = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.col(content_col))).alias("h_content"),
        F.sum(F.xxhash64(F.col(id_col).cast("string"))).alias("h_id"),
    ).collect()[0]
    rep.counts["raw"] = tok["n"]
    batch_token = "%016x%016x" % (
        (tok["h_content"] or 0) & 0xFFFFFFFFFFFFFFFF,
        (tok["h_id"] or 0) & 0xFFFFFFFFFFFFFFFF,
    )
    if drift_reference is not None:
        from f1_datalakehouse_pipeline_spark.functions.text import token_count
        from f1_datalakehouse_pipeline_spark.quality import (
            psi_drift_from_reference,
            psi_summary,
        )

        proj = batch.select(
            quality_score(F.col(content_col)).alias("quality"),
            token_count(F.col(content_col)).alias("n_tokens"),
        )
        # bounded collect: one row per monitored column
        rep.drift_psi = {
            r.column: r.psi
            for r in psi_summary(
                psi_drift_from_reference(drift_reference, proj)
            ).collect()
        }
        rep.drift_flagged = sorted(
            c for c, v in rep.drift_psi.items() if v > drift_threshold
        )

    tok_dir = os.path.join(exact_dir, f"batch_token={batch_token}")
    marker = os.path.join(state_root, "_commits", batch_token)
    # Crash window: prior run wrote this batch's exact-hash partition but
    # died before the LSH append (no marker). Excluding the partition from
    # the exact gate makes the replay reproduce the original verdicts.
    replaying_partial = os.path.isdir(tok_dir) and not os.path.exists(marker)

    # finally-scoped like the batch form: a stage that raises must not leak
    # caches — a crashed run's lingering cached anti-join would serve stale
    # verdicts to the in-session replay this function's crash contract
    # exists for (partition-subdir writes don't invalidate parent-dir
    # caches, so Spark never refreshes the stale entry itself).
    #
    # r12: per-stage report counts ride observed metrics under the stage
    # caches (same design and rationale as the batch form above) and resolve
    # after the chunk count — the per-batch action count drops by one job
    # per stage with identical report values. The gating values this
    # function branches on (chunks, n_admitted) are only needed AFTER that
    # materializing action, so control flow is unchanged.
    cached: list[DataFrame] = []
    pending: dict[str, tuple[Observation, DataFrame]] = {}

    def checkpoint_stage(df: DataFrame, count_key: str | None = None) -> DataFrame:
        # Same invariant as the batch form: every stage's FIRST action is a
        # full scan, because an Observation records only the first action
        # over its plan; a partial action (limit, take, head, isEmpty)
        # before resolve_counts would record a partial count silently.
        obs = None
        if count_key is not None:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df = df.cache()
        cached.append(df)
        if obs is not None:
            pending[count_key] = (obs, df)
        return df

    def resolve_counts() -> None:
        # same empty-stage fallback as the batch form above: a stage folded
        # to an empty relation runs zero tasks and records an inconvertible
        # empty metrics row — count the materialized cache instead.
        for key, (obs, df) in pending.items():
            try:
                n = obs.get.get("n")
            except Exception:
                n = None
            rep.counts[key] = int(n) if n is not None else df.count()
        pending.clear()

    # same local-checkpoint release as the batch form: a long-lived ingest
    # session runs one of these builds per micro-batch
    first_rdd_id = spark.sparkContext._jsc.sc().newRddId()

    try:
        if wap_checks:
            from f1_datalakehouse_pipeline_spark.streaming.quality_gate import (
                audit_split,
            )

            critical = wap_critical or set()
            unknown = critical - set(wap_checks)
            if unknown:
                raise ValueError(
                    f"wap_critical names not in wap_checks: {sorted(unknown)}"
                )
            audited = checkpoint_stage(batch)
            clean, quarantined, metrics = audit_split(audited, wap_checks)
            mrows = metrics.collect()  # bounded: one row per declared check
            rep.wap_metrics = {
                r["check_name"]: (r["violations"], r["total"]) for r in mrows
            }
            crit_hit = any(
                r["check_name"] in critical and r["violations"] > 0
                for r in mrows
            )

            def _wap_sink(df: DataFrame, path: str) -> None:
                # idempotent per-batch sink: replay overwrites its own
                # batch_token partition
                from f1_datalakehouse_pipeline_spark.streaming.quality_gate import (
                    _overwrite_batch,
                )

                _overwrite_batch(df, batch_token, path, stamp_col="batch_token")

            _wap_sink(
                spark.createDataFrame(
                    [
                        (r["check_name"], r["violations"], r["total"], crit_hit)
                        for r in mrows
                    ],
                    "check_name string, violations long, total long, "
                    "batch_quarantined boolean",
                ),
                os.path.join(state_root, "wap_metrics"),
            )
            if crit_hit:
                # audit failed: quarantine the WHOLE batch; deliver nothing,
                # touch no state, leave the manifest byte-identical
                _wap_sink(
                    quarantined.unionByName(
                        clean.withColumn(
                            "violated_checks", F.array().cast("array<string>")
                        )
                    ),
                    os.path.join(state_root, "quarantine"),
                )
                rep.wap_batch_quarantined = True
                rep.wap_quarantined = rep.counts["raw"]
                return rep
            rep.wap_quarantined = quarantined.count()
            if rep.wap_quarantined:
                _wap_sink(quarantined, os.path.join(state_root, "quarantine"))
            batch = clean

        kept = checkpoint_stage(
            batch.filter(quality_score(F.col(content_col)) >= quality_min)
            .withColumn(content_col, scrub_pii(F.col(content_col))),
            "after_quality",
        )

        # exact: within-batch keepers, then drop hashes already admitted
        keepers = dedup.exact_dedup(kept, id_col, content_col).select(
            F.col("keeper_id").alias(id_col)
        )
        kept = kept.join(keepers, id_col, "left_semi")
        if os.path.isdir(exact_dir):
            seen = spark.read.parquet(exact_dir)
            if replaying_partial:
                # partition-pruned at the scan: the batch's own
                # half-committed hashes never reach the anti-join
                seen = seen.filter(F.col("batch_token") != batch_token)
            kept = kept.join(
                seen,
                portable_hash48(F.col(content_col)) == seen.content_hash,
                "left_anti",
            )
        kept = checkpoint_stage(kept, "after_exact_dedup")

        # near: batch self-join + history index probe (batch-proportional)
        pairs = dedup.minhash_lsh_pairs(
            kept, id_col, content_col,
            threshold=near_threshold, max_doc_frequency=max_doc_frequency,
        )
        cached.append(pairs)
        kept = dedup.apply_dedup(kept, id_col, pairs)
        index = _read_index(spark, lsh_dir)
        if index is not None:
            hits = dedup.novelty_pairs(
                kept, index, id_col, content_col,
                threshold=near_threshold, max_doc_frequency=max_doc_frequency,
            )
            kept = dedup.filter_novel(kept, hits, id_col)
        kept = checkpoint_stage(kept, "after_near_dedup")

        if semantic_eps is not None:
            # Assignment computed ONCE per batch (cached: the within-batch
            # pair join reads it twice and the history probe once);
            # embeddings restricted to survivors first, so rows the text
            # gates already dropped never reach the cosine work.
            emb_kept = (
                embeddings.select(
                    F.col(semantic_vec_id_col).cast("long").alias(id_col),
                    F.col(semantic_vec_col).alias(semantic_vec_col),
                )
                .join(kept.select(id_col), id_col, "left_semi")
            )
            asg = checkpoint_stage(
                dedup.semantic_assignment(
                    emb_kept, id_col, semantic_vec_col, semantic_centroids
                )
            )
            within_removed = (
                dedup.semantic_dedup_flags(
                    asg.withColumnRenamed("_v", semantic_vec_col),
                    id_col, semantic_vec_col, None, semantic_eps,
                    lsh_planes=semantic_lsh_planes,
                )
                .filter(~F.col("kept"))
                .select(id_col)
            )
            sem_removed = within_removed
            if _has_member_partitions(semantic_dir):
                hist = spark.read.parquet(semantic_dir)
                if replaying_partial:
                    # same partition-pruned exclusion as the exact gate:
                    # the batch's own half-committed members never probe
                    # against themselves
                    hist = hist.filter(F.col("batch_token") != batch_token)
                sem_removed = within_removed.unionByName(
                    dedup.semantic_history_hits(
                        asg, hist, id_col, semantic_eps,
                        lsh_planes=semantic_lsh_planes,
                    )
                )
            kept = checkpoint_stage(
                kept.join(sem_removed.distinct(), id_col, "left_anti"),
                "after_semantic_dedup",
            )

        if benchmark is not None:
            leaks = dedup.contamination_pairs(
                kept, benchmark, id_col, content_col,
                min_containment=contamination_min,
                max_doc_frequency=max_doc_frequency,
            ).select(F.col("train_id").alias(id_col)).distinct()
            kept = checkpoint_stage(
                kept.join(leaks, id_col, "left_anti"), "after_decontamination"
            )

        chunks = checkpoint_stage(
            chunk_documents(
                kept, id_col, content_col, chunk_tokens, overlap_tokens
            ).select(
                compose_chunk_id(id_col, "chunk_idx", chunk_shift).alias("chunk_id"),
                F.col("chunk_text"),
            )
        )
        # THE materializing action of the batch: fills every stage cache and
        # fires every pending stage-count observation.
        n_chunks = chunks.count()
        resolve_counts()
        rep.counts["chunks"] = n_chunks

        from f1_datalakehouse_pipeline_spark.sources.shards import MANIFEST_DIR

        have_shards = os.path.isdir(os.path.join(out_root, MANIFEST_DIR))
        if rep.counts["chunks"] > 0:
            # A zero-chunk batch delivers nothing (a zero-row FIRST write
            # would poison out_root with a schema-less partitioned dir) but
            # still extends state below: its admitted docs must reject
            # later dups.
            if have_shards:
                append_training_shards(chunks, "chunk_id", "chunk_text", out_root, seed)
            else:
                write_training_shards(
                    chunks, "chunk_id", "chunk_text", out_root, n_shards, seed
                )
            have_shards = True

        # extend state LAST: a crash between the shard append and the state
        # append re-runs a batch the state has not seen — the re-run
        # recomputes the same verdicts, and the residue is duplicate delivery
        # of that ONE batch; state-FIRST would instead make the re-run reject
        # the whole batch against its own half-written state and silently
        # lose it.
        #
        # The admitted rows are STAGED to a lineage-free parquet first:
        # `kept`'s plan READS exact_dir and the LSH index dirs, and Spark
        # re-materializes path-dependent caches on append
        # (CacheManager.recacheByPath) — so appending state directly from
        # `kept` re-runs its anti-join against state that now includes this
        # batch's OWN hashes, evaluates empty, and the second append writes
        # nothing, silently truncating the LSH index to batch 1
        # (regression-tested: it takes THREE batches to observe).
        n_admitted = rep.counts.get(
            "after_decontamination",
            rep.counts.get(
                "after_semantic_dedup", rep.counts["after_near_dedup"]
            ),
        )
        if n_admitted > 0:
            import shutil

            staging = os.path.join(state_root, "_batch_staging")
            # staging is NOT _sized: it is transient (removed at the commit
            # marker) so its file count never accumulates, and its partition
            # count is the parallelism of every downstream state build —
            # coalescing it to one file was measured to blow the LSH band
            # index write up 12 → 384 files (the 1-partition input changes
            # the band pipeline's AQE layout) while saving nothing durable.
            kept.select(id_col, content_col).write.mode("overwrite").parquet(staging)
            kept_s = spark.read.parquet(staging)
            # The exact-hash delta goes into this batch's OWN partition with
            # mode=overwrite: a crash-replay that re-reaches this point
            # rewrites the identical rows instead of double-appending.
            _sized(
                kept_s.select(
                    portable_hash48(F.col(content_col)).alias("content_hash")
                ),
                n_admitted,
            ).write.mode("overwrite").parquet(tok_dir)
            if semantic_eps is not None:
                # Admitted members' (id, cluster_id, vector) extend the
                # semantic history. Recomputed from the lineage-free staged
                # ids + the caller's embeddings table (NOT from `asg`, whose
                # plan reads exact_dir — by this point that store already
                # holds this batch's own hashes, and a recache-triggered
                # re-evaluation would anti-join the batch against itself
                # and write an empty member set; same hazard as the LSH
                # append below). One assignment pass over the admitted
                # embeddings, own-token partition, overwrite = replay-safe.
                emb_admitted = (
                    embeddings.select(
                        F.col(semantic_vec_id_col).cast("long").alias(id_col),
                        F.col(semantic_vec_col).alias(semantic_vec_col),
                    )
                    .join(kept_s.select(id_col), id_col, "left_semi")
                )
                asg_admitted = dedup.semantic_assignment(
                    emb_admitted, id_col, semantic_vec_col, semantic_centroids
                )
                sem_tok_dir = os.path.join(
                    semantic_dir, f"batch_token={batch_token}"
                )
                # A zero-row partition write would leave a schema-less dir;
                # only materialize when some admitted doc has an embedding.
                if asg_admitted.limit(1).count() > 0:
                    # REBALANCE, not _sized (r12; r11 rejected coalesce here
                    # because it narrows upstream parallelism to the file
                    # count and this write's input is the O(n·k·d)
                    # assignment itself): the rebalance shuffle sits AFTER
                    # the assignment compute, so assignment keeps full
                    # parallelism while the write lands AQE-advisory-sized
                    # files instead of one per assignment partition per
                    # batch. compact_corpus_state remains the deep repair.
                    asg_admitted.hint("rebalance").write.mode(
                        "overwrite"
                    ).parquet(sem_tok_dir)
            _append_index(
                lsh_dir,
                dedup.minhash_band_index(
                    kept_s, id_col, content_col, max_doc_frequency=max_doc_frequency
                ),
                shingle_buckets=shingle_buckets,
            )
            # Commit marker LAST: its presence means both state stores hold
            # this batch, so any later replay runs the normal gates and is
            # rejected whole at the exact stage.
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as fh:
                fh.write(str(n_admitted))
            shutil.rmtree(staging, ignore_errors=True)
    finally:
        for df in cached:
            df.unpersist()
            release_local_checkpoints(df, first_rdd_id)

    if not have_shards or not audit:  # nothing delivered yet / caller audits out-of-band
        return rep
    _manifest_and_audit(spark, out_root, rep)
    return rep


def compact_corpus_state(
    spark: SparkSession, state_root: str, *, target_files: int = 1
) -> dict:
    """Maintenance hook for the incremental-pipeline state roots (VERDICT r5
    item 3): every admitted batch appends one small parquet file to each
    store, so after thousands of micro-batches the per-batch probe scan is
    dominated by file-listing/footer overhead. This rewrites both stores
    into few files without changing any verdict. Run it between batches —
    never concurrently with an ingest into the same state root (the same
    contract as any OPTIMIZE).

    ``exact_hashes/`` folds all COMMITTED ``batch_token=`` partitions (plus
    previous folds) into one ``batch_token=__compacted_<digest>__``
    partition. No atomic swap is needed: the store is consumed ONLY via an
    anti-join, so duplicate hashes change no verdict — the sequence
    (write compacted partition → delete folded partitions) is
    superset-monotonic at every crash point, and the deterministic digest
    name makes a retried fold overwrite its own partial output. An
    UNCOMMITTED partition (in-flight or crashed batch, no ``_commits``
    marker) is never folded: the crash-replay exclusion needs it intact
    under its own token. Folded batches' markers are kept — a post-fold
    replay finds no own-token partition, runs the normal gates, and is
    rejected by the compacted hashes.

    ``semantic/`` (when present) folds the same way: it too is consumed
    only via an existence-test probe (a batch doc is removed iff SOME
    member is within eps), so duplicate member rows change no verdict and
    the copy-then-delete sequence is superset-monotonic.

    ``lsh/`` delegates to
    :func:`~f1_datalakehouse_pipeline_spark.streaming.novelty.
    compact_novelty_index` — that store needs the exact multiset (duplicate
    shingles would inflate the count-based Jaccard verify), hence its
    recoverable rename dance.
    """
    from f1_datalakehouse_pipeline_spark.streaming.novelty import (
        compact_novelty_index,
    )

    stats: dict = {"lsh": compact_novelty_index(
        spark, os.path.join(state_root, "lsh"), target_files=target_files
    )}
    commits_dir = os.path.join(state_root, "_commits")
    committed = set(os.listdir(commits_dir)) if os.path.isdir(commits_dir) else set()
    for store, cols in (
        ("exact_hashes", ["content_hash"]),
        ("semantic", None),  # keep every member column (id, cluster_id, _v)
    ):
        res = _fold_token_partitions(
            spark, os.path.join(state_root, store), committed, cols, target_files
        )
        if res is not None:
            stats[store] = res
    return stats


def _fold_token_partitions(
    spark: SparkSession,
    store_dir: str,
    committed: set,
    cols: "list[str] | None",
    target_files: int,
) -> "dict | None":
    """Fold a batch_token-partitioned, duplicate-tolerant state store's
    COMMITTED partitions (plus previous folds) into one
    ``batch_token=__compacted_<digest>__`` partition — the shared mechanics
    of the exact-hash and semantic-member stores (see
    :func:`compact_corpus_state` for the crash-safety argument). Returns
    None when the store does not exist."""
    import hashlib
    import shutil

    from f1_datalakehouse_pipeline_spark.streaming.novelty import _count_files

    if not os.path.isdir(store_dir):
        return None
    parts = [d for d in os.listdir(store_dir) if d.startswith("batch_token=")]
    foldable = sorted(
        d for d in parts
        if d.removeprefix("batch_token=") in committed
        or d.startswith("batch_token=__compacted_")
    )
    before = _count_files(store_dir)
    if len(foldable) < 2:
        return {
            "files_before": before, "files_after": before, "folded_partitions": 0,
        }
    digest = hashlib.md5("|".join(foldable).encode()).hexdigest()[:16]
    dest = os.path.join(store_dir, f"batch_token=__compacted_{digest}__")
    folded = spark.read.parquet(*[os.path.join(store_dir, d) for d in foldable])
    if cols is not None:
        folded = folded.select(*cols)
    folded.coalesce(target_files).write.mode("overwrite").parquet(dest)
    for d in foldable:
        p = os.path.join(store_dir, d)
        if os.path.realpath(p) != os.path.realpath(dest):
            shutil.rmtree(p, ignore_errors=True)
    return {
        "files_before": before,
        "files_after": _count_files(store_dir),
        "folded_partitions": len(foldable),
    }
