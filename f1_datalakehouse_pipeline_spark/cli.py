"""CLI entry points — the spark-submit surface of the engine.

Parity with the reference's two Glue job mains (SURVEY §3.1-3.2):
``f1_bronze_to_silver_transform.py --RUN_MODE ... --GRAND_PRIX ... --YEAR ...``
and the silver→gold equivalent, minus Glue/Airflow. The weekly-incremental
Airflow DAG (§3.3) collapses into ``run-incremental`` (detection happens
in-engine via pipeline.detect_latest_grand_prix — no XCom needed).

Usage:
    python -m f1_datalakehouse_pipeline_spark bronze-to-silver \
        --bronze /path/bronze --warehouse /path/warehouse \
        --mode HISTORICAL --year 2025 [--grand-prix monaco]
    python -m f1_datalakehouse_pipeline_spark silver-to-gold ...
    python -m f1_datalakehouse_pipeline_spark run-incremental ...  (both layers)
"""

from __future__ import annotations

import argparse
import json
import sys

from f1_datalakehouse_pipeline_spark.plans.pipeline import (
    HISTORICAL,
    INCREMENTAL,
    run_bronze_to_silver,
    run_silver_to_gold,
)
from f1_datalakehouse_pipeline_spark.session import get_spark
from f1_datalakehouse_pipeline_spark.sources.tables import TableStore


def _reject_out_collision(in_path: str, out_path: str) -> None:
    """Refuse an --out that is, contains, or is nested inside the input
    parquet path: the overwrite write would clobber the lazily-read input
    mid-job (ADVICE r4). Local-path heuristic — remote URIs compare as
    plain strings."""
    import os

    a = os.path.abspath(in_path).rstrip("/")
    b = os.path.abspath(out_path).rstrip("/")
    if a == b or b.startswith(a + "/") or a.startswith(b + "/"):
        raise SystemExit(
            f"--out {out_path!r} collides with the input parquet {in_path!r}: "
            "the overwrite would clobber the input while it is being read; "
            "choose a disjoint output path"
        )


def _common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--bronze", required=False, help="bronze root directory")
    p.add_argument("--warehouse", required=True, help="silver/gold table root")
    p.add_argument("--mode", choices=[HISTORICAL, INCREMENTAL], default=HISTORICAL)
    p.add_argument("--year", type=int, default=2025)
    p.add_argument("--grand-prix", default=None, help="incremental scope (auto-detected if omitted)")
    p.add_argument("--master", default=None)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="f1-lakehouse-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("bronze-to-silver", "silver-to-gold", "run-incremental"):
        _common(sub.add_parser(name))
    ing = sub.add_parser("ingest", help="REST API -> bronze landing (S1)")
    ing.add_argument("--bronze", required=True)
    ing.add_argument("--year", type=int, default=2025)
    ing.add_argument("--base-url", required=True, help="API base URL")
    ing.add_argument("--rate-limit", type=float, default=0.5)
    ing.add_argument("--master", default=None)
    prof = sub.add_parser("profile", help="one-pass per-column table profile")
    prof.add_argument("--parquet", required=True, help="parquet path to profile")
    prof.add_argument("--columns", required=True, help="comma-separated columns")
    prof.add_argument("--exact", action="store_true", help="exact distinct counts (per-column scans) instead of HLL")
    prof.add_argument("--master", default=None)
    shd = sub.add_parser("write-shards", help="seeded shuffle -> training shards + manifest")
    shd.add_argument("--parquet", required=True, help="source corpus parquet")
    shd.add_argument("--id-col", default="doc_id")
    shd.add_argument("--content-col", default="text")
    shd.add_argument("--out", required=True)
    shd.add_argument("--n-shards", type=int, required=True)
    shd.add_argument("--seed", required=True)
    shd.add_argument("--master", default=None)
    corp = sub.add_parser(
        "build-corpus",
        help="full training-corpus build: quality -> scrub -> dedup -> decontaminate -> chunk -> shards",
    )
    corp.add_argument("--parquet", required=True, help="raw documents parquet")
    corp.add_argument("--out", required=True)
    corp.add_argument("--id-col", default="doc_id")
    corp.add_argument("--content-col", default="text")
    corp.add_argument("--benchmark-parquet", default=None, help="held-out eval set for decontamination")
    corp.add_argument("--quality-min", type=float, default=0.5)
    corp.add_argument("--near-threshold", type=float, default=0.7)
    corp.add_argument("--chunk-tokens", type=int, default=128)
    corp.add_argument("--overlap-tokens", type=int, default=32)
    corp.add_argument("--n-shards", type=int, default=16)
    corp.add_argument("--seed", default="epoch-0")
    corp.add_argument(
        "--containment-threshold",
        type=float,
        default=None,
        help="optional subset-dup pass: drop docs whose shingle containment in a surviving doc exceeds this",
    )
    corp.add_argument("--domain-col", default=None, help="enable the mixture stage on this column")
    corp.add_argument(
        "--domain-budgets",
        default=None,
        help='JSON domain -> token budget (requires --domain-col)',
    )
    corp.add_argument(
        "--incremental-state",
        default=None,
        help="state root (exact-hash + LSH index) — admit --parquet as a NEW "
        "batch into the existing shard set instead of rebuilding "
        "(run_corpus_pipeline_incremental; mixture/containment flags are "
        "batch-mode only and rejected here)",
    )
    corp.add_argument("--master", default=None)
    mix = sub.add_parser(
        "mix-corpus",
        help="token-budgeted per-domain mixture (seeded, reproducible): keep each domain's hash-prefix up to its budget",
    )
    mix.add_argument("--parquet", required=True, help="corpus parquet")
    mix.add_argument("--out", required=True, help="output parquet for the mixed corpus")
    mix.add_argument("--id-col", default="doc_id")
    mix.add_argument("--content-col", default="text")
    mix.add_argument("--domain-col", default="source")
    mix.add_argument(
        "--budgets",
        required=True,
        help='JSON object of domain -> token budget, e.g. \'{"web": 1000000, "code": 250000}\'',
    )
    mix.add_argument("--seed", default="mix-1")
    mix.add_argument("--master", default=None)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(f"f1-lakehouse-{args.cmd}", master=args.master)
    if args.cmd == "profile":
        from f1_datalakehouse_pipeline_spark.quality import profile_columns

        df = spark.read.parquet(args.parquet)
        rows = profile_columns(
            df, args.columns.split(","), approx=not args.exact
        ).collect()
        print(json.dumps([r.asDict() for r in rows]))
        return 0
    if args.cmd == "write-shards":
        _reject_out_collision(args.parquet, args.out)
        from f1_datalakehouse_pipeline_spark.sources.shards import (
            write_training_shards,
        )

        df = spark.read.parquet(args.parquet)
        manifest = write_training_shards(
            df, args.id_col, args.content_col, args.out, args.n_shards, args.seed
        ).collect()
        print(json.dumps([r.asDict() for r in manifest]))
        return 0
    if args.cmd == "build-corpus":
        _reject_out_collision(args.parquet, args.out)
        from f1_datalakehouse_pipeline_spark.plans.corpus import run_corpus_pipeline

        docs = spark.read.parquet(args.parquet)
        bench = (
            spark.read.parquet(args.benchmark_parquet)
            if args.benchmark_parquet
            else None
        )
        if args.incremental_state is not None:
            if (
                args.domain_col
                or args.domain_budgets
                # `is not None`: 0.0 is a legal batch-mode threshold and
                # must be rejected here, not silently dropped
                or args.containment_threshold is not None
            ):
                raise SystemExit(
                    "--incremental-state is incompatible with the mixture/"
                    "containment flags (cross-batch token budgets are not "
                    "supported; containment needs the superset corpus view)"
                )
            _reject_out_collision(args.parquet, args.incremental_state)
            from f1_datalakehouse_pipeline_spark.plans.corpus import (
                run_corpus_pipeline_incremental,
            )

            rep = run_corpus_pipeline_incremental(
                spark,
                docs,
                args.out,
                args.incremental_state,
                id_col=args.id_col,
                content_col=args.content_col,
                benchmark=bench,
                quality_min=args.quality_min,
                near_threshold=args.near_threshold,
                chunk_tokens=args.chunk_tokens,
                overlap_tokens=args.overlap_tokens,
                n_shards=args.n_shards,
                seed=args.seed,
            )
            print(
                json.dumps(
                    {
                        "counts": rep.counts,
                        "shards": rep.shard_manifest,
                        "audit_violations": rep.audit_violations,
                    }
                )
            )
            return 1 if rep.audit_violations else 0
        rep = run_corpus_pipeline(
            spark,
            docs,
            args.out,
            id_col=args.id_col,
            content_col=args.content_col,
            benchmark=bench,
            quality_min=args.quality_min,
            near_threshold=args.near_threshold,
            chunk_tokens=args.chunk_tokens,
            overlap_tokens=args.overlap_tokens,
            n_shards=args.n_shards,
            seed=args.seed,
            containment_threshold=args.containment_threshold,
            domain_col=args.domain_col,
            domain_budgets=(
                {str(k): int(v) for k, v in json.loads(args.domain_budgets).items()}
                if args.domain_budgets
                else None
            ),
        )
        print(
            json.dumps(
                {
                    "counts": rep.counts,
                    "shards": rep.shard_manifest,
                    "audit_violations": rep.audit_violations,
                }
            )
        )
        return 1 if rep.audit_violations else 0
    if args.cmd == "mix-corpus":
        _reject_out_collision(args.parquet, args.out)
        from pyspark.sql import functions as F

        from f1_datalakehouse_pipeline_spark.functions.text import token_count
        from f1_datalakehouse_pipeline_spark.operators.mixture import budgeted_mixture

        docs = spark.read.parquet(args.parquet)
        budgets = {str(k): int(v) for k, v in json.loads(args.budgets).items()}
        sized = docs.withColumn("n_tokens", token_count(F.col(args.content_col)))
        # cache: the mixture (3 shuffles) feeds BOTH the semi-join write and
        # the stats aggregation — uncached it would run end-to-end twice
        kept = budgeted_mixture(
            sized, args.id_col, args.domain_col, "n_tokens", budgets, seed=args.seed
        ).cache()
        # re-attach full rows (id is unique by contract); the semi join keeps
        # only the mixture's members
        out = docs.join(kept.select(args.id_col), args.id_col, "left_semi")
        out.write.mode("overwrite").parquet(args.out)
        stats = (
            kept.groupBy(args.domain_col)
            .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("tokens"))
            .collect()
        )
        kept.unpersist()
        print(json.dumps({r[args.domain_col]: {"docs": r.docs, "tokens": r.tokens} for r in stats}))
        return 0
    if args.cmd == "ingest":
        from f1_datalakehouse_pipeline_spark.sources.ingest import (
            RestClient,
            http_transport,
            ingest_year,
        )

        client = RestClient(
            http_transport(args.base_url), rate_limit_seconds=args.rate_limit
        )
        counts = ingest_year(spark, client, args.bronze, year=args.year)
        print(json.dumps({"ingested": counts}))
        return 0
    store = TableStore(spark, args.warehouse)
    reports = []
    try:
        if args.cmd in ("bronze-to-silver", "run-incremental"):
            if not args.bronze:
                raise SystemExit("--bronze is required for bronze-to-silver")
            mode = INCREMENTAL if args.cmd == "run-incremental" else args.mode
            rep = run_bronze_to_silver(
                spark, args.bronze, store, mode=mode, year=args.year, grand_prix=args.grand_prix
            )
            reports.append(rep)
            args.grand_prix = rep.grand_prix  # propagate detection (≙ XCom)
        if args.cmd in ("silver-to-gold", "run-incremental"):
            mode = INCREMENTAL if args.cmd == "run-incremental" else args.mode
            reports.append(
                run_silver_to_gold(
                    spark, store, mode=mode, year=args.year, grand_prix=args.grand_prix
                )
            )
    finally:
        out = [
            {
                "mode": r.mode,
                "year": r.year,
                "grand_prix": r.grand_prix,
                "results": r.results,
                "row_counts": r.row_counts,
            }
            for r in reports
        ]
        print(json.dumps(out))
    failed = any(v != "ok" for r in reports for v in r.results.values())
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
