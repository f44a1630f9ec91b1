"""Smoke runs of each benchmark workload (about five minutes in all).

Each workload runs once clean, printing every end-to-end metric of
BENCHMARK.json with its unit and passing its checks, and once traced with a
deliberately corrupted program output, which its checks must catch;
``gp_incremental`` also runs untraced with a corruption its cheap checks
must catch.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    run_dir = os.path.join(bench.DATA, f"test-{workload}-{trace}")
    bench.pin_host(run_dir)
    try:
        return bench.run(argparse.Namespace(workload=workload, seed=5, seconds=1, trace=trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _assert_metrics(result: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_gp_incremental_smoke_and_corruption(monkeypatch):
    clean = _run("gp_incremental", 0)
    assert clean["correct"] and clean["failed"] == 0 and clean["attempted"] > 0
    _assert_metrics(clean, "end_to_end")
    assert all(v["value"] > 0 for v in clean["metrics"].values())

    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.plans import pipeline, silver

    # wrong team names on the INCREMENTAL path only: every count still
    # holds, so only the traced run's HISTORICAL comparison can see it
    merge = pipeline.scd2_merge_incremental
    monkeypatch.setattr(pipeline, "scd2_merge_incremental",
                        lambda *a, **k: merge(*a, **k).withColumn("team_name", F.upper("team_name")))
    corrupt = _run("gp_incremental", 1)
    _assert_metrics(corrupt, "per_layer")
    assert not corrupt["correct"] and corrupt["failed"] > 0
    monkeypatch.undo()

    lossy = silver.transform_laps
    monkeypatch.setattr(silver, "transform_laps", lambda laps, s: lossy(laps, s).filter("lap_number > 1"))
    corrupt = _run("gp_incremental", 0)
    assert not corrupt["correct"] and corrupt["failed"] > 0


def test_corpus_build_smoke_and_corruption(monkeypatch):
    import workloads

    monkeypatch.setattr(workloads.CorpusBuild, "n_docs", 1000)
    clean = _run("corpus_build", 0)
    assert clean["correct"] and clean["failed"] == 0
    _assert_metrics(clean, "end_to_end")

    from f1_datalakehouse_pipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "apply_dedup", lambda df, id_col, pairs: df)
    corrupt = _run("corpus_build", 1)
    _assert_metrics(corrupt, "per_layer")
    assert corrupt["metrics"]["plans.corpus.docs_in"]["value"] == 1000
    assert not corrupt["correct"] and corrupt["failed"] > 0
