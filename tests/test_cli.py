"""CLI entry-point smoke: full incremental run over the bronze fixtures."""

from __future__ import annotations

import ast
import importlib
import json
from pathlib import Path

import fixtures_f1 as fx
from f1_datalakehouse_pipeline_spark.cli import main


def test_cli_run_incremental(tmp_path, capsys, spark):
    bronze = str(tmp_path / "bronze")
    wh = str(tmp_path / "wh")
    fx.generate_bronze(bronze)

    # historical bootstrap then incremental with auto-detection
    rc = main(
        ["bronze-to-silver", "--bronze", bronze, "--warehouse", wh,
         "--mode", "HISTORICAL", "--year", str(fx.YEAR)]
    )
    assert rc == 0
    rc = main(
        ["run-incremental", "--bronze", bronze, "--warehouse", wh,
         "--year", str(fx.YEAR)]
    )
    out_lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("[")]
    assert rc == 0
    reports = json.loads(out_lines[-1])
    assert reports[0]["grand_prix"] == "italian"  # auto-detected, ≙ XCom handoff
    assert all(v == "ok" for r in reports for v in r["results"].values())


def test_cli_profile_and_write_shards(spark, tmp_path, capsys):
    import json

    from f1_datalakehouse_pipeline_spark.cli import main

    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"doc {i} tokens here") for i in range(50)], ["doc_id", "text"]
    ).write.parquet(src)

    assert main(["profile", "--parquet", src, "--columns", "doc_id,text", "--exact"]) == 0
    prof = {r["column"]: r for r in json.loads(capsys.readouterr().out.strip().splitlines()[-1])}
    assert prof["doc_id"]["n_rows"] == 50 and prof["doc_id"]["n_distinct"] == 50

    out = str(tmp_path / "shards")
    assert main([
        "write-shards", "--parquet", src, "--out", out,
        "--n-shards", "4", "--seed", "e1",
    ]) == 0
    man = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(r["n_rows"] for r in man) == 50
    from f1_datalakehouse_pipeline_spark.sources.shards import verify_training_shards

    assert verify_training_shards(spark, out, "text").count() == 0


def test_cli_build_corpus(spark, tmp_path, capsys):
    import json

    from f1_datalakehouse_pipeline_spark.cli import main

    src = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, f"document number {i} about spark engines and window functions") for i in range(20)]
        + [(100, "document number 0 about spark engines and window functions")],  # exact dup
        ["doc_id", "text"],
    ).write.parquet(src)
    out = str(tmp_path / "corpus")
    rc = main([
        "build-corpus", "--parquet", src, "--out", out,
        "--chunk-tokens", "8", "--overlap-tokens", "2", "--n-shards", "3", "--seed", "e9",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["counts"]["raw"] == 21
    assert rep["counts"]["after_exact_dedup"] == 20
    assert rep["audit_violations"] == 0
    assert sum(s["n_rows"] for s in rep["shards"]) == rep["counts"]["chunks"]


def test_cli_mix_corpus(spark, tmp_path, capsys):
    import json

    from f1_datalakehouse_pipeline_spark.cli import main

    src = str(tmp_path / "mixsrc")
    rows = [
        (i, "web" if i % 3 else "code", "tok " * (5 + i % 7)) for i in range(60)
    ]
    spark.createDataFrame(rows, ["doc_id", "source", "text"]).write.parquet(src)

    out = str(tmp_path / "mixed")
    assert main([
        "mix-corpus", "--parquet", src, "--out", out,
        "--budgets", '{"web": 80, "code": 1000000}',
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["web"]["tokens"] <= 80          # budget respected
    assert stats["code"]["docs"] == 20           # over-budget domain kept whole
    mixed = spark.read.parquet(out)
    assert mixed.count() == stats["web"]["docs"] + stats["code"]["docs"]
    assert set(mixed.columns) == {"doc_id", "source", "text"}  # original rows, not projections


def test_cli_mix_corpus_rejects_out_colliding_with_input(spark, tmp_path):
    """--out equal to / nested inside / containing --parquet must be refused
    BEFORE any write: the overwrite would clobber the lazily-read input
    (ADVICE r4)."""
    import pytest

    from f1_datalakehouse_pipeline_spark.cli import main

    src = str(tmp_path / "mixsrc")
    spark.createDataFrame(
        [(i, "web", "tok tok tok") for i in range(5)], ["doc_id", "source", "text"]
    ).write.parquet(src)

    for bad_out in (src, src + "/", src + "/nested", str(tmp_path)):
        with pytest.raises(SystemExit, match="collides"):
            main([
                "mix-corpus", "--parquet", src, "--out", bad_out,
                "--budgets", '{"web": 100}',
            ])
    # the input survived untouched
    assert spark.read.parquet(src).count() == 5


def test_cli_build_corpus_incremental(spark, tmp_path, capsys):
    """Two incremental CLI invocations build on one state root: the second
    batch's cross-batch duplicates are rejected and the shard set extends."""
    import json

    from f1_datalakehouse_pipeline_spark.cli import main

    good = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(1, good), (2, "an ordinary clean document describing parquet row group stats")],
        ["doc_id", "text"],
    ).write.parquet(b1)
    spark.createDataFrame(
        [(10, good), (11, "a genuinely novel piece about broadcast joins and memory")],
        ["doc_id", "text"],
    ).write.parquet(b2)

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    args = ["build-corpus", "--out", out, "--incremental-state", state,
            "--near-threshold", "0.5", "--chunk-tokens", "8",
            "--overlap-tokens", "2", "--n-shards", "2", "--seed", "e0"]
    assert main(["build-corpus", "--parquet", b1] + args[1:]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["counts"]["after_near_dedup"] == 2

    assert main(["build-corpus", "--parquet", b2] + args[1:]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["counts"]["after_exact_dedup"] == 1  # doc 10 == batch-1's doc 1
    assert r2["audit_violations"] == 0
    assert sum(m["n_rows"] for m in r2["shards"]) > sum(m["n_rows"] for m in r1["shards"])

    # mixture flags are batch-mode only
    import pytest
    with pytest.raises(SystemExit, match="incompatible"):
        main(["build-corpus", "--parquet", b2, "--domain-col", "src",
              "--domain-budgets", '{"a": 5}'] + args[1:])


_REPO = Path(__file__).resolve().parent.parent
_PKG = "f1_datalakehouse_pipeline_spark"


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _resolves(module: str, name: str) -> bool:
    if module == "tools" or module.startswith("tools."):
        target = _REPO.joinpath(*module.split("."))
        if (target / f"{name}.py").is_file():
            return True
        source = target.with_suffix(".py")
        return source.is_file() and name in _top_level_names(source)
    try:
        if hasattr(importlib.import_module(module), name):
            return True
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_entry_point_from_imports_resolve():
    """Every `from <package or tools> import name`, at module level or lazy
    inside a function, names something that exists, so deleting code cannot
    leave an import that fails only when its query or command runs. Tool
    scripts are checked by their AST, never imported (some start Spark)."""
    files = [
        *sorted((_REPO / _PKG).rglob("*.py")),
        _REPO / "bench.py",
        _REPO / "__spark_entry__.py",
        *sorted((_REPO / "tools").glob("*.py")),
        *sorted((_REPO / "perfbench").glob("*.py")),
    ]
    checked, unresolved = 0, []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom) or node.level or not node.module:
                continue
            root = node.module.split(".")[0]
            if root not in (_PKG, "tools"):
                continue
            for alias in node.names:
                checked += 1
                if not _resolves(node.module, alias.name):
                    unresolved.append(
                        f"{path.relative_to(_REPO)}:{node.lineno}: "
                        f"from {node.module} import {alias.name}"
                    )
    assert checked > 100
    assert not unresolved, "\n".join(unresolved)


def test_no_code_names_a_fixed_checkout_path():
    """Scripts and tests resolve the checkout from their own ``__file__``:
    one that names a fixed checkout path runs and reports that checkout's
    code, not its own, whenever it is run from another clone."""
    needle = "/".join(["", "root", "repo"])
    files = [
        *sorted((_REPO / _PKG).rglob("*.py")),
        *sorted((_REPO / "tools").glob("*.py")),
        *sorted((_REPO / "tests").glob("*.py")),
        _REPO / "bench.py",
        _REPO / "__spark_entry__.py",
    ]
    hits = [
        f"{path.relative_to(_REPO)}:{node.lineno}"
        for path in files
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and needle in node.value
    ]
    assert len(files) > 50
    assert not hits, hits
