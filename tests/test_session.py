"""``session.get_spark``: the class-data-sharing archive's life cycle and the
JVM case mapping in ``DEFAULT_CONFS``.

The life-cycle tests use a temporary ``XDG_CACHE_HOME`` and a fake Spark home
whose ``jars`` directory feeds the archive key; the "driver" that dumps an
archive is a ``java -version`` process, which dumps a real archive in well
under a second.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from f1_datalakehouse_pipeline_spark import session
from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFS = {"spark.driver.memory": "3g"}


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A fake Spark home (one real jar, a templates-only conf dir) and an
    empty cache; returns the Spark home."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    launcher = glob.glob(os.path.join(session._find_spark_home(), "jars", "spark-launcher_*.jar"))
    shutil.copy(launcher[0], spark_home / "jars")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in session._CONF_DIR_VARS:
        monkeypatch.delenv(var, raising=False)
    return spark_home


def _java() -> str:
    return os.path.join(session._java_home(), "bin", "java")


def _class_path(spark_home) -> str:
    return os.pathsep.join(sorted(glob.glob(str(spark_home / "jars" / "*.jar"))))


def _dead_pid() -> int:
    p = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                       capture_output=True, text=True, check=True)
    return int(p.stdout)


def _dump(plan, class_path: str) -> None:
    """Act as the dumping driver: a JVM started with the plan's options
    writes the archive at its exit, as recorded by ``get_spark``."""
    p = subprocess.Popen([_java(), *plan.options, "-cp", class_path, "-version"],
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    assert p.wait(timeout=60) == 0
    session._record_dump(plan.dump, p.pid, class_path)


def test_archive_life_cycle_dump_then_map(home):
    plan = session._plan_cds(CONFS)
    key = session._archive_key(session._java_home(), str(home), CONFS)
    tmp = os.path.join(session._cache_dir(), f"{key}.{os.getpid()}.tmp")
    assert plan.options == [f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=error"]
    assert plan.dump == tmp
    assert os.path.exists(os.path.join(session._cache_dir(), f"{key}.marker"))
    # a templates-only conf dir is swapped for an empty one
    empty = os.path.join(session._cache_dir(), "empty-conf")
    assert plan.env == {"SPARK_CONF_DIR": empty} and os.listdir(empty) == []
    assert os.stat(session._cache_dir()).st_mode & 0o777 == 0o700

    _dump(plan, _class_path(home))
    assert session._validate(_java(), tmp, _class_path(home), key)

    archive = os.path.join(session._cache_dir(), f"{key}.jsa")
    for _ in range(2):  # published once, then mapped as it is
        plan = session._plan_cds(CONFS)
        assert plan.options == [f"-XX:SharedArchiveFile={archive}"]
        assert plan.dump is None and plan.env == {"SPARK_CONF_DIR": empty}
    assert set(os.listdir(session._cache_dir())) == {f"{key}.jsa", "empty-conf"}


def test_failed_dump_attempt_is_not_retried(home, caplog):
    session._plan_cds(CONFS)
    marker = glob.glob(os.path.join(session._cache_dir(), "*.marker"))[0]
    # the dumping process died and its JVM wrote nothing
    with open(marker, "w") as fh:
        fh.write(str(_dead_pid()))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        plan = session._plan_cds(CONFS)
    assert plan == session._Cds()
    assert [r.getMessage() for r in caplog.records if marker in r.getMessage()]
    assert not glob.glob(os.path.join(session._cache_dir(), "*.tmp"))


def test_dump_in_progress_is_neither_mapped_nor_repeated(home, caplog):
    plan = session._plan_cds(CONFS)
    with open(plan.dump, "wb") as fh:  # the JVM is still writing it
        fh.write(b"\0" * 4096)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._plan_cds(CONFS) == session._Cds()
    assert os.path.exists(plan.dump) and not caplog.records


def test_truncated_dump_is_deleted_never_published(home):
    plan = session._plan_cds(CONFS)
    _dump(plan, _class_path(home))
    with open(plan.dump, "rb") as fh:
        head = fh.read(os.path.getsize(plan.dump) // 2)
    with open(plan.dump, "wb") as fh:
        fh.write(head)

    again = session._plan_cds(CONFS)
    assert not any("SharedArchiveFile" in o for o in again.options)
    assert again.dump is None
    assert not glob.glob(os.path.join(session._cache_dir(), "*.tmp"))
    assert not glob.glob(os.path.join(session._cache_dir(), "*.jsa"))
    assert not glob.glob(os.path.join(session._cache_dir(), "*.json"))


def test_changed_jars_give_a_new_key_and_drop_the_old_archive(home):
    java_home = session._java_home()
    key = session._archive_key(java_home, str(home), CONFS)
    assert session._archive_key(java_home, str(home), CONFS) == key
    assert session._archive_key(java_home, str(home), {"spark.driver.memory": "64g"}) \
        == key.replace("-coops", "-nocoops")
    os.makedirs(session._cache_dir())
    stale = os.path.join(session._cache_dir(), f"{key}.jsa")
    open(stale, "w").close()

    (home / "jars" / "extra.jar").write_bytes(b"PK")
    new = session._archive_key(java_home, str(home), CONFS)
    assert new != key
    plan = session._plan_cds(CONFS)
    assert plan.dump == os.path.join(session._cache_dir(), f"{new}.{os.getpid()}.tmp")
    assert not os.path.exists(stale)


@pytest.mark.parametrize("var", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR"])
def test_conf_dir_rule(home, tmp_path, monkeypatch, var):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "core-site.xml.template").write_text("")
    monkeypatch.setenv(var, str(conf))
    assert session._plan_cds(CONFS).env[var] == os.path.join(session._cache_dir(), "empty-conf")

    (conf / "spark-defaults.conf").write_text("spark.f1.probe applied\n")
    assert session._plan_cds(CONFS) == session._Cds()


def test_real_spark_defaults_conf_gets_no_archive_and_still_applies(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.f1.probe applied\n")
    cache = tmp_path / "cache"
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf),
               SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    code = ("import sys; sys.path.insert(0, sys.argv[1])\n"
            "from f1_datalakehouse_pipeline_spark import get_spark\n"
            "s = get_spark('conf-probe')\n"
            "print(s.conf.get('spark.f1.probe'),"
            " s.sparkContext.getConf().get('spark.driver.defaultJavaOptions', 'none'))\n"
            "s.stop()\n")
    out = subprocess.run([sys.executable, "-c", code, REPO], env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["applied", "none"]
    assert not cache.exists()


def test_unusable_cache_starts_without_archive(home, tmp_path, monkeypatch, caplog):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._plan_cds(CONFS) == session._Cds()
    assert len(caplog.records) == 1


def _parquet_strings(root: str) -> set[str]:
    """Every string value and hive partition value under ``root``."""
    out = set()
    for path in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        out.update(part.split("=", 1)[1] for part in path.split(os.sep) if "=" in part)
        table = pq.read_table(path, partitioning=None)
        for col in table.columns:
            if col.type in ("string", "large_string"):
                out.update(v for v in col.to_pylist() if v is not None)
    return out


def test_jvm_case_mapping_equals_icu_on_every_input(spark, sf_dir, tmp_path, monkeypatch):
    """``DEFAULT_CONFS`` turns ICU case mapping off; ``lower``/``upper`` give
    the same strings either way on every input the pipelines feed them."""
    monkeypatch.syspath_prepend(os.path.join(REPO, "perfbench"))
    import fixtures_f1
    from gen_corpus import generate_corpus
    from gen_f1 import generate_bronze

    fixtures_f1.generate_bronze(str(tmp_path / "f1"))
    generate_bronze(str(tmp_path / "bench_f1"), seed=1, years=[2025], n_gp=24, n_laps=2)
    generate_corpus(str(tmp_path / "corpus" / "docs.parquet"), seed=1, n_docs=2000)
    strings = _parquet_strings(str(tmp_path))
    strings |= {r[0] for r in load_table(spark, sf_dir, "documents").select("text").collect()}
    assert len(strings) > 2000

    df = spark.createDataFrame([(s,) for s in sorted(strings)], "s string").cache()
    conf = "spark.sql.icu.caseMappings.enabled"
    assert spark.conf.get(conf) == "false"
    try:
        jvm = df.selectExpr("s", "lower(s)", "upper(s)").collect()
        spark.conf.set(conf, "true")
        icu = df.selectExpr("s", "lower(s)", "upper(s)").collect()
    finally:
        spark.conf.set(conf, "false")
        df.unpersist()
    assert jvm == icu
    assert any(not s.isascii() for s in strings)  # the generators' "São Paulo"
