"""The Python worker daemon's zip-aware ``invalidate_caches``
(``etl_active911_spark/pyworker.py``) and the session's fallback to the
stock daemon when a worker could not find it.

The Spark-free cases call the patched method on a ``zipimporter`` over an
archive under ``tmp_path`` and count ``zipimport._read_directory`` calls."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from etl_active911_spark import pyworker
from etl_active911_spark.session import (
    DAEMON_MODULE,
    LOCAL_MASTER,
    daemon_module_found,
    worker_pythons,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_archive(path, modules: dict[str, str]) -> None:
    """Write ``modules`` (name → source) into a new zip that replaces
    ``path`` (a new inode, as a reinstall would leave it)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture()
def reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls per archive path."""
    seen: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _load(importer, name):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = type(sys)(name)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_archive(archive, {"m1": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads.clear()
    for _ in range(5):
        pyworker.invalidate_caches(importer)
    assert reads == [archive]  # the first call records the signature
    assert _load(importer, "m1").VALUE == 1
    # the stock method re-reads on every call
    for _ in range(3):
        pyworker._stock_invalidate(importer)
    assert reads == [archive] * 4


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_archive(archive, {"m1": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    pyworker.invalidate_caches(importer)
    assert importer.find_spec("m2") is None
    _write_archive(archive, {"m1": "VALUE = 2\n", "m2": "NEW = True\n"})
    reads.clear()
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(importer)
    assert reads == [archive]
    assert _load(importer, "m2").NEW is True
    assert _load(importer, "m1").VALUE == 2


def test_deleted_archive_behaves_as_stock(tmp_path):
    patched, stock = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _write_archive(patched, {"m1": "VALUE = 1\n"})
    _write_archive(stock, {"m1": "VALUE = 1\n"})
    a, b = zipimport.zipimporter(patched), zipimport.zipimporter(stock)
    pyworker.invalidate_caches(a)
    os.remove(patched)
    os.remove(stock)
    pyworker.invalidate_caches(a)
    pyworker._stock_invalidate(b)
    assert a._files == b._files == {}
    assert patched not in zipimport._zip_directory_cache
    assert stock not in zipimport._zip_directory_cache
    assert a.find_spec("m1") is None and b.find_spec("m1") is None
    # a recreated archive is read again
    _write_archive(patched, {"m1": "VALUE = 3\n"})
    pyworker.invalidate_caches(a)
    assert _load(a, "m1").VALUE == 3


def test_recorded_signature_skips_the_first_read(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_archive(archive, {"m1": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    reads.clear()
    pyworker.record_signatures()
    pyworker.invalidate_caches(importer)
    assert reads == []
    _write_archive(archive, {"m1": "VALUE = 2\n"})
    pyworker.invalidate_caches(importer)
    assert reads == [archive]
    assert _load(importer, "m1").VALUE == 2


def test_python_tasks_run_the_patched_invalidate(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def which(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize([0, 1], 2).mapPartitions(which).collect()
    assert [os.path.realpath(f) for f in files] == [os.path.realpath(pyworker.__file__)] * 2


def _without_repo(env: dict[str, str]) -> dict[str, str]:
    """``env`` with the checkout removed from PYTHONPATH."""
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
             if p and os.path.realpath(p) != os.path.realpath(REPO)]
    return {**env, "PYTHONPATH": os.pathsep.join(parts)}


def test_probe_finds_the_module_only_where_a_worker_would(tmp_path, monkeypatch):
    py = sys.executable
    assert daemon_module_found(py, REPO)
    monkeypatch.setenv("PYTHONPATH", _without_repo(dict(os.environ))["PYTHONPATH"])
    assert daemon_module_found(py, REPO)  # found through the working directory
    assert not daemon_module_found(py, str(tmp_path))
    assert not daemon_module_found(str(tmp_path / "no-python"), REPO)
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert daemon_module_found(py, str(tmp_path))


def test_probe_covers_every_worker_interpreter(monkeypatch):
    from pyspark import SparkConf

    monkeypatch.setenv("PYSPARK_PYTHON", "py-rdd")
    assert worker_pythons(SparkConf(loadDefaults=False)) == {"py-rdd"}
    conf = SparkConf(loadDefaults=False).set("spark.pyspark.python", "py-core")
    assert worker_pythons(conf) == {"py-rdd", "py-core"}
    conf.set("spark.sql.execution.pyspark.python", "py-sql")
    assert worker_pythons(conf) == {"py-rdd", "py-sql"}
    monkeypatch.delenv("PYSPARK_PYTHON")
    assert worker_pythons(SparkConf(loadDefaults=False)) == {"python3"}


def test_only_local_masters_get_the_daemon():
    assert LOCAL_MASTER.fullmatch("local") and LOCAL_MASTER.fullmatch("local[*]")
    assert LOCAL_MASTER.fullmatch("local[4, 2]")
    assert not LOCAL_MASTER.fullmatch("local-cluster[2, 1, 1024]")
    assert not LOCAL_MASTER.fullmatch("spark://host:7077")
    assert not LOCAL_MASTER.fullmatch("yarn")


#: Run where a worker cannot find the package: the child imports it from
#: an explicit sys.path entry, so its cwd and PYTHONPATH lack it.
FALLBACK_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from etl_active911_spark.session import get_spark

    spark = get_spark("pyworker-fallback", master="local[1]")
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module")

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    rows = sorted(r.v for r in spark.range(5).select(plus_one("id").alias("v")).collect())
    spark.stop()
    print(json.dumps({{"daemon": daemon, "rows": rows}}))
    """
)


def test_failed_probe_keeps_the_stock_daemon(tmp_path):
    env = _without_repo(dict(os.environ))
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", FALLBACK_SCRIPT.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result == {"daemon": None, "rows": [1, 2, 3, 4, 5]}
