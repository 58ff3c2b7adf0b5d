"""The engine's PySpark worker daemon (dataflowjavasdk_spark._worker_daemon).

The zip patch is exercised in-process without Spark; the session tests
check that UDFs of an engine session run under the daemon, from any cwd.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from dataflowjavasdk_spark import _worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores the stock
    method (and anything else the test swaps) afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _worker_daemon.install()


@pytest.fixture
def directory_reads(monkeypatch):
    reads = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.12 reads zip directories lazily")
def test_unchanged_zip_is_not_reread(tmp_path, patched, directory_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zd_unchanged": "X = 1\n"})
    first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    assert directory_reads == [archive]  # the constructor's read, shared by both
    for _ in range(5):
        first.invalidate_caches()
        second.invalidate_caches()
    # one read to stamp the archive, then every call reuses it
    assert directory_reads == [archive, archive]
    assert second._files is first._files
    assert "zd_unchanged.py" in first._files


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.12 reads zip directories lazily")
def test_rewritten_zip_is_reread_and_its_new_module_imports(
    tmp_path, monkeypatch, patched, directory_reads
):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zd_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_old").X == 1
        importlib.invalidate_caches()
        reads = directory_reads.count(archive)
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == reads  # unchanged: no read

        _write_zip(archive, {"zd_old": "X = 1\n", "zd_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == reads + 1
        assert importlib.import_module("zd_new").Y == 2
    finally:
        sys.modules.pop("zd_old", None)
        sys.modules.pop("zd_new", None)


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.12 reads zip directories lazily")
def test_unstattable_archive_falls_through_to_the_stock_reload(tmp_path, patched):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zd_gone": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    archive.unlink()
    imp.invalidate_caches()  # the stock method drops the archive's entries
    assert imp._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_python_312_keeps_the_stdlib_method(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def _report_invalidate_caches(batches):
    import zipimport

    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"q": [zipimport.zipimporter.invalidate_caches.__qualname__]})


def test_session_udfs_run_under_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "dataflowjavasdk_spark._worker_daemon"
    rows = spark.range(4, numPartitions=2).mapInPandas(
        _report_invalidate_caches, "q string"
    ).collect()
    expected = "_invalidate_caches" if PATCHED else "zipimporter.invalidate_caches"
    assert {r.q for r in rows} == {expected}


def test_daemon_starts_with_cwd_outside_the_repo(tmp_path):
    """The daemon is imported through spark.executorEnv.PYTHONPATH, so a
    plain UDF runs when neither cwd nor PYTHONPATH points at the repo; the
    caller's executor PYTHONPATH stays in front."""
    script = tmp_path / "plain_udf.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from dataflowjavasdk_spark.session import get_spark

        spark = get_spark(app_name="foreign-cwd", master="local[1]", shuffle_partitions=1,
                          extra_confs={{"spark.executorEnv.PYTHONPATH": "/caller/libs"}})

        def identity(batches):
            yield from batches

        print(spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH"))
        print(spark.range(3).mapInPandas(identity, "id long").count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-2:] == [os.pathsep.join(["/caller/libs", REPO_ROOT]), "3"]
