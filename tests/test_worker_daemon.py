"""Python workers of a `build_session` session import the installed
PySpark, not the archives under `$SPARK_HOME`."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from etl_portofolio_spark import worker_daemon

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _task_view(_):
    import importlib
    import sys as worker_sys
    import time
    import zipimport

    import pyspark

    archives = sorted(
        {
            v.archive
            for v in worker_sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        }
    )
    costs = []
    for _ in range(3):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        costs.append(time.perf_counter() - t0)
    yield pyspark.__file__, archives, min(costs)


def test_tasks_import_installed_pyspark_without_spark_archives(spark):
    if "SPARK_HOME" not in os.environ:
        pytest.skip("no $SPARK_HOME: workers get no Spark archives")
    home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
    views = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_task_view).collect()
    assert len(views) == 4
    for pyspark_file, archives, invalidate_s in views:
        assert not os.path.realpath(pyspark_file).startswith(home), pyspark_file
        assert not [a for a in archives if os.path.realpath(a).startswith(home)], archives
        assert invalidate_s < 0.010, invalidate_s


def _fake_spark_home(tmp_path, version: str) -> tuple[str, str]:
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    zpath = lib / "pyspark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(tmp_path / "spark"), str(zpath)


def test_installed_path_drops_spark_archives_only_on_a_version_match(tmp_path):
    import pyspark

    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    home, zpath = _fake_spark_home(tmp_path, pyspark.__version__)
    path = [_REPO, zpath, site]
    assert worker_daemon.installed_path(path, home) == [_REPO, site]

    other, zother = _fake_spark_home(tmp_path / "other", "0.0.1")
    mismatch = [_REPO, zother, site]
    assert worker_daemon.installed_path(mismatch, other) is mismatch


def test_installed_path_keeps_the_path_without_an_installed_pyspark(tmp_path):
    home, zpath = _fake_spark_home(tmp_path, "4.1.2")
    empty = tmp_path / "empty"
    empty.mkdir()
    path = [str(empty), zpath]
    assert worker_daemon.installed_path(path, home) is path
    assert worker_daemon.installed_path(path, None) is path


def test_importing_the_daemon_module_imports_no_pyspark():
    code = (
        "import sys, etl_portofolio_spark.worker_daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout + out.stderr


def test_build_session_names_the_daemon_only_where_workers_import_it(tmp_path, monkeypatch):
    """Workers started outside the checkout, without it on PYTHONPATH,
    could not import the daemon module and every Python task would fail."""
    from etl_portofolio_spark import session

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), _REPO]))
    assert session._workers_import_package()
    monkeypatch.chdir(_REPO)
    monkeypatch.delenv("PYTHONPATH")
    assert session._workers_import_package()
