"""The PySpark worker daemon that stat-checks zip archives instead of
re-parsing them on every task (``worker_daemon.py``)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from bigdata_project_hust_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_lazy_fix = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip directories lazily itself")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with module ``zd_mod_a`` on ``sys.path``, importable under
    the daemon's ``invalidate_caches``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zd_mod_a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    for name in ("zd_mod_a", "zd_mod_b"):
        sys.modules.pop(name, None)


@needs_lazy_fix
def test_invalidate_rereads_only_a_changed_archive(archive, monkeypatch):
    assert importlib.import_module("zd_mod_a").X == 1
    importlib.invalidate_caches()  # this process's first read

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zd_mod_a.py": "X = 1\n", "zd_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zd_mod_b").Y == 2


@needs_lazy_fix
def test_python_tasks_run_under_the_daemon(spark):
    """A typo in ``spark.python.daemon.module`` must not silently drop
    the fix: the workers' zipimporter carries the daemon's method."""
    def owner(_):
        import zipimport
        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(owner)
    assert got.collect() == [worker_daemon.__name__]


def test_daemon_imports_from_any_working_directory():
    """``get_spark`` puts the package on the workers' path: a fresh
    session started from ``/`` with no PYTHONPATH runs a Python task."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from bigdata_project_hust_spark.session import get_spark
        spark = get_spark("daemon_cwd", 1)
        print(spark.sparkContext.parallelize([1, 2], 2)
              .map(lambda x: x + 1).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd="/", env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[2, 3]"


@needs_lazy_fix
def test_engine_kernels_install_the_fix_in_a_vanilla_session():
    """A session the engine did not build (no
    ``spark.python.daemon.module``, like the external driver's) still
    gets the fix: an engine kernel installs it in the worker it runs
    in, so that worker's later Arrow tasks run under it. One core, so
    every Arrow task reuses the one idle worker."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from bigdata_project_hust_spark.operators.dedup import (
            connected_components)

        def owner(batches):
            import zipimport
            import pyarrow as pa
            for _ in batches:
                pass
            yield pa.record_batch([pa.array(
                [zipimport.zipimporter.invalidate_caches.__module__])],
                names=["m"])

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        assert not spark.conf.get("spark.python.daemon.module", None)
        probe = spark.range(0, 1, 1, 1).mapInArrow(owner, "m string")
        before = probe.first().m
        pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                      "doc_a long, doc_b long")
        connected_components(pairs).collect()
        print(before, probe.first().m)
        spark.stop()
    """)
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    before, after = out.stdout.strip().splitlines()[-1].split()
    assert before == "zipimport"
    assert after == worker_daemon.__name__
