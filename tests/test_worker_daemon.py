"""kstreamjs_spark.worker_daemon: zip archives are re-read only when they
change, and get_spark's Python workers run through the daemon from any
driver cwd."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from kstreamjs_spark import worker_daemon

from .test_local_fs import REPO, run_driver


@pytest.fixture
def installed():
    original = zipimport.zipimporter.invalidate_caches
    worker_daemon.install()
    yield
    zipimport.zipimporter.invalidate_caches = original
    worker_daemon._STAMPS.clear()


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with module ``wd_probe_a`` first on ``sys.path``; yields a
    writer that replaces the archive with the given modules."""
    archive = str(tmp_path / "probe.zip")

    def write(*names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")

    write("wd_probe_a")
    monkeypatch.syspath_prepend(archive)
    yield archive, write
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(installed, zip_on_path, monkeypatch):
    assert importlib.import_module("wd_probe_a").NAME == "wd_probe_a"
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(installed, zip_on_path, monkeypatch):
    archive, write = zip_on_path
    importlib.import_module("wd_probe_a")
    importlib.invalidate_caches()
    write("wd_probe_a", "wd_probe_b")
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("wd_probe_b").NAME == "wd_probe_b"


def test_deleted_archive_does_not_raise(installed, zip_on_path):
    archive, _ = zip_on_path
    importlib.import_module("wd_probe_a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in worker_daemon._STAMPS
    assert archive not in zipimport._zip_directory_cache


def test_get_spark_workers_run_the_wrapper(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({
                "qualname": [zipimport.zipimporter.invalidate_caches.__qualname__],
                "lazy": [sys.version_info >= (3, 13)],
            })

    row = spark.range(1).mapInPandas(probe, "qualname string, lazy boolean").first()
    if not row.lazy:
        assert row.qualname == worker_daemon._invalidate_caches.__qualname__


def test_python_udf_runs_from_outside_the_repo(tmp_path):
    """A driver whose cwd is outside the repo, and holds another
    ``kstreamjs_spark`` (as inside another checkout), runs its workers on
    its own package, and a UDF still imports a module from that cwd by
    reference."""
    decoy = tmp_path / "kstreamjs_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text('raise ImportError("decoy package imported")\n')
    (tmp_path / "localmod.py").write_text("def double(v):\n    return v * 2\n")
    # PYTHONPATH would reach the workers through the JVM's environment
    # and hide a missing executor path, so the driver finds the package
    # through sys.path alone.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run_driver(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        import localmod
        from kstreamjs_spark.session import get_spark

        def double(batches):
            for pdf in batches:
                yield pd.DataFrame({{"v": localmod.double(pdf["id"])}})

        spark = get_spark("worker-daemon-cwd", cpus=1)
        rows = spark.range(21, 22).mapInPandas(double, "v long").collect()
        spark.stop()
        assert [r.v for r in rows] == [42], rows
    """, tmp_path, env)
