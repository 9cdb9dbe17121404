"""shmr_spark.pyship: the zip re-read guard for Python workers, and the
lifetime of the shipped package zip."""

from __future__ import annotations

import contextlib
import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from shmr_spark.pyship import skip_unchanged_zip_rereads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "")
        for name, body in modules.items():
            z.writestr(f"{pkg}/sub/{name}.py", body)


@pytest.fixture()
def zip_pkg(tmp_path, monkeypatch):
    """A package imported from a zip through a subpackage, so the zip
    has three zipimporters (the archive, ``pkg/`` and ``pkg/sub/``)."""
    pkg = f"zpkg_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, pkg, {"mod": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{pkg}.sub.mod")
    yield archive, pkg
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]


@contextlib.contextmanager
def _directory_reads():
    """Collect the archive paths passed to ``zipimport._read_directory``."""
    seen = []
    original = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return original(path)

    zipimport._read_directory = counting
    try:
        yield seen
    finally:
        zipimport._read_directory = original


@pytest.fixture()
def reads():
    with _directory_reads() as seen:
        yield seen


def test_unchanged_archive_is_read_at_most_once(zip_pkg, reads):
    archive, _ = zip_pkg
    skip_unchanged_zip_rereads()
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) >= 3
    importlib.invalidate_caches()
    assert reads.count(archive) <= 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_archive_rewritten_in_place_is_reread(zip_pkg, reads):
    archive, pkg = zip_pkg
    skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    size = os.stat(archive).st_size
    _write_zip(archive, pkg, {"mod": "X = 1\n", "added": "Y = 2\n"})
    assert os.stat(archive).st_size != size
    del reads[:]
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.sub.added").Y == 2
    assert reads.count(archive) >= 1


def test_installer_is_a_noop_when_zipimport_is_lazy(monkeypatch):
    cls = zipimport.zipimporter
    skip_unchanged_zip_rereads()
    installed = cls.invalidate_caches
    skip_unchanged_zip_rereads()
    assert cls.invalidate_caches is installed
    original = getattr(installed, "__wrapped__", installed)
    monkeypatch.setattr(cls, "invalidate_caches", original)
    monkeypatch.setattr(cls, "_get_files", lambda self: {}, raising=False)
    skip_unchanged_zip_rereads()
    assert cls.invalidate_caches is original


def _rereads_on_second_sweep(batches):
    import pyarrow as pa

    import shmr_spark  # noqa: F401

    for _ in batches:
        pass
    importlib.invalidate_caches()
    with _directory_reads() as seen:
        importlib.invalidate_caches()
    n = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    yield pa.RecordBatch.from_pydict({"zipimporters": [n], "reads": [len(seen)]})


def test_worker_does_not_reread_unchanged_zips(spark):
    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_rereads_on_second_sweep, "zipimporters long, reads long")
        .collect()
    )
    assert row.zipimporters > 0
    assert row.reads == 0


def test_package_zip_removed_at_exit(tmp_path):
    code = textwrap.dedent(
        """
        import os
        from shmr_spark.pyship import ensure_package_shipped

        class Context:
            def addPyFile(self, path):
                self.path = path

        class Session:
            sparkContext = Context()

        ensure_package_shipped(Session())
        path = Session.sparkContext.path
        assert os.path.isfile(path), path
        print(path)
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True,
        text=True, check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(path) == str(tmp_path)
    assert not os.path.exists(path)
