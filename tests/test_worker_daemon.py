"""The worker daemon's zip-directory cache (no Spark needed except for
the session check): an unchanged archive is not re-read, a changed one
is."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from geospatial_etl_pipeline_spark import worker_daemon


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport's directory reader, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    return seen


def _archive(tmp_path, **modules) -> str:
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "a") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


def test_unchanged_zip_is_not_reread(tmp_path, reads):
    archive = _archive(tmp_path, mod_a="A = 1\n")
    importer = zipimport.zipimporter(archive)
    reads.clear()
    worker_daemon.invalidate_caches(importer)  # first call: no stamp yet
    assert reads == [archive]
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive]
    # another importer over the same archive adopts the directory read
    other = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(other)
    assert reads == [archive]
    assert other._files is importer._files
    assert other.find_spec("mod_a") is not None


def test_changed_zip_is_reread(tmp_path, reads):
    archive = _archive(tmp_path, mod_a="A = 1\n")
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)
    reads.clear()

    # same bytes, newer mtime: read again
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive]

    # a new member: read again, and the importer sees it
    _archive(tmp_path, mod_b="B = 2\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert importer.find_spec("mod_b") is not None
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2


def test_vanished_zip_is_dropped(tmp_path, reads):
    archive = _archive(tmp_path, mod_a="A = 1\n")
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)
    os.remove(archive)
    worker_daemon.invalidate_caches(importer)  # as zipimport: empty directory
    assert importer._files == {}
    assert archive not in worker_daemon._read_stamps


def test_session_forks_workers_from_the_daemon_module(spark):
    assert spark.conf.get("spark.python.daemon.module") == worker_daemon.__name__
