"""The worker daemon's zip-import cache (pyworker.py): an archive's
directory is re-read only when the archive changed on disk, and every
local session's Python workers run under it."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pytest

from aind_exaspim_data_transformation_spark import pyworker


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def wrapped(monkeypatch):
    """zipimporter.invalidate_caches wrapped, and a counter of directory
    reads. Reads are counted across invalidate + lookup: before 3.13
    invalidation re-reads eagerly, from 3.13 on the next lookup does."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, wrapped):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m1.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first call: this importer has no stamp yet
    assert imp.find_spec("m1") is not None
    wrapped.clear()
    for _ in range(3):
        imp.invalidate_caches()
        assert imp.find_spec("m1") is not None
    assert wrapped == []


def test_rewritten_archive_member_is_importable(tmp_path, wrapped):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m1.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    assert imp.find_spec("m2") is None
    _write_zip(archive, {"m1.py": "X = 1\n", "m2.py": "Y = 2\n"})
    imp.invalidate_caches()
    spec = imp.find_spec("m2")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_missing_archive_falls_back_to_zipimport(tmp_path, wrapped):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m1.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    os.remove(archive)
    imp.invalidate_caches()  # zipimport's own handling: empty directory
    assert imp.find_spec("m1") is None


def test_session_workers_run_the_wrapper(spark):
    """A Python task of the suite session sees the engine's wrapper as
    zipimporter.invalidate_caches, i.e. get_spark started its workers
    under pyworker's daemon."""
    import pandas as pd

    def probe(it):
        import zipimport as zi

        code = zi.zipimporter.invalidate_caches.__code__
        for _ in it:
            yield pd.DataFrame({"f": [code.co_filename]})

    rows = (
        spark.range(0, 1, numPartitions=1)
        .mapInPandas(probe, "f string")
        .collect()
    )
    f = rows[0]["f"]
    assert os.path.isfile(f) and os.path.samefile(f, pyworker.__file__), f
