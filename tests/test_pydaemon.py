"""The worker daemon's zipimport patch (`olake_spark.pydaemon`), without
Spark: an unchanged archive is never re-read, a changed one always is, and
a deleted one behaves as under the stock `zipimporter.invalidate_caches`."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from olake_spark import pydaemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="invalidate_caches no longer reads the archive on Python >= 3.12",
)

MOD = "olk_pydaemon_probe"


def write_zip(path, version):
    # write aside and rename in, as a redeploy would
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{MOD}.py", f"VERSION = {version!r}\n")
    os.replace(tmp, path)


@pytest.fixture()
def patched(monkeypatch, tmp_path):
    """Install the patch and count directory reads; zipimport, the stamps,
    sys.path and the importer cache are restored afterwards."""
    stock = zipimport.zipimporter.invalidate_caches
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.setattr(sys, "path", list(sys.path))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is pydaemon.invalidate_caches
    yield reads
    zipimport.zipimporter.invalidate_caches = stock
    sys.modules.pop(MOD, None)
    for k in [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[k]


def import_version():
    sys.modules.pop(MOD, None)
    return importlib.import_module(MOD).VERSION


def test_import_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is pydaemon._stock


def test_unchanged_archive_is_not_reread(tmp_path, patched):
    zp = str(tmp_path / "probe.zip")
    write_zip(zp, "v1")
    sys.path.insert(0, zp)
    assert import_version() == "v1"
    importlib.invalidate_caches()  # first call reads and stamps
    patched.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert patched == []
    assert import_version() == "v1"


def test_rewritten_archive_is_reread(tmp_path, patched):
    zp = str(tmp_path / "probe.zip")
    write_zip(zp, "v1")
    sys.path.insert(0, zp)
    assert import_version() == "v1"
    importlib.invalidate_caches()
    patched.clear()
    write_zip(zp, "version-2")
    importlib.invalidate_caches()
    assert zp in patched
    assert import_version() == "version-2"
    # the new content is stamped: the next call reads nothing
    patched.clear()
    importlib.invalidate_caches()
    assert zp not in patched


def test_deleted_archive_matches_stock(tmp_path, patched):
    state = {}
    for name, method in (("stock", pydaemon._stock), ("patched", pydaemon.invalidate_caches)):
        zp = str(tmp_path / f"{name}.zip")
        write_zip(zp, "v1")
        imp = zipimport.zipimporter(zp)
        method(imp)
        os.remove(zp)
        method(imp)
        state[name] = (imp._files, zp in zipimport._zip_directory_cache)
    assert state["patched"] == state["stock"] == ({}, False)
    assert str(tmp_path / "patched.zip") not in pydaemon._stamps
