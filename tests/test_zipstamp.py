"""The stat-stamped zipimporter invalidation (playwrightcrawler_spark.zipstamp):
an unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one is."""

from __future__ import annotations

import importlib
import sys
import time
import zipfile
import zipimport

import pytest

import playwrightcrawler_spark  # noqa: F401  (installs the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter invalidation is lazy from 3.12"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = tmp_path / "zs_modules.zip"
    _write_zip(path, {"zs_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield str(path)
    for name in ("zs_mod_a", "zs_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def _count_reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_patch_installed_by_package_import():
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    assert hasattr(zipimport._read_directory, "__wrapped__")


def test_unchanged_archive_not_reread(archive, monkeypatch):
    import zs_mod_a

    assert zs_mod_a.X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in calls


def test_rewritten_archive_is_reread(archive, monkeypatch):
    import zs_mod_a  # noqa: F401

    time.sleep(0.01)  # a distinct mtime even on coarse-clock filesystems
    _write_zip(archive, {"zs_mod_a": "X = 1\n", "zs_mod_b": "Y = 2\n"})
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    import zs_mod_b

    assert zs_mod_b.Y == 2
    # stamped again by that read: the next invalidation is free
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
