"""The zip-directory stamp check (ocr_spark._zipstamp): an unchanged
archive on sys.path is not re-read by importlib.invalidate_caches(), a
rewritten one is."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import ocr_spark  # noqa: F401  (installs the stamp check)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zs_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zs_first", "zs_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zs_first").VALUE == 1

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # takes the archive's stamp
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert reads == []

    _write_zip(archive, {"zs_first": "VALUE = 1\n", "zs_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zs_second").VALUE == 2
    if sys.version_info < (3, 13):
        assert reads == [archive]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads lazily")
def test_install_is_idempotent():
    from ocr_spark import _zipstamp

    wrapped = zipimport.zipimporter.invalidate_caches
    _zipstamp.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.stamped
