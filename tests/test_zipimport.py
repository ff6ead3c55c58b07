"""Importing prclz_spark makes `importlib.invalidate_caches()` re-read a zip
archive on sys.path only when the archive changed (PySpark's worker calls it
before every task; on CPython < 3.12 each call re-read pyspark.zip once per
zipimporter)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import prclz_spark  # noqa: F401  (installs the stat check)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython 3.12 invalidates lazily")
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkgs.zip")

    def write(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg_probe/__init__.py", body)

    write("X = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zpkg_probe", raising=False)
    try:
        import zpkg_probe

        assert zpkg_probe.X == 1
        reads = []
        real = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        write("X = 222\n")  # a different size, so the stamp changes
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1
        del sys.modules["zpkg_probe"]
        import zpkg_probe  # noqa: F811  (the re-read directory serves the new file)

        assert zpkg_probe.X == 222
    finally:
        sys.modules.pop("zpkg_probe", None)
        sys.path_importer_cache.pop(archive, None)
