"""session.trim_zip_finders: no Spark needed."""

import importlib
import sys
import zipfile
import zipimport

from glcmstream import session


def _zip_finders() -> list:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_trim_zip_finders_survives_invalidate_caches(tmp_path, monkeypatch):
    archive = str(tmp_path / "trimpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("trimpkg/__init__.py", "")
        z.writestr("trimpkg/a.py", "VALUE = 'a'\n")
        z.writestr("trimpkg/b.py", "VALUE = 'b'\n")
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    sys.path.insert(0, archive)
    try:
        importlib.import_module("trimpkg.a")
        assert _zip_finders()

        session.trim_zip_finders()
        assert _zip_finders() == []

        # what every python task does first: with no zip finder cached
        # it re-reads no archive directory, and the next import is served
        # from zipimport's directory cache
        reads = []
        real_read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path)
                            or real_read(path))
        importlib.invalidate_caches()
        assert _zip_finders() == []
        b = importlib.import_module("trimpkg.b")
        assert b.VALUE == "b"
        assert b.__file__.startswith(archive)
        assert reads == []
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for path in _zip_finders():
            if path.startswith(archive):
                del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(archive, None)
