"""session.trim_zip_finders and ensure_pyfiles: no Spark needed."""

import importlib
import os
import subprocess
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


def test_ensure_pyfiles_dir_removed_at_exit(tmp_path):
    """The zip ensure_pyfiles hands to addPyFile lives in a temp dir
    that is there while the process runs and gone after it exits."""
    script = (
        "import os, sys\n"
        "from glcmstream import session\n"
        "class SC:\n"
        "    def addPyFile(self, path):\n"
        "        self.path = path\n"
        "class Spark:\n"
        "    sparkContext = SC()\n"
        "spark = Spark()\n"
        "session.ensure_pyfiles(spark)\n"
        "assert os.path.isfile(spark.sparkContext.path)\n"
        "print(os.path.dirname(spark.sparkContext.path))\n")
    src = os.path.dirname(os.path.dirname(session.__file__))
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        check=True, env={**os.environ, "PYTHONPATH": src,
                         "TMPDIR": str(tmp_path)})
    made = out.stdout.strip()
    assert os.path.basename(made).startswith("glcmstream_pyfiles_")
    assert os.path.dirname(made) == str(tmp_path)
    assert not os.path.exists(made)
