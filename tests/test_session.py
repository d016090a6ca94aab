"""session: trim_zip_finders and ensure_pyfiles (no Spark needed), and
the driver JVM's class-data-sharing archive (in child processes)."""

import importlib
import json
import os
import stat
import subprocess
import sys
import zipfile
import zipimport

import pytest

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


# A child process that starts the engine the way every caller does,
# runs one small job and reports what its driver JVM was started with.
_CHILD = """
import json, os, sys
from glcmstream import session
from pyspark import SparkContext
env0 = dict(os.environ)
spark = session.get_spark(app="cds-child")
pid = SparkContext._gateway.proc.pid
total = spark.range(0, 1000, 1, 4).selectExpr("sum(id) s").collect()[0].s
with open(f"/proc/{pid}/cmdline", "rb") as f:
    argv = [a.decode() for a in f.read().split(b"\\0") if a]
print(json.dumps({"pid": pid, "argv": argv, "sum": total,
                  "env_same": dict(os.environ) == env0,
                  "conf_dir": os.environ.get("SPARK_CONF_DIR")}))
"""
_CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit",
              "-Xlog:cds", "-Xshare")


def _run_child(cache, log_dir=None, **env):
    src = os.path.dirname(os.path.dirname(session.__file__))
    env = {**os.environ, "PYTHONPATH": src, "XDG_CACHE_HOME": str(cache),
           "GLCMSTREAM_DRIVER_MEM": "1g", "GLCMSTREAM_DIRECT_MEM": "1g",
           **env}
    if log_dir is not None:
        # %p: the launcher JVM spark-class runs first logs to its own file
        env["JDK_JAVA_OPTIONS"] = \
            f"-Xlog:class+load=info:file={log_dir}/classes_%p.log"
    out = subprocess.run([sys.executable, "-c", _CHILD], capture_output=True,
                         text=True, env=env, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert os.path.basename(rep["argv"][0]) == "java"
    assert rep["sum"] == 499500
    # the driver waited for its JVM: none outlives the child
    assert not os.path.exists(f"/proc/{rep['pid']}")
    rep["output"] = out.stdout + out.stderr
    return rep


def _archive_dir(cache):
    return os.path.join(str(cache), "glcmstream", "jvm")


@pytest.fixture(scope="module")
def cds_children(tmp_path_factory):
    """A recording child, then a child that maps its archive, on one
    fresh cache; each child's class-load log in its own dir."""
    cache = tmp_path_factory.mktemp("cds_cache")
    reps = []
    for i in range(2):
        logs = tmp_path_factory.mktemp(f"cds_classes{i}")
        rep = _run_child(cache, logs)
        rep["archive_files"] = sorted(os.listdir(_archive_dir(cache)))
        with open(os.path.join(logs, f"classes_{rep['pid']}.log")) as f:
            rep["classes"] = f.read()
        reps.append(rep)
    return cache, reps


def test_first_launch_records_archive_next_maps_it(cds_children):
    cache, (rec, mapped) = cds_children
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in rec["argv"])
    jsas = [n for n in rec["archive_files"] if n.endswith(".jsa")]
    assert len(jsas) == 1
    assert not [n for n in rec["archive_files"] if n.endswith(".tmp")]
    jsa = os.path.join(_archive_dir(cache), jsas[0])
    with open(jsa[:-len(".jsa")] + ".json") as f:
        assert json.load(f)["size"] == os.path.getsize(jsa)
    assert stat.S_IMODE(os.stat(_archive_dir(cache)).st_mode) == 0o700
    assert f"-XX:SharedArchiveFile={jsa}" in mapped["argv"]
    assert "shared objects file (top)" not in rec["classes"]
    assert mapped["classes"].count("source: shared objects file (top)") \
        >= 10_000
    for rep in (rec, mapped):
        assert "[cds" not in rep["output"]


def test_get_spark_leaves_environ_unchanged(cds_children):
    _, reps = cds_children
    assert all(rep["env_same"] for rep in reps)
    assert all(rep["conf_dir"] == os.environ.get("SPARK_CONF_DIR")
               for rep in reps)


def test_truncated_archive_is_not_mapped(cds_children):
    cache, _ = cds_children
    (jsa,) = [os.path.join(_archive_dir(cache), n)
              for n in os.listdir(_archive_dir(cache)) if n.endswith(".jsa")]
    os.chmod(jsa, 0o600)
    os.truncate(jsa, os.path.getsize(jsa) // 2)
    os.chmod(jsa, 0o444)
    rep = _run_child(cache)      # a mapped truncated archive is a SIGBUS
    assert not [a for a in rep["argv"] if a.startswith(_CDS_FLAGS[:2])]
    assert "not used" in rep["output"]
    assert not os.path.exists(jsa)


def test_conf_dir_with_files_launches_without_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# nothing set\n")
    rep = _run_child(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert not [a for a in rep["argv"] if a.startswith(_CDS_FLAGS)]
    assert rep["env_same"] and rep["conf_dir"] == str(conf)
    assert not [n for n in os.listdir(_archive_dir(tmp_path / "cache"))
                if n.endswith((".jsa", ".tmp"))]
