"""SparkSession factory + worker-side package distribution.

One place for every engine-relevant config (AQE, Arrow, shuffle
partitions, UTC) so batch, streaming, tests and bench agree — SURVEY.md §4.2.
The shuffle width defaults to the cluster's core count.

The driver JVM starts from a dynamic class-data-sharing (AppCDS) archive:
the first launch for a given java binary, Spark install, driver memory
and JVM option string records one at JVM exit
(`-XX:ArchiveClassesAtExit`), and every later launch maps it
(`-XX:SharedArchiveFile`), ~14k classes parsed and verified when it was
written instead of loaded from the jars. Sharing is advisory
(`-Xshare:auto`): a missing, stale or corrupt archive gives the plain
launch. The archives live in `${XDG_CACHE_HOME:-~/.cache}/glcmstream/jvm`
(mode 0700): `<key>.jsa`, its `<key>.json` record (install id, byte
size), the JVM's `[cds]` log `<key>.log` and, while a recording runs,
`<key>.jsa.<pid>.tmp`.

Streaming checkpoint files (offset and commit logs, source logs, RocksDB
changelogs) are written to a temp file and renamed into place by
Spark's `FileSystemBasedCheckpointFileManager`. The default,
`FileContextBasedCheckpointFileManager`, asks for the link status of
both paths in every rename, and without the native Hadoop library the
local filesystem answers each such call by forking `readlink`, 8 forks
per atomic file (CLAUDE.md). `FileSystem.rename` is
`File.renameTo`, which on a local disk replaces the target atomically,
so nothing is lost for the local checkpoints every session here
writes; the `.crc` sidecars and the state checksum files are written as
before. Checkpoints on HDFS would want Spark's default back: an HDFS
FileSystem rename does not overwrite.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shutil
import stat
import subprocess
import sys
import tempfile
import warnings
import zipfile
import zipimport

from pyspark.sql import SparkSession

from . import config

_SRC_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app: str = "glcmstream", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    from pyspark import SparkContext
    driver_mem = os.environ.get("GLCMSTREAM_DRIVER_MEM", "24g")
    # Arrow (python-UDF transfer) allocates off-heap; the JVM default
    # direct-memory ceiling throttles 32 concurrent Arrow writers
    # into System.gc() storms — measured 8x on the featurize stage
    java_opts = ("-XX:MaxDirectMemorySize="
                 + os.environ.get("GLCMSTREAM_DIRECT_MEM", "24g")
                 # cap GC fan-out: on a core-pinned leg the default (one
                 # GC thread per core) preempts python workers mid-kernel
                 + " -XX:ParallelGCThreads=8 -XX:ConcGCThreads=2")
    b = (SparkSession.builder.appName(app).master(master or "local[*]")
         .config("spark.sql.session.timeZone", config.SESSION_TZ)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(config.ARROW_MAX_RECORDS))
         .config("spark.sql.parquet.filterPushdown", "true")
         .config("spark.driver.memory", driver_mem)
         # the UI's event-log/servlet threads burn a core at 32-way for
         # nothing a benchmark or test ever reads
         .config("spark.ui.enabled", "false")
         .config("spark.sql.files.maxPartitionBytes", "32m")
         .config("spark.sql.files.openCostInBytes",
                 os.environ.get("GLCMSTREAM_OPEN_COST", "4194304"))
         # vectorized parquet reader holds batchSize rows of EVERY column
         # on-heap per task; at ~50-100 KiB html binaries the 4096 default
         # is ~200-400 MiB per task wave -> GC churn. 128 rows ~ 6-12 MiB
         # (measured 2.1x on the featurize scan; narrow scans unaffected
         # at these scales)
         .config("spark.sql.parquet.columnarReaderBatchSize", "128")
         .config("spark.sql.streaming.stateStore.providerClass",
                 "org.apache.spark.sql.execution.streaming.state."
                 "RocksDBStateStoreProvider")
         .config("spark.sql.streaming.stateStore.rocksdb."
                 "changelogCheckpointing.enabled", "true")
         # checkpoint files are renamed into place through FileSystem,
         # not FileContext (module docstring)
         .config("spark.sql.streaming.checkpointFileManagerClass",
                 "org.apache.spark.sql.execution.streaming.checkpointing."
                 "FileSystemBasedCheckpointFileManager"))
    # Only the process's first session starts a JVM; later ones reuse it.
    launch = (SparkContext._gateway is None
              and "PYSPARK_GATEWAY_PORT" not in os.environ)
    archive = _ClassArchive.for_launch(driver_mem, java_opts) \
        if launch else None
    saved_env = dict(os.environ)
    try:
        if launch:
            os.environ.update(_launch_env())
        if archive is not None:
            os.environ.update(archive.env)
            java_opts += " " + archive.flags
        spark = b.config("spark.driver.extraJavaOptions",
                         java_opts).getOrCreate()
    finally:
        # the JVM keeps the launch env; the caller's is left as it was
        _restore_environ(saved_env)
    if launch:
        atexit.register(_await_jvm, SparkContext._gateway.proc, archive,
                        os.getpid())
    # One shuffle (and state) partition per core unless the caller pins
    # a width. Every state partition pays a fixed cost per epoch (python
    # runner, empty timeout-scan runner, RocksDB load + commit), so a
    # width above the core count only adds task waves:
    # 32 partitions on 4 cores ran 8 waves per epoch. A streaming query
    # keeps the width its checkpoint was started with.
    spark.conf.set("spark.sql.shuffle.partitions", str(
        shuffle_partitions or spark.sparkContext.defaultParallelism))
    ensure_pyfiles(spark)
    return spark


def _launch_env() -> dict[str, str]:
    """Env the driver JVM is started with; python workers inherit it.

    pyarrow's default (jemalloc) allocator munmaps large buffers on free;
    at 32 concurrent python workers the page-fault/zeroing churn caps the
    fused scan ~10% below mimalloc, which recycles segments (measured:
    18.7k -> 20.8k docs/s at 32 procs). Harmless where pyarrow lacks
    mimalloc (falls back at import).
    """
    if "ARROW_DEFAULT_MEMORY_POOL" in os.environ:
        return {}
    try:
        import pyarrow as _pa
        _pa.mimalloc_memory_pool()
    except Exception:
        return {}
    return {"ARROW_DEFAULT_MEMORY_POOL": "mimalloc"}


def _restore_environ(saved: dict[str, str]) -> None:
    for k in set(os.environ) - set(saved):
        del os.environ[k]
    for k, v in saved.items():
        if os.environ.get(k) != v:
            os.environ[k] = v


def _await_jvm(proc, archive: _ClassArchive | None, pid: int) -> None:
    """At exit: close the gateway JVM's stdin and wait for it to exit.

    The JVM exits on EOF of its stdin, so no JVM outlives its driver — a
    recording JVM writes its archive (~12-18 s) before this returns, then
    the recording is promoted.
    """
    from pyspark import SparkContext
    if os.getpid() != pid:      # a forked child inherited the handler
        return
    # stopped first, or its accumulator server logs the JVM's exit
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc.stdin.close()
    try:
        code = proc.wait(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    if archive is not None and archive.tmp is not None:
        archive.promote(code)


# a cache path goes into -Xlog and -XX flags unquoted
_PLAIN_PATH = re.compile(r"[\w./+-]+")


def _cache_dir() -> str | None:
    """The archive dir, created 0700; None without a writable HOME."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    path = os.path.join(base, "glcmstream", "jvm")
    if not os.path.isabs(path) or not _PLAIN_PATH.fullmatch(path):
        return None
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
            return None
        if stat.S_IMODE(st.st_mode) != 0o700:
            os.chmod(path, 0o700)
    except OSError:
        return None
    return path if os.access(path, os.W_OK) else None


def _install_id(spark_home: str) -> str | None:
    """Hash of the java binary spark-class runs and of Spark's jars
    (each name, size and mtime); None if either is missing."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    jars = os.path.join(spark_home, "jars")
    if not java or not os.path.isdir(jars):
        return None
    java = os.path.realpath(java)
    h = hashlib.blake2b(digest_size=8)
    for path, name in [(java, java)] + [
            (os.path.join(jars, n), n) for n in sorted(os.listdir(jars))]:
        st = os.stat(path)
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _conf_dir_env(spark_home: str, cache: str) -> dict[str, str] | None:
    """Launch env that leaves no non-empty directory on the JVM
    classpath, or None when that cannot be had.

    JDK 17 neither writes nor maps an archive while a non-empty
    directory is on the classpath, and spark-class puts $SPARK_CONF_DIR
    (default $SPARK_HOME/conf) first, then $HADOOP_CONF_DIR and
    $YARN_CONF_DIR. A conf dir of `*.template` files only is never read,
    so an empty dir under the cache stands in for it.
    """
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        d = os.environ.get(var)
        if d and os.path.isdir(d) and os.listdir(d):
            return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home,
                                                             "conf")
    names = os.listdir(conf) if os.path.isdir(conf) else []
    if any(not n.endswith(".template") for n in names):
        return None
    if not names:
        return {}
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, mode=0o700, exist_ok=True)
    return None if os.listdir(empty) else {"SPARK_CONF_DIR": empty}


def _read_record(path: str) -> dict | None:
    try:
        with open(path) as f:
            rec = json.load(f)
        return rec if isinstance(rec, dict) else None
    except (OSError, ValueError):
        return None


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _prune(cache: str, install: str) -> None:
    """Delete the archives of another java or Spark install and the
    recordings of processes that are gone.

    Archives of the current install stay whatever their driver memory
    or JVM options: the tests and the benchmark run at different driver
    memory, and would otherwise evict each other's archive every time.
    """
    names = os.listdir(cache)
    for name in names:
        key, _, rest = name.partition(".")
        if rest == "json":
            if (_read_record(os.path.join(cache, name)) or {}).get(
                    "install") != install:
                for other in names:
                    if other.startswith(key + "."):
                        _remove(os.path.join(cache, other))
        elif rest.endswith(".tmp"):     # <key>.jsa.<pid>.tmp, .json.<pid>.tmp
            pid = rest.rsplit(".", 2)[-2]
            if not pid.isdigit() or not _alive(int(pid)):
                _remove(os.path.join(cache, name))


class _ClassArchive:
    """One launch's use of the driver JVM's class-data-sharing archive:
    the JVM flags and launch env, and (recording) the promotion."""

    def __init__(self, cache: str, key: str, install: str,
                 env: dict[str, str]):
        self.install = install
        self.env = env      # the launch's SPARK_CONF_DIR, if swapped
        self.jsa = os.path.join(cache, key + ".jsa")
        self.record = os.path.join(cache, key + ".json")
        self.tmp: str | None = None       # set for a recording launch
        # cds lines go to the log file, never to the driver's stdout
        self.flags = (f"-Xshare:auto -Xlog:cds*=off "
                      f"-Xlog:cds*=info:file={cache}/{key}.log")

    @classmethod
    def for_launch(cls, driver_mem: str,
                   java_opts: str) -> _ClassArchive | None:
        """The archive use for a JVM launch, or None to launch as before."""
        from pyspark.find_spark_home import _find_spark_home
        cache = _cache_dir()
        if cache is None:
            return None
        try:
            spark_home = _find_spark_home()
            install = _install_id(spark_home)
            env = _conf_dir_env(spark_home, cache)
            if install is None or env is None:
                return None
            _prune(cache, install)
            key = hashlib.blake2b(
                f"{install}\0{driver_mem}\0{java_opts}".encode(),
                digest_size=8).hexdigest()
            arc = cls(cache, key, install, env)
            rec = _read_record(arc.record)
            why = arc._unusable(rec) if os.path.lexists(arc.jsa) else None
        except OSError:
            return None
        if why is not None:
            warnings.warn(f"class-data-sharing archive {arc.jsa} not "
                          f"used ({why}); the next launch records anew",
                          stacklevel=3)
            _remove(arc.jsa)
            _remove(arc.record)
            return None
        if os.path.lexists(arc.jsa):
            # each region's CRC is checked at map time: a corrupt
            # archive is skipped (a [cds] warning in the log)
            arc.flags += (f" -XX:SharedArchiveFile={arc.jsa}"
                          " -XX:+VerifySharedSpaces")
        elif rec is not None and rec.get("size") == 0:
            return None     # a recording for this key left no archive
        else:
            arc.tmp = f"{arc.jsa}.{os.getpid()}.tmp"
            arc.flags += f" -XX:ArchiveClassesAtExit={arc.tmp}"
        return arc

    def _unusable(self, rec: dict | None) -> str | None:
        st = os.lstat(self.jsa)
        if not stat.S_ISREG(st.st_mode):
            return "not a regular file"
        if st.st_uid != os.getuid():
            return "owned by another user"
        if st.st_mode & 0o022:
            return "writable by group or others"
        if rec is None or rec.get("size") != st.st_size:
            # a truncated archive crashes the JVM at map time
            return (f"{st.st_size} bytes, recorded "
                    f"{None if rec is None else rec.get('size')}")
        return None

    def promote(self, exit_code: int) -> None:
        """Make the recording the archive once its JVM exited with 0;
        a clean exit that wrote nothing stops recording for the key."""
        done = exit_code == 0 and os.path.isfile(self.tmp)
        try:
            if exit_code == 0:
                size = os.path.getsize(self.tmp) if done else 0
                tmp = f"{self.record}.{os.getpid()}.tmp"
                with open(tmp, "w") as f:
                    json.dump({"install": self.install, "size": size}, f)
                os.replace(tmp, self.record)
            if done:
                os.replace(self.tmp, self.jsa)
        except OSError:     # e.g. a full disk: the next launch records
            done = False
        if not done:
            _remove(self.tmp)


_zipped_for: set[int] = set()


def trim_zip_finders() -> None:
    """Drop every cached zip finder from sys.path_importer_cache.

    PySpark's worker calls importlib.invalidate_caches() at the start of
    every task, and under CPython 3.11 each cached zipimporter answers by
    re-reading its archive's whole central directory in pure Python:
    pyspark.zip, the spark-core jar (on the worker PYTHONPATH), py4j and
    glcmstream.zip cost ~120 ms of single-threaded work per task, several
    hundred ms with every core doing it at once. Python allows entries of
    this cache to be removed; a path hook rebuilds a finder only when a
    later import needs one, from zipimport's already-loaded directory
    cache, and in steady state nothing does — so the next task's
    invalidate_caches() has no archive to re-read. Every function the
    engine hands to a python worker calls this as its first statement.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the glcmstream package to python workers via addPyFile.

    This is the local-mode equivalent of `spark-submit --py-files`
    (BASELINE.json:14): pandas UDFs are pickled by reference to the
    module, so workers must be able to import it.
    """
    key = id(spark.sparkContext)
    if key in _zipped_for:
        return
    pkg_dir = os.path.join(_SRC_DIR, "glcmstream")
    tmp = tempfile.mkdtemp(prefix="glcmstream_pyfiles_")
    # Spark copies the zip into its own files dir, but reads this one
    # while the session lives: remove it when the process exits
    atexit.register(shutil.rmtree, tmp, True)
    zpath = os.path.join(tmp, "glcmstream.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for fn in sorted(os.listdir(pkg_dir)):
            if fn.endswith(".py"):
                z.write(os.path.join(pkg_dir, fn),
                        arcname=f"glcmstream/{fn}")
    spark.sparkContext.addPyFile(zpath)
    _zipped_for.add(key)
