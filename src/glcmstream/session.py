"""SparkSession factory + worker-side package distribution.

One place for every engine-relevant config (AQE, Arrow, shuffle
partitions, UTC) so batch, streaming, tests and bench agree — SURVEY.md §4.2.
The shuffle width defaults to the cluster's core count.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

from . import config

_SRC_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app: str = "glcmstream", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # pyarrow's default (jemalloc) allocator munmaps large buffers on free;
    # at 32 concurrent python workers the page-fault/zeroing churn caps the
    # fused scan ~10% below mimalloc, which recycles segments (measured:
    # 18.7k -> 20.8k docs/s at 32 procs). Env is inherited JVM -> daemon ->
    # workers; harmless where pyarrow lacks mimalloc (falls back at import).
    try:
        import pyarrow as _pa
        _pa.mimalloc_memory_pool()
        os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "mimalloc")
    except Exception:
        pass
    b = (SparkSession.builder.appName(app).master(master or "local[*]")
         .config("spark.sql.session.timeZone", config.SESSION_TZ)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(config.ARROW_MAX_RECORDS))
         .config("spark.sql.parquet.filterPushdown", "true")
         .config("spark.driver.memory",
                 os.environ.get("GLCMSTREAM_DRIVER_MEM", "24g"))
         # Arrow (python-UDF transfer) allocates off-heap; the JVM default
         # direct-memory ceiling throttles 32 concurrent Arrow writers
         # into System.gc() storms — measured 8x on the featurize stage
         .config("spark.driver.extraJavaOptions",
                 "-XX:MaxDirectMemorySize="
                 + os.environ.get("GLCMSTREAM_DIRECT_MEM", "24g")
                 # cap GC fan-out: on a core-pinned leg the default (one
                 # GC thread per core) preempts python workers mid-kernel
                 + " -XX:ParallelGCThreads=8 -XX:ConcGCThreads=2")
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
                 "changelogCheckpointing.enabled", "true"))
    spark = b.getOrCreate()
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
