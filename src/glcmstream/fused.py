"""Fused scan+featurize: Iceberg-manifest-style streaming read where the
Arrow UDF reads its own parquet row-groups worker-side.

Why this exists (the 100 TB argument): the classic path streams `html`
binaries through the JVM — parquet decode on the executor heap, Arrow
serialization, a socket copy into the python worker, and an Arrow->pandas
copy — ~4 full passes over the corpus bytes before the kernel sees them.
Measured on this host that pipe moves ~1.1 GB/s aggregate and stops
scaling past ~8 cores (13.6s at local[8] -> 8.2s at local[32] for a noop
UDF over 6.2 GB), which was the round-1 N->4N scaling-gate failure.

This module keeps the bytes out of the JVM entirely, the same way
Iceberg's own Spark streaming source works: what is PLANNED and STREAMED
is the table's metadata — one split row per (data file, row group) — and
the data bytes are read by the task that consumes them. Here the reader
is the vectorized Arrow UDF itself (`mapInArrow`): it opens the row
group with pyarrow (zero-copy views into the Arrow buffers, no bytes
objects, no pandas), runs the GLCM kernel, and emits only
(url, warc_ts, lang, 6 feature doubles) — ~60 B/doc instead of ~50 KiB.
Exactly-once and resume are unchanged: Spark's file source tracks the
manifest files in its WAL exactly as it tracked data files before, and
the manifest -> row mapping is deterministic (immutable data files,
sorted listing, fixed row-group order).

On a real cluster the same plan shape holds: executors' python workers
read from the object store / local NVMe directly (pyarrow speaks s3/hdfs),
and the JVM never touches page bytes. Equality with the classic path is
exact — same kernel, same inputs — proven by tests/test_fused.py.

Fan-out: every task pays a fixed python-runner cost, so a scan that
reads all its splits at once — the batch scan, or a stream drained with
no max_files_per_trigger — deals them into one LPT-balanced hand per
core (`_hands`) and runs one task per hand; a drain's hands are its
manifest files, so its scan needs no exchange. Only a bounded-trigger
stream repartitions each micro-batch's splits (`_stream_fanout`).
Measured on a 4-core host, fused_features_batch over 60 small-page
files (3720 docs, 60 splits), warm: 4.8-5.2 s as 60 tasks, each with a
second python runner for the split rows, and 0.35-0.38 s as 4 tasks
over spark.range hand ids (first call in a session: 7.8 s and 0.5 s).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from . import config
from .session import trim_zip_finders

SPLIT_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("row_group", IntegerType()),
    StructField("n_rows", LongType()),
])

_FEATS = config.HARALICK_FEATURES

# mapInArrow output: event time as epoch-µs int64 (re-typed to TIMESTAMP
# JVM-side, identical to casting the fixture's TIMESTAMP_NTZ in a UTC
# session)
FUSED_OUT_DDL = ("url string, warc_ts_us long, lang string, "
                 + ", ".join(f"{n} double" for n in _FEATS))


def plan_splits(pages_dir: str) -> list[tuple[str, int, int]]:
    """One split per (data file, row group) — the Iceberg manifest-entry
    granularity. Deterministic: sorted listing, parquet row-group order."""
    out = []
    for fn in sorted(os.listdir(pages_dir)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(pages_dir, fn)
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            out.append((path, rg, md.row_group(rg).num_rows))
    return out


def _splits_by_cost(pages_dir: str) -> list[tuple[str, int, int]]:
    """Splits sorted by row-group byte size DESCENDING (deterministic
    path/rg tiebreak). Row counts are near-uniform but GLCM cost is
    content-proportional, so bytes are the cost proxy."""
    rows = []
    for fn in sorted(os.listdir(pages_dir)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(pages_dir, fn)
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            rows.append((g.total_byte_size, path, rg, g.num_rows))
    rows.sort(key=lambda r: (-r[0], r[1], r[2]))
    return [(p, rg, n) for _, p, rg, n in rows]


def _hands(spark: SparkSession, n_splits: int,
           parallelism: int | None) -> int:
    """The fan-out rule of every one-pass scan (batch, or a stream whose
    trigger takes all manifests at once): min(parallelism or
    defaultParallelism, splits) hands, hand j = splits[j::n] of the
    cost-desc list. Dealing a descending list round-robin is LPT-style
    static balancing: every hand gets one split from each cost stratum
    and hand sizes differ by at most one split. One hand is one task, so
    a scan pays the python-runner cost once per core, not once per
    split."""
    return max(1, min(parallelism or spark.sparkContext.defaultParallelism,
                      n_splits))


def _write_manifests(manifest_dir: str, groups: list[list],
                     kind: str) -> str:
    """Write manifest-<i>.parquet holding groups[i]'s split rows (kept
    in the given order) and the layout record `_layout.json`: the kind
    (`files`, one manifest per data file, or `hands`) and the group
    count. A dir already holding the same layout is left as it is: a
    resumed stream must see the files its WAL tracked. Another layout
    raises ValueError, so a drain (hands) and a bounded stream (files)
    each need their own dir. A dir written before the record existed
    is reused if it holds the last manifest. The leading `_` keeps the
    record out of Spark's file listing."""
    layout = {"kind": kind, "groups": len(groups)}
    record = os.path.join(manifest_dir, "_layout.json")
    if os.path.exists(record):
        with open(record) as f:
            held = json.load(f)
        if held != layout:
            raise ValueError(f"manifest dir {manifest_dir} holds the "
                             f"layout {held}, not {layout}")
        return manifest_dir
    marker = os.path.join(manifest_dir,
                          f"manifest-{len(groups)-1:04d}.parquet")
    if os.path.exists(marker):
        return manifest_dir
    os.makedirs(manifest_dir, exist_ok=True)
    schema = pa.schema([pa.field("path", pa.string()),
                        pa.field("row_group", pa.int32()),
                        pa.field("n_rows", pa.int64())])
    for i, rows in enumerate(groups):
        tbl = pa.table({"path": [r[0] for r in rows],
                        "row_group": [r[1] for r in rows],
                        "n_rows": [r[2] for r in rows]}, schema=schema)
        tmp = os.path.join(manifest_dir, f".tmp-manifest-{i:04d}.parquet")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(manifest_dir,
                                     f"manifest-{i:04d}.parquet"))
    with open(record + ".tmp", "w") as f:
        json.dump(layout, f)
    os.replace(record + ".tmp", record)
    return manifest_dir


def write_split_manifests(pages_dir: str, manifest_dir: str) -> str:
    """One manifest per data file (its splits in cost-desc order), so
    `readStream(maxFilesPerTrigger=k)` replays k manifests per
    micro-batch — the same epoch cadence as streaming the data files
    themselves."""
    by_file: dict[str, list[tuple[str, int, int]]] = {}
    for s in _splits_by_cost(pages_dir):
        by_file.setdefault(s[0], []).append(s)
    return _write_manifests(manifest_dir,
                            [by_file[p] for p in sorted(by_file)], "files")


def write_hand_manifests(pages_dir: str, manifest_dir: str,
                         hands: int) -> str:
    """Backlog-drain manifest layout: `hands` manifest files, file j
    holding the LPT-dealt hand j of the cost-desc split list. Each
    manifest is a few KiB, far below spark.sql.files.openCostInBytes
    (4 MiB), so with hands <= the scan's minimum partition count (the
    core count) Spark plans exactly one scan task per manifest file and
    the fused stage needs NO repartition exchange: the scan IS the
    balanced fan-out."""
    splits = _splits_by_cost(pages_dir)
    return _write_manifests(
        manifest_dir, [splits[j::hands] for j in range(hands)], "hands")


def binary_views(arr: pa.Array) -> list[np.ndarray]:
    """Zero-copy uint8 views of every value in an Arrow (large_)binary /
    string array — no bytes-object materialization, no pandas."""
    if isinstance(arr, pa.ChunkedArray):
        out: list[np.ndarray] = []
        for c in arr.chunks:
            out.extend(binary_views(c))
        return out
    if arr.null_count:
        # nulls are absent from the pages fixture; safe slow path
        return [np.frombuffer(b, dtype=np.uint8) if b is not None
                else np.empty(0, np.uint8) for b in arr.to_pylist()]
    bufs = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) \
        or pa.types.is_large_string(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=odt,
                         count=arr.offset + len(arr) + 1)[arr.offset:]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return [data[offs[i]:offs[i + 1]] for i in range(len(arr))]


def _iter_split_rows(it: Iterator[pa.RecordBatch]):
    """Shared mapInArrow read loop: split rows in, (batch, html views,
    epoch-µs event time) out.

    Reads each row group with pyarrow (single-threaded: parallelism is
    across Spark tasks, one python worker per core) in ARROW_MAX_RECORDS
    sub-batches so worker memory stays bounded regardless of row-group
    size; html surfaces as zero-copy views.
    """
    trim_zip_finders()
    cols = ["url", "warc_ts", "lang", "html"]
    for mb in it:
        paths = mb.column("path").to_pylist()
        rgs = mb.column("row_group").to_pylist()
        for path, rg in zip(paths, rgs):
            pf = pq.ParquetFile(path)
            for batch in pf.iter_batches(batch_size=config.ARROW_MAX_RECORDS,
                                         row_groups=[rg], columns=cols,
                                         use_threads=False):
                views = binary_views(batch.column("html"))
                # normalize to µs FIRST: pyarrow surfaces parquet
                # timestamps at their native resolution (Spark-written
                # files read as timestamp[ns]); a bare int64 cast of ns
                # would inflate event time 1000x
                ts_us = (batch.column("warc_ts")
                         .cast(pa.timestamp("us"))
                         .cast(pa.int64()))
                yield batch, views, ts_us


def _featurize_split_batches(it: Iterator[pa.RecordBatch]
                             ) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: split rows in, feature rows out."""
    from . import kernel  # worker-side import

    for batch, views, ts_us in _iter_split_rows(it):
        feats = kernel.featurize_htmls(views)
        yield pa.RecordBatch.from_arrays(
            [batch.column("url"), ts_us, batch.column("lang"),
             *[pa.array(feats[n], type=pa.float64())
               for n in _FEATS]],
            names=["url", "warc_ts_us", "lang", *_FEATS])


# gvec = the flattened L² GLCM count vector, packed little-endian uint32
# (state.py's state-exchange wire format)
GVEC_OUT_DDL = "url string, warc_ts_us long, lang string, gvec binary"


def _gvec_split_batches(it: Iterator[pa.RecordBatch]
                        ) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: split rows in, per-doc packed GLCM count vectors
    out — the stateful-accumulation input, produced without the html
    ever entering the JVM (the classic path ships page bytes through
    parquet-decode-on-heap + Arrow + socket before glcm_vec_udf sees
    them; here the kernel reads its own row group)."""
    from . import kernel  # worker-side import

    for batch, views, ts_us in _iter_split_rows(it):
        flat = kernel.glcm_counts_htmls(views) \
            .reshape(len(views), -1).astype("<u4")
        gvec = pa.array([flat[i].tobytes() for i in range(len(views))],
                        type=pa.binary())
        yield pa.RecordBatch.from_arrays(
            [batch.column("url"), ts_us, batch.column("lang"), gvec],
            names=["url", "warc_ts_us", "lang", "gvec"])


def _features_df(splits_df: DataFrame,
                 body=_featurize_split_batches) -> DataFrame:
    out = splits_df.mapInArrow(body, FUSED_OUT_DDL)
    return out.select(
        "url", F.timestamp_micros("warc_ts_us").alias("warc_ts"), "lang",
        *_FEATS)


def _hand_splits(hands: list[list], it: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
    """Hand ids in (the `id` rows of spark.range), split rows out."""
    for mb in it:
        for j in mb.column("id").to_pylist():
            yield pa.RecordBatch.from_pydict(
                {"path": [s[0] for s in hands[j]],
                 "row_group": [s[1] for s in hands[j]]})


def fused_features_batch(spark: SparkSession, pages_dir: str,
                         parallelism: int | None = None) -> DataFrame:
    """Batch fused scan: the splits dealt into `_hands` hands, one hand
    per task — spark.range gives task j the hand id j (exact, no
    shuffle, no python RDD: `repartition(n)` deals round-robin from a
    random offset per input partition, which Poisson-collides small
    split counts into 2-3x task skew, and a createDataFrame over a
    python RDD costs a second python runner per task, ~1.7 s on its
    first use in a session) — then worker-side read+featurize."""
    splits = _splits_by_cost(pages_dir)
    n = _hands(spark, len(splits), parallelism)
    hands = [splits[j::n] for j in range(n)]
    return _features_df(
        spark.range(0, n, 1, n),
        lambda it: _featurize_split_batches(_hand_splits(hands, it)))


def _stream_fanout(spark: SparkSession, pages_dir: str,
                   parallelism: int | None) -> int:
    """Split fan-out of a bounded-trigger stream, whose micro-batches
    each take a few per-file manifests: the caller's parallelism, else 4
    tasks per core, dealt by a `repartition` of every micro-batch's
    split rows. Capped at the TABLE'S SPLIT COUNT: a repartition(n) with
    n > splits produces empty partitions whose tasks still pay the
    python-runner cost each (measured on the 80-split bigpage fixture:
    parallelism 128 -> 80 saves ~1 s of pure empty-task overhead per
    epoch)."""
    n = parallelism or 4 * spark.sparkContext.defaultParallelism
    n_splits = len(plan_splits(pages_dir))
    return max(1, min(n, n_splits) if n_splits else n)


def _split_stream(spark: SparkSession, pages_dir: str, manifest_dir: str,
                  max_files_per_trigger: int | None,
                  parallelism: int | None) -> DataFrame:
    """The split rows both fused streams scan, fanned out over tasks.

    A bounded trigger streams one manifest per data file and deals each
    micro-batch's splits over `_stream_fanout` tasks. Without
    max_files_per_trigger every manifest lands in one epoch (a backlog
    drain), so the manifests are the `_hands` hands instead and the scan
    plans one task per hand with no exchange."""
    r = spark.readStream.schema(SPLIT_SCHEMA)
    if max_files_per_trigger:
        write_split_manifests(pages_dir, manifest_dir)
        sdf = r.option("maxFilesPerTrigger", str(max_files_per_trigger)) \
            .parquet(manifest_dir)
        return sdf.repartition(_stream_fanout(spark, pages_dir, parallelism))
    write_hand_manifests(pages_dir, manifest_dir, _hands(
        spark, len(plan_splits(pages_dir)), parallelism))
    return r.parquet(manifest_dir)


def fused_features_stream(spark: SparkSession, pages_dir: str,
                          manifest_dir: str,
                          max_files_per_trigger: int | None = 1,
                          parallelism: int | None = None) -> DataFrame:
    """Streaming fused scan over the split-manifest log (Iceberg-style).

    The WAL tracks manifest files; each micro-batch's split rows are
    spread over tasks by `_split_stream` (a metadata-only exchange for a
    bounded trigger, none for a drain), each of which reads and
    featurizes its row groups worker-side. Every task pays a fixed
    python-runner cost (~0.1-0.2 s on a 4-core host), so a drain runs
    one task per core: on the 1536-page backlog (12 splits) the fused
    stage took ~1.2 s over 12 tasks and ~0.7 s over 4 tasks of 3 splits.
    """
    return _features_df(_split_stream(spark, pages_dir, manifest_dir,
                                      max_files_per_trigger, parallelism))


def fused_gvec_stream(spark: SparkSession, pages_dir: str,
                      manifest_dir: str,
                      max_files_per_trigger: int | None = 1,
                      parallelism: int | None = None) -> DataFrame:
    """Streaming fused scan emitting per-doc gvec rows for the stateful
    path (state.stateful_glcm_agg_fused): same manifest-log WAL and
    split fan-out as fused_features_stream, but the worker emits the
    packed count vector instead of reduced features so the state stage
    can keep accumulating across micro-batches."""
    sdf = _split_stream(spark, pages_dir, manifest_dir,
                        max_files_per_trigger, parallelism)
    out = sdf.mapInArrow(_gvec_split_batches, GVEC_OUT_DDL)
    return out.select(
        "url", F.timestamp_micros("warc_ts_us").alias("warc_ts"), "lang",
        "gvec")
