"""IcebergLite: exactly-once idempotent table sink for foreachBatch.

Realizes the BASELINE.json:6,14 "foreachBatch exactly-once Iceberg sink
with per-partition lineage and idempotent commits" on local parquet (no
Iceberg jars in this container — SURVEY.md §0): a table directory holds
  data/epoch=<id>/*.parquet     -- one dir per committed epoch
  _manifests/epoch-<id>.json    -- commit record, written AFTER the data
                                   via atomic tmp+rename
Commit protocol (mirrors Iceberg snapshot semantics, snapshot-id=epochId):
  1. replayed epoch (manifest exists)  -> no-op        (idempotent)
  2. partial crash (data, no manifest) -> data dir is overwritten on
     retry, manifest written last      (no torn reads: readers only see
     manifest-listed epochs)
Lineage is one manifest entry per non-empty data file of the epoch:
`row_count` from the file's parquet footer and `input_hash`, the
blake2b-64 hex digest of the file's bytes. The driver reads both from
the local filesystem, as every other IcebergLite path already assumes
(os.replace commit point, os.listdir of the manifest log). Manifests
written before this definition carry the xor of per-row xxhash64
values as `input_hash` instead; nothing reads it, so they stay valid.
On a real cluster this swaps for `write.format("iceberg")` + WAP; the
engine interface (commit(df, epochId) / read()) stays identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import trim_zip_finders


def _part_id(file_path: str) -> int:
    """part-00017-<uuid>.snappy.parquet -> 17 (the write partition id)."""
    base = os.path.basename(file_path)
    try:
        return int(base.split("-")[1])
    except (IndexError, ValueError):
        return -1


def _data_files(epoch_dir: str) -> list[str]:
    """Absolute paths of the data files under an epoch dir, sorted. Skips
    the names Spark's file index skips too: anything starting with `_`
    or `.` (`_SUCCESS`, the `.part-….crc` checksums)."""
    out = []
    for root, dirs, names in os.walk(os.path.abspath(epoch_dir)):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(root, n) for n in names
                if not n.startswith(("_", "."))]
    return sorted(out)


def _file_hash(path: str) -> str:
    """blake2b-64 hex digest of a file's bytes."""
    with open(path, "rb") as f:
        return hashlib.file_digest(
            f, lambda: hashlib.blake2b(digest_size=8)).hexdigest()


class IcebergLiteTable:
    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.data_dir = os.path.join(table_dir, "data")
        self.manifest_dir = os.path.join(table_dir, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- commit ------------------------------------------------------------

    def _manifest_path(self, epoch_id: int) -> str:
        return os.path.join(self.manifest_dir, f"epoch-{epoch_id}.json")

    def is_committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._manifest_path(epoch_id))

    def commit(self, batch_df: DataFrame, epoch_id: int,
               partition_days_col: str | None = None,
               _kind: str = "append",
               _extra: dict | None = None) -> bool:
        """Idempotent epoch commit. Returns False on replayed no-op.

        The epoch plan executes exactly ONCE — the parquet write; it is
        the commit's only Spark job. Lineage (BASELINE.json:14) is then
        read on the driver from the files just written: one entry per
        non-empty data file, with `row_count` from its parquet footer and
        `input_hash` = blake2b-64 of its bytes, so the manifest certifies
        the bytes actually committed rather than a second, possibly
        divergent, evaluation of the upstream plan (round-1 verdict:
        foreachBatch actions re-run the whole epoch, doubling featurize
        cost and decoupling lineage from data). Zero-row files (Spark
        writes one for an empty flat batch) stay out of the manifest."""
        if self.is_committed(epoch_id):
            return False
        epoch_dir = os.path.join(self.data_dir, f"epoch={epoch_id}")
        if partition_days_col:
            # Iceberg's days(<ts>) partition transform, realized as a
            # derived directory column: data/epoch=N/warc_day=YYYY-MM-DD/.
            # Readers filtering on warc_day get parquet partition pruning
            # (FIXTURES.md §1 layout promise).
            writer = batch_df.withColumn(
                "warc_day", F.date_format(partition_days_col, "yyyy-MM-dd")
            ).write.partitionBy("warc_day")
        else:
            writer = batch_df.write
        writer.mode("overwrite").parquet(epoch_dir)
        # the manifest lists its data files twice (Iceberg manifests list
        # their data files): absolute in `files`, and relative to the
        # table dir in `partitions[].file`, which read_stream resolves
        lineage = []
        for path in _data_files(epoch_dir):
            rows = pq.read_metadata(path).num_rows
            if rows:
                lineage.append((path, rows, _file_hash(path)))
        # lineage is keyed by the data FILE (unique within the commit);
        # the write-partition id is only meaningful for flat commits —
        # with a partition_days_col each task emits one part file per
        # warc_day dir, so part numbers repeat across dirs
        manifest = {
            "epoch_id": int(epoch_id),
            "kind": _kind,
            **(_extra or {}),
            "schema": batch_df.schema.jsonValue(),
            "files": [path for path, _, _ in lineage],
            "partitions": [{"file": os.path.relpath(path, self.table_dir),
                            "partition_id": (i if partition_days_col
                                             else _part_id(path)),
                            "row_count": rows,
                            "input_hash": digest}
                           for i, (path, rows, digest) in enumerate(lineage)],
            "row_count": sum(rows for _, rows, _ in lineage),
        }
        # hidden tmp name: paths starting with '.' are invisible to Spark
        # file sources, so a live read_stream() over the manifest log can
        # never list a half-written manifest (round-2 advice)
        tmp = os.path.join(self.manifest_dir,
                           f".epoch-{epoch_id}.json.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(epoch_id))  # atomic commit point
        return True

    # -- merge / compaction (Iceberg MERGE INTO & rewrite_data_files) ------

    def merge_commit(self, batch_df: DataFrame, epoch_id: int,
                     key_col: str) -> bool:
        """Iceberg-style MERGE (copy-on-write upsert): commits a snapshot
        whose rows REPLACE every earlier row sharing the same `key_col`
        value. Shadowing is resolved at read time by read_latest() — the
        manifest records the merge kind + key so any reader can resolve
        it. Idempotent per epoch like commit()."""
        return self.commit(batch_df, epoch_id, _kind="merge",
                           _extra={"merge_key": key_col})

    def read_latest(self, spark: SparkSession, key_col: str,
                    as_of_epoch: int | None = None) -> DataFrame:
        """Merge-aware read: a row from epoch e is visible iff no LATER
        merge epoch carries its key (e >= last merge epoch touching the
        key). Append epochs may legitimately hold multiple rows per key
        (recrawls); merges shadow all of them at once. The shadow map is
        (key, max merge epoch) — delta-sized, so the join stays cheap at
        any table size (AQE broadcasts it when small)."""
        df = self.read(spark, as_of_epoch=as_of_epoch)
        merge_epochs = [m["epoch_id"] for m in self.manifests(as_of_epoch)
                        if m.get("kind") == "merge"]
        if not merge_epochs:
            return df
        mk = (df.filter(F.col("epoch").isin(merge_epochs))
              .groupBy(key_col)
              .agg(F.max("epoch").alias("_last_merge")))
        return (df.join(mk, key_col, "left")
                .filter(F.col("_last_merge").isNull()
                        | (F.col("epoch") >= F.col("_last_merge")))
                .drop("_last_merge"))

    def compact(self, spark: SparkSession,
                merge_key: str | None = None) -> int:
        """Rewrite every live epoch into ONE new snapshot (Iceberg
        rewrite_data_files): readers see an identical row set before and
        after, small files collapse, and the compaction manifest lists
        the epochs it replaces — committed_epochs()/read() hide replaced
        epochs at the latest snapshot while TIME TRAVEL to an older
        snapshot still resolves against the original epoch dirs (old
        data files are retained until an explicit expire, as in Iceberg).

        If merge epochs exist their shadowing must be resolved into the
        compacted rows — pass the merge key; refuses otherwise rather
        than silently dropping upsert semantics. Returns the new epoch
        id."""
        live = self._live()
        has_merge = any(m.get("kind") == "merge" for m in live.values())
        if has_merge and merge_key is None:
            raise ValueError("table has merge snapshots; compact needs "
                             "the merge key to resolve shadowing")
        new_epoch = max(self._all_epochs()) + 1
        df = (self.read_latest(spark, merge_key) if has_merge
              else self.read(spark)).drop("epoch")
        self.commit(df, new_epoch, _kind="compaction",
                    _extra={"replaces": list(live)})
        return new_epoch

    # -- read --------------------------------------------------------------

    def _all_epochs(self) -> list[int]:
        out = []
        for fn in os.listdir(self.manifest_dir):
            if fn.startswith("epoch-") and fn.endswith(".json"):
                out.append(int(fn[len("epoch-"):-len(".json")]))
        return sorted(out)

    def _load_manifest(self, epoch_id: int) -> dict:
        with open(self._manifest_path(epoch_id)) as f:
            return json.load(f)

    def _live(self, as_of_epoch: int | None = None) -> dict[int, dict]:
        """Live epochs at a snapshot -> their manifests, in epoch order,
        each parsed once: manifest-committed, minus epochs replaced by a
        compaction at or before the snapshot."""
        ms = {e: self._load_manifest(e) for e in self._all_epochs()
              if as_of_epoch is None or e <= as_of_epoch}
        replaced = {r for m in ms.values() if m.get("kind") == "compaction"
                    for r in m.get("replaces", [])}
        return {e: m for e, m in ms.items() if e not in replaced}

    def committed_epochs(self, as_of_epoch: int | None = None) -> list[int]:
        return list(self._live(as_of_epoch))

    def manifests(self, as_of_epoch: int | None = None) -> list[dict]:
        return list(self._live(as_of_epoch).values())

    def read(self, spark: SparkSession,
             as_of_epoch: int | None = None) -> DataFrame:
        """Snapshot-isolated read: only manifest-committed epoch dirs.

        `as_of_epoch` is Iceberg-style time travel (snapshot-id = epoch
        id): the returned DataFrame sees exactly the epochs live at that
        snapshot (compactions after it are invisible; epochs it replaced
        resolve normally for older snapshots). The epoch list is resolved
        HERE, so commits landing after read() never leak into the
        returned plan — snapshot isolation under concurrent writers
        (test_snapshot_isolation)."""
        live = self._live(as_of_epoch)
        if not live:
            raise ValueError(f"no committed epochs in {self.table_dir}"
                             f" (as_of_epoch={as_of_epoch})")
        paths = [os.path.join(self.data_dir, f"epoch={e}") for e in live]
        # Iceberg-style SCHEMA EVOLUTION (add/drop column): each manifest
        # records its commit's schema; when the live epochs disagree, the
        # snapshot's schema is the LATEST live manifest's — a column
        # added later reads as NULL for older epochs (mergeSchema union
        # scan), a column dropped later is invisible even though old
        # files still hold it (projection below). Single-schema tables
        # keep the plain scan (no mergeSchema footer pass). Type changes
        # are NOT supported (Iceberg resolves those via field ids, which
        # these manifests don't carry) — Spark's mergeSchema fails fast
        # on them rather than guessing.
        schemas = [m.get("schema") for m in live.values()]
        if len({json.dumps(s, sort_keys=True) for s in schemas}) <= 1:
            return spark.read.option("basePath", self.data_dir) \
                .parquet(*paths)
        df = (spark.read.option("basePath", self.data_dir)
              .option("mergeSchema", "true").parquet(*paths))
        want = [f["name"] for f in schemas[-1]["fields"]]
        known = {f["name"] for s in schemas for f in s["fields"]}
        # keep hidden partition-dir columns (e.g. warc_day) the scan adds
        extras = [c for c in df.columns if c not in known]
        return df.select(*(want + extras))

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """Incremental (CDC-style) streaming read — the Iceberg streaming
        source semantics: the stream is driven by the MANIFEST log, so a
        consumer sees exactly the committed epochs, in commit order, and
        epochs committed while the stream runs are picked up in later
        micro-batches. Torn/partial epoch data (files without a manifest)
        is invisible by construction; exactly-once consumption rides the
        file source's WAL over the manifest files.

        Worker-side parquet read via mapInArrow (same fused-scan shape as
        fused.py — only manifest metadata passes through the JVM)."""
        import pyarrow as pa
        import pyarrow.parquet as pq2

        manifests = self.manifests()
        if not manifests:
            raise ValueError(f"no committed epochs in {self.table_dir}")
        # target schema = the LATEST live manifest's (schema evolution:
        # the stream's output schema is the current snapshot's; files
        # from pre-evolution epochs backfill later-added columns with
        # NULL, and columns dropped later are simply not projected —
        # the same contract as the batch read())
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import StructType as _ST
        schema = _ST.fromJson(manifests[-1]["schema"])
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                        for f in schema.fields)
        names = [f.name for f in schema.fields]
        pa_types = {f.name: to_arrow_type(f.dataType)
                    for f in schema.fields}
        ts_cols = [f.name for f in schema.fields
                   if f.dataType.simpleString().startswith("timestamp")]
        table_dir = os.path.abspath(self.table_dir)

        def read_rows(it):
            trim_zip_finders()
            for mb in it:
                for path in mb.column("path").to_pylist():
                    # relative to the table dir; an absolute path (an
                    # old manifest's `files`) is kept by join
                    pf = pq2.ParquetFile(os.path.join(table_dir, path))
                    have = set(pf.schema_arrow.names)
                    for batch in pf.iter_batches(use_threads=False):
                        cols = []
                        for n in names:
                            if n not in have:
                                cols.append(pa.nulls(len(batch),
                                                     type=pa_types[n]))
                                continue
                            c = batch.column(n)
                            if n in ts_cols:
                                c = c.cast(pa.timestamp("us"))
                            cols.append(c)
                        yield pa.RecordBatch.from_arrays(cols, names=names)

        mdf = (spark.readStream
               .schema("epoch_id long, kind string, files array<string>, "
                       "partitions array<struct<file: string>>")
               .option("maxFilesPerTrigger", "1")
               .json(self.manifest_dir))
        # compaction snapshots REWRITE already-streamed rows — a CDC
        # consumer must skip them or see every row twice. Merge snapshots
        # stream as appends (upsert resolution is the downstream
        # consumer's contract, as with Iceberg's changelog scan).
        live = mdf.filter(F.col("kind").isNull()
                          | (F.col("kind") != "compaction"))
        # data files relative to the table dir, so a copied or moved
        # table streams from where it is; manifests from before
        # `partitions[].file` existed fall back to their absolute `files`
        rel = F.col("partitions.file")
        paths = live.select(F.explode(
            F.when(rel.isNull() | F.exists(rel, lambda f: f.isNull()),
                   F.col("files")).otherwise(rel)).alias("path"))
        return paths.mapInArrow(read_rows, ddl)

    def destroy(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
