"""IcebergLite as a query-facing SOURCE (round-1 verdict gap): time-travel
reads, snapshot isolation under concurrent commits, days(warc_ts)
partition layout with pruning, single-evaluation lineage."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from glcmstream.sink import IcebergLiteTable

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")


@pytest.fixture()
def table(spark):
    d = os.path.join(SCRATCH, "iceberg_src_test")
    shutil.rmtree(d, ignore_errors=True)
    t = IcebergLiteTable(d)
    yield t
    t.destroy()


def _pages(spark, ids, day):
    return spark.createDataFrame(
        [(f"https://h{i % 3}.example.com/{i}",
          f"2026-01-{day:02d} 0{i % 10}:00:00", i) for i in ids],
        "url string, ts string, doc_id long") \
        .withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")


def test_time_travel_reads_exact_snapshot(spark, table):
    table.commit(_pages(spark, range(0, 10), 1), 0,
                 partition_days_col="warc_ts")
    table.commit(_pages(spark, range(10, 25), 2), 1,
                 partition_days_col="warc_ts")
    table.commit(_pages(spark, range(25, 30), 3), 2,
                 partition_days_col="warc_ts")
    assert table.read(spark, as_of_epoch=0).count() == 10
    assert table.read(spark, as_of_epoch=1).count() == 25
    assert table.read(spark).count() == 30
    ids = {r.doc_id for r in table.read(spark, as_of_epoch=1).collect()}
    assert ids == set(range(25))


def test_snapshot_isolation_under_concurrent_commit(spark, table):
    table.commit(_pages(spark, range(0, 10), 1), 0)
    snap = table.read(spark)            # snapshot resolved here
    table.commit(_pages(spark, range(10, 20), 2), 1)  # concurrent writer
    assert snap.count() == 10           # reader still sees its snapshot
    assert table.read(spark).count() == 20  # new reader sees both


def test_days_partition_layout_and_pruning(spark, table):
    table.commit(_pages(spark, range(0, 10), 1), 0,
                 partition_days_col="warc_ts")
    epoch_dir = os.path.join(table.data_dir, "epoch=0")
    days = [d for d in os.listdir(epoch_dir) if d.startswith("warc_day=")]
    assert days == ["warc_day=2026-01-01"]

    table.commit(_pages(spark, range(10, 20), 2), 1,
                 partition_days_col="warc_ts")
    df = table.read(spark).filter(F.col("warc_day") == "2026-01-02")
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan_str
    assert df.count() == 10


def test_incremental_stream_read_picks_up_new_commits(spark, table):
    """Iceberg streaming-source semantics: a running manifest-log stream
    consumes committed epochs in order and sees epochs committed AFTER
    the stream started; uncommitted (torn) data stays invisible."""
    import time

    table.commit(_pages(spark, range(0, 10), 1), 0)
    ckpt = os.path.join(SCRATCH, "ice_stream_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    seen: list[set] = []

    def fb(df, eid):
        ids = {r.doc_id for r in df.collect()}
        if ids:
            seen.append(ids)

    q = (table.read_stream(spark).writeStream.outputMode("append")
         .foreachBatch(fb).option("checkpointLocation", ckpt).start())
    try:
        deadline = time.time() + 60
        while not seen and time.time() < deadline:
            time.sleep(0.3)
        assert seen and seen[0] == set(range(10))

        # torn write: data without a manifest must stay invisible
        torn = os.path.join(table.data_dir, "epoch=99")
        _pages(spark, range(90, 95), 3).write.parquet(torn)
        # an in-progress manifest tmp (hidden name) must also be
        # invisible to the manifest-log stream, even with corrupt content
        with open(os.path.join(table.manifest_dir,
                               ".epoch-77.json.tmp-abc"), "w") as f:
            f.write("{ not json")
        # a real commit lands while the stream is running
        table.commit(_pages(spark, range(10, 20), 2), 1)
        while len(seen) < 2 and time.time() < deadline:
            time.sleep(0.3)
        assert len(seen) >= 2 and seen[1] == set(range(10, 20))
        all_seen = set().union(*seen)
        assert not (all_seen & set(range(90, 95)))  # torn data invisible
    finally:
        q.stop()
        q.awaitTermination()


def test_moved_table_streams_from_its_new_place(spark, table, tmp_path):
    """read_stream resolves data files against the table dir it is
    given, so a copy of a committed table streams the same rows after
    the original is gone."""
    table.commit(_pages(spark, range(0, 6), 1), 0,
                 partition_days_col="warc_ts")
    table.commit(_pages(spark, range(6, 10), 2), 1,
                 partition_days_col="warc_ts")
    want = sorted(tuple(r) for r in table.read(spark)
                  .select("url", "doc_id", "warc_ts").collect())
    moved = IcebergLiteTable(shutil.copytree(table.table_dir,
                                             str(tmp_path / "moved")))
    table.destroy()
    qn = "moved_stream"
    q = (moved.read_stream(spark).writeStream.format("memory")
         .queryName(qn).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_moved"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table(qn)
                 .select("url", "doc_id", "warc_ts").collect())
    assert got == want


def test_lineage_certifies_written_rows(spark, table):
    table.commit(_pages(spark, range(0, 7), 1), 0)
    m = table.manifests()[0]
    assert m["row_count"] == 7
    assert sum(p["row_count"] for p in m["partitions"]) == 7
    for p in m["partitions"]:
        assert len(p["input_hash"]) == 16


def test_merge_upsert_latest_wins(spark, table):
    """MERGE semantics: a merge snapshot's rows shadow every earlier row
    with the same key; appends after the merge are visible again; a
    later merge re-shadows. Mirrors Iceberg MERGE INTO resolution."""
    base = _pages(spark, range(0, 10), 1)
    table.commit(base, 0)
    # merge: docs 3..6 re-crawled on day 2 (same urls -> same doc_id key)
    upd = _pages(spark, range(3, 7), 2)
    table.merge_commit(upd, 1, key_col="doc_id")

    latest = table.read_latest(spark, key_col="doc_id")
    assert latest.count() == 10
    days = {r.doc_id: r.warc_ts.day for r in latest.collect()}
    for i in range(10):
        assert days[i] == (2 if 3 <= i < 7 else 1)

    # append after the merge: doc 3 crawled again on day 3 -> both the
    # merged row and the new append row are visible (append != upsert)
    table.commit(_pages(spark, [3], 3), 2)
    latest2 = table.read_latest(spark, key_col="doc_id")
    assert latest2.count() == 11
    assert sorted(r.warc_ts.day for r in
                  latest2.filter(F.col("doc_id") == 3).collect()) == [2, 3]

    # a second merge on doc 3 shadows BOTH of those rows
    table.merge_commit(_pages(spark, [3], 4), 3, key_col="doc_id")
    latest3 = table.read_latest(spark, key_col="doc_id")
    assert latest3.count() == 10
    assert [r.warc_ts.day for r in
            latest3.filter(F.col("doc_id") == 3).collect()] == [4]


def test_compaction_preserves_rows_reduces_files(spark, table):
    """rewrite_data_files: identical row set before/after, fewer data
    files, replaced epochs hidden at the latest snapshot but still
    resolvable via time travel; the manifest-log stream must not replay
    compacted rows."""
    for i in range(3):
        table.commit(_pages(spark, range(10 * i, 10 * (i + 1)), i + 1), i)
    before = {r.doc_id for r in table.read(spark).collect()}
    files_before = sum(len(m["files"]) for m in table.manifests())

    new_epoch = table.compact(spark)
    assert table.committed_epochs() == [new_epoch]
    after = {r.doc_id for r in table.read(spark).collect()}
    assert after == before == set(range(30))
    files_after = sum(len(m["files"]) for m in table.manifests())
    assert files_after < files_before

    # time travel to a pre-compaction snapshot sees the original epochs
    assert {r.doc_id for r in
            table.read(spark, as_of_epoch=1).collect()} == set(range(20))

    # manifest-log stream: compaction snapshots are skipped (a CDC
    # consumer would otherwise see every row twice)
    import shutil as _sh
    import time as _time
    ckpt = os.path.join(SCRATCH, "ice_compact_stream_ckpt")
    _sh.rmtree(ckpt, ignore_errors=True)
    seen: set = set()

    def fb(df, eid):
        seen.update(r.doc_id for r in df.collect())

    q = (table.read_stream(spark).writeStream.outputMode("append")
         .foreachBatch(fb).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert seen == set(range(30))


def test_compaction_with_merge_resolves_shadowing(spark, table):
    table.commit(_pages(spark, range(0, 10), 1), 0)
    table.merge_commit(_pages(spark, range(3, 7), 2), 1, key_col="doc_id")
    with pytest.raises(ValueError):
        table.compact(spark)  # must not silently drop upsert semantics
    table.compact(spark, merge_key="doc_id")
    rows = table.read(spark).collect()
    assert len(rows) == 10
    days = {r.doc_id: r.warc_ts.day for r in rows}
    for i in range(10):
        assert days[i] == (2 if 3 <= i < 7 else 1)


def test_lineage_keys_unique_for_partitioned_commit(spark, table):
    """With a days() partition layout each task writes one part file per
    warc_day dir, so part numbers repeat — the lineage key is the FILE
    (round-2 advice); partition_id is de-duplicated to a per-file index."""
    df = _pages(spark, range(0, 10), 1).unionByName(
        _pages(spark, range(10, 20), 2))
    table.commit(df, 0, partition_days_col="warc_ts")
    m = table.manifests()[0]
    files = [p["file"] for p in m["partitions"]]
    pids = [p["partition_id"] for p in m["partitions"]]
    assert len(set(files)) == len(files) > 1
    assert len(set(pids)) == len(pids)
    assert sum(p["row_count"] for p in m["partitions"]) == 20


def test_schema_evolution_add_and_drop_column(spark, table, tmp_path):
    """Iceberg-style schema evolution: the snapshot's schema is the
    latest live manifest's. A column added in a later commit reads as
    NULL for older epochs; a column dropped later is invisible even
    though old files still hold it; time travel resurrects the exact
    historical schema per snapshot."""
    base = _pages(spark, range(4), 1).select("url", "doc_id")
    table.commit(base, 0)
    widened = _pages(spark, range(4, 8), 1).select(
        "url", "doc_id", F.col("doc_id").cast("double").alias("score"))
    table.commit(widened, 1)

    # latest snapshot: added column present, NULL for epoch-0 rows
    # (epoch is the scan's hidden partition-dir column, always present)
    df = table.read(spark)
    assert set(df.columns) == {"url", "doc_id", "score", "epoch"}
    rows = {r["doc_id"]: r["score"] for r in df.collect()}
    assert len(rows) == 8
    assert all(rows[i] is None for i in range(4))
    assert all(rows[i] == float(i) for i in range(4, 8))

    # time travel: epoch-0 snapshot has the ORIGINAL two-column schema
    assert set(table.read(spark, as_of_epoch=0).columns) == \
        {"url", "doc_id", "epoch"}

    # drop a column in a third commit: invisible at the new snapshot,
    # still visible when time-traveling to the wide snapshot
    narrowed = _pages(spark, range(8, 10), 1).select("url", "doc_id")
    table.commit(narrowed, 2)
    assert set(table.read(spark).columns) == {"url", "doc_id", "epoch"}
    assert set(table.read(spark, as_of_epoch=1).columns) == \
        {"url", "doc_id", "score", "epoch"}
    assert table.read(spark).count() == 10

    # the incremental streaming read follows the same contract: latest
    # schema out, NULL backfill for pre-evolution files
    sdf = table.read_stream(spark)
    qn = "evostream"
    q = (sdf.writeStream.format("memory").queryName(qn)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_evo"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table(qn)
    assert set(got.columns) == {"url", "doc_id"}  # latest (narrow) schema
    assert got.count() == 10


def _blake2b64(path):
    import hashlib
    with open(path, "rb") as f:
        return hashlib.blake2b(f.read(), digest_size=8).hexdigest()


@pytest.mark.parametrize("days_col", [None, "warc_ts"])
def test_lineage_from_written_files(spark, table, days_col):
    """Each manifest entry certifies one written data file: its row count
    is what Spark reads back from it, its input_hash is blake2b-64 of its
    bytes, and `files` is exactly the non-empty parquet data files of the
    epoch dir (no .crc checksum, no _SUCCESS marker)."""
    df = _pages(spark, range(0, 30), 1).unionByName(
        _pages(spark, range(30, 60), 2)).repartition(4, "doc_id")
    table.commit(df, 0, partition_days_col=days_col)
    m = table.manifests()[0]
    epoch_dir = os.path.join(table.data_dir, "epoch=0")

    on_disk = [os.path.join(root, n)
               for root, _, names in os.walk(os.path.abspath(epoch_dir))
               for n in names]
    assert any(n.endswith(".crc") for n in on_disk)
    assert any(os.path.basename(n) == "_SUCCESS" for n in on_disk)
    data = {p for p in on_disk
            if p.endswith(".parquet")
            and not os.path.basename(p).startswith(".")
            and spark.read.parquet(p).count() > 0}
    assert set(m["files"]) == data and len(m["files"]) == len(data) > 2

    parts = m["partitions"]
    assert [os.path.abspath(os.path.join(table.table_dir, p["file"]))
            for p in parts] == sorted(m["files"])
    for p in parts:
        path = os.path.join(table.table_dir, p["file"])
        assert p["row_count"] == spark.read.parquet(path).count()
        assert p["input_hash"] == _blake2b64(path)
    assert m["row_count"] == sum(p["row_count"] for p in parts) == 60


@pytest.mark.parametrize("days_col", [None, "warc_ts"])
def test_empty_batch_commits_empty_manifest(spark, table, days_col):
    empty = _pages(spark, range(0, 10), 1).limit(0)
    assert table.commit(empty, 0, partition_days_col=days_col) is True
    m = table.manifests()[0]
    assert m["files"] == [] and m["partitions"] == []
    assert m["row_count"] == 0
    assert table.commit(empty, 0, partition_days_col=days_col) is False


def test_commit_runs_no_more_jobs_than_its_write(spark, table):
    """The write is the commit's only Spark work: lineage comes from the
    written files on the driver, with no read-back scan of the epoch."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    df = _pages(spark, range(0, 30), 1).repartition(4, "doc_id")
    bare = os.path.join(SCRATCH, "iceberg_bare_write")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        n_write = jobs("bare_write",
                       lambda: df.write.mode("overwrite").parquet(bare))
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    n_commit = jobs("sink_commit", lambda: table.commit(df, 0))
    assert n_write >= 1
    assert n_commit <= n_write
