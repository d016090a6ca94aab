"""Streaming CDC upsert (queries.streaming_cdc_upsert's pipeline):
kill mid-stream, resume from checkpoint, and the table must equal the
uninterrupted run exactly — merge_commit idempotency absorbs the
replayed epoch, and later epochs still shadow earlier ones (the
north-rule exactly-once + resume contract on the MERGE path).
"""

import glob
import os
import tempfile

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from glcmstream import queries as qmod
from glcmstream import stream
from glcmstream.sink import IcebergLiteTable

SF = "/root/testdata/sf0.001"


def _run_cdc(spark, cdc_dir, table, ckpt, stop_after=None):
    schema = spark.read.parquet(cdc_dir).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(cdc_dir))
    seen = []

    def fb(batch_df, epoch_id):
        w = W.partitionBy("url").orderBy(F.desc("warc_ts"),
                                        F.desc("doc_id"))
        latest = (batch_df.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        table.merge_commit(latest, int(epoch_id), key_col="url")
        seen.append(int(epoch_id))
        if stop_after is not None and len(seen) >= stop_after:
            raise RuntimeError("injected crash")

    try:
        stream.drain(sdf, "append", ckpt, fb)
    except Exception:
        if stop_after is None:
            raise
    return seen


def _latest_rows(spark, table):
    return sorted(
        (r["url"], r["doc_id"], str(r["warc_ts"]))
        for r in table.read_latest(spark, "url").collect())


def test_cdc_upsert_resume_equals_uninterrupted(spark, tmp_path):
    cdc_dir = qmod._derived_pages_cdc_dir(spark, SF)

    ref_tbl = IcebergLiteTable(str(tmp_path / "ref"))
    _run_cdc(spark, cdc_dir, ref_tbl, str(tmp_path / "ckpt_ref"))
    want = _latest_rows(spark, ref_tbl)
    assert len(want) > 0

    # crash after 2 of 4 epochs, then resume from the same checkpoint;
    # the crashed epoch may replay — merge_commit must no-op on it
    tbl = IcebergLiteTable(str(tmp_path / "resume"))
    ckpt = str(tmp_path / "ckpt_resume")
    first = _run_cdc(spark, cdc_dir, tbl, ckpt, stop_after=2)
    assert len(first) == 2
    assert len(_latest_rows(spark, tbl)) < len(want)  # mid-stream state
    second = _run_cdc(spark, cdc_dir, tbl, ckpt)
    assert max(second) == 3  # all four epochs committed overall
    assert _latest_rows(spark, tbl) == want


def test_cdc_replayed_epoch_is_noop(spark, tmp_path):
    cdc_dir = qmod._derived_pages_cdc_dir(spark, SF)
    tbl = IcebergLiteTable(str(tmp_path / "noop"))
    _run_cdc(spark, cdc_dir, tbl, str(tmp_path / "ckpt_n1"))
    want = _latest_rows(spark, tbl)
    # a fresh checkpoint replays every epoch id from 0 — every
    # merge_commit must return False and leave the table untouched
    _run_cdc(spark, cdc_dir, tbl, str(tmp_path / "ckpt_n2"))
    assert _latest_rows(spark, tbl) == want


def test_cdc_registry_query_rows_and_no_temp_dirs(spark, tmp_path):
    """The registry query aggregates the MERGEd table's latest rows per
    lang, and removes its temp table and checkpoint before it returns."""
    import __spark_entry__ as entry

    def leftovers():
        return {d for p in ("cdc_tbl_*", "ckpt_cdc_*")
                for d in glob.glob(os.path.join(tempfile.gettempdir(), p))}

    tbl = IcebergLiteTable(str(tmp_path / "ref"))
    _run_cdc(spark, qmod._derived_pages_cdc_dir(spark, SF), tbl,
             str(tmp_path / "ckpt_ref"))
    want: dict = {}
    for r in tbl.read_latest(spark, "url").select(
            "lang", F.unix_micros(F.col("warc_ts").cast("timestamp"))
            .alias("us")).collect():
        n, us = want.get(r["lang"], (0, 0))
        want[r["lang"]] = (n + 1, us + r["us"])

    before = leftovers()
    got = entry.queries()["streaming_cdc_upsert"](spark, SF).collect()
    assert leftovers() == before
    assert {r["lang"]: (r["n_urls"], r["ts_sum"]) for r in got} == want
