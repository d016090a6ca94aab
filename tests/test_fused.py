"""Fused manifest-scan path (fused.py): exact equality with the classic
html-through-Arrow UDF path, batch and streaming, plus zero-copy view
correctness. The fused path is the 100 TB scale path (BENCH/BASELINE.md);
these tests pin that it is a pure execution-strategy change — identical
values, identical windowed aggregates — never a semantic fork.
"""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from glcmstream import fixtures, fused, kernel, plan, stream

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")


@pytest.fixture(scope="module")
def pages_rg_dir():
    """Pages fixture with several row groups per file (the fused split
    granularity)."""
    d = os.path.join(SCRATCH, "pages_fused_600")
    if not os.path.exists(os.path.join(d, "part-0003.parquet")):
        shutil.rmtree(d, ignore_errors=True)
        fixtures.write_pages_parquet(d, n_docs=600, n_files=4,
                                     row_group_rows=64)
    return d


def test_binary_views_zero_copy_roundtrip():
    vals = [b"", b"a", b"hello world" * 100, b"\x00\xff" * 37]
    arr = pa.array(vals, type=pa.binary())
    views = fused.binary_views(arr)
    assert [bytes(v.tobytes()) for v in views] == vals
    # sliced array (non-zero offset) must still map correctly
    sl = arr.slice(1, 2)
    views = fused.binary_views(sl)
    assert [v.tobytes() for v in views] == vals[1:3]


def test_kernel_identical_on_views_and_bytes():
    htmls = [kernel.make_html(f"t{i}", "x" * (50 + 31 * i))
             for i in range(20)]
    arr = pa.array(htmls, type=pa.binary())
    f_bytes = kernel.featurize_htmls(htmls)
    f_views = kernel.featurize_htmls(fused.binary_views(arr))
    for k in f_bytes:
        assert np.array_equal(f_bytes[k], f_views[k])


def test_plan_splits_covers_all_rows(pages_rg_dir):
    splits = fused.plan_splits(pages_rg_dir)
    assert len(splits) > 4  # multiple row groups per file
    assert sum(s[2] for s in splits) == 660  # 600 + 10% recrawls


def test_manifest_dir_keeps_one_layout(pages_rg_dir, tmp_path):
    """A manifest dir records its layout: the same layout again is a
    no-op, another kind or group count raises, and a dir from before
    the record is reused as it is."""
    mdir = str(tmp_path / "manifests")
    fused.write_split_manifests(pages_rg_dir, mdir)
    names = sorted(os.listdir(mdir))
    mtimes = [os.stat(os.path.join(mdir, n)).st_mtime_ns for n in names]
    fused.write_split_manifests(pages_rg_dir, mdir)
    assert [os.stat(os.path.join(mdir, n)).st_mtime_ns
            for n in names] == mtimes
    with pytest.raises(ValueError, match="hands"):
        fused.write_hand_manifests(pages_rg_dir, mdir, 2)
    old = str(tmp_path / "before_record")
    fused.write_hand_manifests(pages_rg_dir, old, 2)
    os.remove(os.path.join(old, "_layout.json"))
    fused.write_hand_manifests(pages_rg_dir, old, 2)
    assert not os.path.exists(os.path.join(old, "_layout.json"))


def test_fused_batch_equals_classic(spark, pages_rg_dir):
    classic = (plan.featurize(stream.read_pages_batch(spark, pages_rg_dir))
               .select("url", "warc_ts", "lang", *fused._FEATS))
    fusedf = fused.fused_features_batch(spark, pages_rg_dir)
    a = sorted(classic.collect(), key=lambda r: (r.url, r.warc_ts))
    b = sorted(fusedf.collect(), key=lambda r: (r.url, r.warc_ts))
    assert len(a) == len(b) == 660
    assert a == b  # bit-identical doubles: same kernel, same bytes


def test_fused_stream_windowed_equals_classic_stream(spark, pages_rg_dir):
    def run(tag, job):
        ckpt = os.path.join(SCRATCH, f"ckpt_fused_{tag}")
        shutil.rmtree(ckpt, ignore_errors=True)
        pdf = spark.table(stream.drain(job, "complete", ckpt).name).toPandas()
        return pdf.sort_values(["lang", "host", "n_docs"]) \
            .reset_index(drop=True)

    mdir = os.path.join(SCRATCH, "pages_fused_600_manifests")
    shutil.rmtree(mdir, ignore_errors=True)
    feats = fused.fused_features_stream(spark, pages_rg_dir, mdir,
                                        max_files_per_trigger=2,
                                        parallelism=8)
    got = run("new", stream.windowed_agg_over_features(feats))
    want = run("ref", stream.windowed_feature_agg(
        stream.pages_stream(spark, pages_rg_dir)))
    assert got.shape == want.shape
    # complete-mode final tables must agree exactly on keys/counts and to
    # float tolerance on averaged features (sum order differs by design)
    for c in ["lang", "host", "n_docs"]:
        assert got[c].tolist() == want[c].tolist()
    for c in [f"avg_{n}" for n in fused._FEATS] + ["max_contrast"]:
        np.testing.assert_allclose(got[c].to_numpy(), want[c].to_numpy(),
                                   rtol=1e-12)


def test_fused_stateful_glcm_matches_batch(spark, pages_rg_dir):
    """The fused gvec stream feeding the state stage must reproduce the
    batch oracle exactly — same kernel, same bytes, same accumulation —
    proving the no-html-in-JVM stateful path is a pure execution-
    strategy change."""
    import pandas as pd
    from pyspark.sql import Window as W

    from glcmstream import state

    mdir = os.path.join(SCRATCH, "pages_fused_600_manifests3")
    shutil.rmtree(mdir, ignore_errors=True)
    ckpt = os.path.join(SCRATCH, "ckpt_fused_stateful")
    shutil.rmtree(ckpt, ignore_errors=True)
    gvecs = fused.fused_gvec_stream(spark, pages_rg_dir, mdir,
                                    max_files_per_trigger=2,
                                    parallelism=8)
    out = state.stateful_glcm_agg_fused(gvecs)
    name = stream.drain(out, "update", ckpt).name
    w = W.partitionBy("lang", "host", "window_start") \
         .orderBy(F.desc("n_docs"))
    got = (spark.table(name)
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1).drop("_rn", "n_batches"))
    exp = state.batch_glcm_agg(
        stream.read_pages_batch(spark, pages_rg_dir)).drop("n_batches")
    g = got.toPandas().sort_values(
        ["lang", "host", "window_start"]).reset_index(drop=True)
    e = exp.toPandas().sort_values(
        ["lang", "host", "window_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 660


def test_fused_stream_resumes_from_checkpoint(spark, pages_rg_dir):
    """Crash in the second micro-batch; the resumed drain replays that
    epoch and processes exactly the remaining manifests (file-source WAL
    semantics carry over)."""
    mdir = os.path.join(SCRATCH, "pages_fused_600_manifests2")
    shutil.rmtree(mdir, ignore_errors=True)
    ckpt = os.path.join(SCRATCH, "ckpt_fused_resume")
    shutil.rmtree(ckpt, ignore_errors=True)

    def mk():
        feats = fused.fused_features_stream(spark, pages_rg_dir, mdir,
                                            max_files_per_trigger=1,
                                            parallelism=8)
        return feats.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.unix_micros("warc_ts")).alias("ts_sum"))

    seen = []

    def fb(df, eid, crash_at=None):
        if eid == crash_at:
            raise RuntimeError("injected crash")
        seen.append((eid, {r["lang"]: (r["n"], r["ts_sum"])
                           for r in df.collect()}))

    with pytest.raises(StreamingQueryException):
        stream.drain(mk(), "complete", ckpt,
                     lambda df, eid: fb(df, eid, crash_at=1))
    assert [eid for eid, _ in seen] == [0]
    n_first = sum(v[0] for v in seen[-1][1].values())
    assert n_first < 660

    stream.drain(mk(), "complete", ckpt, fb)
    assert seen[1][0] == 1
    assert sum(v[0] for v in seen[-1][1].values()) == 660


def test_fused_drain_scans_one_balanced_hand_per_task(spark, pages_rg_dir):
    """A drain (max_files_per_trigger=None) takes every manifest in one
    epoch, so its manifests are LPT hands of the splits: no exchange
    between the manifest scan and the mapInArrow, every scan task holds
    floor(k/n) or ceil(k/n) of the k splits, and the windowed aggregate
    equals its batch twin."""
    k = len(fused.plan_splits(pages_rg_dir))
    n = min(spark.sparkContext.defaultParallelism, k)
    mdir = os.path.join(SCRATCH, "pages_fused_600_hands")
    ckpt = os.path.join(SCRATCH, "ckpt_fused_hands")
    for d in (mdir, ckpt, ckpt + "_splits"):
        shutil.rmtree(d, ignore_errors=True)

    feats = fused.fused_features_stream(spark, pages_rg_dir, mdir,
                                        max_files_per_trigger=None)
    q = stream.drain(stream.windowed_agg_over_features(feats), "complete",
                     ckpt)
    # complete mode runs no trailing no-data epoch: the last execution is
    # the one that scanned the manifests
    lines = q._jsq.explainInternal(False).splitlines()
    top = next(i for i, s in enumerate(lines) if "MapInArrow" in s)
    scan = next(i for i in range(top, len(lines)) if "FileScan" in lines[i])
    assert not any("Exchange" in s for s in lines[top:scan]), lines

    # the same source the drain scans, one row per scan task
    per_task = []

    def count_splits(df, eid):
        per_task.extend(r.n for r in df.mapInArrow(
            lambda it: iter([pa.RecordBatch.from_pydict(
                {"n": [sum(b.num_rows for b in it)]})]),
            "n long").collect())

    stream.drain(spark.readStream.schema(fused.SPLIT_SCHEMA).parquet(mdir),
                 "append", ckpt + "_splits", count_splits)
    assert sum(per_task) == k and len(per_task) == n
    assert set(per_task) <= {k // n, -(-k // n)}, per_task

    def canon(rows):
        pdf = pd.DataFrame([r.asDict() for r in rows])
        return (pdf.assign(window=pdf["window"].astype(str))
                .sort_values(["window", "lang", "host"])
                .reset_index(drop=True).round(6))

    twin = stream.windowed_agg_over_features(
        fused.fused_features_batch(spark, pages_rg_dir)).collect()
    got = canon(spark.table(q.name).collect())
    assert got["n_docs"].sum() == 660
    pd.testing.assert_frame_equal(got, canon(twin))
