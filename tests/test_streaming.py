"""M4–M7 streaming tests: windowed aggregates, stateful GLCM accumulation,
exactly-once sink, checkpoint resume, late data, stream-stream join
(SURVEY.md §5.2 rows 6-9).
"""

import io
import json
import os
import shutil
import subprocess
import warnings

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from glcmstream import fixtures, state, stream
from glcmstream.sink import IcebergLiteTable

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")


@pytest.fixture(scope="module")
def pages_dir():
    d = os.path.join(SCRATCH, "pages_stream_400")
    if not os.path.exists(os.path.join(d, "part-0007.parquet")):
        shutil.rmtree(d, ignore_errors=True)
        fixtures.write_pages_parquet(d, n_docs=400, n_files=8)
    return d


def _scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _latest_per_key(df, keys, order_col="n_docs"):
    from pyspark.sql import Window
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# windowed built-in aggregate: determinism + batch parity
# ---------------------------------------------------------------------------

def _run_windowed(spark, pages_dir, tag):
    sdf = stream.pages_stream(spark, pages_dir)
    agg = stream.windowed_feature_agg(sdf)
    name = stream.drain(agg, "complete", _scratch(f"ckpt_winagg_{tag}")).name
    return spark.table(name).toPandas()


def _canon_win(pdf):
    pdf = pdf.copy()
    pdf["window_start"] = pdf["window"].map(lambda w: w["start"])
    pdf = pdf.drop(columns=["window"])
    return pdf.sort_values(["lang", "host", "window_start"]) \
              .reset_index(drop=True)


def test_windowed_agg_deterministic_and_matches_batch(spark, pages_dir):
    r1 = _canon_win(_run_windowed(spark, pages_dir, "a"))
    r2 = _canon_win(_run_windowed(spark, pages_dir, "b"))
    pd.testing.assert_frame_equal(r1, r2)  # identical across runs

    batch = stream.read_pages_batch(spark, pages_dir)
    bagg = stream.windowed_feature_agg(batch)  # same plan, batch input
    b = _canon_win(bagg.toPandas())
    pd.testing.assert_frame_equal(r1, b, check_exact=False, rtol=1e-12)
    assert len(r1) > 0 and r1["n_docs"].sum() == 440  # 400 + 10% recrawls


# ---------------------------------------------------------------------------
# stateful GLCM accumulation vs batch oracle + exactly-once sink
# ---------------------------------------------------------------------------

def test_stateful_glcm_matches_batch(spark, pages_dir):
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    out = state.stateful_glcm_agg(sdf)
    table = IcebergLiteTable(_scratch("tbl_stateful"))
    stream.run_to_sink(out, table, _scratch("ckpt_stateful"))

    got = _latest_per_key(table.read(spark),
                          ["lang", "host", "window_start"])
    exp = state.batch_glcm_agg(stream.read_pages_batch(spark, pages_dir))
    g = got.drop("n_batches", "epoch").toPandas().sort_values(
        ["lang", "host", "window_start"]).reset_index(drop=True)
    e = exp.drop("n_batches").toPandas().sort_values(
        ["lang", "host", "window_start"]).reset_index(drop=True)
    # integer-valued float64 count sums -> features must agree exactly
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 440
    # multi-epoch accumulation actually happened for at least one key
    assert (table.read(spark).groupBy("lang", "host", "window_start")
            .count().agg(F.max("count")).collect()[0][0] >= 1)
    # sink lineage recorded per committed epoch
    ms = table.manifests()
    assert ms and all("partitions" in m for m in ms)
    assert sum(m["row_count"] for m in ms) >= len(g)


def test_stateful_glcm_bucketed_matches_batch(spark, pages_dir):
    """Bucket-count invariance of the tumbling state: at 16 buckets (the
    default is 128) the latest emission per (lang, host, window) must
    equal the no-state batch oracle row for row (the bucket count is an
    execution strategy, not a semantic)."""
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    out = state.stateful_glcm_agg_bucketed(sdf, buckets=16)
    name = stream.drain(out, "update", _scratch("ckpt_bkt_glcm")).name
    got = _latest_per_key(spark.table(name),
                          ["lang", "host", "window_start"])
    exp = state.batch_glcm_agg(stream.read_pages_batch(spark, pages_dir))
    cols = ["lang", "host", "window_start"]
    g = got.drop("_rn", "n_batches").toPandas().sort_values(cols) \
        .reset_index(drop=True)
    e = exp.drop("n_batches").toPandas().sort_values(cols) \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 440


def test_batch_twins_build_without_warnings(spark, pages_dir):
    """applyInPandas warns (UserWarning) at every build of a function
    whose type hints are partial; the twins' functions carry none."""
    pages = stream.read_pages_batch(spark, pages_dir)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        state.batch_glcm_agg(pages)
        state.batch_glcm_agg_sliding(pages)
        state.batch_glcm_agg_session(pages)


def test_state_output_padding_does_not_warn():
    """pyspark's applyInPandasWithState serializer pads a batch holding
    fewer data rows than state rows with an all-None frame, and pandas
    warns (FutureWarning) at the concat of it. Driven as a python worker
    does: one bucket emits a window, two timed-out buckets emit nothing
    but still write a state row; the state function silences exactly
    that warning, so the batch serializes with FutureWarning an error."""
    from pyspark.sql.pandas.serializers import \
        ApplyInPandasWithStateSerializer
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.streaming.state import GroupState

    fn = state._bucket_merge_fn(1, 3_600_000_000, False)
    out_type = to_arrow_type(state.OUTPUT_SCHEMA)
    row = pd.DataFrame({"lang": ["en"], "host": ["a.com"],
                        "ws_us": [600_000_000],
                        "gvec": [bytes(4 * state.L2)]})

    def group(i, pdfs):
        st = GroupState(None, 0, 0, state.TIMEOUT, not pdfs, True, False,
                        False, False, GroupState.NO_TIMESTAMP,
                        b"bucket%d" % i, state.BUCKET_STATE_SCHEMA)
        return [((fn((i,), iter(pdfs), st), st), out_type)]

    ser = ApplyInPandasWithStateSerializer(
        "UTC", True, True, state.BUCKET_STATE_SCHEMA, 10_000, False, False)
    groups = (group(i, pdfs) for i, pdfs in enumerate([[row], [], []]))
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        ser.dump_stream(groups, io.BytesIO())


def test_stateful_glcm_sliding_matches_batch(spark, pages_dir):
    """Pane-based sliding-window stateful accumulation (round-3 verdict
    #1): stream -> per-pane count vectors -> pane->window assembly must
    equal the independent batch route (html duplicated per window,
    counts from the kernel) EXACTLY — the GLCM sum monoid makes
    pane-sum-then-featurize bit-identical to featurize-per-window."""
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    panes = state.stateful_glcm_pane_agg(sdf)
    table = IcebergLiteTable(_scratch("tbl_panes"))
    stream.run_to_sink(panes, table, _scratch("ckpt_panes"))

    got_df = state.sliding_windows_from_emissions(table.read(spark))
    exp_df = state.batch_glcm_agg_sliding(
        stream.read_pages_batch(spark, pages_dir))
    cols = ["lang", "host", "window_start"]
    g = got_df.toPandas().sort_values(cols).reset_index(drop=True)
    e = exp_df.toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e)
    # every doc lands in exactly L/S = 2 windows
    assert g["n_docs"].sum() == 2 * 440
    # window-membership math matches Spark's own sliding F.window
    spark_win = (stream.read_pages_batch(spark, pages_dir)
                 .withColumn("host", F.parse_url("url", F.lit("HOST")))
                 .groupBy("lang", "host",
                          F.window("warc_ts", "10 minutes",
                                   "5 minutes").alias("w"))
                 .agg(F.count(F.lit(1)).alias("n_docs"))
                 .select("lang", "host",
                         F.col("w.start").alias("window_start"), "n_docs")
                 .toPandas().sort_values(cols).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        g[cols + ["n_docs"]], spark_win[cols + ["n_docs"]])


def test_sliding_from_emissions_matches_batch_html(spark, pages_dir):
    """The one-shuffle finalizer (worker-side latest-per-pane + local
    candidate expansion via fused-code searchsorted cumsum) over raw
    multi-epoch update-mode emissions must be row-for-row BIT-identical
    to the independent batch route (html duplicated per window, counts
    from the kernel) — integer count sums make every summation order
    exact, so even the float features match to the last bit."""
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    panes = state.stateful_glcm_pane_agg_bucketed(sdf, buckets=16)
    emis = spark.table(stream.drain(panes, "update",
                                    _scratch("ckpt_pane_emis_fused")).name)
    # multi-epoch emissions actually present (a pane emitted twice)
    assert (emis.groupBy("lang", "host", "pane_start").count()
            .agg(F.max("count")).collect()[0][0] >= 2)
    exp = state.batch_glcm_agg_sliding(
        stream.read_pages_batch(spark, pages_dir))
    new = state.sliding_windows_from_emissions(emis)
    cols = ["lang", "host", "window_start"]
    o = exp.toPandas().sort_values(cols).reset_index(drop=True)
    m = new.toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(m[o.columns], o)


def test_sliding_from_emissions_null_host_and_gaps(spark):
    """Adversarial emissions frame driven straight through the fused
    finalizer: NULL hosts (malformed URLs), panes with multi-epoch
    duplicate emissions (later n_docs supersedes), and grid GAPS wider
    than the window so candidate ranges must not bleed across them —
    pinned against an expectation built in plain Python: the fullest
    emission per pane, summed over the r final panes of each window."""
    import numpy as np
    s_us = 300_000_000  # 5 minutes, the config slide
    r = 2               # 10-minute windows
    base = pd.Timestamp("2026-01-01 00:00:00")

    def mat(seed):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 50, size=1024, dtype=np.int64)

    rows = []
    for lang, host, gslots, docs in [
            ("en", "a.com", [0, 1, 7], [3, 4, 2]),     # gap >> r
            ("en", None, [2], [5]),                     # null host key
            ("de", "a.com", [0, 40, 41], [1, 2, 6]),   # far gap
    ]:
        for i, (gs, nd) in enumerate(zip(gslots, docs)):
            ts = base + pd.Timedelta(microseconds=gs * s_us)
            # stale earlier emission for some panes (smaller n_docs,
            # different counts) — must lose to the final one
            if i == 0:
                rows.append((lang, host, ts, 99, nd - 1, 1))
            rows.append((lang, host, ts, gs, nd, 2))
    emis = spark.createDataFrame(
        pd.DataFrame([(lang, host, ts, state._pack_counts(mat(seed)), nd,
                       nb) for lang, host, ts, seed, nd, nb in rows],
                     columns=["lang", "host", "pane_start", "counts",
                              "n_docs", "n_batches"]),
        schema=state.PANE_OUTPUT_SCHEMA)
    final = {}
    for lang, host, ts, seed, nd, _ in rows:
        if (lang, host, ts) not in final or nd > final[lang, host, ts][1]:
            final[lang, host, ts] = (seed, nd)
    wins = {}
    for (lang, host, ts), (seed, nd) in final.items():
        for i in range(r):
            ws = ts - pd.Timedelta(microseconds=i * s_us)
            acc = wins.setdefault((lang, host, ws),
                                  [np.zeros(1024, np.int64), 0])
            acc[0] += mat(seed)
            acc[1] += nd
    keys = list(wins)
    exp = pd.DataFrame({
        "lang": [k[0] for k in keys], "host": [k[1] for k in keys],
        "window_start": [k[2] for k in keys],
        "n_docs": [wins[k][1] for k in keys],
        **state._features(np.stack([wins[k][0] for k in keys]))})
    new = state.sliding_windows_from_emissions(emis)
    cols = ["lang", "host", "window_start"]
    o = exp.sort_values(cols).reset_index(drop=True)
    m = new.toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(m[o.columns], o)
    # r=2 at the 10min/5min config: every pane spawns 2 candidate
    # windows; all keys' panes are isolated or adjacent, so expected
    # window count is sum over panes of touched windows (dedup'd)
    assert len(m) == len(o) and len(m) >= 10


def test_continuous_sliding_emission_per_epoch(spark, pages_dir):
    """round-4 verdict #3: closed sliding windows must emit PER EPOCH as
    the watermark passes them (foreachBatch over the pane stream), with
    the drain flush carrying only the tail — and the union of all
    epoch emissions must equal the independent batch oracle exactly,
    each window emitted exactly once. The 5-minute watermark drops
    nothing (the fixture stream is event-time-sorted) but closes
    windows early enough that several epochs emit before the flush."""
    table = IcebergLiteTable(_scratch("tbl_contslide"))
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    state.sliding_glcm_stream_continuous(
        sdf, table, _scratch("ckpt_contslide"), watermark="5 minutes",
        buckets=16)
    got = table.read(spark)
    # per-epoch (pre-flush) emission actually happened, across >1 epoch
    pre_flush = got.filter(F.col("epoch") < (1 << 40))
    assert pre_flush.count() > 0
    assert pre_flush.select("epoch").distinct().count() >= 2
    # exactly-once per window
    assert (got.groupBy("lang", "host", "window_start").count()
            .filter("count > 1").count()) == 0
    # union of all epochs == batch oracle, row-for-row
    exp = state.batch_glcm_agg_sliding(
        stream.read_pages_batch(spark, pages_dir))
    cols = ["lang", "host", "window_start"]
    e = exp.toPandas().sort_values(cols).reset_index(drop=True)
    g = got.drop("epoch").toPandas().sort_values(cols) \
        .reset_index(drop=True)[e.columns]
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 2 * 440


def test_continuous_sliding_emitter_resumes(spark, pages_dir):
    """Crash-restart contract of the continuous emitter: its driver
    scalars persist in a meta json written in commit-then-advance
    order and window commits are epoch-idempotent, so a FRESH emitter
    instance over the same checkpoint + table (leg 1 'crashes' after
    its epochs, before any tail flush) must continue without
    duplicating or losing a single window — final table equals the
    batch oracle exactly."""
    files = sorted(os.listdir(pages_dir))
    src = _scratch("contres_src")
    ckpt = _scratch("contres_ckpt")
    tdir = _scratch("contres_tbl")

    def drain_leg(flush):
        table = IcebergLiteTable(tdir)
        em = state.ContinuousSlidingEmitter(table, watermark="5 minutes")
        sdf = stream.pages_stream(spark, src, max_files_per_trigger=2)
        panes = state.stateful_glcm_pane_agg_bucketed(
            sdf, watermark="5 minutes", buckets=16)
        stream.drain(panes, "update", ckpt, em.process)
        if flush:
            em.flush(spark)
        return table

    for f in files[:4]:
        shutil.copy2(os.path.join(pages_dir, f), src)
    t1 = drain_leg(flush=False)
    emitted_leg1 = t1.read(spark).count()
    # genuine restart: drop cached state-store providers
    spark._jvm.org.apache.spark.sql.execution.streaming \
        .state.StateStore.stop()
    for f in files[4:]:
        shutil.copy2(os.path.join(pages_dir, f), src)
    table = drain_leg(flush=True)

    got = table.read(spark)
    assert (got.groupBy("lang", "host", "window_start").count()
            .filter("count > 1").count()) == 0
    exp = state.batch_glcm_agg_sliding(
        stream.read_pages_batch(spark, pages_dir))
    cols = ["lang", "host", "window_start"]
    e = exp.toPandas().sort_values(cols).reset_index(drop=True)
    g = got.drop("epoch").toPandas().sort_values(cols) \
        .reset_index(drop=True)[e.columns]
    pd.testing.assert_frame_equal(g, e)
    # leg 1 really emitted windows before the 'crash' (not all from
    # leg 2's tail) and leg 2 added more
    assert 0 < emitted_leg1 < len(g)

    # SECOND drain cycle (flush is non-terminal): a later backlog with
    # newer timestamps must still emit its windows after a flush —
    # periodic availableNow deployments drain+flush repeatedly
    from glcmstream import kernel
    t9 = pd.Timestamp("2026-01-01 03:00:00")
    tbl9 = pa.table({
        "url": pa.array(["https://h9.example.com/x"], pa.string()),
        "warc_ts": pa.array([t9], pa.timestamp("us")),
        "html": pa.array([kernel.make_html("d9", "late cycle body")],
                         pa.binary()),
        "text": pa.array(["x"], pa.string()),
        "lang": pa.array(["en"], pa.string())})
    p9 = os.path.join(src, "part-0009.parquet")
    pq.write_table(tbl9, p9)
    import time as _time
    t = float(int(_time.time())) + 60
    os.utime(p9, (t, t))
    spark._jvm.org.apache.spark.sql.execution.streaming \
        .state.StateStore.stop()
    table = drain_leg(flush=True)
    got2 = table.read(spark)
    assert (got2.groupBy("lang", "host", "window_start").count()
            .filter("count > 1").count()) == 0
    new_rows = got2.filter(F.col("host") == "h9.example.com").count()
    assert new_rows == 2  # the new doc's two sliding windows emitted
    assert got2.count() == len(g) + 2  # old windows untouched


def test_bucketed_panes_match_per_pane(spark, pages_dir):
    """Bucket-count invariance of the pane state: 16 buckets must emit
    pane count vectors whose latest-per-pane resolution is
    byte-identical to the default 128 buckets' (the bucket count is an
    execution strategy, not a semantic)."""
    def run(fn, tag):
        sdf = stream.pages_stream(spark, pages_dir,
                                  max_files_per_trigger=2)
        name = stream.drain(fn(sdf), "update", _scratch(f"ckpt_{tag}")).name
        return (_latest_per_key(spark.table(name),
                                ["lang", "host", "pane_start"])
                .drop("n_batches").toPandas()
                .sort_values(["lang", "host", "pane_start"])
                .reset_index(drop=True))

    g = run(lambda s: state.stateful_glcm_pane_agg_bucketed(s, buckets=16),
            "panes_bkt")
    e = run(state.stateful_glcm_pane_agg, "panes_pk")
    pd.testing.assert_frame_equal(g, e)
    assert len(g) and g["n_docs"].sum() == 440


def test_stateful_glcm_session_matches_batch(spark, pages_dir):
    """Session-window stateful accumulation (round-3 verdict #1):
    update-mode fragment emissions + maximal-interval selection must
    equal the independent gaps-and-islands pandas oracle EXACTLY —
    including still-open sessions at end of stream (the drain case a
    close-only emission would lose)."""
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    sess = state.stateful_glcm_session_agg(sdf)
    name = stream.drain(sess, "update", _scratch("ckpt_sess_glcm")).name
    got_df = state.final_sessions(spark.table(name))
    exp_df = state.batch_glcm_agg_session(
        stream.read_pages_batch(spark, pages_dir))
    cols = ["lang", "host", "session_start"]
    g = got_df.toPandas().sort_values(cols).reset_index(drop=True)
    e = exp_df.toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 440 and len(g) > len(
        g.groupby(["lang", "host"]))  # some keys hold >1 session


def test_bucketed_sessions_match_per_key(spark, pages_dir):
    """Bucket-count invariance of the session state: the final_sessions
    resolution at 16 buckets must be row-for-row identical to the
    default 128 buckets' (the bucket count is an execution strategy,
    not a semantic)."""
    def run(fn, tag):
        sdf = stream.pages_stream(spark, pages_dir,
                                  max_files_per_trigger=2)
        name = stream.drain(fn(sdf), "update", _scratch(f"ckpt_{tag}")).name
        return (state.final_sessions(spark.table(name)).toPandas()
                .sort_values(["lang", "host", "session_start"])
                .reset_index(drop=True))

    g = run(lambda s: state.stateful_glcm_session_agg_bucketed(
        s, buckets=16), "sess_bkt")
    e = run(state.stateful_glcm_session_agg, "sess_pk")
    pd.testing.assert_frame_equal(g, e)
    assert len(g) and g["n_docs"].sum() == 440


def test_bucket_blob_roundtrips_null_keys():
    """round-4 advice #2: F.parse_url returns NULL for malformed URLs,
    so None must survive the packed-blob state format (length-sentinel
    encoding): a None lang, host or both decodes to the key that was
    packed, next to an ordinary key, with its meta words and counts."""
    import numpy as np
    keys = [("en", None), (None, "h.example.com"), (None, None),
            ("de", "x.example.com")]
    meta = np.arange(12, dtype=np.int64).reshape(4, 3)
    mats = np.arange(4 * state.L2, dtype=np.int64).reshape(4, state.L2)
    k2, m2, g2 = state._unpack_bucket(state._pack_bucket(keys, mats, meta))
    assert k2 == keys
    assert (m2 == meta).all() and (g2 == mats).all()


def test_bucket_blob_roundtrips_oversize_keys():
    """round-5 advice #1: a host of exactly 0xFFFF bytes used to encode
    the same 2-byte prefix as the NULL sentinel (silently corrupting
    every later offset in the bucket), and >= 0x10000 bytes made
    int.to_bytes(2) raise in the executor. The extended-length escape
    (0xFFFE marker + u4 true length) must round-trip every length —
    including the two sentinel-adjacent boundaries — and keep None and
    ordinary keys intact alongside."""
    import numpy as np
    long_hosts = ["h" * 0xFFFD, "h" * 0xFFFE, "h" * 0xFFFF,
                  "h" * 0x10000, "h" * 0x18000]
    keys = ([("en", h) for h in long_hosts]
            + [(None, "h" * 0xFFFF), ("x" * 0xFFFF, None),
               ("en", "h.example.com"), (None, None)])
    n = len(keys)
    meta = np.arange(3 * n, dtype=np.int64).reshape(n, 3)
    mats = np.arange(n * state.L2, dtype=np.int64).reshape(n, state.L2)
    k2, m2, g2 = state._unpack_bucket(state._pack_bucket(keys, mats, meta))
    assert k2 == keys
    assert (m2 == meta).all() and (g2 == mats).all()


def test_bucketed_null_host_matches_per_key(spark):
    """A malformed URL (NULL host) through the tumbling state must
    neither crash nor diverge between 4 buckets and the default 128
    (round-4 advice #2: lang.encode()/host.encode() raised
    AttributeError on None inside every bucketed state fn). Two failure
    modes are pinned:
    plain F.parse_url THROWS under Spark 4 ANSI (the engine must use
    try_parse_url so one bad URL can't kill a 100 TB stream), and the
    resulting NULL host must survive the packed-blob state format. The
    pane and session builders run the same state function
    (_bucket_merge_fn, whose NULL-safe grouping tests/test_state_props.py
    drives with None keys) over the same _pack_bucket, so the blob
    roundtrip test above covers their encoding too."""
    from glcmstream import kernel
    src = _scratch("nullhost_src")
    t0 = pd.Timestamp("2026-01-01 10:00:00")
    urls = ["https://h1.example.com/a", "not a url at all",
            "https://h1.example.com/b", "::also/not?a#url"]
    tbl = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array([t0 + pd.Timedelta(minutes=i)
                             for i in range(4)], pa.timestamp("us")),
        "html": pa.array([kernel.make_html(f"d{i}", f"body text {i}")
                          for i in range(4)], pa.binary()),
        "text": pa.array(["x"] * 4, pa.string()),
        "lang": pa.array(["en"] * 4, pa.string())})
    pq.write_table(tbl, os.path.join(src, "f1.parquet"))

    def run(fn, tag):
        sdf = stream.pages_stream(spark, src)
        name = stream.drain(fn(sdf), "update", _scratch(f"ckpt_{tag}")).name
        return (_latest_per_key(spark.table(name),
                                ["lang", "host", "window_start"])
                .drop("_rn", "n_batches").toPandas()
                .sort_values(["lang", "host", "window_start"],
                             na_position="first")
                .reset_index(drop=True))

    g = run(lambda s: state.stateful_glcm_agg_bucketed(s, buckets=4),
            "nullhost_bkt")
    e = run(state.stateful_glcm_agg, "nullhost_pk")
    pd.testing.assert_frame_equal(g, e)
    assert g["host"].isna().sum() > 0 and g["n_docs"].sum() == 4


def test_session_fragments_merge_out_of_order(spark):
    """An event arriving LATE (but inside the watermark) between two
    already-open fragments must bridge them into ONE session — fragment
    merging is confluent, so the final session set is arrival-order
    independent."""
    src = _scratch("sess_ooo_src")
    t0 = pd.Timestamp("2026-01-01 10:00:00")

    def _w(name, rows):
        tbl = pa.table({
            "url": pa.array([f"https://h1.example.com/doc/{i}"
                             for i, _ in enumerate(rows)], pa.string()),
            "warc_ts": pa.array([t0 + pd.Timedelta(minutes=m)
                                 for m, _ in rows], pa.timestamp("us")),
            "html": pa.array([h for _, h in rows], pa.binary()),
            "text": pa.array(["x"] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string())})
        path = os.path.join(src, name)
        pq.write_table(tbl, path)
        n = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        import time as _time
        t = float(int(_time.time())) + n
        os.utime(path, (t, t))

    from glcmstream import kernel
    h = [kernel.make_html(f"d{i}", f"body {i}") for i in range(3)]
    # batch 1: two fragments 8 minutes apart (gap is 5 min -> separate)
    _w("f1.parquet", [(0, h[0]), (8, h[1])])
    # batch 2: bridging event at +4 arrives late -> ONE merged session
    _w("f2.parquet", [(4, h[2])])
    sdf = (spark.readStream
           .schema(spark.read.parquet(src).schema)
           .option("maxFilesPerTrigger", "1").parquet(src)
           .withColumn("warc_ts", F.col("warc_ts").cast("timestamp")))
    sess = state.stateful_glcm_session_agg(sdf)
    name = stream.drain(sess, "update", _scratch("ckpt_sess_ooo")).name
    got = state.final_sessions(spark.table(name)).toPandas()
    assert len(got) == 1 and got["n_docs"].iloc[0] == 3
    assert got["session_start"].iloc[0] == t0
    assert got["session_end"].iloc[0] == t0 + pd.Timedelta(minutes=13)


def test_exactly_once_sink_replay_noop(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    table = IcebergLiteTable(_scratch("tbl_xonce"))
    assert table.commit(df, 7) is True
    assert table.commit(df, 7) is False          # replay -> no-op
    assert table.read(spark).count() == 100       # no duplicates
    m = table.manifests()[0]
    assert m["epoch_id"] == 7 and m["row_count"] == 100
    assert sum(p["row_count"] for p in m["partitions"]) == 100


def test_run_to_sink_commits_each_epoch_once(spark, pages_dir):
    """run_to_sink feeds a sink through `commit(batch_df, epoch_id)`, the
    engine interface of sink.py: a sink with no other method gets every
    epoch the drain commits exactly once, in order, with all its rows."""
    class CommitOnly:
        def __init__(self):
            self.calls = []

        def commit(self, batch_df, epoch_id):
            self.calls.append((int(epoch_id), batch_df.count()))

    sink = CommitOnly()
    ckpt = _scratch("ckpt_commit_only")
    q = stream.run_to_sink(
        stream.pages_stream(spark, pages_dir, 4).select("url"), sink, ckpt,
        "append")
    assert not q.isActive and q.exception() is None
    epochs = sorted(int(n) for n in os.listdir(os.path.join(ckpt, "commits"))
                    if n.isdigit())
    assert [e for e, _ in sink.calls] == epochs == [0, 1]
    assert [p["batchId"] for p in q.recentProgress] == epochs
    assert sum(n for _, n in sink.calls) == 440


def test_sink_partial_crash_recovery(spark):
    """Data written but no manifest (crash before commit point) -> retry
    overwrites cleanly; readers never see the torn epoch."""
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    table = IcebergLiteTable(_scratch("tbl_crash"))
    # simulate a torn write: data dir exists with garbage, no manifest
    epoch_dir = os.path.join(table.data_dir, "epoch=3")
    os.makedirs(epoch_dir)
    with open(os.path.join(epoch_dir, "garbage.parquet"), "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        table.read(spark)  # nothing committed yet
    assert table.commit(df, 3) is True
    assert table.read(spark).count() == 50


# ---------------------------------------------------------------------------
# checkpoint resume: interrupted run == uninterrupted run
# ---------------------------------------------------------------------------

def _counts_agg(sdf):
    return (sdf.withWatermark("warc_ts", "30 minutes")
            .withColumn("host", F.parse_url("url", F.lit("HOST")))
            .groupBy(F.window("warc_ts", "10 minutes").alias("window"),
                     "host")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def test_checkpoint_resume(spark, pages_dir):
    """Interrupted+resumed run must equal the uninterrupted run.

    Copies preserve the fixture's strictly-increasing file mtimes
    (shutil.copy2): Spark's file source orders new files by modification
    time with NO tiebreak, so back-to-back plain copies tie at ms
    granularity and can replay a LATE file before an EARLY one — the
    watermark then correctly drops the early file's rows as late
    (round-2 full-suite flake: resumed totals exactly one file short,
    e.g. 54 vs 72 per (window, host); root-caused via the source
    metadata log showing replay order 0005,0007,0006,0004 on tied
    mtimes). With replay order pinned, any mismatch here is a genuine
    resume loss. The state-store provider cache is dropped between legs
    so leg 2 restores from checkpoint files like a real JVM restart."""
    files = sorted(os.listdir(pages_dir))
    assert len(files) == 8
    mtimes = [os.stat(os.path.join(pages_dir, f)).st_mtime for f in files]
    assert len(set(mtimes)) == 8 and mtimes == sorted(mtimes)

    # interrupted: 4 files, run to completion, then 4 more, resume
    src = _scratch("resume_src")
    ckpt = _scratch("resume_ckpt")
    table = IcebergLiteTable(_scratch("resume_tbl"))
    for fn in files[:4]:
        shutil.copy2(os.path.join(pages_dir, fn), src)
    sdf = stream.pages_stream(spark, src)
    stream.run_to_sink(_counts_agg(sdf), table, ckpt)
    epochs_first = table.committed_epochs()
    # simulate a genuine restart: unload every cached state-store
    # provider so the resumed leg restores from the checkpoint alone
    spark._jvm.org.apache.spark.sql.execution.streaming \
        .state.StateStore.stop()
    for fn in files[4:]:
        shutil.copy2(os.path.join(pages_dir, fn), src)
    sdf = stream.pages_stream(spark, src)
    stream.run_to_sink(_counts_agg(sdf), table, ckpt)
    assert len(table.committed_epochs()) > len(epochs_first)

    # uninterrupted reference
    table2 = IcebergLiteTable(_scratch("resume_tbl2"))
    sdf2 = stream.pages_stream(spark, pages_dir)
    stream.run_to_sink(_counts_agg(sdf2), table2, _scratch("resume_ckpt2"))

    def final(t):
        df = t.read(spark).withColumn("ws", F.col("window.start"))
        return (_latest_per_key(df, ["ws", "host"])
                .select("ws", "host", "n_docs").toPandas()
                .sort_values(["ws", "host"]).reset_index(drop=True))

    pd.testing.assert_frame_equal(final(table), final(table2))


def test_checkpoint_resume_bucketed_and_session_state(spark, pages_dir):
    """The round-4 state formats survive a genuine restart: the
    bucketed path's packed multi-key blob and the session path's packed
    fragment records must restore from checkpoint files (provider cache
    dropped between legs) and continue accumulating — the resumed run's
    final rows must equal the uninterrupted run's EXACTLY. A blob
    pack/unpack asymmetry or a key-index rebuild bug would corrupt
    counts here and nowhere else."""
    files = sorted(os.listdir(pages_dir))

    def _drain(sdf, ckpt, rows):
        # memory sink can't recover from a checkpoint; collect
        # update-mode emissions via foreachBatch like the windowed
        # resume test's IcebergLite sink
        stream.drain(sdf, "update", ckpt, lambda df, eid:
                     rows.extend(df.toPandas().to_dict("records")))

    def run_two_leg(fn, tag, finalize):
        src = _scratch(f"res_{tag}_src")
        ckpt = _scratch(f"res_{tag}_ckpt")
        rows: list = []
        for leg, fns in enumerate((files[:4], files[4:])):
            for f in fns:
                shutil.copy2(os.path.join(pages_dir, f), src)
            _drain(fn(stream.pages_stream(spark, src)), ckpt, rows)
            if leg == 0:
                spark._jvm.org.apache.spark.sql.execution.streaming \
                    .state.StateStore.stop()
        return finalize(spark.createDataFrame(pd.DataFrame(rows)))

    def run_straight(fn, tag, finalize):
        rows: list = []
        _drain(fn(stream.pages_stream(spark, pages_dir)),
               _scratch(f"str_{tag}_ckpt"), rows)
        return finalize(spark.createDataFrame(pd.DataFrame(rows)))

    def fin_bucketed(t):
        return (_latest_per_key(t, ["lang", "host", "window_start"])
                .drop("n_batches")
                .toPandas().sort_values(["lang", "host", "window_start"])
                .reset_index(drop=True))

    def fin_session(t):
        return (state.final_sessions(t).toPandas()
                .sort_values(["lang", "host", "session_start"])
                .reset_index(drop=True))

    bk = lambda s: state.stateful_glcm_agg_bucketed(s, buckets=16)
    g = run_two_leg(bk, "bkt", fin_bucketed)
    e = run_straight(bk, "bkt", fin_bucketed)
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 440

    g = run_two_leg(state.stateful_glcm_session_agg, "sess", fin_session)
    e = run_straight(state.stateful_glcm_session_agg, "sess",
                     fin_session)
    pd.testing.assert_frame_equal(g, e)
    assert g["n_docs"].sum() == 440


def test_checkpoint_files_written_without_readlink(spark, pages_dir):
    """Checkpoint files are renamed into place through FileSystem: without
    the native Hadoop library, FileContext's rename forked `readlink` for
    the link status of both paths, 8 times per atomic checkpoint file.
    A stateful drain of two epochs, recorded by JFR (jdk.ProcessStart) in
    the driver JVM, starts no `readlink`, and still writes the offset and
    commit logs and the state changelogs with their Hadoop `.crc`
    sidecars and Spark's changelog checksum files."""
    src = _scratch("forks_src")
    ckpt = _scratch("forks_ckpt")
    for f in sorted(os.listdir(pages_dir))[:4]:
        shutil.copy2(os.path.join(pages_dir, f), src)
    jvm = spark._jvm.java.lang
    jdk_bin = os.path.join(jvm.System.getProperty("java.home"), "bin")
    pid = str(jvm.ProcessHandle.current().pid())
    rec = os.path.join(_scratch("forks_jfr"), "drain.jfr")

    def jcmd(*args):
        subprocess.run([os.path.join(jdk_bin, "jcmd"), pid, *args],
                       check=True, capture_output=True)

    jcmd("JFR.start", "name=ckpt_forks")
    try:
        stream.drain(state.stateful_glcm_agg_bucketed(
            stream.pages_stream(spark, src, max_files_per_trigger=2),
            buckets=16), "update", ckpt)
        jcmd("JFR.dump", "name=ckpt_forks", f"filename={rec}")
    finally:
        jcmd("JFR.stop", "name=ckpt_forks")
    out = subprocess.run([os.path.join(jdk_bin, "jfr"), "print", "--json",
                          "--events", "jdk.ProcessStart", rec],
                         check=True, capture_output=True, text=True).stdout
    commands = [e["values"]["command"]
                for e in json.loads(out)["recording"]["events"]]
    assert not [c for c in commands if c.startswith("readlink")]

    for log in ("offsets", "commits"):
        for epoch in ("0", "1"):
            d = os.path.join(ckpt, log)
            assert os.path.isfile(os.path.join(d, epoch))
            assert os.path.isfile(os.path.join(d, f".{epoch}.crc"))
    part = os.path.join(ckpt, "state", "0", "0")
    for name in ("1.changelog", "1.changelog.crc"):
        assert os.path.isfile(os.path.join(part, name))
        assert os.path.isfile(os.path.join(part, f".{name}.crc"))


def test_state_width_follows_cores(spark, pages_dir):
    """The session's shuffle width is one partition per core, so a fresh
    stateful query runs one state partition per core. A checkpoint
    started at another width keeps it: Spark pins a streaming query's
    state width in its offset log, so a width-32 checkpoint resumes at
    32 on the default session and still matches the batch oracle."""
    def drain(sdf, ckpt, rows):
        q = stream.drain(state.stateful_glcm_agg_bucketed(sdf, buckets=16),
                         "update", ckpt,
                         lambda df, eid: rows.append(df.toPandas()))
        return {p["stateOperators"][0]["numShufflePartitions"]
                for p in q.recentProgress if p["stateOperators"]}

    cores = spark.sparkContext.defaultParallelism
    assert drain(stream.pages_stream(spark, pages_dir),
                 _scratch("width_fresh_ckpt"), []) == {cores}

    files = sorted(os.listdir(pages_dir))
    src = _scratch("width_resume_src")
    ckpt = _scratch("width_resume_ckpt")
    rows: list = []
    wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "32")
    for f in files[:4]:
        shutil.copy2(os.path.join(pages_dir, f), src)
    assert drain(stream.pages_stream(wide, src), ckpt, rows) == {32}
    spark._jvm.org.apache.spark.sql.execution.streaming \
        .state.StateStore.stop()
    for f in files[4:]:
        shutil.copy2(os.path.join(pages_dir, f), src)
    assert drain(stream.pages_stream(spark, src), ckpt, rows) == {32}

    cols = ["lang", "host", "window_start"]
    got = (pd.concat(rows, ignore_index=True).sort_values("n_docs")
           .groupby(cols, dropna=False).tail(1).drop(columns="n_batches"))
    exp = state.batch_glcm_agg(stream.read_pages_batch(spark, pages_dir)) \
        .drop("n_batches").toPandas()
    got = got[exp.columns].sort_values(cols).reset_index(drop=True)
    exp = exp.sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    assert got["n_docs"].sum() == 440


def test_drain_width_capped_at_session_width(spark, tmp_path, monkeypatch):
    """queries._drain_width never widens a drain past the session width:
    floor 8, then capped at the session default. It sets the width on
    the session it is given (a query's child session) and returns it."""
    from glcmstream import queries
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    key = "spark.sql.shuffle.partitions"
    s = spark.newSession()
    s.conf.set(key, "4")
    width = queries._drain_width(s, str(small))
    assert width <= 4
    assert s.conf.get(key) == str(width)
    # a backlog far above the per-partition target is still capped
    monkeypatch.setattr(queries, "_DRAIN_TARGET_BYTES", 1)
    s.conf.set(key, "4")
    assert queries._drain_width(s, str(small)) == 4
    # on a wide session a small drain narrows to the floor of 8
    monkeypatch.undo()
    s.conf.set(key, "32")
    assert queries._drain_width(s, str(small)) == 8
    assert s.conf.get(key) == "8"


# ---------------------------------------------------------------------------
# late data beyond watermark is dropped (append mode)
# ---------------------------------------------------------------------------

def _write_events(path, rows):
    schema = pa.schema([pa.field("url", pa.string()),
                        pa.field("warc_ts", pa.timestamp("us")),
                        pa.field("html", pa.binary()),
                        pa.field("text", pa.string()),
                        pa.field("lang", pa.string())])
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                      "lang"])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), path)


def test_late_data_dropped(spark):
    src = _scratch("late_src")
    ckpt = _scratch("late_ckpt")
    ts = pd.Timestamp("2026-01-01 10:00:00")

    def row(minute, tag):
        return (f"https://h.example.com/{tag}",
                ts + pd.Timedelta(minutes=minute) - pd.Timedelta(minutes=0)
                if minute >= 0 else ts + pd.Timedelta(minutes=minute),
                b"<html><head><title>t</title></head><body><p>x</p>"
                b"</body></html>", "x", "en")

    def run():
        schema = spark.read.parquet(src).schema
        sdf = (spark.readStream.schema(schema).parquet(src)
               .withColumn("warc_ts", F.col("warc_ts").cast("timestamp")))
        agg = (sdf.withWatermark("warc_ts", "10 minutes")
               .groupBy(F.window("warc_ts", "10 minutes").alias("window"))
               .agg(F.count(F.lit(1)).alias("n")))
        table = IcebergLiteTable(os.path.join(SCRATCH, "late_tbl"))
        stream.run_to_sink(agg, table, ckpt, "append")
        return table

    shutil.rmtree(os.path.join(SCRATCH, "late_tbl"), ignore_errors=True)
    # epoch 1: three on-time rows 10:00-10:09 -> watermark 9:59
    _write_events(os.path.join(src, "f1.parquet"),
                  [row(0, "a"), row(5, "b"), row(9, "c")])
    run()
    # epoch 2: one row at 9:30 (window end 9:40 < watermark -> DROPPED),
    # one at 10:25 (advances watermark to 10:15, finalizing [10:00,10:10))
    _write_events(os.path.join(src, "f2.parquet"),
                  [row(-30, "late"), row(25, "d")])
    table = run()

    got = (table.read(spark)
           .select(F.col("window.start").alias("ws"), "n").toPandas()
           .sort_values("ws").reset_index(drop=True))
    # only [10:00,10:10) finalized, with 3 rows; the 9:30 late row gone
    assert list(got["n"]) == [3]
    assert got["ws"][0] == ts
    # and nothing anywhere counts the dropped late row
    assert got["n"].sum() == 3


def test_out_of_order_fixture_late_drops(spark):
    """Replay an ARRIVAL-ORDER pages fixture (late rows genuinely cross
    micro-batch boundaries — round-1 advice: the sorted main fixture never
    did) and pin the watermark's drop behavior against a python
    simulation of Spark's semantics. Empirically (Spark 4.1, verified
    against per-batch StreamingQueryProgress): the late filter for batch
    k uses the watermark REPORTED for batch k-1, i.e. max event time over
    batches <= k-2 minus the delay — one batch more lag than the progress
    field suggests — and a row is dropped iff its window end <= that
    filter watermark."""
    import pyarrow.parquet as pq

    d = os.path.join(SCRATCH, "pages_arrival_600")
    if not os.path.exists(os.path.join(d, "part-0007.parquet")):
        shutil.rmtree(d, ignore_errors=True)
        fixtures.write_pages_parquet(d, n_docs=600, n_files=8,
                                     arrival_order=True)
    delay = pd.Timedelta("10 minutes")
    win = pd.Timedelta("10 minutes")

    # simulate: files replay in name order, one per micro-batch
    files = sorted(os.listdir(d))
    seen_max = pd.Timestamp.min
    r_prev = pd.Timestamp.min      # watermark reported for previous batch
    expected: dict[pd.Timestamp, int] = {}
    n_dropped = 0
    for fn in files:
        r_cur = (seen_max - delay if seen_max > pd.Timestamp.min
                 else pd.Timestamp.min)   # reported wm of THIS batch
        filter_wm = r_prev                # filter uses previous report
        ts = pq.read_table(os.path.join(d, fn),
                           columns=["warc_ts"])["warc_ts"].to_pandas()
        for t in ts:
            wstart = t.floor("10min")
            if wstart + win <= filter_wm:
                n_dropped += 1
                continue
            expected[wstart] = expected.get(wstart, 0) + 1
        seen_max = max(seen_max, ts.max())
        r_prev = r_cur
    assert n_dropped > 0, "fixture must actually exercise drops"

    ckpt = _scratch("ckpt_arrival")
    schema = spark.read.parquet(d).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(d)
           .withColumn("warc_ts", F.col("warc_ts").cast("timestamp")))
    agg = (sdf.withWatermark("warc_ts", "10 minutes")
           .groupBy(F.window("warc_ts", "10 minutes").alias("window"))
           .agg(F.count(F.lit(1)).alias("n")))
    got: dict = {}

    def fb(df, eid):  # update mode: latest emission per window wins
        for r in df.select(F.col("window.start").alias("ws"),
                           "n").collect():
            got[r["ws"]] = r["n"]

    # update mode — complete mode never evicts state nor drops late rows
    stream.drain(agg, "update", ckpt, fb)
    assert got == {k.to_pydatetime(): v for k, v in expected.items()}


_CEP_T0 = pd.Timestamp("2026-01-01 10:00:00")


def _cep_ev(uid, minute, typ):
    return (uid, _CEP_T0 + pd.Timedelta(minutes=minute), typ)


def _cep_write(src, name, rows):
    tbl = pa.table({
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "event_type": pa.array([r[2] for r in rows], pa.string())})
    path = os.path.join(src, name)
    pq.write_table(tbl, path)
    # distinct whole-second mtimes pin the file replay order (the file
    # source breaks mtime ties nondeterministically — see
    # test_checkpoint_resume docstring)
    n = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    import time as _time
    t = float(int(_time.time())) + n
    os.utime(path, (t, t))


def _cep_run(spark, src, ckpt, watermark="30 minutes"):
    from glcmstream import cep
    schema = spark.read.parquet(src).schema
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src)
           .withColumn("ts", F.col("ts").cast("timestamp")))
    got = []

    def fb(df, eid):
        got.extend((r.user_id, r.click_us, r.purchase_us)
                   for r in df.collect())

    q = stream.drain(cep.cep_click_purchase(sdf, watermark=watermark),
                     "update", ckpt, fb)
    state_rows = [(p["stateOperators"][0]["numRowsTotal"],
                   p["stateOperators"][0]["numRowsRemoved"])
                  for p in (q.recentProgress or [])
                  if p.get("stateOperators")]
    return sorted(got), (state_rows[-1] if state_rows else (None, None))


def _cep_us(m):
    return int((_CEP_T0 + pd.Timedelta(minutes=m)).value // 1000)


def test_cep_pattern_across_micro_batches(spark):
    """CEP click->purchase(30min, no error) with state carried ACROSS
    micro-batches: click in epoch 1, purchase in epoch 2 must match;
    error between kills the pattern; stale click (>30min) must not.
    Matches are emitted once the watermark passes the purchase (buffered
    event-time semantics)."""
    src = _scratch("cep_src")
    ckpt = _scratch("cep_ckpt")
    # epoch 1: u1 clicks; u2 clicks then errors; u3 clicks (stale later)
    _cep_write(src, "f1.parquet",
               [_cep_ev(1, 0, "click"), _cep_ev(2, 0, "click"),
                _cep_ev(2, 5, "error"), _cep_ev(3, 0, "click")])
    # epoch 2: u1 purchase at +10 (MATCH); u2 purchase at +10 (blocked by
    # error); u3 purchase at +45 (stale click, no match); u4 purchase
    # with no click ever
    _cep_write(src, "f2.parquet",
               [_cep_ev(1, 10, "purchase"), _cep_ev(2, 10, "purchase"),
                _cep_ev(3, 45, "purchase"), _cep_ev(4, 12, "purchase")])
    got, _ = _cep_run(spark, src, ckpt)
    assert got == [(1, _cep_us(0), _cep_us(10))]


def test_cep_out_of_order_click_after_purchase(spark):
    """The purchase ARRIVES one micro-batch before its click (legal under
    the 30-minute watermark delay): the buffered matcher must reorder in
    event time and still match — round-2 verdict #3 (the in-arrival-order
    matcher missed exactly this)."""
    src = _scratch("cep_ooo_src")
    ckpt = _scratch("cep_ooo_ckpt")
    # epoch 1: u1's purchase at +10 arrives FIRST
    _cep_write(src, "f1.parquet", [_cep_ev(1, 10, "purchase")])
    # epoch 2: u1's click at +0 arrives late (but within the watermark);
    # u9's far-future click advances the watermark past u1's deadline
    _cep_write(src, "f2.parquet",
               [_cep_ev(1, 0, "click"), _cep_ev(9, 90, "click")])
    got, _ = _cep_run(spark, src, ckpt)
    assert got == [(1, _cep_us(0), _cep_us(10))]


def test_cep_state_evicted_after_watermark(spark):
    """Per-user CEP state is dropped once the watermark passes its flush
    deadline and the click window (round-2 verdict #2: no unbounded state
    growth). After u9's far-future error advances the watermark, u1's
    state must have been flushed (match emitted) AND removed — only u9's
    own not-yet-passable event remains."""
    src = _scratch("cep_evict_src")
    ckpt = _scratch("cep_evict_ckpt")
    _cep_write(src, "f1.parquet",
               [_cep_ev(1, 0, "click"), _cep_ev(1, 5, "purchase")])
    _cep_write(src, "f2.parquet", [_cep_ev(9, 120, "error")])
    got, (n_total, n_removed) = _cep_run(spark, src, ckpt)
    assert got == [(1, _cep_us(0), _cep_us(5))]
    assert n_total == 1      # only u9's still-buffered sentinel event
    assert n_removed == 1    # u1 evicted when its window expired


def test_glcm_state_evicted_after_watermark(spark):
    """GLCM window state leaves the store once the watermark passes the
    window end + state.RETAIN_US, on both window paths (tumbling and
    pane). File 1 holds two hosts at t0;
    file 2 holds one host at t0+3h, which moves the watermark to
    t0+2h30 and fires the t0 keys' event-time timeouts in the drain's
    final no-data batch. Only the t0+3h key may remain in state (read
    back from the checkpoint through the statestore source; a bucket
    blob may hold several fine keys, so blobs are unpacked), and the
    emissions still equal the batch oracles."""
    from glcmstream import kernel
    src = _scratch("glcm_evict_src")
    t0 = pd.Timestamp("2026-01-01 10:00:00")

    def write(name, rows):
        tbl = pa.table({
            "url": pa.array([f"https://{h}/doc/{i}"
                             for i, (h, _) in enumerate(rows)], pa.string()),
            "warc_ts": pa.array([t for _, t in rows], pa.timestamp("us")),
            "html": pa.array([kernel.make_html(f"d{i}", f"body {h} {i}")
                              for i, (h, _) in enumerate(rows)],
                             pa.binary()),
            "text": pa.array(["x"] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string())})
        path = os.path.join(src, name)
        pq.write_table(tbl, path)
        # distinct whole-second mtimes pin the file replay order
        n = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        import time as _time
        t = float(int(_time.time())) + n
        os.utime(path, (t, t))

    write("f1.parquet", [("a.example.com", t0),
                         ("b.example.com", t0 + pd.Timedelta(minutes=1)),
                         ("a.example.com", t0 + pd.Timedelta(minutes=2))])
    late = t0 + pd.Timedelta(hours=3)
    write("f2.parquet", [("c.example.com", late)])
    batch = stream.read_pages_batch(spark, src)

    def run(fn, tag):
        ckpt = _scratch(f"ckpt_{tag}")
        q = stream.drain(fn(stream.pages_stream(spark, src)), "update", ckpt)
        ops = [p["stateOperators"][0] for p in q.recentProgress
               if p.get("stateOperators")]
        left = spark.read.format("statestore").load(ckpt).collect()
        return spark.table(q.name), ops[-1], left

    def blob_keys(left):
        return sorted((k[0], k[1], int(m[0]))
                      for r in left
                      for k, m in zip(*state._unpack_bucket(
                          r.value.groupState.blob)[:2]))

    cols = ["lang", "host", "window_start"]
    exp = (state.batch_glcm_agg(batch).drop("n_batches").toPandas()
           .sort_values(cols).reset_index(drop=True))
    late_key = ("en", "c.example.com")

    emis, op, left = run(
        lambda s: state.stateful_glcm_agg_bucketed(s, buckets=4),
        "evict_bkt")
    assert blob_keys(left) == [late_key + (late.value // 1000,)]
    assert op["numRowsTotal"] == 1
    got = (_latest_per_key(emis, cols).drop("n_batches").toPandas()
           .sort_values(cols).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)

    emis, op, left = run(
        lambda s: state.stateful_glcm_pane_agg_bucketed(s, buckets=4),
        "evict_pane_bkt")
    assert blob_keys(left) == [late_key + (late.value // 1000,)]
    assert op["numRowsTotal"] == 1
    got = (state.sliding_windows_from_emissions(emis).toPandas()
           .sort_values(cols).reset_index(drop=True))
    exp_sl = (state.batch_glcm_agg_sliding(batch).toPandas()
              .sort_values(cols).reset_index(drop=True))
    pd.testing.assert_frame_equal(got[exp_sl.columns], exp_sl)


def test_cep_watermark_boundary_ties_match_in_event_time_order(spark):
    """Events straddling a micro-batch boundary AT the watermark (spaced
    <1 ms apart, including the exact-tie) must match in strict event-time
    order (round-3 verdict #7 / advice #2).

    u1's purchase lands at EXACTLY the watermark of batch 2 (wm is driven
    by u8's event one watermark-delay later). The old `<=`-watermark data
    finalize consumed that purchase in batch 2; u1's click at the same
    timestamp then arrived in batch 3 (admissible: Spark's late filter
    drops only ts < wm) and could never match. Strict-`<` finalization
    keeps the purchase buffered until the watermark passes it, so the
    late-batch click is matched ahead of it under the engine's
    click < purchase same-µs ordering. u2 pins sub-ms spacing within one
    batch (click 400 µs before the purchase)."""
    src = _scratch("cep_tie_src")
    ckpt = _scratch("cep_tie_ckpt")
    t3ms = pd.Timedelta(microseconds=3000)     # whole-ms: survives wm
    # batch 1: u1 purchase at T+3000µs; u8 drives the watermark to
    # exactly T+3000µs once batch 1 is processed (delay = 1 s);
    # u2's sub-ms-spaced pair arrives in order within the batch
    _cep_write(src, "f1.parquet", [
        (1, _CEP_T0 + t3ms, "purchase"),
        (2, _CEP_T0 + pd.Timedelta(microseconds=2600), "click"),
        (2, _CEP_T0 + t3ms, "purchase"),
        (8, _CEP_T0 + t3ms + pd.Timedelta(seconds=1), "click"),
    ])
    # batch 2 (wm == T+3000µs): u1's click arrives AT the watermark —
    # admissible, same timestamp as the already-buffered purchase
    _cep_write(src, "f2.parquet", [(1, _CEP_T0 + t3ms, "click")])
    # batch 3: far-future event advances the watermark past everything
    _cep_write(src, "f3.parquet",
               [(9, _CEP_T0 + pd.Timedelta(minutes=90), "click")])
    got, _ = _cep_run(spark, src, ckpt, watermark="1 seconds")
    us3 = int((_CEP_T0 + t3ms).value // 1000)
    assert (1, us3, us3) in got          # exact-tie across the boundary
    assert (2, us3 - 400, us3) in got    # sub-ms-spaced in-batch pair


# ---------------------------------------------------------------------------
# stream-stream re-crawl join + streaming dedup
# ---------------------------------------------------------------------------

def test_recrawl_stream_join_matches_batch(spark, pages_dir):
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    j = stream.recrawl_stream_join(sdf)
    name = stream.drain(j, "append", _scratch("ckpt_recrawl")).name
    got = spark.table(name).toPandas().sort_values(
        ["url", "t1", "t2"]).reset_index(drop=True)

    batch = stream.read_pages_batch(spark, pages_dir)
    exp = stream.recrawl_stream_join(batch).toPandas().sort_values(
        ["url", "t1", "t2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    assert len(got) == 40  # 10% of 400 recrawled once each


def test_dedup_within_watermark(spark, pages_dir):
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=2)
    d = stream.dedup_stream(sdf, watermark="2 hours")
    name = stream.drain(d.select("url"), "append", _scratch("ckpt_dedup")).name
    got = spark.table(name).count()
    exp = spark.read.parquet(pages_dir).select("url").distinct().count()
    assert got == exp == 400


def test_salted_streaming_agg_exact(spark, pages_dir):
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=4)
    salted = stream.salted_windowed_doc_counts(sdf)
    name = stream.drain(salted, "complete", _scratch("ckpt_salted")).name
    got = (stream.finalize_salted(spark.table(name))
           .select(F.col("window.start").alias("ws"), "host", "n_docs")
           .toPandas().sort_values(["ws", "host"]).reset_index(drop=True))
    exp = (stream.read_pages_batch(spark, pages_dir)
           .withColumn("host", F.parse_url("url", F.lit("HOST")))
           .groupBy(F.window("warc_ts", "10 minutes").alias("w"), "host")
           .agg(F.count(F.lit(1)).alias("n_docs"))
           .select(F.col("w.start").alias("ws"), "host", "n_docs")
           .toPandas().sort_values(["ws", "host"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def _pane_dirs(tdir):
    """The emitter's pane dirs under a table dir: log segments
    `paneseg_<epoch>`, and `_paneseg_<epoch>` / `_panestore_v<n>` of the
    earlier layouts."""
    return sorted(n for n in os.listdir(tdir)
                  if n.startswith(("paneseg_", "_pane")))


def _dir_bytes(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), d)] = f.read()
    return out


def test_continuous_sliding_replayed_epoch_is_noop(spark):
    """Crash-protocol hardening of the continuous emitter, exercised by
    driving process() directly with synthetic pane batches:

    1. If the engine replays an epoch whose process() already completed
       (crash after _save_meta, before the engine's own checkpoint
       commit), the replay must be a FULL no-op — recomputing would
       derive a larger watermark from the already-advanced event
       proxy, no-op on the duplicate table epoch id, and advance the
       emit bound past windows never committed (silently skipping
       them forever).
    2. The on-disk meta must never name a deleted pane-log segment
       (pruned segments are deleted only after the meta save), and a
       pane dir the meta does not name is swept at construction.

    A replayed run must end byte-identical (including emission epochs)
    to an uninterrupted reference run over the same batches."""
    import json

    from pane_batches import pane_batches

    batches = pane_batches(spark)

    def run(tag, replay_epoch=None):
        tdir = _scratch(f"tbl_replay_{tag}")
        table = IcebergLiteTable(tdir)
        em = state.ContinuousSlidingEmitter(table, watermark="5 minutes")
        meta_path = em._meta_path
        for eid, b in enumerate(batches):
            em.process(b, eid)
            # invariant 2: every PERSISTED segment exists
            m = json.load(open(meta_path))
            assert m["segments"]
            for name in m["segments"]:
                assert os.path.isdir(os.path.join(tdir, name))
            if replay_epoch == eid:
                before_rows = table.read(spark).count()
                before_meta = open(meta_path).read()
                # fresh instance = restart from persisted meta
                em = state.ContinuousSlidingEmitter(
                    table, watermark="5 minutes")
                em.process(b, eid)  # engine replays the same epoch
                assert table.read(spark).count() == before_rows
                assert open(meta_path).read() == before_meta
        em.flush(spark)
        return table

    ref = run("ref").read(spark).toPandas()
    rep_table = run("rep", replay_epoch=2)
    got = rep_table.read(spark).toPandas()
    cols = ["lang", "host", "window_start"]
    ref = ref.sort_values(cols).reset_index(drop=True)
    got = got.sort_values(cols).reset_index(drop=True)[ref.columns]
    assert len(ref) > 0
    pd.testing.assert_frame_equal(got, ref)  # includes the epoch column

    # unnamed-dir sweep at construction (a crash before the meta save
    # leaves the epoch's segment behind, one after it the pruned ones;
    # the next restart removes them and keeps the named ones)
    tdir = rep_table.table_dir
    stale = [os.path.join(tdir, n) for n in ("paneseg_99", "_paneseg_98")]
    for d in stale:
        os.makedirs(d, exist_ok=True)
    em2 = state.ContinuousSlidingEmitter(rep_table, watermark="5 minutes")
    assert not any(os.path.exists(d) for d in stale)
    m = json.load(open(em2._meta_path))
    assert _pane_dirs(tdir) == sorted(m["segments"])


def test_continuous_sliding_appends_one_segment_per_epoch(spark):
    """The emitter's pane log is append-only: each process() call adds
    exactly one segment holding only that epoch's pane rows, leaves
    every existing segment's files byte-identical, and deletes a
    segment once the emit bound passes its max pane_start + L."""
    import json

    from pane_batches import EPOCHS, pane_batches

    tdir = _scratch("tbl_panelog")
    table = IcebergLiteTable(tdir)
    em = state.ContinuousSlidingEmitter(table, watermark="5 minutes")
    pruned, before_max = set(), {}
    for eid, b in enumerate(pane_batches(spark)):
        before = {n: _dir_bytes(os.path.join(tdir, n))
                  for n in _pane_dirs(tdir)}
        em.process(b, eid)
        m = json.load(open(em._meta_path))
        after = _pane_dirs(tdir)
        seg = f"paneseg_{eid}"
        assert after == sorted(m["segments"])
        assert set(after) - set(before) == {seg}
        # the new segment holds exactly this epoch's pane rows
        rows = pq.read_table(os.path.join(tdir, seg)).to_pandas()
        assert len(rows) == len(EPOCHS[eid])
        assert m["segments"][seg] == int(rows["pane_start"].max())
        for n in set(before) & set(after):
            assert _dir_bytes(os.path.join(tdir, n)) == before[n], n
        # pruned exactly when the bound has passed max pane_start + L
        bound = m["emit_bound_us"]
        for n in set(before) - set(after):
            pruned.add(n)
            assert before_max[n] + em.l_us <= bound
        for n in after:
            assert bound is None or m["segments"][n] + em.l_us > bound
        before_max = dict(m["segments"])
    assert pruned == {"paneseg_0", "paneseg_1"}
    em.flush(spark)
    assert _pane_dirs(tdir) == []
    assert len(table.read(spark).toPandas()) > 0


def test_continuous_sliding_resumes_hidden_segment_names(spark):
    """Segments are written as `paneseg_<epoch>`: Spark's file source
    treats a root path with a leading `_` as hidden. A meta that names
    segments of the earlier `_paneseg_<epoch>` naming still resumes
    from them, and the resumed run ends with exactly the rows of an
    uninterrupted one."""
    import json

    from pane_batches import pane_batches

    batches = pane_batches(spark)
    tdir = _scratch("tbl_oldnames")
    old = IcebergLiteTable(tdir)
    em = state.ContinuousSlidingEmitter(old, watermark="5 minutes")
    for eid in (0, 1):
        em.process(batches[eid], eid)
    assert _pane_dirs(tdir) == ["paneseg_0", "paneseg_1"]
    # rewrite the log under the earlier names, as that emitter left it
    m = json.load(open(em._meta_path))
    for n in list(m["segments"]):
        os.rename(os.path.join(tdir, n), os.path.join(tdir, "_" + n))
        m["segments"]["_" + n] = m["segments"].pop(n)
    with open(em._meta_path, "w") as f:
        json.dump(m, f)

    em = state.ContinuousSlidingEmitter(old, watermark="5 minutes")
    assert sorted(em.segments) == ["_paneseg_0", "_paneseg_1"]
    assert _pane_dirs(tdir) == ["_paneseg_0", "_paneseg_1"]
    for eid in (2, 3):
        em.process(batches[eid], eid)
    em.flush(spark)
    assert _pane_dirs(tdir) == []

    ref = IcebergLiteTable(_scratch("tbl_oldnames_ref"))
    em = state.ContinuousSlidingEmitter(ref, watermark="5 minutes")
    for eid, b in enumerate(batches):
        em.process(b, eid)
    em.flush(spark)
    cols = ["lang", "host", "window_start"]
    exp = ref.read(spark).toPandas().sort_values(cols) \
        .reset_index(drop=True)
    got = old.read(spark).toPandas().sort_values(cols) \
        .reset_index(drop=True)[exp.columns]
    assert len(exp) > 0
    pd.testing.assert_frame_equal(got, exp)  # includes the epoch column


def test_continuous_sliding_emit_reads_only_window_panes(spark,
                                                         monkeypatch):
    """Each _emit hands the assembly only the live panes a window with
    end in (lo, hi] can hold, lo - L < pane_start < hi, and still
    emits every window of the unfiltered drain-time assembly."""
    from pane_batches import pane_batches

    seen = []
    assemble = state.sliding_windows_from_emissions

    def spy(panes, length, slide):
        seen[-1].append(sorted(r.pane_start for r in panes.collect()))
        return assemble(panes, length, slide)

    monkeypatch.setattr(state, "sliding_windows_from_emissions", spy)
    batches = pane_batches(spark)
    table = IcebergLiteTable(_scratch("tbl_emit_panes"))
    em = state.ContinuousSlidingEmitter(table, watermark="5 minutes")
    emit = em._emit

    def bounded_emit(spark_, lo, hi, epoch_id):
        seen.append([lo, hi])
        emit(spark_, lo, hi, epoch_id)

    em._emit = bounded_emit
    for eid, b in enumerate(batches):
        em.process(b, eid)
    em.flush(spark)
    assert len(seen) == 4 and seen[-1][0] is not None
    for lo, hi, starts in seen:
        us = [int(pd.Timestamp(s).value // 1000) for s in starts]
        assert all(u < hi and (lo is None or u > lo - em.l_us)
                   for u in us), (lo, hi, starts)
    assert seen[0][2] == [] and seen[1][2] != []

    monkeypatch.undo()
    emissions = batches[0]
    for b in batches[1:]:
        emissions = emissions.unionByName(b)
    ref = state.sliding_windows_from_emissions(
        emissions, em.length, em.slide).toPandas()
    cols = list(ref.columns)
    got = table.read(spark).toPandas()[cols]
    pd.testing.assert_frame_equal(
        got.sort_values(cols[:3]).reset_index(drop=True),
        ref.sort_values(cols[:3]).reset_index(drop=True))


def test_continuous_sliding_emit_runs_one_job(spark):
    """Each _emit runs one Spark action, the table commit's write (its
    shuffle stage included): no count() or cache pass over the window
    selection runs outside the commit. An epoch that closes no window
    commits a manifest without files, and the table still holds exactly
    the windows of the drain-time assembly."""
    from pane_batches import pane_batches

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    batches = pane_batches(spark)
    table = IcebergLiteTable(_scratch("tbl_emit_jobs"))
    em = state.ContinuousSlidingEmitter(table, watermark="5 minutes")
    emit, commit, jobs = em._emit, table.commit, []

    def in_group(group, fn, *args):
        sc.setJobGroup(group, group)
        try:
            return fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def counted_emit(spark_, lo, hi, epoch_id):
        in_group(f"emit_{epoch_id}", emit, spark_, lo, hi, epoch_id)
        bus.waitUntilEmpty()
        jobs.append(tuple(len(sc.statusTracker().getJobIdsForGroup(
            f"{g}_{epoch_id}")) for g in ("emit", "commit")))

    def grouped_commit(df, epoch_id):
        return in_group(f"commit_{epoch_id}", commit, df, epoch_id)

    em._emit = counted_emit
    table.commit = grouped_commit
    for eid, b in enumerate(batches):
        em.process(b, eid)
    em.flush(spark)
    # (jobs outside the commit, jobs inside it) per _emit
    assert len(jobs) == 4 and all(
        out == 0 and inside >= 1 for out, inside in jobs), jobs
    assert any(m["row_count"] == 0 and m["files"] == []
               for m in table.manifests())

    emissions = batches[0]
    for b in batches[1:]:
        emissions = emissions.unionByName(b)
    ref = state.sliding_windows_from_emissions(
        emissions, em.length, em.slide).toPandas()
    cols = list(ref.columns)
    got = table.read(spark).toPandas()[cols]
    pd.testing.assert_frame_equal(
        got.sort_values(cols[:3]).reset_index(drop=True),
        ref.sort_values(cols[:3]).reset_index(drop=True))


def test_continuous_sliding_resumes_from_corpus(spark):
    """Format corpus: tests/corpus/sliding_emitter_v0 is a table dir an
    earlier emitter layout (a versioned latest-panes store,
    `_panestore_v<n>`) wrote from epochs 0-1 of the synthetic pane
    batches, with no flush (scripts/make_emitter_corpus.py). Resumed
    with epochs 2-3 and a flush, it must end with exactly the rows of
    an uninterrupted run, each window once."""
    corpus = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "corpus", "sliding_emitter_v0")
    from pane_batches import pane_batches

    batches = pane_batches(spark)
    wm = "0 seconds"  # the corpus' watermark: epoch 1 commits a window
    tdir = os.path.join(_scratch("tbl_corpus"), "table")
    shutil.copytree(corpus, tdir)
    resumed = IcebergLiteTable(tdir)
    em = state.ContinuousSlidingEmitter(resumed, watermark=wm)
    assert em.segments == {"_panestore_v1": em.event_lb_us}
    for eid in (2, 3):
        em.process(batches[eid], eid)
    em.flush(spark)
    assert _pane_dirs(tdir) == []

    ref = IcebergLiteTable(_scratch("tbl_corpus_ref"))
    em = state.ContinuousSlidingEmitter(ref, watermark=wm)
    for eid, b in enumerate(batches):
        em.process(b, eid)
    em.flush(spark)

    cols = ["lang", "host", "window_start"]
    got = resumed.read(spark).toPandas()
    exp = ref.read(spark).toPandas()
    assert not got.duplicated(cols).any()
    assert 1 in set(got["epoch"])  # the corpus' own commit survives
    got = got.sort_values(cols).reset_index(drop=True)[exp.columns]
    exp = exp.sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)  # includes the epoch column
