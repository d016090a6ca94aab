#!/usr/bin/env python
"""Bench harness: headline GLCM streaming throughput + batch operator suite.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

Env:
  SPARK_GRAFT_SF_DIR  input tables dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default 32)
  GLCM_BENCH_DOCS     override pages doc count (default scales with sf)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "src"))
os.environ["PYTHONPATH"] = (os.path.join(REPO, "src") + os.pathsep
                            + os.environ.get("PYTHONPATH", ""))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
N_DOCS = int(os.environ.get("GLCM_BENCH_DOCS", max(500, int(500_000 * SF))))
SCRATCH = os.path.join(REPO, ".scratch")


def ensure_pages(n_docs: int) -> str:
    """Deterministic bench pages fixture (seed pinned), built once."""
    from glcmstream import fixtures
    d = os.path.join(SCRATCH, f"bench_pages_{n_docs}_rg256")
    marker = os.path.join(d, "part-0063.parquet")
    if not os.path.exists(marker):
        import shutil
        shutil.rmtree(d, ignore_errors=True)
        fixtures.write_pages_parquet(d, n_docs=n_docs, n_files=64,
                                     row_group_rows=256)
    return d


# ---------------------------------------------------------------------------
# validity gates (round-4 verdict #1): the per-query bench used to run
# once, unguarded, on a host with documented 2x no-steal throughput
# swings — a +25% headline drift was indistinguishable from load. Port
# BENCH/scaling.py's discipline: a fixed-work calibration probe (the
# exact worker-side body of the fused stage, as an OS process pool — no
# Spark) brackets the HEADLINE leg, /proc/stat steal brackets it too,
# and the leg re-runs (bounded) until a clean window: steal <=
# STEAL_MAX and pre/post probe agreement within PROBE_DRIFT_MAX. The
# probe readings and every attempt land in the output JSON, so a drift
# in BENCH_r{N}.json is attributable to code or to host — never guessed.
# ---------------------------------------------------------------------------

STEAL_MAX = 2.0          # % of the leg window stolen by the hypervisor
PROBE_DRIFT_MAX = 1.35   # max pre/post probe ratio for a valid window
HEADLINE_ATTEMPTS = 3

_PROBE_SPLITS: list = []


def _probe_work(split):
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(REPO, "src"))
    from glcmstream import fused, kernel
    path, rg = split
    pf = pq.ParquetFile(path)
    n = 0
    for b in pf.iter_batches(batch_size=512, row_groups=[rg],
                             columns=["html"], use_threads=False):
        kernel.featurize_htmls(fused.binary_views(b.column("html")))
        n += len(b)
    return n


def calibration_probe(pages_dir: str, nproc: int = None) -> float:
    """Fixed-work host probe: featurize a pinned subset of the bench
    fixture's row groups with a plain process pool. Returns docs/sec —
    a pure host-throughput number with zero engine code in the loop."""
    import multiprocessing as mproc
    from glcmstream import fused
    nproc = nproc or min(CPUS, os.cpu_count())
    global _PROBE_SPLITS
    if not _PROBE_SPLITS:
        splits = fused._splits_by_cost(pages_dir)
        _PROBE_SPLITS = [(p, rg) for p, rg, _ in splits[:4 * nproc]]
    with mproc.Pool(nproc) as pool:
        pool.map(_probe_work, _PROBE_SPLITS[:nproc], chunksize=1)  # warm
        t0 = time.perf_counter()
        n = sum(pool.map(_probe_work, _PROBE_SPLITS, chunksize=1))
        dt = time.perf_counter() - t0
    return round(n / dt, 1)


def _read_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return sum(v), (v[7] if len(v) > 7 else 0)


def main() -> None:
    from pyspark.sql import functions as F

    from glcmstream import plan, state, stream
    from glcmstream import queries as qmod
    from glcmstream.session import get_spark

    pages_dir = ensure_pages(N_DOCS)
    spark = get_spark("glcmstream-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    n_pages = int(N_DOCS * 1.1)  # incl. 10% recrawls
    # suite-wide bracket: probes + steal around the WHOLE run so a
    # drift in any non-headline leg is attributable to host vs code
    suite_probe_pre = calibration_probe(pages_dir)
    suite_tot0, suite_st0 = _read_steal()

    # --- headline: fused manifest-scan streaming GLCM + windowed agg -------
    # (the 100 TB path: split metadata streams, workers read row groups;
    # see src/glcmstream/fused.py and BENCH/BASELINE.md)
    import shutil

    from glcmstream import fused
    ckpt = os.path.join(SCRATCH, "bench_ckpt_fused")
    shutil.rmtree(ckpt, ignore_errors=True)
    mdir = os.path.join(SCRATCH, f"bench_manifests_{N_DOCS}")
    # warm the JVM/python workers/streaming machinery on a small slice so
    # the headline measures steady state, not first-query JIT (~5-10s).
    # The warm source is a 4-manifest SUBSET dir drained with availableNow
    # (trigger(once) ignores maxFilesPerTrigger and would process the
    # whole corpus — round-2 advice); manifests carry absolute data paths,
    # so subsetting manifests subsets the work without copying data.
    fused.write_split_manifests(pages_dir, mdir)
    warm_mdir = os.path.join(SCRATCH, f"bench_manifests_warm_{N_DOCS}")
    os.makedirs(warm_mdir, exist_ok=True)
    for fn in sorted(os.listdir(mdir))[:4]:
        if not os.path.exists(os.path.join(warm_mdir, fn)):
            shutil.copy(os.path.join(mdir, fn), warm_mdir)
    wck = os.path.join(SCRATCH, "bench_ckpt_warm")
    shutil.rmtree(wck, ignore_errors=True)
    warm_sdf = (spark.readStream.schema(fused.SPLIT_SCHEMA)
                .parquet(warm_mdir).repartition(CPUS))
    wq = (stream.windowed_agg_over_features(fused._features_df(warm_sdf))
          .writeStream.outputMode("update")
          .foreachBatch(lambda df, eid: df.count())
          .option("checkpointLocation", wck)
          .trigger(availableNow=True).start())
    wq.awaitTermination()

    # the headline drain scans hand manifests (one per task); the
    # per-file layout above stays for the warm subset
    hmdir = os.path.join(SCRATCH, f"bench_hands_{N_DOCS}")
    fused.write_hand_manifests(
        pages_dir, hmdir, min(4 * CPUS, len(fused.plan_splits(pages_dir))))

    def headline_leg(tag: str) -> tuple[float, int]:
        c = os.path.join(SCRATCH, f"bench_ckpt_fused_{tag}")
        shutil.rmtree(c, ignore_errors=True)
        t0 = time.perf_counter()
        feats = fused.fused_features_stream(spark, pages_dir, hmdir,
                                            max_files_per_trigger=None,
                                            parallelism=4 * CPUS)
        agg = stream.windowed_agg_over_features(feats)
        q = (agg.writeStream.format("memory")
             .queryName(f"bench_winagg_{tag}")
             .outputMode("complete").option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        n = spark.table(f"bench_winagg_{tag}").count()
        return time.perf_counter() - t0, n

    # gated headline: retry until a clean window (steal + probe drift),
    # publish the last attempt either way with the window verdict
    attempts = []
    window_ok = False
    for att in range(HEADLINE_ATTEMPTS):
        probe_pre = calibration_probe(pages_dir)
        tot0, st0 = _read_steal()
        t_stream, n_out = headline_leg(f"a{att}")
        tot1, st1 = _read_steal()
        steal_pct = round(100.0 * (st1 - st0) / max(1, tot1 - tot0), 2)
        probe_post = calibration_probe(pages_dir)
        drift = round(max(probe_pre, probe_post)
                      / max(1e-9, min(probe_pre, probe_post)), 3)
        attempts.append({"sec": round(t_stream, 3),
                         "steal_pct": steal_pct,
                         "probe_pre": probe_pre,
                         "probe_post": probe_post, "drift": drift})
        print(f"headline attempt {att}: {t_stream:.2f}s steal "
              f"{steal_pct}% probe {probe_pre}->{probe_post} "
              f"(drift {drift})", file=sys.stderr)
        if steal_pct <= STEAL_MAX and drift <= PROBE_DRIFT_MAX:
            window_ok = True
            break
    timings["glcm_stream_windowed_fused"] = round(t_stream, 3)
    assert n_out > 0

    # --- classic path (html through the Arrow UDF) for comparison ----------
    ckpt = os.path.join(SCRATCH, "bench_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    sdf = stream.pages_stream(spark, pages_dir, max_files_per_trigger=16)
    agg = stream.windowed_feature_agg(sdf)
    q = (agg.writeStream.format("memory").queryName("bench_winagg_c")
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("bench_winagg_c").count() > 0
    timings["glcm_stream_windowed"] = round(time.perf_counter() - t0, 3)

    # --- batch GLCM featurize + per-(lang,host) agg -------------------------
    t0 = time.perf_counter()
    pages = stream.read_pages_batch(spark, pages_dir)
    feats = plan.featurize(pages)
    out = (feats.groupBy("lang", "host")
           .agg(F.count(F.lit(1)).alias("n"), F.avg("contrast"),
                F.avg("energy")))
    out.collect()
    timings["glcm_batch_agg"] = round(time.perf_counter() - t0, 3)

    # --- stateful accumulation path -----------------------------------------
    # headline = the bucketed protocol-amortized path (state.py cost
    # anatomy: per-key applyInPandasWithState pays ~200us/key of Python
    # emission overhead; bucketing amortizes it ~400x). The per-key
    # path stays as the A/B control so protocol regressions are visible.
    ckpt2 = os.path.join(SCRATCH, "bench_ckpt2")
    shutil.rmtree(ckpt2, ignore_errors=True)
    t0 = time.perf_counter()
    sdf2 = stream.pages_stream(spark, pages_dir, max_files_per_trigger=32)
    st = state.stateful_glcm_agg_bucketed(sdf2)
    q2 = (st.writeStream.format("memory").queryName("bench_state")
          .outputMode("update").option("checkpointLocation", ckpt2)
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    spark.table("bench_state").count()
    timings["glcm_stateful_accum"] = round(time.perf_counter() - t0, 3)

    ckpt2b = os.path.join(SCRATCH, "bench_ckpt2b")
    shutil.rmtree(ckpt2b, ignore_errors=True)
    t0 = time.perf_counter()
    sdf2b = stream.pages_stream(spark, pages_dir,
                                max_files_per_trigger=32)
    stb = state.stateful_glcm_agg(sdf2b)
    q2b = (stb.writeStream.format("memory").queryName("bench_state_pk")
           .outputMode("update").option("checkpointLocation", ckpt2b)
           .trigger(availableNow=True).start())
    q2b.awaitTermination()
    spark.table("bench_state_pk").count()
    timings["glcm_stateful_accum_perkey"] = round(
        time.perf_counter() - t0, 3)

    # --- sliding (pane-based, bucketed) + session stateful paths ------------
    ckpt2c = os.path.join(SCRATCH, "bench_ckpt2c")
    shutil.rmtree(ckpt2c, ignore_errors=True)
    t0 = time.perf_counter()
    sdf2c = stream.pages_stream(spark, pages_dir,
                                max_files_per_trigger=32)
    panes = state.stateful_glcm_pane_agg_bucketed(sdf2c)
    q2c = (panes.writeStream.format("memory").queryName("bench_panes")
           .outputMode("update").option("checkpointLocation", ckpt2c)
           .trigger(availableNow=True).start())
    q2c.awaitTermination()
    # one-shuffle finalizer (bit-identical to the two-shuffle
    # latest_panes -> finalize_sliding_windows path; 1x pane payload
    # through the exchange instead of 1 + L/S copies)
    assert state.sliding_windows_from_emissions(
        spark.table("bench_panes")).count() > 0
    timings["glcm_stateful_sliding"] = round(time.perf_counter() - t0, 3)

    ckpt2d = os.path.join(SCRATCH, "bench_ckpt2d")
    shutil.rmtree(ckpt2d, ignore_errors=True)
    t0 = time.perf_counter()
    sdf2d = stream.pages_stream(spark, pages_dir,
                                max_files_per_trigger=32)
    sess = state.stateful_glcm_session_agg_bucketed(sdf2d)
    q2d = (sess.writeStream.format("memory").queryName("bench_sess")
           .outputMode("update").option("checkpointLocation", ckpt2d)
           .trigger(availableNow=True).start())
    q2d.awaitTermination()
    assert state.final_sessions(spark.table("bench_sess")).count() > 0
    timings["glcm_stateful_session"] = round(time.perf_counter() - t0, 3)
    # The fused-gvec stateful variant (state.stateful_glcm_agg_fused) is
    # deliberately NOT a bench leg: on this fixture's ~1-13 KiB pages the
    # fixed 4 KiB gvec leaving the python worker costs about what the
    # html costs entering it (A/B measured 13.6-21.8s classic vs
    # 15.7-17.9s fused — within host noise), so the leg would only add
    # noise. It exists for the 100 TB shape (50-100 KiB pages) where the
    # input pipe dominates; exactness is pinned by
    # tests/test_fused.py::test_fused_stateful_glcm_matches_batch.

    # --- streaming recrawl join over the bench pages (round-3 verdict
    # #4: the streaming deliverable itself, not just its batch twin).
    # Single epoch: a stream-stream join opens FOUR state stores per
    # shuffle partition (left/right x keyToNumValues/keyWithIndexToValue
    # = 128 RocksDB opens at 32 partitions), so the availableNow drain's
    # O(1)/epoch fixed cost is ~4x the single-store legs' 2.5-3.8 s —
    # measured 15 s on a 400-doc fixture, i.e. all fixed cost. One epoch
    # pays it once; on a continuous production stream it amortizes to
    # zero. -------------------------------------------------------------------
    # round-4 verdict #7: the drain's fixed cost is 4 state stores x
    # shuffle partitions RocksDB opens per epoch; at fixture scale the
    # join work itself is tiny, so the leg scopes shuffle partitions to
    # 8 (4 x 8 = 32 opens instead of 128). Streaming shuffle width is
    # baked into the checkpoint at first start — the fresh checkpoint
    # makes the scoped value take effect, and the PRODUCTION default
    # stays the session's (32+): a real backlog amortizes the store
    # opens and wants the wider exchange. Join results are unchanged —
    # partitioning only moves rows among tasks.
    ckpt3 = os.path.join(SCRATCH, "bench_ckpt_recrawl")
    shutil.rmtree(ckpt3, ignore_errors=True)
    t0 = time.perf_counter()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sdf3 = stream.pages_stream(spark, pages_dir,
                                   max_files_per_trigger=None)
        j = stream.recrawl_stream_join(sdf3)
        q3 = (j.writeStream.format("memory").queryName("bench_recrawl_s")
              .outputMode("append").option("checkpointLocation", ckpt3)
              .trigger(availableNow=True).start())
        q3.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(max(CPUS, 16)))
    assert spark.table("bench_recrawl_s").count() > 0
    timings["recrawl_stream_join"] = round(time.perf_counter() - t0, 3)

    # --- fused vs classic at REALISTIC page sizes (round-4 verdict #5:
    # the 100 TB argument — worker-side row-group reads keep page bytes
    # out of the JVM/Arrow pipe — was asserted from a 45 KiB scaling
    # fixture but never A/B-measured in bench. ~100 KiB/doc pages at a
    # scaled doc count, one availableNow epoch each, identical windowed
    # agg; the separation (or its absence) lands in BENCH_r{N}.json.
    from glcmstream import fixtures as _fx
    big_docs = int(os.environ.get("GLCM_BIGPAGE_DOCS", "8000"))
    bigdir = os.path.join(SCRATCH, f"bench_pages_100k_{big_docs}_rg128")
    if not os.path.exists(os.path.join(bigdir, "part-0015.parquet")):
        shutil.rmtree(bigdir, ignore_errors=True)
        # ~100 KiB html/doc (the Common-Crawl design point), 128-row
        # row groups (~13 MiB) so split granularity stays balanced
        _fx.write_pages_parquet(bigdir, n_docs=big_docs, n_files=16,
                                min_tokens=12000, max_tokens=20000,
                                row_group_rows=128)
    bmdir = os.path.join(SCRATCH, f"bench_hands_big_{big_docs}")
    fused.write_hand_manifests(
        bigdir, bmdir, min(4 * CPUS, len(fused.plan_splits(bigdir))))
    # Untimed page-cache warm pass: fused runs first and would otherwise
    # read the ~800 MB fixture cold while classic reads it warm — the A/B
    # must compare compute paths, not disk state. (~800 MB « RAM.)
    for _f in sorted(os.listdir(bigdir)):
        if _f.endswith(".parquet"):
            with open(os.path.join(bigdir, _f), "rb") as _fh:
                while _fh.read(1 << 24):
                    pass
    ckpt_bf = os.path.join(SCRATCH, "bench_ckpt_bigf")
    shutil.rmtree(ckpt_bf, ignore_errors=True)
    t0 = time.perf_counter()
    bfeats = fused.fused_features_stream(spark, bigdir, bmdir,
                                         max_files_per_trigger=None,
                                         parallelism=4 * CPUS)
    qbf = (stream.windowed_agg_over_features(bfeats)
           .writeStream.outputMode("update")
           .foreachBatch(lambda df, eid: df.count())
           .option("checkpointLocation", ckpt_bf)
           .trigger(availableNow=True).start())
    qbf.awaitTermination()
    timings["glcm_windowed_fused_bigpage"] = round(
        time.perf_counter() - t0, 3)
    ckpt_bc = os.path.join(SCRATCH, "bench_ckpt_bigc")
    shutil.rmtree(ckpt_bc, ignore_errors=True)
    t0 = time.perf_counter()
    sdfb = stream.pages_stream(spark, bigdir, max_files_per_trigger=None)
    qbc = (stream.windowed_feature_agg(sdfb)
           .writeStream.outputMode("complete")
           .foreachBatch(lambda df, eid: df.count())
           .option("checkpointLocation", ckpt_bc)
           .trigger(availableNow=True).start())
    qbc.awaitTermination()
    timings["glcm_windowed_classic_bigpage"] = round(
        time.perf_counter() - t0, 3)

    # --- ANN LSH at a 25x embedding fixture (round-3 verdict #8:
    # evidence lsh_geometry's scaling — bits grow, runtime stays near-
    # linear; recall at this geometry is pinned by
    # test_ann_lsh_recall_at_50k) ---------------------------------------------
    from glcmstream import fixtures as fx, similarity
    emb50_dir = os.path.join(SCRATCH, "bench_emb_50000")
    if not os.path.exists(os.path.join(emb50_dir, "part-0007.parquet")):
        fx.write_embeddings_parquet(emb50_dir, 50_000, n_planted=20)
    t0 = time.perf_counter()
    emb50 = spark.read.parquet(emb50_dir)
    n_pairs = similarity.lsh_near_neighbors(
        emb50, min_cosine=0.9, n_vectors=50_040).count()
    assert n_pairs >= 17  # >= 17/20 planted pairs (S-curve P ~ 0.992)
    timings["ann_lsh_pairs_50k"] = round(time.perf_counter() - t0, 3)

    # --- batch operator suite (driver tables at this sf) --------------------
    registry = qmod.QUERIES
    for name in ["pricing_summary", "revenue_by_priority",
                 "window_rank_orders", "asof_join_click_purchase",
                 "range_join_event_pairs", "jaccard_word_pairs",
                 "minhash_lsh_dedup", "ann_topk_cosine", "ann_lsh_pairs",
                 "token_stats", "recrawl_interval_join", "salted_host_agg",
                 "streaming_tumbling_events", "iceberg_scan_pages",
                 "map_json_props", "streaming_session_pages",
                 "heavy_hitters_hosts", "corpus_clean_stats",
                 "tfidf_top_terms", "ntok_quantiles", "stratified_sample",
                 "streaming_cdc_upsert", "cep_click_purchase",
                 "iceberg_stream_scan"]:
        t0 = time.perf_counter()
        registry[name](spark, SF_DIR).collect()
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_pages / t_stream, 1)
    suite_tot1, suite_st1 = _read_steal()
    suite_probe_post = calibration_probe(pages_dir)
    suite_steal = round(100.0 * (suite_st1 - suite_st0)
                        / max(1, suite_tot1 - suite_tot0), 2)
    suite_drift = round(max(suite_probe_pre, suite_probe_post)
                        / max(1e-9, min(suite_probe_pre,
                                        suite_probe_post)), 3)
    print(json.dumps({
        "metric": "glcmstream bench (GLCM featurize + windowed agg "
                  "+ operator suite)",
        "value": total, "unit": "sec", "queries": timings, "sf": SF,
        "docs_per_sec": docs_per_sec, "n_docs": n_pages, "cpus": CPUS,
        "window": {"valid": window_ok, "steal_max_pct": STEAL_MAX,
                   "probe_drift_max": PROBE_DRIFT_MAX,
                   "headline_attempts": attempts,
                   "suite_probe_pre": suite_probe_pre,
                   "suite_probe_post": suite_probe_post,
                   "suite_drift": suite_drift,
                   "suite_steal_pct": suite_steal},
    }))


if __name__ == "__main__":
    main()
