#!/usr/bin/env python
"""Round-6 optimization instrumentation (bench.py is FROZEN for
measurement; guide §1.4 noop-sink isolation lives here instead).

Per-leg / per-phase timing for the expensive bench legs, bracketed by
the same fixed-work calibration probe bench.py uses so numbers are
attributable to code vs host. Select legs with a comma-separated
GLCM_EXTRA_LEGS env (default: all).

Prints one JSON line: {"legs": {name: {"sec": ..., "probe_pre": ...,
"probe_post": ..., "drift": ..., "steal_pct": ...}}, ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(REPO, "src"))
os.environ["PYTHONPATH"] = (os.path.join(REPO, "src") + os.pathsep
                            + os.environ.get("PYTHONPATH", ""))

import bench  # noqa: E402  (frozen harness: reuse fixture + probe)

SCRATCH = bench.SCRATCH
CPUS = bench.CPUS


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    from glcmstream import fused, plan, similarity, state, stream
    from glcmstream.session import get_spark

    sel = os.environ.get("GLCM_EXTRA_LEGS", "").split(",")
    sel = [s for s in sel if s]

    pages_dir = bench.ensure_pages(bench.N_DOCS)
    spark = get_spark("glcmstream-bench-extra",
                      master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    legs: dict[str, dict] = {}

    def run(name: str, fn, warm_fn=None) -> None:
        if sel and name not in sel:
            return
        if warm_fn is not None:
            warm_fn()
        probe_pre = bench.calibration_probe(pages_dir)
        tot0, st0 = bench._read_steal()
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        sec = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        tot1, st1 = bench._read_steal()
        probe_post = bench.calibration_probe(pages_dir)
        legs[name] = {
            "sec": sec,
            "probe_pre": probe_pre, "probe_post": probe_post,
            "drift": round(max(probe_pre, probe_post)
                           / max(1e-9, min(probe_pre, probe_post)), 3),
            "steal_pct": round(100.0 * (st1 - st0)
                               / max(1, tot1 - tot0), 2),
        }
        print(f"{name}: {sec}s probe {probe_pre}->{probe_post} "
              f"steal {legs[name]['steal_pct']}%", file=sys.stderr)

    # ---- warm the streaming machinery once (same as bench.py) ----------
    mdir = os.path.join(SCRATCH, f"bench_manifests_{bench.N_DOCS}")
    fused.write_split_manifests(pages_dir, mdir)
    warm_mdir = os.path.join(SCRATCH,
                             f"bench_manifests_warm_{bench.N_DOCS}")
    os.makedirs(warm_mdir, exist_ok=True)
    for fn_ in sorted(os.listdir(mdir))[:4]:
        if not os.path.exists(os.path.join(warm_mdir, fn_)):
            shutil.copy(os.path.join(mdir, fn_), warm_mdir)
    wck = os.path.join(SCRATCH, "extra_ckpt_warm")
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
    hmdir = os.path.join(SCRATCH, f"bench_hands_{bench.N_DOCS}")
    fused.write_hand_manifests(
        pages_dir, hmdir, min(4 * CPUS, len(fused.plan_splits(pages_dir))))

    # ---- headline fused leg (single attempt, probe-bracketed) ----------
    def headline():
        c = os.path.join(SCRATCH, "extra_ckpt_fused")
        shutil.rmtree(c, ignore_errors=True)
        feats = fused.fused_features_stream(spark, pages_dir, hmdir,
                                            max_files_per_trigger=None,
                                            parallelism=4 * CPUS)
        agg = stream.windowed_agg_over_features(feats)
        q = (agg.writeStream.format("memory")
             .queryName("extra_winagg")
             .outputMode("complete").option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        assert spark.table("extra_winagg").count() > 0

    run("headline_fused", headline)

    # ---- stateful accum (bucketed) -------------------------------------
    def stateful_accum():
        c = os.path.join(SCRATCH, "extra_ckpt2")
        shutil.rmtree(c, ignore_errors=True)
        sdf = stream.pages_stream(spark, pages_dir,
                                  max_files_per_trigger=32)
        st = state.stateful_glcm_agg_bucketed(sdf)
        q = (st.writeStream.format("memory").queryName("extra_state")
             .outputMode("update").option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        spark.table("extra_state").count()

    run("stateful_accum_bucketed", stateful_accum)

    # ---- sliding: pane drain and finalizer SEPARATELY ------------------
    def pane_drain():
        c = os.path.join(SCRATCH, "extra_ckpt2c")
        shutil.rmtree(c, ignore_errors=True)
        sdf = stream.pages_stream(spark, pages_dir,
                                  max_files_per_trigger=32)
        panes = state.stateful_glcm_pane_agg_bucketed(sdf)
        q = (panes.writeStream.format("memory")
             .queryName("extra_panes")
             .outputMode("update").option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        spark.table("extra_panes").count()

    run("sliding_pane_drain", pane_drain)

    def sliding_finalize():
        assert state.sliding_windows_from_emissions(
            spark.table("extra_panes")).count() > 0

    if not sel or "sliding_finalize" in sel:
        if "extra_panes" in [t.name for t in
                             spark.catalog.listTables()]:
            run("sliding_finalize", sliding_finalize)

    # ---- session leg ---------------------------------------------------
    def session_leg():
        c = os.path.join(SCRATCH, "extra_ckpt2d")
        shutil.rmtree(c, ignore_errors=True)
        sdf = stream.pages_stream(spark, pages_dir,
                                  max_files_per_trigger=32)
        sess = state.stateful_glcm_session_agg_bucketed(sdf)
        q = (sess.writeStream.format("memory").queryName("extra_sess")
             .outputMode("update").option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        assert state.final_sessions(spark.table("extra_sess")).count() > 0

    run("session_bucketed", session_leg)

    # ---- ANN LSH 50k: phases -------------------------------------------
    from glcmstream import fixtures as fx
    emb50_dir = os.path.join(SCRATCH, "bench_emb_50000")
    if not os.path.exists(os.path.join(emb50_dir, "part-0007.parquet")):
        fx.write_embeddings_parquet(emb50_dir, 50_000, n_planted=20)

    def lsh_full():
        emb50 = spark.read.parquet(emb50_dir)
        n = similarity.lsh_near_neighbors(
            emb50, min_cosine=0.9, n_vectors=50_040).count()
        assert n >= 17

    run("ann_lsh_50k_full", lsh_full)

    def lsh_cand_only():
        emb50 = spark.read.parquet(emb50_dir)
        bands, band_bits = similarity.lsh_geometry(50_040)
        e = emb50.select(
            "vec_id",
            similarity.hyperplane_bands_udf(bands, band_bits)(
                "embedding").alias("sigs"))
        bands_df = e.select("vec_id", F.posexplode("sigs")
                            .alias("band", "bucket"))
        a, b = bands_df.alias("a"), bands_df.alias("b")
        cand = (a.join(b, [F.col("a.band") == F.col("b.band"),
                           F.col("a.bucket") == F.col("b.bucket"),
                           F.col("a.vec_id") < F.col("b.vec_id")])
                .select(F.col("a.vec_id").alias("id_a"),
                        F.col("b.vec_id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
        print(f"  candidates: {cand.count()}", file=sys.stderr)

    run("ann_lsh_50k_candidates", lsh_cand_only)

    # ---- bigpage fused vs classic, PER-LEG probe brackets --------------
    # (round-5 verdict #2: the recorded A/B inverted the 100 TB design
    # claim inside a degraded suite window; bench.py's A/B carries no
    # per-leg brackets, so this harness adds them)
    from glcmstream import fixtures as _fx
    big_docs = int(os.environ.get("GLCM_BIGPAGE_DOCS", "8000"))
    bigdir = os.path.join(SCRATCH, f"bench_pages_100k_{big_docs}_rg128")
    if not os.path.exists(os.path.join(bigdir, "part-0015.parquet")):
        shutil.rmtree(bigdir, ignore_errors=True)
        _fx.write_pages_parquet(bigdir, n_docs=big_docs, n_files=16,
                                min_tokens=12000, max_tokens=20000,
                                row_group_rows=128)
    bmdir = os.path.join(SCRATCH, f"bench_hands_big_{big_docs}")
    fused.write_hand_manifests(
        bigdir, bmdir, min(4 * CPUS, len(fused.plan_splits(bigdir))))

    def _warm_pagecache():
        for _f in sorted(os.listdir(bigdir)):
            if _f.endswith(".parquet"):
                with open(os.path.join(bigdir, _f), "rb") as _fh:
                    while _fh.read(1 << 24):
                        pass

    def big_fused():
        c = os.path.join(SCRATCH, "extra_ckpt_bigf")
        shutil.rmtree(c, ignore_errors=True)
        bfeats = fused.fused_features_stream(spark, bigdir, bmdir,
                                             max_files_per_trigger=None,
                                             parallelism=4 * CPUS)
        q = (stream.windowed_agg_over_features(bfeats)
             .writeStream.outputMode("update")
             .foreachBatch(lambda df, eid: df.count())
             .option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def big_classic():
        c = os.path.join(SCRATCH, "extra_ckpt_bigc")
        shutil.rmtree(c, ignore_errors=True)
        sdfb = stream.pages_stream(spark, bigdir,
                                   max_files_per_trigger=None)
        q = (stream.windowed_feature_agg(sdfb)
             .writeStream.outputMode("complete")
             .foreachBatch(lambda df, eid: df.count())
             .option("checkpointLocation", c)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # alternate the order across reps so page-cache / GC ordering
    # artifacts show up as order-dependence instead of biasing one leg
    for rep, order in enumerate([("bigF", "bigC"), ("bigC", "bigF"),
                                 ("bigF", "bigC")]):
        for tag in order:
            fn = big_fused if tag == "bigF" else big_classic
            run(f"{tag}_r{rep}", fn, warm_fn=_warm_pagecache)

    # ---- batch agg + classic stream (for completeness) -----------------
    def batch_agg():
        pages = stream.read_pages_batch(spark, pages_dir)
        feats = plan.featurize(pages)
        out = (feats.groupBy("lang", "host")
               .agg(F.count(F.lit(1)).alias("n"), F.avg("contrast"),
                    F.avg("energy")))
        out.collect()

    run("batch_agg", batch_agg)

    # ---- clustering: star contraction at ~100k edges (r5 verdict #7:
    # component closure is the one dedup stage whose cost is
    # round-multiplied at scale; bench it with its round count) --------
    import numpy as np
    import pandas as pd

    from glcmstream import dedup

    def cc_graph(n_nodes=60_000, n_edges=100_000, seed=42):
        rng = np.random.default_rng(seed)
        u = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
        v = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
        keep = u != v
        return spark.createDataFrame(
            pd.DataFrame({"id_a": u[keep], "id_b": v[keep]}))

    star_rounds: list = []

    def cc_star():
        edges = cc_graph()
        canon = (edges.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"))
            .dropDuplicates(["u", "v"]))
        star_rounds.clear()
        labels = dedup._star_labels(canon, rounds_out=star_rounds)
        n_comp = labels.select("label").distinct().count()
        print(f"  star rounds={len(star_rounds)} components={n_comp}",
              file=sys.stderr)

    def cc_prop():
        # the leg name predates the star-only connected_components:
        # it now times the public function end to end
        edges = cc_graph()
        n_comp = (dedup.connected_components(edges)
                  .select("component_id").distinct().count())
        print(f"  connected_components components={n_comp}",
              file=sys.stderr)

    run("cc_star_100k", cc_star)
    if legs.get("cc_star_100k") is not None and star_rounds:
        legs["cc_star_100k"]["rounds"] = len(star_rounds)
    run("cc_minlabel_100k", cc_prop)

    # ---- one-shuffle sliding finalizer at PRODUCTION L/S (r5 verdict
    # #8): timed on a 1 h / 5 min (r = 12) widened pane fixture --------
    from glcmstream import state as state_mod

    def prod_ls_emissions(n_keys=2000, panes_per_key=48, seed=7):
        rng = np.random.default_rng(seed)
        s_us = 300_000_000  # 5 min slide
        base = pd.Timestamp("2026-01-01 00:00:00")
        rows = []
        for k in range(n_keys):
            host = f"h{k:05d}.example.com"
            lang = ["en", "de", "es", "fr", "pt"][k % 5]
            for p in range(panes_per_key):
                m = rng.integers(0, 60, state_mod.L2).astype(np.int64)
                rows.append((lang, host,
                             base + pd.Timedelta(microseconds=p * s_us),
                             state_mod._pack_counts(m), int(m.sum() % 97 + 1),
                             1))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["lang", "host", "pane_start",
                                        "counts", "n_docs", "n_batches"]),
            schema=state_mod.PANE_OUTPUT_SCHEMA)

    emis_prod = prod_ls_emissions()

    def one_shuffle_prod():
        n = state_mod.sliding_windows_from_emissions(
            emis_prod, length="1 hour", slide="5 minutes").count()
        print(f"  one-shuffle windows={n}", file=sys.stderr)

    run("sliding_prod_ls_one_shuffle", one_shuffle_prod)

    print(json.dumps({"legs": legs, "cpus": CPUS,
                      "n_docs": bench.N_DOCS}))


if __name__ == "__main__":
    main()
