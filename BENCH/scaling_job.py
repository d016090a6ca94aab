#!/usr/bin/env python
"""One scaling-run leg: the streaming GLCM job at a given local[N].

Usage: python BENCH/scaling_job.py <cpus> <pages_dir> <n_pages>
Prints one JSON line {"cpus": N, "wall_sec": t, "docs_per_sec": r}.

Run in a fresh process per leg so each parallelism level gets its own JVM
(the sandbox proxy for separate cluster sizes, per BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "src"))
os.environ["PYTHONPATH"] = (os.path.join(REPO, "src") + os.pathsep
                            + os.environ.get("PYTHONPATH", ""))


def main() -> None:
    cpus = int(sys.argv[1])
    pages_dir = sys.argv[2]
    n_pages = int(sys.argv[3])
    mode = os.environ.get("GLCM_SCALE_MODE", "fused")

    from glcmstream import fused, stream
    from glcmstream.session import get_spark

    # pin this leg to exactly `cpus` cores (inherited by the JVM, its GC/
    # IO helper threads, and all python workers). Without this, the N-core
    # leg borrows idle cores for JVM background work that a real N-executor
    # cluster would have to fit inside N cores, flattering the small leg
    # and understating scaling efficiency.
    os.sched_setaffinity(0, range(cpus))

    # NOTE: round-1 set maxPartitionBytes=8m here to force split fan-out on
    # small fixtures; at the 45 KiB-page scale fixture that creates ~1216
    # tasks x ~180 ms fixed python-runner cost per task (measured: a noop
    # pandas UDF over 132k rows costs 7.1s at 8m vs 0.8s at the 128m
    # default) and was the round-1 scaling-gate failure. Default splits
    # give 64-128 tasks here — plenty for 32 cores.
    # shuffle/state partitioning stays FIXED across cluster sizes (as it
    # would on a real cluster); only the executor count changes
    # one scan task per hand manifest (see fused.write_hand_manifests)
    os.environ.setdefault("GLCMSTREAM_OPEN_COST", "128m")
    spark = get_spark("glcm-scaling", master=f"local[{cpus}]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    ckpt = os.path.join(REPO, ".scratch", f"scaling_ckpt_{cpus}")
    shutil.rmtree(ckpt, ignore_errors=True)

    # warm the JVM + python workers AND the streaming machinery (state
    # store init, streaming python runner) so the measured run is steady
    # state. The warm run is the IDENTICAL job over a 16-file subset: a
    # fresh JVM's first big scan pays heap page-faults (24g heap), JIT of
    # the whole-stage-codegen scan, Arrow writer classes and RocksDB JNI —
    # measured 1.5-2x on the first run. Production drains a 10^12-doc
    # backlog with warm executors; measuring the cold JVM would benchmark
    # JVM startup, not the engine.
    warm = stream.read_pages_batch(spark, pages_dir).limit(64)
    from glcmstream import plan
    plan.featurize(warm, parallelism=cpus).agg({"contrast": "avg"}).collect()
    wsub = _subset(pages_dir, 16)
    wck = os.path.join(REPO, ".scratch", f"warm_ckpt_{cpus}")
    shutil.rmtree(wck, ignore_errors=True)
    wq = (_job(spark, mode, wsub, None, cpus)
          .writeStream.outputMode("update")
          .foreachBatch(lambda df, eid: df.count())
          .option("checkpointLocation", wck)
          .trigger(availableNow=True).start())
    wq.awaitTermination()

    # ground-truth doc count from the parquet footers (the streaming
    # source's numInputRows counts manifest/split rows in fused mode)
    n_docs_actual = sum(s[2] for s in fused.plan_splits(pages_dir))
    assert n_docs_actual == n_pages, (n_docs_actual, n_pages)

    # fixed per-epoch cost probe: the availableNow drain pays an O(1)
    # cost per epoch (offset WAL + batch planning + opening the 32
    # RocksDB state partitions + commit, ~3s) that is paid once per
    # backlog restart in production — it is NOT a per-doc cost, and at a
    # 10^12-doc backlog it vanishes, but at this fixture size it
    # Amdahl-punishes the 4N leg 4x harder than the N leg. Measure it
    # per leg by a two-point linear fit over 1-file and 4-file epochs
    # (w(n) = F + k*n -> F = w1 - (w4 - w1)/3) so the report can give
    # BOTH raw and marginal (per-doc) efficiency.
    # both probe points are min-of-2 (round-3 advice #4: a single noisy-
    # fast w4 sample on a host with documented 2x no-steal swings would
    # inflate fixed_sec and with it the marginal throughput the PASS
    # gate may rest on)
    w1 = min(_probe_epoch(spark, mode, _subset(pages_dir, 1), 8, cpus, i)
             for i in range(2))
    w4 = min(_probe_epoch(spark, mode, _subset(pages_dir, 4), 16, cpus, i)
             for i in range(2, 4))
    fixed_sec = max(0.0, w1 - (w4 - w1) / 3)

    cpu0 = _cpu_snap()
    t0 = time.perf_counter()
    # single availableNow batch: a crawl backlog processed as one epoch —
    # per-epoch fixed costs (state commit, WAL, planning, ~3s) are paid
    # once instead of per slice, which is exactly how a large backlog is
    # drained in production. The multi-epoch cadence is exercised by
    # bench.py and the streaming test suite.
    agg = _job(spark, mode, pages_dir, None, cpus)
    q = (agg.writeStream.outputMode("update")
         .foreachBatch(lambda df, eid: df.count())
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.perf_counter() - t0
    cpu = _cpu_delta(cpu0, _cpu_snap())

    # sanity cap (round-3 advice #4): the probe-fit fixed cost can never
    # legitimately be most of a full-backlog leg (measured 2.5-3.8 s vs
    # 10-40 s walls); capping at 40% of wall bounds how far a noisy fit
    # can inflate marginal throughput — and therefore how far the
    # marginal basis can diverge from the raw one at the PASS gate.
    fixed_sec = min(fixed_sec, 0.4 * wall)

    rows = n_docs_actual

    checksum = (None if os.environ.get("GLCM_SKIP_DET")
                else _determinism_checksum(spark, pages_dir))
    print(json.dumps({
        "cpus": cpus, "mode": mode, "wall_sec": round(wall, 2),
        "docs_per_sec": round(rows / wall, 1),
        "fixed_sec": round(fixed_sec, 2),
        "marginal_docs_per_sec": round(rows / max(wall - fixed_sec, 1e-9),
                                       1),
        "steal_pct": cpu["steal_pct"],
        "busy_pct": cpu["busy_pct"],
        "state_checksum": checksum,
    }))


def _probe_epoch(spark, mode: str, sub_dir: str, hands: int, cpus: int,
                 idx: int) -> float:
    """Wall time of one tiny availableNow epoch (fresh checkpoint), for
    the fixed-cost fit."""
    os.environ["GLCM_FUSED_TASKS"] = str(hands)
    try:
        ck = os.path.join(REPO, ".scratch", f"probe_ckpt_{cpus}_{idx}")
        shutil.rmtree(ck, ignore_errors=True)
        agg = _job(spark, mode, sub_dir, None, cpus)
        t0 = time.perf_counter()
        q = (agg.writeStream.outputMode("update")
             .foreachBatch(lambda df, eid: df.count())
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return time.perf_counter() - t0
    finally:
        os.environ.pop("GLCM_FUSED_TASKS", None)


def _job(spark, mode: str, pages_dir: str,
         max_files_per_trigger: int | None, cpus: int):
    """The measured streaming job: manifest-fused scan+featurize (default)
    or the classic html-through-Arrow UDF path, into the same watermarked
    (lang, host) tumbling-window aggregate."""
    from glcmstream import fused, stream
    if mode == "fused":
        # drain mode: pre-dealt hand manifests, one scan task per hand
        # (needs openCostInBytes >= maxPartitionBytes, set in main) — the
        # scan IS the balanced fan-out; no repartition exchange. 128 hands
        # = ~4 waves at 32 cores: small enough for tail balance, large
        # enough that the per-task python-runner cost stays <2%.
        hands = int(os.environ.get("GLCM_FUSED_TASKS", "128"))
        mdir = os.path.join(REPO, ".scratch",
                            os.path.basename(pages_dir) + f"_hands{hands}")
        feats = fused.fused_features_stream(
            spark, pages_dir, mdir, max_files_per_trigger=None,
            parallelism=hands)
        return stream.windowed_agg_over_features(
            feats, window=os.environ.get("GLCM_SCALE_WINDOW", "10 minutes"))
    sdf = stream.pages_stream(
        spark, pages_dir, max_files_per_trigger=max_files_per_trigger)
    return stream.windowed_feature_agg(sdf)


def _cpu_snap() -> list[int]:
    """Whole-host /proc/stat counters, bracketing the measured window so
    hypervisor steal bursts (4-11% typical, spikes beyond) are recorded
    alongside every throughput sample instead of silently corrupting it."""
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def _cpu_delta(a: list[int], b: list[int]) -> dict:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    # fields: user nice system idle iowait irq softirq steal
    steal = d[7] / tot
    busy = (d[0] + d[1] + d[2]) / tot
    return {"steal_pct": round(100 * steal, 1),
            "busy_pct": round(100 * busy, 1)}


def _subset(pages_dir: str, n: int = 8) -> str:
    subset = os.path.join(REPO, ".scratch",
                          os.path.basename(pages_dir) + f"_det{n}")
    if not os.path.exists(os.path.join(subset, f"part-{n-1:04d}.parquet")):
        os.makedirs(subset, exist_ok=True)
        for fn in sorted(os.listdir(pages_dir))[:n]:
            dst = os.path.join(subset, fn)
            if not os.path.exists(dst):
                os.link(os.path.join(pages_dir, fn), dst)  # same fs: free
    return subset


def _determinism_checksum(spark, pages_dir: str) -> str:
    """Bit-exact output identity across cluster sizes (north rule:
    'identical GLCM feature values for identical input stream +
    watermark'). The stateful path accumulates integer-valued count sums,
    which float64 addition computes exactly in any order, so every emitted
    row — keys, counts, all six features at full precision — must be
    byte-identical between local[8] and local[32]. Checksum = xor of
    xxhash64(epoch, every column as string) over all update-mode
    emissions."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from glcmstream import state
    from glcmstream import stream as stream_mod

    subset = _subset(pages_dir, 8)
    ckpt = os.path.join(REPO, ".scratch", "det_ckpt")
    _sh.rmtree(ckpt, ignore_errors=True)
    sdf = stream_mod.pages_stream(spark, subset, max_files_per_trigger=2)
    out = state.stateful_glcm_agg(sdf)
    acc = []

    def fb(df, eid):
        h = (df.withColumn("_h", F.xxhash64(
                F.lit(int(eid)), *[F.col(c).cast("string")
                                   for c in df.columns]))
             .agg(F.expr("bit_xor(_h)")).collect()[0][0])
        acc.append(int(h) if h is not None else 0)

    q = (out.writeStream.outputMode("update").foreachBatch(fb)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    x = 0
    for v in acc:
        x ^= v & 0xFFFFFFFFFFFFFFFF
    return format(x, "016x")


if __name__ == "__main__":
    main()
