#!/usr/bin/env python
"""Per-task python-worker setup cost, measured from Spark's own timings.

    python scripts/worker_init.py [TREE]

TREE (default: the checkout this script lives in) is the checkout whose
src/ is imported, so one copy of this script measures a parent tree
exported with `git archive` and the changed tree alike. It reads the
400-doc fixture of the streaming tests, .scratch/pages_stream_400 of the
tree this script lives in (any streaming test creates it).

A child process runs three stages over the fixture, three times each,
with the `org.apache.spark.sql.execution.python` logger at INFO:

- gvec_udf: a batch scan through state.glcm_vec_udf;
- fused_scan: fused.fused_features_batch;
- state_drain: an availableNow drain of stateful_glcm_agg_bucketed,
  two fixture files per epoch, into the noop sink.

Every Arrow python runner logs `Times: total = T, boot = B, init = I,
finish = F` (ms) when its task ends: B is the worker's start of
pyspark.worker.main minus the runner's start, I the time from there to
the end of the worker's per-task setup, just before our function runs.
A reused worker enters main() as soon as its previous task ends and
waits there for the next one, so B < 0 and I counts that idle wait too;
`setup` = I + min(B, 0) counts from the runner's start only. The parent
parses those lines and prints, per stage, the runner count and the
median `init` (I, as Spark logs it) and `setup`, in ms.
"""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = os.path.join(HERE, ".scratch", "pages_stream_400")
STAGES = ("gvec_udf", "fused_scan", "state_drain")
REPS = 3
MARK = "### worker_init stage "
TIMES = re.compile(r"Times: total = (-?\d+), boot = (-?\d+), "
                   r"init = (-?\d+), finish = (-?\d+)")


def child(tree: str) -> None:
    sys.path.insert(0, os.path.join(tree, "src"))
    os.environ["PYTHONPATH"] = os.path.join(tree, "src")
    import shutil
    import tempfile

    from glcmstream import fused, state, stream
    from glcmstream.session import get_spark

    spark = get_spark(app="worker-init")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.python",
        jvm.org.apache.logging.log4j.Level.INFO)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def gvec_udf() -> None:
        pages = stream.read_pages_batch(spark, PAGES)
        noop(pages.select(state.glcm_vec_udf()("html").alias("gvec")))

    def fused_scan() -> None:
        noop(fused.fused_features_batch(spark, PAGES))

    def state_drain() -> None:
        ckpt = tempfile.mkdtemp(prefix="worker_init_")
        try:
            q = (state.stateful_glcm_agg_bucketed(
                    stream.pages_stream(spark, PAGES,
                                        max_files_per_trigger=2))
                 .writeStream.outputMode("update").format("noop")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    runs = {"gvec_udf": gvec_udf, "fused_scan": fused_scan,
            "state_drain": state_drain}
    for name in STAGES:
        for _ in range(REPS):
            # the JVM logs to the same fd: flush so lines stay in order
            print(MARK + name, file=sys.stderr, flush=True)
            runs[name]()
    print(MARK + "done", file=sys.stderr, flush=True)
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2])
        return
    tree = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else HERE
    if not os.path.isdir(PAGES):
        sys.exit(f"missing fixture {PAGES}: run tests/test_streaming.py "
                 "once to create it")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", tree],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode:
        sys.stdout.write(proc.stdout[-4000:])
        sys.exit(proc.returncode)
    times: dict[str, list] = {s: [] for s in STAGES}
    stage = None
    for line in proc.stdout.splitlines():
        if line.startswith(MARK):
            stage = line[len(MARK):].strip()
            continue
        m = TIMES.search(line)
        if m and stage in times:
            boot, init = int(m.group(2)), int(m.group(3))
            times[stage].append((init, init + min(boot, 0)))
    for name in STAGES:
        rows = times[name]
        if not rows:
            print(f"{name} runners=0")
            continue
        init = statistics.median(r[0] for r in rows)
        setup = statistics.median(r[1] for r in rows)
        print(f"{name} runners={len(rows)} init_ms_p50={init:g} "
              f"setup_ms_p50={setup:g}")


if __name__ == "__main__":
    main()
