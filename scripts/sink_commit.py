#!/usr/bin/env python
"""Cost of one IcebergLiteTable.commit, measured without the benchmark.

    python scripts/sink_commit.py [TREE]

TREE (default: the checkout this script lives in) is the checkout whose
src/ is imported, so one copy of this script measures a parent tree
exported with `git archive` and the changed tree alike. It reads the
400-doc fixture of the streaming tests, .scratch/pages_stream_400 of the
tree this script lives in (any streaming test creates it).

Two frames are committed, each into its own table, 10 times with a new
epoch id each time after one untimed warm-up commit:

- windowed: the fused features of the fixture through
  stream.windowed_agg_over_features (20 min windows sliding by 5 min,
  ~500 rows), collected once so a commit pays only its write and its
  lineage, not the featurize work;
- empty: the same frame with no rows (a no-data epoch).

Prints per frame the row count, the median commit wall time in ms and
the Spark jobs per commit (counted with a job group per commit).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = os.path.join(HERE, ".scratch", "pages_stream_400")
COMMITS = 10


def main() -> None:
    tree = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else HERE
    if not os.path.isdir(PAGES):
        sys.exit(f"missing fixture {PAGES}: run tests/test_streaming.py "
                 "once to create it")
    sys.path.insert(0, os.path.join(tree, "src"))
    os.environ["PYTHONPATH"] = os.path.join(tree, "src")
    from glcmstream import fused, stream
    from glcmstream.session import get_spark
    from glcmstream.sink import IcebergLiteTable

    spark = get_spark(app="sink-commit")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    agg = stream.windowed_agg_over_features(
        fused.fused_features_batch(spark, PAGES),
        window="20 minutes", slide="5 minutes")
    windowed = spark.createDataFrame(agg.collect(), agg.schema)
    frames = {"windowed": windowed, "empty": windowed.limit(0)}

    work = tempfile.mkdtemp(prefix="sink_commit_")
    try:
        for name, df in frames.items():
            table = IcebergLiteTable(os.path.join(work, name))
            table.commit(df, 0)
            ms, jobs = [], []
            for epoch in range(1, COMMITS + 1):
                group = f"sink_commit_{name}_{epoch}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                try:
                    table.commit(df, epoch)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                ms.append((time.perf_counter() - t0) * 1000.0)
                bus.waitUntilEmpty()
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            print(f"{name} rows={table.manifests()[-1]['row_count']} "
                  f"commits={COMMITS} "
                  f"commit_ms_p50={statistics.median(ms):.1f} "
                  f"jobs_per_commit={statistics.mean(jobs):g}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
