#!/usr/bin/env python
"""Task layout and wall time of backlog drains, from Spark's event log.

    python scripts/fused_tasks.py [TREE] [SEED]

TREE (default: the checkout this script lives in) is the checkout whose
src/ is imported, so one copy of this script measures a parent tree
exported with `git archive` and the changed tree alike. SEED (default 1)
seeds the pages: a backlog of the `backlog_drain` benchmark's shape
(1536 pages of 2-96 KiB in 12 files, 128-row row groups, so 12 splits),
generated once into .scratch/fused_tasks_backlog_s<SEED> of the tree
this script lives in.

A child process runs one warm-up drain and then 3 measured drains, each
`fused.fused_features_stream(max_files_per_trigger=None)` ->
`stream.windowed_agg_over_features` -> `stream.run_to_sink` into a
fresh IcebergLiteTable, with Spark's event log written to a temp dir
(set through the child's PYSPARK_SUBMIT_ARGS; the engine's session
config is untouched). After each drain it runs `kernel.featurize_htmls`
over the same pages in its own process for 2 s: the single-core kernel
rate in the same window.

Per measured drain the parent prints one line: the drain's wall time,
the fused stage's task count (the stage whose RDDs include the
MapInArrow), the splits each task read (scan records plus shuffle
records, so a repartitioned scan counts too), each task's executor run
time in ms, and the kernel docs/s.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRAINS = 3
KERNEL_BUDGET_S = 2.0
MARK = "### fused_tasks "


def pages_dir(seed: int) -> str:
    d = os.path.join(HERE, ".scratch", f"fused_tasks_backlog_s{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        sys.path.insert(0, HERE)
        sys.path.insert(0, os.path.join(HERE, "src"))
        from perfbench import inputs
        shutil.rmtree(d, ignore_errors=True)
        inputs.write_sized_pages(d, seed, 1536, 12, 2 * 1024, 96 * 1024,
                                 128)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def kernel_docs_per_s(kernel, htmls: list[list[bytes]]) -> float:
    docs, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < KERNEL_BUDGET_S:
        for b in htmls:
            kernel.featurize_htmls(b)
            docs += len(b)
    return docs / (time.perf_counter() - t0)


def child(tree: str, pages: str, work: str) -> None:
    sys.path.insert(0, os.path.join(tree, "src"))
    os.environ["PYTHONPATH"] = os.path.join(tree, "src")
    import pyarrow.parquet as pq

    from glcmstream import fused, kernel, stream
    from glcmstream.session import get_spark
    from glcmstream.sink import IcebergLiteTable

    spark = get_spark(app="fused-tasks")
    spark.sparkContext.setLogLevel("ERROR")
    htmls = [pq.read_table(os.path.join(pages, f), columns=["html"])
             .column("html").to_pylist()
             for f in sorted(os.listdir(pages)) if f.endswith(".parquet")]
    for i in range(DRAINS + 1):
        d = os.path.join(work, f"drain{i}")
        t0 = time.time()
        feats = fused.fused_features_stream(
            spark, pages, os.path.join(d, "manifests"),
            max_files_per_trigger=None)
        stream.run_to_sink(stream.windowed_agg_over_features(feats),
                           IcebergLiteTable(os.path.join(d, "table")),
                           os.path.join(d, "ckpt"))
        t1 = time.time()
        rec = {"drain": i - 1, "t0_ms": t0 * 1000, "t1_ms": t1 * 1000,
               "kernel_docs_per_s": kernel_docs_per_s(kernel, htmls)}
        print(MARK + json.dumps(rec), flush=True)
    spark.stop()


def fused_stages(events: list[dict]) -> dict[int, float]:
    """Stage id -> submission time (ms) of every stage running the
    fused mapInArrow."""
    out = {}
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        scopes = [json.loads(r.get("Scope") or "{}").get("name", "")
                  for r in info.get("RDD Info", [])]
        if any("MapInArrow" in s for s in scopes):
            out[info["Stage ID"]] = info.get("Submission Time", 0)
    return out


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        child(*sys.argv[2:5])
        return
    tree = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else HERE
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    pages = pages_dir(seed)
    work = tempfile.mkdtemp(prefix="fused_tasks_")
    try:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        env = dict(os.environ, PYSPARK_SUBMIT_ARGS=(
            "--conf spark.eventLog.enabled=true "
            "--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{logs} pyspark-shell"))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", tree,
             pages, work], env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        if proc.returncode:
            sys.stdout.write(proc.stdout[-4000:])
            sys.exit(proc.returncode)
        drains = [json.loads(line[len(MARK):])
                  for line in proc.stdout.splitlines()
                  if line.startswith(MARK)]
        events = []
        # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app>
        for f in sorted(glob.glob(os.path.join(logs, "**", "events_*"),
                                  recursive=True)):
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stages = fused_stages(events)
    tasks: dict[int, list] = {s: [] for s in stages}
    for e in events:
        if e.get("Event") == "SparkListenerTaskEnd" \
                and e["Stage ID"] in tasks:
            m = e.get("Task Metrics") or {}
            splits = (m.get("Input Metrics", {}).get("Records Read", 0)
                      + m.get("Shuffle Read Metrics", {})
                      .get("Total Records Read", 0))
            tasks[e["Stage ID"]].append(
                (e["Task Info"]["Launch Time"], splits,
                 m.get("Executor Run Time", 0)))
    for dr in drains:
        if dr["drain"] < 0:
            continue    # the warm-up
        mine = [t for s, sub in stages.items()
                if dr["t0_ms"] <= sub <= dr["t1_ms"] for t in tasks[s]]
        mine.sort()
        wall_s = (dr["t1_ms"] - dr["t0_ms"]) / 1000
        print(f"drain {dr['drain']} wall_s={wall_s:.3f}"
              f" fused_tasks={len(mine)}"
              f" splits_per_task={[t[1] for t in mine]}"
              f" task_run_ms={[t[2] for t in mine]}"
              f" kernel_docs_per_s_1core={dr['kernel_docs_per_s']:.0f}")


if __name__ == "__main__":
    main()
