#!/usr/bin/env python
"""Processes the driver JVM starts per streaming epoch, by command and
by thread, recorded with JFR.

    python scripts/process_starts.py [TREE]

TREE (default: the checkout this script lives in) is the checkout whose
src/ is imported, so one copy of this script measures a parent tree
exported with `git archive` and the changed tree alike. It reads the
400-doc fixture of the streaming tests, .scratch/pages_stream_400 of the
tree this script lives in (any streaming test creates it).

The query is the live_tumbling benchmark's: a pages stream through
state.stateful_glcm_agg_bucketed at its default bucket count into an
IcebergLiteTable, two fixture files per epoch, drained by
`stream.run_to_sink`, whose returned query gives the per-epoch
progress. One untimed warm-up drain of the first two files runs first;
then `jcmd <pid> JFR.start` records the measured drain of all eight
files, and `jfr print --json --events jdk.ProcessStart` reads the
recording. Without the native Hadoop library, Hadoop's local filesystem
forks `chmod` for every file and directory it creates, `readlink` for
every link-status check and `ls` for every permission read.

Prints one line per epoch: its batch id, input rows, the process starts
inside its trigger (by command, then by thread family: digits folded,
the part from " for " on dropped), `walCommit`, `commitOffsets` and
`latestOffset` in ms and the state operator's
`rocksdbChangeLogWriterCommitLatencyMs` (summed over its partitions).
A last line counts the starts outside every epoch (query start and
stop).
"""

from __future__ import annotations

import collections
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from datetime import datetime

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = os.path.join(HERE, ".scratch", "pages_stream_400")
FILES_PER_EPOCH = 2


def _ms(iso: str) -> float:
    """A progress timestamp or JFR startTime, in epoch ms."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")) \
        .timestamp() * 1000.0


def _thread(name: str) -> str:
    return re.sub(r"\d+", "N", name.split(" for ")[0])


def _counts(events: list[dict], key) -> str:
    c = collections.Counter(key(e) for e in events)
    return "{" + ", ".join(f"{k}: {n}" for k, n in c.most_common()) + "}"


def main() -> None:
    tree = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else HERE
    if not os.path.isdir(PAGES):
        sys.exit(f"missing fixture {PAGES}: run tests/test_streaming.py "
                 "once to create it")
    sys.path.insert(0, os.path.join(tree, "src"))
    os.environ["PYTHONPATH"] = os.path.join(tree, "src")
    from glcmstream import state, stream
    from glcmstream.session import get_spark
    from glcmstream.sink import IcebergLiteTable

    spark = get_spark(app="process-starts")
    jvm = spark._jvm.java.lang
    jdk_bin = os.path.join(jvm.System.getProperty("java.home"), "bin")
    pid = str(jvm.ProcessHandle.current().pid())
    files = sorted(f for f in os.listdir(PAGES) if f.endswith(".parquet"))
    work = tempfile.mkdtemp(prefix="process_starts_")

    def jcmd(*args: str) -> None:
        subprocess.run([os.path.join(jdk_bin, "jcmd"), pid, *args],
                       check=True, capture_output=True)

    def run(tag: str, names: list[str]) -> list[dict]:
        src = os.path.join(work, tag, "input")
        os.makedirs(src)
        for f in names:
            shutil.copy2(os.path.join(PAGES, f), src)
        table = IcebergLiteTable(os.path.join(work, tag, "table"))
        return stream.run_to_sink(
            state.stateful_glcm_agg_bucketed(stream.pages_stream(
                spark, src, max_files_per_trigger=FILES_PER_EPOCH)),
            table, os.path.join(work, tag, "ckpt")).recentProgress

    try:
        run("warm", files[:FILES_PER_EPOCH])
        rec = os.path.join(work, "drain.jfr")
        jcmd("JFR.start", "name=process_starts")
        try:
            progress = run("measured", files)
            jcmd("JFR.dump", "name=process_starts", f"filename={rec}")
        finally:
            jcmd("JFR.stop", "name=process_starts")
        out = subprocess.run(
            [os.path.join(jdk_bin, "jfr"), "print", "--json", "--events",
             "jdk.ProcessStart", rec],
            check=True, capture_output=True, text=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    events = [{"t": _ms(e["values"]["startTime"]),
               "command": os.path.basename(
                   e["values"]["command"].split(" ")[0]),
               "thread": _thread(
                   (e["values"].get("eventThread") or {}).get("javaName")
                   or "?")}
              for e in json.loads(out)["recording"]["events"]]
    left = events
    for p in progress:
        t0 = _ms(p["timestamp"])
        t1 = t0 + p["durationMs"].get("triggerExecution", 0)
        inside = [e for e in left if t0 <= e["t"] <= t1]
        left = [e for e in left if not t0 <= e["t"] <= t1]
        ops = p["stateOperators"]
        rocks = ops[0].get("customMetrics", {}).get(
            "rocksdbChangeLogWriterCommitLatencyMs", 0) if ops else 0
        d = p["durationMs"]
        print(f"epoch={p['batchId']} rows={p['numInputRows']} "
              f"starts={len(inside)} "
              f"by_command={_counts(inside, lambda e: e['command'])} "
              f"by_thread={_counts(inside, lambda e: e['thread'])} "
              f"walCommit={d.get('walCommit', 0)} "
              f"commitOffsets={d.get('commitOffsets', 0)} "
              f"latestOffset={d.get('latestOffset', 0)} "
              f"rocksdbChangeLogWriterCommitLatencyMs={rocks}")
    print(f"outside_epochs starts={len(left)} "
          f"by_command={_counts(left, lambda e: e['command'])} "
          f"by_thread={_counts(left, lambda e: e['thread'])}")


if __name__ == "__main__":
    main()
