#!/usr/bin/env python
"""Cold-start ledger: where a fresh process's setup time goes.

    python scripts/cold_start.py [TREE]

TREE (default: the checkout this script lives in) is the checkout whose
src/ is imported, so one copy of this script measures a parent tree
exported with `git archive` and the changed tree alike.

Three fresh child processes each run the setup a benchmark run pays:
`session.get_spark`, then the live_tumbling warm-up query (100 pages in
one file, `stream.pages_stream` -> `state.stateful_glcm_agg_bucketed`
-> foreachBatch into an IcebergLiteTable, stopped once its first epoch
has committed). They share a temporary XDG_CACHE_HOME, so the engine's
class-data-sharing archive goes through its three states:

- `no archive`: XDG_CACHE_HOME names a regular file, so there is no
  cache dir and the driver JVM launches without an archive;
- `recording`: an empty cache; the JVM records the archive at exit;
- `mapped`: the JVM maps the archive the recording child wrote.

A tree without the archive launches plainly in all three.

Per child it prints the setup, split into spans that follow one another;
the first epoch counts as the sum of its `durationMs` parts, so the
spans' sum falls short of the setup by what those parts leave out of
the epoch's triggerExecution, and is checked to be within 10% of it:

- get_spark: `launcher` (spark-submit and Spark's launcher JVM, until
  the driver JVM starts), `jvm` (until the py4j gateway answers) and
  `context` (SparkContext, session confs, py-files);
- `first job`: `stream.pages_stream`'s schema read;
- `query start`: building the query until its first trigger starts;
- `first epoch`: the first stateful epoch's `durationMs` parts, with
  the first python runner's `boot` and `init` (from Spark's `Times:`
  INFO lines) and the first sink commit (whose write runs the epoch's
  plan) nested under addBatch;
- `stop`: from the epoch's end until `stop()` returned.

It also prints the classes the driver JVM loaded from the archive
(`shared objects file (top)`), from the JDK's own archive and from jars,
counted in a `-Xlog:class+load` file (passed through JDK_JAVA_OPTIONS
in the child only), and the recording child's exit wait and archive size.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMES = re.compile(r"Times: total = (-?\d+), boot = (-?\d+), "
                   r"init = (-?\d+), finish = (-?\d+)")
# [<uptime>s][<epoch ms>ms] ... source: <where>
CLASS_LINE = re.compile(r"^\[([\d.]+)s\]\[(\d+)ms\].* source: (.*)$")
WARM_DOCS = 100


def child(tree: str, work: str) -> None:
    sys.path.insert(0, os.path.join(tree, "src"))
    os.environ["PYTHONPATH"] = os.path.join(tree, "src")
    import pyspark.core.context as pctx

    from glcmstream import fixtures, session, state, stream
    from glcmstream.sink import IcebergLiteTable

    pages = os.path.join(work, "pages")
    fixtures.write_pages_parquet(pages, n_docs=WARM_DOCS, seed=7,
                                 n_files=1)
    marks = {}
    launch = pctx.launch_gateway

    def timed_launch(*a, **k):
        gw = launch(*a, **k)
        marks["gateway"] = time.time()
        return gw

    pctx.launch_gateway = timed_launch
    t0 = time.time()
    spark = session.get_spark(app="cold-start")
    marks["get_spark"] = time.time()
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.python",
        jvm.org.apache.logging.log4j.Level.INFO)
    sdf = stream.pages_stream(spark, pages, max_files_per_trigger=None)
    marks["first_job"] = time.time()

    table = IcebergLiteTable(os.path.join(work, "table"))
    commits = []

    def commit(df, epoch_id):
        t = time.time()
        table.commit(df, epoch_id)
        commits.append((t, time.time()))

    q = (state.stateful_glcm_agg_bucketed(sdf).writeStream
         .outputMode("update")
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .foreachBatch(commit).start())
    deadline = time.time() + 300
    first = None
    while first is None and time.time() < deadline:
        first = next((p for p in q.recentProgress
                      if p["numInputRows"] > 0), None)
        time.sleep(0.05)
    q.stop()
    marks["stop"] = time.time()
    print(json.dumps({
        "t0": t0, "marks": marks, "commits": commits,
        "progress": None if first is None else json.loads(first.json),
        "jvm_pid": spark.sparkContext._gateway.proc.pid}), flush=True)


def _epoch_ms(ts: str) -> float:
    """A progress timestamp (UTC, ms) as epoch seconds."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _class_counts(path: str) -> tuple[dict, float]:
    """Class counts by source, and the JVM's start (epoch seconds)."""
    counts = {"archive": 0, "jdk_archive": 0, "jars": 0, "other": 0}
    start = None
    with open(path) as f:
        for line in f:
            m = CLASS_LINE.match(line.rstrip("\n"))
            if not m:
                continue
            if start is None:
                start = int(m.group(2)) / 1000 - float(m.group(1))
            src = m.group(3)
            if src == "shared objects file (top)":
                counts["archive"] += 1
            elif src.startswith("shared objects file"):
                counts["jdk_archive"] += 1
            elif ".jar" in src:
                counts["jars"] += 1
            else:
                counts["other"] += 1
    return counts, start


def run_child(tree: str, name: str, cache: str, root: str) -> dict:
    work = tempfile.mkdtemp(prefix=name.replace(" ", "_") + "_", dir=root)
    logs = os.path.join(work, "classes")
    os.makedirs(logs)
    env = {**os.environ, "XDG_CACHE_HOME": cache,
           "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress="
                                  "false pyspark-shell",
           "JDK_JAVA_OPTIONS": "-Xlog:class+load=info:file="
                               f"{logs}/classes_%p.log:uptime,timemillis"}
    out = subprocess.run([sys.executable, __file__, "--child", tree, work],
                         capture_output=True, text=True, env=env)
    exited = time.time()
    if out.returncode != 0:
        sys.exit(f"{name} child failed:\n{out.stderr[-4000:]}")
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    rep["name"], rep["exit_wait"] = name, exited - rep["marks"]["stop"]
    rep["classes"], rep["jvm_start"] = _class_counts(
        os.path.join(logs, f"classes_{rep['jvm_pid']}.log"))
    times = TIMES.search(out.stderr)
    rep["runner"] = (None if times is None
                     else {"boot": int(times.group(2)) / 1000,
                           "init": int(times.group(3)) / 1000})
    return rep


def ledger(rep: dict) -> list[str]:
    m, p = rep["marks"], rep["progress"]
    setup = m["stop"] - rep["t0"]
    epoch0 = _epoch_ms(p["timestamp"])
    parts = {k: v / 1000 for k, v in p["durationMs"].items()
             if k != "triggerExecution"}
    trigger = p["durationMs"]["triggerExecution"] / 1000
    spans = [("launcher", rep["jvm_start"] - rep["t0"]),
             ("jvm", m["gateway"] - rep["jvm_start"]),
             ("context", m["get_spark"] - m["gateway"]),
             ("first job", m["first_job"] - m["get_spark"]),
             ("query start", epoch0 - m["first_job"]),
             ("first epoch", sum(parts.values())),
             ("stop", m["stop"] - (epoch0 + trigger))]
    total = sum(s for _, s in spans)
    lines = [f"{rep['name']}: setup {setup:.2f}s, spans sum {total:.2f}s "
             f"({100 * total / setup:.0f}%"
             + (")" if abs(total - setup) <= 0.1 * setup
                else ", MORE THAN 10% OFF)")]
    for name, s in spans:
        lines.append(f"  {name:12s} {s:7.2f}s")
        if name == "first epoch":
            lines.append(f"    (triggerExecution {trigger:.2f}s)")
            for k, v in sorted(parts.items(), key=lambda kv: -kv[1]):
                lines.append(f"    {k:18s} {v:7.2f}s")
            if rep["runner"]:
                lines.append(f"    first python runner boot "
                             f"{rep['runner']['boot']:.2f}s, init "
                             f"{rep['runner']['init']:.2f}s")
            if rep["commits"]:
                a, b = rep["commits"][0]
                lines.append(f"    first sink commit  {b - a:7.2f}s")
    c = rep["classes"]
    lines.append(f"  classes: {c['archive']} from the archive, "
                 f"{c['jdk_archive']} from the JDK's archive, {c['jars']} "
                 f"from jars, {c['other']} other")
    lines.append(f"  exit wait {rep['exit_wait']:.2f}s")
    return lines


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        child(argv[1], argv[2])
        return 0
    tree = os.path.abspath(argv[0] if argv else HERE)
    root = tempfile.mkdtemp(prefix="cold_start_")
    try:
        no_cache = os.path.join(root, "not-a-dir")
        open(no_cache, "w").close()
        cache = os.path.join(root, "cache")
        for name, xdg in (("no archive", no_cache), ("recording", cache),
                          ("mapped", cache)):
            print("\n".join(ledger(run_child(tree, name, xdg, root))),
                  flush=True)
            jvm_dir = os.path.join(cache, "glcmstream", "jvm")
            jsas = ([f for f in os.listdir(jvm_dir) if f.endswith(".jsa")]
                    if os.path.isdir(jvm_dir) else [])
            if name == "recording":
                print("  archive: " + (", ".join(
                    f"{f} {os.path.getsize(os.path.join(jvm_dir, f)):,} B"
                    for f in jsas) or "none written"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
