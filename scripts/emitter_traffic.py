#!/usr/bin/env python
"""Per-epoch traffic of the continuous sliding emitter.

    python scripts/emitter_traffic.py TREE SF_DIR FILES ORDER

TREE is the checkout whose src/ is imported, so one copy of this script
measures a parent tree exported with `git archive` and the changed tree
alike. The derived pages table of SF_DIR (queries._derived_pages_dir)
is re-split into FILES parquet files, streamed one file per trigger
through state.sliding_glcm_stream_continuous at its defaults (10 min
windows sliding by 5 min, 30 min watermark). ORDER `time` sorts the
pages by warc_ts before the split, so each file is one stretch of event
time; `shuffled` deals a seeded shuffle of them, so every file spans
the whole corpus' event time.

Prints one JSON line per process() call:

- wall_s: the call's wall time;
- emit_read: pane rows the call's _emit read (parquet footers of the
  pane dirs it names: the live log segments, or the latest-panes store);
- pane_dirs, pane_rows: `*pane*` dirs under the table dir after the
  call, and their rows;
- in_rec, out_rec, shuf_rec: input, output and shuffle-write records of
  the Spark stages the call ran (the stateful pane stage, the pane
  write, the window assembly and the table commit);

then one `total` line with the sums, the max pane_rows, the flush's wall
time and a hash of the emitted windows (equal hashes: equal windows).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile
import time


def _rows(dirs) -> int:
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(p).num_rows for d in dirs
               for p in glob.glob(os.path.join(d, "part-*")))


def main() -> None:
    tree, sf_dir, n_files, order = sys.argv[1:5]
    tree, n_files = os.path.abspath(tree), int(n_files)
    sys.path.insert(0, os.path.join(tree, "src"))
    os.environ["PYTHONPATH"] = os.path.join(tree, "src")
    import pyarrow as pa
    import pyarrow.parquet as pq
    from glcmstream import queries, state, stream
    from glcmstream.session import get_spark
    from glcmstream.sink import IcebergLiteTable

    spark = get_spark(app="emitter-traffic")
    sc = spark.sparkContext
    gw, st = sc._gateway, sc._jsc.sc().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def stage_records():
        bus.waitUntilEmpty()
        seq = st.stageList(None, False, False,
                           gw.new_array(gw.jvm.double, 0), None)
        stages = [seq.apply(i) for i in range(seq.size())]
        return {s.stageId(): (s.inputRecords(), s.outputRecords(),
                              s.shuffleWriteRecords()) for s in stages}

    work = tempfile.mkdtemp(prefix="emitter_traffic_")
    try:
        pages = pq.read_table(queries._derived_pages_dir(spark, sf_dir))
        # Spark writes warc_ts as INT96; keep it a Spark TIMESTAMP
        i = pages.schema.get_field_index("warc_ts")
        pages = pages.set_column(i, "warc_ts", pages.column(i).cast(
            pa.timestamp("us", tz="UTC")))
        idx = list(range(pages.num_rows))
        if order == "time":
            idx.sort(key=pages.column("warc_ts").to_pylist().__getitem__)
        else:
            random.Random(42).shuffle(idx)
        pdir = os.path.join(work, "pages")
        os.makedirs(pdir)
        for i in range(n_files):
            pq.write_table(pages.take(pa.array(idx[i::n_files] if
                                               order != "time" else
                                               idx[i * len(idx) // n_files:
                                                   (i + 1) * len(idx)
                                                   // n_files])),
                           os.path.join(pdir, f"part-{i:05d}.parquet"))

        em_cls = state.ContinuousSlidingEmitter
        process, emit = em_cls.process, em_cls._emit
        rec = {"emit_read": 0}
        lines = []

        def pane_dirs(self):
            if hasattr(self, "segments"):
                return [os.path.join(self.table.table_dir, n)
                        for n in self.segments]
            return [self._store_dir(self._store_v)]

        def timed_emit(self, spark, lo, hi, epoch_id):
            rec["emit_read"] += _rows(pane_dirs(self))
            return emit(self, spark, lo, hi, epoch_id)

        def timed_process(self, batch_df, epoch_id):
            rec["emit_read"] = 0
            before = stage_records()
            t0 = time.perf_counter()
            process(self, batch_df, epoch_id)
            wall = time.perf_counter() - t0
            new = [v for k, v in stage_records().items() if k not in before]
            live = glob.glob(os.path.join(self.table.table_dir, "*pane*"))
            lines.append({"epoch": epoch_id, "wall_s": round(wall, 3),
                          "emit_read": rec["emit_read"],
                          "pane_dirs": len(live), "pane_rows": _rows(live),
                          "in_rec": sum(v[0] for v in new),
                          "out_rec": sum(v[1] for v in new),
                          "shuf_rec": sum(v[2] for v in new)})
            print(json.dumps(lines[-1]), flush=True)

        em_cls.process, em_cls._emit = timed_process, timed_emit
        table = IcebergLiteTable(os.path.join(work, "table"))
        flush = em_cls.flush
        flush_s = []

        def timed_flush(self, spark):
            t0 = time.perf_counter()
            flush(self, spark)
            flush_s.append(time.perf_counter() - t0)

        em_cls.flush = timed_flush
        t0 = time.perf_counter()
        state.sliding_glcm_stream_continuous(
            stream.pages_stream(spark, pdir, 1), table,
            os.path.join(work, "ckpt"))
        total = time.perf_counter() - t0
        rows = sorted(
            (r.lang, r.host, str(r.window_start), r.n_docs,
             *(round(r[c], 9) for c in queries.config.HARALICK_FEATURES))
            for r in table.read(spark).collect())
        summary = {"total": True, "files": n_files, "order": order,
                   "epochs": len(lines), "wall_s": round(total, 2),
                   "flush_s": round(flush_s[0], 3) if flush_s else None,
                   "windows": len(rows),
                   "windows_hash": hashlib.blake2b(
                       repr(rows).encode(), digest_size=8).hexdigest(),
                   "max_pane_rows": max(x["pane_rows"] for x in lines)}
        for k in ("emit_read", "in_rec", "out_rec", "shuf_rec"):
            summary[k] = sum(x[k] for x in lines)
        summary["process_s"] = round(sum(x["wall_s"] for x in lines), 2)
        print(json.dumps(summary), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
