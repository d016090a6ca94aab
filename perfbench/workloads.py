"""The benchmark's workloads. Each drives the engine's public pipeline
end to end (source -> kernel via fused or plan -> stream/state -> sink)
and checks the sink output against the pipeline's batch twin.

backlog_drain (supersedes bench.py leg glcm_stream_windowed_fused):
    one availableNow epoch drains a pre-written backlog of pages whose
    html runs from 2 KiB to past the 64 KiB PLANE_W x PLANE_H cap:
    fused.fused_features_stream -> stream.windowed_agg_over_features ->
    stream.run_to_sink into an IcebergLiteTable. The kernel and the
    worker-side row-group read do most of the work and the per-epoch
    fixed cost is paid once per drain. BACKLOG_DRAINS drains run, more
    while the run's seconds have not elapsed, each into a fresh table;
    docs_per_s is over the median drain.

live_tumbling (supersedes bench.py leg glcm_stateful_accum):
    small pages (the fixture default of 20-400 tokens) arrive as parquet
    files on a fixed open-loop schedule, LIVE_FILES_PER_S files of
    LIVE_DOCS_PER_FILE docs: stream.pages_stream(max_files_per_trigger=
    None) -> state.stateful_glcm_agg_bucketed -> IcebergLiteTable.commit
    once per epoch. The per-epoch fixed cost (listing, planning, WAL,
    state-store opens and commits, the sink's write plus lineage scan)
    dominates and the kernel does little.

All inputs are in event-time order, so the watermark drops no rows and
the streaming output must equal the batch twin.
"""

from __future__ import annotations

import math
import os
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from progress import EPOCH_PARTS, epoch_end_s, epoch_start_s

from glcmstream import config, fixtures, fused, state, stream
from glcmstream.sink import IcebergLiteTable

# --- backlog_drain -------------------------------------------------------
BACKLOG_DOCS = 1536
BACKLOG_FILES = 12
BACKLOG_DRAINS = 2      # at least; a median of two damps host steal
BACKLOG_ROW_GROUP_ROWS = 128
BACKLOG_MIN_BYTES = 2 * 1024
BACKLOG_MAX_BYTES = 96 * 1024
BACKLOG_WARM_DOCS = 256
BACKLOG_LATENCY_LIMIT_S = 60.0

# --- live_tumbling -------------------------------------------------------
# On a 4-core host the seed commit's epoch costs ~9.7 s fixed plus
# ~0.21 ms per row, so it keeps within the 60 s limit (epochs <= ~30 s)
# up to ~3200 rows/s; 12 x 62 docs/s (+10% re-crawl rows) is ~1/4 of that.
LIVE_FILES_PER_S = 12.0
LIVE_DOCS_PER_FILE = 62
LIVE_WARM_DOCS = 100
LIVE_LATENCY_LIMIT_S = 60.0


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return (xs[-1] if xs else 0.0), 100.0, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


class TimedSink:
    """foreachBatch target around IcebergLiteTable.commit that records
    each call's wall interval (time.time() seconds) per epoch.

    close() makes later calls fail fast: once the measured rows are all
    committed, the epoch the engine starts next (a no-data batch for
    the advanced watermark) is aborted instead of delaying stop()."""

    def __init__(self, table: IcebergLiteTable):
        self.table = table
        self.calls: list[tuple[int, float, float, bool]] = []
        self.closed = False

    def close(self) -> None:
        self.closed = True

    def commit(self, batch_df, epoch_id: int) -> None:
        if self.closed:
            raise RuntimeError("sink closed: the benchmark is stopping")
        t = time.time()
        ok = self.table.commit(batch_df, epoch_id)
        self.calls.append((int(epoch_id), t, time.time(), ok))

    def foreach_batch(self):
        return self.commit


def exactly_once(sink: TimedSink, recs: list[dict]) -> str | None:
    """Every epoch the engine completed was committed exactly once."""
    by_epoch: dict[int, int] = {}
    for e, _, _, ok in sink.calls:
        by_epoch[e] = by_epoch.get(e, 0) + (1 if ok else 0)
    for p in recs:
        e = p["batchId"]
        if by_epoch.get(e) != 1 or not sink.table.is_committed(e):
            return f"epoch {e} committed {by_epoch.get(e, 0)} times"
    return None


def _canon(pdf: pd.DataFrame, round_floats: bool) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if round_floats and pd.api.types.is_float_dtype(pdf[c]):
            # the repo's oracle-parity rounding (tests/test_oracle_parity)
            pdf[c] = pdf[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns), kind="mergesort") \
        .reset_index(drop=True)


def frames_differ(got: pd.DataFrame, exp: pd.DataFrame,
                  round_floats: bool) -> str | None:
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    g, e = _canon(got, round_floats), _canon(exp, round_floats)
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)} reference rows"
    try:
        pd.testing.assert_frame_equal(g, e, check_exact=True,
                                      check_dtype=False)
    except AssertionError as err:
        return str(err).splitlines()[0][:300]
    return None


def _windows_flat(df) -> pd.DataFrame:
    return (df.select(F.col("window.start").alias("window_start"),
                      F.col("window.end").alias("window_end"),
                      *[c for c in df.columns
                        if c not in ("window", "epoch")])
            .toPandas())


def windowed_reference(feats: pd.DataFrame) -> pd.DataFrame:
    """Batch twin of stream.windowed_agg_over_features, computed in
    pandas from per-document feature rows: tumbling event-time windows
    keyed by (lang, url host), doc count, feature means, max contrast."""
    width = pd.Timedelta(config.TUMBLING_WINDOW)
    start = feats["warc_ts"].dt.floor(width)
    keyed = feats.assign(
        window_start=start, window_end=start + width,
        host=feats["url"].str.extract(r"^[A-Za-z][\w+.-]*://([^/:?#]+)")[0])
    aggs = {"n_docs": ("contrast", "size"),
            **{f"avg_{n}": (n, "mean") for n in config.HARALICK_FEATURES},
            "max_contrast": ("contrast", "max")}
    return (keyed.groupby(["window_start", "window_end", "lang", "host"],
                          dropna=False)
            .agg(**aggs).reset_index())


def epoch_files(recs: list[dict], file_rows: list[int]) -> list[int]:
    """Index of the epoch (into recs) that committed each file. Files are
    consumed whole and in mtime order, so cumulative numInputRows at an
    epoch's end lands on a file boundary. -1: never committed."""
    out, cum, e, done = [], 0, 0, 0
    ends = []
    for p in recs:
        done += p["numInputRows"]
        ends.append(done)
    for rows in file_rows:
        cum += rows
        while e < len(ends) and ends[e] < cum:
            e += 1
        out.append(e if e < len(ends) else -1)
    return out


def stream_metrics(recs: list[dict], backlog_files: list[int]) -> dict:
    """stream.* and state.* per-layer metrics from progress records."""
    d = [p["durationMs"] for p in recs]
    ops = [p["stateOperators"][0] for p in recs if p["stateOperators"]]

    def p50(key, src=d):
        return median([x.get(key, 0) for x in src])

    def rocks(o, key):
        return o.get("customMetrics", {}).get(key, 0)

    def rocks_commit(o):
        # with changelog checkpointing the commit is the changelog sync
        return sum(v for k, v in o.get("customMetrics", {}).items()
                   if k.startswith("rocksdbCommit"))
    return {
        "stream.epochs": len(recs),
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "stream.fixed_ms_p50": median([x.get("triggerExecution", 0)
                                       - x.get("addBatch", 0) for x in d]),
        "stream.rows_per_epoch_p50": median([p["numInputRows"]
                                             for p in recs]),
        "stream.backlog_files_max": max(backlog_files, default=0),
        "state.partitions": max((o["numShufflePartitions"] for o in ops),
                                default=0),
        "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
        "state.memory_bytes": max((o["memoryUsedBytes"] for o in ops),
                                  default=0),
        "state.update_ms_p50": p50("allUpdatesTimeMs", ops),
        "state.removal_ms_p50": p50("allRemovalsTimeMs", ops),
        "state.commit_ms_p50": p50("commitTimeMs", ops),
        "state.rocksdb_commit_ms_p50": median([rocks_commit(o)
                                               for o in ops]),
        "state.rocksdb_load_ms_p50": median([rocks(o, "rocksdbLoadLatencyMs")
                                             for o in ops]),
        "state.rocksdb_bytes_written": sum(
            rocks(o, "rocksdbTotalBytesWritten") for o in ops),
        "state.rows_dropped_by_watermark": sum(
            o["numRowsDroppedByWatermark"] for o in ops),
    }


def sink_metrics(sinks: list[TimedSink]) -> dict:
    durs = [t1 - t0 for s in sinks for _, t0, t1, ok in s.calls if ok]
    rows = nbytes = 0
    for s in sinks:
        for m in s.table.manifests():
            rows += m["row_count"]
            nbytes += sum(os.path.getsize(f) for f in m["files"])
    return {"sink.commit_s_p50": median(durs), "sink.commits": len(durs),
            "sink.rows": rows, "sink.bytes": nbytes}


def trace_epochs(tracer, recs: list[dict], sink: TimedSink, parent,
                 cores: int, docs_per_row: float,
                 per_doc: list[tuple[str, float]]) -> list:
    """Rebuild each epoch as a span with its durationMs parts laid out in
    execution order and the benchmark-timed sink.commit under addBatch.
    Under the commit go the work it executes, estimated from measured
    rates: `per_doc` core-seconds per doc for each named layer (from the
    isolated runs) and the state operator's task time, each divided by
    the core count and clipped to the commit. Returns the epoch ids."""
    commits = {e: (t0, t1) for e, t0, t1, ok in sink.calls}
    ids = []
    for p in recs:
        t0 = epoch_start_s(p)
        eid = tracer.add("stream.epoch", t0, epoch_end_s(p), parent)
        ids.append(eid)
        t = t0
        for part in EPOCH_PARTS:
            ms = p["durationMs"].get(part, 0)
            pid = tracer.add(f"stream.{part}", t, t + ms / 1000.0, eid)
            t += ms / 1000.0
            if part != "addBatch" or p["batchId"] not in commits:
                continue
            c0, c1 = commits[p["batchId"]]
            cid = tracer.add("sink.commit", c0, c1, pid)
            docs = p["numInputRows"] * docs_per_row
            est = [(name, docs * s_per_doc / cores)
                   for name, s_per_doc in per_doc]
            if p["stateOperators"]:
                o = p["stateOperators"][0]
                est.append(("state.est_ops",
                            (o["allUpdatesTimeMs"] + o["allRemovalsTimeMs"]
                             + o["commitTimeMs"]) / 1000.0 / cores))
            s = c0
            for name, dur in est:
                if dur > 0 and s < c1:
                    tracer.add(name, s, min(s + dur, c1), cid)
                    s = min(s + dur, c1)
    return ids


class Workload:
    """One workload: inputs(), warm(), measure(), check(), metrics."""
    unit_name = "epoch"         # what the traced run checks additivity on

    def __init__(self, ctx):
        self.ctx = ctx

    def per_doc_costs(self, lm: dict, boundary: str, stage_key: str):
        """Core-seconds per doc of the kernel and of the stage around it
        (isolated stage time on all cores minus its kernel time)."""
        kernel_s = 1.0 / lm["kernel.docs_per_s_1core"]
        stage_s = lm[stage_key] * self.ctx.cores / self.docs
        return [("kernel.est_featurize", kernel_s),
                (boundary, max(0.0, stage_s - kernel_s))]

    @property
    def spark(self):
        return self.ctx.spark

    def _work(self, *parts) -> str:
        d = os.path.join(self.ctx.work_dir, *parts)
        os.makedirs(d, exist_ok=True)
        return d


class BacklogDrain(Workload):
    name = "backlog_drain"
    unit_name = "drain"
    latency_limit_s = BACKLOG_LATENCY_LIMIT_S

    def inputs(self) -> None:
        seed = self.ctx.seed
        self.pages = inputs.cached(
            self.ctx.cache_dir, f"backlog{BACKLOG_DOCS}", seed,
            lambda d: inputs.write_sized_pages(
                d, seed, BACKLOG_DOCS, BACKLOG_FILES, BACKLOG_MIN_BYTES,
                BACKLOG_MAX_BYTES, BACKLOG_ROW_GROUP_ROWS))
        self.warm_pages = inputs.cached(
            self.ctx.cache_dir, f"backlogwarm{BACKLOG_WARM_DOCS}", seed,
            lambda d: inputs.write_sized_pages(
                d, seed + 1_000_003, BACKLOG_WARM_DOCS, 2,
                BACKLOG_MIN_BYTES, BACKLOG_MAX_BYTES,
                BACKLOG_ROW_GROUP_ROWS))
        self.files = inputs.parquet_files(self.pages)
        self.docs = BACKLOG_DOCS

    def _drain(self, pages: str, tag: str):
        d = self._work(tag)
        sink = TimedSink(IcebergLiteTable(os.path.join(d, "table")))
        n_started = len(self.ctx.log.started)
        t0 = time.time()
        feats = fused.fused_features_stream(
            self.spark, pages, os.path.join(d, "manifests"),
            max_files_per_trigger=None)
        stream.run_to_sink(stream.windowed_agg_over_features(feats), sink,
                           os.path.join(d, "ckpt"))
        t1 = time.time()
        log = self.ctx.log
        log.wait_for(lambda lg: len(lg.started) > n_started
                     and lg.started[n_started] in lg.terminated, 30.0)
        recs = log.for_query(log.started[n_started])
        return sink, recs, t0, t1

    def warm(self) -> None:
        self._drain(self.warm_pages, "warm")

    def measure(self, seconds: float) -> None:
        self.drains = []
        start = time.time()
        while len(self.drains) < BACKLOG_DRAINS \
                or time.time() - start < seconds:
            self.drains.append(self._drain(self.pages,
                                           f"drain{len(self.drains)}"))

    def check(self) -> str | None:
        exp = windowed_reference(
            fused.fused_features_batch(self.spark, self.pages).toPandas())
        for i, (sink, recs, _, _) in enumerate(self.drains):
            err = exactly_once(sink, recs)
            if err is None:
                got = _windows_flat(sink.table.read(self.spark))
                if int(got["n_docs"].sum()) != self.docs:
                    err = f"{int(got['n_docs'].sum())} docs committed"
                else:
                    err = frames_differ(got, exp, round_floats=True)
            if err:
                return f"drain {i}: {err}"
        return None

    def end_to_end(self) -> tuple[dict, int, int]:
        walls = [t1 - t0 for _, _, t0, t1 in self.drains]
        fresh, failed = [], 0
        for _, recs, t0, t1 in self.drains:
            # every backlog file is due at the drain's start and is fresh
            # when the (single) epoch that read input ends
            ends = [epoch_end_s(p) for p in recs if p["numInputRows"]]
            f = ends[0] - t0 if ends else t1 - t0
            fresh.extend([f] * len(self.files))
            if f > self.latency_limit_s or not ends:
                failed += self.docs
        return ({"docs_per_s": self.docs / median(walls),
                 "fresh": fresh},
                self.docs * len(self.drains), failed)

    def layer_metrics(self) -> dict:
        recs = [p for _, r, _, _ in self.drains for p in r]
        m = stream_metrics(recs, [len(self.files)])
        m["stream.epochs"] = median([len(r) for _, r, _, _ in self.drains])
        m.update(sink_metrics([s for s, _, _, _ in self.drains]))
        m["bench.gen_late_ms_max"] = 0.0
        return m

    def trace(self, tracer, parent, lm: dict) -> list:
        """One span per drain (benchmark wall clock) over its epochs."""
        per_doc = self.per_doc_costs(lm, "fused.est_read", "fused.stage_s")
        out = []
        for sink, recs, t0, t1 in self.drains:
            did = tracer.add("stream.drain", t0, t1, parent)
            out.append(did)
            # the manifest stream's rows are splits; spread docs evenly
            rows = sum(p["numInputRows"] for p in recs) or 1
            trace_epochs(tracer, recs, sink, did, self.ctx.cores,
                         self.docs / rows, per_doc)
        return out


class LiveTumbling(Workload):
    name = "live_tumbling"
    latency_limit_s = LIVE_LATENCY_LIMIT_S

    def inputs(self) -> None:
        seed = self.ctx.seed
        n_files = int(math.ceil(self.ctx.seconds * LIVE_FILES_PER_S))
        self.pages = inputs.cached(
            self.ctx.cache_dir, f"live{n_files}x{LIVE_DOCS_PER_FILE}", seed,
            lambda d: fixtures.write_pages_parquet(
                d, n_docs=n_files * LIVE_DOCS_PER_FILE, seed=seed,
                n_files=n_files))
        self.warm_pages = inputs.cached(
            self.ctx.cache_dir, f"livewarm{LIVE_WARM_DOCS}", seed,
            lambda d: fixtures.write_pages_parquet(
                d, n_docs=LIVE_WARM_DOCS, seed=seed + 1_000_003, n_files=1))
        self.files = inputs.parquet_files(self.pages)
        self.file_rows = [pq.ParquetFile(f).metadata.num_rows
                          for f in self.files]
        self.docs = sum(self.file_rows)

    def _query(self, input_dir: str, tag: str):
        d = self._work(tag)
        sink = TimedSink(IcebergLiteTable(os.path.join(d, "table")))
        sdf = stream.pages_stream(self.spark, input_dir,
                                  max_files_per_trigger=None)
        out = state.stateful_glcm_agg_bucketed(sdf)
        q = (out.writeStream.outputMode("update")
             .option("checkpointLocation", os.path.join(d, "ckpt"))
             .foreachBatch(sink.foreach_batch()).start())
        return q, sink

    def warm(self) -> None:
        """The same query over a one-file slice, stopped once its first
        epoch has committed."""
        q, sink = self._query(self.warm_pages, "warm")
        qid = str(q.id)
        self.ctx.log.wait_for(lambda lg: any(
            p["numInputRows"] > 0 for p in lg.for_query(qid)), 300.0)
        sink.close()
        q.stop()

    def measure(self, seconds: float) -> None:
        d = self._work("live")
        input_dir = self._work("live", "input")
        staged = inputs.stage(self.files, os.path.join(d, "staging"))
        self.arrivals = inputs.Arrivals(staged, input_dir,
                                        1.0 / LIVE_FILES_PER_S)
        self.t0 = time.time()
        self.arrivals.start(self.t0)
        q, self.sink = self._query(input_dir, "live")
        qid = str(q.id)
        self.arrivals.join()
        log = self.ctx.log
        log.wait_for(lambda lg: sum(p["numInputRows"] for p in
                                    lg.for_query(qid)) >= self.docs,
                     self.latency_limit_s)
        self.t_end = time.time()
        self.sink.close()
        q.stop()
        self.input_dir = input_dir
        self.recs = log.for_query(qid)

    def check(self) -> str | None:
        err = exactly_once(self.sink, self.recs)
        if err:
            return err
        # update mode re-emits a key each epoch it grows: the final
        # emission is the one with the most docs
        keys = ["lang", "host", "window_start"]
        got = (self.sink.table.read(self.spark).toPandas()
               .sort_values("n_docs", kind="mergesort")
               .groupby(keys, dropna=False).tail(1)
               .drop(columns=["epoch", "n_batches"]))
        exp = state.batch_glcm_agg(
            stream.read_pages_batch(self.spark, self.input_dir)) \
            .drop("n_batches").toPandas()
        if int(got["n_docs"].sum()) != self.docs:
            return f"{int(got['n_docs'].sum())} of {self.docs} docs emitted"
        return frames_differ(got, exp, round_floats=False)

    def _file_epochs(self) -> list[int]:
        return epoch_files(self.recs, self.file_rows)

    def end_to_end(self) -> tuple[dict, int, int]:
        sched = self.arrivals.scheduled
        fresh, failed = [], 0
        for i, e in enumerate(self._file_epochs()):
            # a file never committed is at least as stale as the run's end
            f = epoch_end_s(self.recs[e]) if e >= 0 else self.t_end
            fresh.append(f - sched[i])
            failed += e < 0 or fresh[-1] > self.latency_limit_s
        done = [epoch_end_s(p) for p in self.recs if p["numInputRows"]]
        wall = (max(done) if done else self.t_end) - sched[0]
        committed = sum(p["numInputRows"] for p in self.recs)
        return ({"docs_per_s": committed / wall, "fresh": fresh},
                len(self.files), failed)

    def layer_metrics(self) -> dict:
        # files dropped but not yet consumed when each epoch started
        fe = self._file_epochs()
        backlog = []
        for k, p in enumerate(self.recs):
            t = epoch_start_s(p)
            backlog.append(sum(1 for i, d in enumerate(self.arrivals.dropped)
                               if d <= t and (fe[i] >= k or fe[i] < 0)))
        m = stream_metrics(self.recs, backlog)
        m.update(sink_metrics([self.sink]))
        m["bench.gen_late_ms_max"] = self.arrivals.lateness_ms_max()
        return m

    def trace(self, tracer, parent, lm: dict) -> list:
        per_doc = self.per_doc_costs(lm, "plan.est_udf_boundary",
                                     "plan.featurize_stage_s")
        for s, dd in zip(self.arrivals.scheduled,
                         self.arrivals.dropped):
            # drops run on the generator thread, beside the epochs: keep
            # them out of the measured tree so self times stay additive
            tracer.add("bench.drop", s, dd, None)
        return trace_epochs(tracer, self.recs, self.sink, parent,
                            self.ctx.cores, 1.0, per_doc)


WORKLOADS = {w.name: w for w in (BacklogDrain, LiveTumbling)}
