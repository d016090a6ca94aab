"""Stateful incremental GLCM co-occurrence accumulation (SURVEY.md §2.B 🛠).

The GLCM count matrix is a sum monoid over documents (tests prove the
monoid laws), so per-(lang, host, window) accumulation across micro-batches
is an elementwise add of the flattened L² vector held in GroupState —
the streaming reinterpretation of the reference's tile-accumulation
(BASELINE.json:6 "applyInPandasWithState for incremental co-occurrence
accumulation").

State is kept primitive (one packed binary blob per state group) for
checkpoint schema stability across restarts (SURVEY.md §7 watch list).

Layout. One state layout and one applyInPandasWithState state
function for every window kind. Every state group is an xxhash64 hash
bucket of the fine keys — (lang, host, window start), or (lang, host)
for a session — and holds all of the bucket's count matrices in one
packed blob (BUCKET_STATE_SCHEMA). `_bucket_merge_fn` merges each
invocation's rows into the bucket's records with one sorted gap-merge
per (lang, host): sessions at the session gap, tumbling windows and
sliding-window panes at a gap of 1 µs, so only equal window starts
merge (a pane is the tumbling window of the slide duration). It emits
Haralick features (OUTPUT_SCHEMA, SESSION_OUTPUT_SCHEMA) or, for
panes, the packed running counts (PANE_OUTPUT_SCHEMA). The blob keeps
three meta words per record, by kind: [start, n_docs, n_batches] for
windows and [start, last, n_docs] for sessions.

Each window kind has one public builder (`stateful_glcm_agg`,
`stateful_glcm_pane_agg`, `stateful_glcm_session_agg`, all with
`buckets=128`); the `*_bucketed` names and `stateful_glcm_agg_fused`
are aliases of them. The builders are thin wrappers over one input
helper, `_stateful_glcm` (watermark, try_parse_url host,
window/pane/timestamp column, map-side gvec UDF, bucket hash). Every
state operator runs under GroupStateTimeout.EventTimeTimeout; there is
no NoTimeout mode. The event-time timeout is what evicts state once the
watermark passes a key's window end (plus RETAIN_US, or the session
gap), and it also switches on Spark's late-row filter in front of the
state function, so no row older than the watermark ever reaches evicted
state.

Sliding windows have ONE assembly, `sliding_windows_from_emissions`:
raw pane emissions -> latest emission per pane -> window sums and
features, in one shuffle. The registry query runs it once over a
drain's emissions; `ContinuousSlidingEmitter` runs it every epoch over
its pane log. The log is append-only: one parquet segment per epoch
(`paneseg_<epoch>` under the table dir) holding that epoch's pane rows,
named with its max pane_start in the emitter's meta json. Each epoch's
scan covers every live segment, but only the panes of the windows it
emits enter the assembly's exchange. A segment is
pruned whole, once its max pane_start + L is at or below the emit
bound, so a pane touched in k epochs sits in the log k times, and
event time that arrives out of order keeps segments live (bound and
measurements: the emitter's docstring). Crash order per epoch: write
the segment, commit the windows, save the meta, then delete every pane
dir the meta does not name.

Cost model (measured at 55k docs / 13.4k (lang,host,window) keys x 2
epochs, local[32]): the python state function itself is ~1.4s of wall
(balanced across workers; input conversion + vector sum + feature
emission), the identical pipeline with a BUILT-IN streaming agg in
place of the pandas state op runs 5.3-7.5s. With one state group per
fine key the full stateful run was ~12.6s — the delta is
applyInPandasWithState's per-group Arrow/state protocol plus ~200us/key
of Python-side emission overhead, proportional to GROUP COUNT, not data
volume. Hash-bucketed state amortizes that per-group cost over
~keys/buckets fine keys and runs the same pipeline in ~5.5s with
identical emissions.
Spark 4's transformWithStateInPandas (arrow-batched state records) was
evaluated as a faster protocol but is unusable in this environment:
its state protocol requires google.protobuf, which the container does
not ship.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import warnings
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from . import config, kernel, stream
from .session import trim_zip_finders

L2 = config.GRAY_LEVELS * config.GRAY_LEVELS

# the one timeout mode of every state operator (see module docstring)
TIMEOUT = GroupStateTimeout.EventTimeTimeout
# a window key leaves state once the watermark passes its end + 1 h
RETAIN_US = 3_600_000_000

OUTPUT_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("host", StringType()),
    StructField("window_start", TimestampType()),
    StructField("n_docs", LongType()),
    StructField("n_batches", LongType()),
    *[StructField(n, DoubleType()) for n in config.HARALICK_FEATURES],
])

# A sliding window of length L and slide S (S divides L) is the sum of
# L/S contiguous PANES of duration S. The GLCM count matrix is a sum
# monoid, so accumulating per PANE and summing panes at emission is
# exact — and each document's 4 KiB count vector crosses the state
# exchange ONCE (keyed by its pane) instead of L/S times (the naive
# F.window sliding duplication), which at 100 TB is the difference
# between one corpus-sized exchange and L/S of them. Features are a
# nonlinear function of counts, so a pane emits its running COUNTS and
# features are computed once per assembled window.
PANE_OUTPUT_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("host", StringType()),
    StructField("pane_start", TimestampType()),
    StructField("counts", BinaryType()),
    StructField("n_docs", LongType()),
    StructField("n_batches", LongType()),
])


def _duration_us(spec: str) -> int:
    n, unit = spec.split()
    mult = {"second": 1_000_000, "seconds": 1_000_000,
            "minute": 60_000_000, "minutes": 60_000_000,
            "hour": 3_600_000_000, "hours": 3_600_000_000}[unit]
    return int(n) * mult


def _features(mats: np.ndarray) -> dict[str, np.ndarray]:
    """(n, L2) integer-valued count matrices -> the n Haralick feature
    rows (float64 conversion is exact: counts < 2^53)."""
    return kernel.haralick_batch(kernel.normalize_glcm(
        mats.astype(np.float64).reshape(len(mats), config.GRAY_LEVELS,
                                        config.GRAY_LEVELS)))


def _gvecs(pdf: pd.DataFrame) -> np.ndarray:
    """A chunk's packed per-doc count vectors -> (rows, L2) uint32."""
    return np.frombuffer(b"".join(pdf["gvec"]), dtype="<u4") \
        .reshape(len(pdf), L2)


def _arm(state: GroupState, evict_us: int) -> None:
    """Evict the group once the watermark passes evict_us (rounded up
    to whole ms), never at or behind the current watermark, which
    setTimeoutTimestamp rejects."""
    state.setTimeoutTimestamp(max(-(-int(evict_us) // 1000),
                                  state.getCurrentWatermarkMs() + 1))


def _pack_counts(counts: np.ndarray) -> bytes:
    """Pane-EMISSION wire codec: zlib(level 1) over the '<i8' count
    matrix. A pane's 1024-cell matrix is dominated by small/zero cells
    (one (0,0) pad-pair hot cell aside), so the 8 KiB blob compresses
    ~8x — and the emission payload is what every downstream pass moves:
    the update-mode sink, the finalizer's exchange, the continuous
    emitter's pane log. At the 55k-doc bench fixture that is ~255 MB
    of emissions shrunk to ~35 MB for ~60 ms of worker CPU; on the
    memory-bandwidth-contended host this is the difference between the
    sliding leg amplifying under load and not. Deterministic (fixed
    level, one zlib), so the same pane state always emits
    byte-identical rows. Internal wire format: every consumer
    (the finalizer, the emitter's log) is in this module."""
    return zlib.compress(counts.astype("<i8").tobytes(), 1)


def _unpack_counts_rows(col) -> np.ndarray:
    """Column of emission count blobs -> (n, L2) int64 matrix."""
    return np.frombuffer(
        b"".join(zlib.decompress(b) for b in col),
        dtype="<i8").reshape(len(col), L2)


def _window_rows(keys: list, meta: np.ndarray, mats: np.ndarray,
                 counts: bool) -> pd.DataFrame:
    """Emission rows of window keys [(lang, host)] with meta (n, 3)
    [start_us, n_docs, n_batches] and count matrices mats (n, L2):
    PANE_OUTPUT_SCHEMA rows carrying the packed counts if `counts`,
    else OUTPUT_SCHEMA rows carrying the features."""
    cols = {"lang": [k[0] for k in keys], "host": [k[1] for k in keys]}
    start = pd.to_datetime(meta[:, 0], unit="us")
    if counts:
        return pd.DataFrame({**cols, "pane_start": start,
                             "counts": [_pack_counts(m) for m in mats],
                             "n_docs": meta[:, 1], "n_batches": meta[:, 2]})
    return pd.DataFrame({**cols, "window_start": start,
                         "n_docs": meta[:, 1], "n_batches": meta[:, 2],
                         **_features(mats)})


SESSION_OUTPUT_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("host", StringType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_docs", LongType()),
    *[StructField(n, DoubleType()) for n in config.HARALICK_FEATURES],
])


def _session_rows(keys: list, meta: np.ndarray, mats: np.ndarray,
                  gap_us: int) -> pd.DataFrame:
    """SESSION_OUTPUT_SCHEMA rows of session fragments of keys
    [(lang, host)] with meta (n, 3) [start_us, last_us, n_docs] and count
    matrices mats (n, L2)."""
    return pd.DataFrame({
        "lang": [k[0] for k in keys], "host": [k[1] for k in keys],
        "session_start": pd.to_datetime(meta[:, 0], unit="us"),
        "session_end": pd.to_datetime(meta[:, 1] + gap_us, unit="us"),
        "n_docs": meta[:, 2], **_features(mats)})


def glcm_vec_udf():
    """Arrow UDF: html -> flattened L² GLCM count vector (map-side),
    packed as little-endian uint32 BYTES: a bytes column converts ~10x
    faster than a 1024-element array<double> in the Arrow serializer,
    and uint32 halves the state-exchange payload vs float64 (4 KiB/doc).
    Counts fit uint32 exactly — one document's pair count is bounded by
    plane pixels x angles << 2^32 — and the state side re-widens to
    int64/float64, so accumulated features are bit-identical to the
    float64 packing."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _vec(html: pd.Series) -> pd.Series:
        trim_zip_finders()
        counts = kernel.glcm_counts_htmls(html.tolist())
        n = len(html)
        flat = counts.reshape(n, -1).astype("<u4")
        return pd.Series([flat[i].tobytes() for i in range(n)])
    return _vec


def _stateful_glcm(stream: DataFrame, watermark: str, value, buckets: int,
                   gap_us: int, horizon_us: int, session: bool = False,
                   counts: bool = False) -> DataFrame:
    """The input side shared by every stateful builder: watermark on
    warc_ts, host via try_parse_url (plain parse_url THROWS on a
    malformed URL under Spark 4 ANSI, killing the stream), the window or
    pane start `ws_us` (a session's event time `ts_us`) = `value`, the
    map-side gvec UDF unless the stream already carries gvec (the fused
    scan), then one state group per xxhash64 bucket of the fine key —
    (lang, host, ws_us), or (lang, host) for a session — running
    _bucket_merge_fn(gap_us, horizon_us, session, counts).

    Decode + per-doc GLCM run map-side (scan partitions, before any
    exchange); only the fixed-size count vector shuffles to the state
    partitions, so hot-host keys cost the state store an add, not a
    kernel run, and page bodies never cross a shuffle."""
    col = "ts_us" if session else "ws_us"
    fine = ["lang", "host"] + ([] if session else [col])
    out_schema = (SESSION_OUTPUT_SCHEMA if session
                  else PANE_OUTPUT_SCHEMA if counts else OUTPUT_SCHEMA)
    keyed = (stream
             .withWatermark("warc_ts", watermark)
             .withColumn("host", F.try_parse_url("url", F.lit("HOST")))
             .withColumn(col, value))
    if "gvec" not in stream.columns:
        keyed = keyed.withColumn("gvec", glcm_vec_udf()("html"))
    return (keyed
            .withColumn("bucket", F.pmod(F.xxhash64(*fine), F.lit(buckets)))
            .select("bucket", "lang", "host", col, "gvec", "warc_ts")
            .groupBy("bucket")
            .applyInPandasWithState(
                _bucket_merge_fn(gap_us, horizon_us, session, counts),
                out_schema, BUCKET_STATE_SCHEMA, "update", TIMEOUT))


def _window_agg(stream: DataFrame, window: str, watermark: str,
                counts: bool, buckets: int) -> DataFrame:
    """Tumbling-window state (features) or, with `counts`, pane state
    (packed counts; a pane is the tumbling window of the slide). Window
    starts merge at gap 1 µs: equal starts only."""
    return _stateful_glcm(
        stream, watermark, F.unix_micros(F.window("warc_ts", window).start),
        buckets, 1, _duration_us(window) + RETAIN_US, counts=counts)


def stateful_glcm_agg(pages_stream: DataFrame,
                      window: str = config.TUMBLING_WINDOW,
                      watermark: str = config.WATERMARK_DELAY,
                      buckets: int = 128) -> DataFrame:
    """pages stream -> per-(lang, host, tumbling-window) incrementally
    accumulated GLCM Haralick features, state keyed by xxhash64 bucket
    of the fine key (see _bucket_merge_fn).

    The stream may be a fused gvec stream (fused.fused_gvec_stream):
    its rows already carry the packed per-doc count vector, computed
    inside the worker-side row-group read, so page bytes never enter
    the JVM, and the state stage is the same. When to choose which
    (measured, local[32], 55k-doc fixture): with small pages the two
    are within host noise of each other (classic 13.6-21.8s vs fused
    15.7-17.9s) because the fixed 4 KiB gvec leaving the python worker
    costs about what the small html costs entering it; the fused path
    pays off when page bytes >> 4 KiB (real web crawls at 50-100
    KiB/doc), where the classic path's html-through-Arrow pipe is the
    scaling ceiling (see fused.py module docstring)."""
    return _window_agg(pages_stream, window, watermark, False, buckets)


stateful_glcm_agg_bucketed = stateful_glcm_agg
stateful_glcm_agg_fused = stateful_glcm_agg


# ===========================================================================
# Bucketed state: amortize the per-group state protocol
# ===========================================================================
# Measured cost anatomy of one state group per (lang, host, window) key
# at 27k keys, local[32] (round-4): the identical pipeline with a
# built-in count agg runs 5.3 s, the stateful run ~12.6 s, and ~5.5 s of
# the delta is PER-INVOCATION Python overhead — ~150 us to construct
# each single-row emission DataFrame + ~55 us of per-key feature math —
# which no protocol tuning removes (fewer epochs measured flat: 12.9 s
# at 1 epoch vs 12.0 s at 2). Two round-3-verdict levers were measured
# and REJECTED first: (a) JVM-native wide-column sums — explode the
# count vector to array<long> and aggregate with L²=1024 built-in
# sum() columns — runs ~30 s on the 440-doc test fixture alone
# (Catalyst planning + codegen fallback on 1024 aggregate buffers
# dominates; two orders of magnitude off at 1/100th the data), and
# (b) fewer/larger micro-batches, flat as above because the overhead
# is per KEY, not per epoch. The fix that works is to key the state by
# HASH BUCKET instead of fine key: one applyInPandasWithState group per
# bucket holds all of the bucket's fine-key count matrices in a single
# packed blob, so each invocation amortizes the protocol + DataFrame +
# feature cost over ~keys/buckets fine keys, with the sums and the
# Haralick features vectorized ACROSS keys (numpy add.at / stacked
# haralick_batch), in ~5.5 s with the same emissions. It is the only
# state layout; the spec-named API (applyInPandasWithState,
# BASELINE.json:6) remains the state engine. At cluster scale `buckets`
# should be ~4x total cores: state per bucket stays keys/buckets x
# 8 KiB and hash-spreads hot keys.

BUCKET_STATE_SCHEMA = StructType([
    # fine-key records packed back-to-back: u2 lang_len, lang utf8,
    # u2 host_len, host utf8, then three <i8 meta words and the <i8 L2
    # count matrix. The meta words depend on the state operator's kind
    # (windows: start_us, n_docs, n_batches; sessions: start_us,
    # last_us, n_docs); _bucket_merge_fn maps them to and from its
    # in-memory [start, last, n_docs, n_batches]. A BinaryType state
    # value crosses the state protocol as one buffer, where
    # array<double> boxes 1024 elements per key per batch (round-2
    # verdict #4); counts are integers, so int64 accumulation is exact
    # and converts to float64 losslessly (< 2^53) for the feature math
    StructField("blob", BinaryType()),
])


_NULL_LEN = 0xFFFF  # length sentinel: a None key component (e.g.
# F.try_parse_url returns NULL for malformed URLs — plain parse_url
# THROWS under Spark 4 ANSI, killing the stream, so every host
# extraction in this engine uses the try_ variant). Encoding None in the
# blob gives a NULL key component its own fine key, the way Spark's
# grouping treats null keys (round-4 advice #2).
_EXT_LEN = 0xFFFE  # escape marker: component >= 0xFFFE bytes stores its
# true length as a following u4 (round-5 advice #1: without the escape,
# a host of exactly 0xFFFF bytes ALIASED the None sentinel — silently
# corrupting every later offset in the bucket — and >= 0x10000 bytes
# made int.to_bytes(2) raise in the executor, killing the stream;
# hostile crawl URLs can carry arbitrarily long host components, and
# the blob must keep a key of any length intact)


def _enc_key(s) -> bytes:
    if s is None:
        return _NULL_LEN.to_bytes(2, "little")
    b = s.encode()
    if len(b) >= _EXT_LEN:
        return (_EXT_LEN.to_bytes(2, "little")
                + len(b).to_bytes(4, "little") + b)
    return len(b).to_bytes(2, "little") + b


def _pack_bucket(keys: list, mats: np.ndarray, meta: np.ndarray) -> bytes:
    """keys: [(lang, host)], meta: (n,3) int64, mats: (n, L2) int64. The
    joined blob is zlib(level 1) compressed: a bucket's ~keys/buckets x
    8 KiB of count matrices is dominated by small cells (~5.5x ratio at
    ~12 ms/bucket), and the blob crosses the per-bucket state protocol
    TWICE per epoch (get + update) plus the RocksDB changelog — at the
    bench fixture that is ~900 MB/epoch of Arrow state traffic shrunk to
    ~160 MB for well under 0.1 s of (parallel) worker CPU."""
    parts = []
    for (lang, host), m, mt in zip(keys, mats, meta):
        parts.append(_enc_key(lang) + _enc_key(host)
                     + mt.astype("<i8").tobytes()
                     + m.astype("<i8").tobytes())
    return zlib.compress(b"".join(parts), 1)


def _dec_key(buf: bytes, off: int):
    ln = int.from_bytes(buf[off:off + 2], "little"); off += 2
    if ln == _NULL_LEN:
        return None, off
    if ln == _EXT_LEN:
        ln = int.from_bytes(buf[off:off + 4], "little"); off += 4
    return buf[off:off + ln].decode(), off + ln


def _unpack_bucket(buf: bytes):
    buf = zlib.decompress(buf)
    keys, metas, mats = [], [], []
    off, n = 0, len(buf)
    while off < n:
        lang, off = _dec_key(buf, off)
        host, off = _dec_key(buf, off)
        metas.append(np.frombuffer(buf, dtype="<i8", count=3, offset=off))
        off += 24
        mats.append(np.frombuffer(buf, dtype="<i8", count=L2, offset=off))
        off += L2 * 8
        keys.append((lang, host))
    if not keys:
        return [], np.zeros((0, 3), np.int64), np.zeros((0, L2), np.int64)
    return keys, np.stack(metas).copy(), np.stack(mats).copy()


def _load_bucket(state: GroupState):
    """The bucket's (keys, meta, mats), empty for a new bucket."""
    if state.exists:
        return _unpack_bucket(state.get[0])
    return [], np.zeros((0, 3), np.int64), np.zeros((0, L2), np.int64)


# pyspark's applyInPandasWithState serializer pads an Arrow batch that
# holds fewer output rows than state rows (a bucket that emits nothing
# still writes its state row) with an all-None frame, and pandas warns at
# its pd.concat of that frame; no frame the state function yields is
# concerned
_PADDING_MESSAGE = re.escape(
    "The behavior of DataFrame concatenation with empty or all-NA entries "
    "is deprecated. In a future version, this will no longer exclude "
    "empty or all-NA columns when determining the result dtypes. To "
    "retain the old behavior, exclude the relevant entries before the "
    "concat operation.") + r"\Z"
_SERIALIZERS = r"pyspark\.sql\.pandas\.serializers\Z"


def _ignore_padding_warning() -> None:
    """The one warnings filter of a state worker, added once per process:
    every filterwarnings call resets the worker's record of warnings
    already shown. Entries of warnings.filters are (action, message,
    category, module, lineno), the patterns compiled as filterwarnings
    compiles them."""
    if ("ignore", re.compile(_PADDING_MESSAGE, re.I), FutureWarning,
            re.compile(_SERIALIZERS), 0) not in warnings.filters:
        warnings.filterwarnings("ignore", _PADDING_MESSAGE, FutureWarning,
                                _SERIALIZERS)


def _save_bucket(state: GroupState, keys: list, meta: np.ndarray,
                 mats: np.ndarray, evict_us: np.ndarray) -> None:
    """Write back the fine keys whose eviction instant evict_us still
    lies past the watermark, armed to fire at the earliest of them;
    remove the bucket's state when none is left."""
    keep = evict_us > state.getCurrentWatermarkMs() * 1000
    if not keep.any():
        state.remove()
        return
    state.update((_pack_bucket([k for k, kp in zip(keys, keep) if kp],
                               mats[keep], meta[keep]),))
    _arm(state, evict_us[keep].min())


def _bucket_merge_fn(gap_us: int, horizon_us: int, session: bool,
                     counts: bool = False):
    """The state function of every stateful builder: one state group per
    hash bucket holds all of its fine keys' records in one packed blob,
    and each invocation merges the bucket's new rows into them.

    In memory a record is [start, last, n_docs, n_batches] plus its L²
    count matrix. Each row becomes a one-document record with
    start = last = t: the window (or pane) start `ws_us`, or for a
    session the event time `ts_us`. Stored records and every Arrow
    chunk's rows are sorted by (NULL-safe (lang, host) code, start) and
    merged in one pass: a group starts at a key change or where
    start - (running max of last within the key) >= gap_us. The `<` that
    joins is strict, as in Spark's session_window (an event joins a
    session while ts < last + gap). Windows and panes pass gap_us = 1:
    equal starts merge and distinct starts, a window apart, never do — a
    tumbling window is a session whose events all carry its start. A
    group takes its first start and its max last and sums n_docs,
    n_batches and the counts; integer sums and the interval union are
    confluent, so arrival order and Arrow chunking never change the
    result. A group holding a new row is touched: its n_batches grows by
    one per invocation, however Spark cuts the bucket's rows into chunks
    (at most spark.sql.execution.arrow.maxRecordsPerBatch rows each),
    and it emits its running total (features or packed pane counts, see
    _window_rows; a session fragment, see _session_rows). A record
    leaves the blob once the watermark passes last + horizon_us: window
    end + RETAIN_US, or the session gap. A timed-out invocation has no
    rows and only evicts.

    The blob keeps three meta words per record, chosen by kind: a
    window's [start, n_docs, n_batches] (its last is its start) and a
    session's [start, last, n_docs] (its n_batches is never emitted).
    Each state operator is built by one builder, so the kind of every
    blob it reads is known.

    Input rows carry `gvec` — the per-document flattened L² count
    vector, computed MAP-SIDE by glcm_vec_udf before the state exchange.
    The raw html never crosses the shuffle (round-1 verdict: shuffling
    page bodies into the state partitions serializes the whole corpus
    per window at 10^12 docs and concentrates kernel compute on hot
    keys)."""
    col, stored = ("ts_us", [0, 1, 2]) if session else ("ws_us", [0, 2, 3])

    def merge_bucket(key, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
        trim_zip_finders()
        _ignore_padding_warning()
        keys, blob_meta, mats = _load_bucket(state)
        n_old = len(keys)
        meta = np.zeros((n_old, 4), np.int64)
        meta[:, stored] = blob_meta
        if not session:
            meta[:, 1] = meta[:, 0]     # a window's last is its start
        langs = [np.array([k[0] for k in keys], object)]
        hosts = [np.array([k[1] for k in keys], object)]
        metas, vecs = [meta], [mats]
        for pdf in pdfs:
            t = pdf[col].to_numpy(np.int64)
            langs.append(pdf["lang"].to_numpy(object))
            hosts.append(pdf["host"].to_numpy(object))
            metas.append(np.stack(
                [t, t, np.ones_like(t), np.zeros_like(t)], axis=1))
            vecs.append(_gvecs(pdf))
        langs, hosts, meta, mats = map(np.concatenate,
                                       (langs, hosts, metas, vecs))
        # use_na_sentinel=False: a NULL component gets its own code
        # instead of -1, which would collide across the two columns
        lc = pd.factorize(langs, use_na_sentinel=False)[0]
        hc = pd.factorize(hosts, use_na_sentinel=False)[0]
        code = lc * len(hc) + hc
        order = np.lexsort((meta[:, 0], code))
        code, meta = code[order], meta[order]
        # running max of last within each key, on dense ranks offset by
        # key so that the maximum restarts at every key (no int64
        # overflow: offsets stay below rows²)
        vals, rank = np.unique(meta[:, 1], return_inverse=True)
        off = code * len(vals)
        run = vals[np.maximum.accumulate(rank + off) - off]
        cut = np.ones(len(code), bool)
        cut[1:] = ((code[1:] != code[:-1])
                   | (meta[1:, 0] - run[:-1] >= gap_us))
        first = np.flatnonzero(cut)
        ends = np.r_[first[1:], len(code)]
        touched = np.logical_or.reduceat(order >= n_old, first)
        rec = np.stack([meta[first, 0],
                        np.maximum.reduceat(meta[:, 1], first),
                        np.add.reduceat(meta[:, 2], first),
                        np.add.reduceat(meta[:, 3], first) + touched], 1)
        # per-group matrix sums: a 2-D reduceat along axis 0 pays a
        # per-segment overhead (measured ~15 us), so copy the one-record
        # groups and sum only the merged ones
        head = order[first]
        sums = mats[head]
        for j in np.flatnonzero(ends - first > 1):
            sums[j] = mats[order[first[j]:ends[j]]].sum(axis=0)
        gkeys = list(zip(langs[head], hosts[head]))
        _save_bucket(state, gkeys, rec[:, stored], sums,
                     rec[:, 1] + horizon_us)
        ti = np.flatnonzero(touched)
        if len(ti):
            out = ([gkeys[i] for i in ti], rec[ti][:, stored], sums[ti])
            yield (_session_rows(*out, gap_us) if session
                   else _window_rows(*out, counts))
    return merge_bucket


# ===========================================================================
# Pane-based SLIDING-window stateful accumulation (round-3 verdict #1 /
# SURVEY §4.2 "pane-based for sliding"; BASELINE.json:6 names tumbling,
# sliding AND session windows for the co-occurrence accumulation)
# ===========================================================================

SLIDING_OUTPUT_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("host", StringType()),
    StructField("window_start", TimestampType()),
    StructField("n_docs", LongType()),
    *[StructField(n, DoubleType()) for n in config.HARALICK_FEATURES],
])


def stateful_glcm_pane_agg(pages_stream: DataFrame,
                           slide: str = config.SLIDING_WINDOW[1],
                           watermark: str = config.WATERMARK_DELAY,
                           buckets: int = 128) -> DataFrame:
    """pages stream -> per-(lang, host, PANE) incrementally accumulated
    GLCM count vectors (update mode; the memory/table sink keeps the
    latest emission per pane key). A pane is the tumbling window of the
    SLIDE duration: this is the tumbling state at window=slide, emitting
    counts."""
    return _window_agg(pages_stream, slide, watermark, True, buckets)


stateful_glcm_pane_agg_bucketed = stateful_glcm_pane_agg


def sliding_windows_from_emissions(emissions: DataFrame,
                                   length: str = config.SLIDING_WINDOW[0],
                                   slide: str = config.SLIDING_WINDOW[1]
                                   ) -> DataFrame:
    """The sliding-window assembly: raw update-mode pane emissions ->
    sliding-window features in ONE shuffle. The emissions repartition
    once by (lang, host) and both steps run worker-side:

    - latest-per-pane: rows arrive sorted by (lang, host, pane_start,
      n_docs); a touched pane's n_docs strictly increases across its
      emissions, so the last row of a pane's run is its final state.
      Emissions from any number of epochs (or stores) may be unioned
      in: only the fullest one per pane counts.
    - pane->window expansion: the windows a pane touches are
      window_start = pane_start - i*slide, i < r = L/S. Candidates are
      generated worker-side as fused int64 codes (8 BYTES each, not
      8 KiB pane copies), deduped with np.unique, and every window's
      count sum is a difference of one global int64 cumsum at
      np.searchsorted bounds — zero per-row or per-key Python. Key and
      slide-index fuse as kcode*BIG + gz with gz >= 1 and the max
      per-key span + r < BIG, so codes are strictly increasing across
      the sorted partition and a window's [code, code+r) range can
      never cross into another key's block. Counts are integers, so
      any summation order is bit-identical to the independent html
      route (pinned by test_sliding_from_emissions_matches_batch_html).

    Each pane row crosses the exchange once; the L/S window copies are
    8-byte codes, never 8 KiB pane copies (a groupBy-then-explode plan
    shuffles (1 + L/S) x the pane payload in two exchanges, 13x at a
    production 1 h / 5 min window). Assembly is partition-resident
    (one concat of the partition's Arrow chunks): pane rows are
    key-cardinality, not doc-cardinality, so a shuffle partition holds
    them comfortably; spark.sql.shuffle.partitions (one partition per
    core by default, see session.get_spark) sets the stage width.
    """
    l_us, s_us = _duration_us(length), _duration_us(slide)
    assert l_us % s_us == 0, "slide must divide window length"
    r = l_us // s_us

    def assemble(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_finders()
        chunks = [pdf for pdf in it if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        ps_all = pdf["pane_start"].to_numpy().astype("datetime64[us]") \
            .astype(np.int64)

        def key_change(frame):
            # null-safe key boundaries: factorize gives NULL its own
            # code (a pandas `!=` treats None as unequal to itself and
            # would split a null-host key into per-row groups)
            lc, _ = pd.factorize(frame["lang"], use_na_sentinel=False)
            hc, _ = pd.factorize(frame["host"], use_na_sentinel=False)
            chg = (lc != np.roll(lc, 1)) | (hc != np.roll(hc, 1))
            chg[0] = True
            return chg

        kchg_all = key_change(pdf)
        pchg = kchg_all | (ps_all != np.roll(ps_all, 1))
        pchg[0] = True
        last_of_pane = np.roll(pchg, -1)
        last_of_pane[-1] = True
        sub = pdf.iloc[np.flatnonzero(last_of_pane)].reset_index(drop=True)

        n = len(sub)
        ps = ps_all[last_of_pane]
        kchg = key_change(sub)
        kcode = np.cumsum(kchg) - 1
        first_rows = np.flatnonzero(kchg)
        g = ps // s_us                      # panes sit on the slide grid
        gz = g - g.min() + r                # >= r, so w = gz-i stays >= 1
        big = int(gz.max()) + r + 2
        stored = kcode * big + gz           # strictly increasing
        mats = _unpack_counts_rows(sub["counts"])
        ucand = np.unique((stored[:, None]
                           - np.arange(r, dtype=np.int64)[None, :]).ravel())
        lo = np.searchsorted(stored, ucand, side="left")
        hi = np.searchsorted(stored, ucand + r, side="left")
        # each window sums the contiguous pane-row range [lo, hi);
        # interleaved-pairs reduceat (even slots = the [lo, hi) sums,
        # odd slots discarded). The reduction MUST run along the
        # contiguous axis: reduceat/cumsum along axis 0 of a C-order
        # (n, L2) block degenerates to L2 cache-hostile 8 KiB-strided
        # passes (measured 5 s/partition vs milliseconds transposed),
        # so transpose-copy once and reduce each of the L2 rows over
        # contiguous segments. A zero pad column makes index n legal.
        matsT = np.ascontiguousarray(
            np.vstack([mats, np.zeros((1, L2), np.int64)]).T)
        pairs = np.empty(2 * len(ucand), dtype=np.int64)
        pairs[0::2] = lo
        pairs[1::2] = hi
        wsum = np.ascontiguousarray(
            np.add.reduceat(matsT, pairs, axis=1)[:, 0::2].T)
        ndp = np.concatenate([sub["n_docs"].to_numpy(), [0]])
        wdocs = np.add.reduceat(ndp, pairs)[0::2]
        wk = ucand // big
        ws_us = (ucand % big + g.min() - r) * s_us
        langs = sub["lang"].to_numpy()
        hosts = sub["host"].to_numpy()
        yield pd.DataFrame({
            "lang": langs[first_rows[wk]],
            "host": hosts[first_rows[wk]],
            "window_start": pd.to_datetime(ws_us, unit="us"),
            "n_docs": wdocs, **_features(wsum)})

    # explicit partition COUNT: a bare repartition("lang","host") lets
    # AQE coalesce the ~8 KiB-row exchange below its 64 MB advisory
    # size (measured: 10 of 32 partitions survived), starving the
    # python assembly stage; repartition-by-num is exempt from AQE
    # coalescing, keeping the stage at full parallelism
    nparts = int(emissions.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    return (emissions
            .repartition(nparts, "lang", "host")
            .sortWithinPartitions("lang", "host", "pane_start", "n_docs")
            .mapInPandas(assemble, SLIDING_OUTPUT_SCHEMA))


def batch_glcm_agg_sliding(pages: DataFrame,
                           length: str = config.SLIDING_WINDOW[0],
                           slide: str = config.SLIDING_WINDOW[1]
                           ) -> DataFrame:
    """Batch oracle for the pane-based sliding path: INDEPENDENT compute
    route — raw html per (lang, host, window) with the window membership
    written out long-hand (row at t belongs to windows starting at
    floor(t/S)*S - i*S for i < L/S, Spark's epoch-aligned sliding window
    semantics), counts summed from the html by the kernel. Must agree
    exactly with stream->panes->finalize for the same input."""
    l_us, s_us = _duration_us(length), _duration_us(slide)
    r = l_us // s_us

    def agg_group(key, pdf):
        trim_zip_finders()
        lang, host, window_start = key
        counts = kernel.glcm_counts_htmls(pdf["html"].tolist()) \
            .sum(axis=0).reshape(1, -1)
        return pd.DataFrame({
            "lang": [lang], "host": [host], "window_start": [window_start],
            "n_docs": [len(pdf)], **_features(counts)})

    keyed = (pages
             .withColumn("host", F.try_parse_url("url", F.lit("HOST")))
             .withColumn("_i", F.explode(F.array(
                 *[F.lit(i) for i in range(r)])))
             .withColumn("window_start", F.timestamp_micros(
                 F.floor(F.unix_micros("warc_ts") / F.lit(s_us))
                 .cast("long") * F.lit(s_us)
                 - F.col("_i").cast("long") * F.lit(s_us)))
             .select("lang", "host", "window_start", "html"))
    return (keyed.groupBy("lang", "host", "window_start")
            .applyInPandas(agg_group, SLIDING_OUTPUT_SCHEMA))


# segment schema: pane_start as unix micros, the pre-log store's layout
_SEGMENT_DDL = ("lang string, host string, pane_start long, counts binary, "
                "n_docs long")


def _max_pane_start(seg_dir: str) -> int | None:
    """Largest pane_start of a written pane-log segment, from its part
    files' parquet footer statistics (no Spark job); None when the
    segment holds no rows."""
    # imported here: the emitter runs on the driver, while every python
    # worker imports this module for the state functions
    import pyarrow.parquet as pq
    tops = []
    for path in glob.glob(os.path.join(seg_dir, "part-*")):
        md = pq.read_metadata(path)
        j = md.schema.names.index("pane_start")
        tops += [md.row_group(i).column(j).statistics.max
                 for i in range(md.num_row_groups)
                 if md.row_group(i).num_rows]
    return max(tops, default=None)


class ContinuousSlidingEmitter:
    """Per-EPOCH closed-window emission for the pane-based sliding path.
    Drive the pane stream's foreachBatch through `process`; each epoch
    appends its pane emissions to a pane log and emits every window the
    watermark has closed since the previous epoch; `flush` emits only
    the tail after a drain.

    Pane log (under the table dir): one parquet SEGMENT per epoch,
    `paneseg_<epoch>`, holding only that epoch's pane rows (written
    once, overwritten on replay; its max pane_start comes from the
    footers). The meta json `_sliding_meta.json` names every live
    segment with its max pane_start. A window is assembled by
    sliding_windows_from_emissions over the live segments, which keeps
    the fullest emission of each pane, so the log never needs a
    latest-per-pane rewrite: an epoch costs one exchange, and it carries
    only the rows of panes a window with end in (lo, hi] holds
    (lo - L < pane_start < hi), one per live segment that touched the
    pane. Segment names come from the meta, so a `_paneseg_<epoch>`
    segment of the earlier naming (a leading `_` that Spark's file
    source treats as hidden) still resumes, and a `_panestore_v<n>`
    store written by the earlier versioned-store layout resumes as one
    more segment, with the meta's event_lb_us as its max.

    Watermark proxy (no access to the engine's internal watermark from
    foreachBatch): a touched pane proves an event with ts >= pane_start
    existed, so max(pane_start) over epochs < e is a LOWER bound on the
    event-time maximum Spark computed its epoch-e watermark from; bound
    - delay <= true watermark. Emitting a window only once the proxy
    passes its end is therefore conservative — the true watermark has
    passed every pane of the window, so its counts are final — and late
    by at most one slide + one epoch, never wrong. Windows are selected
    by a monotone emit bound (prev < end <= new), so each window emits
    EXACTLY once, through IcebergLiteTable's idempotent epoch commit.

    Prune rule: a segment whose max pane_start + L is at or below the
    emit bound leaves the log — every window containing one of its
    panes has emitted. Segments leave whole, so the log holds every
    pane row of each live segment: a segment stays until the event
    proxy has moved L + watermark delay past its max, and the log is
    (epochs in that span) x (pane rows per epoch) — a pane touched in k
    live epochs is held k times, where a latest-panes store held it
    once. Out-of-order event time stretches the span: a segment whose
    rows reach the stream's event-time frontier stays until the
    frontier moves on, or until the flush. Measured with
    scripts/emitter_traffic.py on sf0.1 pages (one file per trigger):
    20 time-ordered files keep 6 segments of ~670 rows against a
    ~630-row store; 20 shuffled files, whose first epoch sets the
    frontier, keep all 19 segments, 570 rows against 89, until the
    flush.

    Crash order, per epoch: write the segment, commit the windows, save
    the meta (bound, event proxy, live segments, last epoch), then
    delete every pane dir the meta does not name (pruned segments, and
    at construction whatever a crash left behind). A crash before the
    meta save replays the epoch: its segment is rewritten and the
    duplicate table commit no-ops; a crash after it makes the replay a
    no-op."""

    def __init__(self, table, length: str = config.SLIDING_WINDOW[0],
                 slide: str = config.SLIDING_WINDOW[1],
                 watermark: str = config.WATERMARK_DELAY):
        self.table = table
        self.length, self.slide = length, slide
        self.l_us = _duration_us(length)
        self.s_us = _duration_us(slide)
        self.delay_us = _duration_us(watermark)
        self._meta_path = os.path.join(table.table_dir,
                                       "_sliding_meta.json")
        self.emit_bound_us = None   # all windows with end <= this emitted
        self.event_lb_us = None     # max pane_start over PAST epochs
        self.segments = {}          # live segment dir name -> max pane_start
        self._flush_seq = 0
        self._last_epoch = None     # last FULLY processed engine epoch
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                m = json.load(f)
            self.emit_bound_us = m["emit_bound_us"]
            self.event_lb_us = m["event_lb_us"]
            self._flush_seq = m.get("flush_seq", 0)
            self._last_epoch = m.get("last_epoch")
            if "segments" in m:
                self.segments = m["segments"]
            elif m["store_v"] >= 0 and self.event_lb_us is not None:
                self.segments = {f"_panestore_v{m['store_v']}":
                                 self.event_lb_us}
        self._gc()

    def _save_meta(self) -> None:
        """Drop the segments the emit bound has passed, persist the
        scalars and the live segments, then delete unnamed pane dirs."""
        if self.emit_bound_us is not None:
            self.segments = {n: m for n, m in self.segments.items()
                             if m + self.l_us > self.emit_bound_us}
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"emit_bound_us": self.emit_bound_us,
                        "event_lb_us": self.event_lb_us,
                        "segments": self.segments,
                        "flush_seq": self._flush_seq,
                        "last_epoch": self._last_epoch}, f)
        os.replace(tmp, self._meta_path)
        self._gc()

    def _gc(self) -> None:
        # `paneseg_<n>`, and `_paneseg_<n>` / `_panestore_v<n>` of the
        # earlier layouts
        for d in glob.glob(os.path.join(self.table.table_dir, "*pane*")):
            if os.path.basename(d) not in self.segments:
                shutil.rmtree(d, ignore_errors=True)

    def _emit(self, spark, lo_us: int | None, hi_us: int,
              epoch_id: int) -> None:
        """Assemble + commit windows with end in (lo_us, hi_us]."""
        if not self.segments:
            return
        # a window with end in (lo, hi] holds only panes with
        # lo - L < pane_start < hi: the rest stay out of the exchange
        keep = F.col("pane_start") < hi_us
        if lo_us is not None:
            keep = keep & (F.col("pane_start") > lo_us - self.l_us)
        panes = spark.read.schema(_SEGMENT_DDL).parquet(
            *[os.path.join(self.table.table_dir, n) for n in self.segments]
        ).filter(keep)
        wins = sliding_windows_from_emissions(
            panes.withColumn("pane_start", F.timestamp_micros("pane_start")),
            self.length, self.slide)
        end_us = F.unix_micros("window_start") + F.lit(self.l_us)
        cond = end_us <= F.lit(hi_us)
        if lo_us is not None:
            cond = cond & (end_us > F.lit(lo_us))
        # the commit's write is the epoch's one Spark job; an epoch that
        # closes no window commits a manifest with no files
        self.table.commit(wins.filter(cond), epoch_id)

    def process(self, batch_df, epoch_id: int) -> None:
        if epoch_id is not None and epoch_id == self._last_epoch:
            # Engine replay of an epoch whose process() already ran to
            # completion (crash after _save_meta, before the engine's
            # own checkpoint commit): segment, emit bound, event proxy
            # and table commit are all already applied and persisted.
            # Recomputing here would derive a LARGER watermark from the
            # already-advanced event_lb, no-op on the duplicate table
            # epoch id, then advance the bound past windows that were
            # never committed — permanently skipping them. Idempotent
            # replay is therefore a full no-op.
            return
        name = f"paneseg_{epoch_id}"
        seg = os.path.join(self.table.table_dir, name)
        # the epoch's pane rows run through the stateful stage ONCE:
        # the segment write is the only action on batch_df
        (batch_df.select("lang", "host",
                         F.unix_micros("pane_start").alias("pane_start"),
                         "counts", "n_docs")
         .write.mode("overwrite").parquet(seg))
        batch_max = _max_pane_start(seg)
        if batch_max is not None:
            self.segments[name] = batch_max
        # close windows under the PRE-ingest watermark proxy (panes seen
        # in epochs < e bound the event max Spark derived this epoch's
        # watermark from)
        wm_lower = (None if self.event_lb_us is None
                    else self.event_lb_us - self.delay_us)
        lo = self.emit_bound_us
        if batch_max is not None:
            self.event_lb_us = max(self.event_lb_us or batch_max,
                                   batch_max)
        if wm_lower is not None and (lo is None or wm_lower > lo):
            # COMMIT before advancing the persisted bound: a crash in
            # between replays the epoch, the idempotent table commit
            # no-ops, and the bound then advances — the reverse order
            # could advance the bound past windows never committed
            self._emit(batch_df.sparkSession, lo, wm_lower, epoch_id)
            self.emit_bound_us = wm_lower
        self._last_epoch = epoch_id
        self._save_meta()

    def flush(self, spark) -> None:
        """Drain tail: emit every window assembled from data seen so
        far, exactly once. NON-terminal: the bound advances only to
        event_lb + slide + length — one slide PAST the largest possible
        window end over panes seen (event_lb + L; the extra slide is
        conservative and covers no pane the log could hold) — and
        each flush commits under a fresh sequenced epoch id — so a
        periodic availableNow deployment (drain, flush, later drain new
        backlog, flush again) keeps emitting new windows. The price of
        flushing before the watermark closes a window is early closure:
        admissible late events for an already-flushed window are pruned
        (documented drain semantics, same as the stateful paths'
        timeout flush)."""
        lo = self.emit_bound_us
        if self.event_lb_us is None:
            return
        hi = self.event_lb_us + self.s_us + self.l_us
        if lo is not None and hi <= lo:
            return
        self._flush_seq += 1
        self._emit(spark, lo, hi, (1 << 40) + self._flush_seq)
        self.emit_bound_us = hi
        self._save_meta()


def sliding_glcm_stream_continuous(pages_stream: DataFrame, table,
                                   checkpoint_dir: str,
                                   length: str = config.SLIDING_WINDOW[0],
                                   slide: str = config.SLIDING_WINDOW[1],
                                   watermark: str = config.WATERMARK_DELAY,
                                   buckets: int = 128):
    """End-to-end continuous sliding pipeline: bucketed pane
    accumulation -> per-epoch closed-window emission into an
    IcebergLiteTable -> drain-tail flush. Returns the emitter (its
    table holds the emitted windows, epoch-stamped)."""
    em = ContinuousSlidingEmitter(table, length=length, slide=slide,
                                  watermark=watermark)
    panes = stateful_glcm_pane_agg_bucketed(pages_stream, slide=slide,
                                            watermark=watermark,
                                            buckets=buckets)
    stream.drain(panes, "update", checkpoint_dir, em.process)
    em.flush(pages_stream.sparkSession)
    return em


# ===========================================================================
# SESSION-window stateful accumulation (round-3 verdict #1)
# ===========================================================================
# Each (lang, host) key's state holds its OPEN session fragments: disjoint
# intervals [start, last] with the fragment's accumulated count matrix.
# Fragment merging (insert an event, union any fragments within the gap)
# is order-independent — the interval-union-with-gap operation is
# confluent — so out-of-order arrival inside the watermark needs no
# event buffering: each document's counts are absorbed on arrival and
# only fragments (a handful per key) persist. Emission is update-mode:
# every invocation emits the current extent of each open fragment, and
# the reader keeps the MAXIMAL intervals per key (fragment growth is
# monotone — a later emission either contains an earlier one or is
# disjoint from it — so maximal-interval selection recovers exactly the
# final session set, including still-open sessions on a drain, which a
# close-only emission would lose). A fragment leaves state once no
# admissible event can extend it (last + gap <= the watermark's ms
# floor), bounding state to open-session count.

def stateful_glcm_session_agg(pages_stream: DataFrame,
                              gap: str = config.SESSION_GAP,
                              watermark: str = config.WATERMARK_DELAY,
                              buckets: int = 128) -> DataFrame:
    """pages stream -> per-(lang, host) session-window GLCM features
    (gap-based sessions, Spark session_window semantics: a session spans
    [first_ts, last_ts + gap)). Update-mode fragment emissions; run
    final_sessions() over the sink to obtain the exact session set."""
    gap_us = _duration_us(gap)
    return _stateful_glcm(pages_stream, watermark, F.unix_micros("warc_ts"),
                          buckets, gap_us, gap_us, session=True)


stateful_glcm_session_agg_bucketed = stateful_glcm_session_agg


def final_sessions(emissions: DataFrame) -> DataFrame:
    """Maximal-interval selection over update-mode fragment emissions:
    keep a row iff no other row of the same (lang, host) contains its
    [session_start, session_end] (fragments grow monotonically, so
    containment-or-disjoint holds and the maximal rows ARE the final
    sessions). One window pass: sorted by (start asc, end desc,
    n_docs desc), a row is contained iff some predecessor's end reaches
    its end — equal-interval re-emissions keep the fullest (largest
    n_docs) row."""
    from pyspark.sql import Window as W
    w = (W.partitionBy("lang", "host")
         .orderBy(F.asc("session_start"), F.desc("session_end"),
                  F.desc("n_docs"))
         .rowsBetween(W.unboundedPreceding, -1))
    return (emissions
            .withColumn("_maxend", F.max("session_end").over(w))
            .filter(F.col("_maxend").isNull()
                    | (F.col("_maxend") < F.col("session_end")))
            .drop("_maxend"))


def batch_glcm_agg_session(pages: DataFrame,
                           gap: str = config.SESSION_GAP) -> DataFrame:
    """Batch oracle for the session path: INDEPENDENT route — per
    (lang, host) group, sort by event time in pandas, split where the
    gap to the previous event is >= the session gap (gaps-and-islands),
    and sum the GLCM counts from the raw html per island."""
    gap_us = _duration_us(gap)

    def agg_group(key, pdf):
        trim_zip_finders()
        lang, host = key
        pdf = pdf.sort_values("ts_us", kind="mergesort") \
            .reset_index(drop=True)
        ts = pdf["ts_us"].to_numpy()
        starts = np.flatnonzero(np.r_[True, np.diff(ts) >= gap_us])
        ends = np.r_[starts[1:], len(ts)]
        counts = kernel.glcm_counts_htmls(pdf["html"].tolist()) \
            .reshape(len(pdf), -1)
        return pd.DataFrame({
            "lang": lang, "host": host,
            "session_start": pd.to_datetime(ts[starts], unit="us"),
            "session_end": pd.to_datetime(ts[ends - 1] + gap_us, unit="us"),
            "n_docs": ends - starts,
            **_features(np.add.reduceat(counts, starts, axis=0))})

    keyed = (pages
             .withColumn("host", F.try_parse_url("url", F.lit("HOST")))
             .withColumn("ts_us", F.unix_micros("warc_ts"))
             .select("lang", "host", "ts_us", "html"))
    return keyed.groupBy("lang", "host") \
        .applyInPandas(agg_group, SESSION_OUTPUT_SCHEMA)


def batch_glcm_agg(pages: DataFrame) -> DataFrame:
    """Batch oracle for the stateful path: same keys, GLCM summed per key
    with applyInPandas (no state). Must agree exactly with the streaming
    result for the same input (determinism gate, BASELINE.json:14)."""
    def agg_group(key, pdf):
        trim_zip_finders()
        lang, host, window_start = key
        counts = kernel.glcm_counts_htmls(pdf["html"].tolist()) \
            .sum(axis=0).reshape(1, -1)
        return pd.DataFrame({
            "lang": [lang], "host": [host], "window_start": [window_start],
            "n_docs": [len(pdf)], "n_batches": [1], **_features(counts)})

    keyed = (pages
             .withColumn("host", F.try_parse_url("url", F.lit("HOST")))
             .withColumn("window_start",
                         F.window("warc_ts", config.TUMBLING_WINDOW).start)
             .select("lang", "host", "window_start", "html"))
    return (keyed.groupBy("lang", "host", "window_start")
            .applyInPandas(agg_group, OUTPUT_SCHEMA))
