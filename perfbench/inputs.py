"""Seeded benchmark inputs and the open-loop arrival generator.

Inputs are generated untimed and cached under `<cache>/<shape>-s<seed>`
(a `_DONE` marker is written last, so an interrupted generation is
redone). The program under test only ever sees the parquet files.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from glcmstream import fixtures, kernel

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

_KEEP_CACHED = 6    # input sets kept per checkout (oldest pruned first)


def cached(cache_root: str, shape: str, seed: int, build) -> str:
    """Directory holding `build(dir)`'s output for (shape, seed)."""
    d = os.path.join(cache_root, f"{shape}-s{seed}")
    if os.path.exists(os.path.join(d, "_DONE")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    build(d)
    open(os.path.join(d, "_DONE"), "w").close()
    # write the new files back now, not during the measured run
    os.sync()
    entries = sorted((os.path.getmtime(os.path.join(cache_root, e)), e)
                     for e in os.listdir(cache_root))
    for _, e in entries[:-_KEEP_CACHED]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
    return d


def parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def write_sized_pages(out_dir: str, seed: int, n_docs: int, n_files: int,
                      min_bytes: int, max_bytes: int,
                      row_group_rows: int) -> None:
    """Pages whose html sizes are uniform in [min_bytes, max_bytes].

    fixtures.gen_pages draws every token separately (~6 ms per 50 KiB
    page), too slow to regenerate a large backlog for each seed, so the
    body text here is a slice of one seeded token corpus. Keys, event
    times and the html wrapper follow fixtures.gen_pages: Zipf hosts,
    2 s event-time spacing, kernel.make_html. Rows are in event-time
    order, so a watermark drops nothing.
    """
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    lens = rng.integers(3, 10, size=5000)
    vocab = [letters[rng.integers(0, 26, n)].tobytes().decode()
             for n in lens]
    corpus = " ".join(rng.choice(vocab, size=max_bytes // 3)).encode()
    corpus = corpus + corpus   # slices may wrap past the end

    n_hosts = max(16, n_docs // 50)
    host_idx = rng.zipf(1.3, size=n_docs) % n_hosts
    lang = rng.choice(fixtures.LANGS, size=n_docs, p=fixtures.LANG_P)
    sizes = rng.integers(min_bytes, max_bytes + 1, size=n_docs)
    offs = rng.integers(0, len(corpus) // 2, size=n_docs)
    ts_us = (np.arange(n_docs, dtype=np.int64) * 2_000_000
             + rng.integers(0, 1_000_000, n_docs))
    base_us = int(fixtures.BASE_TS.timestamp() * 1_000_000)

    os.makedirs(out_dir, exist_ok=True)
    for i, ix in enumerate(np.array_split(np.arange(n_docs), n_files)):
        texts = [corpus[offs[k]:offs[k] + sizes[k]].decode() for k in ix]
        tbl = pa.table({
            "url": [f"https://host{host_idx[k]:04d}.example."
                    f"{fixtures.TLDS[host_idx[k] % len(fixtures.TLDS)]}"
                    f"/doc/{k:07d}" for k in ix],
            "warc_ts": pa.array(base_us + ts_us[ix], pa.timestamp("us")),
            "html": [kernel.make_html(f"doc {k}", t)
                     for k, t in zip(ix, texts)],
            "text": texts,
            "lang": lang[ix].tolist(),
        }, schema=PAGES_SCHEMA)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:04d}.parquet"),
                       row_group_size=row_group_rows)


def stage(files: list[str], staging_dir: str) -> list[str]:
    """Copy input files to a per-run staging dir on the same filesystem
    as the stream's input dir, so each drop is one atomic rename."""
    os.makedirs(staging_dir, exist_ok=True)
    out = []
    for f in files:
        dst = os.path.join(staging_dir, os.path.basename(f))
        shutil.copyfile(f, dst)
        out.append(dst)
    return out


class Arrivals:
    """Open-loop arrival generator: one thread drops staged file i into
    `input_dir` at t0 + i * interval_s, whether or not the engine keeps
    up. Each drop is an atomic rename with a strictly increasing mtime
    (Spark's file source orders new files by mtime with no tiebreak).

    `scheduled[i]` / `dropped[i]` are time.time() seconds; lateness is
    dropped - scheduled.
    """

    def __init__(self, staged: list[str], input_dir: str,
                 interval_s: float):
        self.staged = staged
        self.input_dir = input_dir
        self.interval_s = interval_s
        self.scheduled: list[float] = []
        self.dropped: list[float] = []
        self._last_mtime_ns = 0
        self._thread: threading.Thread | None = None

    def drop(self, i: int) -> None:
        now_ns = time.time_ns()
        mtime = max(now_ns, self._last_mtime_ns + 1_000_000)
        self._last_mtime_ns = mtime
        src = self.staged[i]
        os.utime(src, ns=(mtime, mtime))
        os.rename(src, os.path.join(self.input_dir, os.path.basename(src)))
        self.dropped.append(time.time())

    def start(self, t0: float) -> None:
        """Schedule every file from t0 (time.time() seconds); file 0 is
        dropped synchronously if it is already due."""
        self.scheduled = [t0 + i * self.interval_s
                          for i in range(len(self.staged))]
        if self.scheduled[0] <= time.time():
            self.drop(0)
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="arrivals")
        self._thread.start()

    def _run(self) -> None:
        for i in range(len(self.dropped), len(self.staged)):
            delay = self.scheduled[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            self.drop(i)

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()

    def lateness_ms_max(self) -> float:
        return max((d - s) * 1000.0
                   for s, d in zip(self.scheduled, self.dropped))
