#!/usr/bin/env python
"""State-change checks between two checkouts of this repo.

TREE is the checkout whose src/ is imported, so one copy of this script
drives both the parent tree (exported with `git archive`) and the
changed tree. All legs read the 400-doc fixture of the streaming tests,
.scratch/pages_stream_400 of the tree this script lives in.

    python scripts/state_compat.py TREE checksum
        Prints `determinism <hash>`: BENCH/scaling_job._determinism_checksum
        of TREE, the xor of xxhash64(epoch, every column) over every
        update-mode emission of the tumbling builder at its default
        bucket count. Then one
        `<builder> <hash>` line, the same xor-hash (epoch and n_batches
        included), for each bucketed builder: tumbling, pane and session,
        at their default bucket counts, two fixture files per epoch. Every
        line must match between the parent and the change.
    python scripts/state_compat.py PARENT resume 0 WORK
    python scripts/state_compat.py CHANGE resume 1 WORK
    python scripts/state_compat.py CHANGE verify WORK
        Leg 0 drains the first 4 fixture files through the tumbling
        builder at its default bucket count and the tumbling, pane and
        session builders at 16 buckets into checkpoints under WORK;
        leg 1 adds the other 4 files and resumes the same checkpoints;
        verify matches the union of both legs' emissions against the
        batch oracles. A leg that fails (a checkpoint whose state layout
        TREE cannot read) prints `<builder> leg <n> FAILED: <error>`
        and the run goes on with the other builders; resume and verify
        exit with status 1 if any builder failed or has no rows to
        verify. (`tumbling` at a parent whose stateful_glcm_agg kept one
        state group per (lang, host, window) writes such a checkpoint.)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = os.path.join(HERE, ".scratch", "pages_stream_400")
TREE = os.path.abspath(sys.argv[1])
sys.path[:0] = [os.path.join(TREE, "src"), os.path.join(TREE, "BENCH")]
os.environ["PYTHONPATH"] = os.path.join(TREE, "src")

import pandas as pd  # noqa: E402
from pyspark.errors import StreamingQueryException  # noqa: E402

from glcmstream import state, stream  # noqa: E402
from glcmstream.session import get_spark  # noqa: E402

BUILDERS = {
    "tumbling": state.stateful_glcm_agg,
    "bucketed": lambda s: state.stateful_glcm_agg_bucketed(s, buckets=16),
    "pane_bucketed": lambda s: state.stateful_glcm_pane_agg_bucketed(
        s, buckets=16),
    "session_bucketed": lambda s: state.stateful_glcm_session_agg_bucketed(
        s, buckets=16),
}
KEY = ["lang", "host", "window_start"]
SESSION_KEY = ["lang", "host", "session_start"]
HASHED = {
    "bucketed": state.stateful_glcm_agg_bucketed,
    "pane_bucketed": state.stateful_glcm_pane_agg_bucketed,
    "session_bucketed": state.stateful_glcm_session_agg_bucketed,
}


def _drain(df, ckpt: str) -> pd.DataFrame:
    rows: list = []
    stream.drain(df, "update", ckpt, lambda d, eid: rows.append(d.toPandas()))
    return pd.concat(rows, ignore_index=True)


def _emission_hash(spark, fn) -> str:
    """xor of xxhash64(epoch, every column) over every update-mode
    emission of builder `fn` over the fixture, two files per epoch."""
    from pyspark.sql import functions as F
    acc = [0]

    def fb(df, eid):
        h = (df.select(F.xxhash64(F.lit(int(eid)), *df.columns).alias("h"))
             .agg(F.expr("bit_xor(h)")).collect()[0][0])
        acc[0] ^= (h or 0) & 0xFFFFFFFFFFFFFFFF

    ckpt = tempfile.mkdtemp(prefix="state_compat_")
    try:
        stream.drain(fn(stream.pages_stream(spark, PAGES,
                                            max_files_per_trigger=2)),
                     "update", ckpt, fb)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return format(acc[0], "016x")


def resume(spark, leg: int, work: str) -> bool:
    files = sorted(os.listdir(PAGES))
    ok = True
    for name, fn in BUILDERS.items():
        src = os.path.join(work, f"src_{name}")
        os.makedirs(src, exist_ok=True)
        for f in files[:4] if leg == 0 else files[4:]:
            # copy2 keeps the fixture's increasing mtimes: the file
            # source replays new files in mtime order
            shutil.copy2(os.path.join(PAGES, f), src)
        try:
            rows = _drain(fn(stream.pages_stream(spark, src)),
                          os.path.join(work, f"ckpt_{name}"))
        except StreamingQueryException as e:
            msg = str(e).strip().splitlines()
            print(name, "leg", leg, "FAILED:", type(e).__name__,
                  msg[0] if msg else "")
            ok = False
            continue
        rows.to_pickle(os.path.join(work, f"rows_{name}_{leg}.pkl"))
        print(name, "leg", leg, "emitted", len(rows), "rows")
    return ok


def verify(spark, work: str) -> bool:
    pages = stream.read_pages_batch(spark, PAGES)
    ok = True
    for name in BUILDERS:
        legs = [os.path.join(work, f"rows_{name}_{leg}.pkl")
                for leg in (0, 1)]
        if not all(os.path.exists(p) for p in legs):
            print(name, "NOT VERIFIED: a leg has no rows")
            ok = False
            continue
        rows = pd.concat([pd.read_pickle(p) for p in legs],
                         ignore_index=True)
        key = KEY
        if name.startswith("pane"):
            got = state.sliding_windows_from_emissions(spark.createDataFrame(
                rows, state.PANE_OUTPUT_SCHEMA)).toPandas()
            exp = state.batch_glcm_agg_sliding(pages).toPandas()
        elif name.startswith("session"):
            key = SESSION_KEY
            got = state.final_sessions(spark.createDataFrame(
                rows, state.SESSION_OUTPUT_SCHEMA)).toPandas()
            exp = state.batch_glcm_agg_session(pages).toPandas()
        else:
            got = rows.sort_values("n_docs").groupby(KEY, dropna=False) \
                .tail(1).drop(columns="n_batches")
            exp = state.batch_glcm_agg(pages).drop("n_batches").toPandas()
        got = got[exp.columns].sort_values(key).reset_index(drop=True)
        exp = exp.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp)
        print(name, "matches the batch oracle:", len(got), "windows,",
              int(got["n_docs"].sum()), "docs")
    return ok


def main() -> None:
    spark = get_spark(app="state-compat")
    mode = sys.argv[2]
    if mode == "checksum":
        import scaling_job
        print("determinism", scaling_job._determinism_checksum(spark, PAGES))
        for name, fn in HASHED.items():
            print(name, _emission_hash(spark, fn))
    elif mode == "resume":
        sys.exit(0 if resume(spark, int(sys.argv[3]), sys.argv[4]) else 1)
    else:
        sys.exit(0 if verify(spark, sys.argv[3]) else 1)


if __name__ == "__main__":
    main()
