"""Four synthetic pane-emission epochs for the continuous sliding
emitter, in `state.PANE_OUTPUT_SCHEMA`: the emitter's replay, segment
and format-corpus tests drive `process` with them directly, and
`scripts/make_emitter_corpus.py` writes the committed corpus
`tests/corpus/sliding_emitter_v0` from epochs 0-1.

Each row is (lang, host, pane_start, counts seed, n_docs); at a
5-minute watermark epochs 2 and 3 emit windows and prune segments."""

import numpy as np
import pandas as pd

EPOCHS = [
    [("en", "h1", "2026-01-01 00:00:00", 1, 3),
     ("en", "h1", "2026-01-01 00:05:00", 2, 2)],
    [("en", "h1", "2026-01-01 00:30:00", 3, 4)],
    [("de", "h2", "2026-01-01 00:45:00", 4, 1)],
    [("en", "h1", "2026-01-01 01:10:00", 5, 2)],
]


def pane_batches(spark):
    """EPOCHS as Spark DataFrames, counts in the pane-emission codec."""
    from glcmstream import state

    def counts(seed, n):
        rng = np.random.default_rng(seed)
        return state._pack_counts(rng.integers(1, 50, state.L2) * n)

    return [spark.createDataFrame(
        [(lang, host, pd.Timestamp(ts).to_pydatetime(), counts(seed, n),
          n, 1) for (lang, host, ts, seed, n) in rows],
        state.PANE_OUTPUT_SCHEMA) for rows in EPOCHS]
