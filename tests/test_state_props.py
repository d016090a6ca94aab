"""Property tests for the session-fragment state machinery (round-4):
the correctness argument for stateful_glcm_session_agg rests on
_merge_frags being CONFLUENT — any arrival order and any batching of
the same event set must converge to the same fragment set — because
the streaming operator absorbs events into fragments as they arrive
(within the watermark) without buffering. Hypothesis searches for a
counterexample over random timestamp multisets, random permutations,
and random batch splits.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from glcmstream import state
from glcmstream.state import _FRAG_REC, _merge_frags

GAP = 100  # µs — tiny gap keeps the search space dense


def _recs(ts_list):
    recs = np.zeros((len(ts_list), _FRAG_REC), dtype=np.int64)
    for i, t in enumerate(ts_list):
        recs[i, 0] = recs[i, 1] = t
        recs[i, 2] = 1
        recs[i, 3 + (t % (_FRAG_REC - 3))] = 1  # distinguishable counts
    return recs


def _canon(frags):
    order = np.argsort(frags[:, 0])
    return frags[order]


@settings(max_examples=200, deadline=None)
@given(
    ts=st.lists(st.integers(min_value=0, max_value=2_000), min_size=1,
                max_size=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_merge_frags_confluent_under_order_and_batching(ts, seed):
    rng = np.random.default_rng(seed)
    # reference: every event merged in one shot
    ref = _canon(_merge_frags(_recs(ts), GAP))

    # adversary: shuffle arrival order, split into random batches, fold
    perm = rng.permutation(len(ts))
    shuffled = [ts[i] for i in perm]
    n_batches = int(rng.integers(1, len(ts) + 1))
    cuts = sorted(rng.choice(len(ts) + 1, size=n_batches - 1,
                             replace=True))
    batches, prev = [], 0
    for c in list(cuts) + [len(ts)]:
        if c > prev:
            batches.append(shuffled[prev:c])
            prev = c
    acc = np.zeros((0, _FRAG_REC), dtype=np.int64)
    for b in batches:
        acc = _merge_frags(np.concatenate([acc, _recs(b)]), GAP)
    got = _canon(acc)

    np.testing.assert_array_equal(got, ref)
    # fragment invariants: disjoint beyond the gap, docs conserved
    assert got[:, 2].sum() == len(ts)
    for i in range(1, len(got)):
        assert got[i, 0] - got[i - 1, 1] >= GAP


@settings(max_examples=100, deadline=None)
@given(ts=st.lists(st.integers(min_value=0, max_value=500), min_size=1,
                   max_size=25))
def test_merge_frags_matches_gaps_and_islands(ts):
    """The one-shot merge must equal the textbook gaps-and-islands
    split (sort, break where the gap to the previous event >= GAP) —
    the same definition the DuckDB session oracles use."""
    got = _canon(_merge_frags(_recs(ts), GAP))
    s = sorted(ts)
    islands = [[s[0]]]
    for t in s[1:]:
        if t - islands[-1][-1] < GAP:
            islands[-1].append(t)
        else:
            islands.append([t])
    assert len(got) == len(islands)
    for frag, isl in zip(got, islands):
        assert frag[0] == isl[0] and frag[1] == isl[-1]
        assert frag[2] == len(isl)


# ---------------------------------------------------------------------------
# _batch_key_groups (round-5): the vectorized factorize/unique grouping
# that replaced the per-row dict loop in all three bucketed state
# functions. Hypothesis pins it against the loop it replaced — same
# groups, same per-row assignment, same doc counts — over random key
# pools that INCLUDE None components (try_parse_url yields NULL hosts
# for malformed URLs; the NA sentinel collision across columns under
# the mixed radix was the subtle failure mode).
# ---------------------------------------------------------------------------

_LANGS = ["en", "de", None, "fr"]
_HOSTS = ["a.com", None, "b.org", "c.net", "d.io"]


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, len(_LANGS) - 1),
                  st.integers(0, len(_HOSTS) - 1),
                  st.integers(0, 3)),
        min_size=1, max_size=60),
    with_window=st.booleans(),
)
def test_batch_key_groups_matches_dict_loop(rows, with_window):
    import pandas as pd

    pdf = pd.DataFrame({
        "lang": [_LANGS[r[0]] for r in rows],
        "host": [_HOSTS[r[1]] for r in rows],
        "ws_us": [r[2] * 300_000_000 for r in rows],
    })
    uniq, inv, docs = state._batch_key_groups(pdf,
                                              with_window=with_window)
    # reference: the per-row dict loop the vectorization replaced
    ref: dict = {}
    for r in range(len(pdf)):
        fk = ((pdf["lang"][r], pdf["host"][r], int(pdf["ws_us"][r]))
              if with_window else (pdf["lang"][r], pdf["host"][r]))
        ref.setdefault(fk, []).append(r)
    assert len(uniq) == len(ref)
    assert len(inv) == len(pdf)
    seen = {}
    for j, fk in enumerate(uniq):
        key = tuple(fk)
        assert key in ref, key
        assert sorted(np.where(inv == j)[0].tolist()) == ref[key]
        assert docs[j] == len(ref[key])
        seen[key] = True
    assert len(seen) == len(ref)


# ---------------------------------------------------------------------------
# _bucket_window_fn without Spark: the same bucket rows, in any arrival
# order and any split into Arrow chunks, must give the same emissions
# and the same state. n_batches counts invocations (epochs), not the
# chunks Spark cut a bucket's rows into (at most maxRecordsPerBatch
# rows each, in arrival order).
# ---------------------------------------------------------------------------

class _FakeState:
    """The GroupState surface the state functions use."""

    def __init__(self, watermark_ms: int = 0):
        self.value = None
        self.watermark_ms = watermark_ms
        self.timeout_ms = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


_WIN_US = 300_000_000


def _bucket_rows(rows, perm):
    import pandas as pd

    rows = [rows[i] for i in perm]
    vecs = np.zeros((len(rows), state.L2), "<u4")
    for i, r in enumerate(rows):
        vecs[i, r[3] % state.L2] = 1 + r[3] // state.L2
    return pd.DataFrame({
        "lang": [_LANGS[r[0]] for r in rows],
        "host": [_HOSTS[r[1]] for r in rows],
        "ws_us": np.array([r[2] * _WIN_US for r in rows], np.int64),
        "gvec": [v.tobytes() for v in vecs],
    })


def _drive(epochs, rng):
    """Run one fake-state bucket through the epochs, each epoch's rows
    in a random order cut into random chunks; returns every epoch's
    emission, sorted by key, and the final state's fine keys."""
    fn = state._bucket_window_fn(_WIN_US, counts=False)
    st = _FakeState()
    out = []
    for rows in epochs:
        pdf = _bucket_rows(rows, rng.permutation(len(rows)))
        cuts = sorted(rng.choice(len(rows) + 1,
                                 size=int(rng.integers(0, 4)),
                                 replace=True))
        chunks = [pdf.iloc[a:b] for a, b in
                  zip([0, *cuts], [*cuts, len(rows)])]
        emitted = list(fn((0,), iter(chunks), st))
        key = ["lang", "host", "window_start"]
        out.append(emitted[0].sort_values(key, na_position="first")
                   .reset_index(drop=True) if emitted else None)
    keys, meta, mats = state._unpack_bucket(st.get[0])
    final = sorted((k + (int(m[0]), int(m[1]), int(m[2]), g.tobytes())
                    for k, m, g in zip(keys, meta, mats)),
                   key=repr)
    return out, final


@settings(max_examples=150, deadline=None)
@given(
    epochs=st.lists(
        st.lists(st.tuples(st.integers(0, len(_LANGS) - 1),
                           st.integers(0, len(_HOSTS) - 1),
                           st.integers(0, 2),
                           st.integers(0, 4 * 1024 - 1)),
                 min_size=1, max_size=30),
        min_size=1, max_size=3),
    seeds=st.tuples(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1)),
)
def test_bucket_window_fn_ignores_row_order_and_chunking(epochs, seeds):
    import pandas as pd

    out_a, state_a = _drive(epochs, np.random.default_rng(seeds[0]))
    out_b, state_b = _drive(epochs, np.random.default_rng(seeds[1]))
    for a, b in zip(out_a, out_b):
        pd.testing.assert_frame_equal(a, b)
    assert state_a == state_b
    # every touched key counts one batch per epoch that touched it
    touched: dict = {}
    for rows in epochs:
        for k in {(_LANGS[r[0]], _HOSTS[r[1]], r[2] * _WIN_US)
                  for r in rows}:
            touched[k] = touched.get(k, 0) + 1
    last = out_a[-1]
    for lang, host, ws, n_batches in zip(
            last["lang"], last["host"], last["window_start"],
            last["n_batches"]):
        assert n_batches == touched[(lang, host, ws.value // 1000)]
