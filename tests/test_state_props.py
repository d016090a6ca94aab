"""Spark-free differential tests of the bucketed state function.

`state._bucket_merge_fn` is the one function every stateful builder
hands to applyInPandasWithState: tumbling windows, sliding-window panes
and sessions. These tests drive it through `_FakeState`, a stand-in for
the GroupState surface it uses, the way Spark does: epoch by epoch, with
the late-row filter, an advancing watermark, timed-out invocations for a
bucket without rows, and each invocation's rows in random order cut
into random Arrow chunks. Emissions and the decoded state blob are
checked against a plain-Python reference model:

- windows and panes: a dict per fine key (lang, host, window start);
- sessions: the textbook gaps-and-islands split of every retained event
  per (lang, host) — sort, break where the gap to the previous event is
  >= the session gap — the definition the DuckDB session oracles use;

with eviction once the watermark passes a record's last + horizon. The
model is order- and chunking-free, so matching it also pins that the
merge ignores row order and Arrow chunking, that n_batches counts
invocations (not chunks), and that NULL lang/host components group as
their own keys (the rows draw None for both).
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from glcmstream import state

_LANGS = ["en", None, "de"]
_HOSTS = ["a.com", None, "b.org"]

_WIN_US = 300_000_000       # window (or pane) length
_GAP_US = 60_000_000        # session gap
_STEP_US = _GAP_US // 2     # event-time grid: gaps of exactly GAP occur
_DELAY_MS = 120_000         # watermark delay
# per-epoch event-time advance; the largest passes window end + RETAIN_US
_ADVANCE_US = [0, 600_000_000, 1_800_000_000, 6_000_000_000]
_KINDS = ["tumbling", "pane", "session"]


class _FakeState:
    """The GroupState surface the state function uses."""

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


def _fn(kind):
    if kind == "session":
        return state._bucket_merge_fn(_GAP_US, _GAP_US, True)
    return state._bucket_merge_fn(1, _WIN_US + state.RETAIN_US, False,
                                  kind == "pane")


def _vec(cell: int) -> np.ndarray:
    v = np.zeros(state.L2, np.int64)
    v[cell % state.L2] = 1 + cell // state.L2
    return v


class _Model:
    """Plain-Python reference: records per fine key, rebuilt from scratch
    at every invocation. Events are (lang, host, t_us, cell)."""

    def __init__(self, kind):
        self.kind = kind
        self.session = kind == "session"
        self.horizon = _GAP_US if self.session else _WIN_US + state.RETAIN_US
        # windows: (lang, host, ws) -> [n_docs, n_batches, counts]
        # sessions: (lang, host) -> retained events [(t, counts)]
        self.recs: dict = {}

    def _islands(self, evs):
        """Gaps-and-islands over one key's events: [(start, last, evs)]."""
        evs = sorted(evs, key=lambda e: e[0])
        out = [[evs[0]]]
        for e in evs[1:]:
            if e[0] - out[-1][-1][0] < _GAP_US:
                out[-1].append(e)
            else:
                out.append([e])
        return [(isl[0][0], isl[-1][0], isl) for isl in out]

    def records(self):
        """[(lang, host, meta words as the blob stores them, counts)]."""
        if not self.session:
            return [(k[0], k[1], (k[2], r[0], r[1]), r[2])
                    for k, r in self.recs.items()]
        return [(k[0], k[1], (s, last, len(isl)),
                 sum(e[1] for e in isl))
                for k, evs in self.recs.items()
                for s, last, isl in self._islands(evs)]

    def invoke(self, rows, wm_ms):
        """Merge rows, return the emitted records, then evict."""
        if self.session:
            new = {}
            for lang, host, t, cell in rows:
                ev = (t, _vec(cell))
                self.recs.setdefault((lang, host), []).append(ev)
                new.setdefault((lang, host), []).append(ev)
            out = [(k[0], k[1], (s, last, len(isl)), sum(e[1] for e in isl))
                   for k, evs in new.items()
                   for s, last, isl in self._islands(self.recs[k])
                   if any(e is n for e in isl for n in evs)]
            for k, evs in list(self.recs.items()):
                keep = [e for s, last, isl in self._islands(evs)
                        if last + self.horizon > wm_ms * 1000 for e in isl]
                if keep:
                    self.recs[k] = keep
                else:
                    del self.recs[k]
        else:
            touched = set()
            for lang, host, t, cell in rows:
                fk = (lang, host, t // _WIN_US * _WIN_US)
                r = self.recs.setdefault(fk, [0, 0, 0])
                r[0] += 1
                r[2] = r[2] + _vec(cell)
                touched.add(fk)
            for fk in touched:
                self.recs[fk][1] += 1
            out = [(fk[0], fk[1], (fk[2], *self.recs[fk][:2]),
                    self.recs[fk][2]) for fk in touched]
            for fk in [k for k in self.recs
                       if k[2] + self.horizon <= wm_ms * 1000]:
                del self.recs[fk]
        return out

    def evict_us(self):
        return [m[1 if self.session else 0] + self.horizon
                for _, _, m, _ in self.records()]

    def frame(self, recs):
        """Expected emission frame of model records, sorted."""
        keys = [(r[0], r[1]) for r in recs]
        meta = np.array([r[2] for r in recs], np.int64)
        mats = np.stack([r[3] for r in recs])
        if self.session:
            df = state._session_rows(keys, meta, mats, _GAP_US)
        else:
            df = state._window_rows(keys, meta, mats, self.kind == "pane")
        return _sorted(df)


def _sorted(df):
    return (df.sort_values(list(df.columns[:3]) + ["n_docs"],
                           na_position="first").reset_index(drop=True))


def _canon(recs):
    return sorted(((lang, host, tuple(int(x) for x in m),
                    np.asarray(g, np.int64).tobytes())
                   for lang, host, m, g in recs), key=repr)


def _decoded(st_):
    if not st_.exists:
        return []
    keys, meta, mats = state._unpack_bucket(st_.get[0])
    return _canon((k[0], k[1], m, g) for k, m, g in zip(keys, meta, mats))


def _chunks(kind, rows, rng):
    """The invocation's rows in a random order, cut into random chunks
    (Spark cuts a bucket's rows into Arrow chunks of at most
    maxRecordsPerBatch rows)."""
    rows = [rows[i] for i in rng.permutation(len(rows))]
    t = np.array([r[2] for r in rows], np.int64)
    pdf = pd.DataFrame({
        "lang": [r[0] for r in rows], "host": [r[1] for r in rows],
        "ts_us" if kind == "session" else "ws_us":
            t if kind == "session" else t // _WIN_US * _WIN_US,
        "gvec": [_vec(r[3]).astype("<u4").tobytes() for r in rows]})
    cuts = sorted(rng.choice(len(rows) + 1, size=int(rng.integers(0, 4)),
                             replace=True))
    return [pdf.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]


def _events(epoch_rows, advances):
    """Hypothesis draws -> per-epoch events (lang, host, t_us, cell)."""
    base, out = 0, []
    for rows, adv in zip(epoch_rows, advances):
        base += _ADVANCE_US[adv]
        out.append([(_LANGS[li], _HOSTS[hi], base + k * _STEP_US, cell)
                    for li, hi, k, cell in rows])
    return out


_rows = st.lists(st.tuples(st.integers(0, len(_LANGS) - 1),
                           st.integers(0, len(_HOSTS) - 1),
                           st.integers(0, 40),
                           st.integers(0, 4 * state.L2 - 1)),
                 min_size=0, max_size=40)


@settings(max_examples=150, deadline=None)
@given(kind=st.sampled_from(_KINDS),
       epoch_rows=st.lists(_rows, min_size=1, max_size=5),
       advances=st.lists(st.integers(0, len(_ADVANCE_US) - 1),
                         min_size=5, max_size=5),
       seed=st.integers(0, 2**31 - 1))
def test_bucket_merge_fn_matches_reference_model(kind, epoch_rows, advances,
                                                 seed):
    """Epochs the way Spark runs them for one bucket: the late-row
    filter drops rows at or behind the watermark; a bucket with rows is
    invoked with them, one without rows only once its armed timeout is
    behind the watermark (hasTimedOut, no rows); the watermark then
    advances to the max event time seen less the delay. After every
    invocation the emissions, the decoded blob and the armed timeout
    match the model."""
    rng = np.random.default_rng(seed)
    fn, model, st_ = _fn(kind), _Model(kind), _FakeState()
    max_ts = None
    for rows in _events(epoch_rows, advances):
        rows = [r for r in rows if r[2] > st_.watermark_ms * 1000]
        if rows:
            emitted = list(fn((0,), iter(_chunks(kind, rows, rng)), st_))
        elif st_.exists and st_.timeout_ms < st_.watermark_ms:
            st_.hasTimedOut = True
            emitted = list(fn((0,), iter([]), st_))
            st_.hasTimedOut = False
        else:
            continue
        expected = model.invoke(rows, st_.watermark_ms)
        if expected:
            assert len(emitted) == 1
            pd.testing.assert_frame_equal(_sorted(emitted[0]),
                                          model.frame(expected))
        else:
            assert emitted == []
        assert _decoded(st_) == _canon(model.records())
        if st_.exists:
            assert st_.timeout_ms == max(-(-min(model.evict_us()) // 1000),
                                         st_.watermark_ms + 1)
        if rows:
            top = max(r[2] for r in rows)
            max_ts = top if max_ts is None else max(max_ts, top)
        st_.watermark_ms = max(st_.watermark_ms,
                               max_ts // 1000 - _DELAY_MS)


@settings(max_examples=100, deadline=None)
@given(kind=st.sampled_from(_KINDS),
       epoch_rows=st.lists(_rows, min_size=1, max_size=4),
       advances=st.lists(st.integers(0, len(_ADVANCE_US) - 1),
                         min_size=4, max_size=4),
       seeds=st.tuples(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1)))
def test_bucket_merge_fn_confluent_under_order_and_batching(
        kind, epoch_rows, advances, seeds):
    """With the watermark held at 0 (nothing evicts), any arrival order
    and any split of the same events into invocations and chunks
    converge on the same records, n_batches aside, which counts
    invocations."""
    events = [r for rows in _events(epoch_rows, advances) for r in rows]
    if not events:
        return
    finals = []
    for seed in seeds:
        rng = np.random.default_rng(seed)
        fn, st_ = _fn(kind), _FakeState()
        order = rng.permutation(len(events))
        cuts = sorted(rng.choice(len(events) + 1,
                                 size=int(rng.integers(0, 4)), replace=True))
        for a, b in zip([0, *cuts], [*cuts, len(events)]):
            if b > a:
                rows = [events[i] for i in order[a:b]]
                list(fn((0,), iter(_chunks(kind, rows, rng)), st_))
        finals.append(sorted(
            ((lang, host, m[:2] if kind != "session" else m, g)
             for lang, host, m, g in _decoded(st_)), key=repr))
    assert finals[0] == finals[1]
    # docs are conserved, whatever the merge did
    assert sum(m[1 if kind != "session" else 2]
               for _, _, m, _ in finals[0]) == len(events)


# ---------------------------------------------------------------------------
# Single properties of the merge, each pinned on its own: NULL-safe key
# grouping, row-order and chunking invariance of one window bucket, and
# the one-shot session split.
# ---------------------------------------------------------------------------

_KEY_LANGS = ["en", "de", None, "fr"]
_KEY_HOSTS = ["a.com", None, "b.org", "c.net", "d.io"]


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, len(_KEY_LANGS) - 1),
                  st.integers(0, len(_KEY_HOSTS) - 1),
                  st.integers(0, 3)),
        min_size=1, max_size=60),
    with_window=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_batch_key_groups_matches_dict_loop(rows, with_window, seed):
    """One invocation groups rows exactly as a per-row dict loop over
    (lang, host[, window start]) does — same groups, same rows in each
    (every row carries its own count cell), same doc counts — over key
    pools with None components (try_parse_url yields NULL hosts for
    malformed URLs; NULL codes colliding across the two columns was the
    subtle failure mode). Without a window, every row shares one event
    time, so each (lang, host) is one session."""
    kind = "tumbling" if with_window else "session"
    events = [(_KEY_LANGS[li], _KEY_HOSTS[hi],
               w * _WIN_US if with_window else 0, i)
              for i, (li, hi, w) in enumerate(rows)]
    st_ = _FakeState()
    emitted = list(_fn(kind)((0,), iter(_chunks(
        kind, events, np.random.default_rng(seed))), st_))
    ref: dict = {}
    for lang, host, t, cell in events:
        fk = (lang, host, t) if with_window else (lang, host)
        ref.setdefault(fk, []).append(cell)
    keys, meta, mats = state._unpack_bucket(st_.get[0])
    got = {((k[0], k[1], int(m[0])) if with_window else tuple(k)):
           (int(m[1 if with_window else 2]), g.tobytes())
           for k, m, g in zip(keys, meta, mats)}
    assert len(got) == len(keys) == len(ref)
    for fk, cells in ref.items():
        assert fk in got, fk
        assert got[fk] == (len(cells),
                           sum(_vec(c) for c in cells).tobytes())
    assert len(emitted) == 1 and len(emitted[0]) == len(ref)


def _drive_windows(epochs, rng):
    """Run one tumbling-window bucket through the epochs, each epoch's
    rows in a random order cut into random chunks; returns every
    epoch's emission, sorted by key, and the final decoded state."""
    fn, st_ = _fn("tumbling"), _FakeState()
    out = []
    for rows in epochs:
        events = [(_KEY_LANGS[li], _KEY_HOSTS[hi], w * _WIN_US, cell)
                  for li, hi, w, cell in rows]
        emitted = list(fn((0,), iter(_chunks("tumbling", events, rng)),
                          st_))
        out.append(_sorted(emitted[0]) if emitted else None)
    return out, _decoded(st_)


@settings(max_examples=150, deadline=None)
@given(
    epochs=st.lists(
        st.lists(st.tuples(st.integers(0, len(_KEY_LANGS) - 1),
                           st.integers(0, len(_KEY_HOSTS) - 1),
                           st.integers(0, 2),
                           st.integers(0, 4 * state.L2 - 1)),
                 min_size=1, max_size=30),
        min_size=1, max_size=3),
    seeds=st.tuples(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1)),
)
def test_bucket_window_fn_ignores_row_order_and_chunking(epochs, seeds):
    """The same bucket rows, in any arrival order and any split into
    Arrow chunks, give the same emissions and the same state, and
    n_batches counts invocations (epochs), not chunks."""
    out_a, state_a = _drive_windows(epochs, np.random.default_rng(seeds[0]))
    out_b, state_b = _drive_windows(epochs, np.random.default_rng(seeds[1]))
    for a, b in zip(out_a, out_b):
        pd.testing.assert_frame_equal(a, b)
    assert state_a == state_b
    # every touched key counts one batch per epoch that touched it
    touched: dict = {}
    for rows in epochs:
        for k in {(_KEY_LANGS[r[0]], _KEY_HOSTS[r[1]], r[2] * _WIN_US)
                  for r in rows}:
            touched[k] = touched.get(k, 0) + 1
    last = out_a[-1]
    for lang, host, ws, n_batches in zip(
            last["lang"], last["host"], last["window_start"],
            last["n_batches"]):
        assert n_batches == touched[(lang, host, ws.value // 1000)]


_TINY_GAP_US = 100  # a tiny gap keeps the search space dense


@settings(max_examples=100, deadline=None)
@given(ts=st.lists(st.integers(min_value=0, max_value=500), min_size=1,
                   max_size=25),
       seed=st.integers(0, 2**31 - 1))
def test_merge_frags_matches_gaps_and_islands(ts, seed):
    """A one-shot session merge of one key's events equals the textbook
    gaps-and-islands split (sort, break where the gap to the previous
    event >= the gap) — the definition the DuckDB session oracles use."""
    fn = state._bucket_merge_fn(_TINY_GAP_US, _TINY_GAP_US, True)
    st_ = _FakeState()
    events = [("en", "a.com", t, t) for t in ts]
    list(fn((0,), iter(_chunks("session", events,
                               np.random.default_rng(seed))), st_))
    _, meta, mats = state._unpack_bucket(st_.get[0])
    order = np.argsort(meta[:, 0])
    s = sorted(ts)
    islands = [[s[0]]]
    for t in s[1:]:
        if t - islands[-1][-1] < _TINY_GAP_US:
            islands[-1].append(t)
        else:
            islands.append([t])
    assert len(order) == len(islands)
    for i, isl in zip(order, islands):
        assert tuple(meta[i]) == (isl[0], isl[-1], len(isl))
        np.testing.assert_array_equal(mats[i], sum(_vec(t) for t in isl))
