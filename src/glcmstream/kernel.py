"""Pure-numpy GLCM / Haralick kernels — the semantic payload of the engine.

Re-expresses the reference's rendertile / slidingwindow pipeline
(simo1427/libglcmsw; semantics per BASELINE.json:6 — reference mount was
empty, see SURVEY.md §0) as batch-vectorized numpy used *inside* Arrow
pandas UDFs. No Spark imports here: the same functions back the batch
plan, the streaming state function, and (via the independent loop oracle
in tests/oracle_glcm.py) the test suite.

All math follows SURVEY.md §1.3 / the published skimage
graycomatrix/graycoprops contract (Haralick et al. 1973):

  C[i,j] = #{(r,c) : I[r,c]=i, I[r+dr,c+dc]=j}
  symmetric: C <- C + C^T ;  normed: P = C / sum(C)
  contrast=Σ P (i-j)^2 ; dissimilarity=Σ P|i-j| ; homogeneity=Σ P/(1+(i-j)^2)
  ASM=Σ P^2 ; energy=sqrt(ASM) ;
  correlation=Σ P (i-μi)(j-μj)/(σi σj), defined 1.0 when σi σj = 0.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Sequence

import numpy as np

from . import config


_SCRATCH: dict[str, np.ndarray] = {}
# plane bytes glcm_counts_htmls decodes at once (a 1 MiB uint8 group,
# 8 MiB each as intp source and pair indices)
_GROUP_PIXELS = 1 << 20


def _scratch(name: str, size: int, dtype) -> np.ndarray:
    """Long-lived per-process scratch buffer (grown, never shrunk).

    Python workers are long-lived and single-threaded; reusing buffers
    keeps the hot path free of large fresh mmap allocations, whose page
    faults serialize badly across 32 concurrent workers.
    """
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < size or buf.dtype != np.dtype(dtype):
        buf = np.empty(max(size, 1), dtype=dtype)
        _SCRATCH[name] = buf
    return buf


def displacement(distance: int = config.GLCM_DISTANCE,
                 angle: float = config.GLCM_ANGLE) -> tuple[int, int]:
    """skimage convention: dr = round(d*sin θ), dc = round(d*cos θ)."""
    dr = int(round(distance * np.sin(angle)))
    dc = int(round(distance * np.cos(angle)))
    return dr, dc


# ---------------------------------------------------------------------------
# html -> gray plane
# ---------------------------------------------------------------------------

def decode_planes(htmls: Sequence[bytes],
                  w: int = config.PLANE_W,
                  h: int = config.PLANE_H,
                  levels: int = config.GRAY_LEVELS,
                  out: np.ndarray | None = None) -> np.ndarray:
    """Decode a batch of raw html byte strings into (n, h, w) uint8 planes.

    Deterministic: take the first w*h bytes (zero-pad short docs), then
    quantize 256 -> `levels` gray values with a right shift. The per-row
    loop only does the ragged copy; everything else is vectorized.
    """
    n = len(htmls)
    size = w * h
    if out is None:
        flat = np.zeros((n, size), dtype=np.uint8)
    else:
        flat = out
        flat.fill(0)
    for k, b in enumerate(htmls):
        if b is None:
            continue
        m = min(len(b), size)
        if m:
            flat[k, :m] = np.frombuffer(b, dtype=np.uint8, count=m)
    shift = 8 - int(np.log2(levels))
    np.right_shift(flat, shift, out=flat)
    return flat.reshape(n, h, w)


# ---------------------------------------------------------------------------
# batched GLCM (co-occurrence counts over whole planes)
# ---------------------------------------------------------------------------

def glcm_counts_batch(planes: np.ndarray,
                      dr: int | None = None,
                      dc: int | None = None,
                      levels: int = config.GRAY_LEVELS,
                      symmetric: bool = config.SYMMETRIC) -> np.ndarray:
    """Raw (optionally symmetrized) co-occurrence counts, (n, L, L) float64.

    One bincount over the whole batch: pair index = doc*L^2 + i*L + j.
    This is the sum-monoid the streaming state accumulates (SURVEY.md §2.B).
    """
    if dr is None or dc is None:
        dr, dc = displacement()
    n, h, w = planes.shape
    L = levels
    r0, r1 = max(0, -dr), h - max(0, dr)
    c0, c1 = max(0, -dc), w - max(0, dc)
    a = planes[:, r0:r1, c0:c1]
    b = planes[:, r0 + dr:r1 + dr, c0 + dc:c1 + dc]
    # One small scratch buffer reused across docs: the per-doc pair-index
    # array is ~4B/pixel, so per-doc processing stays in the allocator
    # arena / CPU cache. (A single batch-wide index buffer costs 100s of
    # MiB of freshly mapped memory per Arrow batch and page-fault time
    # dominated the kernel 10-20x in profiling.)
    counts = _scratch("counts", n * L * L, np.float64)[:n * L * L] \
        .reshape(n, L * L)
    rows, cols = a.shape[1:]
    tmp = _scratch("pairidx", rows * cols, np.int32)[:rows * cols] \
        .reshape(rows, cols)
    flat = tmp.reshape(-1)
    for k in range(n):
        np.copyto(tmp, a[k])    # widen uint8 -> int32 before scaling
        tmp *= L
        tmp += b[k]
        counts[k] = np.bincount(flat, minlength=L * L)
    counts = counts.reshape(n, L, L)
    if symmetric:
        counts = counts + counts.transpose(0, 2, 1)
    else:
        counts = counts.copy()  # hand the caller an owned array
    return counts


def normalize_glcm(counts: np.ndarray) -> np.ndarray:
    """counts (n,L,L) -> probabilities P with ΣP = 1 (all-zero -> zeros)."""
    s = counts.sum(axis=(1, 2), keepdims=True)
    s = np.where(s == 0, 1.0, s)
    return counts / s


# ---------------------------------------------------------------------------
# Haralick features (batched)
# ---------------------------------------------------------------------------

def haralick_batch(P: np.ndarray) -> dict[str, np.ndarray]:
    """Six Haralick features for a batch of normalized GLCMs (n, L, L).

    Returns dict keyed by config.HARALICK_FEATURES, each an (n,) float64.
    correlation is defined 1.0 where σi·σj == 0 (constant plane).
    """
    n, L, _ = P.shape
    i = np.arange(L, dtype=np.float64)[:, None]
    j = np.arange(L, dtype=np.float64)[None, :]
    diff = i - j
    diff2 = diff * diff

    contrast = np.einsum("nij,ij->n", P, diff2)
    dissimilarity = np.einsum("nij,ij->n", P, np.abs(diff))
    homogeneity = np.einsum("nij,ij->n", P, 1.0 / (1.0 + diff2))
    asm = np.einsum("nij,nij->n", P, P)
    energy = np.sqrt(asm)

    mu_i = np.einsum("nij,ij->n", P, np.broadcast_to(i, (L, L)))
    mu_j = np.einsum("nij,ij->n", P, np.broadcast_to(j, (L, L)))
    ci = i[None, :, :] - mu_i[:, None, None]
    cj = j[None, :, :] - mu_j[:, None, None]
    var_i = np.einsum("nij,nij->n", P, ci * ci)
    var_j = np.einsum("nij,nij->n", P, cj * cj)
    cov = np.einsum("nij,nij->n", P, ci * cj)
    denom = np.sqrt(var_i * var_j)
    correlation = np.where(denom > 0, cov / np.where(denom > 0, denom, 1.0), 1.0)

    return {
        "contrast": contrast,
        "dissimilarity": dissimilarity,
        "homogeneity": homogeneity,
        "energy": energy,
        "correlation": correlation,
        "asm": asm,
    }


def glcm_counts_htmls(htmls: Sequence[bytes],
                      w: int = config.PLANE_W,
                      h: int = config.PLANE_H,
                      levels: int = config.GRAY_LEVELS,
                      symmetric: bool = config.SYMMETRIC,
                      angles: tuple[float, ...] | None = None,
                      distances: tuple[int, ...] | None = None
                      ) -> np.ndarray:
    """Exact per-document GLCM counts for a batch of html byte strings.

    Counts are summed over every (distance, angle) pair (default: the
    reference's four angles at GLCM_DISTANCES) — a sum of monoids is a
    monoid, so the streaming state shape is unchanged. Equivalent to
    summing glcm_counts_batch(decode_planes(htmls), dr, dc) per pair —
    proven by test_fast_path_equals_full_plane — at a cost that follows
    each document's own bytes:

    - A document's bytes fill the plane row-major, so every pair whose
      source row lies past its content is (0,0). Each document is decoded
      into only its ceil(len / W) content rows plus max|dr|, and the
      padding pairs are added in closed form, (H - rows_used) *
      (W - |dc|) per displacement. Documents with the same row count are
      counted together; none is padded to a larger neighbour's rows.
    - Pairs that round to the same (dr, dc) (skimage rule: the default
      4 angles x 2 distances give 6 distinct displacements, (1, 1) and
      (1, -1) twice each) are counted once and weighted.

    Web pages are ~1-100 KiB against a 64 KiB plane. On one core of a
    4-core host, 2-96 KiB pages run at ~0.9-1.1k docs/s and the live
    fixture's small pages at ~10-15k docs/s, about 2x and 2.5-3x the
    planes sized by the largest page of a 256-page chunk.
    """
    if angles is None:
        angles = config.GLCM_ANGLES
    if distances is None:
        distances = config.GLCM_DISTANCES
    weights = Counter(displacement(d, t) for d in distances for t in angles)
    max_dr = max(abs(dr) for dr, _ in weights)
    n = len(htmls)
    L = levels
    LL = L * L
    shift = 8 - int(np.log2(L))
    lens = np.fromiter((0 if b is None else min(len(b), w * h)
                        for b in htmls), dtype=np.int64, count=n)
    rows = (lens + w - 1) // w
    counts = np.zeros((n, LL), dtype=np.float64)
    # long-lived scratch: steady-state calls never allocate large fresh
    # memory (mmap page-fault storms dominate under 32-way worker
    # parallelism otherwise — measured 10-40x); a group is cut to at most
    # _GROUP_PIXELS plane bytes, so the scratch stays ~17 MiB
    for r in np.unique(rows).tolist():
        R = min(h, max(r + max_dr, max_dr + 1))
        members = np.flatnonzero(rows == r)
        step = max(1, _GROUP_PIXELS // (R * w))
        for s in range(0, len(members), step):
            idx = members[s:s + step]
            g = len(idx)
            flat = _scratch("planes", step * R * w, np.uint8)[:g * R * w] \
                .reshape(g, R * w)
            for k, i in enumerate(idx.tolist()):
                m = int(lens[i])
                if m:
                    flat[k, :m] = np.frombuffer(htmls[i], np.uint8, count=m)
                flat[k, m:] = 0
            np.right_shift(flat, shift, out=flat)
            planes = flat.reshape(g, R, w)
            # source half of every pair index, doc*L^2 + i*L, widened to
            # intp once per group: each displacement then costs one add
            # straight into the intp scratch bincount reads without a copy
            src = _scratch("srcidx", step * R * w, np.intp)[:g * R * w] \
                .reshape(g, R, w)
            np.multiply(planes, L, out=src, dtype=np.intp)
            if g > 1:
                src += (np.arange(g, dtype=np.intp) * LL)[:, None, None]
            acc = np.zeros(g * LL, dtype=np.int64)
            pad = 0
            for (dr, dc), wt in weights.items():
                ru = min(h, max(r + abs(dr), abs(dr) + 1))
                r0, r1 = max(0, -dr), ru - max(0, dr)
                c0, c1 = max(0, -dc), w - max(0, dc)
                a = src[:, r0:r1, c0:c1]
                t = _scratch("pairs", step * R * w, np.intp)[
                    :a.size].reshape(a.shape)
                np.add(a, planes[:, r0 + dr:r1 + dr, c0 + dc:c1 + dc],
                       out=t)
                c = np.bincount(t.reshape(-1), minlength=g * LL)
                if wt != 1:
                    c *= wt
                acc += c
                pad += wt * (h - ru) * (w - abs(dc))
            acc = acc.reshape(g, LL)
            acc[:, 0] += pad
            counts[idx] = acc
    counts = counts.reshape(n, L, L)
    if symmetric:
        counts = counts + counts.transpose(0, 2, 1)
    return counts


def featurize_htmls(htmls: Sequence[bytes]) -> dict[str, np.ndarray]:
    """html bytes -> six Haralick feature arrays (the A1→A2→A4→A5 chain)."""
    counts = glcm_counts_htmls(htmls)
    if config.NORMED:
        P = normalize_glcm(counts)
    else:
        P = counts
    return haralick_batch(P)


# ---------------------------------------------------------------------------
# rendertile: sliding-window property maps via integral images
# ---------------------------------------------------------------------------

def _window_sums(x: np.ndarray, wr: int, wc: int) -> np.ndarray:
    """Sum of every wr×wc window of 2-D x, via a 2-D cumulative sum."""
    c = np.cumsum(np.cumsum(x, axis=0, dtype=np.float64), axis=1)
    c = np.pad(c, ((1, 0), (1, 0)))
    return (c[wr:, wc:] - c[:-wr, wc:] - c[wr:, :-wc] + c[:-wr, :-wc])


def rendertile_maps(plane: np.ndarray, ws: int = config.RENDER_WS,
                    dr: int | None = None, dc: int | None = None
                    ) -> dict[str, np.ndarray]:
    """Per-pixel sliding-window GLCM property maps (the reference's
    rendertile/slidingwindow kernel, re-derived analytically).

    For contrast / dissimilarity / homogeneity the windowed GLCM property
    is a normalized windowed sum of a per-pair pointwise term
    (w(a,b) = (a-b)^2, |a-b|, 1/(1+(a-b)^2)), so each map is computed with
    one integral image instead of one GLCM per pixel — O(HW) total. These
    three are invariant under symmetrization, so the maps match the naive
    per-window symmetric+normed GLCM oracle exactly.
    """
    if dr is None or dc is None:
        dr, dc = displacement()
    h, w = plane.shape
    r0, r1 = max(0, -dr), h - max(0, dr)
    c0, c1 = max(0, -dc), w - max(0, dc)
    a = plane[r0:r1, c0:c1].astype(np.float64)
    b = plane[r0 + dr:r1 + dr, c0 + dc:c1 + dc].astype(np.float64)
    d = a - b
    # In valid-region coordinates a ws×ws image window contributes the
    # rectangular (ws-|dr|)×(ws-|dc|) block of pairs starting at (r, c).
    wr, wc = ws - abs(dr), ws - abs(dc)
    if wr <= 0 or wc <= 0:
        raise ValueError("window smaller than displacement")
    npairs = float(wr * wc)
    out = {}
    for name, term in (("contrast", d * d),
                       ("dissimilarity", np.abs(d)),
                       ("homogeneity", 1.0 / (1.0 + d * d))):
        out[name] = _window_sums(term, wr, wc) / npairs
    return out


def rendertile_maps_full(plane: np.ndarray, ws: int = config.RENDER_WS,
                         dr: int | None = None, dc: int | None = None,
                         levels: int = config.GRAY_LEVELS
                         ) -> dict[str, np.ndarray]:
    """All six per-pixel sliding-window GLCM property maps (completes A6:
    round-1 shipped only the three integral-image-decomposable ones).

    energy / ASM / correlation are nonlinear in the window GLCM, so they
    need the actual per-window histogram. Still vectorized: one
    sliding_window_view over the pair-index plane + a single scattered
    np.add.at builds every window's L^2 histogram at once (O(windows x
    pairs-per-window) adds, no per-pixel python GLCM), then
    haralick_batch evaluates all windows in one shot. contrast /
    dissimilarity / homogeneity come from the same histograms here;
    test_rendertile_full_* pins them against both the integral-image
    fast path and the naive per-window oracle.
    """
    if dr is None or dc is None:
        dr, dc = displacement()
    h, w = plane.shape
    L = levels
    r0, r1 = max(0, -dr), h - max(0, dr)
    c0, c1 = max(0, -dc), w - max(0, dc)
    a = plane[r0:r1, c0:c1].astype(np.int32)
    b = plane[r0 + dr:r1 + dr, c0 + dc:c1 + dc].astype(np.int32)
    pairs = a * L + b  # valid-region pair indices
    wr, wc = ws - abs(dr), ws - abs(dc)
    if wr <= 0 or wc <= 0:
        raise ValueError("window smaller than displacement")
    win = np.lib.stride_tricks.sliding_window_view(pairs, (wr, wc))
    oh, ow = win.shape[:2]
    nwin = oh * ow
    flat = win.reshape(nwin, wr * wc)
    counts = np.zeros((nwin, L * L), dtype=np.float64)
    rows = np.repeat(np.arange(nwin), wr * wc)
    np.add.at(counts, (rows, flat.ravel()), 1.0)
    counts = counts.reshape(nwin, L, L)
    counts = counts + counts.transpose(0, 2, 1)  # symmetric
    P = normalize_glcm(counts)                   # normed
    feats = haralick_batch(P)
    return {k: v.reshape(oh, ow) for k, v in feats.items()}


def rendertile_stats(htmls: Sequence[bytes],
                     plane: int = config.RENDER_PLANE,
                     ws: int = config.RENDER_WS) -> dict[str, np.ndarray]:
    """Batch rendertile: per-document summary stats of the six sliding
    property maps (mean of each; p95 of contrast)."""
    planes = decode_planes(htmls, w=plane, h=plane)
    n = planes.shape[0]
    out = {f"{name}_mean": np.zeros(n) for name in config.HARALICK_FEATURES}
    out["contrast_p95"] = np.zeros(n)
    for k in range(n):
        maps = rendertile_maps_full(planes[k], ws=ws)
        for name in config.HARALICK_FEATURES:
            out[f"{name}_mean"][k] = maps[name].mean()
        out["contrast_p95"][k] = np.percentile(maps["contrast"], 95)
    return out


# ---------------------------------------------------------------------------
# text extraction (byte-identity invariant, BASELINE.json:15)
# ---------------------------------------------------------------------------

_P_OPEN = b"<body><p>"
_P_CLOSE = b"</p></body>"
_TAG_RE = re.compile(rb"<[^>]*>")


def make_html(title: str, text: str) -> bytes:
    """Deterministic wrapper (FIXTURES.md §1): extract_text inverts it."""
    return (b"<html><head><title>" + title.encode("utf-8")
            + b"</title></head><body><p>" + text.encode("utf-8")
            + b"</p></body></html>")


def extract_text(html: bytes) -> str:
    """Extract body text, byte-identical to the original for make_html docs."""
    if html is None:
        return ""
    i = html.find(_P_OPEN)
    j = html.rfind(_P_CLOSE)
    if i != -1 and j != -1 and j >= i + len(_P_OPEN):
        return html[i + len(_P_OPEN):j].decode("utf-8", "replace")
    return _TAG_RE.sub(b"", html).decode("utf-8", "replace").strip()


def extract_texts(htmls: Sequence[bytes]) -> list[str]:
    return [extract_text(b) for b in htmls]
