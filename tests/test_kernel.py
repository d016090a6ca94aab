"""M1 kernel tests: golden values, loop-oracle parity, monoid laws.

Oracle is tests/oracle_glcm.py — written independently from SURVEY.md §1.3
formulas, no imports from glcmstream.kernel.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from glcmstream import config, kernel
from oracle_glcm import (oracle_glcm, oracle_haralick,
                         oracle_rendertile_contrast)

# the published skimage graycomatrix doc example (public knowledge [K])
DOC_PLANE = np.array([[0, 0, 1, 1],
                      [0, 0, 1, 1],
                      [0, 2, 2, 2],
                      [2, 2, 3, 3]], dtype=np.uint8)
DOC_GLCM_D1_A0 = np.array([[2, 2, 1, 0],
                           [0, 2, 0, 0],
                           [0, 0, 3, 1],
                           [0, 0, 0, 1]], dtype=np.float64)


def test_glcm_matches_published_example():
    counts = kernel.glcm_counts_batch(DOC_PLANE[None], dr=0, dc=1,
                                      levels=4, symmetric=False)
    np.testing.assert_array_equal(counts[0], DOC_GLCM_D1_A0)


def test_glcm_symmetric_normed_vs_oracle():
    counts = kernel.glcm_counts_batch(DOC_PLANE[None], dr=0, dc=1,
                                      levels=4, symmetric=True)
    P = kernel.normalize_glcm(counts)[0]
    exp = oracle_glcm(DOC_PLANE, 0, 1, 4, symmetric=True, normed=True)
    np.testing.assert_allclose(P, exp, rtol=0, atol=1e-15)
    assert abs(P.sum() - 1.0) < 1e-12
    np.testing.assert_allclose(P, P.T)


def test_haralick_vs_oracle():
    counts = kernel.glcm_counts_batch(DOC_PLANE[None], dr=0, dc=1,
                                      levels=4, symmetric=True)
    P = kernel.normalize_glcm(counts)
    got = kernel.haralick_batch(P)
    exp = oracle_haralick(P[0])
    for k in config.HARALICK_FEATURES:
        assert got[k][0] == pytest.approx(exp[k], abs=1e-12), k


def test_constant_plane_degenerate():
    plane = np.zeros((16, 16), dtype=np.uint8)
    counts = kernel.glcm_counts_batch(plane[None], dr=0, dc=1, levels=32)
    f = kernel.haralick_batch(kernel.normalize_glcm(counts))
    assert f["contrast"][0] == 0.0
    assert f["dissimilarity"][0] == 0.0
    assert f["homogeneity"][0] == pytest.approx(1.0)
    assert f["asm"][0] == pytest.approx(1.0)
    assert f["energy"][0] == pytest.approx(1.0)
    assert f["correlation"][0] == 1.0  # sigma=0 -> defined as 1.0


def test_seeded_plane_golden_pinned():
    """Pinned-value golden for a seeded 256x256 plane (FIXTURES.md §3)."""
    plane = np.random.default_rng(42).integers(
        0, 32, (256, 256), dtype=np.uint8)
    counts = kernel.glcm_counts_batch(plane[None])
    f = kernel.haralick_batch(kernel.normalize_glcm(counts))
    exp = oracle_haralick(
        oracle_glcm(plane, 0, 1, 32, symmetric=True, normed=True))
    for k in config.HARALICK_FEATURES:
        assert f[k][0] == pytest.approx(exp[k], rel=1e-12), k
    # uniform-noise plane: correlation ~ 0, homogeneity moderate
    assert abs(f["correlation"][0]) < 0.02
    assert 0 < f["homogeneity"][0] < 1


def test_decode_planes_pad_truncate_quantize():
    htmls = [bytes(range(256)) * 300, b"\xff" * 10, b""]
    planes = kernel.decode_planes(htmls, w=16, h=16, levels=32)
    assert planes.shape == (3, 16, 16)
    assert planes.max() < 32
    # 0xff >> 3 == 31 ; padding is 0
    assert planes[1].ravel()[9] == 31 and planes[1].ravel()[10] == 0


def test_fast_path_equals_full_plane():
    """glcm_counts_htmls (analytic zero-padding shortcut, multi-angle sum)
    must equal the exhaustive full-plane computation bit for bit."""
    rng = np.random.default_rng(3)
    htmls = [bytes(rng.integers(0, 256, int(k)).astype(np.uint8))
             for k in [0, 1, 100, 1600, 257, 256 * 256, 300_000]]
    fast = kernel.glcm_counts_htmls(htmls)
    planes = kernel.decode_planes(htmls)
    full = np.zeros_like(fast)
    for d in config.GLCM_DISTANCES:
        for theta in config.GLCM_ANGLES:
            dr, dc = kernel.displacement(d, theta)
            full += kernel.glcm_counts_batch(planes, dr=dr, dc=dc)
    np.testing.assert_array_equal(fast, full)
    # single-angle path stays available and exact
    fast1 = kernel.glcm_counts_htmls(htmls, angles=(0.0,), distances=(1,))
    full1 = kernel.glcm_counts_batch(planes, dr=0, dc=1)
    np.testing.assert_array_equal(fast1, full1)


def test_featurize_htmls_end_to_end_shapes():
    htmls = [kernel.make_html(f"t{i}", "word " * 50) for i in range(5)]
    f = kernel.featurize_htmls(htmls)
    assert set(f) == set(config.HARALICK_FEATURES)
    assert all(v.shape == (5,) for v in f.values())


# ---------------------------------------------------------------------------
# property-based: monoid + algebraic invariants (SURVEY.md §5.2)
# ---------------------------------------------------------------------------

plane_st = st.integers(2, 24).flatmap(
    lambda h: st.integers(2, 24).flatmap(
        lambda w: st.lists(st.integers(0, 15), min_size=h * w,
                           max_size=h * w).map(
            lambda v: np.array(v, dtype=np.uint8).reshape(h, w))))


@settings(max_examples=40, deadline=None)
@given(plane_st)
def test_glcm_vs_loop_oracle(plane):
    counts = kernel.glcm_counts_batch(plane[None], dr=0, dc=1, levels=16,
                                      symmetric=True)
    exp = oracle_glcm(plane, 0, 1, 16, symmetric=True, normed=False)
    np.testing.assert_array_equal(counts[0], exp)


@settings(max_examples=30, deadline=None)
@given(plane_st, plane_st)
def test_glcm_sum_monoid(p1, p2):
    """GLCM counts are a sum-monoid over documents: the streaming state
    accumulation (counts of a set of docs = sum of per-doc counts)."""
    both = [p1, p2]
    per_doc = [kernel.glcm_counts_batch(p[None], dr=0, dc=1, levels=16)[0]
               for p in both]
    total = per_doc[0] + per_doc[1]
    # associativity/commutativity trivially hold for +; check against
    # recomputation from scratch in either order
    np.testing.assert_array_equal(total, per_doc[1] + per_doc[0])
    P = kernel.normalize_glcm(total[None])[0]
    assert abs(P.sum() - 1.0) < 1e-9 or total.sum() == 0


@settings(max_examples=30, deadline=None)
@given(plane_st)
def test_haralick_invariants(plane):
    counts = kernel.glcm_counts_batch(plane[None], dr=0, dc=1, levels=16)
    f = kernel.haralick_batch(kernel.normalize_glcm(counts))
    assert f["energy"][0] ** 2 == pytest.approx(f["asm"][0], rel=1e-9)
    assert 0 < f["homogeneity"][0] <= 1.0 + 1e-12
    assert -1.0 - 1e-9 <= f["correlation"][0] <= 1.0 + 1e-9
    assert f["contrast"][0] >= f["dissimilarity"][0] ** 2 / 1e9  # sane


# ---------------------------------------------------------------------------
# rendertile map vs naive per-window oracle
# ---------------------------------------------------------------------------

def test_rendertile_contrast_map_vs_oracle():
    rng = np.random.default_rng(7)
    plane = rng.integers(0, 8, (14, 12), dtype=np.uint8)
    ws = 5
    got = kernel.rendertile_maps(plane, ws=ws, dr=0, dc=1)["contrast"]
    exp = oracle_rendertile_contrast(plane, ws, 0, 1, 8)
    assert got.shape == exp.shape == (10, 8)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


def test_rendertile_vertical_displacement():
    rng = np.random.default_rng(9)
    plane = rng.integers(0, 8, (12, 12), dtype=np.uint8)
    got = kernel.rendertile_maps(plane, ws=4, dr=1, dc=0)["contrast"]
    exp = oracle_rendertile_contrast(plane, 4, 1, 0, 8)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


def test_rendertile_full_all_six_vs_oracle():
    """A6 complete: energy/ASM/correlation need real per-window GLCMs;
    every map must match the naive per-window symmetric+normed oracle."""
    from oracle_glcm import oracle_rendertile_map
    rng = np.random.default_rng(21)
    plane = rng.integers(0, 8, (13, 11), dtype=np.uint8)
    ws = 5
    got = kernel.rendertile_maps_full(plane, ws=ws, dr=0, dc=1, levels=8)
    exp = oracle_rendertile_map(plane, ws, 0, 1, 8)
    for k in ("contrast", "dissimilarity", "homogeneity",
              "energy", "correlation", "asm"):
        np.testing.assert_allclose(got[k], exp[k], rtol=1e-12,
                                   err_msg=k)


def test_rendertile_full_agrees_with_integral_fast_path():
    rng = np.random.default_rng(22)
    plane = rng.integers(0, 32, (20, 20), dtype=np.uint8)
    full = kernel.rendertile_maps_full(plane, ws=7, dr=0, dc=1, levels=32)
    fast = kernel.rendertile_maps(plane, ws=7, dr=0, dc=1)
    for k in ("contrast", "dissimilarity", "homogeneity"):
        np.testing.assert_allclose(full[k], fast[k], rtol=1e-12)


def test_rendertile_full_constant_plane_correlation_is_one():
    plane = np.full((10, 10), 5, dtype=np.uint8)
    maps = kernel.rendertile_maps_full(plane, ws=4, dr=0, dc=1, levels=8)
    np.testing.assert_allclose(maps["correlation"], 1.0)
    np.testing.assert_allclose(maps["energy"], 1.0)
    np.testing.assert_allclose(maps["contrast"], 0.0)


# ---------------------------------------------------------------------------
# text extraction invariant
# ---------------------------------------------------------------------------

def test_extract_text_roundtrip_byte_identical():
    from glcmstream import fixtures
    df = fixtures.gen_pages(50, seed=42)
    for _, row in df.iterrows():
        assert kernel.extract_text(row["html"]) == row["text"]


def test_extract_text_fallback():
    assert kernel.extract_text(b"<div>hello <b>x</b></div>") == "hello x"
    assert kernel.extract_text(None) == ""


# ---------------------------------------------------------------------------
# glcm_counts_htmls: per-document counts in any chunk
# ---------------------------------------------------------------------------

page_len_st = st.one_of(
    st.none(),
    st.sampled_from([0, 1, 255, 256, 257, 65535, 65536, 65537, 300_000]),
    st.integers(0, 70_000))


@settings(max_examples=25, deadline=None)
@given(st.lists(page_len_st, min_size=1, max_size=8),
       st.sampled_from([1, 8, 256]), st.integers(0, 2**32 - 1))
def test_counts_htmls_per_document_in_mixed_chunks(lens, alphabet, seed):
    """A page's counts inside a chunk of pages of any sizes equal its
    counts alone, and the explicit sum over all 8 (distance, angle)
    displacements of glcm_counts_batch over full decoded planes.
    `alphabet` 1 makes content bytes equal to the zero padding."""
    rng = np.random.default_rng(seed)
    htmls = [None if n is None else
             rng.integers(0, alphabet, n, dtype=np.uint8).tobytes()
             for n in lens]
    mixed = kernel.glcm_counts_htmls(htmls)
    planes = kernel.decode_planes(htmls)
    full = np.zeros_like(mixed)
    for d in config.GLCM_DISTANCES:
        for theta in config.GLCM_ANGLES:
            dr, dc = kernel.displacement(d, theta)
            full += kernel.glcm_counts_batch(planes, dr=dr, dc=dc)
    np.testing.assert_array_equal(mixed, full)
    for k, html in enumerate(htmls):
        np.testing.assert_array_equal(kernel.glcm_counts_htmls([html])[0],
                                      mixed[k])
