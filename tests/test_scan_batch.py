"""Batch invariance of the fused scan chain.

`ocr_pages` stacks same-shape pages and runs each kernel once per
stack. These tests pin that a page's features and binary output do not
depend on the batch it arrives in, and that every stacked kernel equals
the same kernel applied to each page of the stack.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.kernels import ccl, fixtures, geometry, pnm, pointwise, segment, stats
from ocr_spark.operators import stages
from ocr_spark.operators.stages import ocr_page, ocr_pages

F32 = np.float32

# (24, 32) mixes deskewed and zero-skew pages inside one stack; (5, 1)
# is degenerate (no adjacent-pixel pairs in one direction)
SHAPES = ((64, 96), (96, 128), (37, 53), (24, 32), (5, 1))


def _scan(shape_idx: int, key: int) -> bytes:
    return pnm.encode_gray(fixtures.shaded(*SHAPES[shape_idx], seed=42, key=key))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return type(a) is type(b) and a == b


def _assert_same_results(got, want):
    assert len(got) == len(want)
    for (gf, gb), (wf, wb) in zip(got, want):
        if wf is None:
            assert gf is None and gb is None
            continue
        assert gf.keys() == wf.keys()
        assert all(_same(gf[k], wf[k]) for k in wf), (gf, wf)
        assert gb.dtype == wb.dtype and np.array_equal(gb, wb)


def _one_by_one(scans):
    return [ocr_pages([b])[0] for b in scans]


scan_items = st.one_of(
    st.none(),
    st.tuples(st.integers(0, len(SHAPES) - 1), st.integers(0, 40)),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(scan_items, min_size=1, max_size=14))
def test_ocr_pages_is_batch_invariant(items):
    scans = [None if it is None else _scan(*it) for it in items]
    _assert_same_results(ocr_pages(scans), _one_by_one(scans))


def test_ocr_page_is_batch_of_one():
    buf = _scan(1, 3)
    feats, binp = ocr_page(buf)
    (bf, bb), = ocr_pages([buf])
    assert feats == bf and np.array_equal(binp, bb)
    assert ocr_page(None) == (None, None)


def test_batch_mixes_zero_and_nonzero_skew():
    results = ocr_pages([_scan(3, k) for k in range(6)])
    angles = [f["skew_deg"] for f, _ in results]
    assert any(a == 0.0 for a in angles) and any(a != 0.0 for a in angles)


@pytest.mark.parametrize("delta", [-1, 0, 1])
def test_stack_budget_edges(delta):
    """Pages per stack at the pixel budget and one either side of it."""
    h, w = 64, 128
    per_stack = stages.STACK_PIXELS // (h * w)
    scans = [
        pnm.encode_gray(fixtures.shaded(h, w, seed=11, key=k))
        for k in range(per_stack + delta)
    ]
    _assert_same_results(ocr_pages(scans), _one_by_one(scans))


def test_page_over_budget_runs_alone():
    h, w = 1 + stages.STACK_PIXELS // 512, 512
    scans = [pnm.encode_gray(fixtures.shaded(h, w, seed=5, key=k)) for k in range(2)]
    scans.append(_scan(0, 1))
    _assert_same_results(ocr_pages(scans), _one_by_one(scans))


def test_forced_replay_is_batch_invariant(monkeypatch):
    """Every statistics bin down the sequential float32 replay: on these
    small pages no partial sum rounds, so results equal the default."""
    scans = [_scan(i % 4, i) for i in range(10)] + [None]
    want = ocr_pages(scans)
    monkeypatch.setattr(stats, "F32_EXACT_LIMIT", 1)
    _assert_same_results(ocr_pages(scans), want)
    _assert_same_results(_one_by_one(scans), want)


def test_malformed_scan_fails_the_batch():
    with pytest.raises(ValueError):
        ocr_pages([_scan(0, 0), b"not a pnm"])


# -- stacked kernel == kernel on each slice --------------------------------

def _page(rng, kind: int, h: int, w: int) -> np.ndarray:
    if kind == 0:  # in-range gray
        return rng.uniform(0, 255, (h, w)).astype(F32)
    if kind == 1:  # binary
        return np.where(rng.uniform(size=(h, w)) < 0.3, 0, 255).astype(F32)
    if kind == 2:  # out of [0, 255]: the general statistics path
        return rng.uniform(-400, 700, (h, w)).astype(F32)
    return fixtures.shaded(h, w, seed=3, key=int(rng.integers(100)))


def _stat_slice(s: dict, i: int) -> dict:
    return {k: int(v[i]) if k == "t" else float(v[i]) for k, v in s.items()}


@settings(max_examples=30, deadline=None)
@given(
    st.integers(0, 2**31 - 1),
    st.tuples(st.integers(2, 40), st.integers(2, 40)),
    st.lists(st.integers(0, 3), min_size=1, max_size=5),
)
def test_stacked_kernels_equal_per_page(seed, hw, kinds):
    rng = np.random.default_rng(seed)
    stack = np.stack([_page(rng, k, *hw) for k in kinds])
    n = len(stack)
    thr = rng.uniform(0, 255, n).astype(F32)
    shear = rng.uniform(-1, 1, n).astype(F32)
    angle = rng.uniform(-45, 45, n)

    bg = stats.background(stack, 8.0)
    s = stats.calc_statistics(stack)
    div = pointwise.divide(stack, bg)
    binp = pointwise.binarize(stack, thr)
    ramp = pointwise.contrast(stack, thr, thr[::-1])
    sx, sy = geometry.shearx(stack, shear), geometry.sheary(stack, shear)
    sk = geometry.skew(stack, angle)
    det = geometry.detect_skew(binp)
    lay = segment.page_layout(binp)
    boxes = ccl.label_boxes(stack < 128)
    for i, page in enumerate(stack):
        assert np.array_equal(bg[i], stats.background(page, 8.0))
        got, want = _stat_slice(s, i), stats.calc_statistics(page)
        assert got.keys() == want.keys() and all(_same(got[k], want[k]) for k in want)
        assert np.array_equal(div[i], pointwise.divide(page, bg[i]), equal_nan=True)
        assert np.array_equal(binp[i], pointwise.binarize(page, thr[i]))
        assert np.array_equal(ramp[i], pointwise.contrast(page, thr[i], thr[::-1][i]))
        assert np.array_equal(sx[i], geometry.shearx(page, shear[i]))
        assert np.array_equal(sy[i], geometry.sheary(page, shear[i]))
        assert np.array_equal(sk[i], geometry.skew(page, angle[i]))
        assert det[i] == geometry.detect_skew(binp[i])
        one = segment.page_layout(binp[i])
        assert lay["n_lines"][i] == one["n_lines"]
        assert lay["n_glyphs"][i] == one["n_glyphs"]
        assert lay["ink_ratio"][i] == one["ink_ratio"]
        assert lay["bands"][i] == one["bands"] and lay["boxes"][i] == one["boxes"]
        assert boxes[i] == ccl.label_boxes(page < 128)


def _scan_order_streams(page: np.ndarray, page_no: int) -> tuple[dict, dict]:
    """Brute-force thr and hb update sequences per (page, bin) key, in
    the C's per-pair order [h-lo, h-hi, v-lo, v-hi] (misc.c:225-241),
    with zero thr updates dropped."""
    ai = page.astype(np.int16)
    h, w = ai.shape
    thr: dict = {}
    hb: dict = {}
    for y in range(h - 1):
        for x in range(w - 1):
            for q in (ai[y, x + 1], ai[y + 1, x]):
                lo, hi = sorted((int(ai[y, x]), int(q)))
                d2 = F32((hi - lo) ** 2)
                for b, sign in ((lo, 1), (hi, -1)):
                    key = page_no * 256 + min(max(b, 0), 255)
                    hb.setdefault(key, []).append(F32(sign))
                    if d2 != 0:
                        thr.setdefault(key, []).append(F32(sign) * d2)
    return thr, hb


def test_replay_streams_keep_scan_order_per_bin(monkeypatch):
    """With every bin forced down the replay, each (page, bin) receives
    exactly its page's updates in scan order — the float32 sums depend
    on that order once they exceed 2^24."""
    captured = []
    real = stats._replay

    def spy(keys, vals, size):
        captured.append((np.asarray(keys).copy(), np.asarray(vals).copy()))
        return real(keys, vals, size)

    monkeypatch.setattr(stats, "_replay", spy)
    monkeypatch.setattr(stats, "F32_EXACT_LIMIT", 1)
    rng = np.random.default_rng(9)
    stack = np.stack([
        np.round(rng.uniform(0, 255, (7, 9))).astype(F32),
        np.round(rng.uniform(-300, 600, (7, 9))).astype(F32),  # clipped bins
        fixtures.shaded(7, 9, key=2),
    ])
    stats.calc_statistics(stack)
    assert len(captured) == 2  # thr, then hb
    for (keys, vals), which in zip(captured, (0, 1)):
        got: dict = {}
        for k, v in zip(keys.tolist(), vals.tolist()):
            got.setdefault(k, []).append(v)
        want: dict = {}
        for p, page in enumerate(stack):
            want.update(_scan_order_streams(page, p)[which])
        assert got == {k: [float(v) for v in vs] for k, vs in want.items()}
