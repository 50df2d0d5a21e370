"""Connected-component labeling (glyph boxes) — vectorized run-based CCL.

The reference has no CCL; BASELINE.json's north star adds it for
glyph/line bounding boxes (scipy is not available). Two-pass
8-connectivity over dark RUNS:

1. extract every horizontal run of the whole mask in one numpy pass
   (pad each row, diff, flatnonzero);
2. discover run-to-run adjacency edges between consecutive rows with
   two global searchsorted calls — runs within a row are disjoint and
   sorted, so the composite key ``row * (w + 2) + x`` is globally
   sorted and the overlap window of each run in the previous row is a
   contiguous index range [lo, hi);
3. union-find over the edge list (Python, but O(edges) ~ O(runs) with
   path halving — the only scalar loop left);
4. per-root bounding boxes and areas via np.minimum.at / np.maximum.at
   / np.bincount on root labels.

Output contract matches the original row-scan labeler exactly:
[(x0, y0, x1, y1)] exclusive right/bottom, min_area filter on summed
run lengths, sorted by (y0, x0). ~8x faster at 768x512 than the
per-row Python scan it replaces (the r1 head-to-head gap's biggest
single term).
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels.util import split_pages


def _runs(m: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All dark runs of a bool mask: (row, xs, xe) with xe exclusive."""
    h, w = m.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = m
    d = np.diff(padded.astype(np.int8), axis=1)
    ys, starts = np.nonzero(d == 1)
    _, ends = np.nonzero(d == -1)
    return ys, starts, ends


def _label(m: np.ndarray, min_area: int):
    """Boxes (x0, y0, x1, y1) of the 8-connected components of a 2-D
    bool mask with area >= min_area, sorted by (y0, x0)."""
    row, xs, xe = _runs(m)
    n = len(row)
    if not n:
        e = np.zeros(0, dtype=np.intp)
        return e, e, e, e
    w = m.shape[1]

    # adjacency: run i (row y) touches prev-row run j iff
    # xe_j - 1 >= xs_i - 1 and xs_j <= xe_i  (8-connectivity, xe excl).
    # Composite keys are globally sorted (rows ascend, runs within a
    # row are disjoint and ascend), stride w+2 keeps rows separated.
    stride = w + 2
    key_pxe = row * stride + (xe - 1)  # sorted
    key_pxs = row * stride + xs  # sorted
    tgt = (row - 1) * stride
    lo = np.searchsorted(key_pxe, tgt + (xs - 1), side="left")
    hi = np.searchsorted(key_pxs, tgt + xe, side="right")
    cnt = np.maximum(hi - lo, 0)
    src = np.repeat(np.arange(n), cnt)
    # multi-arange: concatenate(arange(lo_i, lo_i + cnt_i) for all i)
    csum = np.cumsum(cnt)
    offs = np.arange(csum[-1]) - np.repeat(csum - cnt, cnt)
    dst = np.repeat(lo, cnt) + offs

    # vectorized min-label propagation with pointer jumping
    # (Shiloach-Vishkin shape): each round pushes the component minimum
    # across every edge at once, then collapses pointer chains; rounds
    # ~ log(component diameter). Fixpoint label = min run index of the
    # component — the same root choice as a smaller-index-wins
    # union-find, entirely in numpy (no per-edge Python loop).
    root = np.arange(n)
    while True:
        before = root.copy()
        l_src = root[src]
        l_dst = root[dst]
        np.minimum.at(root, src, l_dst)
        np.minimum.at(root, dst, l_src)
        while True:
            nxt = root[root]
            if np.array_equal(nxt, root):
                break
            root = nxt
        if np.array_equal(before, root):
            break

    # per-root box/area aggregation: sort runs by root once, then
    # segment reductions (reduceat beats 4x ufunc.at on the same data)
    order = np.argsort(root, kind="stable")
    rs = root[order]
    starts = np.flatnonzero(np.r_[True, rs[1:] != rs[:-1]])
    x0 = np.minimum.reduceat(xs[order], starts)
    x1 = np.maximum.reduceat(xe[order], starts)
    y0 = np.minimum.reduceat(row[order], starts)
    y1 = np.maximum.reduceat(row[order], starts) + 1
    area = np.add.reduceat((xe - xs)[order], starts)

    keep = area >= min_area
    x0, y0, x1, y1 = x0[keep], y0[keep], x1[keep], y1[keep]
    # stable (y0, x0) order over components in root order
    order = np.lexsort((x0, y0))
    return x0[order], y0[order], x1[order], y1[order]


def label_boxes(mask: np.ndarray, min_area: int = 1):
    """8-connected components of a boolean mask -> bounding boxes.

    Returns [(x0, y0, x1, y1)] with exclusive right/bottom edges,
    sorted by (y0, x0). Deterministic for a given mask. A `(..., h, w)`
    stack returns one such list per page, pages in C order: they are
    labeled in one pass, stacked with a blank row between pages so no
    component crosses a page boundary.
    """
    m = np.asarray(mask, dtype=bool)
    h, w = m.shape[-2:]
    if m.ndim == 2:
        x0, y0, x1, y1 = _label(m, min_area)
        return list(zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist()))
    pages = m.reshape(-1, h, w)
    n = len(pages)
    tall = np.zeros((n, h + 1, w), dtype=bool)
    tall[:, :h] = pages
    x0, y0, x1, y1 = _label(tall.reshape(n * (h + 1), w), min_area)
    pg, y0 = np.divmod(y0, h + 1)
    y1 = y1 - pg * (h + 1)
    boxes = list(zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist()))
    return split_pages(boxes, pg, n)
