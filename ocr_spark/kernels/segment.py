"""Layout segmentation: projection-profile line cuts + glyph boxes.

Generalizes the reference's projection-profile machinery — skew_score
profiles (transform.c:136-155), mean_y smoothing (misc.c:153-178) and
find_margin run-length cuts (transform.c:313-356) — into line/column
segmentation over a binarized page, plus CCL glyph boxes. Each
function takes a page or a `(..., h, w)` stack of same-shape pages.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels import ccl
from ocr_spark.kernels.util import split_pages

F32 = np.float32


def dark_mask(binary_page: np.ndarray) -> np.ndarray:
    """After `bin auto` (contrast threshold) ink is 0, paper 255."""
    return np.asarray(binary_page) < 128


def line_bands(binary_page: np.ndarray, min_gap: int = 1, min_height: int = 3):
    """Text-line bands from the horizontal dark-pixel profile.

    A line is a maximal run of rows whose dark count exceeds 2% of the
    page width; bands separated by fewer than min_gap background rows
    are merged; bands shorter than min_height rows (shear/deskew edge
    artifacts, speckle) are dropped. Returns [(y0, y1)] for a 2-D page,
    one such list per page for a stack.
    """
    m = dark_mask(binary_page)
    h, w = m.shape[-2:]
    pages = m.reshape(-1, h, w)
    n = len(pages)
    on = np.zeros((n, h + 2), dtype=np.int8)
    on[:, 1:-1] = pages.sum(axis=2) >= max(1, int(0.02 * w))
    edge = np.diff(on, axis=1)
    pg, y0 = np.nonzero(edge == 1)
    _, y1 = np.nonzero(edge == -1)
    # merge a band into its predecessor on the same page when the gap
    # between them is under min_gap rows
    joins = np.zeros(len(pg), dtype=bool)
    joins[1:] = (pg[1:] == pg[:-1]) & (y0[1:] - y1[:-1] < min_gap)
    first = np.flatnonzero(~joins)
    last = np.append(first[1:], len(y0))[: len(first)] - 1
    pg, y0, y1 = pg[first], y0[first], y1[last]
    keep = y1 - y0 >= min_height
    bands = list(zip(y0[keep].tolist(), y1[keep].tolist()))
    return bands if m.ndim == 2 else split_pages(bands, pg[keep], n)


def column_cut(binary_page: np.ndarray, text_width: int) -> int:
    """Best vertical cut position for a text block of width `text_width`,
    via find_margin on the vertical ink profile (transform.c:313-356)."""
    from ocr_spark.kernels.geometry import find_margin

    m = dark_mask(binary_page)
    profile = m.sum(axis=0).astype(F32)
    return find_margin(profile, text_width)


def glyph_boxes(binary_page: np.ndarray, min_area: int = 2):
    """CCL bounding boxes of ink components (one list per page for a stack)."""
    return ccl.label_boxes(dark_mask(binary_page), min_area=min_area)


def page_layout(binary_page: np.ndarray) -> dict:
    """Full layout summary used by the pipeline output schema. For a
    stack, the counts and ink ratio are arrays over the leading axes
    and bands/boxes hold one list per page."""
    bands = line_bands(binary_page)
    boxes = glyph_boxes(binary_page)
    m = dark_mask(binary_page)
    h, w = m.shape[-2:]
    ink = m.sum(axis=(-2, -1)) / (h * w)
    if m.ndim == 2:
        return {
            "n_lines": len(bands),
            "n_glyphs": len(boxes),
            "ink_ratio": float(ink),
            "bands": bands,
            "boxes": boxes,
        }
    lead = m.shape[:-2]
    return {
        "n_lines": np.array([len(b) for b in bands]).reshape(lead),
        "n_glyphs": np.array([len(b) for b in boxes]).reshape(lead),
        "ink_ratio": ink,
        "bands": bands,
        "boxes": boxes,
    }
