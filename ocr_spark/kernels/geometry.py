"""Geometry: rotate / crop / split / shear / skew / deskew / margin.

Cites: image_rotate_90 transform.c:3-38; rotate_image transform.c:40-46;
splitx/y transform.c:48-98; image_crop transform.c:100-124; skew_image
transform.c:126-134; skew_score transform.c:136-155; detect_skew_image
transform.c:157-201; shearx transform.c:203-240; sheary
transform.c:242-311; find_margin transform.c:313-356.
"""

from __future__ import annotations

import math

import numpy as np

F32 = np.float32


def rotate_90(arr: np.ndarray, angle: int) -> np.ndarray:
    if angle in (90, -270):
        return np.ascontiguousarray(np.rot90(arr, -1))
    if angle in (180, -180):
        return np.ascontiguousarray(np.rot90(arr, 2))
    if angle in (270, -90):
        return np.ascontiguousarray(np.rot90(arr, 1))
    raise ValueError(f"rotate_90: unsupported angle {angle}")  # assert(0) in C


def rotate(arr: np.ndarray, angle: float) -> np.ndarray:
    """Rounds to the nearest multiple of 90 (transform.c:40-46).

    n == 0 hits assert(0) in the reference; we raise instead.
    """
    n = int(np.floor(abs(angle) / 90 + 0.5)) * (1 if angle >= 0 else -1)
    n = (int(math.fmod(n, 4))) * 90  # C % truncates toward zero
    return rotate_90(arr, n)


def crop(arr: np.ndarray, x1: int, y1: int, x2: int, y2: int) -> np.ndarray:
    h, w = arr.shape
    if x1 < 0 or x2 <= x1 or x2 > w:
        raise ValueError("crop: wrong x parameters")
    if y1 < 0 or y2 <= y1 or y2 > h:
        raise ValueError("crop: wrong y parameters")
    return np.ascontiguousarray(np.asarray(arr, F32)[y1:y2, x1:x2])


def splitx(arr: np.ndarray, x: float) -> tuple[np.ndarray, np.ndarray]:
    """1 page -> 2 pages at fraction x (x>1 means 1/x), transform.c:48-73."""
    if x <= 0 or x == 1:
        raise ValueError("splitx: x must be > 0 and != 1")
    if x > 1:
        x = 1 / x
    h, w = arr.shape
    w1 = int(w * F32(x))
    a = np.asarray(arr, F32)
    return np.ascontiguousarray(a[:, :w1]), np.ascontiguousarray(a[:, w1:])


def splity(arr: np.ndarray, y: float) -> tuple[np.ndarray, np.ndarray]:
    if y <= 0 or y == 1:
        raise ValueError("splity: y must be > 0 and != 1")
    if y > 1:
        y = 1 / y
    h, w = arr.shape
    h1 = int(h * F32(y))
    a = np.asarray(arr, F32)
    return np.ascontiguousarray(a[:h1]), np.ascontiguousarray(a[h1:])


def _stack(arr: np.ndarray, param=0):
    """(n, h, w) float32 view of a page or stack plus its per-page
    parameter broadcast to (n,)."""
    a = np.asarray(arr, dtype=F32)
    p = np.broadcast_to(np.asarray(param, dtype=F32), a.shape[:-2]).reshape(-1)
    return a.reshape((-1,) + a.shape[-2:]), p


def shearx(arr: np.ndarray, t) -> np.ndarray:
    """Horizontal shear: row y shifts by (y - h/2)*t with linear interp
    and edge replication (transform.c:203-240). `t` is a scalar or one
    factor per page of a stack.

    Vectorized over the whole stack: each output row reads only its own
    source row, so one flat-index gather pair + one float32 madd
    reproduces the per-row C loop bit-for-bit (identical elementwise
    ops). Row y's valid span is x in [max(0, 1-di), w-1 - max(di, 0)];
    outside it the C replicates the span's edge value, so clamping
    x + di into [max(di, 1), w-1 + min(di, 0)] reads exactly the
    interpolation the C writes there."""
    src, t = _stack(arr, t)
    n, h, w = src.shape
    assert np.all(np.abs(t) <= 1)
    # dr = float32((y - h//2) * t), same scalar promotion as the C
    dr = ((np.arange(h) - h // 2).astype(F32)[None, :] * t[:, None]).astype(F32)
    di = np.floor(dr).astype(np.int32)
    df = (dr.astype(np.float64) - di).astype(F32)
    cb = df[..., None]
    ca = (F32(1) - df).astype(F32)[..., None]
    # degenerate rows (shift exceeds the width: the C would read OOB /
    # write nothing) keep the original row, matching the per-row loop's
    # no-op branches; they gather in-bounds garbage with di = 0 first
    degen = (di < 2 - w) | (di > w - 1)
    di = np.where(degen, 0, di)[..., None]
    x = np.clip(np.arange(w, dtype=np.int32) + di, np.maximum(di, 1), w - 1 + np.minimum(di, 0))
    x = x + (np.arange(n * h, dtype=np.intp) * w).reshape(n, h, 1)
    flat = src.reshape(-1)
    out = cb * flat[x] + ca * flat[x - 1]
    if degen.any():
        out[degen] = src[degen]
    return out.reshape(np.shape(arr))


def sheary(arr: np.ndarray, t) -> np.ndarray:
    """Vertical shear about the center column, two sweeps (down for the
    side shifting from below, up for the other) so it's in-place safe
    (transform.c:242-311). `t` is a scalar or one factor per page.

    Vectorized over the whole stack. The per-row loop was in-place
    safe because the down pass only reads rows >= y (still pristine
    when row y is written) and the up pass only reads rows <= y on the
    complementary columns — so EVERY read sees the original image, and
    full-grid gathers reproduce it bit-for-bit (identical elementwise
    float32 ops). Each page's sign of t picks which columns take the
    down-pass rules. Reads go through a copy zero-padded by |dy|+1
    rows above and below: where the C reads past the page (UB in the
    reference; a zero-padded allocation reads 0.0, which is the
    semantics we define) the pad supplies the 0.0, and wherever the
    interpolation is used both of its rows are inside the page."""
    src, t = _stack(arr, t)
    n, h, w = src.shape
    assert np.all(np.abs(t) <= 1)
    xs = np.arange(w)
    dr = ((w // 2 - xs)[None, :] * t[:, None]).astype(F32)
    dy = np.floor(dr).astype(np.int32)
    df = (dr - dy.astype(F32)).astype(F32)  # dr - floor(dr), float32
    down_cols = np.where((t > 0)[:, None], xs < w // 2, xs >= w // 2)

    pad = int(np.abs(dy).max(initial=0)) + 1
    padded = np.zeros((n, h + 2 * pad, w), dtype=F32)
    padded[:, pad : pad + h] = src
    flat = padded.reshape(-1)
    # flat index of source row y + dy: one broadcast add of a row term
    # and a per-(page, column) term
    page0 = (np.arange(n, dtype=np.intp) * padded[0].size)[:, None]
    col = (dy.astype(np.intp) + pad) * w + xs + page0
    at = (np.arange(h, dtype=np.intp) * w)[None, :, None] + col[:, None, :]
    here = flat[at]  # row y+dy (0.0 past the page)
    below = flat[w:][at]  # row y+dy+1 (0.0 past the page)
    f = df[:, None, :]
    out = here * (F32(1) - f) + below * f
    # Off the interpolation: down columns (dy >= 0) past y+dy+1 > h-1
    # keep row y+dy (transform.c:264-280); up columns (dy <= 0) take
    # the pristine pixel once y+dy+1 >= h (buf = *p, d==0 asserted in
    # C) and row y+dy+1 above the top (transform.c:284-306)
    y = np.arange(h)[None, :, None]
    down = down_cols[:, None, :]
    bottom = y >= (h - 1 - dy)[:, None, :]
    np.copyto(out, here, where=bottom & down)
    np.copyto(out, src, where=bottom & ~down)
    np.copyto(out, below, where=(y < -dy[:, None, :]) & ~down)
    return out.reshape(np.shape(arr))


def _paeth(angle_deg: float) -> tuple:
    """(shear-x, shear-y) factors of the three-shear rotation."""
    if abs(angle_deg) > 45:
        raise ValueError("skew: angle must be between -45 and 45")
    ang = F32(np.float64(F32(angle_deg)) * (math.pi / 180))
    b = F32(math.sin(np.float64(ang)))
    a = F32(np.float64(b) / (1 + math.cos(np.float64(ang))))
    return a, b


def skew(arr: np.ndarray, angle_deg) -> np.ndarray:
    """Small-angle rotation as three shears (Paeth), transform.c:126-134.
    `angle_deg` is a scalar or one angle per page of a stack."""
    lead = np.shape(arr)[:-2]
    angles = np.broadcast_to(np.asarray(angle_deg, dtype=np.float64), lead)
    ab = np.array([_paeth(float(x)) for x in angles.reshape(-1)], dtype=F32)
    a = ab[:, 0].reshape(lead)
    b = ab[:, 1].reshape(lead)
    out = shearx(arr, a)
    out = sheary(out, b)
    return shearx(out, a)


def _segment_shifts(ds: np.ndarray, w: int) -> np.ndarray:
    """(len(ds), w) profile-bin shift of each column x after a virtual
    shear by ds[i] px end-to-end (transform.c:136-155): column x falls
    in segment #{k in 1..|d|+1 : w*k // (|d|+1) <= x}, counted in
    closed form as min(|d|+1, ((x+1)(|d|+1) - 1) // w); negative
    displacements mirror it to w - segment."""
    a1 = (np.abs(ds) + 1)[:, None]
    seg = np.minimum(a1, ((np.arange(1, w + 1) * a1) - 1) // w)
    return np.where(ds[:, None] >= 0, seg, w - seg)


def _trunc_div3(x: int) -> int:
    return x // 3 if x >= 0 else -((-x) // 3)


def detect_skew(arr: np.ndarray):
    """Deskew detection (transform.c:157-201): horizontal-edge image,
    RMS gate, bracketing search over displacement maximizing the
    squared profile; returns degrees — a float for a 2-D page, an
    array over a stack's leading axes.

    Every page of a stack runs the search in lockstep, each with its
    own displacement: one vectorized score call per step scores every
    page (a page whose bracket has closed re-scores and ignores it).
    A score is the sum of the squared projection profile after a
    virtual shear by d px end-to-end (transform.c:136-155), over the
    NONZERO gated pixels only: the accumulator starts at +0.0 and every
    value is >= 0, so the skipped 0.0 entries are exact float32 no-ops,
    and np.add.at keeps each page's row-major add order. When every
    value is an integer and each page's total is < 2^24 (binary pages),
    every float32 partial sum is exact, so an exact bincount gives the
    same profile."""
    lead = np.shape(arr)[:-2]
    p, _ = _stack(arr)
    n, h, w = p.shape
    hh = h - 1
    t_img = np.abs(p[:, :hh] - p[:, 1:]).astype(F32)
    tt = (t_img * t_img).astype(F32)
    s = np.cumsum(tt.reshape(n, -1), axis=1, dtype=F32)[:, -1]  # float32 sequential sum
    s = np.sqrt(s.astype(np.float64) / w / hh).astype(F32)
    # sparse gated-edge representation (the RMS gate zeroes ~90% of
    # the edge image), shared by every score: flat index in scan order
    at = np.flatnonzero(~(t_img < s[:, None, None]) & (t_img != 0))
    vals = t_img.reshape(-1)[at]
    pg, rest = np.divmod(at, hh * w)
    yy, xx = np.divmod(rest, w)
    row = pg * (hh + w) + yy  # profile bin before the shear shift
    col = pg * w + xx
    exact_sum = bool(
        np.all(vals == np.floor(vals))
        and np.bincount(pg, vals.astype(np.float64), minlength=n).max(initial=0) < 2**24
    )

    def score(ds: list) -> list:
        j = row + _segment_shifts(np.array(ds), w).reshape(-1)[col]
        if exact_sum:
            v = np.bincount(j, vals, minlength=n * (hh + w)).astype(F32)
        else:
            v = np.zeros(n * (hh + w), dtype=F32)
            np.add.at(v, j, vals)
        vv = v * v
        return np.cumsum(vv.reshape(n, hh + w), axis=1, dtype=F32)[:, -1].tolist()

    a = [w // 10] * n
    b = [-x for x in a]
    sa = score(a)
    sb = score(b)
    while True:
        open_ = [i for i in range(n) if abs(a[i] - b[i]) > 1]
        if not open_:
            break
        ds = list(a)
        for i in open_:
            if sa[i] > sb[i]:
                ds[i] = _trunc_div3(5 * a[i] - 2 * b[i])
            else:
                ds[i] = _trunc_div3(5 * b[i] - 2 * a[i])
        sc = score(ds)
        for i in open_:
            if sa[i] > sb[i]:
                b[i], sb[i] = ds[i], sc[i]
            else:
                a[i], sa[i] = ds[i], sc[i]
    deg = []
    for ai, bi, sai, sbi in zip(a, b, sa, sb):
        if sbi > sai:
            ai = bi
        t = F32(0) if ai == 0 else F32(ai + 1) if ai > 0 else F32(ai - 1)
        deg.append(float(F32(math.atan(np.float64(F32(t / F32(w)))) * 180 / math.pi)))
    return deg[0] if not lead else np.array(deg).reshape(lead)


def deskew(arr: np.ndarray) -> tuple[np.ndarray, float]:
    """CLI deskew = detect + skew (grafix.c:283-287)."""
    ang = detect_skew(arr)
    return skew(arr, ang), ang


def find_margin(v: np.ndarray, w: int) -> int:
    """Projection-profile margin cut (transform.c:313-356): log scale,
    2-pass adaptive threshold, run-length scores, best cut position."""
    p = np.asarray(v, dtype=F32).copy()
    l = len(p)
    if w < 0 or w > l:
        raise ValueError("find_margin: invalid width")
    p = np.log((p + F32(1)).astype(np.float64)).astype(F32)  # p[i]+1 adds in f32
    t = F32(np.cumsum(p, dtype=F32)[-1] / F32(l))
    low = p <= t
    n1 = F32(low.sum())
    t1 = F32(np.cumsum(np.where(low, p, F32(0)), dtype=F32)[-1])
    t = F32((t + t1 / n1) / F32(2))
    # forward run lengths; forbidden positions get l+1
    j = 0
    for i in range(l):
        if p[i] > t:
            j = 0
            p[i] = F32(l + 1)
        else:
            j += 1
            p[i] = F32(j)
    j = 0
    for i in range(l - 1, -1, -1):
        if p[i] > l:
            j = 0
        else:
            j += 1
            p[i] = F32(p[i] - j)
    t = -l
    j = 0
    for i in range(0, l - w - 1):
        a = int(p[i])
        if a > l:
            continue
        b = int(p[i + w + 1])
        if b > l:
            continue
        a -= b
        p[i] = F32(a)
        if a > t:
            t, j = a, i
    i = j
    while i < l and p[i] == t:
        i += 1
    return (j + i) // 2
