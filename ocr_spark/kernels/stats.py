"""Background estimation, vertical mean, and page statistics.

Cites: image_background misc.c:19-68; mean_y misc.c:153-178;
calc_statistics misc.c:196-270.

All recurrences are vectorized across the independent axis (whole rows
or columns move through numpy at once); only the genuinely sequential
axis is a Python loop, which is the same asymptotic work the C does.

Stack contract: `background` and `calc_statistics` take a page stack
`(..., h, w)` and work on the trailing two axes, so one sequential step
advances every page of the stack at once. A 2-D page is the one-page
case with the 2-D return types. The fused chain
(`operators.stages.ocr_pages`) feeds same-shape stacks of at most
`STACK_PIXELS` pixels.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels.util import c_round

F32 = np.float32

# A float32 integer accumulation stays exact while |partial sum| < 2^24;
# bins whose total |increment| mass reaches this bound replay the C's
# sequential add order instead of using an exact bincount (patchable in
# tests to force the replay path on small images).
F32_EXACT_LIMIT = 2**24


def background(arr: np.ndarray, d: float) -> np.ndarray:
    """Morphological background by decaying max propagation (misc.c:19-68).

    Four sweeps: L->R and R->L per row, then top->down combine, then a
    bottom->up pass over the *rounded* intermediate. The decay factor
    follows the C float/double dance exactly: d = (float)(0.333/d);
    d = (float)exp(-d). Works on the trailing (h, w) axes of a stack.
    """
    a = np.asarray(arr, dtype=F32)
    h, w = a.shape[-2:]
    dd = F32(np.float64(0.333) / np.float64(F32(d)))
    dec = F32(np.exp(-np.float64(dd)))

    # horizontal decaying max, both directions (misc.c:36-43);
    # vectorized over every row of every page, sequential over x. The
    # x axis goes first so each step touches one contiguous slab —
    # identical elementwise ops (bit-exact), far less memory latency.
    vt = np.moveaxis(a, -1, 0).copy()  # (w, ..., h)
    cols = vt.reshape(w, -1)
    for x in range(1, w):
        np.maximum(cols[x], cols[x - 1] * dec, out=cols[x])
    for x in range(w - 2, -1, -1):
        np.maximum(cols[x], cols[x + 1] * dec, out=cols[x])
    # top->down combine with previous row's unrounded values
    # (misc.c:44-47), y axis first
    by_row = np.moveaxis(np.moveaxis(vt, 0, -1), -2, 0).copy()  # (h, ..., w)
    v = by_row.reshape(h, -1)
    for y in range(1, h):
        np.maximum(v[y], v[y - 1] * dec, out=v[y])
    out = c_round(v)
    # bottom->up pass (misc.c:53-64): v0 starts as the last row's
    # UNROUNDED values; each upper row re-reads its ROUNDED pass-1
    # output, maxes with below*dec, and is re-rounded. For non-negative
    # pages (every decoded scan) C round() == floor(x64 + 0.5), so the
    # sequential loop can skip c_round's sign branch — ~30% fewer numpy
    # launches on the one genuinely sequential axis. Both branches are
    # exact C round() on their domain, so the choice never changes bits.
    v0 = v[h - 1]
    if np.all(v[h - 1] >= 0) and np.all(out >= 0):
        for y in range(h - 2, -1, -1):
            v1 = np.maximum(out[y], v0 * dec)
            out[y] = np.floor(v1.astype(np.float64) + 0.5).astype(F32)
            v0 = v1
    else:
        for y in range(h - 2, -1, -1):
            v1 = np.maximum(out[y], v0 * dec)
            out[y] = c_round(v1)
            v0 = v1
    return np.ascontiguousarray(np.moveaxis(out.reshape(by_row.shape), 0, -2))


def mean_y(arr: np.ndarray, d: int) -> np.ndarray:
    """Vertical running mean of window d via prefix sums (misc.c:153-178).

    Output row (y - d/2) = (S[y] - S[y-d]) / d for y >= d, where S is
    the float32 row prefix sum; other rows keep their original values.
    Operates on chan[1] only in the reference (misc.c:167).
    """
    a = np.asarray(arr, dtype=F32)
    h, w = a.shape
    out = a.copy()
    s = np.cumsum(a, axis=0, dtype=F32)  # S[y] = rows 0..y, float32 seq adds
    df = F32(d)
    for y in range(d, h):
        lo = s[y - d]  # ring slot holds S[y-d] (zeros-initialized ring)
        out[y - d // 2] = ((s[y] - lo) / df).astype(F32)
    return out


def _replay(keys: np.ndarray, vals: np.ndarray, size: int) -> np.ndarray:
    """Sequential float32 sums per key over streams in the C's exact
    update order: np.add.at applies updates one by one, so each
    (page, bin) key sees its adds in scan order."""
    seq = np.zeros(size, dtype=F32)
    np.add.at(seq, keys.reshape(-1), vals.reshape(-1))
    return seq


def calc_statistics(arr: np.ndarray) -> dict:
    """The auto-threshold engine (misc.c:196-270).

    One pass over horizontally+vertically adjacent pixel pairs builds
    three histograms with a range-update trick (+1 at min bin, -1 at
    max bin, prefix-summed later): `ha` per-pixel area counts, `hb`
    border counts, `thr` squared-contrast-weighted counts. Returns
    {black, graythr, white, area, thickness, t}: Python scalars for a
    2-D page, arrays over the leading axes for a stack.

    Faithful quirks preserved:
    - pixel values are truncated to C `short` before binning;
    - the last row contributes w copies of its FIRST pixel to `ha`
      (the pointer never advances through the y==h-1 row, misc.c:223);
    - `thr`/`hb` accumulate in float32 in exact scan order.
    """
    a = np.asarray(arr, dtype=F32)
    lead = a.shape[:-2]
    h, w = a.shape[-2:]
    a = a.reshape(-1, h, w)
    n = a.shape[0]
    pages = np.arange(n)
    off = (pages * 256)[:, None, None]  # page offset of each 256-bin histogram
    nbins = n * 256
    ai = a.astype(np.int16)  # (short) truncation toward zero
    flat = ai.reshape(n, -1)
    npairs = (h - 1) * (w - 1)
    in_range = (flat.min(axis=1) >= 0) & (flat.max(axis=1) <= 255) | (npairs == 0)
    # out-of-range values bin at the clamped edge (clip moves the bin,
    # never d^2: it is taken from the unclipped pair)
    binned = ai if in_range.all() else np.clip(ai, 0, 255)

    kp = np.add(binned, off, dtype=np.intp)  # each pixel's (page, bin) key

    def count(keys_):
        return np.bincount(keys_.reshape(-1), minlength=nbins).reshape(n, 256)

    # histograms of the whole page and of its edge rows and columns:
    # any sub-grid's histogram is the page's minus the edges it lacks
    every = count(kp)
    row0, row_last = count(kp[:, 0]), count(kp[:, h - 1])
    col0, col_last = count(kp[:, :, 0]), count(kp[:, :, w - 1])
    # area histogram: every pixel of rows 0..h-2 once, plus w copies of
    # the last row's first pixel
    ha = every - row_last
    ha[pages, binned[:, h - 1, 0]] += w
    ha = ha.astype(F32)

    # pair stats over (y,x) for y<h-1, x<w-1: horizontal then vertical.
    # keys: the (page, bin) of [h-lo, v-lo, h-hi, v-hi] — within a page,
    # the min/max key is the key of the min/max value; d2: the pair's
    # (hi-lo)^2 for [h, v], exact in float64 for every int16 pair
    vp = ai.astype(np.float64)
    keys = np.empty((4, n, h - 1, w - 1), dtype=np.intp)
    d2 = np.empty((2, n, h - 1, w - 1), dtype=np.float64)
    here = (slice(None), slice(None, h - 1), slice(None, w - 1))
    for k, there in enumerate((
        (slice(None), slice(None, h - 1), slice(1, None)),
        (slice(None), slice(1, None), slice(None, w - 1)),
    )):
        np.minimum(kp[here], kp[there], out=keys[k])
        np.maximum(kp[here], kp[there], out=keys[2 + k])
        np.subtract(vp[here], vp[there], out=d2[k])
    np.multiply(d2, d2, out=d2)
    if binned is not ai:
        # the C's float increments: out-of-range d^2 rounds to float32
        d2 = d2.astype(F32).astype(np.float64)
    lo_keys, hi_keys = keys[:2].reshape(-1), keys[2:].reshape(-1)

    # hb gets +1 at each pair's lo bin and -1 at its hi bin, thr gets
    # +-d^2: per-page marginals of the lo and hi bins, counted and
    # d^2-weighted (exact: integer sums far below 2^53). A pair's lo
    # and hi bins are its two pixels' bins, so row_m + col_m is the
    # histogram of the pairs' first cells (rows 0..h-2, cols 0..w-2,
    # once per direction) plus their right and lower neighbours.
    first = every - row_last - col_last + count(kp[:, h - 1, w - 1])
    right = every - row_last - col0 + count(kp[:, h - 1, 0])
    lower = every - row0 - col_last + count(kp[:, 0, w - 1])
    row_m = count(lo_keys)
    col_m = 2 * first + right + lower - row_m
    row_d = np.bincount(lo_keys, d2.reshape(-1), minlength=nbins).reshape(n, 256)
    col_d = np.bincount(hi_keys, d2.reshape(-1), minlength=nbins).reshape(n, 256)
    hb = (row_m - col_m).astype(F32)
    thr = (row_d - col_d).astype(F32)

    # float32 exactness guard (ADVICE r1): replay a bin in the C's
    # interleaved scan order when its sequential float32 adds could
    # round. The in-range trigger bounds the RUNNING sum: bin b's
    # prefix after k updates is pos_k - neg_k with pos_k <= row[b] (all
    # +updates: b as pair-lo) and neg_k <= col[b] (all -updates: b as
    # pair-hi), so every partial is an integer with |.| <= max(row[b],
    # col[b]); while that bound is < 2^24 each float32 add is exact and
    # the sequential result IS the integer marginal. Out-of-range pages
    # keep the conservative total-magnitude form.
    bound_m = np.where(in_range[:, None], np.maximum(row_m, col_m), row_m + col_m)
    bound_d = np.where(in_range[:, None], np.maximum(row_d, col_d), row_d + col_d)
    for acc, risky, lo_mass, hi_mass in (
        (thr, bound_d >= F32_EXACT_LIMIT, row_d, col_d),
        (hb, bound_m >= F32_EXACT_LIMIT, row_m, col_m),
    ):
        if not risky.any():
            continue
        # Gather the updates that land in a risky bin, per slot of the
        # C's per-pair order [h-lo, h-hi, v-lo, v-hi], then merge the
        # slots back into scan order (pair * 4 + slot), so each risky
        # bin sees all of its updates in order. A slot side (lo or hi)
        # whose risky bins get no update is skipped. Zero thr updates
        # (d == 0) are exact float32 identities (partial sums start at
        # +0.0 and are never -0.0), so they drop out.
        r = risky.reshape(-1)
        stream = []
        for slot, (row, sign) in enumerate(((0, 1), (2, -1), (1, 1), (3, -1))):
            if not (risky & ((lo_mass if sign > 0 else hi_mass) != 0)).any():
                continue
            k = keys[row].reshape(-1)
            d = d2[row % 2].reshape(-1)
            hit = r.take(k)
            if acc is thr:
                hit &= d != 0
            pos = np.flatnonzero(hit)
            v = d.take(pos).astype(F32) if acc is thr else np.ones(len(pos), dtype=F32)
            stream.append((pos * 4 + slot, k.take(pos), v if sign > 0 else -v))
        at, ks, vs = (np.concatenate(part) for part in zip(*stream))
        if len(stream) > 1:
            merged = np.argsort(at, kind="stable")
            ks, vs = ks[merged], vs[merged]
        seq = _replay(ks, vs, nbins).reshape(n, 256)
        acc[risky] = seq[risky]

    # prefix sums in float32 (cumul_vector, vector.c:72-78); np.cumsum
    # accumulates sequentially, as the C loop does
    thr_c = np.cumsum(thr, axis=1, dtype=F32)
    hb_c = np.cumsum(hb, axis=1, dtype=F32)
    ha_c = np.cumsum(ha, axis=1, dtype=F32)  # cumul_vector(ha) ran before use (misc.c:246)
    t = np.argmax(thr_c, axis=1)  # index_of_max: first max (vector.c:214-222)

    graythr = (t / 255.0).astype(F32)
    border = hb_c[pages, t] * F32(0.8)
    area = ha_c[pages, t]
    with np.errstate(divide="ignore", invalid="ignore"):
        thickness = np.where(border != 0, F32(2) * area / border, F32(np.inf))
        # black sums the CUMULATIVE histogram over bins [0, t) in float32
        # (misc.c:250-253): a sequential cumsum read at t - 1
        black_acc = np.where(
            t > 0, np.cumsum(ha_c, axis=1, dtype=F32)[pages, t - 1], F32(0)
        )
        # (t - black/area) evaluates in float, then /255.0 in double (misc.c:254)
        inner = np.where(area != 0, t.astype(F32) - black_acc / area, F32(0))
        black = (inner.astype(np.float64) / 255.0).astype(F32)
        # white subtracts the cumulative bins (t, 255] one by one in float32
        # (misc.c:256-259): a sequential cumsum over [white0, -ha_c[t+1:]]
        # with -0.0 (the exact additive identity) in the bins at or below t
        white0 = (np.float64(255.0) * w * h - (area * t.astype(F32)).astype(np.float64)).astype(F32)
        terms = np.where(np.arange(256) > t[:, None], -ha_c, F32(-0.0))
        steps = np.concatenate([white0[:, None], terms], axis=1)
        white = np.cumsum(steps, axis=1, dtype=F32)[:, -1]
        denom = (w * h - area.astype(np.float64)) * 255.0
        white = np.where(denom != 0, (white.astype(np.float64) / denom).astype(F32), F32(0))
    out = {
        "black": black,
        "graythr": graythr,
        "white": white,
        "area": area,
        "thickness": thickness.astype(F32),
        "t": t,
    }
    if not lead:
        return {k: int(v[0]) if k == "t" else float(v[0]) for k, v in out.items()}
    return {k: v.reshape(lead) for k, v in out.items()}
