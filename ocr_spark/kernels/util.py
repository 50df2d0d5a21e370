"""Shared numeric helpers for the kernel library."""

from __future__ import annotations

import numpy as np


def c_round(x):
    """C round()/roundf(): round half away from zero (np.round is banker's).

    The reference rounds via the C library in double precision
    (e.g. /root/reference/misc.c:49, dithering.c:53). Promote to
    float64 first: for any float32 input, x±0.5 is exact in double, so
    floor/ceil of the promoted sum reproduces round() bit-for-bit;
    output dtype follows the input dtype.
    """
    x = np.asarray(x)
    x64 = x.astype(np.float64)
    # all-nonnegative fast path (every background/divide page): one
    # in-place add + floor instead of np.where's 3 full-array branches.
    # NaNs fail the min>=0 test and fall through to the general path,
    # where np.where sends them down the ceil branch exactly as before.
    if x64.size and x64.min() >= 0:
        np.add(x64, 0.5, out=x64)
        out = np.floor(x64, out=x64)
    else:
        out = np.where(x64 >= 0, np.floor(x64 + 0.5), np.ceil(x64 - 0.5))
    return out.astype(x.dtype, copy=False)


# roundf on float32 operands behaves identically to round on the
# promoted double for our value ranges; keep an alias for clarity at
# call sites that transcribe roundf() (e.g. dithering.c:34).
c_roundf = c_round


def split_pages(items: list, page: np.ndarray, n: int) -> list[list]:
    """Cut a list ordered by page into n per-page lists (`page` holds
    each item's page number)."""
    cuts = np.cumsum(np.bincount(page, minlength=n)).tolist()
    return [items[lo:hi] for lo, hi in zip([0] + cuts[:-1], cuts)]


def as_f32(a) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(a, dtype=np.float32))


def rgb_mean_gray(px: np.ndarray) -> np.ndarray:
    """(H,W,3) RGB -> float32 gray via the 3-channel mean.

    The ONE definition of luminance collapse for the RGB codec paths
    (jpeg/gif/bmp decode_image branches, imageio dispatch, GIF frame
    shredding) — these must stay numerically in lockstep for the
    lossless-roundtrip oracles, so they all call here."""
    px = px.astype(np.float32)
    return (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) / np.float32(3.0)
