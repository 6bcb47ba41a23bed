"""Vectorized Hilbert-curve transforms (Skilling's algorithm) over numpy.

Semantics match the reference kernel bit-for-bit
(``/root/reference`` `hilbert/HilbertComponent/HilbertCurve.java:187-216`
``transposedIndex`` = Skilling AxestoTranspose, `:229-256`
``transposedIndexToPoint`` = TransposeToAxes with the published-paper loop-bound
fix, `:266-281` ``toIndex`` bit interleave).  Verified against golden vectors
produced by executing the reference Java kernel (see
``tests/test_hilbert.py``), e.g. order 3: index(5,6)=39, index(2,4)=30,
index(1,3)=12, index(4,0)=58.

All functions operate on whole numpy arrays, so no per-row Python is ever
executed: the driver-side covers and the n-D Arrow batches use them, and
they are the reference the Spark expressions (``hilbert_native``) are
tested against.
For 2-D at order<=31 the index fits in int64 (the reference never exceeds
order 17).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "encode2d",
    "decode2d",
    "encode_nd",
    "decode_nd",
]


def _axes_to_transpose(coords: list[np.ndarray], order: int) -> list[np.ndarray]:
    """Skilling AxestoTranspose, vectorized. ``coords`` is a list of uint64
    arrays (one per dimension); returns the transposed index pieces."""
    n = len(coords)
    x = [c.astype(np.uint64, copy=True) for c in coords]
    M = np.uint64(1) << np.uint64(order - 1)
    # Inverse undo
    q = M
    while q > np.uint64(1):
        p = q - np.uint64(1)
        for i in range(n):
            hi = (x[i] & q) != 0
            if i == 0:
                # branch taken: x0 ^= p; branch not taken: t = (x0^x0)&p == 0
                x[0] = np.where(hi, x[0] ^ p, x[0])
            else:
                t = np.where(hi, np.uint64(0), (x[0] ^ x[i]) & p)
                x0_flip = np.where(hi, x[0] ^ p, x[0] ^ t)
                x[i] = np.where(hi, x[i], x[i] ^ t)
                x[0] = x0_flip
        q >>= np.uint64(1)
    # Gray encode
    for i in range(1, n):
        x[i] = x[i] ^ x[i - 1]
    t = np.zeros_like(x[0])
    q = M
    while q > np.uint64(1):
        t = np.where((x[n - 1] & q) != 0, t ^ (q - np.uint64(1)), t)
        q >>= np.uint64(1)
    for i in range(n):
        x[i] = x[i] ^ t
    return x


def _transpose_to_axes(x: list[np.ndarray], order: int) -> list[np.ndarray]:
    """Skilling TransposeToAxes, vectorized (mutates copies)."""
    n = len(x)
    x = [c.astype(np.uint64, copy=True) for c in x]
    N = np.uint64(2) << np.uint64(order - 1)
    # Gray decode by H ^ (H/2)
    t = x[n - 1] >> np.uint64(1)
    for i in range(n - 1, 0, -1):
        x[i] = x[i] ^ x[i - 1]
    x[0] = x[0] ^ t
    # Undo excess work
    q = np.uint64(2)
    while q != N:
        p = q - np.uint64(1)
        for i in range(n - 1, -1, -1):
            hi = (x[i] & q) != 0
            if i == 0:
                x[0] = np.where(hi, x[0] ^ p, x[0])
            else:
                t = np.where(hi, np.uint64(0), (x[0] ^ x[i]) & p)
                x0_flip = np.where(hi, x[0] ^ p, x[0] ^ t)
                x[i] = np.where(hi, x[i], x[i] ^ t)
                x[0] = x0_flip
        q <<= np.uint64(1)
    return x


def _interleave(x: list[np.ndarray], order: int) -> np.ndarray:
    """Bit-interleave transposed pieces into the final index.

    Bit layout matches the reference ``toIndex``: dimension 0 contributes the
    more-significant bit within each group; groups run MSB-first.
    """
    n = len(x)
    out = np.zeros_like(x[0])
    for b in range(order):  # b = bit position within each piece, MSB first
        src = np.uint64(order - 1 - b)
        for j in range(n):
            dst = np.uint64((order - 1 - b) * n + (n - 1 - j))
            out |= ((x[j] >> src) & np.uint64(1)) << dst
    return out


def _deinterleave(h: np.ndarray, order: int, n: int) -> list[np.ndarray]:
    x = [np.zeros_like(h) for _ in range(n)]
    for b in range(order):
        src_bit = np.uint64(order - 1 - b)
        for j in range(n):
            src = np.uint64((order - 1 - b) * n + (n - 1 - j))
            x[j] |= ((h >> src) & np.uint64(1)) << src_bit
    return x


def encode_nd(coords: list[np.ndarray], order: int) -> np.ndarray:
    """coords (list of int arrays in [0, 2**order)) -> int64 Hilbert index."""
    arrs = [np.asarray(c, dtype=np.uint64) for c in coords]
    t = _axes_to_transpose(arrs, order)
    return _interleave(t, order).astype(np.int64)


def decode_nd(h: np.ndarray, order: int, dims: int) -> list[np.ndarray]:
    """int64 Hilbert index -> list of int64 coordinate arrays."""
    hh = np.asarray(h, dtype=np.uint64)
    t = _deinterleave(hh, order, dims)
    axes = _transpose_to_axes(t, order)
    return [a.astype(np.int64) for a in axes]


def encode2d(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """2-D convenience wrapper: (x, y) -> Hilbert index (int64)."""
    return encode_nd([x, y], order)


def decode2d(h: np.ndarray, order: int) -> tuple[np.ndarray, np.ndarray]:
    x, y = decode_nd(h, order, 2)
    return x, y
