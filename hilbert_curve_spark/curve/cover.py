"""Hilbert range-cover planning (driver-side query compilation).

Given an axis-aligned box on the ``[0, 2**order)**2`` lattice, produce a list
of disjoint, ascending ``(lo, hi)`` Hilbert-index intervals that exactly cover
the box's cells — the reference's "Perimeter Algorithm"
(`hilbert/HilbertComponent/SmallHilbertCurve.java:130-231`,
`Box.java:43-104`) — optionally coalesced down to a range budget
(`Ranges.java:42-151`).

Exact-cover semantics are verified bit-for-bit against range lists produced by
executing the reference Java kernel (see ``tests/test_cover.py``).

Budget coalescing note: the reference's buffered merge uses a ``TreeSet`` with
an *inconsistent* comparator (`Node.java:34-50` returns ``-1`` whenever
``next == null`` regardless of gap), so its exact merge order is
JVM-tree-structure-dependent.  We instead use the deterministic global
min-gap merge (repeatedly join the pair of adjacent ranges with the smallest
gap, ties broken by lower bound) — the same objective the reference's buffer
approximates.  Coalesced covers over-approximate the box, so every consumer
re-applies the exact box predicate as a residual filter
(`SmallHilbertCurve.java:156-162` documents the same contract); query result
sets are therefore identical either way.

Scale note: the perimeter walk is O(perimeter) not O(area); for an order-16
full-grid box that is 2**18 cells instead of 2**32.  All cell generation and
encoding below is vectorized numpy; the only Python-level loop is over the
*ranges* (bounded by ``max_ranges`` or the number of curve entry/exit points).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np

from .hilbert import decode2d, encode2d

__all__ = ["Cover", "cover_box", "cover_polygon", "coalesce_ranges", "dense_cover"]


@dataclass(frozen=True)
class Cover:
    """A compiled range cover: disjoint ascending (lo, hi) intervals plus the
    residual box predicate that must be re-applied after the range join."""

    ranges: list[tuple[int, int]]
    x_lo: int
    x_hi: int
    y_lo: int
    y_hi: int
    order: int
    exact: bool  # True => ranges cover exactly the box cells (no residual needed)


def _perimeter_cells(x_lo: int, x_hi: int, y_lo: int, y_hi: int) -> tuple[np.ndarray, np.ndarray]:
    """All lattice cells on the box perimeter (vectorized, deduplicated)."""
    xs = np.arange(x_lo, x_hi + 1, dtype=np.int64)
    ys = np.arange(y_lo, y_hi + 1, dtype=np.int64)
    px = [xs, xs]
    py = [np.full_like(xs, y_lo), np.full_like(xs, y_hi)]
    if y_hi - y_lo > 1:
        inner = ys[1:-1]
        px += [np.full_like(inner, x_lo), np.full_like(inner, x_hi)]
        py += [inner, inner]
    # duplicates (degenerate boxes) are removed by np.unique on the encoded
    # indices in cover_box
    return np.concatenate(px), np.concatenate(py)


def cover_box(
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    order: int,
    max_ranges: int = 0,
) -> Cover:
    """Exact Hilbert range cover of an inclusive box via the perimeter walk.

    ``max_ranges == 0`` returns the exact cover; otherwise the exact cover is
    coalesced down to at most ``max_ranges`` intervals (over-approximation —
    residual filter required, and ``Cover.exact`` is False).
    """
    if not (0 <= x_lo <= x_hi < (1 << order) and 0 <= y_lo <= y_hi < (1 << order)):
        raise ValueError("box out of lattice bounds")
    cx, cy = _perimeter_cells(x_lo, x_hi, y_lo, y_hi)
    h = np.unique(encode2d(cx, cy, order))
    # Walk sorted perimeter indices; a gap after h[i] ends the current range
    # only if the next curve position (h[i]+1) lies *outside* the box —
    # otherwise the curve dove into the interior and must re-exit through the
    # perimeter, so the range continues (reference SmallHilbertCurve.java:195-221).
    diffs = np.diff(h)
    gap_pos = np.nonzero(diffs > 1)[0]  # index i where h[i+1] > h[i]+1
    if gap_pos.size:
        nx, ny = decode2d(h[gap_pos] + 1, order)
        inside = (nx >= x_lo) & (nx <= x_hi) & (ny >= y_lo) & (ny <= y_hi)
        breaks = gap_pos[~inside]
    else:
        breaks = gap_pos
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [h.size - 1]))
    ranges = [(int(h[s]), int(h[e])) for s, e in zip(starts, ends)]
    exact = True
    if max_ranges and len(ranges) > max_ranges:
        ranges = coalesce_ranges(ranges, max_ranges)
        exact = False
    return Cover(ranges, x_lo, x_hi, y_lo, y_hi, order, exact)


# ---------------------------------------------------------------------------
# polygon cover: rasterize the polygon onto a coarse aligned-cell grid and
# cover only the cells it actually touches — a strictly tighter prefilter
# than the bounding box for thin/diagonal polygons (the reference only ever
# covers rectangles, `Box.java:43-104`; this extends the same
# over-approximate-then-refine contract to the general polygons the PIP join
# supports).  Losslessness: every aligned quad at shift s is the contiguous
# Hilbert interval [H<<2s, (H+1)<<2s) (the curve's recursive structure), and
# the rect/polygon overlap test below is inclusive — a cell is kept if ANY
# of (a) a cell corner is inside the polygon, (b) a polygon vertex is inside
# the cell, (c) a polygon edge intersects a cell edge holds; if the polygon
# interior meets a cell none of whose corners are inside and which contains
# no vertex, the polygon boundary must cross the cell boundary (Jordan), so
# (c) fires.  All arithmetic is exact int64.
# ---------------------------------------------------------------------------


def _orient(ax: int, ay: int, bx: int, by: int, cx: int, cy: int) -> int:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_seg(ax: int, ay: int, bx: int, by: int, px: int, py: int) -> bool:
    return min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)


def _seg_intersect(p1, p2, p3, p4) -> bool:
    """Closed-segment intersection (touching counts), integer-exact."""
    d1 = _orient(*p3, *p4, *p1)
    d2 = _orient(*p3, *p4, *p2)
    d3 = _orient(*p1, *p2, *p3)
    d4 = _orient(*p1, *p2, *p4)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 and d2 and d3 and d4:
        return True
    if d1 == 0 and _on_seg(*p3, *p4, *p1):
        return True
    if d2 == 0 and _on_seg(*p3, *p4, *p2):
        return True
    if d3 == 0 and _on_seg(*p1, *p2, *p3):
        return True
    if d4 == 0 and _on_seg(*p1, *p2, *p4):
        return True
    return False


def _point_in_polygon(px: int, py: int, verts: list[tuple[int, int]]) -> bool:
    """Even-odd ray cast (same integer crossing rule as operators/pip.py)."""
    inside = False
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            dy = y2 - y1
            lhs, rhs = px * dy, x1 * dy + (py - y1) * (x2 - x1)
            if (lhs < rhs) if dy > 0 else (lhs > rhs):
                inside = not inside
    return inside


def _rect_overlaps_polygon(
    x0: int, y0: int, x1: int, y1: int, verts: list[tuple[int, int]]
) -> bool:
    for vx, vy in verts:  # (b) polygon vertex inside the cell
        if x0 <= vx <= x1 and y0 <= vy <= y1:
            return True
    for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)):  # (a)
        if _point_in_polygon(cx, cy, verts):
            return True
    rect_edges = (
        ((x0, y0), (x1, y0)), ((x1, y0), (x1, y1)),
        ((x1, y1), (x0, y1)), ((x0, y1), (x0, y0)),
    )
    n = len(verts)
    for i in range(n):  # (c) polygon edge crosses a cell edge
        a, b = verts[i], verts[(i + 1) % n]
        for r1, r2 in rect_edges:
            if _seg_intersect(a, b, r1, r2):
                return True
    return False


# coarse cells a polygon's bounding box may span in ``cover_polygon``: the
# rasterization tests each one against every edge in Python
_POLYGON_CELLS = 1024


def cover_polygon(
    vertices: list[tuple[int, int]],
    order: int,
    max_ranges: int = 0,
) -> Cover:
    """Hilbert range cover of the cells a polygon touches.

    Picks the finest aligned-cell shift whose bbox holds <= ``_POLYGON_CELLS``
    coarse cells, keeps only cells overlapping the polygon (lossless test
    above), maps each kept coarse cell to its contiguous Hilbert interval,
    merges adjacent intervals, then budget-coalesces.  ``exact`` is always
    False: the cover over-approximates the *polygon* (cell granularity), so
    consumers must conjoin their exact containment residual — which the PIP
    join does anyway."""
    edge = 1 << order
    xs = [v[0] for v in vertices]
    ys = [v[1] for v in vertices]
    x_lo, x_hi = max(0, min(xs)), min(edge - 1, max(xs))
    y_lo, y_hi = max(0, min(ys)), min(edge - 1, max(ys))
    s = 0
    while s < order and ((x_hi >> s) - (x_lo >> s) + 1) * (
        (y_hi >> s) - (y_lo >> s) + 1
    ) > _POLYGON_CELLS:
        s += 1
    kept_x, kept_y = [], []
    for cx in range(x_lo >> s, (x_hi >> s) + 1):
        for cy in range(y_lo >> s, (y_hi >> s) + 1):
            if _rect_overlaps_polygon(
                cx << s, cy << s, ((cx + 1) << s) - 1, ((cy + 1) << s) - 1, vertices
            ):
                kept_x.append(cx)
                kept_y.append(cy)
    h = np.sort(
        encode2d(
            np.asarray(kept_x, dtype=np.int64),
            np.asarray(kept_y, dtype=np.int64),
            order - s,
        )
    )
    breaks = np.nonzero(np.diff(h) > 1)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [h.size - 1]))
    ranges = [
        (int(h[a]) << (2 * s), ((int(h[b]) + 1) << (2 * s)) - 1)
        for a, b in zip(starts, ends)
    ]
    if max_ranges and len(ranges) > max_ranges:
        ranges = coalesce_ranges(ranges, max_ranges)
    return Cover(ranges, x_lo, x_hi, y_lo, y_hi, order, exact=False)


def coalesce_ranges(ranges: list[tuple[int, int]], max_ranges: int) -> list[tuple[int, int]]:
    """Deterministic min-gap coalescing: repeatedly join the adjacent pair with
    the smallest gap (ties: lowest bound) until ``len(ranges) <= max_ranges``.

    Keeps the ``max_ranges - 1`` largest gaps — equivalent to selecting split
    points by descending gap size, which we do directly in O(n log n).
    """
    if max_ranges <= 0 or len(ranges) <= max_ranges:
        return list(ranges)
    gaps = [(ranges[i + 1][0] - ranges[i][1], i) for i in range(len(ranges) - 1)]
    keep = heapq.nlargest(max_ranges - 1, gaps, key=lambda g: (g[0], -g[1]))
    split_after = sorted(i for _, i in keep)
    out = []
    lo = ranges[0][0]
    for i in split_after:
        out.append((lo, ranges[i][1]))
        lo = ranges[i + 1][0]
    out.append((lo, ranges[-1][1]))
    return out


def merge_overlapping(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union possibly-overlapping intervals into disjoint ascending ones
    (inputs from multiple independent covers, e.g. several polygons)."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def dense_cover(x_lo: int, x_hi: int, y_lo: int, y_hi: int, order: int) -> Cover:
    """Exact cover by dense enumeration (encode every cell, sort, merge
    consecutive) — the reference's
    `HilbertApp/HilbertRangeSearchApp.calculateHilbertRanges:46-84`.  O(area);
    used for tests/tiny boxes and as an independent check of ``cover_box``.
    """
    xs = np.arange(x_lo, x_hi + 1, dtype=np.int64)
    ys = np.arange(y_lo, y_hi + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    h = np.sort(encode2d(gx.ravel(), gy.ravel(), order))
    breaks = np.nonzero(np.diff(h) > 1)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [h.size - 1]))
    return Cover(
        [(int(h[s]), int(h[e])) for s, e in zip(starts, ends)],
        x_lo, x_hi, y_lo, y_hi, order, exact=True,
    )
