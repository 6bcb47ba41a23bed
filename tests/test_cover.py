"""Range-cover planner tests against golden range lists produced by executing
the reference (`SmallHilbertCurve.query` perimeter algorithm)."""

from pathlib import Path

import numpy as np
import pytest

from hilbert_curve_spark.curve.cover import (
    coalesce_ranges,
    cover_box,
    dense_cover,
)
from hilbert_curve_spark.curve.hilbert import encode2d

GOLDEN = Path(__file__).parent / "golden" / "reference_golden.txt"


def _golden_covers():
    cases = []
    for line in GOLDEN.read_text().splitlines():
        if not line.startswith("COVER "):
            continue
        parts = line.split()
        order, x_lo, x_hi, y_lo, y_hi = map(int, parts[1:6])
        ranges = [tuple(map(int, r.split(":"))) for r in parts[6].rstrip(",").split(",")]
        cases.append((order, x_lo, x_hi, y_lo, y_hi, ranges))
    assert cases
    return cases


@pytest.mark.parametrize("order,x_lo,x_hi,y_lo,y_hi,expected", _golden_covers())
def test_cover_matches_reference(order, x_lo, x_hi, y_lo, y_hi, expected):
    got = cover_box(x_lo, x_hi, y_lo, y_hi, order).ranges
    assert got == expected


# hand-pinned cases from a direct reference run (Gold2)
def test_cover_pinned():
    assert cover_box(10, 20, 12, 27, 6).ranges == [
        (152, 175), (453, 454), (457, 458), (496, 544), (547, 549),
        (565, 566), (569, 570), (730, 732), (735, 751), (800, 803),
        (812, 871), (884, 891)]
    assert cover_box(0, 15, 0, 15, 4).ranges == [(0, 255)]
    assert cover_box(3, 3, 3, 3, 4).ranges == [(10, 10)]
    assert cover_box(0, 15, 7, 7, 4).ranges == [
        (42, 44), (47, 49), (62, 63), (192, 193), (206, 208), (211, 213)]


@pytest.mark.parametrize("seed", range(5))
def test_perimeter_equals_dense(seed):
    """Perimeter algorithm == dense enumeration on random boxes."""
    rng = np.random.default_rng(seed)
    for order in (4, 6, 8):
        n = 1 << order
        a, b = sorted(rng.integers(0, n, 2).tolist())
        c, d = sorted(rng.integers(0, n, 2).tolist())
        assert cover_box(a, b, c, d, order).ranges == dense_cover(a, b, c, d, order).ranges


def test_cover_exactness_property():
    """Union of cover ranges == exact set of box-cell Hilbert values."""
    order = 6
    cov = cover_box(10, 20, 12, 27, order)
    xs, ys = np.meshgrid(np.arange(10, 21), np.arange(12, 28), indexing="ij")
    expected = set(encode2d(xs.ravel(), ys.ravel(), order).tolist())
    got = set()
    for lo, hi in cov.ranges:
        got.update(range(lo, hi + 1))
    assert got == expected


def test_budget_coalescing():
    exact = cover_box(10, 20, 12, 27, 6).ranges
    for budget in (1, 2, 4, 8, len(exact), len(exact) + 5):
        merged = coalesce_ranges(exact, budget)
        assert len(merged) <= max(budget, 1)
        # superset property: every exact range is inside some merged range
        for lo, hi in exact:
            assert any(mlo <= lo and hi <= mhi for mlo, mhi in merged)
        # disjoint ascending
        for (al, ah), (bl, bh) in zip(merged, merged[1:]):
            assert ah < bl
    # budget 4 keeps the 3 largest gaps (278 after 175, 160 after 570, 49 after 751)
    assert coalesce_ranges(exact, 4) == [(152, 175), (453, 570), (730, 751), (800, 891)]


def test_budgeted_cover_flag():
    cov = cover_box(10, 20, 12, 27, 6, max_ranges=4)
    assert not cov.exact and len(cov.ranges) == 4
    assert cover_box(10, 20, 12, 27, 6).exact


def test_orientation_matches_reference():
    from hilbert_curve_spark.curve.orientation import hilbert_orientation

    for line in GOLDEN.read_text().splitlines():
        if not line.startswith("ORIENT "):
            continue
        _, order, n, std, expected = line.split()
        got = hilbert_orientation(int(order), int(n), std == "true")
        assert got == expected, (order, n, std, got, expected)


# ---------------------------------------------------------------------------
# polygon cover (curve/cover.py::cover_polygon)
# ---------------------------------------------------------------------------


def _poly_cover_tools():
    from hilbert_curve_spark.curve.cover import _point_in_polygon, cover_polygon

    return _point_in_polygon, cover_polygon


def _in_ranges(h, ranges):
    return any(lo <= h <= hi for lo, hi in ranges)


@pytest.mark.parametrize(
    "verts",
    [
        [(10, 10), (200, 30), (120, 220)],                      # thin triangle
        [(0, 0), (255, 0), (255, 255), (0, 255)],               # full square
        [(5, 120), (120, 5), (250, 120), (120, 250)],           # diamond
        [(30, 30), (220, 40), (200, 200), (100, 150), (40, 210)],  # concave
    ],
)
def test_polygon_cover_is_lossless_superset(verts):
    """Every lattice point strictly inside the polygon must fall in the
    cover's ranges (the PIP join relies on this: candidates outside the
    cover are never tested)."""
    _pip, cover_polygon = _poly_cover_tools()
    order = 8
    cov = cover_polygon(verts, order)
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    inside_pts = [
        (x, y)
        for x in range(min(xs), max(xs) + 1, 3)
        for y in range(min(ys), max(ys) + 1, 3)
        if _pip(x, y, verts)
    ]
    assert inside_pts
    hs = encode2d(
        np.array([p[0] for p in inside_pts], dtype=np.int64),
        np.array([p[1] for p in inside_pts], dtype=np.int64),
        order,
    )
    for (x, y), h in zip(inside_pts, hs):
        assert _in_ranges(int(h), cov.ranges), (x, y)


def test_polygon_cover_tighter_than_bbox_for_thin_triangle():
    _pip, cover_polygon = _poly_cover_tools()
    order = 10
    verts = [(0, 0), (1000, 40), (60, 1000)]  # thin diagonal triangle
    cov = cover_polygon(verts, order)
    covered = sum(hi - lo + 1 for lo, hi in cov.ranges)
    bbox_cells = 1001 * 1001
    # the rasterized cover should skip most of the empty bbox half
    assert covered < bbox_cells * 0.75
    assert not cov.exact  # residual contract: consumers must re-filter


def test_polygon_cover_budget_coalescing():
    _pip, cover_polygon = _poly_cover_tools()
    verts = [(10, 10), (200, 30), (120, 220)]
    cov = cover_polygon(verts, 8, max_ranges=4)
    assert len(cov.ranges) <= 4
    full = cover_polygon(verts, 8)
    # budgeted cover is a superset of the exact-raster cover
    for lo, hi in full.ranges:
        assert any(blo <= lo and hi <= bhi for blo, bhi in cov.ranges)


def test_rect_overlaps_polygon_cases():
    from hilbert_curve_spark.curve.cover import _rect_overlaps_polygon

    tri = [(0, 0), (100, 0), (0, 100)]
    assert _rect_overlaps_polygon(10, 10, 20, 20, tri)       # rect inside
    assert _rect_overlaps_polygon(-10, -10, 200, 200, tri)   # poly inside rect
    assert _rect_overlaps_polygon(40, 40, 80, 80, tri)       # edge crosses rect
    assert not _rect_overlaps_polygon(90, 90, 120, 120, tri) # disjoint
    assert _rect_overlaps_polygon(50, 50, 60, 60, tri)       # boundary touch
