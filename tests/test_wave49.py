"""Wave-49: flow accumulation and peak line-of-sight over the density
raster (`operators/rollup.py`) — brute-force parity and conservation
invariants.  Oracle parity runs in ``test_entry_parity``."""

import pytest
from pyspark.sql import functions as F

from hilbert_curve_spark.operators.rollup import flow_accumulation, visibility_pairs


def _geo(spark, pts):
    rows = [(f"d{i:04d}", x, y) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "doc_id string, x long, y long")


def _lcg_points(n, seed=7, edge=2048):
    pts, s = [], seed
    for _ in range(n):
        s = (s * 1103515245 + 12345) % (1 << 31)
        x = s % edge
        s = (s * 1103515245 + 12345) % (1 << 31)
        pts.append((x, s % edge))
    return pts


def _hist(pts, shift=6):
    h = {}
    for x, y in pts:
        h[(x >> shift, y >> shift)] = h.get((x >> shift, y >> shift), 0) + 1
    return h


def _pointers(h, m):
    """Steepest-ascent pointer per cell (watershed convention: strictly
    denser rook neighbor, rank by density desc then flat key asc)."""
    ptr = {}
    for (gx, gy), n in h.items():
        best = None
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            nb = (gx + dx, gy + dy)
            if nb in h and h[nb] > n:
                cand = (-h[nb], nb[0] * m + nb[1])
                if best is None or cand < best:
                    best = cand
        ptr[(gx, gy)] = (
            (gx, gy) if best is None else (best[1] // m, best[1] % m)
        )
    return ptr


def test_flow_accumulation_matches_brute_force(spark, border_points):
    m = 64
    for pts in (_lcg_points(400, seed=21), border_points):
        h = _hist(pts)
        ptr = _pointers(h, m)
        # brute force: push every cell's mass along its full pointer chain
        acc = {c: 0 for c in h}
        for c, n in h.items():
            cur = c
            while True:
                acc[cur] += n
                nxt = ptr[cur]
                if nxt == cur:
                    break
                cur = nxt
        got = {
            r["cell"]: (r["n_docs"], r["acc_docs"])
            for r in flow_accumulation(_geo(spark, pts)).collect()
        }
        expect = {gx * m + gy: (h[(gx, gy)], acc[(gx, gy)]) for gx, gy in h}
        assert got == expect


def test_flow_accumulation_conservation(spark):
    """Peaks' accumulated mass sums to the whole corpus (every cell drains
    to exactly one peak), and every cell's accumulation >= its own mass."""
    pts = _lcg_points(600, seed=4)
    rows = flow_accumulation(_geo(spark, pts)).collect()
    m = 64
    h = _hist(pts)
    ptr = _pointers(h, m)
    peaks = {gx * m + gy for (gx, gy) in h if ptr[(gx, gy)] == (gx, gy)}
    assert sum(r["acc_docs"] for r in rows if r["cell"] in peaks) == 600
    assert all(r["acc_docs"] >= r["n_docs"] for r in rows)


# ---------------------------------------------------------------------------
# visibility_pairs
# ---------------------------------------------------------------------------


def _seg_box_hit(ax, ay, bx, by, x0, x1, y0, y1):
    if max(ax, bx) < x0 or min(ax, bx) > x1 or max(ay, by) < y0 or min(ay, by) > y1:
        return False
    sides = [
        (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        for px, py in ((x0, y0), (x1, y0), (x0, y1), (x1, y1))
    ]
    return min(sides) <= 0 <= max(sides)


def test_visibility_matches_brute_force(spark):
    # mix high LCG bits into the coordinates (the raw low bits are too
    # uniform: every point lands in its own cell and no cell reaches 2)
    pts = [((x * 193 + (y >> 5)) % 4096, (y * 167 + (x >> 6)) % 4096)
           for x, y in _lcg_points(800, seed=9, edge=4096)]
    m, s = 16, 8
    df = visibility_pairs(_geo(spark, pts), min_peak=4, block_min=4, shift=s)
    got = {
        (r["peak_a"], r["peak_b"]): (r["n_blockers"], r["visible"])
        for r in df.collect()
    }
    h = _hist(pts, s)
    cw, half = 1 << s, 1 << (s - 1)
    peaks = []
    for (gx, gy), n in h.items():
        if n < 4:
            continue
        if any(
            h.get((gx + dx, gy + dy), 0) > n
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ):
            continue
        peaks.append((gx * m + gy, gx * cw + half, gy * cw + half))
    blockers = [
        (gx * m + gy, gx * cw, gx * cw + cw - 1, gy * cw, gy * cw + cw - 1)
        for (gx, gy), n in h.items()
        if n >= 4
    ]
    expect = {}
    for i, (ka, ax, ay) in enumerate(peaks):
        for kb, bx, by in peaks[i + 1 :]:
            lo, hi = (ka, kb) if ka < kb else (kb, ka)
            nb = sum(
                1
                for ck, x0, x1, y0, y1 in blockers
                if ck not in (ka, kb) and _seg_box_hit(ax, ay, bx, by, x0, x1, y0, y1)
            )
            expect[(lo, hi)] = (nb, 1 if nb == 0 else 0)
    assert got == expect
    assert len(got) > 0


def test_visibility_adjacent_peaks_see_each_other(spark):
    """Two dense cells with a clear corridor are mutually visible; putting
    a dense cell on the straight line blocks them."""
    a = [(100, 100)] * 10          # peak cell (1, 1)
    b = [(1000, 100)] * 10         # peak cell (15, 1), same row
    clear = visibility_pairs(_geo(spark, a + b), min_peak=5, block_min=5).collect()
    assert len(clear) == 1 and clear[0]["visible"] == 1
    wall = [(550, 100)] * 6        # cell (8, 1) sits on the sight line
    blocked = visibility_pairs(
        _geo(spark, a + b + wall), min_peak=7, block_min=5
    ).collect()
    assert len(blocked) == 1 and blocked[0]["visible"] == 0
    assert blocked[0]["n_blockers"] == 1
