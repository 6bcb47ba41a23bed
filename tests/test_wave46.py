"""Wave-46: Newman-Ziff percolation curve and steepest-ascent watershed
basins (`operators/rollup.py`) — brute-force parity + structural
invariants."""

from pyspark.sql import functions as F

from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.operators.rollup import percolation_curve, watershed_basins


def _geo(spark, pts):
    rows = [(f"d{i:04d}", x, y) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "doc_id string, x long, y long")


def _lcg_points(n, seed=7, edge=512):
    pts, s = [], seed
    for _ in range(n):
        s = (s * 1103515245 + 12345) % (1 << 31)
        x = s % edge
        s = (s * 1103515245 + 12345) % (1 << 31)
        pts.append((x, s % edge))
    return pts


def _hist(pts, shift):
    h = {}
    for x, y in pts:
        k = (x >> shift, y >> shift)
        h[k] = h.get(k, 0) + 1
    return h


def _components(cells):
    """Brute-force 4-connected components over a cell set; returns the
    list of component sizes."""
    cells = set(cells)
    seen, sizes = set(), []
    for c in cells:
        if c in seen:
            continue
        stack, comp = [c], 0
        seen.add(c)
        while stack:
            gx, gy = stack.pop()
            comp += 1
            for nb in ((gx + 1, gy), (gx - 1, gy), (gx, gy + 1), (gx, gy - 1)):
                if nb in cells and nb not in seen:
                    seen.add(nb)
                    stack.append(nb)
        sizes.append(comp)
    return sizes


def test_percolation_curve_matches_per_threshold_labeling(spark, border_points):
    """The one-pass Newman-Ziff sweep must equal an independent component
    labeling at every threshold: on a scattered raster, on one whose cells
    line all four grid borders, and on an empty raster (one all-zero row
    per threshold, as the oracle returns)."""
    pts = _lcg_points(300, seed=43, edge=512)
    shift = 6
    thresholds = [1, 3, 5, 8]
    for case in (pts, border_points, []):
        hist = _hist(case, shift)
        got = {
            (r.threshold, r.n_cells, r.n_regions, r.max_region_cells)
            for r in percolation_curve(_geo(spark, case), thresholds, shift).collect()
        }
        want = set()
        for t in thresholds:
            cells = [c for c, n in hist.items() if n >= t]
            sizes = _components(cells)
            want.add((t, len(cells), len(sizes), max(sizes) if sizes else 0))
        assert got == want
        if case is pts:
            # the sweep must be non-trivial: strictly fewer cells at the top
            # threshold, and at least one threshold with >1 region
            by_t = {r[0]: r for r in got}
            assert by_t[8][1] < by_t[1][1]
            assert any(r[2] > 1 for r in got)


def test_percolation_monotonicity(spark):
    """Raising the threshold can only shrink the active set and the
    largest region."""
    pts = _lcg_points(400, seed=11, edge=256)
    rows = sorted(
        percolation_curve(_geo(spark, pts), [1, 2, 4, 8], shift=5).collect(),
        key=lambda r: r.threshold,
    )
    for a, b in zip(rows, rows[1:]):
        assert b.n_cells <= a.n_cells
        assert b.max_region_cells <= a.max_region_cells


def _brute_watershed(hist, m):
    """Reference steepest-ascent labeling: strictly denser rook neighbor,
    max density first, ties to the smaller flat key, peaks self-point."""
    ptr = {}
    for (gx, gy), n in hist.items():
        best = None
        for nb in ((gx + 1, gy), (gx - 1, gy), (gx, gy + 1), (gx, gy - 1)):
            if nb in hist and hist[nb] > n:
                cand = (-hist[nb], nb[0] * m + nb[1])
                if best is None or cand < best:
                    best = cand
        ptr[(gx, gy)] = (
            (gx, gy) if best is None else divmod(best[1], m)
        )

    def root(c):
        while ptr[c] != c:
            c = ptr[c]
        return c

    basins = {}
    for c, n in hist.items():
        r = root(c)
        k = r[0] * m + r[1]
        cells, docs, peak = basins.get(k, (0, 0, 0))
        basins[k] = (cells + 1, docs + n, hist[r])
    return {(k, c, d, p) for k, (c, d, p) in basins.items()}


def test_watershed_basins_match_brute_force(spark, border_points):
    shift = 6
    m = DEFAULT.edge >> shift
    for pts in (_lcg_points(700, seed=29, edge=512), border_points):
        hist = _hist(pts, shift)
        want = _brute_watershed(hist, m)
        got = {
            (r.basin, r.n_cells, r.n_docs, r.peak_docs)
            for r in watershed_basins(_geo(spark, pts), shift).collect()
        }
        assert got == want
        # conservation: every occupied cell and every doc lands in one basin
        assert sum(r[1] for r in got) == len(hist)
        assert sum(r[2] for r in got) == len(pts)
        # non-trivial: more than one basin, and some basin has >1 cell
        assert len(got) > 1 and any(r[1] > 1 for r in got)


def test_watershed_peak_is_basin_max(spark):
    """peak_docs must be the maximum density within its basin, and the
    basin label must be the peak's flat key."""
    pts = _lcg_points(500, seed=61, edge=256)
    shift = 5
    m = DEFAULT.edge >> shift
    hist = _hist(pts, shift)
    for r in watershed_basins(_geo(spark, pts), shift).collect():
        gx, gy = divmod(r.basin, m)
        assert hist[(gx, gy)] == r.peak_docs
