"""Adaptive quadtree tiling (`operators/adaptive.py`), local Moran
quadrants (`operators/rollup.py::local_moran`), and equi-depth partition
bounds (`operators/partitioning.py`) — brute-force parity + invariants."""

from pyspark.sql import functions as F

from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.operators.adaptive import adaptive_assign, adaptive_cells
from hilbert_curve_spark.operators.partitioning import partition_bounds
from hilbert_curve_spark.operators.rollup import local_moran

CAP, SHIFT, LEVELS = 20, 3, 4


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


def _brute_leaves(pts):
    """Reference quadtree: per-level histograms + the flip-once predicate."""
    hist = [dict() for _ in range(LEVELS)]
    for x, y in pts:
        for l in range(LEVELS):
            k = ((x >> SHIFT) >> l, (y >> SHIFT) >> l)
            hist[l][k] = hist[l].get(k, 0) + 1
    leaves = set()
    for l in range(LEVELS):
        for (qx, qy), n in hist[l].items():
            fits = n <= CAP or l == 0
            parent_over = l == LEVELS - 1 or hist[l + 1][(qx >> 1, qy >> 1)] > CAP
            if fits and parent_over:
                leaves.add((l, qx, qy, n))
    return leaves


def test_leaves_match_brute_force(spark):
    pts = _lcg_points(400)
    got = {
        (r.level, r.qx, r.qy, r.n_docs)
        for r in adaptive_cells(_geo(spark, pts), CAP, SHIFT, LEVELS).collect()
    }
    assert got == _brute_leaves(pts)


def test_leaves_partition_corpus(spark):
    """The leaf set is an exact partition: counts sum to the corpus and
    every doc is assigned exactly once (the flip-once antichain proof)."""
    pts = _lcg_points(500, seed=11)
    geo = _geo(spark, pts)
    leaves = adaptive_cells(geo, CAP, SHIFT, LEVELS)
    assert leaves.agg(F.sum("n_docs")).collect()[0][0] == len(pts)
    assign = adaptive_assign(geo, CAP, SHIFT, LEVELS)
    assert assign.count() == len(pts)
    assert assign.select("doc_id").distinct().count() == len(pts)


def test_assign_consistent_with_leaves(spark):
    """Per-leaf assignment counts equal the leaf's own n_docs."""
    pts = _lcg_points(350, seed=23)
    geo = _geo(spark, pts)
    got = {
        (r.level, r.qx, r.qy, r["count"])
        for r in adaptive_assign(geo, CAP, SHIFT, LEVELS)
        .groupBy("level", "qx", "qy")
        .count()
        .collect()
    }
    want = {
        (r.level, r.qx, r.qy, r.n_docs)
        for r in adaptive_cells(geo, CAP, SHIFT, LEVELS).collect()
    }
    assert got == want


def test_local_moran_brute_force(spark):
    pts = _lcg_points(300, seed=5, edge=DEFAULT.edge)
    shift = 9  # 8x8 grid over the full domain: borders actually exercised
    m = DEFAULT.edge >> shift
    g = m * m
    n_total = len(pts)
    hist = {}
    for x, y in pts:
        k = (x >> shift, y >> shift)
        hist[k] = hist.get(k, 0) + 1
    got = {
        (r.gx, r.gy, r.n_docs, r.d_own, r.d_nbr, r.quadrant)
        for r in local_moran(_geo(spark, pts), shift).collect()
    }
    want = set()
    for (gx, gy), n in hist.items():
        nb8 = sum(
            hist.get((gx + dx, gy + dy), 0)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
            and 0 <= gx + dx < m
            and 0 <= gy + dy < m
        )
        k_c = (min(gx + 1, m - 1) - max(gx - 1, 0) + 1) * (
            min(gy + 1, m - 1) - max(gy - 1, 0) + 1
        ) - 1
        d_own = g * n - n_total
        d_nbr = g * nb8 - k_c * n_total
        quad = (
            "HH" if d_own > 0 and d_nbr > 0
            else "LL" if d_own < 0 and d_nbr < 0
            else "HL" if d_own > 0 and d_nbr < 0
            else "LH" if d_own < 0 and d_nbr > 0
            else "NS"
        )
        want.add((gx, gy, n, d_own, d_nbr, quad))
    assert got == want


def test_partition_bounds_equi_depth(spark):
    """Every bucket threshold lands on the first cell whose running count
    reaches it, and bounds are nondecreasing in k."""
    pts = _lcg_points(600, seed=13, edge=DEFAULT.edge)
    from hilbert_curve_spark.curve.hilbert_native import with_hilbert

    geo = with_hilbert(_geo(spark, pts), DEFAULT.order).withColumn(
        "cell", F.shiftright("hilbert", 2 * DEFAULT.cell_shift)
    )
    buckets = 8
    rows = sorted(
        (r.bucket, r.bound_cell, r.cum_docs)
        for r in partition_bounds(geo, buckets).collect()
    )
    assert [b for b, _, _ in rows] == list(range(1, buckets))
    cells = sorted(
        (r.cell, r.n_docs)
        for r in geo.groupBy("cell").agg(F.count("*").alias("n_docs")).collect()
    )
    cum, run = [], 0
    for c, n in cells:
        prev = run
        run += n
        cum.append((c, prev, run))
    n_total = run
    for k, bound, cdocs in rows:
        thr = max((k * n_total) // buckets, 1)
        want = next((c, r) for c, p, r in cum if p < thr <= r)
        assert (bound, cdocs) == want


def test_box_density_r1_equals_focal_stats(spark):
    """The SAT box sum at r=1 must equal the 3x3 focal sum exactly,
    borders included."""
    from hilbert_curve_spark.operators.rollup import box_density, focal_stats

    pts = _lcg_points(400, seed=29, edge=DEFAULT.edge)
    geo = _geo(spark, pts)
    shift = 9  # 8x8 grid: borders well represented
    got = {
        (r.gx, r.gy, r.n_docs, r.box_n)
        for r in box_density(geo, 1, shift).collect()
    }
    want = {
        (r.gx, r.gy, r.n_docs, r.focal_n)
        for r in focal_stats(geo, shift).collect()
    }
    assert got == want


def test_box_density_matches_brute_force(spark):
    from hilbert_curve_spark.operators.rollup import box_density

    pts = _lcg_points(300, seed=37, edge=DEFAULT.edge)
    shift, r = 9, 3
    m = DEFAULT.edge >> shift
    hist = {}
    for x, y in pts:
        k = (x >> shift, y >> shift)
        hist[k] = hist.get(k, 0) + 1
    got = {
        (row.gx, row.gy, row.n_docs, row.box_n)
        for row in box_density(_geo(spark, pts), r, shift).collect()
    }
    want = {
        (gx, gy, n, sum(
            hist.get((i, j), 0)
            for i in range(max(0, gx - r), min(m - 1, gx + r) + 1)
            for j in range(max(0, gy - r), min(m - 1, gy + r) + 1)
        ))
        for (gx, gy), n in hist.items()
    }
    assert got == want


def test_hotspot_regions_matches_union_find(spark, border_points):
    """Region labels must equal a brute-force union-find over the dense
    cells' rook adjacency (label = min flat key), singletons included —
    on scattered points and on points lining every grid border."""
    from hilbert_curve_spark.operators.rollup import hotspot_regions

    shift, min_docs = 9, 6
    m = DEFAULT.edge >> shift
    for pts in (_lcg_points(500, seed=41, edge=DEFAULT.edge), border_points):
        hist = {}
        for x, y in pts:
            k = (x >> shift, y >> shift)
            hist[k] = hist.get(k, 0) + 1
        dense = {c: n for c, n in hist.items() if n >= min_docs}
        assert dense and len(dense) < len(hist)  # non-trivial threshold
        parent = {c: c for c in dense}

        def find(c):
            while parent[c] != c:
                parent[c] = parent[parent[c]]
                c = parent[c]
            return c

        for gx, gy in dense:
            for nb in ((gx + 1, gy), (gx, gy + 1)):
                if nb in dense:
                    ra, rb = find((gx, gy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        want = {
            (gx, gy, n, min(c[0] * m + c[1] for c in dense if find(c) == find((gx, gy))))
            for (gx, gy), n in dense.items()
        }
        got = {
            (r.gx, r.gy, r.n_docs, r.region)
            for r in hotspot_regions(_geo(spark, pts), min_docs, shift).collect()
        }
        assert got == want
