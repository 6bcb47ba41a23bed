"""Unit tests for the spatial-join family: distance self-join (brute-force
parity, cell-border pairs, radius boundary), batched kNN join (brute-force
parity, growth loop), zonal stats (vs per-polygon PIP counts), and the
cell-pyramid rollup invariants."""

import pytest
from pyspark.sql import functions as F

from hilbert_curve_spark.config import DEFAULT, EngineConfig
from hilbert_curve_spark.operators.encode import encode_documents  # noqa: F401 (import check)
from hilbert_curve_spark.operators.spatial_join import (
    _cell_shift,
    distance_self_join,
    knn_join,
    rect_self_join,
    zonal_stats,
)
from hilbert_curve_spark.operators.rollup import cell_pyramid


def _geo(spark, pts):
    rows = [(f"d{i:04d}", x, y) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "doc_id string, x long, y long")


def _brute_pairs(pts, radius):
    out = set()
    ids = [f"d{i:04d}" for i in range(len(pts))]
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            d2 = (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
            if d2 <= radius * radius:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j]), d2))
    return out


def _lcg_points(n, seed=7, edge=4096):
    pts, s = [], seed
    for _ in range(n):
        s = (s * 1103515245 + 12345) % (1 << 31)
        x = s % edge
        s = (s * 1103515245 + 12345) % (1 << 31)
        pts.append((x, s % edge))
    return pts


def _on_last_cell_line(pts, doc_ids, radius):
    """Whether any of ``doc_ids`` lies in the lattice's last cell column or
    row at the blocking of ``radius`` (where a +1 probe offset leaves the
    grid)."""
    s = _cell_shift(radius)
    last = (DEFAULT.edge >> s) - 1
    return any(
        pts[int(d[1:])][0] >> s == last or pts[int(d[1:])][1] >> s == last
        for d in doc_ids
    )


def test_distance_join_matches_brute_force(spark, border_points):
    # a dense 256-unit corner, then the lattice borders and corners
    for pts in (_lcg_points(300, edge=256), border_points):
        got = {
            (r.doc_a, r.doc_b, r.dist2)
            for r in distance_self_join(_geo(spark, pts), 20, DEFAULT).collect()
        }
        assert got == _brute_pairs(pts, 20)
        assert len(got) > 50  # non-vacuous
    assert _on_last_cell_line(border_points, {d for p in got for d in p[:2]}, 20)


def test_distance_join_cell_border_and_boundary(spark):
    # pairs straddling cell borders (cell size 16 for radius 12) and a pair
    # at EXACTLY the radius (dist2 == r*r must be included)
    pts = [(15, 15), (16, 16), (0, 0), (12, 0), (100, 100), (100, 113)]
    got = {
        (r.doc_a, r.doc_b, r.dist2)
        for r in distance_self_join(_geo(spark, pts), 12, DEFAULT).collect()
    }
    assert got == _brute_pairs(pts, 12)
    assert ("d0002", "d0003", 144) in got  # exact-radius pair kept


def test_distance_join_no_nested_loop(spark):
    plan = distance_self_join(
        _geo(spark, [(1, 1), (2, 2)]), 12, DEFAULT
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _brute_knn(pts, q, k):
    ids = [f"d{i:04d}" for i in range(len(pts))]
    scored = sorted(
        ((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2, ids[i]) for i, p in enumerate(pts)
    )
    return {(doc, d2, r + 1) for r, (d2, doc) in enumerate(scored[:k])}


@pytest.mark.parametrize("initial_radius", [None, 1])
def test_knn_join_matches_brute_force(spark, initial_radius):
    # initial_radius=1 forces the growth loop through several rounds
    pts = _lcg_points(400)
    geo = _geo(spark, pts)
    from hilbert_curve_spark.curve.hilbert_native import with_hilbert

    geo = with_hilbert(geo, DEFAULT.order)
    qspecs = [("a", 100, 100), ("b", 4000, 4000), ("c", 2048, 17)]
    out = knn_join(geo, qspecs, 7, DEFAULT, initial_radius=initial_radius)
    got = {}
    for r in out.collect():
        got.setdefault(r.qid, set()).add((r.doc_id, r.dist2, r.rank))
    for qid, qx, qy in qspecs:
        assert got[qid] == _brute_knn(pts, (qx, qy), 7), qid


def test_knn_join_k_larger_than_corpus(spark):
    pts = _lcg_points(5)
    from hilbert_curve_spark.curve.hilbert_native import with_hilbert

    geo = with_hilbert(_geo(spark, pts), DEFAULT.order)
    out = knn_join(geo, [("a", 10, 10)], 25, DEFAULT).collect()
    assert len(out) == 5  # whole corpus returned, no infinite loop


def test_zonal_stats_equals_pip_groupby(ctx):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.pip import pip_join

    dg = ctx.doc_geo
    got = {
        r.poly_id: (r.n_docs, r.sum_x, r.sum_y)
        for r in zonal_stats(dg, W.POLYGONS, DEFAULT).collect()
    }
    exp = {
        r.poly_id: (r.n_docs, r.sum_x, r.sum_y)
        for r in pip_join(dg, W.POLYGONS, DEFAULT)
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("x").alias("sum_x"),
            F.sum("y").alias("sum_y"),
        )
        .collect()
    }
    assert got == exp and got


def test_focal_stats_matches_brute_force(ctx):
    from hilbert_curve_spark.operators.rollup import focal_stats

    dg = ctx.doc_geo
    shift = 6
    hist = {}
    for r in dg.select("x", "y").collect():
        k = (r["x"] >> shift, r["y"] >> shift)
        hist[k] = hist.get(k, 0) + 1
    expected = set()
    for (gx, gy), n in hist.items():
        fs = sum(
            hist.get((gx + dx, gy + dy), 0)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        expected.add((gx, gy, n, fs))
    got = {tuple(r) for r in focal_stats(dg, shift=shift).collect()}
    assert got == expected
    # focal includes the own count; totals partition the corpus
    assert all(f >= n for (_, _, n, f) in got)
    assert sum(n for (_, _, n, _) in got) == dg.count()


def test_focal_stats_plan_no_python(ctx):
    from hilbert_curve_spark.operators.rollup import focal_stats

    plan = (
        focal_stats(ctx.doc_geo, shift=6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cell_pyramid_invariants(ctx):
    dg = ctx.doc_geo
    n = dg.count()
    pyr = cell_pyramid(dg, levels=4, config=DEFAULT).collect()
    by_level = {}
    for r in pyr:
        by_level.setdefault(r.level, {})[r.cell] = r.n_docs
    # every level is a complete partition of the corpus
    for lvl, cells in by_level.items():
        assert sum(cells.values()) == n, f"level {lvl}"
    # parent count == sum of its children
    for lvl in range(1, 4):
        for cell, cnt in by_level[lvl].items():
            kids = sum(
                v for c, v in by_level[lvl - 1].items() if (c >> 2) == cell
            )
            assert kids == cnt


def test_distance_join_custom_config_shift():
    # cell size must always be >= radius (lossless blocking)
    from hilbert_curve_spark.operators.spatial_join import _cell_shift

    for r in (1, 2, 3, 12, 16, 17, 100):
        assert (1 << _cell_shift(r)) >= r


def test_poi_distance_join_matches_brute_force(spark):
    from hilbert_curve_spark.curve.hilbert_native import with_hilbert
    from hilbert_curve_spark.operators.spatial_join import distance_join

    pts = _lcg_points(500)
    geo = with_hilbert(_geo(spark, pts), DEFAULT.order)
    pois = [("a", 100, 100), ("b", 4090, 4090), ("c", 2048, 5)]
    r = 700
    got = {
        (row.poi_id, row.doc_id, row.dist2)
        for row in distance_join(geo, pois, r, DEFAULT).collect()
    }
    exp = set()
    for pid, px, py in pois:
        for i, (x, y) in enumerate(pts):
            d2 = (x - px) ** 2 + (y - py) ** 2
            if d2 <= r * r:
                exp.add((pid, f"d{i:04d}", d2))
    assert got == exp
    assert exp  # non-vacuous


# ---------------------------------------------------------------------------
# rectangle-intersection self-join
# ---------------------------------------------------------------------------


def _brute_rects(pts, sample_mod, max_extent, edge=4096):
    import hashlib

    rects = {}
    for i, (x, y) in enumerate(pts):
        did = f"d{i:04d}"
        m = hashlib.md5(did.encode()).hexdigest()
        if int(m[0:8], 16) % sample_mod != 0:
            continue
        w = 1 + (int(m[8:12], 16) % max_extent)
        h = 1 + (int(m[12:16], 16) % max_extent)
        rects[did] = (x, y, min(x + w, edge - 1), min(y + h, edge - 1))
    return rects


def _brute_rect_pairs(rects):
    out = set()
    ids = sorted(rects)
    for i, a in enumerate(ids):
        ax0, ay0, ax1, ay1 = rects[a]
        for b in ids[i + 1 :]:
            bx0, by0, bx1, by1 = rects[b]
            iw = min(ax1, bx1) - max(ax0, bx0) + 1
            ih = min(ay1, by1) - max(ay0, by0) + 1
            if iw > 0 and ih > 0:
                out.add((a, b, iw * ih))
    return out


def test_rect_join_matches_brute_force(spark):
    # dense cloud straddling cell borders (cell size 64 for max_extent 40):
    # points deliberately placed around multiples of 64 plus an LCG cloud
    pts = _lcg_points(250, edge=200) + [
        (60, 60), (63, 63), (64, 64), (65, 65), (127, 60), (128, 68),
        (190, 191), (192, 190), (40, 126), (44, 130),
    ]
    got = [
        (r.rect_a, r.rect_b, r.ix_area)
        for r in rect_self_join(_geo(spark, pts), sample_mod=1, max_extent=40).collect()
    ]
    exp = _brute_rect_pairs(_brute_rects(pts, 1, 40))
    # exactly-once emission: no duplicates even for pairs whose intersection
    # spans multiple grid cells
    assert len(got) == len(set(got))
    assert set(got) == exp
    assert len(exp) > 100  # non-vacuous


def test_rect_join_sampling_and_determinism(spark):
    pts = _lcg_points(400, edge=300)
    full = _brute_rects(pts, 1, 40)
    sampled = _brute_rects(pts, 4, 40)
    assert 0 < len(sampled) < len(full)
    got = {
        (r.rect_a, r.rect_b, r.ix_area)
        for r in rect_self_join(_geo(spark, pts), sample_mod=4, max_extent=40).collect()
    }
    assert got == _brute_rect_pairs(sampled)


def test_rect_join_no_nested_loop(spark):
    plan = rect_self_join(
        _geo(spark, _lcg_points(50, edge=256)), sample_mod=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# nearest-POI enrichment join
# ---------------------------------------------------------------------------


def test_nearest_join_matches_brute_force(spark):
    from hilbert_curve_spark.operators.spatial_join import nearest_join

    pts = _lcg_points(400)
    pois = [("a", 100, 100), ("b", 4000, 4000), ("c", 2048, 17), ("d", 100, 100)]
    got = {
        (r.doc_id, r.poi_id, r.dist2)
        for r in nearest_join(_geo(spark, pts), pois).collect()
    }
    exp = set()
    for i, (x, y) in enumerate(pts):
        best = min(
            ((x - px) ** 2 + (y - py) ** 2, pid) for pid, px, py in pois
        )  # ties break on poi_id — 'a' and 'd' are co-located to exercise it
        exp.add((f"d{i:04d}", best[1], best[0]))
    assert got == exp
    assert len(got) == len(pts)


def test_nearest_join_zero_shuffle(spark):
    from hilbert_curve_spark.operators.spatial_join import nearest_join

    plan = (
        nearest_join(_geo(spark, _lcg_points(10)), [("a", 1, 1), ("b", 9, 9)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # pure codegen projection: no exchange, no join operator at all
    assert "Exchange" not in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# route-corridor search
# ---------------------------------------------------------------------------


def _brute_corridor(pts, verts, r):
    r2 = r * r
    segs = list(zip(verts, verts[1:]))
    out = set()
    for i, (x, y) in enumerate(pts):
        for (ax, ay), (bx, by) in segs:
            dot = (x - ax) * (bx - ax) + (y - ay) * (by - ay)
            len2 = (bx - ax) ** 2 + (by - ay) ** 2
            if dot <= 0:
                ok = (x - ax) ** 2 + (y - ay) ** 2 <= r2
            elif dot >= len2:
                ok = (x - bx) ** 2 + (y - by) ** 2 <= r2
            else:
                cross = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
                ok = cross * cross <= r2 * len2
            if ok:
                out.add(f"d{i:04d}")
                break
    return out


def test_corridor_search_matches_brute_force(spark):
    from hilbert_curve_spark.curve.hilbert_native import with_hilbert
    from hilbert_curve_spark.operators.spatial_join import corridor_search

    pts = _lcg_points(800)
    geo = with_hilbert(_geo(spark, pts), DEFAULT.order)
    # diagonal + axis-aligned + ZERO-LENGTH segment (duplicate vertex)
    route = [(100, 100), (1500, 900), (1500, 900), (1500, 3000), (3900, 3900)]
    r = 150
    got = {row.doc_id for row in corridor_search(geo, route, r, DEFAULT).collect()}
    exp = _brute_corridor(pts, route, r)
    assert got == exp
    assert len(exp) > 20  # non-vacuous


def test_corridor_exact_boundary(spark):
    from hilbert_curve_spark.curve.hilbert_native import with_hilbert
    from hilbert_curve_spark.operators.spatial_join import corridor_search

    # perpendicular distance EXACTLY r must be included, r+1 excluded
    pts = [(50, 110), (50, 111), (0, 110), (100, 111)]
    geo = with_hilbert(_geo(spark, pts), DEFAULT.order)
    got = {r_.doc_id for r_ in corridor_search(geo, [(0, 100), (100, 100)], 10, DEFAULT).collect()}
    assert got == {"d0000", "d0002"}


# ---------------------------------------------------------------------------
# DBSCAN
# ---------------------------------------------------------------------------


def _brute_dbscan(pts, eps, min_pts):
    ids = [f"d{i:04d}" for i in range(len(pts))]
    n = len(pts)
    nbrs = {i: set() for i in range(n)}
    for i in range(n):
        for j in range(i + 1, n):
            d2 = (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
            if d2 <= eps * eps:
                nbrs[i].add(j)
                nbrs[j].add(i)
    core = {i for i in range(n) if len(nbrs[i]) + 1 >= min_pts}
    parent = {i: i for i in core}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in core:
        for j in nbrs[i]:
            if j in core:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for i in core:
        members.setdefault(find(i), []).append(i)
    label = {r: min(m) for r, m in members.items()}
    res = set()
    for i in core:
        res.add((ids[i], ids[label[find(i)]], 1))
    for i in range(n):
        if i in core:
            continue
        cl = [ids[label[find(j)]] for j in nbrs[i] if j in core]
        if cl:
            res.add((ids[i], min(cl), 0))
    return res


def test_dbscan_matches_brute_force(spark):
    from hilbert_curve_spark.operators.graph import dbscan

    pts = _lcg_points(300, edge=200)
    got = {
        (r.doc_id, r.cluster, r.is_core)
        for r in dbscan(_geo(spark, pts), eps=10, min_pts=4).collect()
    }
    exp = _brute_dbscan(pts, 10, 4)
    assert got == exp
    assert any(c == 0 for _, _, c in exp)  # border points exercised
    assert len({cl for _, cl, _ in exp}) > 3  # several clusters


def test_dbscan_border_and_noise(spark):
    from hilbert_curve_spark.operators.graph import dbscan

    # clump of 4 (all core at min_pts=4), one border at distance eps from a
    # core, one noise point far away; second clump of 4 to get 2 clusters
    pts = [(10, 10), (12, 10), (10, 12), (12, 12), (20, 10), (150, 150),
           (100, 100), (102, 100), (100, 102), (102, 102)]
    got = {
        (r.doc_id, r.cluster, r.is_core)
        for r in dbscan(_geo(spark, pts), eps=8, min_pts=4).collect()
    }
    assert got == _brute_dbscan(pts, 8, 4)
    assert ("d0005", "d0005", 1) not in got  # noise excluded entirely
    assert not any(d == "d0005" for d, _, _ in got)


# ---------------------------------------------------------------------------
# zonal median + KMV distinct sketch
# ---------------------------------------------------------------------------


def test_zonal_median_matches_python(ctx):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.pip import pip_join
    from hilbert_curve_spark.operators.spatial_join import zonal_median

    dg = ctx.doc_geo
    got = {
        r.poly_id: (r.n_docs, r.median_x, r.median_y)
        for r in zonal_median(dg, W.POLYGONS, DEFAULT).collect()
    }
    members = {}
    for r in pip_join(dg, W.POLYGONS, DEFAULT).collect():
        members.setdefault(r.poly_id, []).append((r.x, r.y, r.doc_id))
    assert set(got) == set(members) and got
    for pid, rows in members.items():
        n = len(rows)
        mid = (n + 1) // 2
        mx = sorted((x, d) for x, _, d in rows)[mid - 1][0]
        my = sorted((y, d) for _, y, d in rows)[mid - 1][0]
        assert got[pid] == (n, mx, my), pid


def test_cell_kmv_matches_python(ctx):
    import hashlib

    from hilbert_curve_spark.operators.rollup import cell_distinct_kmv

    dg = ctx.doc_geo
    got = {
        r.gcell: (r.n_distinct, r.kmv_estimate)
        for r in cell_distinct_kmv(dg).collect()
    }
    pairs = set()
    for r in dg.select("x", "y", "keywords").collect():
        g = (r.x >> 8) * 16 + (r.y >> 8)
        for kw in r.keywords:
            pairs.add((g, kw))
    cells = {}
    for g, kw in pairs:
        h = max(int(hashlib.md5(kw.encode()).hexdigest()[:10], 16), 1)
        cells.setdefault(g, []).append((h, kw))
    k, m_space = 16, 1 << 40
    exp = {}
    for g, hs in cells.items():
        hs.sort()
        nd = len(hs)
        if nd <= k:
            exp[g] = (nd, nd)
        else:
            exp[g] = (nd, (k - 1) * m_space // hs[k - 1][0])
    assert got == exp and got
    # sketch sanity: where it estimates, it lands within 3x of truth
    for g, (nd, est) in got.items():
        if nd > k:
            assert nd / 3 <= est <= nd * 3, (g, nd, est)


# ---------------------------------------------------------------------------
# snap_to_road
# ---------------------------------------------------------------------------


def _brute_snap(pts, roads):
    out = {}
    for i, (x, y) in enumerate(pts):
        best = None
        for rid, ax, ay, bx, by in roads:
            dx = max(min(ax, bx) - x, x - max(ax, bx), 0)
            dy = max(min(ay, by) - y, y - max(ay, by), 0)
            key = (dx * dx + dy * dy, rid)
            if best is None or key < best:
                best = key
        out[f"d{i:04d}"] = (best[1], best[0])
    return out


def test_snap_to_road_matches_brute_force(spark):
    from hilbert_curve_spark.workload import ROADS
    from hilbert_curve_spark.operators.spatial_join import snap_to_road

    pts = _lcg_points(400)
    got = {
        r.doc_id: (r.road_id, r.dist2)
        for r in snap_to_road(_geo(spark, pts), ROADS).collect()
    }
    assert got == _brute_snap(pts, ROADS)


def test_snap_tie_break_is_deterministic(spark):
    from hilbert_curve_spark.operators.spatial_join import snap_to_road

    # equidistant between two parallel roads -> lexicographically smaller id
    roads = [("r_b", 0, 10, 100, 10), ("r_a", 0, 30, 100, 30)]
    got = snap_to_road(_geo(spark, [(50, 20)]), roads).collect()[0]
    assert (got.road_id, got.dist2) == ("r_a", 100)


def test_snap_rejects_diagonal_roads(spark):
    from hilbert_curve_spark.operators.spatial_join import snap_to_road

    with pytest.raises(ValueError, match="axis-aligned"):
        snap_to_road(_geo(spark, [(0, 0)]), [("diag", 0, 0, 10, 10)])


def test_snap_plan_no_python_no_join(spark):
    from hilbert_curve_spark.workload import ROADS
    from hilbert_curve_spark.operators.spatial_join import snap_to_road

    plan = (
        snap_to_road(_geo(spark, [(1, 2)]), ROADS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Join", "Exchange"):
        assert bad not in plan


def test_snap_bucketed_matches_literal_on_covering_grid(spark):
    from hilbert_curve_spark.workload import road_grid, road_cover_radius
    from hilbert_curve_spark.operators.spatial_join import (
        snap_to_road,
        snap_to_road_bucketed,
    )

    roads = road_grid(8)
    r = road_cover_radius(8)
    pts = _lcg_points(400)
    geo = _geo(spark, pts)
    got = {
        (x.doc_id, x.road_id, x.dist2)
        for x in snap_to_road_bucketed(geo, roads, r).collect()
    }
    want = {
        (x.doc_id, x.road_id, x.dist2) for x in snap_to_road(geo, roads).collect()
    }
    # covering grid: global nearest == within-radius nearest, nothing drops
    assert got == want and len(got) == len(pts)


def test_snap_bucketed_plan_no_bnlj(spark):
    from hilbert_curve_spark.workload import road_grid, road_cover_radius
    from hilbert_curve_spark.operators.spatial_join import snap_to_road_bucketed

    plan = (
        snap_to_road_bucketed(_geo(spark, [(1, 2)]), road_grid(8), road_cover_radius(8))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython"):
        assert bad not in plan


# ---------------------------------------------------------------------------
# knn_graph + zonal_overlay (wave 5)
# ---------------------------------------------------------------------------


def test_knn_graph_matches_brute_force(spark, border_points):
    from hilbert_curve_spark.operators.spatial_join import knn_graph

    k, radius = 3, 24
    # dense 256-unit corner (real neighbor lists), then the lattice borders
    for pts in (_lcg_points(120, seed=31, edge=256), border_points):
        got = {
            (r.doc_id, r.rank, r.nbr_id, r.dist2)
            for r in knn_graph(_geo(spark, pts), k, radius).collect()
        }
        ids = [f"d{i:04d}" for i in range(len(pts))]
        want = set()
        for i in range(len(pts)):
            cands = []
            for j in range(len(pts)):
                if i == j:
                    continue
                d2 = (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
                if d2 <= radius * radius:
                    cands.append((d2, ids[j]))
            for rank, (d2, nid) in enumerate(sorted(cands)[:k], 1):
                want.add((ids[i], rank, nid, d2))
        assert got == want
        assert got  # non-vacuous
    assert _on_last_cell_line(border_points, {d for r in got for d in (r[0], r[2])}, radius)


def test_knn_graph_symmetric_rank1_pairs(spark):
    """Mutual nearest neighbors appear in both adjacency lists at rank 1."""
    from hilbert_curve_spark.operators.spatial_join import knn_graph

    pts = [(10, 10), (12, 10), (200, 200), (203, 200), (400, 50)]
    rows = knn_graph(_geo(spark, pts), 1, 16).collect()
    adj = {r.doc_id: r.nbr_id for r in rows}
    assert adj["d0000"] == "d0001" and adj["d0001"] == "d0000"
    assert adj["d0002"] == "d0003" and adj["d0003"] == "d0002"
    assert "d0004" not in adj  # isolated: no in-radius neighbor, no row


def test_zonal_overlay_matches_brute_force(spark):
    import hashlib

    from hilbert_curve_spark.operators.spatial_join import zonal_overlay

    pts = _lcg_points(400, seed=17)
    zones = [("za", 0, 0, 2047, 2047), ("zb", 1024, 1024, 3071, 3071)]
    sample_mod, max_extent = 4, 40
    got = {
        (r.zone_id, r.n_rects, r.area_sum)
        for r in zonal_overlay(
            _geo(spark, pts), zones, sample_mod, max_extent
        ).collect()
    }
    edge = DEFAULT.edge
    agg = {}
    for i, (x, y) in enumerate(pts):
        m = hashlib.md5(f"d{i:04d}".encode()).hexdigest()
        if int(m[0:8], 16) % sample_mod != 0:
            continue
        w = 1 + int(m[8:12], 16) % max_extent
        h = 1 + int(m[12:16], 16) % max_extent
        x_hi, y_hi = min(x + w, edge - 1), min(y + h, edge - 1)
        for zid, zxl, zyl, zxh, zyh in zones:
            iw = min(x_hi, zxh) - max(x, zxl) + 1
            ih = min(y_hi, zyh) - max(y, zyl) + 1
            if iw > 0 and ih > 0:
                n, a = agg.get(zid, (0, 0))
                agg[zid] = (n + 1, a + iw * ih)
    assert got == {(z, n, a) for z, (n, a) in agg.items()}


def test_zonal_overlay_straddling_rect_credits_both_zones(spark):
    """Footprint area splits exactly across adjacent zones: per-zone areas
    sum to each sampled rect's total area when zones tile the domain."""
    from hilbert_curve_spark.operators.spatial_join import zonal_overlay

    pts = _lcg_points(300, seed=41)
    half = DEFAULT.edge // 2
    tiling = [
        ("q00", 0, 0, half - 1, half - 1),
        ("q01", 0, half, half - 1, DEFAULT.edge - 1),
        ("q10", half, 0, DEFAULT.edge - 1, half - 1),
        ("q11", half, half, DEFAULT.edge - 1, DEFAULT.edge - 1),
    ]
    out = zonal_overlay(_geo(spark, pts), tiling, 4, 40)
    total_area = out.agg(F.sum("area_sum")).collect()[0][0]
    import hashlib

    want = 0
    for i, (x, y) in enumerate(pts):
        m = hashlib.md5(f"d{i:04d}".encode()).hexdigest()
        if int(m[0:8], 16) % 4 != 0:
            continue
        w = 1 + int(m[8:12], 16) % 40
        h = 1 + int(m[12:16], 16) % 40
        want += (min(x + w, DEFAULT.edge - 1) - x + 1) * (
            min(y + h, DEFAULT.edge - 1) - y + 1
        )
    assert total_area == want


def test_road_coverage_gaps_matches_brute_force(spark):
    from hilbert_curve_spark.operators.spatial_join import road_coverage_gaps

    pts = _lcg_points(300, seed=53)
    roads = [("r1", 100, 500, 3000, 500), ("r2", 2000, 0, 2000, 4000)]
    radius = 300
    got = {
        (r.doc_id, r.x, r.y, r.nearest_dist2)
        for r in road_coverage_gaps(_geo(spark, pts), roads, radius).collect()
    }
    want = set()
    for i, (x, y) in enumerate(pts):
        best = min(
            max(min(ax, bx) - x, x - max(ax, bx), 0) ** 2
            + max(min(ay, by) - y, y - max(ay, by), 0) ** 2
            for _, ax, ay, bx, by in roads
        )
        if best > radius * radius:
            want.add((f"d{i:04d}", x, y, best))
    assert got == want
    assert want  # the fixture actually has gaps


def test_keyword_extents_brute_force(spark):
    from hilbert_curve_spark.operators.brq import keyword_extents

    pts = _lcg_points(200, seed=61)
    shift = 6
    grid = DEFAULT.edge >> shift
    rows = [
        (f"d{i:04d}", x, y, [f"k{i % 5}", f"k{(i + 1) % 5}"])
        for i, (x, y) in enumerate(pts)
    ]
    geo = spark.createDataFrame(
        rows, "doc_id string, x long, y long, keywords array<string>"
    )
    got = {
        (r.kw, r.n_docs, r.x_min, r.x_max, r.y_min, r.y_max, r.n_cells)
        for r in keyword_extents(geo, shift).collect()
    }
    agg = {}
    for i, (x, y) in enumerate(pts):
        for kw in (f"k{i % 5}", f"k{(i + 1) % 5}"):
            n, xs, ys, cells = agg.setdefault(kw, [0, [], [], set()])
            agg[kw][0] += 1
            xs.append(x)
            ys.append(y)
            cells.add((x >> shift) * grid + (y >> shift))
    want = {
        (kw, n, min(xs), max(xs), min(ys), max(ys), len(cells))
        for kw, (n, xs, ys, cells) in agg.items()
    }
    assert got == want
