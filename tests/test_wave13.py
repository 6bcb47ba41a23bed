"""Wave-13 trajectory/raster operators: space-time-cube Mann-Kendall trend,
per-cell bearing histogram, per-user radius of gyration — brute-force parity
against pure-Python replays of the exact integer semantics."""

from hilbert_curve_spark.operators.events import event_points
from hilbert_curve_spark.operators.trajectory import (
    bearing_histogram,
    radius_gyration,
    st_cube_trend,
)

EDGE = 4096


def _event_rows(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = event_points(events)
    rows = [
        (r.user_id, r.ts, r.event_id, r.ep, r.ex, r.ey)
        for r in pts.select("user_id", "ts", "event_id", "ep", "ex", "ey").collect()
    ]
    return events, rows


def test_st_cube_trend_brute_force(spark, sf_dir):
    shift, k, s_min = 8, 8, 6
    events, rows = _event_rows(spark, sf_dir)
    eps = [r[3] for r in rows]
    lo, hi = min(eps), max(eps)
    cube = {}
    for _, _, _, ep, ex, ey in rows:
        cell = (ex >> shift) * EDGE + (ey >> shift)
        b = (ep - lo) * k // (hi - lo + 1)
        vec = cube.setdefault(cell, [0] * k)
        vec[b] += 1
    expect = set()
    for cell, vec in cube.items():
        s = sum(
            (vec[j] > vec[i]) - (vec[j] < vec[i])
            for i in range(k)
            for j in range(i + 1, k)
        )
        trend = "up" if s >= s_min else "down" if s <= -s_min else "flat"
        expect.add((cell, sum(vec), s, trend))
    got = {
        (r.cell, r.n_total, r.s_stat, r.trend)
        for r in st_cube_trend(events, cell_shift=shift, n_bins=k, s_min=s_min).collect()
    }
    assert got == expect
    # the statistic must actually discriminate at fixture scale
    assert len({t for *_, t in expect}) >= 2


def _octant(dx, dy):
    if dx == 0 and dy == 0:
        return 8
    if dx >= 0 and dy >= 0:
        return 0 if dx > dy else 1
    if dx < 0 and dy >= 0:
        return 2 if dy >= -dx else 3
    if dx < 0 and dy < 0:
        return 4 if -dx > -dy else 5
    return 6 if -dy >= dx else 7


def test_bearing_histogram_brute_force(spark, sf_dir):
    shift = 8
    events, rows = _event_rows(spark, sf_dir)
    per_user = {}
    for uid, ts, eid, _, ex, ey in rows:
        per_user.setdefault(uid, []).append((ts, eid, ex, ey))
    hist = {}
    for pts in per_user.values():
        pts.sort()
        for (_, _, px, py), (_, _, ex, ey) in zip(pts, pts[1:]):
            cell = (px >> shift) * EDGE + (py >> shift)
            key = (cell, _octant(ex - px, ey - py))
            hist[key] = hist.get(key, 0) + 1
    expect = {(c, o, n) for (c, o), n in hist.items()}
    got = {
        (r.cell, r.octant, r.n_moves)
        for r in bearing_histogram(events, cell_shift=shift).collect()
    }
    assert got == expect
    # movement data must exercise several directions
    assert len({o for _, o, _ in expect}) >= 4


def test_bearing_octants_cover_plane():
    # the CASE chain is total and deterministic on every sign/tie combo
    seen = set()
    for dx in range(-2, 3):
        for dy in range(-2, 3):
            seen.add(_octant(dx, dy))
    assert seen == set(range(9))


def test_radius_gyration_brute_force(spark, sf_dir):
    events, rows = _event_rows(spark, sf_dir)
    per_user = {}
    for uid, _, _, _, ex, ey in rows:
        per_user.setdefault(uid, []).append((ex, ey))
    expect = set()
    for uid, pts in per_user.items():
        n = len(pts)
        cx = sum(x for x, _ in pts) // n
        cy = sum(y for _, y in pts) // n
        ssd = sum((x - cx) ** 2 + (y - cy) ** 2 for x, y in pts)
        expect.add((uid, n, cx, cy, ssd // n))
    got = {
        (r.user_id, r.n_events, r.cx, r.cy, r.rg2)
        for r in radius_gyration(events).collect()
    }
    assert got == expect
