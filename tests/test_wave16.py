"""Wave-16 operators: geofence funnel, per-cell diurnal peaks,
freshness-weighted recency raster — brute-force parity against pure-Python
replays (including a direct shapely-free even-odd ray cast for the funnel's
fence membership)."""

from hilbert_curve_spark import workload as W
from hilbert_curve_spark.operators.events import event_points
from hilbert_curve_spark.operators.trajectory import (
    cell_peak_hours,
    cell_recency_scores,
    geo_funnel,
)

EDGE = 4096


def _event_rows(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = event_points(events)
    rows = [
        (r.user_id, r.ep, r.ex, r.ey)
        for r in pts.select("user_id", "ep", "ex", "ey").collect()
    ]
    return events, rows


def _inside(verts, px, py):
    n = len(verts)
    acc = False
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            dy = y2 - y1
            lhs, rhs = px * dy, x1 * dy + (py - y1) * (x2 - x1)
            if (lhs < rhs) if dy > 0 else (lhs > rhs):
                acc = not acc
    return acc


def test_geo_funnel_brute_force(spark, sf_dir):
    within = 86400
    pa, pb = W.POLYGONS[2], W.POLYGONS[1]
    events, rows = _event_rows(spark, sf_dir)
    t_a, users = {}, set()
    for uid, ep, ex, ey in rows:
        users.add(uid)
        if _inside(pa["vertices"], ex, ey):
            t_a[uid] = min(t_a.get(uid, ep), ep)
    t_b = {}
    for uid, ep, ex, ey in rows:
        if uid in t_a and ep >= t_a[uid] and _inside(pb["vertices"], ex, ey):
            t_b[uid] = min(t_b.get(uid, ep), ep)
    conv = sum(1 for uid, tb in t_b.items() if tb - t_a[uid] <= within)
    got = geo_funnel(events, pa, pb, within_s=within).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_users, r.n_reached_a, r.n_converted) == (
        len(users),
        len(t_a),
        conv,
    )
    assert r.conv_ppm == (1_000_000 * conv // len(t_a) if t_a else None)
    # non-degenerate fixture: some reach A, some of those convert
    assert 0 < len(t_a) < len(users)
    assert 0 < conv < len(t_a)


def test_cell_peak_hours_brute_force(spark, sf_dir):
    shift = 8
    events, rows = _event_rows(spark, sf_dir)
    counts = {}
    for _, ep, ex, ey in rows:
        cell = (ex >> shift) * EDGE + (ey >> shift)
        hour = (ep // 3600) % 24
        counts.setdefault(cell, {}).setdefault(hour, [0])[0] += 1
    expect = set()
    for cell, hours in counts.items():
        n, hour = max(((v[0], -h) for h, v in hours.items()))
        hour = -hour
        total = sum(v[0] for v in hours.values())
        expect.add((cell, hour, n, total, n * 1_000_000 // total))
    got = {
        (r.cell, r.peak_hour, r.n_at_peak, r.n_total, r.share_ppm)
        for r in cell_peak_hours(events, cell_shift=shift).collect()
    }
    assert got == expect
    # the fixture spans multiple peak hours
    assert len({h for _, h, *_ in expect}) >= 2


def test_cell_recency_scores_brute_force(spark, sf_dir):
    shift, h = 8, 604800
    events, rows = _event_rows(spark, sf_dir)
    ep_max = max(ep for _, ep, _, _ in rows)
    agg = {}
    for _, ep, ex, ey in rows:
        cell = (ex >> shift) * EDGE + (ey >> shift)
        age = ep_max - ep
        n, nr, sc = agg.get(cell, (0, 0, 0))
        agg[cell] = (n + 1, nr + (age <= h), sc + max(0, h - age))
    expect = {(c, n, nr, sc) for c, (n, nr, sc) in agg.items()}
    got = {
        (r.cell, r.n_events, r.n_recent, r.score)
        for r in cell_recency_scores(events, cell_shift=shift, horizon_s=h).collect()
    }
    assert got == expect
    # the horizon must actually discriminate (some cells not fully recent)
    assert any(nr < n for _, n, nr, _ in expect)
