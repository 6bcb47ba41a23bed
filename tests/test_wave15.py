"""Wave-15 operators: Knox space-time interaction, impossible-travel
detection, IDW interpolation raster — brute-force parity against pure-Python
replays (the Knox brute force is the quadratic all-pairs count the engine
must never run, which is exactly what makes it the right oracle here)."""

from hilbert_curve_spark.operators.events import event_points
from hilbert_curve_spark.operators.trajectory import (
    impossible_travel,
    knox_stat,
)

EDGE = 4096


def _event_rows(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = event_points(events)
    rows = [
        (r.user_id, r.event_id, r.ep, r.ex, r.ey)
        for r in pts.select("user_id", "event_id", "ep", "ex", "ey").collect()
    ]
    return events, rows


def test_knox_stat_brute_force(spark, sf_dir):
    import numpy as np

    s_r, tw = 64, 3600
    events, rows = _event_rows(spark, sf_dir)
    ep = np.array([r[2] for r in rows], dtype=np.int64)
    x = np.array([r[3] for r in rows], dtype=np.int64)
    y = np.array([r[4] for r in rows], dtype=np.int64)
    n = len(ep)
    n_pairs = n * (n - 1) // 2
    n_space = n_time = n_both = 0
    r2 = s_r * s_r
    # chunked all-pairs: row block i vs the strict upper triangle
    for lo in range(0, n, 512):
        hi = min(lo + 512, n)
        sc = (x[lo:hi, None] - x[None, :]) ** 2 + (
            y[lo:hi, None] - y[None, :]
        ) ** 2 <= r2
        tc = np.abs(ep[lo:hi, None] - ep[None, :]) <= tw
        mask = np.arange(n)[None, :] > np.arange(lo, hi)[:, None]
        n_space += int((sc & mask).sum())
        n_time += int((tc & mask).sum())
        n_both += int((sc & tc & mask).sum())
    got = knox_stat(events, s_radius=s_r, t_window=tw).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_pairs, r.n_space, r.n_time, r.n_both) == (
        n_pairs,
        n_space,
        n_time,
        n_both,
    )
    # the statistic must be non-degenerate at fixture scale
    assert 0 < n_space < n_pairs and 0 < n_time < n_pairs


def test_impossible_travel_brute_force(spark, sf_dir):
    vmax = 2
    events, rows = _event_rows(spark, sf_dir)
    per_user = {}
    for uid, eid, ep, ex, ey in rows:
        # Spark orders by (ts, event_id); ep is ts in whole seconds and the
        # fixture has no sub-second timestamps, so (ep, eid) is the same order
        per_user.setdefault(uid, []).append((ep, eid, ex, ey))
    cap = (1 << 25) + 1
    expect = set()
    for uid, pts in per_user.items():
        pts.sort()
        for (pep, peid, px, py), (ep, eid, ex, ey) in zip(pts, pts[1:]):
            dt = ep - pep
            d2 = (ex - px) ** 2 + (ey - py) ** 2
            if d2 > min(cap, vmax * vmax * dt * dt):
                expect.add((uid, peid, eid, dt, d2))
    got = {
        (r.user_id, r.from_event, r.to_event, r.dt_s, r.dist2)
        for r in impossible_travel(events, vmax=vmax).collect()
    }
    assert got == expect
    assert expect  # the fixture must actually produce violations


def test_idw_surface_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.spatial_join import idw_surface
    from hilbert_curve_spark.sources.interleave import build_documents

    g, radius, scale = 8, 96, 1_000_000
    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    pts = [(r.x, r.y) for r in geo.select("x", "y").collect()]
    samples = [(x, y, (x * 31 + y * 17) % 1000) for x, y in pts]
    centers = {}
    half = 1 << (g - 1)
    for x, y in pts:
        gx, gy = x >> g, y >> g
        centers[gx * EDGE + gy] = (gx * (1 << g) + half, gy * (1 << g) + half)
    r2 = radius * radius
    expect = set()
    for cell, (qx, qy) in centers.items():
        sw = swv = cnt = 0
        for x, y, v in samples:
            d2 = (qx - x) ** 2 + (qy - y) ** 2
            if d2 <= r2:
                w = scale // (1 + d2)
                sw += w
                swv += w * v
                cnt += 1
        if cnt:
            expect.add((cell, cnt, swv // sw))
    got = {
        (r.cell, r.n_samples, r.est)
        for r in idw_surface(geo, grid_shift=g, radius=radius, scale=scale).collect()
    }
    assert got == expect
    assert expect


def test_idw_surface_rejects_zero_weight_scale(spark, sf_dir):
    import pytest

    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.spatial_join import idw_surface
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    with pytest.raises(ValueError):
        idw_surface(geo, grid_shift=8, radius=96, scale=96 * 96)
