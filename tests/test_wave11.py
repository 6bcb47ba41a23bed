"""Wave-11 operators: exact-integer global Moran's I and the Ripley-style
pair-distance histogram — validated against FULL-LATTICE brute force (the
operator uses a closed-form empty-cell absorption; the test rebuilds the
statistic over every grid cell independently)."""

import numpy as np

from hilbert_curve_spark.operators.encode import encode_documents
from hilbert_curve_spark.operators.rollup import global_moran
from hilbert_curve_spark.operators.spatial_join import pair_distance_histogram
from hilbert_curve_spark.sources.interleave import build_documents


def _points(spark, sf_dir, amp):
    geo = encode_documents(build_documents(spark, sf_dir, amp=amp))
    return geo, [(r.x, r.y) for r in geo.select("x", "y").collect()]


def test_global_moran_full_lattice_brute_force(spark, sf_dir):
    shift, q_scale, edge = 8, 10000, 4096
    m = edge >> shift
    geo, pts = _points(spark, sf_dir, amp=2)
    n_total = len(pts)
    counts = np.zeros((m, m), dtype=np.int64)
    for x, y in pts:
        counts[x >> shift, y >> shift] += 1
    q = counts * q_scale // n_total              # identical FLOOR division
    s_total = int(q.sum())
    d = (m * m) * q - s_total                    # deviation of EVERY cell
    num = 0
    for gx in range(m):
        for gy in range(m):
            for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                tx, ty = gx + dx, gy + dy
                if 0 <= tx < m and 0 <= ty < m:
                    num += int(d[gx, gy]) * int(d[tx, ty])
    den = int((d.astype(object) ** 2).sum())     # object: no silent wrap
    row = global_moran(geo, shift, q_scale).collect()[0]
    assert (
        row.moran_num,
        row.moran_den,
        row.w_pairs,
        row.g_cells,
        row.s_total,
    ) == (num, den, 4 * m * (m - 1), m * m, s_total)


def test_pair_histogram_brute_force(spark, sf_dir):
    radii = (4, 8, 12, 16)
    geo, pts = _points(spark, sf_dir, amp=1)
    a = np.array(pts, dtype=np.int64)
    dx = a[:, 0][:, None] - a[:, 0][None, :]
    dy = a[:, 1][:, None] - a[:, 1][None, :]
    d2 = dx * dx + dy * dy
    iu = np.triu_indices(len(a), k=1)
    pd2 = d2[iu]
    expect = []
    prev = 0
    for r in radii:
        cum = int((pd2 <= r * r).sum())
        expect.append((r, cum - prev, cum))
        prev = cum
    got = sorted(
        (r.radius, r.n_pairs, r.cum_pairs)
        for r in pair_distance_histogram(geo, radii).collect()
    )
    assert got == expect


def test_pair_histogram_empty_bins(spark):
    rows = [("a", 0, 0, ["k"]), ("b", 3, 4, ["k"]), ("c", 2000, 2000, ["k"])]
    geo = spark.createDataFrame(
        rows, "doc_id string, x long, y long, keywords array<string>"
    )
    got = sorted(
        (r.radius, r.n_pairs, r.cum_pairs)
        for r in pair_distance_histogram(geo, (4, 8, 16)).collect()
    )
    # only (a, b) at dist 5 is within range: the 4-bin is empty, 8 holds it
    assert got == [(4, 0, 0), (8, 1, 1), (16, 0, 1)]


def _event_pts(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = event_points(events)
    return events, [
        (r.user_id, r.ep, r.ex, r.ey)
        for r in pts.select("user_id", "ep", "ex", "ey").collect()
    ]


def test_emerging_hotspots_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import emerging_hotspots

    shift, edge = 8, 4096
    events, rows = _event_pts(spark, sf_dir)
    eps = [ep for _, ep, _, _ in rows]
    mid = (min(eps) + max(eps)) // 2
    agg = {}
    for _, ep, ex, ey in rows:
        cell = (ex >> shift) * edge + (ey >> shift)
        a, b = agg.get(cell, (0, 0))
        agg[cell] = (a + (ep <= mid), b + (ep > mid))
    expect = set()
    for cell, (n1, n2) in agg.items():
        trend = ("emerging" if n2 * 10 >= n1 * 12
                 else "fading" if n1 * 10 >= n2 * 12 else "stable")
        expect.add((cell, n1, n2, n2 - n1, trend))
    got = {
        (r.cell, r.n_first, r.n_second, r.delta, r.trend)
        for r in emerging_hotspots(events, cell_shift=shift).collect()
    }
    assert got == expect


def test_user_home_cells_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import user_home_cells

    shift, edge = 8, 4096
    events, rows = _event_pts(spark, sf_dir)
    per_user = {}
    for uid, _, ex, ey in rows:
        cell = (ex >> shift) * edge + (ey >> shift)
        per_user.setdefault(uid, {}).setdefault(cell, [0])[0] += 1
    expect = set()
    for uid, cells in per_user.items():
        n, cell = max(((v[0], -c) for c, v in cells.items()))
        cell = -cell
        total = sum(v[0] for v in cells.values())
        expect.add((uid, cell, n, total, n * 1_000_000 // total))
    got = {
        (r.user_id, r.home_cell, r.n_visits, r.n_total, r.share_ppm)
        for r in user_home_cells(events, cell_shift=shift).collect()
    }
    assert got == expect
