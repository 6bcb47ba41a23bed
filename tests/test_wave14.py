"""Wave-14 operators: RkNN catchment counts, co-visitation Jaccard pairs,
per-cell revisit-gap profile — brute-force parity against pure-Python
replays of the exact integer semantics."""

from hilbert_curve_spark import workload as W
from hilbert_curve_spark.operators.events import event_points
from hilbert_curve_spark.operators.trajectory import (
    cell_visit_gaps,
    covisit_pairs,
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


def _geo(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents

    return encode_documents(build_documents(spark, sf_dir, amp=4))


def test_rknn_counts_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.spatial_join import rknn_counts

    geo = _geo(spark, sf_dir)
    docs = [(r.doc_id, r.x, r.y) for r in geo.select("doc_id", "x", "y").collect()]
    catch = {pid: [] for pid, _, _ in W.POIS}
    for _, x, y in docs:
        best = min(
            ((x - px) ** 2 + (y - py) ** 2, pid) for pid, px, py in W.POIS
        )
        catch[best[1]].append(best[0])
    expect = set()
    for pid, ds in catch.items():
        if ds:
            expect.add((pid, len(ds), min(ds), max(ds), sum(ds) // len(ds)))
        else:
            expect.add((pid, 0, None, None, None))
    got = {
        (r.poi_id, r.n_rnn, r.min_d2, r.max_d2, r.mean_d2)
        for r in rknn_counts(geo, W.POIS).collect()
    }
    assert got == expect


def test_rknn_counts_preserves_empty_catchment(spark, sf_dir):
    from hilbert_curve_spark.operators.spatial_join import rknn_counts

    geo = _geo(spark, sf_dir)
    # a POI at the far corner of an empty region plus one magnet POI at the
    # data centroid: the far POI must still appear, with zero catchment
    pois = [("magnet", 2048, 2048), ("starved", 4095, 4095), ("starved2", 0, 4095)]
    rows = {r.poi_id: r for r in rknn_counts(geo, pois).collect()}
    assert set(rows) == {"magnet", "starved", "starved2"}
    total = sum(r.n_rnn for r in rows.values())
    assert total == geo.count()
    for r in rows.values():
        if r.n_rnn == 0:
            assert r.min_d2 is None and r.mean_d2 is None


def test_covisit_pairs_brute_force(spark, sf_dir):
    shift, min_shared = 8, 2
    events, rows = _event_rows(spark, sf_dir)
    visits = {}
    for uid, _, _, ex, ey in rows:
        visits.setdefault(uid, set()).add((ex >> shift) * EDGE + (ey >> shift))
    users = sorted(visits)
    expect = set()
    for i, ua in enumerate(users):
        for ub in users[i + 1 :]:
            shared = len(visits[ua] & visits[ub])
            if shared >= min_shared:
                na, nb = len(visits[ua]), len(visits[ub])
                expect.add(
                    (ua, ub, shared, na, nb, 100 * shared // (na + nb - shared))
                )
    got = {
        (r.user_a, r.user_b, r.shared_cells, r.cells_a, r.cells_b, r.jac_pct)
        for r in covisit_pairs(events, cell_shift=shift, min_shared=min_shared).collect()
    }
    assert got == expect
    assert expect  # the fixture must actually produce co-visiting pairs


def test_cell_visit_gaps_brute_force(spark, sf_dir):
    shift = 8
    events, rows = _event_rows(spark, sf_dir)
    per_cell = {}
    for _, eid, ep, ex, ey in rows:
        per_cell.setdefault((ex >> shift) * EDGE + (ey >> shift), []).append((ep, eid))
    expect = set()
    for cell, pts in per_cell.items():
        pts.sort()
        gaps = [
            (b_ep - a_ep, b_eid)
            for (a_ep, _), (b_ep, b_eid) in zip(pts, pts[1:])
        ]
        if not gaps:
            continue
        ordered = sorted(gaps)  # (gap, event_id) — the rank order
        n = len(ordered)
        median = ordered[(n + 1) // 2 - 1][0]
        expect.add((cell, n, median, max(g for g, _ in gaps)))
    got = {
        (r.cell, r.n_gaps, r.median_gap, r.max_gap)
        for r in cell_visit_gaps(events, cell_shift=shift).collect()
    }
    assert got == expect
