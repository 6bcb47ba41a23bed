"""Wave-22 operators: accumulated-cost surface (weighted Bellman-Ford over
the cell raster) and the SCD-2 home-cell dimension."""

import heapq

from hilbert_curve_spark import workload as W


def test_cell_cost_distance_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.rollup import cell_cost_distance
    from hilbert_curve_spark.sources.interleave import build_documents

    shift, budget = W.TOPKW_SHIFT, W.COST_BUDGET
    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    pts = [(r.x, r.y) for r in geo.select("x", "y").collect()]
    hist = {}
    for x, y in pts:
        c = (x >> shift, y >> shift)
        hist[c] = hist.get(c, 0) + 1
    weight = {c: 1 + min(3, n // 8) for c, n in hist.items()}
    sources = sorted(
        {(x >> shift, y >> shift) for _, x, y in W.POIS} & set(hist)
    )
    # Dijkstra reference (exact shortest entered-cell-weight sums)
    dist = {c: 0 for c in sources}
    heap = [(0, c) for c in sources]
    while heap:
        d, c = heapq.heappop(heap)
        if d > dist.get(c, budget + 1):
            continue
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            n = (c[0] + dx, c[1] + dy)
            if n in hist:
                nd = d + weight[n]
                if nd <= budget and nd < dist.get(n, budget + 1):
                    dist[n] = nd
                    heapq.heappush(heap, (nd, n))
    expect = {(gx, gy, hist[(gx, gy)], d) for (gx, gy), d in dist.items()}
    got = {
        (r.gx, r.gy, r.n_docs, r.cost)
        for r in cell_cost_distance(
            geo, [(x, y) for _, x, y in W.POIS], budget, shift
        ).collect()
    }
    assert got == expect
    # the surface must be genuinely weighted: some reached cell's cost must
    # exceed its BFS hop count (a weight > 1 was paid somewhere)
    costs = {(gx, gy): d for gx, gy, _, d in expect}
    assert any(w > 1 for c, w in weight.items() if c in costs)
    assert len({d for d in costs.values()}) >= 6


def test_user_home_scd_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.operators.trajectory import (
        user_home_scd,
    )
    from hilbert_curve_spark.sources.derive import EDGE

    cell_shift = 8
    step = 1 << cell_shift
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = [
        (r.user_id, r.ep // 86400, (r.ex // step) * EDGE + r.ey // step)
        for r in event_points(events)
        .select("user_id", "ep", "ex", "ey")
        .collect()
    ]
    daily = {}
    for uid, day, cell in rows:
        daily.setdefault((uid, day), {})
        daily[(uid, day)][cell] = daily[(uid, day)].get(cell, 0) + 1
    homes = {
        (uid, day): min(cells.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for (uid, day), cells in daily.items()
    }
    by_user = {}
    for (uid, day), cell in homes.items():
        by_user.setdefault(uid, []).append((day, cell))
    expect = set()
    for uid, seq in by_user.items():
        seq.sort()
        run_start, prev_day, prev_cell = None, None, None
        for day, cell in seq:
            if prev_cell == cell and day == prev_day + 1:
                prev_day = day
                continue
            if prev_cell is not None:
                expect.add(
                    (uid, prev_cell, run_start, prev_day, prev_day - run_start + 1)
                )
            run_start, prev_day, prev_cell = day, day, cell
        expect.add((uid, prev_cell, run_start, prev_day, prev_day - run_start + 1))
    got = {
        (r.user_id, r.home_cell, r.day_from, r.day_to, r.n_days)
        for r in user_home_scd(events, cell_shift).collect()
    }
    assert got == expect
    # real SCD structure: at least one user must have >1 interval
    from collections import Counter

    per_user = Counter(uid for uid, *_ in expect)
    assert max(per_user.values()) >= 2
    # and at least one multi-day interval must exist
    assert any(n >= 2 for *_, n in expect)


def test_core_area_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.rollup import core_area
    from hilbert_curve_spark.sources.interleave import build_documents

    shift, pct = W.TOPKW_SHIFT, 90
    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    m = 4096 >> shift
    hist = {}
    for r in geo.select("x", "y").collect():
        c = (r.x >> shift) * m + (r.y >> shift)
        hist[c] = hist.get(c, 0) + 1
    total = sum(hist.values())
    ranked = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))
    expect, cum = set(), 0
    for i, (gcell, n) in enumerate(ranked, 1):
        if 100 * cum >= pct * total:
            break
        cum += n
        expect.add((gcell, n, cum, i))
    got = {
        (r.gcell, r.n_docs, r.cum_docs, r.cell_rank)
        for r in core_area(geo, pct, shift).collect()
    }
    assert got == expect
    # the core must be a strict subset (gaussian corpus: mass concentrates)
    assert 0 < len(expect) < len(hist)
