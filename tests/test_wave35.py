"""Wave-35: commute matrix (home->work OD) and the (day, cell) OLAP cube."""


def _keyed_rows(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.sources.derive import EDGE

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = (
        event_points(events)
        .select("user_id", "ep", "ex", "ey")
        .collect()
    )
    return [
        (r.user_id, r.ep, (r.ex >> 8) * EDGE + (r.ey >> 8)) for r in rows
    ], events


def test_commute_matrix_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import commute_matrix

    keyed, events = _keyed_rows(spark, sf_dir)
    counts = {}
    for user, ep, cell in keyed:
        hour = (ep // 3600) % 24
        period = "home" if 0 <= hour < 6 else "work" if 9 <= hour < 17 else None
        if period:
            counts[(user, period, cell)] = counts.get((user, period, cell), 0) + 1
    modal = {}
    for (user, period, cell), n in counts.items():
        cur = modal.get((user, period))
        if cur is None or (-n, cell) < (-cur[0], cur[1]):
            modal[(user, period)] = (n, cell)
    matrix = {}
    users = {u for u, _ in modal}
    for u in users:
        h, w = modal.get((u, "home")), modal.get((u, "work"))
        if h and w:
            key = (h[1], w[1])
            matrix[key] = matrix.get(key, 0) + 1
    expect = {(h, w, n) for (h, w), n in matrix.items()}
    got = {
        (r.home_cell, r.work_cell, r.n_users)
        for r in commute_matrix(events, 8).collect()
    }
    assert got == expect
    assert expect
    # commuting users exist: someone's home != work
    assert any(h != w for h, w, _ in expect)


def test_activity_cube_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import activity_cube

    keyed, events = _keyed_rows(spark, sf_dir)
    facts = [(u, ep // 86400, cell) for u, ep, cell in keyed]
    expect = set()

    def roll(keyfn, dayv, cellv, grp):
        agg = {}
        for u, d, c in facts:
            k = keyfn(d, c)
            agg.setdefault(k, [0, set()])
            agg[k][0] += 1
            agg[k][1].add(u)
        for k, (n, us) in agg.items():
            d, c = k
            expect.add((dayv(d), cellv(c), grp, n, len(us)))

    roll(lambda d, c: (d, c), lambda d: d, lambda c: c, 0)
    roll(lambda d, c: (d, None), lambda d: d, lambda c: -1, 1)
    roll(lambda d, c: (None, c), lambda d: -1, lambda c: c, 2)
    roll(lambda d, c: (None, None), lambda d: -1, lambda c: -1, 3)

    got = {
        (r.day, r.cell, r.grp, r.n_events, r.n_users)
        for r in activity_cube(events, 8).collect()
    }
    assert got == expect
    # all four grouping sets materialized, grand total is one row
    assert {t[2] for t in got} == {0, 1, 2, 3}
    assert sum(1 for t in got if t[2] == 3) == 1
