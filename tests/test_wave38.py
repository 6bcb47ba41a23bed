"""Wave-38: trajectory resampling (fixed-tick integer lerp), out-of-time
Markov next-cell accuracy, and per-cell lag-1 autocorrelation moments."""

from pyspark.sql import functions as F


def _events_pts(ctx):
    from hilbert_curve_spark.sources import derive

    return [
        (r.user_id, r.ep, r.event_id, r.x, r.y)
        for r in ctx.events
        .select(
            "user_id",
            F.col("ts").cast("timestamp").cast("long").alias("ep"),
            "event_id",
            F.expr(derive.x_sql("event_id")).alias("x"),
            F.expr(derive.y_sql("event_id")).alias("y"),
        )
        .collect()
    ]


def test_traj_resample_brute_force(spark, sf_dir, ctx):
    import __spark_entry__ as E

    step = 21600
    pts = _events_pts(ctx)
    by_user = {}
    for u, ep, eid, x, y in pts:
        by_user.setdefault(u, []).append((ep, eid, x, y))
    expected = set()
    for u, rows in by_user.items():
        rows.sort()
        lo = (min(r[0] for r in rows) + step - 1) // step * step
        hi = max(r[0] for r in rows) // step * step
        for t in range(lo, hi + 1, step):
            prev = max((r for r in rows if r[0] <= t), key=lambda r: (r[0], r[1]))
            nxt = min((r for r in rows if r[0] >= t), key=lambda r: (r[0], r[1]))
            if nxt[0] > prev[0]:
                # both engines truncate toward zero; Python // floors, so
                # replicate trunc-div explicitly
                def tdiv(a, b):
                    q = abs(a) // abs(b)
                    return q if (a >= 0) == (b >= 0) else -q

                x = prev[2] + tdiv((nxt[2] - prev[2]) * (t - prev[0]), nxt[0] - prev[0])
                y = prev[3] + tdiv((nxt[3] - prev[3]) * (t - prev[0]), nxt[0] - prev[0])
            else:
                x, y = prev[2], prev[3]
            expected.add((u, t, x, y))
    got = {tuple(r) for r in E.queries()["traj_resample"](spark, sf_dir).collect()}
    assert got == expected
    assert got


def test_traj_resample_tick_grid(spark, sf_dir):
    """Every emitted tick is a step multiple inside the user's span."""
    import __spark_entry__ as E

    out = E.queries()["traj_resample"](spark, sf_dir)
    assert out.filter(F.col("tick_s") % 21600 != 0).count() == 0
    assert out.filter((F.col("x") < 0) | (F.col("x") > 4095)).count() == 0


def test_markov_accuracy_brute_force(spark, sf_dir, ctx):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.sources.derive import EDGE

    split = W.MARKOV_SPLIT_S
    step = 1 << 8
    pts = _events_pts(ctx)
    by_user = {}
    for u, ep, eid, x, y in pts:
        by_user.setdefault(u, []).append((ep, eid, (x // step) * EDGE + y // step))
    train, ev = {}, {}
    for rows in by_user.values():
        rows.sort()
        for (_pe, _pi, pc), (ep, _, c) in zip(rows, rows[1:]):
            side = train if ep < split else ev
            side.setdefault(pc, {}).setdefault(c, 0)
            side[pc][c] += 1
    model = {
        pc: min(cnts, key=lambda c: (-cnts[c], c)) for pc, cnts in train.items()
    }
    expected = set()
    for pc, cnts in ev.items():
        if pc not in model:
            continue
        n_eval = sum(cnts.values())
        n_corr = cnts.get(model[pc], 0)
        expected.add((pc, model[pc], n_eval, n_corr))
    got = {tuple(r) for r in E.queries()["markov_accuracy"](spark, sf_dir).collect()}
    assert got == expected
    assert got


def test_cell_autocorr_brute_force(spark, sf_dir, ctx):
    import __spark_entry__ as E
    from hilbert_curve_spark.sources.derive import EDGE

    step = 1 << 8
    pts = _events_pts(ctx)
    hourly = {}
    for _, ep, _, x, y in pts:
        key = ((x // step) * EDGE + y // step, ep // 3600)
        hourly[key] = hourly.get(key, 0) + 1
    cells = {}
    for (cell, hr), n in hourly.items():
        cells.setdefault(cell, []).append((hr, n))
    expected = set()
    for cell, series in cells.items():
        series.sort()
        s_cnt = sum(n for _, n in series)
        s_sq = sum(n * n for _, n in series)
        pairs = [
            (a[1], b[1]) for a, b in zip(series, series[1:]) if b[0] == a[0] + 1
        ]
        expected.add(
            (
                cell,
                len(series),
                s_cnt,
                s_sq,
                len(pairs),
                sum(a * b for a, b in pairs),
            )
        )
    got = {tuple(r) for r in E.queries()["cell_autocorr"](spark, sf_dir).collect()}
    assert got == expected
    assert got
