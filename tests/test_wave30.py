"""Wave-30: streaming geofence dwell twin and hotspot persistence."""

from hilbert_curve_spark import workload as W


def test_stream_dwell_equals_batch(spark, sf_dir):
    """The flush-sentinel replay must reproduce the batch dwell episodes
    bit-for-bit (same rows, same episode numbering)."""
    import __spark_entry__ as E

    batch = {
        tuple(r)
        for r in E.queries()["geofence_dwell"](spark, sf_dir).collect()
    }
    stream = {
        tuple(r)
        for r in E.queries()["events_stream_dwell"](spark, sf_dir).collect()
    }
    assert stream == batch
    assert batch  # non-trivial: the fixture produces dwell episodes


def test_hotspot_persistence_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.operators.trajectory import (
        hotspot_persistence,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = event_points(events).select("ep", "ex", "ey").collect()
    daily = {}
    for r in rows:
        key = (r.ep // 86400, (r.ex >> 8) * 65536 + (r.ey >> 8))
        daily[key] = daily.get(key, 0) + 1
    by_day = {}
    for (day, cell), n in daily.items():
        by_day.setdefault(day, []).append((cell, n))
    stats = {}
    for day, cells in by_day.items():
        ranked = sorted(cells, key=lambda t: (-t[1], t[0]))
        cut = (len(ranked) + 9) // 10
        for r_idx, (cell, _) in enumerate(ranked, 1):
            act, hot = stats.get(cell, (0, 0))
            stats[cell] = (act + 1, hot + (1 if r_idx <= cut else 0))
    expect = {(c, a, h) for c, (a, h) in stats.items()}
    got = {
        (r.cell, r.n_days_active, r.n_days_hot)
        for r in hotspot_persistence(events, 8).collect()
    }
    assert got == expect
    # persistence must discriminate: multi-day-hot, sporadic, and
    # never-hot cells all exist in the fixture (a fully-persistent a>1
    # cell only appears from sf0.01 up, so it is not asserted here)
    assert any(h > 1 for _, _, h in got)
    assert any(0 < h < a for _, a, h in got)
    assert any(h == 0 for _, _, h in got)
