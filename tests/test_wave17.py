"""Wave-17 operators: persistent companions, top-k cell trigrams,
day-of-week anomaly raster — brute-force parity against pure-Python
replays of the exact integer semantics."""

from hilbert_curve_spark.operators.events import event_points
from hilbert_curve_spark.operators.trajectory import (
    cell_dow_anomaly,
    cell_trigrams,
    companion_pairs,
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


def test_companion_pairs_brute_force(spark, sf_dir):
    shift, wm, mw = 9, 360, 3
    secs = wm * 60
    events, rows = _event_rows(spark, sf_dir)
    presence = {}
    for uid, _, _, ep, ex, ey in rows:
        cell = (ex >> shift) * EDGE + (ey >> shift)
        presence.setdefault((ep // secs, cell), set()).add(uid)
    windows = {}
    for (w, _), us in presence.items():
        us = sorted(us)
        for i, ua in enumerate(us):
            for ub in us[i + 1 :]:
                windows.setdefault((ua, ub), set()).add(w)
    expect = {
        (ua, ub, len(ws)) for (ua, ub), ws in windows.items() if len(ws) >= mw
    }
    got = {
        (r.user_a, r.user_b, r.n_windows)
        for r in companion_pairs(
            events, cell_shift=shift, window_minutes=wm, min_windows=mw
        ).collect()
    }
    assert got == expect
    # discriminating fixture: some pairs qualify, some do not
    all_pairs = len({u for u, *_ in rows}) * (len({u for u, *_ in rows}) - 1) // 2
    assert 0 < len(expect) < all_pairs


def test_cell_trigrams_brute_force(spark, sf_dir):
    shift, k = 8, 20
    events, rows = _event_rows(spark, sf_dir)
    per_user = {}
    for uid, ts, eid, _, ex, ey in rows:
        per_user.setdefault(uid, []).append(
            (ts, eid, (ex >> shift) * EDGE + (ey >> shift))
        )
    counts = {}
    for pts in per_user.values():
        pts.sort()
        path = []
        for _, _, c in pts:
            if not path or path[-1] != c:
                path.append(c)
        for t in zip(path, path[1:], path[2:]):
            counts[t] = counts.get(t, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    expect = [(c1, c2, c3, n) for (c1, c2, c3), n in ranked]
    got = [
        (r.c1, r.c2, r.c3, r.n_paths)
        for r in cell_trigrams(events, cell_shift=shift, top_k=k).collect()
    ]
    assert got == expect
    assert len(got) == k


def test_cell_dow_anomaly_brute_force(spark, sf_dir):
    shift = 8
    events, rows = _event_rows(spark, sf_dir)
    agg = {}
    for _, _, _, ep, ex, ey in rows:
        cell = (ex >> shift) * EDGE + (ey >> shift)
        dow = (ep // 86400) % 7
        agg.setdefault(cell, [0] * 7)[dow] += 1
    expect = set()
    for cell, ds in agg.items():
        total = sum(ds)
        devs = [7 * d - total for d in ds]
        m = max(devs)
        expect.add((cell, total, devs.index(m), m))
    got = {
        (r.cell, r.n_total, r.peak_dow, r.dev_scaled)
        for r in cell_dow_anomaly(events, cell_shift=shift).collect()
    }
    assert got == expect
    # the deviation must discriminate across cells
    assert len({d for *_, d in expect}) >= 2


def test_impossible_travel_stream_matches_batch(spark, sf_dir):
    """Stream == batch bit-for-bit through a real availableNow stream."""
    import __spark_entry__ as entry_mod
    from hilbert_curve_spark.operators.trajectory import impossible_travel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        (r.user_id, r.from_event, r.to_event, r.dt_s, r.dist2)
        for r in impossible_travel(events, vmax=2).collect()
    }
    streamed = {
        (r.user_id, r.from_event, r.to_event, r.dt_s, r.dist2)
        for r in entry_mod.queries()["events_stream_impossible"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert batch


def test_compaction_plan_brute_force(spark, sf_dir):
    from hilbert_curve_spark.sources.export import compaction_plan, shard_assign

    n_shards, target = 64, 120
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shards = [
        (r.shard,)
        for r in shard_assign(docs, n_shards).select("shard").collect()
    ]
    counts = {}
    for (s,) in shards:
        counts[s] = counts.get(s, 0) + 1
    cum = 0
    groups = {}
    for s in sorted(counts):
        gid = cum // target
        n, tot, lo, hi = groups.get(gid, (0, 0, s, s))
        groups[gid] = (n + 1, tot + counts[s], min(lo, s), max(hi, s))
        cum += counts[s]
    expect = {(g, n, t, lo, hi) for g, (n, t, lo, hi) in groups.items()}
    got = {
        (r.group_id, r.n_shards, r.total_rows, r.first_shard, r.last_shard)
        for r in compaction_plan(docs, n_shards=n_shards, target_rows=target).collect()
    }
    assert got == expect
    # the plan must actually pack multiple shards per group somewhere
    assert any(n > 1 for _, n, *_ in expect) and len(expect) >= 2
