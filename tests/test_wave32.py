"""Wave-32: FastSS edit-distance-1 keyword linkage, keyword-cell lift,
and gravity-model OD residuals."""


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_typo_pairs_brute_force(ctx):
    from hilbert_curve_spark.operators.dedup import typo_pairs

    geo = ctx.doc_geo
    vocab = sorted(
        r.kw for r in geo.selectExpr("explode(keywords) AS kw").distinct().collect()
    )
    expect = {
        (a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if abs(len(a) - len(b)) <= 1 and _lev(a, b) == 1
    }
    got = {(r.kw1, r.kw2) for r in typo_pairs(geo).collect()}
    assert got == expect
    assert expect  # the zipf vocabulary has plenty of distance-1 pairs
    # both edit kinds present: substitution (equal length) and indel
    assert any(len(a) == len(b) for a, b in expect)
    assert any(len(a) != len(b) for a, b in expect)


def test_keyword_lift_brute_force(ctx):
    from hilbert_curve_spark.operators.brq import keyword_lift

    geo = ctx.doc_geo
    rows = geo.selectExpr(
        "(x DIV 64) * 64 + (y DIV 64) AS gcell_raw", "x", "y", "keywords"
    ).select("x", "y", "keywords").collect()
    from hilbert_curve_spark.config import DEFAULT

    grid = DEFAULT.edge >> 6
    kc, n_k, n_c = {}, {}, {}
    total = 0
    for r in rows:
        cell = (r.x >> 6) * grid + (r.y >> 6)
        for kw in r.keywords:
            kc[(cell, kw)] = kc.get((cell, kw), 0) + 1
            n_k[kw] = n_k.get(kw, 0) + 1
            n_c[cell] = n_c.get(cell, 0) + 1
            total += 1
    expect = {
        (c, kw, n, n_k[kw], n_c[c], (n * total * 1_000_000) // (n_k[kw] * n_c[c]))
        for (c, kw), n in kc.items()
        if n >= 5
    }
    got = {
        (r.gcell, r.kw, r.n_kc, r.n_k, r.n_c, r.lift_ppm)
        for r in keyword_lift(geo, 6, 5).collect()
    }
    assert got == expect
    lifts = [t[-1] for t in got]
    assert any(v > 1_000_000 for v in lifts)  # concentrated keywords exist
    assert any(v < 1_000_000 for v in lifts)  # diluted ones too


def test_gravity_residuals_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.operators.trajectory import (
        gravity_residuals,
    )
    from hilbert_curve_spark.sources.derive import EDGE

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = (
        event_points(events)
        .select("user_id", "event_id", "ep", "ex", "ey")
        .collect()
    )
    per_uw = {}
    for r in rows:
        w = r.ep - r.ep % 3600
        cell = (r.ex >> 8) * EDGE + (r.ey >> 8)
        per_uw.setdefault((r.user_id, w), []).append((r.ep, r.event_id, cell))
    t = {}
    for pts in per_uw.values():
        o = min(pts)[2]
        d = max(pts)[2]
        t[(o, d)] = t.get((o, d), 0) + 1
    o_out, d_in, g = {}, {}, 0
    for (o, d), n in t.items():
        o_out[o] = o_out.get(o, 0) + n
        d_in[d] = d_in.get(d, 0) + n
        g += n
    expect = {
        (o, d, n, o_out[o], d_in[d], (n * g * 1_000_000) // (o_out[o] * d_in[d]))
        for (o, d), n in t.items()
        if n >= 3
    }
    got = {
        (r.o_cell, r.d_cell, r.n_flows, r.o_out, r.d_in, r.lift_ppm)
        for r in gravity_residuals(events, 60, 8, 3).collect()
    }
    assert got == expect
    assert expect  # non-trivial OD matrix at fixture scale
