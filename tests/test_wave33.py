"""Wave-33: Sobel density gradient, fence peak occupancy, and
shingle-containment (quote detection) pairs."""

from hilbert_curve_spark import workload as W


def test_cell_gradient_brute_force(ctx):
    from hilbert_curve_spark.operators.rollup import cell_gradient

    geo = ctx.doc_geo
    hist = {}
    for r in geo.select("x", "y").collect():
        key = (r.x >> 6, r.y >> 6)
        hist[key] = hist.get(key, 0) + 1
    expect = set()
    for (gx, gy), n in hist.items():
        grad_x = sum(
            rx * (2 - abs(ry)) * hist.get((gx + rx, gy + ry), 0)
            for rx in (-1, 0, 1)
            for ry in (-1, 0, 1)
            if (rx, ry) != (0, 0)
        )
        grad_y = sum(
            ry * (2 - abs(rx)) * hist.get((gx + rx, gy + ry), 0)
            for rx in (-1, 0, 1)
            for ry in (-1, 0, 1)
            if (rx, ry) != (0, 0)
        )
        expect.add((gx, gy, n, grad_x, grad_y, grad_x**2 + grad_y**2))
    got = {
        (r.gx, r.gy, r.n_docs, r.grad_x, r.grad_y, r.g2)
        for r in cell_gradient(geo, 6).collect()
    }
    assert got == expect
    assert any(g2 > 0 for *_, g2 in got)  # density cliffs exist
    # Sobel is a discrete derivative: a uniform interior cell reads 0
    assert any(g2 == 0 for *_, g2 in got)


def test_fence_peak_occupancy_brute_force(spark, sf_dir, ctx):
    import __spark_entry__ as E
    from hilbert_curve_spark.operators.events import fence_peak_occupancy

    events = ctx.events
    dwell = E.queries()["geofence_dwell"](spark, sf_dir).collect()
    marks = {}
    epi = {}
    for r in dwell:
        epi[r.poly_id] = epi.get(r.poly_id, 0) + 1
        marks.setdefault(r.poly_id, {})
        marks[r.poly_id][r.enter_s] = marks[r.poly_id].get(r.enter_s, 0) + 1
        marks[r.poly_id][r.exit_s + 1] = marks[r.poly_id].get(r.exit_s + 1, 0) - 1
    expect = set()
    for poly, ms in marks.items():
        run, peak, peak_t = 0, None, None
        for t in sorted(ms):
            run += ms[t]
            if peak is None or run > peak:
                peak, peak_t = run, t
        expect.add((poly, epi[poly], peak, peak_t))
    got = {
        (r.poly_id, r.n_episodes, r.peak, r.peak_t)
        for r in fence_peak_occupancy(
            events, W.POLYGONS, W.DWELL_GAP_MIN
        ).collect()
    }
    assert got == expect
    assert any(p > 1 for _, _, p, _ in got)  # real concurrency somewhere


def test_containment_pairs_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got_df = containment_pairs(docs, 80, 3, 64)
    got = {
        (r.doc_a, r.doc_b, r.inter, r.size_a, r.size_b,
         r.cont_a_pct, r.cont_b_pct)
        for r in got_df.collect()
    }

    # brute force with the engine's own hashed shingles (the hash is part
    # of the contract and oracle-shared; here we only re-verify the JOIN)
    import __spark_entry__  # noqa: F401  (sys.path for the package)
    from pyspark.sql import functions as F
    from hilbert_curve_spark.operators.dedup import _hashed_shingle_col

    rows = docs.select("doc_id", _hashed_shingle_col(3).alias("g")).collect()
    grams = {r.doc_id: set(r.g) for r in rows}
    df_count = {}
    for g in grams.values():
        for x in g:
            df_count[x] = df_count.get(x, 0) + 1
    live = {d: {x for x in g if df_count[x] <= 64} for d, g in grams.items()}
    ids = sorted(live)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(live[a] & live[b])
            if not inter:
                continue
            sa, sb = len(live[a]), len(live[b])
            ca, cb = (100 * inter) // sa, (100 * inter) // sb
            if ca >= 80 or cb >= 80:
                expect.add((a, b, inter, sa, sb, ca, cb))
    assert got == expect
    assert expect  # the fixture's duplicate docs produce containment hits
