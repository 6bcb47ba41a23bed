"""Wave-31: kNN-graph analytics (integer PageRank, oriented triangle
counting) and robust per-cell MAD anomaly detection."""

from hilbert_curve_spark import workload as W


def _knn_edges(ctx):
    from hilbert_curve_spark.operators.spatial_join import knn_graph

    g = knn_graph(
        ctx.doc_geo, W.KNN_GRAPH_K, W.KNN_GRAPH_RADIUS
    )
    return [(r.doc_id, r.nbr_id) for r in g.collect()]


def test_pagerank_brute_force(ctx):
    from hilbert_curve_spark.operators.graph import pagerank

    edges = _knn_edges(ctx)
    assert edges
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    scale, base = 1_000_000, (15 * 1_000_000) // 100
    r = {n: scale for n in nodes}
    for _ in range(3):
        inflow = {}
        for u, v in edges:
            inflow[v] = inflow.get(v, 0) + r[u] // deg[u]
        r = {n: base + (85 * inflow.get(n, 0)) // 100 for n in nodes}
    expect = set(r.items())

    from pyspark.sql import functions as F

    e = ctx.doc_geo
    from hilbert_curve_spark.operators.spatial_join import knn_graph

    edf = knn_graph(e, W.KNN_GRAPH_K, W.KNN_GRAPH_RADIUS).select(
        F.col("doc_id").alias("src"), F.col("nbr_id").alias("dst")
    )
    got = {(row.doc_id, row.rank_e6) for row in pagerank(edf).collect()}
    assert got == expect
    ranks = [v for _, v in got]
    assert max(ranks) > min(ranks)  # the graph has hubs: ranks discriminate


def test_triangle_counts_brute_force(ctx):
    from itertools import combinations

    from hilbert_curve_spark.operators.graph import triangle_counts

    edges = _knn_edges(ctx)
    und = {tuple(sorted(e)) for e in edges}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b in und:
        for c in adj[a] & adj[b]:
            tri[a] += 1  # each triangle visits this loop via 3 edges x 1
    # the loop above counts each triangle once per edge at its 'a' side;
    # recompute exactly instead: per-node triangles via neighbor pairs
    tri = {}
    for n, nbrs in adj.items():
        tri[n] = sum(
            1 for u, v in combinations(sorted(nbrs), 2) if v in adj.get(u, ())
        )
    expect = set(tri.items())

    from pyspark.sql import functions as F
    from hilbert_curve_spark.operators.spatial_join import knn_graph

    edf = knn_graph(
        ctx.doc_geo, W.KNN_GRAPH_K, W.KNN_GRAPH_RADIUS
    ).select(F.col("doc_id").alias("src"), F.col("nbr_id").alias("dst"))
    got = {(r.doc_id, r.n_tri) for r in triangle_counts(edf).collect()}
    assert got == expect
    assert any(t > 0 for _, t in got)  # dense spatial graphs have triangles
    assert any(t == 0 for _, t in got)  # zeros survive the left join


def test_cell_mad_anomaly_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.operators.trajectory import (
        cell_mad_anomaly,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = event_points(events).select("ep", "ex", "ey").collect()
    daily = {}
    for r in rows:
        key = (r.ep // 86400, (r.ex >> 8) * 65536 + (r.ey >> 8))
        daily[key] = daily.get(key, 0) + 1
    series = {}
    for (day, cell), n in daily.items():
        series.setdefault(cell, []).append((n, day))

    def lower_median(pairs):
        ordered = sorted(pairs)
        return ordered[(len(ordered) + 1) // 2 - 1][0]

    expect = set()
    for cell, pairs in series.items():
        med = lower_median(pairs)
        devs = [(abs(n - med), day) for n, day in pairs]
        mad = lower_median(devs)
        n_anom = sum(1 for ad, _ in devs if ad > 3 * mad)
        expect.add((cell, len(pairs), med, mad, n_anom))

    got = {
        (r.cell, r.n_days, r.med_n, r.mad, r.n_anomalies)
        for r in cell_mad_anomaly(events, 8).collect()
    }
    assert got == expect
    assert any(a > 0 for *_, a in got)  # bursts exist in the fixture
    assert any(a == 0 for *_, a in got)  # quiet cells exist too
