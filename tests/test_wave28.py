"""Wave-28: fixed-iteration exact-integer Lloyd's k-means."""

from hilbert_curve_spark import workload as W


def _brute_kmeans(points, k, iters, shift, edge=4096):
    half = 1 << (shift - 1)
    m = edge >> shift
    hist = {}
    for _, x, y in points:
        key = (x >> shift, y >> shift)
        hist[key] = hist.get(key, 0) + 1
    ranked = sorted(hist.items(), key=lambda t: (-t[1], t[0][0] * m + t[0][1]))
    cents = [((gx << shift) + half, (gy << shift) + half) for (gx, gy), _ in ranked[:k]]

    def assign(cx_cy):
        out = {}
        for d, x, y in points:
            best = min(
                range(len(cx_cy)),
                key=lambda i: (
                    (x - cx_cy[i][0]) ** 2 + (y - cx_cy[i][1]) ** 2,
                    i,
                ),
            )
            out.setdefault(best, []).append((x, y))
        return out

    for _ in range(iters):
        groups = assign(cents)
        new = []
        for i, c in enumerate(cents):
            pts = groups.get(i)
            if not pts:
                new.append(c)
            else:
                sx = sum(x for x, _ in pts)
                sy = sum(y for _, y in pts)
                new.append((sx // len(pts), sy // len(pts)))
        cents = new
    groups = assign(cents)
    return {
        (i, cx, cy, len(groups.get(i, [])))
        for i, (cx, cy) in enumerate(cents)
    }


def test_grid_kmeans_brute_force(spark, sf_dir):
    """The trimodal corpus, and the empty corpus, which must give what the
    oracle gives on an empty table: no centroids."""
    import duckdb
    from pyspark.sql import functions as F

    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.graph import grid_kmeans, grid_kmeans_oracle
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    got = {}
    for name, corpus in (("corpus", geo), ("empty", geo.filter(F.lit(False)))):
        points = [(r.doc_id, r.x, r.y) for r in corpus.select("doc_id", "x", "y").collect()]
        got[name] = {
            (r.cid, r.cx, r.cy, r.n_docs)
            for r in grid_kmeans(corpus, W.KMEANS_K, W.KMEANS_ITERS, W.TOPKW_SHIFT).collect()
        }
        assert got[name] == _brute_kmeans(points, W.KMEANS_K, W.KMEANS_ITERS, W.TOPKW_SHIFT)
        assert sum(n for *_, n in got[name]) == len(points)
    # the trimodal corpus must spread mass over >= 3 clusters, none empty
    assert sum(1 for *_, n in got["corpus"] if n > 0) >= 3
    empty_geo = "doc_geo AS (SELECT 'd' AS doc_key, 0::BIGINT AS x, 0::BIGINT AS y WHERE false)"
    oracle = grid_kmeans_oracle(W.KMEANS_K, W.KMEANS_ITERS, W.TOPKW_SHIFT)
    assert duckdb.sql(f"WITH {empty_geo}, {oracle}").fetchall() == list(got["empty"]) == []


def test_grid_kmeans_centroids_move(spark, sf_dir):
    """The optimization must actually optimize: 3-round centroids differ
    from the density seeds (otherwise the oracle only proves seeding)."""
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.graph import grid_kmeans
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    seeded = {
        (r.cid, r.cx, r.cy)
        for r in grid_kmeans(geo, W.KMEANS_K, 0, W.TOPKW_SHIFT).collect()
    }
    trained = {
        (r.cid, r.cx, r.cy)
        for r in grid_kmeans(geo, W.KMEANS_K, W.KMEANS_ITERS, W.TOPKW_SHIFT).collect()
    }
    assert seeded != trained
