"""Wave-24 operators: keyword value-set manifest pruning, raster
morphological opening, per-user centroid drift, geo-constrained cosine
top-k."""

import numpy as np

from hilbert_curve_spark import workload as W


def test_keyword_manifest_pruning_lossless_and_effective(spark, sf_dir, tmp_path):
    from hilbert_curve_spark.operators import brq as brq_ops
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.range_query import compile_box
    from hilbert_curve_spark.sources.interleave import build_documents
    from hilbert_curve_spark.sources.manifest import (
        prune_files_keyword,
        read_keyword_pruned,
        write_with_keyword_manifest,
    )

    geo = encode_documents(build_documents(spark, sf_dir, amp=8))
    path = str(tmp_path / "doc_geo")
    write_with_keyword_manifest(geo, path)
    cover = compile_box(**W.R2)

    files, total = prune_files_keyword(spark, path, W.KW_RARE, cover.ranges)
    assert total > 1 and len(files) < total  # the rare keyword PRUNES

    got = {
        (r.doc_id, r.x, r.y)
        for r in brq_ops.brq(
            read_keyword_pruned(spark, path, W.KW_RARE, cover.ranges),
            **W.R2,
            keywords=W.KW_RARE,
            mode="any",
        ).collect()
    }
    expect = {
        (r.doc_id, r.x, r.y)
        for r in brq_ops.brq(geo, **W.R2, keywords=W.KW_RARE, mode="any").collect()
    }
    assert got == expect  # lossless on both pruning dimensions
    assert expect  # the rare keyword still has in-box hits (real query)


def test_keyword_manifest_empty_selection(spark, sf_dir, tmp_path):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents
    from hilbert_curve_spark.sources.manifest import (
        read_keyword_pruned,
        write_with_keyword_manifest,
    )

    geo = encode_documents(build_documents(spark, sf_dir, amp=2))
    path = str(tmp_path / "doc_geo")
    write_with_keyword_manifest(geo, path)
    out = read_keyword_pruned(spark, path, ["no_such_keyword"])
    assert out.count() == 0
    assert out.schema == spark.read.parquet(path).schema


def test_cell_morphology_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.rollup import cell_morphology
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    s, mc = W.MORPH_SHIFT, W.MORPH_MIN
    counts = {}
    for r in geo.select("x", "y").collect():
        key = (r.x >> s, r.y >> s)
        counts[key] = counts.get(key, 0) + 1
    occ = {c for c, n in counts.items() if n >= mc}
    nine = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    eroded = {
        (gx, gy)
        for gx, gy in occ
        if all((gx + dx, gy + dy) in occ for dx, dy in nine)
    }
    opened = {(gx + dx, gy + dy) for gx, gy in eroded for dx, dy in nine}
    expect = {
        (gx, gy, counts[(gx, gy)], int((gx, gy) in eroded))
        for gx, gy in opened
    }
    got = {
        (r.gx, r.gy, r.n_docs, r.is_core)
        for r in cell_morphology(geo, s, mc).collect()
    }
    assert got == expect
    # the opening must be anti-extensive AND actually remove speckle
    assert {(gx, gy) for gx, gy, *_ in got} <= occ
    assert len(got) < len(occ)
    assert any(core == 1 for *_, core in got) and any(
        core == 0 for *_, core in got
    )


def test_user_drift_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.operators.trajectory import (
        user_drift,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    day_s = W.DRIFT_DAYS * 86400
    rows = event_points(events).select("user_id", "ep", "ex", "ey").collect()
    agg = {}
    for r in rows:
        key = (r.user_id, r.ep // day_s)
        e = agg.setdefault(key, [0, 0, 0])
        e[0] += 1
        e[1] += r.ex
        e[2] += r.ey
    per_user = {}
    for (u, b), (n, sx, sy) in agg.items():
        per_user.setdefault(u, []).append((b, n, sx // n, sy // n))
    expect = set()
    for u, buckets in per_user.items():
        buckets.sort()
        for (pb, _, pcx, pcy), (b, n, cx, cy) in zip(buckets, buckets[1:]):
            dx, dy = cx - pcx, cy - pcy
            expect.add((u, b, n, cx, cy, dx, dy, b - pb, dx * dx + dy * dy))
    got = {
        (
            r.user_id,
            r.bucket,
            r.n_events,
            r.cx,
            r.cy,
            r.dx,
            r.dy,
            r.gap_buckets,
            r.dist2,
        )
        for r in user_drift(events, W.DRIFT_DAYS).collect()
    }
    assert got == expect
    assert expect  # multi-bucket users exist in the fixture


def test_geo_topk_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.similarity import geo_cosine_topk
    from hilbert_curve_spark.sources import derive

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pts = emb.selectExpr(
        "vec_id",
        f"{derive.x_sql('vec_id')} AS x",
        f"{derive.y_sql('vec_id')} AS y",
        "embedding",
    ).collect()
    q = np.asarray(W.ANN_QUERY, dtype=np.float32).astype(np.float64)
    qn = float(np.sqrt((q * q).sum()))
    b = W.GEO_ANN_BOX
    scored = []
    for r in pts:
        if b["x_lo"] <= r.x <= b["x_hi"] and b["y_lo"] <= r.y <= b["y_hi"]:
            v = np.asarray(r.embedding, dtype=np.float32).astype(np.float64)
            # replay the sequential fold (sum order matters at the e6 edge)
            dot = 0.0
            nrm = 0.0
            for i in range(len(v)):
                dot += v[i] * q[i]
                nrm += v[i] * v[i]
            cos_e6 = int(np.floor(1e6 * dot / (np.sqrt(nrm) * qn)))
            scored.append((r.vec_id, r.x, r.y, cos_e6))
    scored.sort(key=lambda t: (-t[3], t[0]))
    expect = scored[: W.ANN_K]
    got = [
        (r.vec_id, r.x, r.y, r.cos_e6)
        for r in geo_cosine_topk(
            emb, W.ANN_QUERY, **W.GEO_ANN_BOX, k=W.ANN_K
        ).collect()
    ]
    assert got == expect
    assert len(got) == W.ANN_K  # the box holds at least k vectors
    # the box genuinely constrains: some corpus vector is outside it
    assert len(scored) < len(pts)
