"""Wave-23 operators: batched GRQ (N boxes, one pass) and the flow-
divergence raster."""

import numpy as np

from hilbert_curve_spark import workload as W


def _seeded_boxes(n: int, seed: int) -> list[tuple[int, int, int, int]]:
    """``n`` squares of side 16-400 placed uniformly on the lattice."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        side = int(rng.integers(16, 401))
        x0, y0 = (int(v) for v in rng.integers(0, W.EDGE - side, size=2))
        out.append((x0, x0 + side - 1, y0, y0 + side - 1))
    return out


def test_grq_batch_brute_force(spark, sf_dir):
    """The standard batch plus 64- and 256-box batches, whose merged covers
    (thousands of ranges) once overflowed the analyzer's stack as one
    BETWEEN per range."""
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.range_query import grq_batch
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    pts = [(r.doc_id, r.x, r.y) for r in geo.select("doc_id", "x", "y").collect()]
    xs = np.array([x for _, x, _ in pts])
    ys = np.array([y for _, _, y in pts])
    for boxes in (W.batch_boxes(), _seeded_boxes(64, 7), _seeded_boxes(256, 11)):
        b = np.array(boxes)
        hit = (
            (xs[:, None] >= b[:, 0]) & (xs[:, None] <= b[:, 1])
            & (ys[:, None] >= b[:, 2]) & (ys[:, None] <= b[:, 3])
        )
        expect = {(int(i), *pts[j]) for j, i in zip(*np.nonzero(hit))}
        got = {
            (r.box_id, r.doc_id, r.x, r.y) for r in grq_batch(geo, boxes).collect()
        }
        assert got == expect, len(boxes)
        # at least 3 boxes must be non-empty (a real batch)
        assert len({i for i, *_ in expect}) >= 3


def test_grq_batch_merged_cover_is_union(spark):
    """The merged prune interval set must cover every per-box cover and
    stay disjoint (the scan predicate is sound and non-redundant)."""
    from hilbert_curve_spark.curve.cover import merge_overlapping
    from hilbert_curve_spark.operators.range_query import compile_box

    boxes = W.batch_boxes()
    covers = [compile_box(*b) for b in boxes]
    merged = merge_overlapping([r for c in covers for r in c.ranges])
    for lo, hi in merged:
        assert lo <= hi
    for (l1, h1), (l2, h2) in zip(merged, merged[1:]):
        assert h1 + 1 < l2  # disjoint, non-adjacent
    import bisect

    los = [lo for lo, _ in merged]
    for c in covers:
        for lo, hi in c.ranges:
            j = bisect.bisect_right(los, lo) - 1
            assert j >= 0 and merged[j][0] <= lo and hi <= merged[j][1]


def test_cell_flow_balance_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import (
        cell_flow_balance,
        od_flows,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    od = [
        (r.o_cell, r.d_cell, r.n_flows)
        for r in od_flows(events, 60, 8).collect()
    ]
    agg = {}
    for o, d, n in od:
        if o == d:
            e = agg.setdefault(o, [0, 0, 0])
            e[2] += n
        else:
            agg.setdefault(d, [0, 0, 0])[0] += n
            agg.setdefault(o, [0, 0, 0])[1] += n
    expect = {
        (c, i, o, i - o, s) for c, (i, o, s) in agg.items()
    }
    got = {
        (r.cell, r.inflow, r.outflow, r.net_flow, r.self_flows)
        for r in cell_flow_balance(events, 60, 8).collect()
    }
    assert got == expect
    # sources and sinks must both exist, and flow must conserve globally
    nets = [n for *_, n, _ in got]
    assert any(n > 0 for n in nets) and any(n < 0 for n in nets)
    assert sum(nets) == 0
