"""The literal-shape operators share one tagging scan,
``range_query.shape_probe``: empty shape lists, docs inside several shapes,
and the module attributes the benchmark's trace wrappers patch."""

import numpy as np
import pytest

from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.curve.cover import _point_in_polygon
from hilbert_curve_spark.curve.hilbert import encode2d
from hilbert_curve_spark.operators import pip as pip_ops
from hilbert_curve_spark.operators import range_query as rq
from hilbert_curve_spark.operators import spatial_join as sj
from hilbert_curve_spark.operators import tiles as tiles_ops


@pytest.fixture(scope="module")
def small_geo(spark):
    """400 docs on a 64 x 64 patch of the lattice, with their Hilbert index."""
    rng = np.random.default_rng(11)
    xs, ys = rng.integers(1000, 1064, 400), rng.integers(2000, 2064, 400)
    hs = encode2d(xs, ys, DEFAULT.order)
    rows = [(f"d{i:03d}", int(x), int(y), int(h)) for i, (x, y, h) in enumerate(zip(xs, ys, hs))]
    geo = spark.createDataFrame(rows, "doc_id string, x long, y long, hilbert long")
    return geo, {d: (x, y) for d, x, y, _ in rows}


@pytest.mark.parametrize(
    "call, schema",
    [
        (lambda g: rq.grq_batch(g, []), "box_id:int,doc_id:string,x:bigint,y:bigint"),
        (lambda g: tiles_ops.tile_assignment(g, []), "tile_id:string,doc_id:string"),
        (lambda g: sj.knn_join(g, [], 3), "qid:string,doc_id:string,dist2:bigint,rank:bigint"),
        (lambda g: sj.distance_join(g, [], 5), "poi_id:string,doc_id:string,dist2:bigint"),
        (lambda g: pip_ops.pip_join(g, []), "poly_id:string,doc_id:string,x:bigint,y:bigint"),
    ],
    ids=["grq_batch", "tile_assignment", "knn_join", "distance_join", "pip_join"],
)
def test_empty_shape_list_returns_no_rows(small_geo, call, schema):
    out = call(small_geo[0])
    assert out.schema.simpleString() == f"struct<{schema}>"
    assert out.collect() == []


def test_doc_in_overlapping_shapes_appears_once_per_shape(small_geo):
    geo, pts = small_geo
    tiles = [
        {"tile_id": "a", "x_start": 1000, "y_start": 2000, "width": 40, "height": 40},
        {"tile_id": "b", "x_start": 1020, "y_start": 2020, "width": 40, "height": 40},
        # a repeated tile_id whose window overlaps its first one: one row per doc
        {"tile_id": "a", "x_start": 1010, "y_start": 2030, "width": 40, "height": 30},
    ]
    got = sorted(tuple(r) for r in tiles_ops.tile_assignment(geo, tiles).collect())
    want = sorted({
        (t["tile_id"], d)
        for t in tiles
        for d, (x, y) in pts.items()
        if t["x_start"] <= x < t["x_start"] + t["width"]
        and t["y_start"] <= y < t["y_start"] + t["height"]
    })
    assert got == want
    assert {d for t, d in want if t == "a"} & {d for t, d in want if t == "b"}

    polygons = [
        {"poly_id": "p", "vertices": [(1000, 2000), (1050, 2005), (1030, 2060)]},
        {"poly_id": "q", "vertices": [(1010, 2010), (1063, 2010), (1063, 2063), (1010, 2063)]},
    ]
    got = sorted(tuple(r) for r in pip_ops.pip_join(geo, polygons).select("poly_id", "doc_id").collect())
    want = sorted(
        (p["poly_id"], d)
        for p in polygons
        for d, (x, y) in pts.items()
        if _point_in_polygon(x, y, p["vertices"])
    )
    assert got == want
    assert {d for p, d in want if p == "p"} & {d for p, d in want if p == "q"}


def test_trace_wrappers_find_their_attributes():
    """The benchmark's trace wraps layer functions by module attribute; a
    refactor that drops one must fail here, not in a traced benchmark run."""
    from perfbench.trace import Tracer

    tracer = Tracer(None)
    tracer.install_layer_wrappers()
    tracer.restore()
    assert "cover_box" in tiles_ops.tile_assignment.__code__.co_names
