"""Point-in-polygon join (reference S15 — the reference's only polygon is
the axis-aligned box, `hilbert/HilbertComponent/Box.contains:144-152`; the
north_star extends to general polygons).

Physical plan (one pruned scan + exact test, ``range_query.shape_probe``):

1. **Prefilter** — each polygon compiles (driver-side) to a rasterized
   Hilbert range cover of the cells it touches; the merged literal union
   of all covers is pushed to the scan (parquet row-group pruning on
   Hilbert-sorted storage).
2. **Tag** — each surviving row explodes to one row per polygon whose
   bounding box and exact test (3) hold, a codegen
   ``explode(filter(array(CASE ...)))``; the polygon's id is picked by
   index from a literal array.  No join and no broadcast table: the
   polygon lists this operator serves are a handful of literals.
3. **Exact test** — integer-exact even-odd ray cast evaluated as a native
   Column expression: the polygon's edge list is a literal
   ``array<struct>`` folded with ``aggregate`` (boolean XOR), entirely
   inside whole-stage codegen — no Python anywhere in this operator.
   The crossing test is pure int64 arithmetic (no division), so the DuckDB
   oracle evaluates the *identical* predicate and cannot diverge on
   boundary cases:   for each edge with (y1 > py) != (y2 > py), the ray
   x -> +inf crosses iff  px*dy < x1*dy + (py-y1)*(x2-x1)  (inequality
   flipped when dy < 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..curve.cover import Cover

Polygon = dict  # {poly_id: str, vertices: list[(x, y)]}


def _edges(verts: list[tuple[int, int]]) -> list[tuple[int, int, int, int]]:
    n = len(verts)
    return [(*verts[i], *verts[(i + 1) % n]) for i in range(n)]


def inside_polygon_expr(verts: list[tuple[int, int]], x: str = "x", y: str = "y") -> F.Column:
    """Codegen even-odd ray cast of one polygon: :func:`inside_rings_expr`
    over its single ring."""
    return inside_rings_expr([verts], x, y)


def pip_join(
    doc_geo: DataFrame,
    polygons: list[Polygon],
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """(poly_id, doc_id, x, y) for every doc strictly inside each polygon:
    :func:`pip_rings_join` over one ring per polygon."""
    return pip_rings_join(
        doc_geo,
        [{"poly_id": p["poly_id"], "rings": [p["vertices"]]} for p in polygons],
        config,
    )


def pip_oracle_sql(polygons: list[Polygon], doc_geo_sql_table: str = "doc_geo") -> str:
    """DuckDB oracle: identical integer ray-cast as SQL over exploded edges.

    Builds a VALUES edge list and counts straddling-and-crossing edges per
    (poly, doc); odd count = inside."""
    edge_rows = []
    for p in polygons:
        for x1, y1, x2, y2 in _edges(p["vertices"]):
            edge_rows.append(f"('{p['poly_id']}', {x1}, {y1}, {x2}, {y2})")
    values = ", ".join(edge_rows)
    return f"""edges(poly_id, x1, y1, x2, y2) AS (VALUES {values}),
pip AS (
  SELECT e.poly_id, d.doc_key, d.x, d.y,
         SUM(CASE WHEN ((e.y1 > d.y) <> (e.y2 > d.y)) AND
                  (CASE WHEN e.y2 - e.y1 > 0
                        THEN d.x * (e.y2 - e.y1) < e.x1 * (e.y2 - e.y1) + (d.y - e.y1) * (e.x2 - e.x1)
                        ELSE d.x * (e.y2 - e.y1) > e.x1 * (e.y2 - e.y1) + (d.y - e.y1) * (e.x2 - e.x1)
                   END)
             THEN 1 ELSE 0 END) AS crossings
  FROM {doc_geo_sql_table} d, edges e
  GROUP BY e.poly_id, d.doc_key, d.x, d.y
)
"""


def inside_rings_expr(
    rings: list[list[tuple[int, int]]], x: str = "x", y: str = "y"
) -> F.Column:
    """Even-odd ray cast over the UNION of several closed rings' edges —
    the standard polygon-with-holes (and multi-polygon) membership rule:
    a point inside the outer ring and inside a hole ring crosses an odd
    number of each, so the combined parity is even = outside: one
    :func:`ray_cast_sql` over the literal edge array."""
    edge_lits = ", ".join(
        f"named_struct('x1', CAST({x1} AS BIGINT), 'y1', CAST({y1} AS BIGINT), "
        f"'x2', CAST({x2} AS BIGINT), 'y2', CAST({y2} AS BIGINT))"
        for ring in rings
        for x1, y1, x2, y2 in _edges(ring)
    )
    return F.expr(ray_cast_sql(f"array({edge_lits})", x, y))


def ray_cast_sql(edges: str, x: str, y: str) -> str:
    """The even-odd ray cast of point ``(x, y)`` as a Spark SQL boolean:
    ``aggregate`` folds the ``array<struct<x1, y1, x2, y2>>`` expression
    ``edges`` (a literal array or a column) with a boolean XOR (``!=``)
    accumulator, one crossing test per edge — exact int64 arithmetic,
    codegen, no Python."""
    return (
        f"aggregate({edges}, false, (acc, e) -> (acc != ("
        f"((e.y1 > {y}) != (e.y2 > {y})) AND "
        f"(CASE WHEN e.y2 - e.y1 > 0 "
        f"THEN {x} * (e.y2 - e.y1) < e.x1 * (e.y2 - e.y1) + ({y} - e.y1) * (e.x2 - e.x1) "
        f"ELSE {x} * (e.y2 - e.y1) > e.x1 * (e.y2 - e.y1) + ({y} - e.y1) * (e.x2 - e.x1) "
        f"END))))"
    )


def pip_rings_join(
    doc_geo: DataFrame,
    ring_polygons: list[dict],
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Point-in-polygon join for polygons WITH HOLES (and multi-polygons):
    each entry is ``{poly_id, rings: [outer, hole, ...]}`` and membership
    is the even-odd parity over the union of ring edges — outer minus
    holes, exactly, with zero new geometric machinery (the crossing test
    is ring-agnostic).

    Plan: one :func:`..range_query.shape_probe`.  A polygon's cover is the
    interval union of every ring's rasterized cover (holes only remove
    area, so the outer cover alone would do for a donut, but a
    multi-polygon's disjoint parts each need their cover); its residual is
    the rings' bounding box, then the multi-ring ray cast — ``AND``
    short-circuits, so the edge fold runs only inside the box."""
    from ..curve.cover import cover_polygon
    from .range_query import box_residual, shape_probe, shape_value

    shapes = []
    for p in ring_polygons:
        # rasterized polygon cover (curve/cover.py::cover_polygon): only the
        # aligned cells the polygon touches, not its whole bounding box
        covers = [cover_polygon(ring, config.order, config.max_ranges) for ring in p["rings"]]
        bbox = Cover(
            [r for c in covers for r in c.ranges],
            min(c.x_lo for c in covers), max(c.x_hi for c in covers),
            min(c.y_lo for c in covers), max(c.y_hi for c in covers),
            config.order, exact=False,
        )
        shapes.append((bbox.ranges, box_residual(bbox) & inside_rings_expr(p["rings"])))
    poly_id = shape_value([p["poly_id"] for p in ring_polygons], "string")
    return shape_probe(doc_geo, shapes, config).select(
        poly_id.alias("poly_id"), "doc_id", "x", "y"
    )


def pip_rings_oracle_sql(
    ring_polygons: list[dict], doc_geo_sql_table: str = "doc_geo"
) -> str:
    """Identical multi-ring parity: the VALUES edge list simply contains
    every ring's edges; odd combined crossings = inside outer minus holes."""
    edge_rows = []
    for p in ring_polygons:
        for ring in p["rings"]:
            for x1, y1, x2, y2 in _edges(ring):
                edge_rows.append(f"('{p['poly_id']}', {x1}, {y1}, {x2}, {y2})")
    values = ", ".join(edge_rows)
    return f"""edges(poly_id, x1, y1, x2, y2) AS (VALUES {values}),
pip AS (
  SELECT e.poly_id, d.doc_key, d.x, d.y,
         SUM(CASE WHEN ((e.y1 > d.y) <> (e.y2 > d.y)) AND
                  (CASE WHEN e.y2 - e.y1 > 0
                        THEN d.x * (e.y2 - e.y1) < e.x1 * (e.y2 - e.y1) + (d.y - e.y1) * (e.x2 - e.x1)
                        ELSE d.x * (e.y2 - e.y1) > e.x1 * (e.y2 - e.y1) + (d.y - e.y1) * (e.x2 - e.x1)
                   END)
             THEN 1 ELSE 0 END) AS crossings
  FROM {doc_geo_sql_table} d, edges e
  GROUP BY e.poly_id, d.doc_key, d.x, d.y
)
"""
