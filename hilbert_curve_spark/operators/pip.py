"""Point-in-polygon join (reference S15 — the reference's only polygon is
the axis-aligned box, `hilbert/HilbertComponent/Box.contains:144-152`; the
north_star extends to general polygons).

Physical plan (per north_rule: cell-bucketed broadcast join + exact test):

1. **Prefilter** — each polygon's bounding box compiles to a budgeted
   Hilbert range cover (driver-side); the merged literal union of all
   covers is pushed to the scan (parquet row-group pruning on
   Hilbert-sorted storage).
2. **Equi-key broadcast hash join** — every cover range expands to the
   aligned ``hilbert >> s`` cells it touches (``s`` chosen so the broadcast
   table stays under a budget), and the probe joins on
   ``hilbert >> s == ck`` with ``hilbert BETWEEN lo AND hi`` as a residual.
   A plain interval join would be a BroadcastNestedLoopJoin — every
   surviving row tested against *all* ranges, O(rows × ranges); the hashed
   cell key makes it O(rows).
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

Polygon = dict  # {poly_id: str, vertices: list[(x, y)]}


def _edges(verts: list[tuple[int, int]]) -> list[tuple[int, int, int, int]]:
    n = len(verts)
    return [(*verts[i], *verts[(i + 1) % n]) for i in range(n)]


def inside_polygon_expr(verts: list[tuple[int, int]], x: str = "x", y: str = "y") -> F.Column:
    """Codegen even-odd ray cast: fold the literal edge array with a boolean
    XOR (``!=``) accumulator.  Exact int64 arithmetic end to end."""
    edge_lits = ", ".join(
        f"named_struct('x1', CAST({x1} AS BIGINT), 'y1', CAST({y1} AS BIGINT), "
        f"'x2', CAST({x2} AS BIGINT), 'y2', CAST({y2} AS BIGINT))"
        for x1, y1, x2, y2 in _edges(verts)
    )
    return F.expr(
        f"aggregate(array({edge_lits}), false, (acc, e) -> (acc != ("
        f"((e.y1 > {y}) != (e.y2 > {y})) AND "
        f"(CASE WHEN e.y2 - e.y1 > 0 "
        f"THEN {x} * (e.y2 - e.y1) < e.x1 * (e.y2 - e.y1) + ({y} - e.y1) * (e.x2 - e.x1) "
        f"ELSE {x} * (e.y2 - e.y1) > e.x1 * (e.y2 - e.y1) + ({y} - e.y1) * (e.x2 - e.x1) "
        f"END))))"
    )


def pip_join(
    doc_geo: DataFrame,
    polygons: list[Polygon],
    config: EngineConfig = DEFAULT,
    cell_budget: int = 1024,
) -> DataFrame:
    """(poly_id, doc_id, x, y) for every doc strictly inside each polygon."""
    if not polygons:
        return (
            doc_geo.select(
                F.lit("").alias("poly_id"), "doc_id", "x", "y"
            ).limit(0)
        )
    from ..curve.cover import cover_polygon
    from .range_query import cover_cells_probe

    per_poly: list[tuple[tuple, list[tuple[int, int]]]] = []
    for i, p in enumerate(polygons):
        # rasterized polygon cover (curve/cover.py::cover_polygon): only the
        # aligned cells the polygon touches, not its whole bounding box — a
        # strictly tighter prefilter for thin/diagonal shapes; the exact
        # ray-cast residual below keeps the result identical either way
        cov = cover_polygon(p["vertices"], config.order, config.max_ranges)
        per_poly.append(((p["poly_id"], i), cov.ranges))

    # equi-key broadcast HASH join (shared plumbing, see cover_cells_probe);
    # the exact ray-cast is the post-join residual
    cand = cover_cells_probe(
        doc_geo, per_poly, "poly_id string, poly_idx int", cell_budget
    )
    # per-polygon covers are disjoint range lists, so each doc matches at
    # most one (ck, lo, hi) row per polygon — no distinct needed afterwards
    inside = F.when(F.col("poly_idx") == 0, inside_polygon_expr(polygons[0]["vertices"]))
    for i in range(1, len(polygons)):
        inside = inside.when(F.col("poly_idx") == i, inside_polygon_expr(polygons[i]["vertices"]))
    return (
        cand.filter(inside.otherwise(F.lit(False)))
        .select("poly_id", "doc_id", "x", "y")
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
    number of each, so the combined parity is even = outside.  Same exact
    int64 crossing test as :func:`inside_polygon_expr`."""
    edge_lits = ", ".join(
        f"named_struct('x1', CAST({x1} AS BIGINT), 'y1', CAST({y1} AS BIGINT), "
        f"'x2', CAST({x2} AS BIGINT), 'y2', CAST({y2} AS BIGINT))"
        for ring in rings
        for x1, y1, x2, y2 in _edges(ring)
    )
    return F.expr(
        f"aggregate(array({edge_lits}), false, (acc, e) -> (acc != ("
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
    cell_budget: int = 1024,
) -> DataFrame:
    """Point-in-polygon join for polygons WITH HOLES (and multi-polygons):
    each entry is ``{poly_id, rings: [outer, hole, ...]}`` and membership
    is the even-odd parity over the union of ring edges — outer minus
    holes, exactly, with zero new geometric machinery (the crossing test
    is ring-agnostic).

    Plan: identical to :func:`pip_join` — the curve-cover prefilter is the
    interval-UNION of every ring's rasterized cover (holes only remove
    area, so the outer cover alone would do for a donut, but a
    multi-polygon's disjoint parts each need their cover; merging keeps
    the range list disjoint so the cover probe still matches each doc at
    most once per polygon), candidates arrive through the broadcast hash
    cover probe, and the multi-ring ray cast is the codegen residual."""
    if not ring_polygons:
        return (
            doc_geo.select(
                F.lit("").alias("poly_id"), "doc_id", "x", "y"
            ).limit(0)
        )
    from ..curve.cover import cover_polygon, merge_overlapping
    from .range_query import cover_cells_probe

    def _merged_ranges(rings: list) -> list[tuple[int, int]]:
        return merge_overlapping([
            r
            for ring in rings
            for r in cover_polygon(ring, config.order, config.max_ranges).ranges
        ])

    per_poly: list[tuple[tuple, list[tuple[int, int]]]] = []
    for i, p in enumerate(ring_polygons):
        per_poly.append(((p["poly_id"], i), _merged_ranges(p["rings"])))
    cand = cover_cells_probe(
        doc_geo, per_poly, "poly_id string, poly_idx int", cell_budget
    )
    inside = F.when(
        F.col("poly_idx") == 0, inside_rings_expr(ring_polygons[0]["rings"])
    )
    for i in range(1, len(ring_polygons)):
        inside = inside.when(
            F.col("poly_idx") == i, inside_rings_expr(ring_polygons[i]["rings"])
        )
    return (
        cand.filter(inside.otherwise(F.lit(False)))
        .select("poly_id", "doc_id", "x", "y")
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
