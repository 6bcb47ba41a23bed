"""Distributed spatial joins beyond the single-query operators: within-radius
self-join (near-neighbor pairs), kNN *join* (top-k per query point, batched),
and zonal statistics (per-polygon aggregation).

The reference computes these shapes one query at a time on the driver
(`hilbert/HilbertComponent/GetPointIndex.java:59-93` sorts the whole point
set to answer one proximity lookup; `Box.contains:144-152` tests one point);
these are the set-at-a-time Spark equivalents a 100 TB corpus needs.

Scale design notes:

* ``distance_self_join`` — the textbook grid-blocked plane-sweep: each point
  keys to a ``c x c`` cell with ``c >= radius``, so every qualifying pair is
  co-located in the same or an adjacent cell.  The probe side explodes to
  only FIVE offsets (self + E/NE/N/NW): the four directional offsets cover
  exactly half of the 8-neighborhood, their negations the other half, so
  every cross-cell pair is generated exactly once and only same-cell pairs
  need the ``id_a < id_b`` dedup — 5x shuffle amplification instead of the
  naive 9x.  The join is a plain shuffled hash equi-join on the cell key
  (AQE skew-split backstops the gaussian hot cells); no distinct pass is
  needed because each unordered pair is emitted exactly once by
  construction.  The blocking lives in ONE helper, ``_within_radius``
  (this unordered form, plus a directed 3x3 form), which every
  within-radius point pairing calls: the kNN graph, IDW, the doc x event
  join, and trajectory's stay-contact, Hausdorff and Knox joins.

* ``knn_join`` — the batched form of ``operators/knn.py``: every query point
  compiles to a Hilbert cover of its L-inf candidate box, all covers ride
  ONE ``range_query.shape_probe`` (one pruned scan for the whole batch, not
  one scan per query, each candidate tagged with every query box holding
  it), and a per-query window computes the partial top-k.  The same L-inf
  completeness argument applies per query:
  if the k-th candidate distance <= the box radius the top-k is proven
  exact, else that query's box grows geometrically and the batch re-probes
  (queries already proven complete keep their radius — the re-probe is
  still one scan).

* ``zonal_stats`` — raster/vector zonal aggregation: the PIP join's
  matches (one pruned scan tagged by the codegen ray-cast,
  `operators/pip.py`) feed a hash aggregation on ``poly_id``.  All
  aggregates are algebraic (count/sum) so map-side partial aggregation
  bounds the shuffle at one row per (task, polygon).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .knn import _corpus_count
from .pip import Polygon, pip_join, pip_oracle_sql
from .range_query import box_residual, compile_box, cover_predicate, shape_probe, shape_value
from .skew import keyed_pairs

# self + E/NE/N/NW: half the 8-neighborhood (negations cover the other half)
_HALF_OFFSETS = [(0, 0), (1, 0), (1, 1), (0, 1), (-1, 1)]
_NINE_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _cell_shift(radius: int) -> int:
    """Smallest s with 2**s >= radius (cell edge >= radius guarantees any
    pair within ``radius`` spans at most one cell step per axis)."""
    return max(1, int(radius - 1).bit_length())


def _cell_key(gx, gy, edge: int, off=None):
    """Composite equi-join key of cell ``(gx, gy)`` moved by ``off = (dx,
    dy)``: ``(gx + dx) * edge + gy + dy`` — the one key format of every
    blocked join, for Columns and plain Python ints alike.  ``edge`` is at
    least the cells per axis + 2, so the key is injective over every
    neighbour a probe can reach (off-lattice neighbours match nothing)."""
    if off is None:
        return gx * edge + gy
    dx, dy = off
    return (gx + dx) * edge + gy + dy


def _within_radius(
    probe: DataFrame,
    home: DataFrame,
    radius: int,
    config: EngineConfig = DEFAULT,
    tie: str | None = None,
    keep: Column | None = None,
) -> DataFrame:
    """The within-radius blocked join: every (probe row, home row) pair
    whose points lie within L2 ``radius``.  Each frame carries its point as
    ``x, y``; every column comes back suffixed ``_a`` (probe) or ``_b``
    (home), plus ``dist2`` (long, ``<= radius**2``).

    Both sides key to ``2**s``-cells with ``s = _cell_shift(radius)``, so a
    qualifying pair is at most one cell step apart per axis.  The probe
    explodes its neighbour offsets and the sides equi-join on one
    ``_cell_key``; ``keep`` (a Column over the suffixed names) filters the
    joined candidates before the distance residual.

    * Directed form (default): the full 3x3 neighbourhood, so each ordered
      (probe, home) pair meets exactly once.
    * Unordered self-join form (``tie`` names a unique id column, probe and
      home the same points): the five half-offsets, and same-cell pairs
      keep only ``tie_a < tie_b`` — each unordered pair is emitted exactly
      once, 5x probe replication instead of 9x, no dedup pass."""
    s = _cell_shift(radius)
    edge = config.edge
    r2 = int(radius) * int(radius)
    offs = ", ".join(
        f"named_struct('dx', {dx}L, 'dy', {dy}L)"
        for dx, dy in (_NINE_OFFSETS if tie is None else _HALF_OFFSETS)
    )
    a = (
        probe.select(
            *[F.col(c).alias(f"{c}_a") for c in probe.columns],
            F.shiftright("x", s).alias("gx"),
            F.shiftright("y", s).alias("gy"),
        )
        .withColumn("o", F.explode(F.expr(f"array({offs})")))
        .withColumn(
            "ck", _cell_key(F.col("gx"), F.col("gy"), edge, (F.col("o.dx"), F.col("o.dy")))
        )
    )
    b = home.select(
        *[F.col(c).alias(f"{c}_b") for c in home.columns],
        _cell_key(F.shiftright("x", s), F.shiftright("y", s), edge).alias("ck"),
    )
    pairs = a.join(b, "ck")
    if tie is not None:
        same_cell = (F.col("o.dx") == 0) & (F.col("o.dy") == 0)
        pairs = pairs.filter(~same_cell | (F.col(f"{tie}_a") < F.col(f"{tie}_b")))
    if keep is not None:
        pairs = pairs.filter(keep)
    dist2 = (F.col("x_a") - F.col("x_b")) ** 2 + (F.col("y_a") - F.col("y_b")) ** 2
    return (
        pairs.withColumn("dist2", dist2.cast("long"))
        .filter(F.col("dist2") <= r2)
        .drop("ck", "o", "gx", "gy")
    )


def _poi_cells(spark, pois: list[tuple[str, int, int]], s: int, edge: int) -> DataFrame:
    """Each POI replicated in Python to its 3x3 neighbour ``2**s``-cells
    (9 literal rows per POI, keyed by ``_cell_key``): ``(poi_id, px, py,
    ck)``."""
    rows = [
        (pid, px, py, _cell_key(px >> s, py >> s, edge, off))
        for pid, px, py in pois
        for off in _NINE_OFFSETS
    ]
    return spark.createDataFrame(rows, "poi_id string, px long, py long, ck long")


def distance_self_join(
    doc_geo: DataFrame, radius: int, config: EngineConfig = DEFAULT
) -> DataFrame:
    """All unordered doc pairs within L2 distance ``radius``:
    (doc_a, doc_b, dist2) with doc_a < doc_b and dist2 <= radius**2.

    Exact (the cell blocking is lossless for c >= radius); one shuffled hash
    join on the composite cell key; no post-join dedup needed.
    """
    pts = doc_geo.select("doc_id", "x", "y")
    pairs = _within_radius(pts, pts, radius, config, tie="doc_id")
    return pairs.select(
        F.least("doc_id_a", "doc_id_b").alias("doc_a"),
        F.greatest("doc_id_a", "doc_id_b").alias("doc_b"),
        "dist2",
    )


def distance_self_join_oracle(radius: int, doc_geo_table: str = "doc_geo") -> str:
    """DuckDB oracle: the same lossless cell blocking (9-offset form — the
    oracle favors obviousness over shuffle volume) with ``doc_key <`` dedup
    and the identical integer distance predicate."""
    s = _cell_shift(radius)
    r2 = radius * radius
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""prb AS (
  SELECT doc_key, x, y, (x >> {s}) + dx AS cx, (y >> {s}) + dy AS cy
  FROM {doc_geo_table}, (VALUES {nine}) o(dx, dy)
), hom AS (
  SELECT doc_key, x, y, x >> {s} AS cx, y >> {s} AS cy FROM {doc_geo_table}
)
SELECT p.doc_key AS doc_a, h.doc_key AS doc_b,
       (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) AS dist2
FROM prb p JOIN hom h ON p.cx = h.cx AND p.cy = h.cy AND p.doc_key < h.doc_key
WHERE (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) <= {r2}"""


def _dist2(px, py) -> Column:
    """Integer squared distance of the row's ``x, y`` to ``(px, py)``."""
    return (F.col("x") - px) * (F.col("x") - px) + (F.col("y") - py) * (F.col("y") - py)


def distance_join(
    doc_geo: DataFrame,
    pois: list[tuple[str, int, int]],
    radius: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Asymmetric within-radius join against a short literal list of
    points of interest: (poi_id, doc_id, dist2) for every doc within
    ``radius`` of each POI.

    One :func:`..range_query.shape_probe`: each POI's circumscribing box
    compiles to a Hilbert cover, the union of the covers prunes the scan
    (on Hilbert-sorted storage only the row groups near any POI are read),
    and each surviving doc is tagged with every POI whose box and exact
    integer distance test hold — no join, no shuffle of the doc side.  A
    many-POI reference layer takes ``nearest_join_bucketed``'s cell-keyed
    broadcast join instead."""
    edge = config.edge
    r2 = radius * radius
    shapes = []
    for _, px, py in pois:
        x_lo, x_hi = max(0, px - radius), min(edge - 1, px + radius)
        y_lo, y_hi = max(0, py - radius), min(edge - 1, py + radius)
        cov = compile_box(x_lo, x_hi, y_lo, y_hi, config)
        shapes.append((cov.ranges, box_residual(cov) & (_dist2(px, py) <= r2)))
    px = shape_value([p[1] for p in pois], "long")
    py = shape_value([p[2] for p in pois], "long")
    return shape_probe(doc_geo, shapes, config).select(
        shape_value([p[0] for p in pois], "string").alias("poi_id"),
        "doc_id",
        _dist2(px, py).cast("long").alias("dist2"),
    )


def distance_join_oracle(
    pois: list[tuple[str, int, int]], radius: int, doc_geo_table: str = "doc_geo"
) -> str:
    vals = ", ".join(f"('{pid}', {px}, {py})" for pid, px, py in pois)
    d2 = "(d.x - p.px) * (d.x - p.px) + (d.y - p.py) * (d.y - p.py)"
    return (
        f"poi(poi_id, px, py) AS (VALUES {vals}) "
        f"SELECT p.poi_id, d.doc_key AS doc_id, {d2} AS dist2 "
        f"FROM {doc_geo_table} d, poi p WHERE {d2} <= {radius * radius}"
    )


# ---------------------------------------------------------------------------
# kNN join
# ---------------------------------------------------------------------------


def _knn_join_candidates(
    doc_geo: DataFrame,
    qspecs: list[tuple[str, int, int]],
    radii: dict[str, int],
    config: EngineConfig,
) -> DataFrame:
    """One :func:`..range_query.shape_probe` for all query boxes; each
    candidate carries its query's ``qid, qx, qy``."""
    edge = config.edge
    shapes = []
    for qid, qx, qy in qspecs:
        r = radii[qid]
        x_lo, x_hi = max(0, qx - r), min(edge - 1, qx + r)
        y_lo, y_hi = max(0, qy - r), min(edge - 1, qy + r)
        cov = compile_box(x_lo, x_hi, y_lo, y_hi, config)
        shapes.append((cov.ranges, box_residual(cov)))
    return shape_probe(doc_geo, shapes, config).select(
        "*",
        shape_value([q[0] for q in qspecs], "string").alias("qid"),
        shape_value([q[1] for q in qspecs], "long").alias("qx"),
        shape_value([q[2] for q in qspecs], "long").alias("qy"),
    )


def _ranked(cand: DataFrame, k: int) -> DataFrame:
    d2 = (F.col("x") - F.col("qx")) ** 2 + (F.col("y") - F.col("qy")) ** 2
    w = Window.partitionBy("qid").orderBy("dist2", "doc_id")
    return (
        cand.withColumn("dist2", d2.cast("long"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_join(
    doc_geo: DataFrame,
    qspecs: list[tuple[str, int, int]],
    k: int,
    config: EngineConfig = DEFAULT,
    initial_radius: int | None = None,
) -> DataFrame:
    """Exact k nearest docs for EVERY query point in one batched plan:
    (qid, doc_id, dist2, rank).

    Control loop mirrors ``knn()`` but batched: each round is one
    ``shape_probe`` scan over every query's box + one window top-k; the
    <= len(qspecs)*k collected rows decide per
    query whether its L-inf box provably contains its true top-k (k-th
    distance <= box radius), growing only the unproven boxes.
    """
    edge = config.edge
    if initial_radius is None:
        n = max(_corpus_count(doc_geo), 1)
        initial_radius = max(8, min(edge, 2 * math.isqrt(k * edge * edge // n) + 1))
    radii = {qid: initial_radius for qid, _, _ in qspecs}
    while True:
        rows = _ranked(_knn_join_candidates(doc_geo, qspecs, radii, config), k).collect()
        by_q: dict[str, list] = {qid: [] for qid, _, _ in qspecs}
        for r in rows:
            by_q[r.qid].append(r)
        grew = False
        for qid, _, _ in qspecs:
            got, r = by_q[qid], radii[qid]
            if r >= edge:
                continue
            # collect() order is arbitrary — the k-th distance is the max
            kth = max((row.dist2 for row in got), default=0)
            if len(got) < k:
                radii[qid] = min(edge, r * 4)
                grew = True
            elif kth > r * r:
                # candidates outside the box could still beat the k-th:
                # widen to the proven-complete radius
                radii[qid] = min(edge, math.isqrt(int(kth)) + 1)
                grew = True
        if not grew:
            break
    final = _ranked(_knn_join_candidates(doc_geo, qspecs, radii, config), k)
    return final.select("qid", "doc_id", "dist2", "rank")


def knn_join_oracle(
    qspecs: list[tuple[str, int, int]], k: int, doc_geo_table: str = "doc_geo"
) -> str:
    vals = ", ".join(f"('{qid}', {qx}, {qy})" for qid, qx, qy in qspecs)
    return f"""q(qid, qx, qy) AS (VALUES {vals}),
rk AS (
  SELECT q.qid, d.doc_key AS doc_id,
         (d.x - q.qx) * (d.x - q.qx) + (d.y - q.qy) * (d.y - q.qy) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY (d.x - q.qx) * (d.x - q.qx) + (d.y - q.qy) * (d.y - q.qy), d.doc_key
         ) AS rank
  FROM {doc_geo_table} d, q
)
SELECT qid, doc_id, dist2, CAST(rank AS BIGINT) AS rank FROM rk WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# zonal statistics
# ---------------------------------------------------------------------------


def zonal_stats(
    doc_geo: DataFrame, polygons: list[Polygon], config: EngineConfig = DEFAULT
) -> DataFrame:
    """Per-polygon aggregates over the docs strictly inside it:
    (poly_id, n_docs, sum_x, sum_y) — count and integer coordinate sums
    (exact; a centroid is sum/count, left to the caller to keep the oracle
    integer-only)."""
    pts = pip_join(doc_geo, polygons, config)
    return pts.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
    )


def zonal_stats_oracle(polygons: list[Polygon]) -> str:
    """Appends to a CTE chain that already defines ``doc_geo`` (caller wraps
    with the corpus CTE, matching ``pip_oracle_sql`` conventions).  SUM over
    BIGINT is HUGEINT in DuckDB — cast back so the driver's value hash sees
    int64 on both engines."""
    return (
        f"{pip_oracle_sql(polygons)} "
        "SELECT poly_id, COUNT(*) AS n_docs, CAST(SUM(x) AS BIGINT) AS sum_x, "
        "CAST(SUM(y) AS BIGINT) AS sum_y FROM pip WHERE crossings % 2 = 1 "
        "GROUP BY poly_id"
    )


def zonal_median(
    doc_geo: DataFrame, polygons: list[Polygon], config: EngineConfig = DEFAULT
) -> DataFrame:
    """Exact per-polygon order statistics: (poly_id, n_docs, median_x,
    median_y) where the median is the DETERMINISTIC lower-median element —
    the row at rank ``(n+1) div 2`` under ``(value, doc_id)`` order (an
    interpolated median would be engine-float territory; the element form
    is exact and oracle-checkable).

    One window pass over the PIP candidates (the doc side never shuffles
    into the join; the window shuffles only the docs inside polygons) +
    one hash aggregation.  The generalizable shape for any exact
    percentile at scale; for sketch-based percentiles over 10^12 rows swap
    the window for a two-pass histogram refine."""
    pts = pip_join(doc_geo, polygons, config)
    wx = Window.partitionBy("poly_id").orderBy("x", "doc_id")
    wy = Window.partitionBy("poly_id").orderBy("y", "doc_id")
    wc = Window.partitionBy("poly_id")
    ranked = (
        pts.withColumn("rx", F.row_number().over(wx))
        .withColumn("ry", F.row_number().over(wy))
        .withColumn("n", F.count(F.lit(1)).over(wc))
    )
    mid = F.expr("(n + 1) DIV 2")
    return ranked.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.when(F.col("rx") == mid, F.col("x"))).alias("median_x"),
        F.max(F.when(F.col("ry") == mid, F.col("y"))).alias("median_y"),
    )


def zonal_median_oracle(polygons: list[Polygon]) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (same convention as
    ``zonal_stats_oracle``)."""
    return f"""{pip_oracle_sql(polygons)} , ranked AS (
  SELECT poly_id, doc_key, x, y,
         ROW_NUMBER() OVER (PARTITION BY poly_id ORDER BY x, doc_key) AS rx,
         ROW_NUMBER() OVER (PARTITION BY poly_id ORDER BY y, doc_key) AS ry,
         COUNT(*) OVER (PARTITION BY poly_id) AS n
  FROM pip WHERE crossings % 2 = 1
)
SELECT poly_id, COUNT(*) AS n_docs,
       CAST(MAX(CASE WHEN rx = CAST(FLOOR((n + 1) / 2.0) AS BIGINT) THEN x END) AS BIGINT) AS median_x,
       CAST(MAX(CASE WHEN ry = CAST(FLOOR((n + 1) / 2.0) AS BIGINT) THEN y END) AS BIGINT) AS median_y
FROM ranked GROUP BY poly_id"""


def _corridor_pred_sql(r2: int, x: str = "x", y: str = "y") -> str:
    """Exact integer point-to-segment distance test (<= sqrt(r2)) against a
    segment row/struct ``s(ax, ay, bx, by)`` — IDENTICAL text in Spark SQL
    (lambda over a literal struct array) and DuckDB (EXISTS over a VALUES
    table).  Three cases on the projection parameter, division-free: the
    perpendicular case compares ``cross^2 <= r2 * len2``.  Overflow audit at
    order 12 (coords < 2^12): cross <= 2^25, cross^2 <= 2^50; r2 * len2 <=
    2^16 * 2^26 = 2^42 — all safely inside int64 under ANSI mode."""
    dot = f"(({x} - s.ax) * (s.bx - s.ax) + ({y} - s.ay) * (s.by - s.ay))"
    len2 = "((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay))"
    cross = f"((s.bx - s.ax) * ({y} - s.ay) - (s.by - s.ay) * ({x} - s.ax))"
    return (
        f"CASE WHEN {dot} <= 0 "
        f"THEN ({x} - s.ax) * ({x} - s.ax) + ({y} - s.ay) * ({y} - s.ay) <= {r2} "
        f"WHEN {dot} >= {len2} "
        f"THEN ({x} - s.bx) * ({x} - s.bx) + ({y} - s.by) * ({y} - s.by) <= {r2} "
        f"ELSE {cross} * {cross} <= {r2} * {len2} END"
    )


def corridor_search(
    doc_geo: DataFrame,
    vertices: list[tuple[int, int]],
    radius: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Route-corridor search: every doc within L2 distance ``radius`` of the
    polyline through ``vertices`` — (doc_id, x, y).

    Physical plan (the radius_search pattern generalized to a route): each
    segment's inflated bounding box compiles driver-side to a Hilbert range
    cover; the merged literal union prefilters the scan (row-group pruning
    on sorted storage — only the curve intervals along the route are read),
    then the exact division-free point-to-segment test runs as one codegen
    ``exists`` fold over the literal segment array.  No join, no shuffle,
    no Python — scales linearly in docs-near-route, not corpus size."""
    edge = config.edge
    r2 = radius * radius
    segs = list(zip(vertices, vertices[1:]))
    covers = []
    for (ax, ay), (bx, by) in segs:
        x_lo = max(0, min(ax, bx) - radius)
        x_hi = min(edge - 1, max(ax, bx) + radius)
        y_lo = max(0, min(ay, by) - radius)
        y_hi = min(edge - 1, max(ay, by) + radius)
        covers.extend(compile_box(x_lo, x_hi, y_lo, y_hi, config).ranges)
    seg_lits = ", ".join(
        f"named_struct('ax', {ax}L, 'ay', {ay}L, 'bx', {bx}L, 'by', {by}L)"
        for (ax, ay), (bx, by) in segs
    )
    residual = F.expr(f"exists(array({seg_lits}), s -> ({_corridor_pred_sql(r2)}))")
    return (
        doc_geo.filter(cover_predicate(covers, config))
        .filter(residual)
        .select("doc_id", "x", "y")
    )


def corridor_search_oracle(
    vertices: list[tuple[int, int]], radius: int, doc_geo_table: str = "doc_geo"
) -> str:
    """DuckDB oracle: the identical predicate text via EXISTS over a
    segment VALUES table (no prefilter — plain full evaluation).  The
    literals are CAST to BIGINT: DuckDB types bare VALUES as INT32 and the
    ``r2 * len2`` product overflows it (Spark's ``L`` struct literals are
    already int64)."""
    vals = ", ".join(
        "(" + ", ".join(f"CAST({v} AS BIGINT)" for v in (ax, ay, bx, by)) + ")"
        for (ax, ay), (bx, by) in zip(vertices, vertices[1:])
    )
    pred = _corridor_pred_sql(radius * radius, "d.x", "d.y")
    return (
        f"segs(ax, ay, bx, by) AS (VALUES {vals}) "
        f"SELECT d.doc_key AS doc_id, d.x, d.y FROM {doc_geo_table} d "
        f"WHERE EXISTS (SELECT 1 FROM segs s WHERE {pred})"
    )


def nearest_join(
    doc_geo: DataFrame, pois: list[tuple[str, int, int]], config: EngineConfig = DEFAULT
) -> DataFrame:
    """Nearest-reference enrichment: every doc annotated with its closest POI
    — (doc_id, poi_id, dist2), deterministic tie-break on poi_id.

    The all-k-nearest-1 join against a small reference set.  The POI set is
    folded into a LITERAL struct array, so the whole operator is one codegen
    projection per row (``transform`` + ``array_min`` — struct ordering gives
    argmin with tie-break): zero shuffle, zero join, scales linearly with the
    corpus and is embarrassingly partition-parallel at 100 TB.  For large POI
    sets swap the literal for a broadcast + cell-bucketed candidate probe
    (``distance_join``) and an argmin aggregation."""
    structs = ", ".join(
        f"named_struct('px', {px}L, 'py', {py}L, 'poi_id', '{pid}')"
        for pid, px, py in pois
    )
    best = F.expr(
        f"array_min(transform(array({structs}), p -> named_struct("
        f"'dist2', (x - p.px) * (x - p.px) + (y - p.py) * (y - p.py), "
        f"'poi_id', p.poi_id)))"
    )
    return doc_geo.withColumn("b", best).select(
        "doc_id",
        F.col("b.poi_id").alias("poi_id"),
        F.col("b.dist2").alias("dist2"),
    )


def nearest_join_oracle(
    pois: list[tuple[str, int, int]], doc_geo_table: str = "doc_geo"
) -> str:
    vals = ", ".join(f"('{pid}', {px}, {py})" for pid, px, py in pois)
    d2 = "(d.x - p.px) * (d.x - p.px) + (d.y - p.py) * (d.y - p.py)"
    return f"""poi(poi_id, px, py) AS (VALUES {vals}),
rk AS (
  SELECT d.doc_key AS doc_id, p.poi_id, {d2} AS dist2,
         ROW_NUMBER() OVER (PARTITION BY d.doc_key ORDER BY {d2}, p.poi_id) AS rn
  FROM {doc_geo_table} d, poi p
)
SELECT doc_id, poi_id, dist2 FROM rk WHERE rn = 1"""


def nearest_join_bucketed(
    doc_geo: DataFrame,
    pois: list[tuple[str, int, int]],
    radius: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Nearest-POI enrichment for LARGE reference sets — (doc_id, poi_id,
    dist2), nearest within ``radius``, deterministic tie-break on poi_id.

    The cell-bucketed form ``nearest_join`` documents as its at-scale
    successor: past ~100 POIs the literal argmin is O(|docs| x |P|) per
    row, so instead each POI replicates driver-side to its 3x3 neighbor
    cells (cell edge 2**s >= radius) and broadcasts; every doc hash-joins
    on its HOME cell only (zero shuffle of the doc side, no BNLJ — plan-
    asserted), and the per-doc argmin is a hash aggregation ``min(struct(
    dist2, poi_id))`` with map-side combine (never a window — candidates
    per doc are the handful of POIs within ``radius``).

    EXACT global nearest when the POI set covers the domain at radius
    ``radius`` (every point has SOME poi within it — e.g.
    ``workload.poi_grid`` with ``poi_cover_radius``): the true nearest then
    lies within ``radius``, and the 3x3 blocking is lossless at that range.
    Docs with no POI within ``radius`` drop (the within-radius semantics);
    with a covering set none drop, which the test pins by count."""
    s = _cell_shift(radius)
    edge = config.edge
    r2 = radius * radius
    poi_df = _poi_cells(doc_geo.sparkSession, pois, s, edge)
    dist2 = (F.col("x") - F.col("px")) ** 2 + (F.col("y") - F.col("py")) ** 2
    cand = (
        doc_geo.withColumn("ck", _cell_key(F.shiftright("x", s), F.shiftright("y", s), edge))
        .join(F.broadcast(poi_df), "ck")
        .withColumn("dist2", dist2.cast("long"))
        .filter(F.col("dist2") <= r2)
    )
    best = cand.groupBy("doc_id").agg(
        F.min(F.struct("dist2", "poi_id")).alias("b")
    )
    return best.select(
        "doc_id", F.col("b.poi_id").alias("poi_id"), F.col("b.dist2").alias("dist2")
    )


def nearest_join_bucketed_oracle(
    pois: list[tuple[str, int, int]], radius: int, doc_geo_table: str = "doc_geo"
) -> str:
    """DuckDB oracle: plain docs x POIs within-radius nearest with the same
    (dist2, poi_id) tie-break — quadratic but fine at oracle scale."""
    vals = ", ".join(f"('{pid}', {px}, {py})" for pid, px, py in pois)
    d2 = "(d.x - p.px) * (d.x - p.px) + (d.y - p.py) * (d.y - p.py)"
    return f"""poi(poi_id, px, py) AS (VALUES {vals}),
rk AS (
  SELECT d.doc_key AS doc_id, p.poi_id, {d2} AS dist2,
         ROW_NUMBER() OVER (PARTITION BY d.doc_key ORDER BY {d2}, p.poi_id) AS rn
  FROM {doc_geo_table} d, poi p WHERE {d2} <= {radius * radius}
)
SELECT doc_id, poi_id, dist2 FROM rk WHERE rn = 1"""


# ---------------------------------------------------------------------------
# rectangle-intersection self-join (region x region)
# ---------------------------------------------------------------------------
#
# The missing quadrant of the join family: point x point
# (distance_self_join), point x region (pip_join / zonal_stats), point x
# small-reference (distance_join) — and here region x region, the shape of
# footprint-overlap joins (building footprints, image tiles, bounding-box
# pre-joins for exact geometry).  Partition-Based Spatial Merge join: each
# rectangle replicates to every grid cell it overlaps (native ``sequence``
# explode — at most 2x2 cells when the cell edge >= the max rectangle
# extent), pairs hash-join on the cell key, and the classic PBSM
# reference-point rule (report a pair only in the cell that contains the
# intersection's lower-left corner) makes every intersecting pair appear
# EXACTLY once with no distinct/dedup pass.


def _rect_exprs(m_var: str, max_extent: int) -> tuple[str, str, str]:
    """Engine-neutral rectangle derivation off an md5 hex column: a 1-in-N
    sample selector (first 8 hex chars) and width/height in
    ``[1, max_extent]`` (hex chars 9-12 / 13-16).  Deterministic, exact, and
    identically computable by DuckDB — no external rectangle data needed."""
    from .dedup import _hex_to_long_sql

    sel = _hex_to_long_sql(m_var, 1, 8)
    w = f"(1 + ({_hex_to_long_sql(m_var, 9, 4)} % {max_extent}))"
    h = f"(1 + ({_hex_to_long_sql(m_var, 13, 4)} % {max_extent}))"
    return sel, w, h


def rect_self_join(
    doc_geo: DataFrame,
    sample_mod: int = 64,
    max_extent: int = 40,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """All intersecting pairs among the derived rectangle set:
    (rect_a, rect_b, ix_area) with rect_a < rect_b, ix_area the exact
    integer intersection area.

    Rectangles derive deterministically from a 1-in-``sample_mod`` md5
    sample of the corpus (lower-left = the doc's lattice point, extents
    md5-derived in [1, max_extent]).  Exact: the grid blocking is lossless
    for any cell size, and the reference-point rule needs no dedup shuffle.
    100 TB shape: one narrow derivation scan, <= 4x replication, one
    shuffled hash equi-join on the composite cell key (AQE skew-split
    backstops hot cells); set ``sample_mod=1`` to join the full corpus.
    """
    edge = config.edge
    s = int(max_extent).bit_length()  # cell edge 2**s >= max_extent: <=2x2 cells
    m = "md5(CAST(doc_id AS BINARY))"
    sel, w, h = _rect_exprs("m", max_extent)
    cells = (
        doc_geo.withColumn("m", F.expr(m))
        .filter(F.expr(f"({sel} % {sample_mod}) = 0"))
        .select(
            "doc_id",
            F.col("x").alias("x_lo"),
            F.col("y").alias("y_lo"),
            F.expr(f"LEAST(x + {w}, {edge - 1})").alias("x_hi"),
            F.expr(f"LEAST(y + {h}, {edge - 1})").alias("y_hi"),
        )
        .withColumn("cx", F.expr(f"explode(sequence(x_lo >> {s}, x_hi >> {s}))"))
        .withColumn("cy", F.expr(f"explode(sequence(y_lo >> {s}, y_hi >> {s}))"))
        .withColumn("ck", _cell_key(F.col("cx"), F.col("cy"), edge))
    )
    ix_w = F.least("x_hi_a", "x_hi_b") - F.greatest("x_lo_a", "x_lo_b") + 1
    ix_h = F.least("y_hi_a", "y_hi_b") - F.greatest("y_lo_a", "y_lo_b") + 1
    pairs = (
        keyed_pairs(cells, "ck", "doc_id")
        .filter((ix_w > 0) & (ix_h > 0))
        # PBSM reference point: only the cell holding the intersection's
        # lower-left corner reports the pair (equal ck: cx_a = cx_b)
        .filter(
            (F.shiftright(F.greatest("x_lo_a", "x_lo_b"), s) == F.col("cx_a"))
            & (F.shiftright(F.greatest("y_lo_a", "y_lo_b"), s) == F.col("cy_a"))
        )
    )
    return pairs.select(
        F.col("doc_id_a").alias("rect_a"),
        F.col("doc_id_b").alias("rect_b"),
        (ix_w * ix_h).cast("long").alias("ix_area"),
    )


def rect_self_join_oracle(
    sample_mod: int = 64,
    max_extent: int = 40,
    edge: int = DEFAULT.edge,
    doc_geo_table: str = "doc_geo",
) -> str:
    """DuckDB oracle: identical rectangle derivation, plain quadratic
    self-join (the sampled set is small at oracle scale) with the same
    intersection predicate and tie-break."""
    sel, w, h = _rect_exprs("m", max_extent)
    ix_w = "(LEAST(a.x_hi, b.x_hi) - GREATEST(a.x_lo, b.x_lo) + 1)"
    ix_h = "(LEAST(a.y_hi, b.y_hi) - GREATEST(a.y_lo, b.y_lo) + 1)"
    return f"""mr AS (
  SELECT doc_key, x, y, md5(doc_key) AS m FROM {doc_geo_table}
), rects AS (
  SELECT doc_key, x AS x_lo, y AS y_lo,
         LEAST(x + {w}, {edge - 1}) AS x_hi, LEAST(y + {h}, {edge - 1}) AS y_hi
  FROM mr WHERE ({sel} % {sample_mod}) = 0
)
SELECT a.doc_key AS rect_a, b.doc_key AS rect_b,
       CAST({ix_w} * {ix_h} AS BIGINT) AS ix_area
FROM rects a, rects b
WHERE a.doc_key < b.doc_key
  AND a.x_lo <= b.x_hi AND b.x_lo <= a.x_hi
  AND a.y_lo <= b.y_hi AND b.y_lo <= a.y_hi"""


# ---------------------------------------------------------------------------
# Snap-to-road: nearest axis-aligned road segment (map matching primitive)
# ---------------------------------------------------------------------------


def snap_to_road(
    doc_geo: DataFrame,
    roads: list[tuple[str, int, int, int, int]],
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Map-matching primitive: every doc snapped to its nearest road segment
    — (doc_id, road_id, dist2), deterministic tie-break on road_id.

    Roads are AXIS-ALIGNED segments ``(road_id, ax, ay, bx, by)`` with
    ``ax == bx`` or ``ay == by`` (asserted) — the Manhattan-grid road model.
    Axis-parallel segments make the point-to-segment distance EXACT integer
    arithmetic: projection onto the segment is per-axis clamping, so
    ``dist2 = clamp_dx^2 + clamp_dy^2`` with no division — which is what
    lets the argmin be oracle-checked bit-for-bit (arbitrary-orientation
    segments have rational ``cross^2/len2`` distances whose exact argmin
    needs a cross-multiplied compare that overflows int64; the boolean
    within-radius form of that test is ``corridor_search``).

    Physical plan mirrors ``nearest_join``: the road list folds into a
    LITERAL struct array, the whole operator is one codegen projection
    (``transform`` + ``array_min``) — zero shuffle, zero join,
    embarrassingly partition-parallel.  For large road networks use the
    cell-bucketed broadcast form (``nearest_join_bucketed``'s shape, keyed
    on the cells each segment's inflated bbox covers)."""
    for rid, ax, ay, bx, by in roads:
        if ax != bx and ay != by:
            raise ValueError(f"road {rid} is not axis-aligned")
    structs = ", ".join(
        f"named_struct('xlo', {min(ax, bx)}L, 'xhi', {max(ax, bx)}L, "
        f"'ylo', {min(ay, by)}L, 'yhi', {max(ay, by)}L, 'road_id', '{rid}')"
        for rid, ax, ay, bx, by in roads
    )
    dx = "greatest(r.xlo - x, x - r.xhi, 0L)"
    dy = "greatest(r.ylo - y, y - r.yhi, 0L)"
    best = F.expr(
        f"array_min(transform(array({structs}), r -> named_struct("
        f"'dist2', {dx} * {dx} + {dy} * {dy}, 'road_id', r.road_id)))"
    )
    return doc_geo.withColumn("b", best).select(
        "doc_id",
        F.col("b.road_id").alias("road_id"),
        F.col("b.dist2").alias("dist2"),
    )


def snap_to_road_oracle(
    roads: list[tuple[str, int, int, int, int]], doc_geo_table: str = "doc_geo"
) -> str:
    """DuckDB oracle: the identical clamp arithmetic over a VALUES table
    (BIGINT-cast — bare VALUES are INT32) + window argmin with the same
    (dist2, road_id) tie-break."""
    vals = ", ".join(
        "('{rid}', {v})".format(
            rid=rid,
            v=", ".join(
                f"CAST({v} AS BIGINT)"
                for v in (min(ax, bx), max(ax, bx), min(ay, by), max(ay, by))
            ),
        )
        for rid, ax, ay, bx, by in roads
    )
    dx = "greatest(r.xlo - d.x, d.x - r.xhi, 0)"
    dy = "greatest(r.ylo - d.y, d.y - r.yhi, 0)"
    d2 = f"({dx} * {dx} + {dy} * {dy})"
    return f"""roads(road_id, xlo, xhi, ylo, yhi) AS (VALUES {vals}),
rk AS (
  SELECT d.doc_key AS doc_id, r.road_id, {d2} AS dist2,
         ROW_NUMBER() OVER (PARTITION BY d.doc_key ORDER BY {d2}, r.road_id) AS rn
  FROM {doc_geo_table} d, roads r
)
SELECT doc_id, road_id, dist2 FROM rk WHERE rn = 1"""


def snap_to_road_bucketed(
    doc_geo: DataFrame,
    roads: list[tuple[str, int, int, int, int]],
    radius: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Snap-to-road for LARGE road networks — (doc_id, road_id, dist2),
    nearest axis-aligned segment within ``radius``, tie-break on road_id.

    The cell-bucketed at-scale successor of the literal ``snap_to_road``
    (same pairing as nearest_join -> nearest_join_bucketed): each road's
    radius-inflated bounding box expands driver-side to the grid cells it
    covers (a segment is long and thin, so this is O(length/cell) cells per
    road) and broadcasts; every doc hash-joins on its HOME cell only (zero
    doc-side shuffle, no BNLJ), the exact clamp distance runs as a join
    residual, and the per-doc argmin is a map-side-combinable
    ``min(struct)`` hash aggregation.  The cell expansion is LOSSLESS for
    within-``radius`` semantics at any cell size: a doc within ``radius``
    of a road has its home cell inside the road's inflated bbox.

    EXACT global nearest when the road set covers the domain at ``radius``
    (e.g. ``workload.road_grid`` with ``road_cover_radius``); docs with no
    road within ``radius`` drop (within-radius semantics)."""
    for rid, ax, ay, bx, by in roads:
        if ax != bx and ay != by:
            raise ValueError(f"road {rid} is not axis-aligned")
    s = _cell_shift(radius)
    edge = config.edge
    r2 = radius * radius
    spark = doc_geo.sparkSession
    rows = []
    for rid, ax, ay, bx, by in roads:
        xlo, xhi = min(ax, bx), max(ax, bx)
        ylo, yhi = min(ay, by), max(ay, by)
        for cx in range(max(0, xlo - radius) >> s, (min(edge - 1, xhi + radius) >> s) + 1):
            for cy in range(max(0, ylo - radius) >> s, (min(edge - 1, yhi + radius) >> s) + 1):
                rows.append((rid, xlo, xhi, ylo, yhi, _cell_key(cx, cy, edge)))
    road_df = spark.createDataFrame(
        rows, "road_id string, xlo long, xhi long, ylo long, yhi long, ck long"
    )
    dx = F.greatest(F.col("xlo") - F.col("x"), F.col("x") - F.col("xhi"), F.lit(0))
    dy = F.greatest(F.col("ylo") - F.col("y"), F.col("y") - F.col("yhi"), F.lit(0))
    cand = (
        doc_geo.withColumn("ck", _cell_key(F.shiftright("x", s), F.shiftright("y", s), edge))
        .join(F.broadcast(road_df), "ck")
        .withColumn("dist2", (dx * dx + dy * dy).cast("long"))
        .filter(F.col("dist2") <= r2)
    )
    best = cand.groupBy("doc_id").agg(F.min(F.struct("dist2", "road_id")).alias("b"))
    return best.select(
        "doc_id", F.col("b.road_id").alias("road_id"), F.col("b.dist2").alias("dist2")
    )


def snap_to_road_bucketed_oracle(
    roads: list[tuple[str, int, int, int, int]],
    radius: int,
    doc_geo_table: str = "doc_geo",
) -> str:
    """DuckDB oracle: plain docs x roads within-radius nearest with the same
    clamp arithmetic and (dist2, road_id) tie-break."""
    vals = ", ".join(
        "('{rid}', {v})".format(
            rid=rid,
            v=", ".join(
                f"CAST({v} AS BIGINT)"
                for v in (min(ax, bx), max(ax, bx), min(ay, by), max(ay, by))
            ),
        )
        for rid, ax, ay, bx, by in roads
    )
    dx = "greatest(r.xlo - d.x, d.x - r.xhi, 0)"
    dy = "greatest(r.ylo - d.y, d.y - r.yhi, 0)"
    d2 = f"({dx} * {dx} + {dy} * {dy})"
    return f"""roads(road_id, xlo, xhi, ylo, yhi) AS (VALUES {vals}),
rk AS (
  SELECT d.doc_key AS doc_id, r.road_id, {d2} AS dist2,
         ROW_NUMBER() OVER (PARTITION BY d.doc_key ORDER BY {d2}, r.road_id) AS rn
  FROM {doc_geo_table} d, roads r WHERE {d2} <= {radius * radius}
)
SELECT doc_id, road_id, dist2 FROM rk WHERE rn = 1"""


# ---------------------------------------------------------------------------
# Bulk kNN graph (radius-bounded) — the all-docs neighbor-graph primitive
# ---------------------------------------------------------------------------


def knn_graph(
    doc_geo: DataFrame, k: int, radius: int, config: EngineConfig = DEFAULT
) -> DataFrame:
    """The k-nearest-neighbor graph over EVERY doc, radius-bounded:
    ``(doc_id, rank, nbr_id, dist2)`` — each doc's up-to-``k`` nearest
    neighbors among docs within L2 distance ``radius``, ranked by
    ``(dist2, nbr_id)`` (total order, deterministic).

    This is the bulk form of the reference's per-query kNN
    (`Scheme/RSKQ/RSKQ_Biginteger.java` curve-neighbor search; batched
    variant `operators/knn.py::knn`): the neighbor graph feeding density
    clustering and embedding-dedup pipelines.  Radius-bounding is what
    makes the exact graph affordable at 10^12 docs — candidate pairs come
    from the lossless 9-cell blocked self-join (``distance_self_join``),
    so the work is O(pairs-within-radius), never O(n^2).  Docs with fewer
    than ``k`` in-radius neighbors emit fewer rows (documented semantics:
    the radius is part of the graph definition).

    Plan: adaptive-radius two-pass over the directed blocked join (the
    probe side replicates to the FULL 9-cell neighborhood — not the
    half-neighborhood of the unordered pair join — so each ordered pair
    materializes exactly once; a ``union`` of the two directions of the
    unordered join would execute the join lineage twice, measured 12 s vs
    the single-pass form on the 640k bench corpus).  Pass 1 blocks at
    ``radius // 2``: any doc with >= k neighbors inside the half radius
    has its exact top-k already (its k-th nearest lies within the half
    radius, so no farther candidate can displace it); only the remaining
    docs re-probe at the full radius in pass 2.  Candidate volume scales
    ~quadratically with the blocking radius, so the windowed shuffle
    drops ~4x for the dense majority (measured 41M -> ~11M directed
    candidates at the bench density) — the same reason IVF probes a
    shortlist before the exact re-rank.  Output is bit-identical to the
    single-pass form (same (dist2, nbr_id) total order in both passes)."""
    refine = int(radius) // 2
    if refine < 2 or int(k) <= 0:
        return _knn_graph_single(doc_geo, k, radius, radius, config)
    w = Window.partitionBy("doc_id").orderBy("dist2", "nbr_id")
    near = _directed_in_radius(doc_geo, doc_geo, refine, config)
    topk1 = (
        near.withColumn("rank", F.row_number().over(w))
        .withColumn("n_near", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .filter(F.col("rank") <= k)
        .localCheckpoint(eager=False)  # consumed by the output AND the
        # satisfied-doc derivation below — pin the (tiny, <= k x docs) frame
    )
    done = topk1.filter(F.col("n_near") >= k).select(
        "doc_id", F.col("rank").cast("int").alias("rank"), "nbr_id", "dist2"
    )
    sat_ids = topk1.filter(F.col("n_near") >= k).select("doc_id").distinct()
    unsat = doc_geo.join(sat_ids, "doc_id", "anti")
    rest = _knn_graph_single(unsat, k, radius, radius, config, home=doc_geo)
    return done.unionByName(rest)


def _directed_in_radius(
    probe_geo: DataFrame,
    home_geo: DataFrame,
    radius: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Every ordered (doc_id, nbr_id, dist2) pair with the probe doc's
    neighbor within L2 ``radius`` — the directed 3x3 form of
    :func:`_within_radius`, shared by both :func:`knn_graph` passes."""
    pairs = _within_radius(
        probe_geo.select("doc_id", "x", "y"),
        home_geo.select("doc_id", "x", "y"),
        radius,
        config,
        keep=F.col("doc_id_a") != F.col("doc_id_b"),
    )
    return pairs.select(
        F.col("doc_id_a").alias("doc_id"), F.col("doc_id_b").alias("nbr_id"), "dist2"
    )


def _knn_graph_single(
    probe_geo: DataFrame,
    k: int,
    radius: int,
    block_radius: int,
    config: EngineConfig = DEFAULT,
    home: DataFrame | None = None,
) -> DataFrame:
    """Single-pass radius-bounded top-k: directed blocked join + one
    window per source doc."""
    sym = _directed_in_radius(
        probe_geo, probe_geo if home is None else home, block_radius, config
    )
    w = Window.partitionBy("doc_id").orderBy("dist2", "nbr_id")
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "nbr_id", "dist2")
    )


def knn_graph_oracle(k: int, radius: int, doc_geo_table: str = "doc_geo") -> str:
    """DuckDB oracle: plain quadratic within-radius self-join + identical
    window rank (exact at oracle scale)."""
    d2 = "((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))"
    return f"""sym AS (
  SELECT a.doc_key AS doc_id, b.doc_key AS nbr_id, {d2} AS dist2
  FROM {doc_geo_table} a JOIN {doc_geo_table} b
    ON a.doc_key <> b.doc_key AND {d2} <= {radius * radius}
), rk AS (
  SELECT doc_id, nbr_id, CAST(dist2 AS BIGINT) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist2, nbr_id) AS rank
  FROM sym
)
SELECT doc_id, CAST(rank AS INT) AS rank, nbr_id, dist2 FROM rk
WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# Zonal overlay: area-weighted zone statistics over doc footprints
# ---------------------------------------------------------------------------


def zonal_overlay(
    doc_geo: DataFrame,
    zones: list[tuple[str, int, int, int, int]],
    sample_mod: int = 16,
    max_extent: int = 40,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Area-weighted zonal statistics — the vector-overlay primitive
    (raster resampling / land-use-by-region): each derived doc FOOTPRINT
    rectangle (same md5 derivation as ``rect_self_join``) is intersected
    with every zone rectangle it overlaps, and zones aggregate the EXACT
    integer intersection areas — ``(zone_id, n_rects, area_sum)``.

    Unlike ``zonal_stats`` (point-in-polygon: a doc is in exactly one
    place) this is the partial-containment form: a footprint straddling a
    zone boundary contributes only its overlapping area, and overlapping
    zones each count it.  Plan: the zone list is LITERAL (a broadcast-free
    codegen explode per sampled doc — same shape as ``geofence_counts``),
    one filter, one hash aggregation with map-side combine; never a join.
    Thousands-of-zones workloads switch to the cell-bucketed join form
    (``distance_join`` shape), exactly like the geofence family."""
    edge = config.edge
    m = "md5(CAST(doc_id AS BINARY))"
    sel, w, h = _rect_exprs("m", max_extent)
    zs = ", ".join(
        f"named_struct('zone_id', '{zid}', 'zx_lo', {zxl}L, 'zy_lo', {zyl}L, "
        f"'zx_hi', {zxh}L, 'zy_hi', {zyh}L)"
        for zid, zxl, zyl, zxh, zyh in zones
    )
    rects = (
        doc_geo.withColumn("m", F.expr(m))
        .filter(F.expr(f"({sel} % {sample_mod}) = 0"))
        .select(
            F.col("x").alias("x_lo"),
            F.col("y").alias("y_lo"),
            F.expr(f"LEAST(x + {w}, {edge - 1})").alias("x_hi"),
            F.expr(f"LEAST(y + {h}, {edge - 1})").alias("y_hi"),
        )
    )
    ix_w = F.least("x_hi", "zx_hi") - F.greatest("x_lo", "zx_lo") + 1
    ix_h = F.least("y_hi", "zy_hi") - F.greatest("y_lo", "zy_lo") + 1
    return (
        rects.withColumn("z", F.explode(F.expr(f"array({zs})")))
        .select("x_lo", "y_lo", "x_hi", "y_hi", "z.*")
        .filter((ix_w > 0) & (ix_h > 0))
        .groupBy("zone_id")
        .agg(
            F.count(F.lit(1)).alias("n_rects"),
            F.sum((ix_w * ix_h).cast("long")).cast("long").alias("area_sum"),
        )
    )


def zonal_overlay_oracle(
    zones: list[tuple[str, int, int, int, int]],
    sample_mod: int = 16,
    max_extent: int = 40,
    edge: int = DEFAULT.edge,
    doc_geo_table: str = "doc_geo",
) -> str:
    """DuckDB oracle: identical footprint derivation, VALUES zone list,
    same intersection arithmetic; SUM cast back from HUGEINT."""
    sel, w, h = _rect_exprs("m", max_extent)
    vals = ", ".join(
        f"('{zid}', CAST({zxl} AS BIGINT), CAST({zyl} AS BIGINT), "
        f"CAST({zxh} AS BIGINT), CAST({zyh} AS BIGINT))"
        for zid, zxl, zyl, zxh, zyh in zones
    )
    ix_w = "(LEAST(r.x_hi, z.zx_hi) - GREATEST(r.x_lo, z.zx_lo) + 1)"
    ix_h = "(LEAST(r.y_hi, z.zy_hi) - GREATEST(r.y_lo, z.zy_lo) + 1)"
    return f"""mr AS (
  SELECT doc_key, x, y, md5(doc_key) AS m FROM {doc_geo_table}
), rects AS (
  SELECT x AS x_lo, y AS y_lo,
         LEAST(x + {w}, {edge - 1}) AS x_hi, LEAST(y + {h}, {edge - 1}) AS y_hi
  FROM mr WHERE ({sel} % {sample_mod}) = 0
), zones(zone_id, zx_lo, zy_lo, zx_hi, zy_hi) AS (VALUES {vals})
SELECT z.zone_id, CAST(COUNT(*) AS BIGINT) AS n_rects,
       CAST(SUM({ix_w} * {ix_h}) AS BIGINT) AS area_sum
FROM rects r JOIN zones z
  ON {ix_w} > 0 AND {ix_h} > 0
GROUP BY 1"""


# ---------------------------------------------------------------------------
# Road coverage gaps — the spatial anti-join
# ---------------------------------------------------------------------------


def road_coverage_gaps(
    doc_geo: DataFrame,
    roads: list[tuple[str, int, int, int, int]],
    radius: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Docs with NO road segment within ``radius`` — the spatial ANTI-join
    (coverage-gap / site-selection analysis): ``(doc_id, x, y,
    nearest_dist2)`` with ``nearest_dist2 > radius^2``.

    Same exact integer clamp distance as ``snap_to_road`` (axis-aligned
    segments, asserted); the whole operator is one codegen projection +
    filter over the literal road array — zero shuffle, zero join.  Large
    road networks invert the bucketed form instead: docs LEFT-join the
    broadcast cell->road table and keep the nulls (anti of a covering set
    is empty by construction — the gap query only makes sense for sparse
    networks, which fit the literal path)."""
    for rid, ax, ay, bx, by in roads:
        if ax != bx and ay != by:
            raise ValueError(f"road {rid} is not axis-aligned")
    structs = ", ".join(
        f"named_struct('xlo', {min(ax, bx)}L, 'xhi', {max(ax, bx)}L, "
        f"'ylo', {min(ay, by)}L, 'yhi', {max(ay, by)}L)"
        for _, ax, ay, bx, by in roads
    )
    dx = "greatest(r.xlo - x, x - r.xhi, 0L)"
    dy = "greatest(r.ylo - y, y - r.yhi, 0L)"
    nearest = F.expr(
        f"array_min(transform(array({structs}), r -> {dx} * {dx} + {dy} * {dy}))"
    )
    return (
        doc_geo.withColumn("nearest_dist2", nearest)
        .filter(F.col("nearest_dist2") > radius * radius)
        .select("doc_id", "x", "y", "nearest_dist2")
    )


def road_coverage_gaps_oracle(
    roads: list[tuple[str, int, int, int, int]],
    radius: int,
    doc_geo_table: str = "doc_geo",
) -> str:
    """DuckDB oracle: identical clamp arithmetic, MIN over a VALUES road
    list, HAVING-style gap filter."""
    vals = ", ".join(
        "({v})".format(
            v=", ".join(
                f"CAST({v} AS BIGINT)"
                for v in (min(ax, bx), max(ax, bx), min(ay, by), max(ay, by))
            )
        )
        for _, ax, ay, bx, by in roads
    )
    dx = "greatest(r.xlo - d.x, d.x - r.xhi, 0)"
    dy = "greatest(r.ylo - d.y, d.y - r.yhi, 0)"
    return f"""roads(xlo, xhi, ylo, yhi) AS (VALUES {vals})
SELECT d.doc_key AS doc_id, d.x, d.y,
       MIN({dx} * {dx} + {dy} * {dy}) AS nearest_dist2
FROM {doc_geo_table} d CROSS JOIN roads r
GROUP BY 1, 2, 3
HAVING MIN({dx} * {dx} + {dy} * {dy}) > {radius * radius}"""


def pair_distance_histogram(
    doc_geo: DataFrame, radii: tuple, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Ripley's-K-style pair counts: for each radius in ``radii`` the number
    of unordered doc pairs within L2 distance r — ``(radius, n_pairs,
    cum_pairs)`` where ``cum_pairs`` is the count at <= r and ``n_pairs``
    the annulus count (r_prev, r].  The multi-scale clustering read-out:
    compare ``cum_pairs`` against the CSR expectation to see at which
    scales the corpus clusters (it does, by construction — the
    multi-gaussian hot spots of
    `SpatialDataProcessor/StaticData/DataSetAccess.java:149-162`).

    Exact: squared-integer distances bucketed by CASE against r^2
    thresholds, no sqrt anywhere.  Plan: ONE blocked pair join at the
    LARGEST radius (:func:`distance_self_join` — lossless cell blocking,
    never all-pairs), a codegen CASE bin, a hash agg to |radii| rows, and
    a |radii|-row cumulative window.  Pair volume is the honest cost and
    it is inherent to the statistic; radii choose the working set."""
    from pyspark.sql import Window

    rs = sorted(set(int(r) for r in radii))
    pairs = distance_self_join(doc_geo, rs[-1], config)
    conds = " ".join(f"WHEN dist2 <= {r * r} THEN {r}" for r in rs)
    counts = (
        pairs.withColumn("radius", F.expr(f"CASE {conds} END").cast("long"))
        .groupBy("radius")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    lit_radii = doc_geo.sparkSession.createDataFrame(
        [(r,) for r in rs], "radius long"
    )
    w = Window.orderBy("radius").rowsBetween(Window.unboundedPreceding, 0)
    return (
        lit_radii.join(counts, "radius", "left")
        .withColumn("n_pairs", F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long"))
        .withColumn("cum_pairs", F.sum("n_pairs").over(w).cast("long"))
        .select("radius", "n_pairs", "cum_pairs")
    )


def pair_distance_histogram_oracle(radii: tuple, doc_geo_table: str = "doc_geo") -> str:
    """Appends to a CTE chain defining ``doc_geo``: the 9-offset blocked
    pair join at max(radii) + identical CASE bins + cumulative window."""
    rs = sorted(set(int(r) for r in radii))
    rmax = rs[-1]
    s = _cell_shift(rmax)
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    conds = " ".join(f"WHEN dist2 <= {r * r} THEN {r}" for r in rs)
    vals = ", ".join(f"({r})" for r in rs)
    return f"""pdh_prb AS (
  SELECT doc_key, x, y, (x >> {s}) + dx AS cx, (y >> {s}) + dy AS cy
  FROM {doc_geo_table}, (VALUES {nine}) o(dx, dy)
), pdh_hom AS (
  SELECT doc_key, x, y, x >> {s} AS cx, y >> {s} AS cy FROM {doc_geo_table}
), pdh_pairs AS (
  SELECT (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) AS dist2
  FROM pdh_prb p JOIN pdh_hom h
    ON p.cx = h.cx AND p.cy = h.cy AND p.doc_key < h.doc_key
  WHERE (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) <= {rmax * rmax}
), pdh_counts AS (
  SELECT CAST(CASE {conds} END AS BIGINT) AS radius,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pdh_pairs GROUP BY 1
)
SELECT CAST(r.radius AS BIGINT) AS radius,
       CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(SUM(COALESCE(c.n_pairs, 0)) OVER (ORDER BY r.radius
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
FROM (VALUES {vals}) r(radius) LEFT JOIN pdh_counts c ON r.radius = c.radius"""


def rknn_counts(
    doc_geo: DataFrame,
    pois: list[tuple[str, int, int]],
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Reverse-nearest-neighbor catchment report: for every POI, the size
    and distance profile of the doc set whose NEAREST poi it is —
    ``(poi_id, n_rnn, min_d2, max_d2, mean_d2)`` with ``mean_d2`` the
    integer ``SUM DIV COUNT``; POIs with an empty catchment appear with
    zero counts and NULL distances (a catchment report that silently drops
    starved facilities is wrong).

    The monochromatic RkNN-count primitive (facility catchment / load
    estimation).  Plan: reuses :func:`nearest_join`'s zero-shuffle codegen
    argmin, then ONE hash aggregation on poi_id (|P| groups, map-side
    combine) and a broadcast left join from the |P|-row literal frame —
    nothing after the corpus scan scales with the corpus.  Same >~100-POI
    guidance as nearest_join: beyond literal folding, generate candidates
    with the cell-bucketed ``nearest_join_bucketed`` and keep this
    aggregation unchanged."""
    assigned = nearest_join(doc_geo, pois, config)
    agg = assigned.groupBy("poi_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rnn"),
        F.min("dist2").cast("long").alias("min_d2"),
        F.max("dist2").cast("long").alias("max_d2"),
        F.expr("CAST(SUM(dist2) DIV COUNT(*) AS BIGINT)").alias("mean_d2"),
    )
    structs = ", ".join(f"named_struct('poi_id', '{pid}')" for pid, _, _ in pois)
    all_pois = (
        doc_geo.sparkSession.range(1)
        .select(F.explode(F.expr(f"array({structs})")).alias("p"))
        .select(F.col("p.poi_id").alias("poi_id"))
    )
    return all_pois.join(F.broadcast(agg), "poi_id", "left").select(
        "poi_id",
        F.coalesce("n_rnn", F.lit(0)).cast("long").alias("n_rnn"),
        "min_d2",
        "max_d2",
        "mean_d2",
    )


def rknn_counts_oracle(
    pois: list[tuple[str, int, int]], doc_geo_table: str = "doc_geo"
) -> str:
    """Same argmin (nearest_join_oracle's rk CTE) + LEFT JOIN from the
    VALUES poi table so empty catchments survive."""
    vals = ", ".join(f"('{pid}', {px}, {py})" for pid, px, py in pois)
    d2 = "(d.x - p.px) * (d.x - p.px) + (d.y - p.py) * (d.y - p.py)"
    return f"""poi(poi_id, px, py) AS (VALUES {vals}),
rk AS (
  SELECT d.doc_key AS doc_id, p.poi_id, {d2} AS dist2,
         ROW_NUMBER() OVER (PARTITION BY d.doc_key ORDER BY {d2}, p.poi_id) AS rn
  FROM {doc_geo_table} d, poi p
), agg AS (
  SELECT poi_id, CAST(COUNT(*) AS BIGINT) AS n_rnn,
         CAST(MIN(dist2) AS BIGINT) AS min_d2,
         CAST(MAX(dist2) AS BIGINT) AS max_d2,
         CAST(SUM(dist2) // COUNT(*) AS BIGINT) AS mean_d2
  FROM rk WHERE rn = 1 GROUP BY poi_id
)
SELECT poi.poi_id, CAST(COALESCE(agg.n_rnn, 0) AS BIGINT) AS n_rnn,
       agg.min_d2, agg.max_d2, agg.mean_d2
FROM poi LEFT JOIN agg ON poi.poi_id = agg.poi_id"""


_IDW_VALUE_SQL = "((x * 31 + y * 17) % 1000)"  # deterministic synthetic field


def idw_surface(
    doc_geo: DataFrame,
    grid_shift: int = 8,
    radius: int = 96,
    scale: int = 1_000_000,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Inverse-distance-weighted interpolation raster (Shepard 1968): every
    OCCUPIED grid cell at resolution ``2^grid_shift`` gets an estimate at
    its center from all sample points within ``radius`` —
    ``(cell, n_samples, est)`` with integer weights ``w = scale DIV
    (1 + d2)`` and ``est = SUM(w * v) DIV SUM(w)``; the sample value ``v``
    is the deterministic synthetic field ``_IDW_VALUE_SQL`` (in production
    the value column comes from the data; the field exercises the exact
    arithmetic).  ``scale > radius^2`` is asserted so every in-range
    weight is >= 1 and the denominator can never be zero.

    The terrain / sensor-field interpolation primitive.  Plan: the query
    side is the OCCUPIED-cell aggregate (bounded by cells, tiny next to
    the corpus) exploded over the 9 block offsets at a block size >=
    radius; ONE equi hash join against the block-keyed corpus, a codegen
    distance filter, then a hash agg back to cells.  Overflow: w <= scale,
    v < 1000, so SUM(w*v) <= 1e9 * samples-in-disc — at 10^12-doc scale
    pre-aggregate samples per fine cell first (the documented dial) or
    lower ``scale``."""
    if int(scale) <= int(radius) * int(radius):
        raise ValueError("idw_surface requires scale > radius^2 (weights >= 1)")
    g = int(grid_shift)
    edge = config.edge
    half = 1 << (g - 1) if g > 0 else 0

    centers = (
        doc_geo.select(
            F.shiftright("x", g).alias("gx"), F.shiftright("y", g).alias("gy")
        )
        .distinct()
        .select(
            (F.col("gx") * edge + F.col("gy")).alias("cell"),
            (F.col("gx") * (1 << g) + half).alias("x"),
            (F.col("gy") * (1 << g) + half).alias("y"),
        )
    )
    samples = doc_geo.select("x", "y", F.expr(_IDW_VALUE_SQL).cast("long").alias("v"))
    joined = _within_radius(centers, samples, radius, config)
    w_expr = f"CAST({int(scale)} DIV (1 + dist2) AS BIGINT)"
    return (
        joined.withColumn("w", F.expr(w_expr))
        .groupBy(F.col("cell_a").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.expr("CAST(SUM(w * v_b) DIV SUM(w) AS BIGINT)").alias("est"),
        )
    )


def idw_surface_oracle(
    grid_shift: int = 8,
    radius: int = 96,
    scale: int = 1_000_000,
    doc_geo_table: str = "doc_geo",
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical occupied-cell
    centers, 9-offset block join, weight formula, and FLOOR division."""
    g = int(grid_shift)
    r2 = int(radius) * int(radius)
    b = _cell_shift(int(radius))
    edge = DEFAULT.edge
    half = 1 << (g - 1) if g > 0 else 0
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    d2 = "(c.qx - s.x) * (c.qx - s.x) + (c.qy - s.y) * (c.qy - s.y)"
    return f"""idw_centers AS (
  SELECT DISTINCT (x >> {g}) * {edge} + (y >> {g}) AS cell,
         (x >> {g}) * {1 << g} + {half} AS qx,
         (y >> {g}) * {1 << g} + {half} AS qy
  FROM {doc_geo_table}
), idw_probe AS (
  SELECT cell, qx, qy, ((qx >> {b}) + dx) * {edge} + (qy >> {b}) + dy AS bk
  FROM idw_centers, (VALUES {nine}) o(dx, dy)
), idw_samples AS (
  SELECT x, y, CAST({_IDW_VALUE_SQL} AS BIGINT) AS v,
         (x >> {b}) * {edge} + (y >> {b}) AS bk
  FROM {doc_geo_table}
), idw_w AS (
  SELECT c.cell, CAST({int(scale)} // (1 + {d2}) AS BIGINT) AS w, s.v
  FROM idw_probe c JOIN idw_samples s ON c.bk = s.bk
  WHERE {d2} <= {r2}
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(w * v) // SUM(w) AS BIGINT) AS est
FROM idw_w GROUP BY cell"""


# ---------------------------------------------------------------------------
# Convex hull boundary per region (the footprint/coverage summary)
# ---------------------------------------------------------------------------


def hull_points(
    doc_geo: DataFrame,
    sample_mod: int = 32,
    shift: int = 11,
    group_cap: int = 65536,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Convex-hull boundary extraction per coarse region: over an md5-sampled
    subset of the corpus, emit every sampled document whose lattice point
    lies ON the boundary of its region's convex hull —
    ``(gid, doc_id, x, y)`` with ``gid = (x >> shift) * (edge >> shift) +
    (y >> shift)``.

    Definition (exact, degenerate-safe): a point ``p`` is *boundary* iff
    some other sampled point ``q`` in the region has different coordinates
    and every region point ``r`` satisfies ``cross(q - p, r - p) >= 0`` —
    i.e. a closed halfplane through ``p`` contains the whole region.  This
    includes collinear points ON hull edges; a region whose points share one
    coordinate has no boundary (no witness ``q`` exists), and a fully
    collinear region is all-boundary.  All arithmetic is int64 cross
    products on the 2^12 lattice (|cross| < 2^25) — overflow-free and
    bit-identical in the oracle, which applies the definition literally as
    a NOT EXISTS over an O(n^3) triple join.

    Physical plan: codegen md5 sample filter (1-in-``sample_mod`` — pushed
    into the scan) → ONE hash shuffle on ``gid`` → one Arrow grouped-map
    task per region running Andrew's monotone chain over the DISTINCT
    coordinates (O(n log n)), then classifying every sampled point by exact
    on-hull-edge tests against the ``h`` hull edges (O(n·h) vectorized
    numpy).  Python cost is per *region sample*, never per corpus row;
    ``group_cap`` asserts the sampled-region bound that keeps the Arrow
    task sized (at 100 TB you raise ``sample_mod``, not the cap).

    Reference parity: the reference renders query regions as pixel boxes
    (`SpatialDataProcessor/HilbertCurveRenderer.java:21-112`) and has no
    vector summarization; this is the footprint operator its tile matrices
    would need for reporting coverage outlines.
    """
    from .dedup import _hex_to_long_sql

    m_cells = config.edge >> shift
    sel = _hex_to_long_sql("md5(doc_id)", 1, 8)
    sampled = doc_geo.filter(F.expr(f"({sel}) % {int(sample_mod)} = 0")).select(
        (
            F.shiftright("x", shift) * m_cells + F.shiftright("y", shift)
        ).alias("gid"),
        "doc_id",
        "x",
        "y",
    )
    cap = int(group_cap)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "gid": np.array([], np.int64),
                "doc_id": np.array([], object),
                "x": np.array([], np.int64),
                "y": np.array([], np.int64),
            }
        )
        n = len(pdf)
        if n == 0:
            return empty
        if n > cap:
            raise ValueError(
                f"hull_points region sample {n} exceeds cap {cap}: raise sample_mod"
            )
        xs = pdf["x"].to_numpy(np.int64)
        ys = pdf["y"].to_numpy(np.int64)
        coords = np.unique(np.stack([xs, ys], axis=1), axis=0)
        if len(coords) < 2:
            return empty
        # Andrew's monotone chain, STRICT turns (hull vertices only) —
        # boundary membership is then the exact on-edge test below, which
        # re-admits collinear edge points.
        pts = coords  # already lexicographically sorted by np.unique

        def chain(seq):
            out = []
            for p in seq:
                while len(out) >= 2:
                    ox, oy = out[-2]
                    ax, ay = out[-1]
                    if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0:
                        out.pop()
                    else:
                        break
                out.append((int(p[0]), int(p[1])))
            return out

        lower = chain(pts)
        upper = chain(pts[::-1])
        hull = lower[:-1] + upper[:-1]
        if len(hull) < 2:  # all points collinear: hull is the 2 endpoints
            lo, hi = pts[0], pts[-1]
            hull = [(int(lo[0]), int(lo[1])), (int(hi[0]), int(hi[1]))]
        hv = np.array(hull, dtype=np.int64)
        a = hv
        b = np.roll(hv, -1, axis=0)
        # on-segment test for every sampled point against every hull edge:
        # cross == 0 AND within the edge bbox
        px = xs[:, None]
        py = ys[:, None]
        cross = (b[None, :, 0] - a[None, :, 0]) * (py - a[None, :, 1]) - (
            b[None, :, 1] - a[None, :, 1]
        ) * (px - a[None, :, 0])
        inx = (px >= np.minimum(a[None, :, 0], b[None, :, 0])) & (
            px <= np.maximum(a[None, :, 0], b[None, :, 0])
        )
        iny = (py >= np.minimum(a[None, :, 1], b[None, :, 1])) & (
            py <= np.maximum(a[None, :, 1], b[None, :, 1])
        )
        on_boundary = ((cross == 0) & inx & iny).any(axis=1)
        keep = pdf[on_boundary]
        return pd.DataFrame(
            {
                "gid": keep["gid"].to_numpy(np.int64),
                "doc_id": keep["doc_id"].to_numpy(object),
                "x": keep["x"].to_numpy(np.int64),
                "y": keep["y"].to_numpy(np.int64),
            }
        )

    return sampled.groupBy("gid").applyInPandas(
        fn, "gid long, doc_id string, x long, y long"
    )


def hull_points_oracle(
    sample_mod: int = 32,
    shift: int = 11,
    config: EngineConfig = DEFAULT,
    doc_geo_table: str = "doc_geo",
) -> str:
    """Appends to a chain defining ``doc_geo``: the halfplane definition
    applied literally — ``p`` is boundary iff EXISTS ``q`` (different
    coords) with NOT EXISTS ``r`` strictly right of ``(p, q)``."""
    from .dedup import _hex_to_long_sql

    m_cells = config.edge >> int(shift)
    s = int(shift)
    sel = _hex_to_long_sql("md5(doc_key)", 1, 8)
    cross = "(q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x)"
    return f"""hp AS (
  SELECT (x >> {s}) * {m_cells} + (y >> {s}) AS gid, doc_key AS doc_id, x, y
  FROM {doc_geo_table} WHERE ({sel}) % {int(sample_mod)} = 0
)
SELECT DISTINCT p.gid, p.doc_id, p.x, p.y
FROM hp p JOIN hp q
  ON q.gid = p.gid AND (q.x <> p.x OR q.y <> p.y)
WHERE NOT EXISTS (
  SELECT 1 FROM hp r WHERE r.gid = p.gid AND {cross} < 0
)"""


def convex_layers(
    doc_geo: DataFrame,
    n_layers: int = 3,
    sample_mod: int = 32,
    shift: int = 11,
    group_cap: int = 65536,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Convex LAYERS (onion peeling, Chazelle 1985) per coarse region:
    layer 1 is the region's hull boundary (:func:`hull_points` semantics,
    collinear edge points included), layer 2 the hull boundary of what
    remains after peeling layer 1, and so on for ``n_layers`` —
    ``(gid, doc_id, x, y, layer)``; points deeper than ``n_layers`` are
    omitted.  Layer index is the classic depth/outlyingness measure
    (points on outer layers are spatial outliers; deep layers are the
    core) — the multi-level generalization of the single hull.

    Exactness: each peel applies the same halfplane boundary definition as
    :func:`hull_points` to the REMAINING point multiset; duplicates of a
    boundary coordinate peel together.  The oracle unrolls the peels
    literally (``n_layers`` rounds of the O(n^3) NOT EXISTS).

    Physical plan: identical to ``hull_points`` — pushed md5 sample filter,
    ONE gid shuffle, one Arrow task per region running ``n_layers`` rounds
    of monotone chain + exact on-edge classification over the residual
    coordinate set (O(L·n log n + L·n·h))."""
    from .dedup import _hex_to_long_sql

    m_cells = config.edge >> shift
    sel = _hex_to_long_sql("md5(doc_id)", 1, 8)
    sampled = doc_geo.filter(F.expr(f"({sel}) % {int(sample_mod)} = 0")).select(
        (
            F.shiftright("x", shift) * m_cells + F.shiftright("y", shift)
        ).alias("gid"),
        "doc_id",
        "x",
        "y",
    )
    cap = int(group_cap)
    n_l = int(n_layers)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        def empty():
            return pd.DataFrame(
                {
                    "gid": np.array([], np.int64),
                    "doc_id": np.array([], object),
                    "x": np.array([], np.int64),
                    "y": np.array([], np.int64),
                    "layer": np.array([], np.int64),
                }
            )

        if len(pdf) == 0:
            return empty()
        if len(pdf) > cap:
            raise ValueError(
                f"convex_layers region sample {len(pdf)} exceeds cap {cap}"
            )

        def boundary_mask(xs, ys):
            coords = np.unique(np.stack([xs, ys], axis=1), axis=0)
            if len(coords) < 2:
                return np.zeros(len(xs), dtype=bool)
            pts = coords

            def chain(seq):
                out = []
                for p in seq:
                    while len(out) >= 2:
                        ox, oy = out[-2]
                        ax, ay = out[-1]
                        if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0:
                            out.pop()
                        else:
                            break
                    out.append((int(p[0]), int(p[1])))
                return out

            lower = chain(pts)
            upper = chain(pts[::-1])
            hull = lower[:-1] + upper[:-1]
            if len(hull) < 2:
                lo, hi = pts[0], pts[-1]
                hull = [(int(lo[0]), int(lo[1])), (int(hi[0]), int(hi[1]))]
            hv = np.array(hull, dtype=np.int64)
            a, b = hv, np.roll(hv, -1, axis=0)
            px, py = xs[:, None], ys[:, None]
            cross = (b[None, :, 0] - a[None, :, 0]) * (py - a[None, :, 1]) - (
                b[None, :, 1] - a[None, :, 1]
            ) * (px - a[None, :, 0])
            inx = (px >= np.minimum(a[None, :, 0], b[None, :, 0])) & (
                px <= np.maximum(a[None, :, 0], b[None, :, 0])
            )
            iny = (py >= np.minimum(a[None, :, 1], b[None, :, 1])) & (
                py <= np.maximum(a[None, :, 1], b[None, :, 1])
            )
            return ((cross == 0) & inx & iny).any(axis=1)

        xs = pdf["x"].to_numpy(np.int64)
        ys = pdf["y"].to_numpy(np.int64)
        layer = np.zeros(len(pdf), dtype=np.int64)
        remaining = np.ones(len(pdf), dtype=bool)
        for li in range(1, n_l + 1):
            if not remaining.any():
                break
            mask = boundary_mask(xs[remaining], ys[remaining])
            idx = np.nonzero(remaining)[0][mask]
            layer[idx] = li
            remaining[idx] = False
        keep = layer > 0
        out = pdf[keep]
        return pd.DataFrame(
            {
                "gid": out["gid"].to_numpy(np.int64),
                "doc_id": out["doc_id"].to_numpy(object),
                "x": out["x"].to_numpy(np.int64),
                "y": out["y"].to_numpy(np.int64),
                "layer": layer[keep],
            }
        )

    return sampled.groupBy("gid").applyInPandas(
        fn, "gid long, doc_id string, x long, y long, layer long"
    )


def convex_layers_oracle(
    n_layers: int = 3,
    sample_mod: int = 32,
    shift: int = 11,
    config: EngineConfig = DEFAULT,
    doc_geo_table: str = "doc_geo",
) -> str:
    """Appends to a chain defining ``doc_geo``: the peels unrolled — layer
    K's boundary test runs over the points NOT in layers 1..K-1."""
    from .dedup import _hex_to_long_sql

    m_cells = config.edge >> int(shift)
    s = int(shift)
    sel = _hex_to_long_sql("md5(doc_key)", 1, 8)
    cross = "(q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x)"
    parts = [
        f"""cl0 AS (
  SELECT (x >> {s}) * {m_cells} + (y >> {s}) AS gid, doc_key AS doc_id, x, y
  FROM {doc_geo_table} WHERE ({sel}) % {int(sample_mod)} = 0
)"""
    ]
    for li in range(1, int(n_layers) + 1):
        prev = f"cl{li - 1}"
        parts.append(
            f"""clb{li} AS (
  SELECT DISTINCT p.gid, p.doc_id, p.x, p.y
  FROM {prev} p JOIN {prev} q
    ON q.gid = p.gid AND (q.x <> p.x OR q.y <> p.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev} r WHERE r.gid = p.gid AND {cross} < 0
  )
), cl{li} AS (
  SELECT c.* FROM {prev} c
  WHERE NOT EXISTS (
    SELECT 1 FROM clb{li} b WHERE b.gid = c.gid AND b.doc_id = c.doc_id
  )
)"""
        )
    arms = " UNION ALL ".join(
        f"SELECT gid, doc_id, x, y, CAST({li} AS BIGINT) AS layer FROM clb{li}"
        for li in range(1, int(n_layers) + 1)
    )
    return ",\n".join(parts) + "\n" + arms


def doc_event_join(
    doc_geo: DataFrame,
    events: DataFrame,
    radius: int = 64,
    event_mod: int = 8,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """CROSS-DATASET spatial join — the corpus against the event stream:
    for every 1-in-``event_mod`` sampled event, the number of documents
    within ``radius`` (exact integer ``dist2 <= r^2``) of the event's
    derived location — ``(event_id, event_type, n_docs)``, sampled events
    with an empty neighborhood included with ``n_docs = 0``.  This is the
    two-table form of the engine's spatial joins (every other join pairs a
    table with itself or with literals): the "what's around this event"
    enrichment a location-intelligence pipeline runs between its fact
    tables.

    Physical plan: the EVENT side (the smaller table after sampling)
    explodes to the 9-cell neighborhood of its ``2^b``-cell (``2^b >=
    radius`` — lossless: any point within radius lies in one of the 9)
    and equi-joins the corpus on the cell key — a plain shuffled hash join
    the AQE skew handling backstops; the dist2 residual is codegen; a
    LEFT join back to the sampled events restores zero-neighbor rows.
    One corpus-side shuffle on the cell key, which a cell-bucketed stored
    layout makes shuffle-free.

    Reference parity: the reference's per-query proximity scans
    (`hilbert/HilbertComponent/GetPointIndex.java:59-93`) generalized to a
    set-at-a-time two-table join."""
    from .events import event_points

    ev = event_points(events.filter(F.col("event_id") % int(event_mod) == 0)).select(
        "event_id", "event_type", F.col("ex").alias("x"), F.col("ey").alias("y")
    )
    counts = (
        _within_radius(ev.select("event_id", "x", "y"), doc_geo.select("x", "y"), radius, config)
        .groupBy(F.col("event_id_a").alias("event_id"))
        .agg(F.count("*").alias("nd"))
    )
    return ev.join(counts, "event_id", "left").select(
        "event_id",
        "event_type",
        F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("n_docs"),
    )


def doc_event_join_oracle(
    radius: int = 64,
    event_mod: int = 8,
    events_table: str = "events",
    doc_geo_table: str = "doc_geo",
) -> str:
    """Appends to a chain defining ``doc_geo``: identical event sampling +
    coordinate derivation, quadratic distance predicate (the sampled set is
    small at oracle scale), LEFT join restoring zero-neighbor events."""
    from ..sources import derive

    r2 = int(radius) * int(radius)
    return f"""dej_ev AS (
  SELECT event_id, event_type,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {events_table} WHERE event_id % {int(event_mod)} = 0
), dej_cnt AS (
  SELECT e.event_id, COUNT(*) AS nd
  FROM dej_ev e JOIN {doc_geo_table} d
    ON (d.x - e.ex) * (d.x - e.ex) + (d.y - e.ey) * (d.y - e.ey) <= {r2}
  GROUP BY e.event_id
)
SELECT e.event_id, e.event_type,
       CAST(COALESCE(c.nd, 0) AS BIGINT) AS n_docs
FROM dej_ev e LEFT JOIN dej_cnt c ON c.event_id = e.event_id"""
