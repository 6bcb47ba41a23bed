"""Tile <-> vector assignment (reference S14).

* ``tile_cells`` rasterizes tile windows into per-cell Hilbert indices —
  the reference's ``generateHilbertMatrix``
  (`Experiment/TestByUserInput/BRQComparisonInput.java:13-23`), distributed:
  one row per (tile, cell), generated with native ``sequence``/``explode``
  and encoded by the codegen ``curve.hilbert_native.with_hilbert``.
* ``tile_assignment`` maps documents to the tiles whose window contains
  them.  Physical plan: each tile compiles (driver-side) to a budgeted
  Hilbert range cover; ``range_query.shape_probe`` filters the scan by the
  union of all tile covers (row-group pruning on Hilbert-sorted storage)
  and tags each surviving doc with every tile whose exact window holds it
  — no join, no broadcast table, no shuffle.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..curve.cover import cover_box
from ..curve.hilbert_native import with_hilbert
from .skew import grid_keys, salted_cell_counts

TileSpec = dict  # {tile_id, x_start, y_start, width, height}


def tile_cells(spark: SparkSession, tiles: list[TileSpec], config: EngineConfig = DEFAULT) -> DataFrame:
    """(tile_id, cx, cy, hilbert) for every cell of every tile window."""
    tdf = spark.createDataFrame(
        [(t["tile_id"], t["x_start"], t["y_start"], t["width"], t["height"]) for t in tiles],
        "tile_id string, x_start long, y_start long, width int, height int",
    )
    cells = (
        tdf.select(
            "tile_id",
            F.explode(F.expr("sequence(x_start, x_start + width - 1)")).alias("cx"),
            "y_start",
            "height",
        )
        .select(
            "tile_id",
            "cx",
            F.explode(F.expr("sequence(y_start, y_start + height - 1)")).alias("cy"),
        )
    )
    return with_hilbert(cells, config.order, "cx", "cy")


def tile_assignment(
    doc_geo: DataFrame,
    tiles: list[TileSpec],
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """(tile_id, doc_id) for every doc inside a tile window.

    Driver compiles per-tile covers; :func:`..range_query.shape_probe`
    filters the scan by their union and tags each doc with every tile whose
    exact window holds it.  A repeated ``tile_id`` is ONE shape — its
    windows' ranges, the OR of their windows — so each (tile_id, doc) is
    emitted once, as the ``SELECT DISTINCT`` oracle wants, with no shuffle.
    """
    from .range_query import box_residual, shape_probe, shape_value

    windows: dict[str, list] = {}
    for t in tiles:
        x_lo, y_lo = t["x_start"], t["y_start"]
        x_hi, y_hi = x_lo + t["width"] - 1, y_lo + t["height"] - 1
        cov = cover_box(x_lo, x_hi, y_lo, y_hi, config.order, config.max_ranges)
        windows.setdefault(t["tile_id"], []).append(cov)
    shapes = [
        ([r for c in covs for r in c.ranges],
         functools.reduce(operator.or_, map(box_residual, covs)))
        for covs in windows.values()
    ]
    tile_id = shape_value(list(windows), "string")
    return shape_probe(doc_geo, shapes, config).select(tile_id.alias("tile_id"), "doc_id")


def hilbert_sql_cte(order: int, cells_sql: str, pre_ctes: str = "") -> str:
    """DuckDB recursive-CTE computing Hilbert indices for a cell set — an
    *independent* formulation (the classic xy2d iteration) that provably
    equals the Skilling transform in 2-D (tests/test_hilbert.py golden +
    exhaustive order-3 check).  ``cells_sql`` must yield columns (cx, cy)
    and may carry extra grouping columns (forwarded via cx/cy join)."""
    s0 = 1 << (order - 1)
    return f"""
WITH RECURSIVE {pre_ctes}cells AS ({cells_sql}), it AS (
  SELECT cx, cy, cx AS hx, cy AS hy, CAST({s0} AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
  FROM (SELECT DISTINCT cx, cy FROM cells)
  UNION ALL
  SELECT cx, cy,
    CASE WHEN (hy & s) = 0 THEN (CASE WHEN (hx & s) > 0 THEN s - 1 - hy ELSE hy END) ELSE hx END,
    CASE WHEN (hy & s) = 0 THEN (CASE WHEN (hx & s) > 0 THEN s - 1 - hx ELSE hx END) ELSE hy END,
    s // 2,
    d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                    (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END))
  FROM it WHERE s > 0
), hv AS (SELECT cx, cy, d AS hilbert FROM it WHERE s = 0)
"""


def compact_cells(
    doc_geo: DataFrame,
    min_docs: int = 1,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Hierarchical cell-set COMPACTION (the ``compactCells`` operator of
    the public H3 API, uber/h3 `compactCells`): the dense cell set at grid
    level 0 (``2^shift`` lattice cells, ``n_docs >= min_docs``) is
    re-expressed as the MINIMAL multi-resolution set — any four complete
    sibling cells collapse into their parent, recursively up to the 1x1
    root — ``(level, cx, cy)`` with level 0 the finest.  Exact and unique:
    a parent appears iff its entire 4^level descendant block is dense, and
    a cell appears iff it is complete but its parent is not, so the output
    partitions the dense set.

    Physical plan: ONE salted corpus scan builds the histogram; everything
    after is ``log2(M)`` tiny hash aggregations (complete-parent =
    ``groupBy(parent) HAVING COUNT(*) = 4`` over the previous level's
    complete set, each frame <= M^2/4^level rows) plus per-level
    anti-joins — a bounded driver loop over broadcast-sized frames, the
    standard compaction pass a tile server runs after ingest.

    Reference parity: the reference enumerates covers cell-by-cell
    (`hilbert/HilbertComponent/BoxUtil.java`); compaction is the
    multi-resolution representation its tile pyramid implies."""
    s = int(shift)
    m = config.edge >> s
    levels = m.bit_length() - 1  # m = 2^levels
    hist = (
        salted_cell_counts(doc_geo, config, grid_keys(s))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("gx", "gy")
    )
    complete = [hist]
    for _ in range(levels):
        nxt = (
            complete[-1]
            .groupBy(
                F.shiftright("gx", 1).alias("gx"),
                F.shiftright("gy", 1).alias("gy"),
            )
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") == 4)
            .select("gx", "gy")
        )
        complete.append(nxt)
    outs = []
    for lv in range(levels + 1):
        cur = complete[lv]
        if lv < levels:
            parents = complete[lv + 1].select(
                F.col("gx").alias("pgx"), F.col("gy").alias("pgy")
            )
            cur = cur.join(
                parents,
                (F.shiftright(F.col("gx"), 1) == F.col("pgx"))
                & (F.shiftright(F.col("gy"), 1) == F.col("pgy")),
                "left_anti",
            )
        outs.append(
            cur.select(
                F.lit(lv).cast("long").alias("level"),
                F.col("gx").cast("long").alias("cx"),
                F.col("gy").cast("long").alias("cy"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def compact_cells_oracle(
    min_docs: int = 1, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a chain defining ``doc_geo``: the same bottom-up
    complete-parent levels unrolled, then per-level anti-joins."""
    s = int(shift)
    m = config.edge >> s
    levels = m.bit_length() - 1
    parts = [
        f"""cc_l0 AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy
  FROM doc_geo GROUP BY 1, 2 HAVING COUNT(*) >= {int(min_docs)}
)"""
    ]
    for lv in range(1, levels + 1):
        parts.append(
            f"""cc_l{lv} AS (
  SELECT gx >> 1 AS gx, gy >> 1 AS gy
  FROM cc_l{lv - 1} GROUP BY gx >> 1, gy >> 1 HAVING COUNT(*) = 4
)"""
        )
    arms = []
    for lv in range(levels + 1):
        if lv < levels:
            arms.append(
                f"SELECT CAST({lv} AS BIGINT) AS level, CAST(c.gx AS BIGINT) AS cx, "
                f"CAST(c.gy AS BIGINT) AS cy FROM cc_l{lv} c "
                f"WHERE NOT EXISTS (SELECT 1 FROM cc_l{lv + 1} p "
                f"WHERE p.gx = c.gx >> 1 AND p.gy = c.gy >> 1)"
            )
        else:
            arms.append(
                f"SELECT CAST({lv} AS BIGINT), CAST(gx AS BIGINT), "
                f"CAST(gy AS BIGINT) FROM cc_l{lv}"
            )
    return ",\n".join(parts) + "\n" + " UNION ALL ".join(arms)
