"""Adaptive (occupancy-capped) quadtree tiling over the corpus grid.

The reference renders FIXED-window tile matrices
(`Experiment/TestByUserInput/BRQComparisonInput.generateHilbertMatrix:13-23`,
reference); a map/tiling service over a skewed 100 TB corpus instead wants
ADAPTIVE tiles: split any quad whose occupancy exceeds a cap, keep sparse
regions coarse.  The result is the classic quadtree tiling (also the
load-balanced partitioning grid used by spatial shuffle planners).

Non-iterative formulation — the key design point.  The textbook algorithm
is a driver loop (split overflowing cells until done); over the cell
PYRAMID it collapses into one declarative plan, because occupancy is
monotone up the hierarchy (a cell's count <= its parent's):

    leaf(l, c)  <=>  (count(c) <= cap  OR  l = 0)        -- fits, or finest
                 AND (l = L-1        OR  count(parent(c)) > cap)

Every doc lies under exactly one leaf: walking its ancestor chain downward
from the root, counts only shrink, so the predicate flips exactly once
(pinned by `tests/test_adaptive.py::test_leaves_partition_corpus`).

Physical plan: ONE corpus scan builds the base histogram (salted two-phase
aggregation — gaussian hot cells), the pyramid is a native explode of that
TINY histogram, the leaf filter is a self-join between two histogram-sized
sides (AQE broadcasts), and assignment joins the corpus against a
BROADCAST base-cell->leaf lookup — the corpus is scanned once per op and
never exploded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .skew import grid_keys, salted_cell_counts


def _grid_pyramid(
    doc_geo: DataFrame, shift: int, levels: int, config: EngineConfig
) -> DataFrame:
    """(level, qx, qy, n_docs) for level 0 (finest, cell edge ``2^shift``)
    .. levels-1 (coarsest): one salted corpus scan + native ancestor
    explode of the histogram (same shape as ``rollup.cell_pyramid``)."""
    base = salted_cell_counts(doc_geo, config, grid_keys(shift)).withColumnRenamed(
        "n_docs", "n"
    )
    ancestors = (
        f"transform(sequence(0, {levels - 1}), l -> named_struct("
        f"'level', CAST(l AS INT), 'qx', shiftright(gx, l), 'qy', shiftright(gy, l)))"
    )
    return (
        base.select(F.explode(F.expr(ancestors)).alias("e"), "n")
        .groupBy("e.level", "e.qx", "e.qy")
        .agg(F.sum("n").alias("n_docs"))
    )


def adaptive_cells(
    doc_geo: DataFrame,
    cap: int,
    shift: int = 4,
    levels: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Nonempty quadtree leaves ``(level, qx, qy, n_docs)``: the unique
    antichain where every leaf holds <= ``cap`` docs (or is a finest-level
    cell) and every proper ancestor overflows the cap.

    ``level`` counts up from the finest grid (cell edge ``2^shift``); a
    leaf at level ``l`` covers the square ``[qx << (shift+l), (qx+1) <<
    (shift+l))`` x same in y.  Only nonempty leaves are returned (an empty
    quad has no docs to tile)."""
    pyr = _grid_pyramid(doc_geo, shift, levels, config)
    par = pyr.select(
        F.col("level").alias("plevel"),
        F.col("qx").alias("pqx"),
        F.col("qy").alias("pqy"),
        F.col("n_docs").alias("pn"),
    ).filter(F.col("plevel") >= 1)
    j = pyr.join(
        par,
        (pyr["level"] + 1 == par["plevel"])
        & (F.shiftright(pyr["qx"], 1) == par["pqx"])
        & (F.shiftright(pyr["qy"], 1) == par["pqy"]),
        "left",
    )
    fits = (F.col("n_docs") <= cap) | (F.col("level") == 0)
    parent_overflows = (F.col("level") == levels - 1) | (F.col("pn") > cap)
    return j.filter(fits & parent_overflows).select("level", "qx", "qy", "n_docs")


def _oracle_ctes(cap: int, shift: int, levels: int) -> tuple[str, str]:
    """(CTE chain defining base/pyr, leaf SELECT body) — shared by both
    oracles so the leaf predicate is written once."""
    per_level = " UNION ALL ".join(
        f"SELECT CAST({lvl} AS INT) AS level, gx >> {lvl} AS qx, gy >> {lvl} AS qy, "
        f"CAST(SUM(n) AS BIGINT) AS n_docs FROM base GROUP BY 1, 2, 3"
        for lvl in range(levels)
    )
    ctes = f"""base AS (
  SELECT x >> {shift} AS gx, y >> {shift} AS gy, COUNT(*) AS n
  FROM doc_geo GROUP BY 1, 2
), pyr AS ({per_level})"""
    leaf_body = f"""SELECT c.level, c.qx, c.qy, c.n_docs
FROM pyr c LEFT JOIN pyr p
  ON p.level = c.level + 1 AND p.qx = c.qx >> 1 AND p.qy = c.qy >> 1
WHERE (c.n_docs <= {cap} OR c.level = 0)
  AND (c.level = {levels - 1} OR p.n_docs > {cap})"""
    return ctes, leaf_body


def adaptive_cells_oracle(cap: int, shift: int = 4, levels: int = 6) -> str:
    """DuckDB oracle appended to a CTE chain defining ``doc_geo`` (x, y):
    identical per-level histogram + parent-overflow filter.  SUMs are
    BIGINT-cast (HUGEINT drift lesson)."""
    ctes, leaf_body = _oracle_ctes(cap, shift, levels)
    return f"{ctes}\n{leaf_body}"


def adaptive_assign(
    doc_geo: DataFrame,
    cap: int,
    shift: int = 4,
    levels: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Assign every doc its quadtree leaf: ``(doc_id, level, qx, qy)``.

    The leaf set expands (native ``sequence`` explode) to a base-cell ->
    leaf lookup — bounded by the base-grid size, NOT the corpus — which
    broadcasts; the corpus then joins ONCE on its base cell.  No corpus
    explode, no shuffle of the big side beyond the hash probe."""
    leaves = adaptive_cells(doc_geo, cap, shift, levels, config)
    lookup = (
        leaves.withColumn(
            "bgx", F.expr("explode(sequence(qx << level, ((qx + 1) << level) - 1))")
        )
        .withColumn(
            "bgy", F.expr("explode(sequence(qy << level, ((qy + 1) << level) - 1))")
        )
        .select("bgx", "bgy", "level", "qx", "qy")
    )
    return (
        doc_geo.select(
            "doc_id",
            F.shiftright("x", shift).alias("bgx"),
            F.shiftright("y", shift).alias("bgy"),
        )
        .join(F.broadcast(lookup), ["bgx", "bgy"])
        .select("doc_id", "level", "qx", "qy")
    )


def adaptive_assign_oracle(cap: int, shift: int = 4, levels: int = 6) -> str:
    """DuckDB oracle: the leaf antichain joined by ancestor equality —
    each doc matches exactly one leaf (antichain property)."""
    ctes, leaf_body = _oracle_ctes(cap, shift, levels)
    return f"""{ctes}, leaves AS (
{leaf_body}
)
SELECT d.doc_key AS doc_id, l.level, l.qx, l.qy
FROM doc_geo d JOIN leaves l
  ON ((d.x >> {shift}) >> l.level) = l.qx
 AND ((d.y >> {shift}) >> l.level) = l.qy"""
