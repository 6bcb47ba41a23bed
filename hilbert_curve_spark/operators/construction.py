"""Per-axis binary-tree range cover baseline (reference S16 —
``Scheme/Construction/ConstructionOne.java:330-384`` ``findMinimumCover``,
search driver ``:478-543``; compared against the Hilbert path by
``Experiment/Comparison/FixRangeCompareToConstructionOne.java``).

The reference builds a perfect binary tree over each axis domain and
answers a rectangle query as

    (union of x-subtree postings)  AND  (union of y-subtree postings)

where each union ranges over the *minimal node cover* of the axis interval.
The Spark isomorphism: the minimal node cover of ``[lo, hi]`` is the greedy
aligned-dyadic decomposition (every tree node spans an aligned power-of-two
block), each node is an OR'd ``BETWEEN`` on the axis column, and the bitmap
AND is a semi join between the two axis result sets.  Result sets equal the
plain box filter exactly (verified by the driver oracle), which is why
SURVEY §2.1 treats S16 as subsumed by the Hilbert path — this module
closes the §2 checklist with the reference's own plan shape.

Scale note: each axis predicate is a literal OR-of-BETWEEN (<= 2*order
terms) pushed to the scan; the AND is a semi join on doc_id.  On storage
sorted by one axis the x-side is pruned; the Hilbert path (S8) remains the
recommended plan because it prunes on BOTH axes at once — the reference's
experiments reach the same conclusion.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..curve.bpc import bpc_cover_of_ranges, prefix_to_range


def dyadic_cover(lo: int, hi: int, order: int) -> list[tuple[int, int]]:
    """Minimal aligned power-of-two interval cover of ``[lo, hi]`` within
    ``[0, 2**order)`` — the node set ``findMinimumCover`` selects from the
    axis tree: the BPC of the interval over ``order`` bits (<= 2*order
    intervals; disjoint prefixes sort in ascending interval order)."""
    if not (0 <= lo <= hi < (1 << order)):
        raise ValueError("interval out of axis domain")
    return [prefix_to_range(p) for p in bpc_cover_of_ranges([(lo, hi)], order)]


def _axis_predicate(col: str, cover: list[tuple[int, int]]) -> F.Column:
    terms = [F.col(col).between(lo, hi) for lo, hi in cover]
    return functools.reduce(operator.or_, terms)


def construction_grq(
    doc_geo: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Rectangle query via the per-axis tree-cover plan: OR-of-BETWEEN per
    axis (each interval one tree node), intersected with a semi join —
    the reference's bitmap-AND (``ConstructionOne.java:478-543``)."""
    xc = dyadic_cover(x_lo, x_hi, config.order)
    yc = dyadic_cover(y_lo, y_hi, config.order)
    xs = doc_geo.filter(_axis_predicate("x", xc))
    ys = doc_geo.filter(_axis_predicate("y", yc)).select("doc_id")
    return xs.join(ys, "doc_id", "semi").select("doc_id", "x", "y")


# ---------------------------------------------------------------------------
# ConstructionTwo: the updatable per-axis scheme (point moves + counters)
# ---------------------------------------------------------------------------
#
# ``Scheme/Construction/ConstructionTwo.java`` is ConstructionOne plus an
# update protocol: ``clientUpdate(Pi, Pi')`` moves a point to new
# coordinates, bumping the per-axis update counters C / C' only for the
# axes that actually changed (`ConstructionTwo.java:639-661`), and the
# server re-aggregates the touched leaf labels up the tree
# (`serverUpdate:664-699`).  Search semantics after any update sequence are
# unchanged: the same min-tree-cover OR/AND over the CURRENT coordinates
# (`clientSearch:458-520` — identical plaintext fold to ConstructionOne).
#
# Set-oriented isomorphism: point moves are a versioned delta log
# (doc_id, version, x, y) folded last-writer-wins (the same merge-on-read
# shape as ``operators/updates.py``) — the tree re-aggregation IS the fold,
# because node labels are pure functions of the current coordinates.  The
# deterministic move workload below exercises both counters asymmetrically
# (batch 2 moves only the x axis, so C=2 and C'=1 — pinned by
# ``update_counters`` and its test).

# (version, selector on sid, dx, dy): batch 1 moves both axes for
# sid % 11 == 0; batch 2 moves ONLY x for sid % 33 == 0 (an x-axis-only
# update — ConstructionTwo increments C but not C', `:643-656`).
MOVE_BATCHES = [
    (1, "sid % 11 = 0", 512, 256),
    (2, "sid % 33 = 0", 1024, 0),
]

_SID_FROM_KEY = "CAST(SUBSTR(doc_id, 4) AS BIGINT)"


def build_move_log(doc_geo: DataFrame, config: EngineConfig = DEFAULT) -> DataFrame:
    """moves(doc_id, version, x, y) — versioned point-move deltas derived
    deterministically from the corpus (new coords = old + (dx, dy) mod edge,
    exact in both engines for the non-negative operands involved)."""
    edge = config.edge
    parts = []
    for version, pred, dx, dy in MOVE_BATCHES:
        parts.append(
            doc_geo.withColumn("sid", F.expr(_SID_FROM_KEY))
            .filter(F.expr(pred))
            .select(
                "doc_id",
                F.lit(version).alias("version"),
                F.expr(f"(x + {dx}) % {edge}").alias("x"),
                F.expr(f"(y + {dy}) % {edge}").alias("y"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def update_counters(version_axes: list[tuple[int, int, int]] | None = None) -> tuple[int, int]:
    """(C, C') after replaying the move batches — ConstructionTwo's client
    counters start at 1 (`:58-59`) and bump per axis-changing batch
    (`:643-656`).  Pure driver-side state, pinned by a unit test."""
    batches = version_axes or [(v, dx, dy) for v, _, dx, dy in MOVE_BATCHES]
    c = c_prime = 1
    for _, dx, dy in batches:
        if dx != 0:
            c += 1
        if dy != 0:
            c_prime += 1
    return c, c_prime


def apply_moves(doc_geo: DataFrame, moves: DataFrame) -> DataFrame:
    """Current corpus after folding the move log newest-first: the newest
    move per doc wins; unmoved docs keep their stored coordinates.

    One window shuffle on doc_id over the (small) move log + one left
    broadcast-or-hash join back to the corpus — the corpus itself never
    re-sorts (on Iceberg this is merge-on-read with the move log as the
    delta files)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    latest = (
        moves.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("x").alias("mx"), F.col("y").alias("my"))
    )
    return (
        doc_geo.join(latest, "doc_id", "left")
        .withColumn("x", F.coalesce("mx", "x"))
        .withColumn("y", F.coalesce("my", "y"))
        .drop("mx", "my")
    )


def construction2_grq(
    doc_geo: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """ConstructionTwo search: the per-axis min-tree-cover rectangle query
    evaluated over the corpus AFTER the move-log fold — the plaintext
    result-set of `clientSearch` following the `clientUpdate`/`serverUpdate`
    sequence."""
    moved = apply_moves(doc_geo, build_move_log(doc_geo, config))
    return construction_grq(moved, x_lo, x_hi, y_lo, y_hi, config)


def construction2_grq_sql(
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    corpus_sql: str,
    doc_key_sql: str,
    x_sql: str,
    y_sql: str,
    edge: int,
) -> str:
    """DuckDB oracle: identical move-log replay (same batches, same modular
    arithmetic) + the plain BETWEEN box over the folded coordinates.  The
    caller supplies the derive snippets so the oracle recomputes the corpus
    independently."""
    moves = " UNION ALL ".join(
        f"SELECT {doc_key_sql} AS doc_id, {v} AS version, "
        f"({x_sql} + {dx}) % {edge} AS x, ({y_sql} + {dy}) % {edge} AS y "
        f"FROM {corpus_sql} WHERE {pred}"
        for v, pred, dx, dy in MOVE_BATCHES
    )
    return (
        f"WITH base AS (SELECT {doc_key_sql} AS doc_id, {x_sql} AS x, {y_sql} AS y "
        f"FROM {corpus_sql}), "
        f"mv AS (SELECT doc_id, x, y FROM (SELECT *, ROW_NUMBER() OVER "
        f"(PARTITION BY doc_id ORDER BY version DESC) AS rn FROM ({moves})) "
        f"WHERE rn = 1), "
        f"cur AS (SELECT b.doc_id, COALESCE(m.x, b.x) AS x, COALESCE(m.y, b.y) AS y "
        f"FROM base b LEFT JOIN mv m ON b.doc_id = m.doc_id) "
        f"SELECT doc_id, x, y FROM cur "
        f"WHERE x BETWEEN {x_lo} AND {x_hi} AND y BETWEEN {y_lo} AND {y_hi}"
    )
