"""Z-order (Morton) range query — the same GRQ contract as the Hilbert
range mode (`range_query.grq_range_mode`), executed over the alternative
space-filling curve so the two covers are comparable on identical boxes.

The reference engine is Hilbert-only; this operator exists to MEASURE the
choice, not to replace it: the Z cover of the same box fragments into more
index ranges (recorded in BENCH/BASELINE.md; pinned by
``tests/test_zorder.py``), which at 100 TB means more row-group intervals
to read from a curve-sorted layout.  The result set is identical — both
queries answer the plain box predicate exactly, and the driver checks both
against the SAME DuckDB box oracle.

Plan note: the Morton code is computed on the fly from (x, y) with pure
codegen bit arithmetic (`curve/morton.morton_expr_sql` — no Python), so
the BETWEEN predicate here filters a derived column and does NOT reach the
parquet scan; a stored Z-ordered layout would materialize the column and
sort by it, exactly like `sources/layout.write_sorted` does for Hilbert.
This operator demonstrates cover correctness + fragmentation, the stored
comparison lives on the Hilbert side where the engine actually sorts."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..curve.morton import morton_expr_sql, zcover_box
from .range_query import cover_predicate


def with_morton(doc_geo: DataFrame, config: EngineConfig = DEFAULT) -> DataFrame:
    """Materialize the Morton code as a stored column (the write-side step
    of a Z-ordered layout — what Delta's OPTIMIZE ZORDER effectively does)."""
    return doc_geo.withColumn("z", F.expr(morton_expr_sql("x", "y", config.order)))


def zorder_stored_mode(
    stored: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """The stored-layout twin of :func:`zorder_range_mode`: the table
    carries a materialized, sorted ``z`` column, so the cover's
    OR-of-BETWEEN pushes to the parquet scan and prunes row groups by
    min/max — the same mechanics as ``grq_stored`` on the Hilbert side,
    letting the two curves' pruned-scan costs be compared end to end."""
    ranges, exact = zcover_box(
        x_lo, x_hi, y_lo, y_hi, config.order, config.max_ranges
    )
    out = stored.filter(cover_predicate(ranges, config, col="z"))
    if not exact:
        out = out.filter(
            F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi)
        )
    return out


def zorder_range_mode(
    doc_geo: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Docs inside the rectangle via Z-order cover + exact residual."""
    ranges, exact = zcover_box(
        x_lo, x_hi, y_lo, y_hi, config.order, config.max_ranges
    )
    z = morton_expr_sql("x", "y", config.order)
    out = doc_geo.filter(cover_predicate(ranges, config, col=z))
    if not exact:
        out = out.filter(
            F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi)
        )
    return out


def curve_locality_report(
    spark,
    boxes: list[dict],
    cell_shift: int = 4,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """MEASURE the space-filling-curve choice — ``(box_id, curve, n_cells,
    n_runs)``: for every query box and each curve (``hilbert``, ``z``),
    the number of ``2^cell_shift``-cells the box covers and the number of
    maximal consecutive runs those cells occupy in curve order.  ``n_runs``
    IS the cost driver of a curve-sorted layout (one run = one contiguous
    index interval = one row-group range to read); the README's
    "Hilbert fragments less than Z" claim becomes a first-class,
    oracle-checked result instead of prose.

    Exact: cell curve indices are computed at order ``order - cell_shift``
    over the cell coordinates (Hilbert via ``hilbert_native.with_hilbert``,
    Z via the magic-mask interleave — both codegen); runs are
    counted with one lag window per (box, curve) over the enumerated cell
    set, which is bounded by the box area / 4^cell_shift, never the
    corpus.  The oracle recomputes Hilbert with the INDEPENDENT xy2d
    recursive CTE (`tiles.hilbert_sql_cte`) and Z with the same
    interleave in DuckDB operators.

    Plan: a literal box frame explodes to its cells (native ``sequence``),
    two codegen curve columns, one window per curve — no corpus scan at
    all; this is pure index planning."""
    from ..curve.hilbert_native import with_hilbert
    from pyspark.sql import Window

    oc = config.order - int(cell_shift)
    rows = [
        (b["box_id"], b["x_lo"] >> cell_shift, b["x_hi"] >> cell_shift,
         b["y_lo"] >> cell_shift, b["y_hi"] >> cell_shift)
        for b in boxes
    ]
    bf = spark.createDataFrame(
        rows, "box_id string, gx_lo long, gx_hi long, gy_lo long, gy_hi long"
    )
    cells = bf.select(
        "box_id",
        F.explode(F.expr("sequence(gx_lo, gx_hi)")).alias("cx"),
        "gy_lo",
        "gy_hi",
    ).select(
        "box_id", "cx", F.explode(F.expr("sequence(gy_lo, gy_hi)")).alias("cy")
    )
    hcells = with_hilbert(cells, oc, "cx", "cy", "idx").select(
        "box_id", F.lit("hilbert").alias("curve"), "idx"
    )
    zcells = cells.select(
        "box_id",
        F.lit("z").alias("curve"),
        F.expr(morton_expr_sql("cx", "cy", oc)).alias("idx"),
    )
    out = None
    for c in (hcells, zcells):
        w = Window.partitionBy("box_id", "curve").orderBy("idx")
        runs = c.withColumn(
            "brk",
            F.when(
                F.lag("idx").over(w).isNull()
                | (F.col("idx") != F.lag("idx").over(w) + 1),
                1,
            ).otherwise(0),
        )
        agg = runs.groupBy("box_id", "curve").agg(
            F.count("*").alias("n_cells"), F.sum("brk").alias("n_runs")
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def curve_locality_report_oracle(
    boxes: list[dict], cell_shift: int = 4, config: EngineConfig = DEFAULT
) -> str:
    """Standalone oracle (no corpus needed): cells via range(), Hilbert via
    the independent recursive xy2d CTE, Z via DuckDB bit operators."""
    from .tiles import hilbert_sql_cte

    oc = config.order - int(cell_shift)

    def dspread(c: str) -> str:
        e = f"CAST({c} AS BIGINT)"
        e = f"((({e}) | ({e} << 8)) & 16711935)"
        e = f"((({e}) | ({e} << 4)) & 252645135)"
        e = f"((({e}) | ({e} << 2)) & 858993459)"
        e = f"((({e}) | ({e} << 1)) & 1431655765)"
        return e

    morton = f"({dspread('cx')} | ({dspread('cy')} << 1))"
    box_rows = " UNION ALL ".join(
        f"SELECT '{b['box_id']}' AS box_id, cx.cx, cy.cy "
        f"FROM (SELECT unnest(range({b['x_lo'] >> cell_shift}, "
        f"{(b['x_hi'] >> cell_shift) + 1})) AS cx) cx, "
        f"(SELECT unnest(range({b['y_lo'] >> cell_shift}, "
        f"{(b['y_hi'] >> cell_shift) + 1})) AS cy) cy"
        for b in boxes
    )
    hcte = hilbert_sql_cte(oc, f"SELECT cx, cy, box_id FROM bcells")
    # hilbert_sql_cte emits its own WITH RECURSIVE; splice bcells in front
    hcte = hcte.replace(
        "WITH RECURSIVE ", f"WITH RECURSIVE bcells AS ({box_rows}), ", 1
    )
    return f"""{hcte}, idxd AS (
  SELECT b.box_id, 'hilbert' AS curve, h.hilbert AS idx
  FROM bcells b JOIN hv h ON h.cx = b.cx AND h.cy = b.cy
  UNION ALL
  SELECT box_id, 'z', {morton} FROM bcells
), runs AS (
  SELECT box_id, curve, idx,
         CASE WHEN LAG(idx) OVER w IS NULL OR idx <> LAG(idx) OVER w + 1
              THEN 1 ELSE 0 END AS brk
  FROM idxd WINDOW w AS (PARTITION BY box_id, curve ORDER BY idx)
)
SELECT box_id, curve, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(brk) AS BIGINT) AS n_runs
FROM runs GROUP BY box_id, curve"""
