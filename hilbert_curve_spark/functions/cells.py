"""Discrete-global-grid cell encoding (H3 / S2 / lattice cells).

The north_star calls for geo spans "encoded to H3/S2 cells and Hilbert
indices".  On the engine's integer lattice the canonical cell id is the
Hilbert-prefix cell (``hilbert >> 2*shift`` — an aligned curve subsquare,
exactly the reference's prefix-tree node, and the bucketing key for
cell-bucketed joins).

S2 cell ids are REAL: ``curve/s2.py`` implements the public S2 scheme
(cube-face projection + quadratic ST + orientation-aware Hilbert curve)
as vectorized numpy, exposed here as Arrow-batched pandas UDFs and
oracle-checked bit-for-bit against a DuckDB rendering of the same kernel
(``curve/s2_sql.py``).  Hexagonal cells are real too: ``hex_cell_expr``
implements a from-scratch planar hex grid (interleaved-lattice
nearest-center, exact integer arithmetic — see the block comment below)
with an exact SQL oracle.  Only true *icosahedral* H3 remains import-gated
(the ``h3`` package is absent in this container; the hex grid covers the
hexagonal-bucketing semantics on the engine's plane).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from hilbert_curve_spark.curve import s2 as _s2k

try:  # pragma: no cover - not installed in this container
    import h3 as _h3
except ImportError:
    _h3 = None


def lattice_cell(hilbert: Column, order: int, cell_order: int) -> Column:
    """Aligned Hilbert subsquare id at resolution ``cell_order``
    (cell side = 2**(order - cell_order) lattice units).  Native shift —
    codegen, and monotone in the curve so cell ranges stay scan-prunable."""
    return F.shiftright(hilbert, 2 * (order - cell_order))


def h3_cell_udf(resolution: int = 9):
    """(lat, lon) -> H3 cell (string).  Requires the ``h3`` package."""
    if _h3 is None:
        raise NotImplementedError(
            "h3 is not installed in this environment; lattice_cell covers the "
            "engine's bucketing needs — install `h3` to emit real H3 ids"
        )
    import pandas as pd

    @F.pandas_udf("string")
    def _enc(lat: "pd.Series", lon: "pd.Series") -> "pd.Series":
        return pd.Series(
            [_h3.latlng_to_cell(a, b, resolution) for a, b in zip(lat, lon)]
        )

    return _enc


def s2_cell_xyz_udf(level: int = 13):
    """(vx, vy, vz doubles, unnormalized direction) -> S2 cell id (long).

    The IEEE-exact encode path (no trig) — bit-reproducible across engines,
    used by the oracle-checked ``s2_cells`` query."""

    @F.pandas_udf("long")
    def _enc(vx: pd.Series, vy: pd.Series, vz: pd.Series) -> pd.Series:
        ids = _s2k.cell_from_xyz(
            vx.to_numpy(), vy.to_numpy(), vz.to_numpy(), level
        )
        return pd.Series(ids)

    return _enc


# ---------------------------------------------------------------------------
# Hexagonal cells from scratch (the planar H3 analogue)
#
# A hexagonal grid is two interleaved rectangular center lattices
# (A at (6s*i, 4s*j), B at (6s*i + 3s, 4s*j + 2s), in doubled lattice
# coordinates X=2x, Y=2y) with nearest-center assignment under the
# anisotropic metric d^2 = 4*dX^2 + 27*dY^2.  Under that metric the scaled
# vertical/horizontal spacing ratio is (sqrt(27)/2 * 4s) / (2 * 6s) =
# sqrt(3) — exactly the centered-rectangular parameter at which the
# Voronoi cells of the combined lattice are REGULAR hexagons in the scaled
# plane (the same move H3 makes: hexagons regular on its own projection
# plane, distorted on the input plane).  Every step is nonnegative-integer
# arithmetic (floor-div + small squares), identical in Spark and DuckDB,
# so the operator carries an exact SQL oracle.
#
# Cell id packs (sub, j, i) into one int64: sub*2^60 + j*2^30 + i.
# ---------------------------------------------------------------------------


def _hex_terms(x_sql: str, y_sql: str, s: int, div: str) -> dict[str, str]:
    """Shared SQL fragments; ``div`` is the engine's integer floor-division
    operator ('DIV' for Spark, '//' for DuckDB) — operands are nonnegative
    so truncation == floor in both."""
    X, Y = f"(2 * {x_sql})", f"(2 * {y_sql})"
    iA = f"(({X} + {3 * s}) {div} {6 * s})"
    jA = f"(({Y} + {2 * s}) {div} {4 * s})"
    iB = f"({X} {div} {6 * s})"
    jB = f"({Y} {div} {4 * s})"
    dA = (
        f"(4 * ({X} - {6 * s} * {iA}) * ({X} - {6 * s} * {iA})"
        f" + 27 * ({Y} - {4 * s} * {jA}) * ({Y} - {4 * s} * {jA}))"
    )
    dB = (
        f"(4 * ({X} - ({6 * s} * {iB} + {3 * s})) * ({X} - ({6 * s} * {iB} + {3 * s}))"
        f" + 27 * ({Y} - ({4 * s} * {jB} + {2 * s})) * ({Y} - ({4 * s} * {jB} + {2 * s})))"
    )
    return {"iA": iA, "jA": jA, "iB": iB, "jB": jB, "dA": dA, "dB": dB}


def hex_cell_sql(x_sql: str, y_sql: str, size: int, div: str = "//") -> str:
    """Engine-neutral hex cell id expression (pass ``div='DIV'`` for Spark
    SQL, ``'//'`` for DuckDB).  Ties go to sub-lattice A (dB strictly
    smaller wins) — deterministic on boundary points."""
    t = _hex_terms(x_sql, y_sql, size, div)
    sub = f"(CASE WHEN {t['dB']} < {t['dA']} THEN 1 ELSE 0 END)"
    i = f"(CASE WHEN {t['dB']} < {t['dA']} THEN {t['iB']} ELSE {t['iA']} END)"
    j = f"(CASE WHEN {t['dB']} < {t['dA']} THEN {t['jB']} ELSE {t['jA']} END)"
    return (
        f"(CAST({sub} AS BIGINT) * {1 << 60}"
        f" + CAST({j} AS BIGINT) * {1 << 30} + {i})"
    )


def hex_cell_expr(x_name: str, y_name: str, size: int) -> Column:
    """Spark Column for the hex cell id of columns ``x_name``/``y_name`` —
    pure codegen, rides the scan like ``lattice_cell``."""
    return F.expr(hex_cell_sql(x_name, y_name, size, div="DIV"))


def hex_center(cell: int, size: int) -> tuple[float, float]:
    """Driver-side: cell id -> center in (undoubled) lattice coords."""
    sub = cell >> 60
    j = (cell >> 30) & ((1 << 30) - 1)
    i = cell & ((1 << 30) - 1)
    X = 6 * size * i + 3 * size * sub
    Y = 4 * size * j + 2 * size * sub
    return X / 2.0, Y / 2.0
