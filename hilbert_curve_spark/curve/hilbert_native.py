"""Pure-JVM 2-D Hilbert encode/decode as Spark SQL expressions.

The Hilbert siblings of ``morton.morton_expr_sql``: ``hilbert_sql`` and
``hilbert_xy_sql`` return SQL text that whole-stage codegen compiles into
the scan's projection (no Python, no Arrow, no UDF).

Both run the classic xy2d iteration (the formulation of the DuckDB oracle
CTE ``operators/tiles.py:hilbert_sql_cte``, equal to the reference Skilling
kernel `hilbert/HilbertComponent/HilbertCurve.java:187-216` at every order)
as a state machine.  The curve's orientation below any level is one of four
states (identity, transpose, flip both axes, anti-transpose); one 2-bit step
per axis maps ``(state, x bits, y bits)`` to ``(4 index bits, next state)``
through a 64-entry literal table, one ``element_at`` per step.  An odd
``order`` is padded with a leading zero bit per axis; the pad level turns
the transposed state into the identity, so such curves start transposed.

Step ``k``'s table entry nests step ``k - 1``'s once, so the expression has
O(steps^2) nodes; codegen's subexpression elimination evaluates each step
once in a projection.  A filter pushed through the projection would still
get one copy of the expression per comparison (a 64-range cover ran a
2 GB driver out of heap), and a copy of every input expression per
reference (the document span parse 42 times per copy at order 12).  ``with_hilbert``
therefore passes the new column through a one-element ``explode``, which
the optimizer does not push a predicate on the generated column through:
filters on the column stay above the encode and compare a plain long,
while filters on the other columns and column pruning still reach below.
Property-tested against ``curve.hilbert.encode2d``/``decode2d`` in
``tests/test_hilbert_native.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["hilbert_sql", "hilbert_xy_sql", "with_hilbert"]


def _level(state: int, a: int, b: int) -> tuple[int, int]:
    """One xy2d level: ``state`` (bit 0 transpose, bit 1 flip) and the
    level's actual (x, y) bits -> (quadrant digit, next state).  A low
    canonical ``b`` rotates the rest: transpose, flipped when ``a``."""
    if state & 2:
        a, b = a ^ 1, b ^ 1
    if state & 1:
        a, b = b, a
    next_state = state if b else state ^ (1 | a << 1)
    return (3 * a) ^ b, next_state


def _tables() -> tuple[list[int], list[int]]:
    """Encode ``[state*16 + xb*4 + yb] = digit << 2 | next`` and decode
    ``[state*16 + digit] = xb << 4 | yb << 2 | next`` over two levels."""
    enc, dec = [0] * 64, [0] * 64
    for state in range(4):
        for xb in range(4):
            for yb in range(4):
                d1, s1 = _level(state, xb >> 1, yb >> 1)
                d2, s2 = _level(s1, xb & 1, yb & 1)
                digit = d1 << 2 | d2
                enc[state * 16 + xb * 4 + yb] = digit << 2 | s2
                dec[state * 16 + digit] = xb << 4 | yb << 2 | s2
    return enc, dec


_ENC, _DEC = _tables()


def _chain(table: list[int], order: int, step_bits):
    """Yield ``(shift, entry_sql)`` per 2-bit step, most significant first;
    ``step_bits(shift)`` is the step's 4-bit table column."""
    if not 1 <= order <= 31:
        raise ValueError("2-D Hilbert order must be in [1, 31]")
    steps = (order + 1) // 2
    arr = f"array({', '.join(map(str, table))})"
    entry = str(order & 1)  # odd orders start transposed
    for k in range(steps):
        sh = 2 * (steps - 1 - k)
        entry = f"element_at({arr}, CAST(({entry} & 3) * 16 + {step_bits(sh)} + 1 AS INT))"
        yield sh, entry


def hilbert_sql(x: str, y: str, order: int) -> str:
    """Spark SQL BIGINT Hilbert index of the ``order``-bit lattice columns
    ``(x, y)``, bit-for-bit ``curve.hilbert.encode2d``."""
    terms = [
        f"shiftleft(CAST(shiftright({e}, 2) AS BIGINT), {2 * sh})"
        for sh, e in _chain(
            _ENC, order, lambda sh: f"(shiftright({x}, {sh}) & 3) * 4 + (shiftright({y}, {sh}) & 3)"
        )
    ]
    return f"({' | '.join(terms)})"


def hilbert_xy_sql(h: str, order: int) -> tuple[str, str]:
    """Spark SQL BIGINT ``(x, y)`` of the Hilbert index column ``h``,
    bit-for-bit ``curve.hilbert.decode2d``."""
    chain = list(_chain(_DEC, order, lambda sh: f"(shiftright({h}, {2 * sh}) & 15)"))
    x = " | ".join(f"shiftleft(CAST(shiftright({e}, 4) AS BIGINT), {sh})" for sh, e in chain)
    y = " | ".join(f"shiftleft(CAST(shiftright({e}, 2) & 3 AS BIGINT), {sh})" for sh, e in chain)
    return f"({x})", f"({y})"


def with_hilbert(
    df: DataFrame, order: int, x: str = "x", y: str = "y", out: str = "hilbert"
) -> DataFrame:
    """``df`` plus ``out`` = ``hilbert_sql(x, y, order)``, behind the
    one-element ``explode`` that keeps predicates on ``out`` above it."""
    d = df.withColumn(out, F.expr(hilbert_sql(x, y, order)))
    return d.select(*[F.explode(F.array(c)).alias(c) if c == out else c for c in d.columns])
