"""Z-order curve: encode/decode, exact covers, Spark-expression parity, and
the measured Hilbert-vs-Z fragmentation comparison."""

import numpy as np
import pytest

from hilbert_curve_spark.curve.cover import cover_box
from hilbert_curve_spark.curve.morton import (
    decode2d_z,
    encode2d_z,
    morton_expr_sql,
    zcover_box,
)


def test_roundtrip_exhaustive_order5():
    order = 5
    z = np.arange(1 << (2 * order))
    x, y = decode2d_z(z, order)
    assert np.array_equal(encode2d_z(x, y, order), z)
    # bijection: every lattice point hit exactly once
    assert len(set(zip(x.tolist(), y.tolist()))) == 1 << (2 * order)


def test_known_values():
    # interleave by hand: (x=1,y=0) -> 1; (x=0,y=1) -> 2; (x=3,y=5) ->
    # x bits 11 -> 0b0101, y bits 101 -> 0b100010 -> z = 0b100111 = 39
    assert encode2d_z([1, 0, 3], [0, 1, 5], 4).tolist() == [1, 2, 39]


@pytest.mark.parametrize(
    "box", [(3, 10, 2, 9), (0, 0, 0, 0), (0, 31, 0, 31), (5, 5, 0, 31), (7, 24, 13, 14)]
)
def test_zcover_exact_equals_brute_force(box):
    order = 5
    x_lo, x_hi, y_lo, y_hi = box
    ranges, exact = zcover_box(x_lo, x_hi, y_lo, y_hi, order)
    assert exact
    covered = set()
    for lo, hi in ranges:
        covered.update(range(lo, hi + 1))
    z = np.arange(1 << (2 * order))
    x, y = decode2d_z(z, order)
    inside = {
        int(v)
        for v in z[(x >= x_lo) & (x <= x_hi) & (y >= y_lo) & (y <= y_hi)]
    }
    assert covered == inside
    # maximal runs: no two ranges are adjacent (else merge was missed)
    srt = sorted(ranges)
    assert all(b[0] > a[1] + 1 for a, b in zip(srt, srt[1:]))


def test_zcover_budget_overapproximates():
    ranges, exact = zcover_box(3, 10, 2, 9, 5, max_ranges=2)
    assert not exact and len(ranges) <= 2
    exact_ranges, _ = zcover_box(3, 10, 2, 9, 5)
    exact_cells = {v for lo, hi in exact_ranges for v in range(lo, hi + 1)}
    budget_cells = {v for lo, hi in ranges for v in range(lo, hi + 1)}
    assert exact_cells <= budget_cells


def test_hilbert_beats_zorder_fragmentation():
    """The documented comparison: on the engine's standard query boxes and
    a sweep of random boxes, the exact Hilbert cover needs at most as many
    ranges as the exact Z cover, and strictly fewer in aggregate."""
    from hilbert_curve_spark import workload as W

    rng = np.random.RandomState(7)
    order = 12
    boxes = [tuple(W.R1.values()), tuple(W.R2.values())]
    for _ in range(30):
        x_lo, y_lo = rng.randint(0, 3000, 2)
        w, h = rng.randint(1, 900, 2)
        boxes.append((int(x_lo), int(x_lo + w), int(y_lo), int(y_lo + h)))
    h_total = z_total = 0
    worse = 0
    for x_lo, x_hi, y_lo, y_hi in boxes:
        nh = len(cover_box(x_lo, x_hi, y_lo, y_hi, order).ranges)
        nz = len(zcover_box(x_lo, x_hi, y_lo, y_hi, order)[0])
        h_total += nh
        z_total += nz
        if nh > nz:
            worse += 1
    assert h_total < z_total, (h_total, z_total)
    # Hilbert may tie on tiny/aligned boxes but must rarely lose
    assert worse <= len(boxes) // 10, (worse, len(boxes))


def test_morton_expr_matches_numpy(spark):
    order = 12
    rng = np.random.RandomState(3)
    xs = rng.randint(0, 1 << order, 500).tolist()
    ys = rng.randint(0, 1 << order, 500).tolist()
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    from pyspark.sql import functions as F

    got = [
        r["z"]
        for r in df.select(
            F.expr(morton_expr_sql("x", "y", order)).alias("z")
        ).collect()
    ]
    assert got == encode2d_z(xs, ys, order).tolist()


def test_zorder_range_equals_hilbert_range(spark, sf_dir):
    import __spark_entry__ as em

    a = {tuple(r) for r in em.queries()["grq_range"](spark, sf_dir).collect()}
    b = {tuple(r) for r in em.queries()["zorder_range"](spark, sf_dir).collect()}
    assert a == b and a


def test_zorder_plan_no_python(spark, sf_dir):
    import __spark_entry__ as em

    plan = (
        em.queries()["zorder_range"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_stored_pushes_and_prunes(spark, sf_dir):
    """The stored Z layout behaves like the Hilbert one: the cover's
    OR-of-BETWEEN on the materialized z column reaches the parquet scan
    (PushedFilters), no shuffle, and the result equals grq_stored's."""
    import __spark_entry__ as em

    q = em.queries()["zorder_stored"](spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "z" in scan_line
    assert "Exchange" not in plan
    a = {tuple(r) for r in q.collect()}
    b = {tuple(r) for r in em.queries()["grq_stored"](spark, sf_dir).collect()}
    assert a == b and a
