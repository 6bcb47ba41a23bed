"""Hex-grid cell properties: nearest-center optimality (numpy brute force
over all candidate centers), hexagonal adjacency, and Spark/DuckDB parity
of the exact integer arithmetic."""

import duckdb
import numpy as np
import pandas as pd

from hilbert_curve_spark.functions.cells import hex_cell_sql, hex_center

S = 16


def _duck_cells(points):
    """Hex cells of ``points`` computed by DuckDB, in input order."""
    pts = np.asarray(points, dtype=np.int64).reshape(-1, 2)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"i": np.arange(len(pts)), "x": pts[:, 0], "y": pts[:, 1]}))
    expr = hex_cell_sql("x", "y", S, div="//")
    return [r[0] for r in con.execute(f"SELECT {expr} FROM pts ORDER BY i").fetchall()]


def _brute_best_dist(x, y):
    """Min metric distance from (x, y) to ANY hex center (both lattices)."""
    X, Y = 2 * x, 2 * y
    best = None
    for sub in (0, 1):
        ox, oy = (3 * S, 2 * S) if sub else (0, 0)
        for i in range(max(0, (X - ox) // (6 * S) - 1), (X - ox) // (6 * S) + 3):
            for j in range(max(0, (Y - oy) // (4 * S) - 1), (Y - oy) // (4 * S) + 3):
                if i < 0 or j < 0:
                    continue
                cx, cy = 6 * S * i + ox, 4 * S * j + oy
                d = 4 * (X - cx) ** 2 + 27 * (Y - cy) ** 2
                best = d if best is None else min(best, d)
    return best


def test_assigned_center_is_nearest():
    rng = np.random.default_rng(7)
    pts = rng.integers(0, 2048, size=(300, 2))
    cells = _duck_cells(pts)
    for (x, y), cell in zip(pts, cells):
        cx, cy = hex_center(cell, S)
        d_assigned = 4 * (2 * x - 2 * cx) ** 2 + 27 * (2 * y - 2 * cy) ** 2
        assert d_assigned == _brute_best_dist(int(x), int(y))


def test_cells_are_hexagonal():
    """On a dense grid, interior cells touch exactly 6 neighbor cells
    (tie-rule boundary jitter tolerated on a small minority)."""
    n = 400
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    pts = np.stack([xs.ravel(), ys.ravel()], axis=1)
    cells = np.array(_duck_cells(pts)).reshape(n, n)
    neigh = {}
    for dx, dy in ((1, 0), (0, 1)):
        a = cells[: n - dx, : n - dy]
        b = cells[dx:, dy:]
        for u, v in zip(a.ravel(), b.ravel()):
            if u != v:
                neigh.setdefault(u, set()).add(v)
                neigh.setdefault(v, set()).add(u)
    # interior = cells whose center is well inside the sampled square
    counts = []
    for cell, ns in neigh.items():
        cx, cy = hex_center(cell, S)
        if 4 * S < cx < n - 4 * S and 4 * S < cy < n - 4 * S:
            counts.append(len(ns))
    assert counts, "no interior cells sampled"
    counts = np.array(counts)
    assert (counts == 6).mean() > 0.9
    assert counts.max() <= 8  # tie-rule can graze a vertex neighbor


def test_spark_matches_duckdb(spark):
    rng = np.random.default_rng(11)
    pts = [(int(a), int(b)) for a, b in rng.integers(0, 1 << 20, size=(200, 2))]
    df = spark.createDataFrame(pts, ["x", "y"])
    from pyspark.sql import functions as F
    from hilbert_curve_spark.functions.cells import hex_cell_expr

    got = [
        r["c"]
        for r in df.select(hex_cell_expr("x", "y", S).alias("c")).collect()
    ]
    assert got == _duck_cells(pts)
