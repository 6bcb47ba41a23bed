import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from hilbert_curve_spark.session import get_spark

    s = get_spark("hcs-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def ctx(spark, sf_dir):
    """One driver context for the whole session, so tests that read the
    derived tables share one encoded, persisted ``doc_geo``."""
    import __spark_entry__ as E

    return E.Ctx(spark, sf_dir)


@pytest.fixture(scope="session")
def border_points():
    """Points hugging all four borders of the full lattice: a 128-unit deep
    frame whose density falls off from each corner, plus the four corner
    points themselves.  At the raster operators' shifts (5, 6, 9) every
    border row/column of the cell grid is occupied, the corner cells
    included, so the rook-neighbour probes hit both grid bounds."""
    from hilbert_curve_spark.config import DEFAULT

    edge, s, pts = DEFAULT.edge, 5, []

    def draw():
        nonlocal s
        s = (s * 1103515245 + 12345) % (1 << 31)
        return s

    for i in range(800):
        along = min(draw() % edge, draw() % edge, draw() % edge)
        d = draw() % 128
        pts.append(
            [
                (along, d),
                (edge - 1 - d, along),
                (edge - 1 - along, edge - 1 - d),
                (d, edge - 1 - along),
            ][i % 4]
        )
    return pts + [(0, 0), (edge - 1, 0), (0, edge - 1), (edge - 1, edge - 1)]


def assert_df_equals_oracle(spark_df, sql, sf_dir, sort_cols=None):
    """Driver-style comparison: row count + schema names + order-insensitive
    value equality between a Spark DataFrame and DuckDB SQL over the same
    parquet tables."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    expected = con.execute(sql).fetchdf()
    got = spark_df.toPandas()
    assert sorted(got.columns) == sorted(expected.columns), (
        f"schema mismatch: {sorted(got.columns)} vs {sorted(expected.columns)}")
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = expected[cols].sort_values(cols).reset_index(drop=True)
    assert len(g) == len(e), f"row count {len(g)} vs oracle {len(e)}"
    import pandas as pd

    pd.testing.assert_frame_equal(g, e, check_dtype=False)
