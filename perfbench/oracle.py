"""Result fingerprints and the DuckDB oracle.

Every timed operation ends in a ``noop`` write whose plan carries a Spark
``observe`` of two aggregates: the row count and the sum of a per-row
integer mix of the output columns.  The same mix, written once as SQL that
parses identically in Spark and DuckDB, is applied to the oracle's answer
over the same generated parquet files; the check compares the two pairs
after the timed region.  No result is ever collected to the driver and no
operation is executed twice.

The oracle's ``doc_geo`` is derived by DuckDB from the flat documents with
the package's exact-arithmetic derivation SQL, and its ``hilbert`` column
comes from an independent textbook ``xy2d`` below, so the engine's encode
is checked rather than trusted.
"""

from __future__ import annotations

import itertools
from pathlib import Path

import numpy as np

MOD = 2147483647
SID = "CAST(substr(doc_id, 4) AS BIGINT)"

_obs_ids = itertools.count()


def mix_sql(exprs: list[str]) -> str:
    """Per-row integer hash of non-negative integer expressions."""
    acc = f"(CAST({exprs[0]} AS BIGINT) % {MOD})"
    for e in exprs[1:]:
        acc = f"(({acc} * 1000003 + CAST({e} AS BIGINT)) % {MOD})"
    return acc


def sid(col: str) -> str:
    """Numeric id of a ``'doc' || LPAD(sid, 10, '0')`` key column."""
    return f"CAST(substr({col}, 4) AS BIGINT)"


def tag_id(col: str) -> str:
    """Numeric suffix of a generated one-letter-prefixed id (``t3``, ``p0``)."""
    return f"CAST(substr({col}, 2) AS BIGINT)"


def sink(df, exprs: list[str]) -> tuple[int, int]:
    """Execute ``df`` to a ``noop`` sink; return its (rows, mix sum)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"perfbench_{next(_obs_ids)}")
    (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.expr(mix_sql(exprs))), F.lit(0).cast("long")).alias("h"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    m = obs.get
    return int(m["n"]), int(m["h"])


def hilbert_xy2d(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """Textbook iterative Hilbert ``xy2d`` (rotate-and-flip form),
    vectorized; written independently of the engine's Skilling kernel."""
    n = np.int64(1) << order
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, n - 1 - x, x)
        y = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


class Oracle:
    """DuckDB over the generated inputs: ``g`` is the oracle doc_geo
    (doc_key, x, y, kw0..kw3, hilbert), ``documents`` and ``events`` the
    generated source tables."""

    def __init__(self, sf: Path, prepared: Path):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE g AS SELECT * FROM read_parquet('{prepared / 'oracle_geo.parquet'}')"
        )
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf / 'documents.parquet'}/*.parquet')"
        )
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf / 'events.parquet'}/*.parquet')"
        )

    def fingerprint(self, sql: str, exprs: list[str]) -> tuple[int, int]:
        n, h = self.con.execute(
            f"SELECT COUNT(*), COALESCE(SUM({mix_sql(exprs)}), 0) FROM ({sql}) q"
        ).fetchone()
        return int(n), int(h)

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def add_oracle_hilbert(path: Path, order: int) -> None:
    """Rewrite the oracle doc_geo parquet with its ``hilbert`` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    h = hilbert_xy2d(t["x"].to_numpy(), t["y"].to_numpy(), order)
    pq.write_table(t.append_column("hilbert", pa.array(h, pa.int64())), path)
