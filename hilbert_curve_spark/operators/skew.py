"""Explicit hot-cell skew handling (north_rule requirement).

The corpus is deliberately multi-gaussian (~40% of docs around one center,
`SpatialDataProcessor/StaticData/DataSetAccess.java:149-162`), so the
spatial ``cell`` key is heavily skewed: a naive ``groupBy(cell)`` or a
shuffle join on ``cell`` puts the hot cells' docs on single reducers.

Two standard remedies, both implemented explicitly (AQE skew-join remains
on as backstop):

* **two-phase salted aggregation** — aggregate on ``(cell, salt)`` first
  (splits every hot key S ways), then re-aggregate on ``cell``.  Correct
  for any algebraic aggregate (sum/count/min/max).
* **salted replicate join** — for a shuffle join whose build side is small
  per key: the probe side gets ``salt = pmod(hash(<stable row cols>), S)``;
  the build side is replicated S ways with ``explode(sequence(0, S-1))``;
  the join key becomes ``(cell, salt)``.  Used when the dimension side is
  too big to broadcast outright.

The keyed unordered self-join every co-occurrence operator runs
(:func:`keyed_pairs`) lives here too: its cost is the skew of its key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig


def grid_keys(shift: int) -> tuple:
    """The ``(x >> shift AS gx, y >> shift AS gy)`` grid-cell key columns."""
    return F.shiftright("x", shift).alias("gx"), F.shiftright("y", shift).alias("gy")


def salted_cell_counts(
    doc_geo: DataFrame, config: EngineConfig = DEFAULT, by: tuple = ("cell",)
) -> DataFrame:
    """``(*by, n_docs)`` via two-phase salted aggregation: count per
    ``(*by, salt)``, then sum per ``by``.  ``by`` holds column names or
    aliased Columns (e.g. the ``(x >> s AS gx, y >> s AS gy)`` grid)."""
    partial = (
        doc_geo.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(config.salt_buckets)))
        .groupBy(*by, "salt")
        .agg(F.count("*").alias("pn"))
    )
    return partial.groupBy(*partial.columns[:-2]).agg(F.sum("pn").alias("n_docs"))


def keyed_pairs(
    rows: DataFrame, on: str | list[str], tie: str, b: DataFrame | None = None
) -> DataFrame:
    """Every pair of a ``rows`` row (side a) and a ``b`` row (side b,
    default ``rows``) that agree on every ``on`` column, with
    ``tie_a < tie_b``: the posting-list self-join behind the co-occurrence
    operators (the reference's prefix- and keyword-keyed posting maps,
    `Scheme/RSKQ/RSKQ_Biginteger.java:26-27`).

    The ``on`` columns come back once, unsuffixed; every other column comes
    back as ``<col>_a`` and ``<col>_b``.  Exactly once: two rows sharing a
    key meet in one row, ordered by ``tie``, and rows with equal ``tie``
    never pair.  A pair listed under several shared keys yields one row per
    key; callers that want distinct pairs dedup themselves.  A ``b`` that
    replicates a row under several probe keys (a band and its neighbours)
    keeps the rule as long as at most one of them equals the a side's key.

    Cost: one shuffle of each side on the key, then Σ_key C(n_key, 2)
    candidates for the self form (n_a · n_b per key with ``b``), so one hot
    key with n rows alone costs n²/2."""
    on = [on] if isinstance(on, str) else list(on)

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *[F.col(c) if c in on else F.col(c).alias(f"{c}_{tag}") for c in df.columns]
        )

    pairs = side(rows, "a").join(side(rows if b is None else b, "b"), on)
    return pairs.filter(F.col(f"{tie}_a") < F.col(f"{tie}_b"))


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    config: EngineConfig = DEFAULT,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Shuffle join on ``key`` with the probe side salted and the build side
    replicated ``salt_buckets`` ways.

    The probe salt is ``pmod(hash(<salt_cols>), S)`` — by default a hash of
    EVERY probe column, which is deterministic across retries/reruns (a
    task-retry must land each row in the same bucket or lineage-based
    recomputation changes physical placement).  Pass ``salt_cols`` to salt
    on a cheaper stable subset (e.g. a row id)."""
    s = config.salt_buckets
    cols = salt_cols if salt_cols is not None else probe.columns
    p = probe.withColumn("_salt", F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(s)))
    b = build.withColumn("_salt", F.explode(F.expr(f"sequence(0, {s - 1})")))
    out = p.join(b, [key, "_salt"], how)
    return out.drop("_salt")
