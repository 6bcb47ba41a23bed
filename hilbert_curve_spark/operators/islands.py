"""Distributed gap-and-island range merge (reference S4's merge step,
`hilbert/HilbertApp/HilbertRangeSearchApp.java:66-82` and
`SmallHilbertCurve.java:195-221`, lifted from a sequential loop to window
functions — SURVEY §2.3 notes the reference carries this state in loops).

Given a (possibly huge) set of Hilbert values, produce the disjoint
ascending ranges of consecutive values::

    lag -> new-island flag -> running sum -> groupBy island -> min/max

This is the scale path for computing the exact cover of a *gigantic* region
(bigger than driver memory): enumerate cells distributed, encode, then
merge here.  The window is PARTITIONED by the value's high bits (phase 1
parallelizes; only the tiny islands-of-islands phase 2 runs a global
window), so no task ever materializes the full value set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_islands(values: DataFrame, col: str = "hilbert", part_shift: int = 12) -> DataFrame:
    """values: one column of int64 (duplicates allowed) -> (lo, hi) ranges.

    Two-phase so no stage ever sees the full value set in one task:

    1. islands *within* coarse value partitions (``value >> part_shift`` —
       high bits, so each partition is a contiguous value slice and its
       local islands are correct except at slice boundaries); the window
       is partitioned, so phase 1 parallelizes across the cluster.
    2. islands *of the islands*: a run crossing a slice boundary shows up
       as adjacent (lo, hi) rows with ``next.lo == prev.hi + 1`` — merged
       by the same lag/cumsum pipeline over the phase-1 output, which is
       O(#islands + #partitions) rows (tiny), so its single-task global
       window is fine.
    """
    part = F.shiftright(F.col(col), part_shift)
    w1 = Window.partitionBy("_part").orderBy(col)
    dedup = values.select(col).distinct().withColumn("_part", part)
    flagged = dedup.withColumn(
        "b",
        F.when(F.col(col) - F.lag(col).over(w1) == 1, 0).otherwise(1),
    )
    local = (
        flagged.withColumn("island", F.sum("b").over(w1))
        .groupBy("_part", "island")
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    )
    w2 = Window.orderBy("lo")
    merged = local.withColumn(
        "b2", F.when(F.col("lo") - F.lag("hi").over(w2) == 1, 0).otherwise(1)
    ).withColumn("island2", F.sum("b2").over(w2))
    return (
        merged.groupBy("island2")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        .select("lo", "hi")
    )
