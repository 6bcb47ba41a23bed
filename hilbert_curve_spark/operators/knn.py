"""Exact kNN via Hilbert-locality candidate bands (reference S13,
`hilbert/HilbertComponent/GetPointIndex.java:59-93` sorts points by Hilbert
value to exploit curve locality; the north_star names kNN explicitly).

Algorithm (exact, distributed, O(log) driver rounds):

1. Start from an L-inf box around the query sized from curve locality and
   grow geometrically until >= k candidates fall inside.  Each probe is a
   GRQ range-mode scan (Hilbert cover pruning — cheap on sorted storage).
2. Let ``d_k`` be the k-th smallest exact L2 distance among candidates.  A
   point outside the L-inf box of radius r has distance > r, so if
   ``d_k <= r`` the candidate set already contains the true top-k.
   Otherwise one final probe at radius ``ceil(d_k)`` is guaranteed complete.
3. Exact re-rank by ``(dist2, doc_id)`` — deterministic tie-break.

Driver-side loop runs O(log(edge)) top-k collects (k rows each — the
collect is simultaneously the candidate count and the k-th-distance
probe); every heavy step is a pruned scan + a top-k (Spark
``orderBy(...).limit(k)`` = distributed partial top-k, no full sort).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .range_query import grq_range_mode

_COUNT_CACHE: "weakref.WeakKeyDictionary[DataFrame, int]" = weakref.WeakKeyDictionary()


def _corpus_count(doc_geo: DataFrame) -> int:
    """Corpus cardinality for the density seed, memoized per DataFrame
    object: the driver/bench corpus is session-cached (one object per
    (app, sf_dir)), so only the first kNN query pays the count action —
    repeat queries seed for free.  A real deployment reads this from table
    statistics (Iceberg snapshot summary) instead of counting at all."""
    n = _COUNT_CACHE.get(doc_geo)
    if n is None:
        n = doc_geo.count()
        _COUNT_CACHE[doc_geo] = n
    return n


def _candidates(doc_geo: DataFrame, qx: int, qy: int, r: int, config: EngineConfig) -> DataFrame:
    edge = config.edge
    x_lo, x_hi = max(0, qx - r), min(edge - 1, qx + r)
    y_lo, y_hi = max(0, qy - r), min(edge - 1, qy + r)
    return grq_range_mode(doc_geo, x_lo, x_hi, y_lo, y_hi, config)


def _with_dist(df: DataFrame, qx: int, qy: int) -> DataFrame:
    d2 = (F.col("x") - F.lit(qx)) ** 2 + (F.col("y") - F.lit(qy)) ** 2
    return df.withColumn("dist2", d2.cast("long"))


def knn(
    doc_geo: DataFrame,
    qx: int,
    qy: int,
    k: int,
    config: EngineConfig = DEFAULT,
    initial_radius: int | None = None,
) -> DataFrame:
    """Exact k nearest docs to (qx, qy): (doc_id, x, y, dist2).

    ``initial_radius=None`` estimates the first band from corpus density
    (a memoized count on the maintained/cached table — free after the first
    query): the uniform-density radius for k points, doubled.  Query points
    land on the gaussian hot spots in practice, so local density >= uniform
    and the first probe almost always holds >= k candidates — the growing
    loop then runs a single round instead of 3-4."""
    edge = config.edge
    if initial_radius is None:
        import math

        n = max(_corpus_count(doc_geo), 1)
        initial_radius = max(8, min(edge, 2 * math.isqrt(k * edge * edge // n) + 1))
    r = initial_radius
    while True:
        cand = _candidates(doc_geo, qx, qy, r, config)
        # One action per round: the top-k collect doubles as the candidate
        # count (len < k -> grow) AND the k-th-distance probe (rows[-1]) —
        # fusing what used to be a count + a separate max() agg.  k rows hit
        # the driver; the returned plan below stays lazy.
        rows = _with_dist(cand, qx, qy).orderBy("dist2", "doc_id").limit(k).collect()
        full = r >= edge
        if len(rows) >= k or full:
            break
        r = min(edge, r * 4)
    if not full and rows and rows[-1].dist2 > r * r:
        # candidates beyond the L-inf box could still beat the k-th: widen
        # to the proven-complete radius for the final (lazy) plan
        import math

        r = min(edge, math.isqrt(int(rows[-1].dist2)) + 1)
    cand = _candidates(doc_geo, qx, qy, r, config)
    ranked = _with_dist(cand, qx, qy).orderBy("dist2", "doc_id").limit(k)
    return ranked.select("doc_id", "x", "y", "dist2")
