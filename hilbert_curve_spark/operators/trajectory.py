"""Trajectory operators over the ``events`` table: stay-point detection and
origin-destination flow matrices.

The reference has no trajectory surface (its objects are static points —
`Scheme/RSKQ/RSKQ_Biginteger.java:1008` indexes one coordinate per object);
these are the movement-analytics companions the events stream makes
possible once every event carries the engine's derived lattice coordinates
(same derivation as the geofence family, ``sources/derive.x_sql``).  Both
are exact-oracle operators: integer lattice arithmetic only, whole-second
epochs, deterministic ``(epoch, event_id)`` tie-breaks.

Scale notes (100 TB): both operators shuffle ONCE on ``user_id`` (the
window / first-level groupBy key); with the events table bucketed by
``user_id`` they are shuffle-free.  The OD second stage is a plain hash
aggregation with map-side combine on ``(window, o_cell, d_cell)`` — at most
``|users| x |windows|`` rows enter it, already far smaller than the input.
Neither operator joins, explodes, or collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .events import event_cell, event_points
from .skew import keyed_pairs


def stay_points(
    events: DataFrame,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
) -> DataFrame:
    """Stay-point detection (Li et al., GIS 2008, via consecutive-pair
    segmentation): per user, a *stay segment* is a maximal run of
    time-ordered events where each point is within ``radius`` (Euclidean,
    compared squared — no floats) of its predecessor AND arrives within
    ``gap_minutes``; a segment qualifies as a stay point when it spans
    ``>= min_minutes`` and ``>= min_points`` events.  Output
    ``(user_id, stay_id, n_points, start_s, end_s, cx, cy)`` with the
    centroid as the integer mean (``SUM DIV COUNT`` — exact in both
    engines on the non-negative lattice).

    Same gap-and-island shape as :func:`events.sessionize` (lag + boundary
    flag + running sum: ONE user_id shuffle) with the spatial predicate
    fused into the boundary test; the gap test compares whole-second
    epochs exactly as sessionize does (see its TIMESTAMP_NTZ note)."""
    r2 = int(radius) * int(radius)
    gap = int(gap_minutes) * 60
    pts = event_points(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dx = F.col("ex") - F.lag("ex").over(w)
    dy = F.col("ey") - F.lag("ey").over(w)
    moved = (dx * dx + dy * dy > F.lit(r2)) | (
        F.col("ep") - F.lag("ep").over(w) > F.lit(gap)
    )
    # first row per user: lag is NULL -> condition NULL -> otherwise(0),
    # identical to the oracle's CASE ... ELSE 0 (NULL comparisons fall out)
    seg = pts.withColumn(
        "b", F.when(moved, F.lit(1)).otherwise(F.lit(0))
    ).withColumn("stay_id", F.sum("b").over(w))
    agg = seg.groupBy("user_id", "stay_id").agg(
        F.count("*").alias("n_points"),
        F.min("ep").alias("start_s"),
        F.max("ep").alias("end_s"),
        F.expr("CAST(SUM(ex) DIV COUNT(*) AS BIGINT)").alias("cx"),
        F.expr("CAST(SUM(ey) DIV COUNT(*) AS BIGINT)").alias("cy"),
    )
    return agg.filter(
        (F.col("end_s") - F.col("start_s") >= F.lit(int(min_minutes) * 60))
        & (F.col("n_points") >= F.lit(int(min_points)))
    ).select("user_id", "stay_id", "n_points", "start_s", "end_s", "cx", "cy")


def stay_points_oracle(
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
    table: str = "events",
) -> str:
    """Identical segmentation in DuckDB: same coordinate derivation, same
    floored-epoch gap test, same ``(ts, event_id)`` window order.  Outer
    CASTs keep HUGEINT window/aggregate sums BIGINT (the events-oracle
    dtype lesson, `operators/events.py:50-56`)."""
    from ..sources import derive

    r2 = int(radius) * int(radius)
    gap = int(gap_minutes) * 60
    min_dur = int(min_minutes) * 60
    return f"""WITH pts AS (
  SELECT user_id, event_id, ts,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep
  FROM {table}
), flagged AS (
  SELECT user_id, event_id, ts, ex, ey, ep,
         CASE WHEN (ex - LAG(ex) OVER w) * (ex - LAG(ex) OVER w)
                 + (ey - LAG(ey) OVER w) * (ey - LAG(ey) OVER w) > {r2}
                OR ep - LAG(ep) OVER w > {gap}
              THEN 1 ELSE 0 END AS b
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT user_id, ex, ey, ep,
         CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stay_id
  FROM flagged
)
SELECT user_id, stay_id,
       COUNT(*) AS n_points,
       MIN(ep) AS start_s, MAX(ep) AS end_s,
       CAST(SUM(ex) // COUNT(*) AS BIGINT) AS cx,
       CAST(SUM(ey) // COUNT(*) AS BIGINT) AS cy
FROM seg
GROUP BY user_id, stay_id
HAVING MAX(ep) - MIN(ep) >= {min_dur} AND COUNT(*) >= {min_points}"""


def od_flows(
    events: DataFrame, window_minutes: int = 60, cell_shift: int = 8
) -> DataFrame:
    """Origin-destination flow matrix: per ``(user, epoch-aligned window)``
    take the cell of the user's first and last event (order
    ``(epoch, event_id)`` — deterministic), then count user-window flows
    per ``(window_start_s, o_cell, d_cell)``.  The cell key is the
    ``cell_shift``-coarsened lattice cell ``(ex DIV 2^s) * edge + (ey DIV
    2^s)`` — engine-neutral integer arithmetic.

    Plan shape: first/last via ONE ``min(struct)/max(struct)`` hash
    aggregation on ``(user_id, window)`` (map-side combinable — no window
    function, no sort), then a second hash agg on the OD key.  Both stages
    partial-aggregate, so the shuffle volume is bounded by distinct keys,
    not events."""
    secs = int(window_minutes) * 60
    pts = event_points(events)
    cell = event_cell(cell_shift)
    keyed = pts.withColumn("cell", cell).withColumn(
        "window_start_s", (F.col("ep") - F.col("ep") % F.lit(secs))
    )
    od = keyed.groupBy("user_id", "window_start_s").agg(
        F.min(F.struct("ep", "event_id", "cell")).getField("cell").alias("o_cell"),
        F.max(F.struct("ep", "event_id", "cell")).getField("cell").alias("d_cell"),
    )
    return od.groupBy("window_start_s", "o_cell", "d_cell").agg(
        F.count("*").alias("n_flows")
    )


def trips(
    events: DataFrame,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
) -> DataFrame:
    """Trip extraction: the moves BETWEEN a user's consecutive stay points
    (see :func:`stay_points`).  Output ``(user_id, from_stay, to_stay,
    depart_s, arrive_s, travel_s, dist2)`` — one row per consecutive stay
    pair, ordered by ``(start_s, stay_id)`` (stay intervals of one user
    never overlap — segments are time-ordered — so this order is the
    itinerary order; stay_id breaks the zero-length-interval tie).

    One additional window pass over the already-tiny stays table; no new
    shuffle beyond stay_points' own when the table stays partitioned by
    user_id."""
    stays = stay_points(
        events, radius=radius, gap_minutes=gap_minutes,
        min_minutes=min_minutes, min_points=min_points,
    )
    w = Window.partitionBy("user_id").orderBy("start_s", "stay_id")
    prev_stay = F.lag("stay_id").over(w)
    prev_end = F.lag("end_s").over(w)
    prev_cx = F.lag("cx").over(w)
    prev_cy = F.lag("cy").over(w)
    dist2 = (F.col("cx") - prev_cx) ** 2 + (F.col("cy") - prev_cy) ** 2
    return (
        stays.select(
            "user_id",
            prev_stay.alias("from_stay"),
            F.col("stay_id").alias("to_stay"),
            prev_end.alias("depart_s"),
            F.col("start_s").alias("arrive_s"),
            (F.col("start_s") - prev_end).alias("travel_s"),
            dist2.cast("long").alias("dist2"),
        )
        .filter(F.col("from_stay").isNotNull())
    )


def trips_oracle(
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
    table: str = "events",
) -> str:
    """Same LAG replay over the stays oracle subquery."""
    stays_sql = stay_points_oracle(
        radius=radius, gap_minutes=gap_minutes, min_minutes=min_minutes,
        min_points=min_points, table=table,
    )
    return f"""WITH stays AS (
  SELECT * FROM ({stays_sql}) st
), hops AS (
  SELECT user_id,
         LAG(stay_id) OVER w AS from_stay,
         stay_id AS to_stay,
         LAG(end_s) OVER w AS depart_s,
         start_s AS arrive_s,
         start_s - LAG(end_s) OVER w AS travel_s,
         (cx - LAG(cx) OVER w) * (cx - LAG(cx) OVER w)
           + (cy - LAG(cy) OVER w) * (cy - LAG(cy) OVER w) AS dist2
  FROM stays
  WINDOW w AS (PARTITION BY user_id ORDER BY start_s, stay_id)
)
SELECT user_id, from_stay, to_stay, depart_s, arrive_s, travel_s,
       CAST(dist2 AS BIGINT) AS dist2
FROM hops WHERE from_stay IS NOT NULL"""


def colocation_pairs(
    events: DataFrame,
    max_dist: int = 256,
    min_overlap_minutes: int = 0,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
) -> DataFrame:
    """Co-location (contact) join: pairs of DIFFERENT users whose stay
    points (see :func:`stay_points`) are within ``max_dist`` (centroid L2,
    compared squared) AND overlap in time for at least
    ``min_overlap_minutes``.  Output ``(user_a, stay_a, user_b, stay_b,
    dist2, overlap_s)`` with ``user_a < user_b`` — every qualifying stay
    pair exactly once.

    The same operator as :func:`stay_contacts` — one implementation, with
    the overlap bound given in minutes."""
    return stay_contacts(
        events, radius, gap_minutes, min_minutes, min_points,
        dist=max_dist, min_overlap_s=int(min_overlap_minutes) * 60,
    )


def _stay_side(stays: DataFrame) -> DataFrame:
    """The stay table as one side of a within-radius join: the centroid is
    the ``x, y`` point, the rest is payload."""
    return stays.select(
        F.col("user_id").alias("user"),
        F.col("stay_id").alias("stay"),
        F.col("start_s").alias("start"),
        F.col("end_s").alias("end"),
        F.col("cx").alias("x"),
        F.col("cy").alias("y"),
    )


def colocation_pairs_oracle(
    max_dist: int = 256,
    min_overlap_minutes: int = 0,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
    table: str = "events",
) -> str:
    """Same stays derivation (the stay_points oracle as a subquery), same
    9-offset lossless blocking, identical integer residuals."""
    from .spatial_join import _cell_shift

    d2 = int(max_dist) * int(max_dist)
    min_ov = int(min_overlap_minutes) * 60
    s = _cell_shift(int(max_dist))
    stays_sql = stay_points_oracle(
        radius=radius, gap_minutes=gap_minutes, min_minutes=min_minutes,
        min_points=min_points, table=table,
    )
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""WITH stays AS (
  SELECT * FROM ({stays_sql}) st
), prb AS (
  SELECT user_id, stay_id, start_s, end_s, cx, cy,
         (cx >> {s}) + dx AS gx, (cy >> {s}) + dy AS gy
  FROM stays, (VALUES {nine}) o(dx, dy)
), hom AS (
  SELECT user_id, stay_id, start_s, end_s, cx, cy,
         cx >> {s} AS gx, cy >> {s} AS gy
  FROM stays
)
SELECT p.user_id AS user_a, p.stay_id AS stay_a,
       h.user_id AS user_b, h.stay_id AS stay_b,
       (p.cx - h.cx) * (p.cx - h.cx) + (p.cy - h.cy) * (p.cy - h.cy) AS dist2,
       LEAST(p.end_s, h.end_s) - GREATEST(p.start_s, h.start_s) AS overlap_s
FROM prb p JOIN hom h ON p.gx = h.gx AND p.gy = h.gy
WHERE p.user_id < h.user_id
  AND (p.cx - h.cx) * (p.cx - h.cx) + (p.cy - h.cy) * (p.cy - h.cy) <= {d2}
  AND LEAST(p.end_s, h.end_s) - GREATEST(p.start_s, h.start_s) >= {min_ov}"""


def od_flows_oracle(
    window_minutes: int = 60, cell_shift: int = 8, table: str = "events"
) -> str:
    """Same derivation; first/last replayed as ROW_NUMBER over the
    identical ``(ep, event_id)`` order (Spark's lexicographic struct
    min/max equals rank-1 under that order — ``(ep, event_id)`` is unique
    because event_id is)."""
    from ..sources import derive
    from ..sources.derive import EDGE

    secs = int(window_minutes) * 60
    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT user_id, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), keyed AS (
  SELECT user_id, ep - ep % {secs} AS window_start_s, ep, event_id, cell
  FROM pts
), ranked AS (
  SELECT user_id, window_start_s, cell,
         ROW_NUMBER() OVER (PARTITION BY user_id, window_start_s
                            ORDER BY ep, event_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id, window_start_s
                            ORDER BY ep DESC, event_id DESC) AS rl
  FROM keyed
), od AS (
  SELECT user_id, window_start_s,
         MAX(CASE WHEN rf = 1 THEN cell END) AS o_cell,
         MAX(CASE WHEN rl = 1 THEN cell END) AS d_cell
  FROM ranked
  GROUP BY user_id, window_start_s
)
SELECT window_start_s, o_cell, d_cell, COUNT(*) AS n_flows
FROM od
GROUP BY window_start_s, o_cell, d_cell"""


def hausdorff_pairs(
    events: DataFrame,
    max_h: int = 512,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
) -> DataFrame:
    """Trajectory-similarity join: pairs of users whose stay-point
    trajectories are within symmetric Hausdorff distance ``max_h``
    (compared squared — exact integers) — ``(user_a, user_b, haus2)``
    with ``user_a < user_b``.

    ``H(A,B) = max(h(A,B), h(B,A))``, ``h(A,B) = max_a min_b d2(a,b)``
    over the users' stay CENTROIDS (the aggregated trajectory — orders of
    magnitude smaller than raw pings, which is what makes the exact
    max-min affordable).

    Physical plan, never all-pairs:

    1. candidate pairs — the directed within-radius blocked stay join
       (``spatial_join._within_radius``, cell >= max_h):
       ``H <= max_h`` forces EVERY a-stay within ``max_h`` of B, so in
       particular some stay pair is within ``max_h`` and the blocking is
       recall-COMPLETE; distinct to user pairs.
    2. the (candidate x stays_a x stays_b) frame — two hash joins on
       user id; its size is candidates x |A| x |B|, bounded because stays
       per user are bounded (they are stays, not pings).
    3. both directed distances as two (groupBy min -> groupBy max)
       aggregation chains on the pair key; symmetric H = greatest of the
       two, filtered to ``max_h``.

    All shuffles are hash aggregations/joins on pair or user keys — no
    window sort, no product beyond the blocked candidates."""
    from .spatial_join import _within_radius

    h2 = int(max_h) * int(max_h)
    # the stay derivation (full event shuffle + gap-and-island window)
    # feeds FOUR consumers (blocking probe/home + both per-user stay
    # sides) — pin it once instead of re-sessionizing per consumer
    stays = _stay_side(
        stay_points(
            events, radius=radius, gap_minutes=gap_minutes,
            min_minutes=min_minutes, min_points=min_points,
        ).localCheckpoint(eager=False)
    )
    cand = (
        _within_radius(stays, stays, max_h, keep=F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b")
        .distinct()
    )

    def side(t: str) -> DataFrame:
        return stays.select(*[F.col(c).alias(f"{c}_{t}") for c in ("user", "stay", "x", "y")])

    d2 = (
        (F.col("x_a") - F.col("x_b")) ** 2 + (F.col("y_a") - F.col("y_b")) ** 2
    ).cast("long")
    tri = cand.join(side("a"), "user_a").join(side("b"), "user_b").withColumn("d2", d2)
    h_ab = (
        tri.groupBy("user_a", "user_b", "stay_a")
        .agg(F.min("d2").alias("mn"))
        .groupBy("user_a", "user_b")
        .agg(F.max("mn").alias("h_ab"))
    )
    h_ba = (
        tri.groupBy("user_a", "user_b", "stay_b")
        .agg(F.min("d2").alias("mn"))
        .groupBy("user_a", "user_b")
        .agg(F.max("mn").alias("h_ba"))
    )
    return (
        h_ab.join(h_ba, ["user_a", "user_b"])
        .select(
            "user_a",
            "user_b",
            F.greatest("h_ab", "h_ba").alias("haus2"),
        )
        .filter(F.col("haus2") <= F.lit(h2))
    )


def hausdorff_pairs_oracle(
    max_h: int = 512,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
    table: str = "events",
) -> str:
    """Identical stays derivation, blocking, and max-min fold in DuckDB."""
    from .spatial_join import _cell_shift
    from ..sources.derive import EDGE

    h2 = int(max_h) * int(max_h)
    s = _cell_shift(int(max_h))
    stays_sql = stay_points_oracle(
        radius=radius, gap_minutes=gap_minutes, min_minutes=min_minutes,
        min_points=min_points, table=table,
    )
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""WITH stays AS (
  SELECT * FROM ({stays_sql}) st
), prb AS (
  SELECT user_id, cx, cy, ((cx >> {s}) + dx) * {EDGE} + (cy >> {s}) + dy AS ck
  FROM stays, (VALUES {nine}) o(dx, dy)
), hom AS (
  SELECT user_id, cx, cy, (cx >> {s}) * {EDGE} + (cy >> {s}) AS ck FROM stays
), cand AS (
  SELECT DISTINCT p.user_id AS user_a, h.user_id AS user_b
  FROM prb p JOIN hom h ON p.ck = h.ck
  WHERE p.user_id < h.user_id
    AND (p.cx - h.cx) * (p.cx - h.cx) + (p.cy - h.cy) * (p.cy - h.cy) <= {h2}
), tri AS (
  SELECT c.user_a, c.user_b, a.stay_id AS stay_a, b.stay_id AS stay_b,
         (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy) AS d2
  FROM cand c
  JOIN stays a ON a.user_id = c.user_a
  JOIN stays b ON b.user_id = c.user_b
), dab AS (
  SELECT user_a, user_b, MAX(mn) AS h_ab FROM (
    SELECT user_a, user_b, stay_a, MIN(d2) AS mn FROM tri GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
), dba AS (
  SELECT user_a, user_b, MAX(mn) AS h_ba FROM (
    SELECT user_a, user_b, stay_b, MIN(d2) AS mn FROM tri GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT x.user_a, x.user_b, GREATEST(x.h_ab, y.h_ba) AS haus2
FROM dab x JOIN dba y ON x.user_a = y.user_a AND x.user_b = y.user_b
WHERE GREATEST(x.h_ab, y.h_ba) <= {h2}"""


def emerging_hotspots(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Two-horizon emerging-hot-spot map over the event stream: the
    observation range splits at its exact midpoint epoch ``mid = (min_ep +
    max_ep) DIV 2`` and every occupied cell is classified by comparing its
    first- and second-half event counts — ``(cell, n_first, n_second,
    delta, trend)`` with ``trend`` = ``emerging`` when ``n_second * 10 >=
    n_first * 12`` (a +20% integer cross-multiplied threshold),
    ``fading`` symmetrically, else ``stable``.

    This is the temporal arm of the raster family (`rollup.cell_change`
    compares two UPDATE-LOG horizons; this compares two halves of event
    TIME) — the where-is-activity-growing read-out a monitoring pipeline
    refreshes per window.

    Plan: one tiny min/max aggregate (2 values broadcast), then ONE scan
    into a per-cell conditional aggregation with map-side combine — a
    single shuffle bounded by occupied cells; no window, no join on the
    big side.  Integer cross-multiplication keeps the threshold exact in
    both engines."""
    pts = event_points(events)
    rng = pts.agg(
        F.min("ep").cast("long").alias("ep_lo"),
        F.max("ep").cast("long").alias("ep_hi"),
    )
    # integer halves: ep <= mid -> first, else second
    tagged = pts.crossJoin(F.broadcast(rng)).withColumn(
        "is_first", (F.col("ep") <= F.expr("(ep_lo + ep_hi) DIV 2")).cast("long")
    )
    agg = (
        tagged.select(event_cell(cell_shift).alias("cell"), "is_first")
        .groupBy("cell")
        .agg(
            F.sum("is_first").cast("long").alias("n_first"),
            F.sum(1 - F.col("is_first")).cast("long").alias("n_second"),
        )
    )
    trend = (
        F.when(F.col("n_second") * 10 >= F.col("n_first") * 12, "emerging")
        .when(F.col("n_first") * 10 >= F.col("n_second") * 12, "fading")
        .otherwise("stable")
    )
    # NOTE: a cell can satisfy both cross-multiplications only when both
    # counts are tiny (e.g. 0/0 is impossible — the cell is occupied); the
    # WHEN order makes the tie deterministic and the oracle replays it.
    return agg.select(
        "cell",
        "n_first",
        "n_second",
        (F.col("n_second") - F.col("n_first")).cast("long").alias("delta"),
        trend.alias("trend"),
    )


def emerging_hotspots_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical midpoint split, cell derivation, and CASE order."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), rng AS (
  SELECT CAST(MIN(ep) AS BIGINT) AS ep_lo, CAST(MAX(ep) AS BIGINT) AS ep_hi FROM pts
), agg AS (
  SELECT cell,
         CAST(SUM(CASE WHEN ep <= (ep_lo + ep_hi) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
         CAST(SUM(CASE WHEN ep <= (ep_lo + ep_hi) // 2 THEN 0 ELSE 1 END) AS BIGINT) AS n_second
  FROM pts, rng GROUP BY cell
)
SELECT cell, n_first, n_second,
       CAST(n_second - n_first AS BIGINT) AS delta,
       CASE WHEN n_second * 10 >= n_first * 12 THEN 'emerging'
            WHEN n_first * 10 >= n_second * 12 THEN 'fading'
            ELSE 'stable' END AS trend
FROM agg"""


def user_home_cells(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Per-user home-cell inference — each user's most-visited grid cell:
    ``(user_id, home_cell, n_visits, n_total, share_ppm)`` with the tie
    broken toward the smallest cell id (deterministic) and the share in
    exact FLOOR-ppm.

    The classic location-analytics primitive (home/work inference, user
    geo-bucketing for privacy-aware aggregation).  Plan: one scan into a
    (user, cell) hash agg with map-side combine, then ONE window over the
    aggregated frame — bounded by distinct (user, cell) pairs, partitioned
    by user.  With the events table bucketed by user_id the shuffle
    disappears (the trajectory-family note)."""
    pts = event_points(events)
    counts = (
        pts.select(
            "user_id",
            event_cell(cell_shift).alias("cell"),
        )
        .groupBy("user_id", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_visits"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_visits"), F.asc("cell"))
    tot = Window.partitionBy("user_id")
    return (
        counts.withColumn("n_total", F.sum("n_visits").over(tot).cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("cell").alias("home_cell"),
            "n_visits",
            "n_total",
            F.expr("CAST((n_visits * 1000000) DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


def user_home_cells_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical cell derivation, window order, and FLOOR-ppm."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT user_id,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), counts AS (
  SELECT user_id, cell, CAST(COUNT(*) AS BIGINT) AS n_visits
  FROM pts GROUP BY user_id, cell
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY n_visits DESC, cell) AS rn,
         CAST(SUM(n_visits) OVER (PARTITION BY user_id) AS BIGINT) AS n_total
  FROM counts
)
SELECT user_id, cell AS home_cell, n_visits, n_total,
       CAST((n_visits * 1000000) // n_total AS BIGINT) AS share_ppm
FROM ranked WHERE rn = 1"""


def st_cube_trend(
    events: DataFrame,
    cell_shift: int = 8,
    n_bins: int = 8,
    s_min: int = 6,
) -> DataFrame:
    """Space-time-cube trend map: the observation range splits into
    ``n_bins`` equal-width time bins (exact integer binning ``((ep -
    ep_lo) * n_bins) DIV span``, last instant clamped into the top bin by
    the +1 span), each occupied cell gets its full per-bin count vector
    (missing bins are REAL zeros — required for a correct statistic), and
    the Mann-Kendall S statistic ``S = sum_{i<j} sign(c_j - c_i)`` over the
    C(n_bins, 2) bin pairs classifies the cell ``up`` / ``down`` / ``flat``
    at the integer threshold ``|S| >= s_min``.

    This is the ArcGIS-style "emerging hot spot analysis" core (Mann 1945 /
    Kendall's tau over the cube's time axis), the multi-bin generalization
    of :func:`emerging_hotspots`'s two-horizon split.  The reference has no
    temporal surface; this derives from the same event lattice as the
    geofence family.

    Plan: one 2-value min/max broadcast, then ONE scan into a per-cell
    conditional aggregation (``n_bins`` SUM(CASE) columns, map-side
    combine) — a single shuffle bounded by occupied cells; S is a literal
    codegen expression over the aggregated columns (28 CASE terms at the
    default 8 bins), never a join or window.  Every quantity is int64: S
    is bounded by C(n_bins,2) regardless of corpus size."""
    if n_bins < 2:
        raise ValueError("st_cube_trend requires n_bins >= 2")
    pts = event_points(events)
    rng = pts.agg(
        F.min("ep").cast("long").alias("ep_lo"),
        F.max("ep").cast("long").alias("ep_hi"),
    )
    binned = pts.crossJoin(F.broadcast(rng)).select(
        event_cell(cell_shift).alias("cell"),
        F.expr(
            f"CAST(((ep - ep_lo) * {int(n_bins)}) DIV (ep_hi - ep_lo + 1) AS INT)"
        ).alias("bin"),
    )
    agg = binned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        *[
            F.sum(F.when(F.col("bin") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i in range(int(n_bins))
        ],
    )
    s_terms = " + ".join(
        f"(CASE WHEN c{j} > c{i} THEN 1 WHEN c{j} < c{i} THEN -1 ELSE 0 END)"
        for i in range(int(n_bins))
        for j in range(i + 1, int(n_bins))
    )
    s = F.expr(f"CAST({s_terms} AS BIGINT)")
    trend = (
        F.when(F.col("s_stat") >= int(s_min), "up")
        .when(F.col("s_stat") <= -int(s_min), "down")
        .otherwise("flat")
    )
    return (
        agg.withColumn("s_stat", s)
        .withColumn("trend", trend)
        .select("cell", "n_total", "s_stat", "trend")
    )


def st_cube_trend_oracle(
    cell_shift: int = 8, n_bins: int = 8, s_min: int = 6, table: str = "events"
) -> str:
    """Identical binning, conditional aggregation, and S expression."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    csums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
        for i in range(int(n_bins))
    )
    s_terms = " + ".join(
        f"(CASE WHEN c{j} > c{i} THEN 1 WHEN c{j} < c{i} THEN -1 ELSE 0 END)"
        for i in range(int(n_bins))
        for j in range(i + 1, int(n_bins))
    )
    return f"""WITH pts AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), rng AS (
  SELECT CAST(MIN(ep) AS BIGINT) AS ep_lo, CAST(MAX(ep) AS BIGINT) AS ep_hi FROM pts
), binned AS (
  SELECT cell, CAST(((ep - ep_lo) * {int(n_bins)}) // (ep_hi - ep_lo + 1) AS INT) AS bin
  FROM pts, rng
), agg AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_total,
         {csums}
  FROM binned GROUP BY cell
)
SELECT cell, n_total, CAST({s_terms} AS BIGINT) AS s_stat,
       CASE WHEN CAST({s_terms} AS BIGINT) >= {int(s_min)} THEN 'up'
            WHEN CAST({s_terms} AS BIGINT) <= -{int(s_min)} THEN 'down'
            ELSE 'flat' END AS trend
FROM agg"""


_OCTANT_SQL = """CASE
  WHEN dx = 0 AND dy = 0 THEN 8
  WHEN dx >= 0 AND dy >= 0 THEN (CASE WHEN dx > dy THEN 0 ELSE 1 END)
  WHEN dx < 0 AND dy >= 0 THEN (CASE WHEN dy >= -dx THEN 2 ELSE 3 END)
  WHEN dx < 0 AND dy < 0 THEN (CASE WHEN -dx > -dy THEN 4 ELSE 5 END)
  ELSE (CASE WHEN -dy >= dx THEN 6 ELSE 7 END)
END"""


def bearing_histogram(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Per-cell movement-direction histogram (flow-direction raster): each
    user's consecutive event pair (time-ordered, ``(ts, event_id)``
    tie-break) yields a displacement ``(dx, dy)`` classified into one of 8
    half-open 45-degree octants (0 = east-northeast quadrant edge,
    counter-clockwise; deterministic boundary rule in ``_OCTANT_SQL``,
    exact — only sign tests and |dx| vs |dy| comparisons, no trig) plus
    octant 8 for stationary pairs; counts group by the ORIGIN point's grid
    cell — ``(cell, octant, n_moves)``.

    The classic flow-map read-out (where does traffic in this cell head
    next).  Plan: ONE user_id shuffle for the lag window, then a hash
    aggregation with map-side combine on (cell, octant) — output bounded
    by 9 x occupied cells.  With the events table bucketed by user_id the
    window shuffle disappears."""
    pts = event_points(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.withColumn("px", F.lag("ex").over(w))
        .withColumn("py", F.lag("ey").over(w))
        .filter(F.col("px").isNotNull())
        .withColumn("dx", F.col("ex") - F.col("px"))
        .withColumn("dy", F.col("ey") - F.col("py"))
    )
    return (
        seg.select(
            event_cell(cell_shift, x="px", y="py").alias("cell"),
            F.expr(f"CAST({_OCTANT_SQL} AS INT)").alias("octant"),
        )
        .groupBy("cell", "octant")
        .agg(F.count(F.lit(1)).cast("long").alias("n_moves"))
    )


def bearing_histogram_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical lag window, octant CASE, and origin-cell derivation."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT user_id, ts, event_id,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), seg AS (
  SELECT LAG(ex) OVER w AS px, LAG(ey) OVER w AS py, ex, ey
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), moves AS (
  SELECT CAST((px // {step}) * {EDGE} + (py // {step}) AS BIGINT) AS cell,
         ex - px AS dx, ey - py AS dy
  FROM seg WHERE px IS NOT NULL
), tagged AS (
  SELECT cell, CAST({_OCTANT_SQL} AS INT) AS octant FROM moves
)
SELECT cell, octant, CAST(COUNT(*) AS BIGINT) AS n_moves
FROM tagged GROUP BY cell, octant"""


def radius_gyration(events: DataFrame) -> DataFrame:
    """Per-user radius of gyration (Gonzalez et al., Nature 2008 — the
    standard human-mobility spread metric), exact-integer form:
    ``(user_id, n_events, cx, cy, rg2)`` where the centroid is the integer
    mean (``SUM DIV COUNT``) and ``rg2`` is the mean squared deviation
    from that integer centroid, computed in ONE pass via the expansion
    ``SUM((x-cx)^2) = sx2 - 2*cx*sx + n*cx^2`` (all int64: coords are
    lattice values < 2^12, so sx2 <= n * 2^24 — safe past 2^38 events per
    user).

    Plan: a single hash aggregation on user_id with map-side combine —
    one shuffle, no window, no second pass (the centroid algebra avoids
    re-scanning)."""
    pts = event_points(events)
    agg = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ex").cast("long").alias("sx"),
        F.sum("ey").cast("long").alias("sy"),
        F.sum(F.col("ex") * F.col("ex")).cast("long").alias("sx2"),
        F.sum(F.col("ey") * F.col("ey")).cast("long").alias("sy2"),
    )
    return agg.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.expr("CAST(sx DIV n AS BIGINT)").alias("cx"),
        F.expr("CAST(sy DIV n AS BIGINT)").alias("cy"),
        F.expr(
            "CAST(((sx2 - 2 * (sx DIV n) * sx + n * (sx DIV n) * (sx DIV n))"
            " + (sy2 - 2 * (sy DIV n) * sy + n * (sy DIV n) * (sy DIV n)))"
            " DIV n AS BIGINT)"
        ).alias("rg2"),
    )


def radius_gyration_oracle(table: str = "events") -> str:
    """Identical one-pass centroid expansion in integer arithmetic."""
    from ..sources import derive

    return f"""WITH pts AS (
  SELECT user_id,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ex) AS BIGINT) AS sx, CAST(SUM(ey) AS BIGINT) AS sy,
         CAST(SUM(ex * ex) AS BIGINT) AS sx2, CAST(SUM(ey * ey) AS BIGINT) AS sy2
  FROM pts GROUP BY user_id
)
SELECT user_id, n AS n_events,
       CAST(sx // n AS BIGINT) AS cx, CAST(sy // n AS BIGINT) AS cy,
       CAST(((sx2 - 2 * (sx // n) * sx + n * (sx // n) * (sx // n))
             + (sy2 - 2 * (sy // n) * sy + n * (sy // n) * (sy // n)))
            // n AS BIGINT) AS rg2
FROM agg"""


def covisit_pairs(
    events: DataFrame,
    cell_shift: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """Co-visitation similarity join: user pairs ranked by the overlap of
    their DISTINCT visited-cell sets — ``(user_a, user_b, shared_cells,
    cells_a, cells_b, jac_pct)`` for pairs sharing at least ``min_shared``
    cells, with ``jac_pct = FLOOR(100 * |A∩B| / |A∪B|)`` exact by
    cross-multiplication-free integer division and ``user_a < user_b``.

    The space-only companion of :func:`colocation_pairs` (which requires
    time overlap): an inverted-index set-similarity join with cells as
    tokens.

    Plan: corpus collapses to DISTINCT (user, cell) first (hash agg with
    map-side combine — everything after is bounded by distinct pairs, not
    events), then the cell-keyed ``skew.keyed_pairs`` self-join generates
    candidates and one hash agg counts shared cells; per-user set sizes
    come from the tiny aggregated frame via broadcast-ready joins.  Skew: a
    cell visited by u users emits C(u,2) candidates (``keyed_pairs``); at
    100 TB cap it with a document-frequency cut on super-hot cells (drop
    cells above a visitor-count ceiling BEFORE the join — a lossy recall
    trade documented in the dedup family) or salt via AQE skew-join; exact
    as written at the workload's cell granularity."""
    pts = event_points(events)
    visits = (
        pts.select(
            "user_id",
            event_cell(cell_shift).alias("cell"),
        )
        .distinct()
        # the distinct is a full shuffle and the frame feeds FOUR consumers
        # (both join sides + the two size broadcasts) — pin it once
        .localCheckpoint(eager=False)
    )
    sizes = visits.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    shared = (
        keyed_pairs(visits, "cell", "user_id")
        .groupBy(F.col("user_id_a").alias("user_a"), F.col("user_id_b").alias("user_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_cells"))
        .filter(F.col("shared_cells") >= int(min_shared))
    )
    sa = sizes.select(F.col("user_id").alias("user_a"), F.col("n_cells").alias("cells_a"))
    sb = sizes.select(F.col("user_id").alias("user_b"), F.col("n_cells").alias("cells_b"))
    return (
        shared.join(F.broadcast(sa), "user_a")
        .join(F.broadcast(sb), "user_b")
        .select(
            "user_a",
            "user_b",
            "shared_cells",
            "cells_a",
            "cells_b",
            F.expr(
                "CAST((100 * shared_cells) DIV (cells_a + cells_b - shared_cells)"
                " AS BIGINT)"
            ).alias("jac_pct"),
        )
    )


def covisit_pairs_oracle(
    cell_shift: int = 8, min_shared: int = 2, table: str = "events"
) -> str:
    """Identical distinct-visit derivation, pair join, and FLOOR Jaccard."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH visits AS (
  SELECT DISTINCT user_id,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), sizes AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_cells FROM visits GROUP BY user_id
), shared AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         CAST(COUNT(*) AS BIGINT) AS shared_cells
  FROM visits a JOIN visits b
    ON a.cell = b.cell AND a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id
  HAVING COUNT(*) >= {int(min_shared)}
)
SELECT s.user_a, s.user_b, s.shared_cells,
       sa.n_cells AS cells_a, sb.n_cells AS cells_b,
       CAST((100 * s.shared_cells) // (sa.n_cells + sb.n_cells - s.shared_cells)
            AS BIGINT) AS jac_pct
FROM shared s
JOIN sizes sa ON s.user_a = sa.user_id
JOIN sizes sb ON s.user_b = sb.user_id"""


def cell_visit_gaps(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Per-cell revisit-interval profile: order each cell's events by
    ``(epoch, event_id)``, take consecutive gaps in whole seconds, and
    report ``(cell, n_gaps, median_gap, max_gap)`` with the DETERMINISTIC
    lower-median element (rank ``(n+1) DIV 2`` under ``(gap, event_id)``
    order — the zonal_median convention; element medians are exact and
    oracle-checkable where interpolated ones are float territory).

    The freshness/update-frequency raster (how often is each area
    observed) a monitoring pipeline uses to steer sampling.  Plan: ONE
    cell shuffle that BOTH windows reuse — the lag and the median rank
    partition identically, so Spark plans a single Exchange with two sorts
    — then one hash aggregation; everything after the scan is bounded by
    events-in-occupied-cells."""
    pts = event_points(events)
    cells = pts.select(
        "event_id",
        "ep",
        event_cell(cell_shift).alias("cell"),
    )
    w = Window.partitionBy("cell").orderBy("ep", "event_id")
    gaps = (
        cells.withColumn("prev", F.lag("ep").over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn("gap", (F.col("ep") - F.col("prev")).cast("long"))
    )
    wr = Window.partitionBy("cell").orderBy("gap", "event_id")
    wc = Window.partitionBy("cell")
    ranked = gaps.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    mid = F.expr("(n + 1) DIV 2")
    return ranked.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.max(F.when(F.col("rn") == mid, F.col("gap"))).cast("long").alias("median_gap"),
        F.max("gap").cast("long").alias("max_gap"),
    )


def cell_visit_gaps_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical lag, rank, and lower-median selection."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), lagged AS (
  SELECT cell, event_id, ep, LAG(ep) OVER (PARTITION BY cell ORDER BY ep, event_id) AS prev
  FROM pts
), gaps AS (
  SELECT cell, event_id, CAST(ep - prev AS BIGINT) AS gap
  FROM lagged WHERE prev IS NOT NULL
), ranked AS (
  SELECT cell, gap,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY gap, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY cell) AS n
  FROM gaps
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MAX(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT) THEN gap END) AS BIGINT) AS median_gap,
       CAST(MAX(gap) AS BIGINT) AS max_gap
FROM ranked GROUP BY cell"""


def knox_stat(
    events: DataFrame,
    s_radius: int = 64,
    t_window: int = 3600,
) -> DataFrame:
    """Knox space-time interaction test (Knox 1964, the epidemiology /
    crime-analytics standard): over all unordered event pairs, count how
    many are close in space (``d2 <= s_radius^2``), close in time
    (``|Δepoch| <= t_window``), and close in BOTH — one row
    ``(n_pairs, n_space, n_time, n_both)`` with ``n_pairs = C(n,2)`` in
    closed form.  An excess of ``n_both`` over ``n_space * n_time /
    n_pairs`` evidences space-time clustering (contagion); all four counts
    are exact integers so the caller can apply any reference distribution.

    Plan: NEVER all-pairs on the engine side —
    - space pairs: the unordered self-join form of the within-radius
      blocked join (``spatial_join._within_radius``, the half-offset
      blocking of ``distance_self_join``) at a cell size >= s_radius;
    - time pairs: the 1-D analogue — epoch buckets of width ``t_window``,
      each event probes its own and previous bucket (half-open dedup on
      event_id), so every qualifying pair meets in exactly one bucket;
    - n_both folds its predicate into the space join's output.
    Each side is one equi hash join bounded by its bucket occupancy, then
    a 1-row aggregate; the three 1-row frames cross-broadcast into the
    final row.  Pair volume inside hot buckets is the statistic's honest
    cost (same note as pair_distance_histogram)."""
    from .spatial_join import _within_radius

    tw = int(t_window)
    pts = event_points(events).select(
        "event_id", F.col("ex").alias("x"), F.col("ey").alias("y"), "ep"
    )

    n = pts.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_pairs = n.select(
        F.expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").alias("n_pairs")
    )

    # --- space side: each unordered pair meets once (half-offset blocking)
    sp = _within_radius(pts, pts, s_radius, tie="event_id")
    space_agg = sp.agg(
        F.count(F.lit(1)).cast("long").alias("n_space"),
        F.sum(
            F.when(
                F.abs(F.col("ep_a") - F.col("ep_b")) <= F.lit(tw), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
    )

    # --- time side: bucket width tw, probe own + next bucket
    ta = pts.select(
        F.col("event_id").alias("id_a"), F.col("ep").alias("ep_a")
    ).withColumn("o", F.explode(F.expr("array(0L, 1L)"))).withColumn(
        "tb", F.expr(f"ep_a DIV {tw}") + F.col("o")
    )
    tb_ = pts.select(
        F.col("event_id").alias("id_b"),
        F.col("ep").alias("ep_b"),
        F.expr(f"ep DIV {tw}").alias("tb"),
    )
    tm = (
        ta.join(tb_, "tb")
        .filter(
            ((F.col("o") == 0) & (F.col("id_a") < F.col("id_b")))
            | (F.col("o") == 1)
        )
        .filter(F.abs(F.col("ep_a") - F.col("ep_b")) <= F.lit(tw))
    )
    time_agg = tm.agg(F.count(F.lit(1)).cast("long").alias("n_time"))

    return (
        n_pairs.crossJoin(F.broadcast(space_agg))
        .crossJoin(F.broadcast(time_agg))
        .select("n_pairs", "n_space", "n_time", "n_both")
    )


def knox_stat_oracle(
    s_radius: int = 64, t_window: int = 3600, table: str = "events"
) -> str:
    """Same counts via the obvious quadratic-free forms: a 9-offset blocked
    space join (pair_distance_histogram's oracle idiom) and a +/-1 time
    bucket join, both deduped on event_id order."""
    from ..sources import derive
    from .spatial_join import _cell_shift

    s = _cell_shift(int(s_radius))  # same minimal lossless cell as engine
    r2 = int(s_radius) * int(s_radius)
    tw = int(t_window)
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""WITH pts AS (
  SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), prb AS (
  SELECT event_id, ex, ey, ep, (ex >> {s}) + dx AS cx, (ey >> {s}) + dy AS cy
  FROM pts, (VALUES {nine}) o(dx, dy)
), hom AS (
  SELECT event_id, ex, ey, ep, ex >> {s} AS cx, ey >> {s} AS cy FROM pts
), sp AS (
  SELECT ABS(p.ep - h.ep) AS dt
  FROM prb p JOIN hom h ON p.cx = h.cx AND p.cy = h.cy AND p.event_id < h.event_id
  WHERE (p.ex - h.ex) * (p.ex - h.ex) + (p.ey - h.ey) * (p.ey - h.ey) <= {r2}
), space_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_space,
         CAST(SUM(CASE WHEN dt <= {tw} THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM sp
), tprb AS (
  -- with the blanket event_id< dedup the probe must reach BOTH adjacent
  -- buckets: the smaller-id event may sit in the later bucket
  SELECT event_id, ep, (ep // {tw}) + o AS tb FROM pts, (VALUES (-1), (0), (1)) v(o)
), thom AS (
  SELECT event_id, ep, ep // {tw} AS tb FROM pts
), tm AS (
  SELECT 1 FROM tprb p JOIN thom h
    ON p.tb = h.tb AND p.event_id < h.event_id
  WHERE ABS(p.ep - h.ep) <= {tw}
), time_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_time FROM tm
), np AS (
  SELECT CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS n_pairs FROM pts
)
SELECT np.n_pairs, space_agg.n_space, time_agg.n_time, space_agg.n_both
FROM np, space_agg, time_agg"""


def impossible_travel(
    events: DataFrame,
    vmax: int = 2,
) -> DataFrame:
    """Impossible-travel detection (the account-security / data-quality
    primitive): per user, flag every consecutive event pair whose implied
    speed exceeds ``vmax`` lattice-units/second — division-free via the
    integer cross-multiplication ``d2 > vmax^2 * dt^2`` (a zero ``dt``
    with any displacement is flagged, as it should be).  Output
    ``(user_id, from_event, to_event, dt_s, dist2)`` for flagged segments.

    Plan: ONE user_id shuffle for the lag window, then a codegen filter —
    nothing else; output is bounded by violations.  Overflow audit:
    d2 < 2^25 on the 2^12 lattice, so the comparison is safe while
    ``vmax * dt < 2^19`` — dt is capped by the corpus time range (~2^17 s
    at the fixtures) and the predicate short-circuits mathematically for
    larger dt (big dt only LOWERS implied speed; we clamp the product at
    2^25 + 1 to stay exact and overflow-proof at any dt)."""
    v2 = int(vmax) * int(vmax)
    pts = event_points(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.withColumn("pe", F.lag("event_id").over(w))
        .withColumn("px", F.lag("ex").over(w))
        .withColumn("py", F.lag("ey").over(w))
        .withColumn("pp", F.lag("ep").over(w))
        .filter(F.col("pe").isNotNull())
        .withColumn("dt_s", (F.col("ep") - F.col("pp")).cast("long"))
        .withColumn(
            "dist2",
            (
                (F.col("ex") - F.col("px")) * (F.col("ex") - F.col("px"))
                + (F.col("ey") - F.col("py")) * (F.col("ey") - F.col("py"))
            ).cast("long"),
        )
    )
    # LEAST caps v2*dt2 at 2^25+1 (> any possible d2): exact AND immune to
    # int64 overflow for arbitrarily large dt
    cap = (1 << 25) + 1
    flagged = seg.filter(
        F.col("dist2")
        > F.expr(f"LEAST(CAST({cap} AS BIGINT), {v2} * dt_s * dt_s)")
    )
    return flagged.select(
        "user_id",
        F.col("pe").alias("from_event"),
        F.col("event_id").alias("to_event"),
        "dt_s",
        "dist2",
    )


def impossible_travel_oracle(vmax: int = 2, table: str = "events") -> str:
    """Identical lag window, cross-multiplication, and LEAST cap."""
    from ..sources import derive

    v2 = int(vmax) * int(vmax)
    cap = (1 << 25) + 1
    return f"""WITH pts AS (
  SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), seg AS (
  SELECT user_id, event_id,
         LAG(event_id) OVER w AS pe, LAG(ex) OVER w AS px,
         LAG(ey) OVER w AS py, LAG(ep) OVER w AS pp, ex, ey, ep
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), d AS (
  SELECT user_id, pe AS from_event, event_id AS to_event,
         CAST(ep - pp AS BIGINT) AS dt_s,
         CAST((ex - px) * (ex - px) + (ey - py) * (ey - py) AS BIGINT) AS dist2
  FROM seg WHERE pe IS NOT NULL
)
SELECT user_id, from_event, to_event, dt_s, dist2
FROM d WHERE dist2 > LEAST(CAST({cap} AS BIGINT), {v2} * dt_s * dt_s)"""


def geo_funnel(
    events: DataFrame,
    poly_a: dict,
    poly_b: dict,
    within_s: int = 86400,
) -> DataFrame:
    """Geo-funnel conversion (the product-analytics funnel over geofences):
    of the users whose events ever enter fence A, how many later reach
    fence B within ``within_s`` seconds of their FIRST A visit — one row
    ``(n_users, n_reached_a, n_converted, conv_ppm)`` with ``conv_ppm =
    FLOOR(1e6 * n_converted / n_reached_a)`` (NULL when nobody reaches A).
    ``t_b >= t_a`` (an event on or after the first A visit converts;
    simultaneous A∩B entry counts, deterministically in both engines).

    Membership is the exact even-odd ray cast of the PIP family
    (`operators/pip.py::inside_polygon_expr` — int64, division-free,
    matching `RSKQ_Biginteger.java`'s plaintext result-set contract).

    Plan: ONE user_id hash agg for first-A times (map-side combine), one
    user_id equi join of only the B-side events against only the reached
    users, a second user_id agg, then three 1-row aggregates broadcast
    into the summary — every stage keyed on user_id, so with the events
    table bucketed by user_id the whole funnel is shuffle-free.  No
    window, no per-event state."""
    from .pip import inside_polygon_expr

    pts = event_points(events)
    in_a = inside_polygon_expr(poly_a["vertices"], "ex", "ey")
    in_b = inside_polygon_expr(poly_b["vertices"], "ex", "ey")
    tagged = pts.select("user_id", "ep", in_a.alias("in_a"), in_b.alias("in_b"))
    first_a = (
        tagged.groupBy("user_id")
        .agg(F.min(F.when(F.col("in_a"), F.col("ep"))).alias("t_a"))
        .filter(F.col("t_a").isNotNull())
    )
    b_events = tagged.filter(F.col("in_b")).select("user_id", "ep")
    conv = (
        b_events.join(first_a, "user_id")
        .filter(F.col("ep") >= F.col("t_a"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t_b"), F.min("t_a").alias("t_a"))
        .filter(F.col("t_b") - F.col("t_a") <= F.lit(int(within_s)))
    )
    n_users = tagged.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    n_reached = first_a.agg(F.count(F.lit(1)).cast("long").alias("n_reached_a"))
    n_conv = conv.agg(F.count(F.lit(1)).cast("long").alias("n_converted"))
    return (
        n_users.crossJoin(F.broadcast(n_reached))
        .crossJoin(F.broadcast(n_conv))
        .select(
            "n_users",
            "n_reached_a",
            "n_converted",
            F.expr(
                "CASE WHEN n_reached_a > 0 "
                "THEN CAST((1000000 * n_converted) DIV n_reached_a AS BIGINT) "
                "END"
            ).alias("conv_ppm"),
        )
    )


def _pip_sql(verts: list, x: str, y: str) -> str:
    """Inline even-odd crossing parity as a single SQL boolean (edge VALUES
    folded into a summed CASE is the oracle idiom; here the edge list is
    inlined so the predicate drops into any WHERE/CASE position)."""
    from .pip import _edges

    terms = []
    for x1, y1, x2, y2 in _edges(verts):
        dy = f"({y2} - {y1})"
        cross = (
            f"CASE WHEN {y2} - {y1} > 0 "
            f"THEN {x} * {dy} < {x1} * {dy} + ({y} - {y1}) * ({x2} - {x1}) "
            f"ELSE {x} * {dy} > {x1} * {dy} + ({y} - {y1}) * ({x2} - {x1}) END"
        )
        terms.append(
            f"(CASE WHEN (({y1} > {y}) <> ({y2} > {y})) AND ({cross}) "
            f"THEN 1 ELSE 0 END)"
        )
    return f"(({' + '.join(terms)}) % 2 = 1)"


def geo_funnel_oracle(
    poly_a: dict, poly_b: dict, within_s: int = 86400, table: str = "events"
) -> str:
    """Identical ray cast, first-A agg, >= join rule, and FLOOR ppm."""
    from ..sources import derive

    in_a = _pip_sql(poly_a["vertices"], "ex", "ey")
    in_b = _pip_sql(poly_b["vertices"], "ex", "ey")
    return f"""WITH pts AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), tagged AS (
  SELECT user_id, ep, {in_a} AS in_a, {in_b} AS in_b FROM pts
), first_a AS (
  SELECT user_id, MIN(CASE WHEN in_a THEN ep END) AS t_a
  FROM tagged GROUP BY user_id HAVING MIN(CASE WHEN in_a THEN ep END) IS NOT NULL
), conv AS (
  SELECT b.user_id, MIN(b.ep) AS t_b, MIN(a.t_a) AS t_a
  FROM tagged b JOIN first_a a ON b.user_id = a.user_id
  WHERE b.in_b AND b.ep >= a.t_a
  GROUP BY b.user_id
  HAVING MIN(b.ep) - MIN(a.t_a) <= {int(within_s)}
)
SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM tagged) AS n_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM first_a) AS n_reached_a,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM conv) AS n_converted,
       CASE WHEN (SELECT COUNT(*) FROM first_a) > 0
            THEN CAST((1000000 * (SELECT COUNT(*) FROM conv))
                      // (SELECT COUNT(*) FROM first_a) AS BIGINT)
       END AS conv_ppm"""


def cell_peak_hours(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Per-cell diurnal peak: the hour-of-day (UTC, ``(ep DIV 3600) % 24``)
    with the most events in each cell — ``(cell, peak_hour, n_at_peak,
    n_total, share_ppm)``, ties to the smallest hour, FLOOR-ppm share.

    The diurnal-profile raster (commute zones vs nightlife zones).  Same
    shape as :func:`user_home_cells`: one (cell, hour) hash agg with
    map-side combine, then ONE window over the aggregated frame (<= 24
    rows per cell)."""
    pts = event_points(events)
    counts = (
        pts.select(
            event_cell(cell_shift).alias("cell"),
            F.expr("CAST((ep DIV 3600) % 24 AS INT)").alias("hour"),
        )
        .groupBy("cell", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("hour"))
    tot = Window.partitionBy("cell")
    return (
        counts.withColumn("n_total", F.sum("n").over(tot).cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cell",
            F.col("hour").alias("peak_hour"),
            F.col("n").alias("n_at_peak"),
            "n_total",
            F.expr("CAST((n * 1000000) DIV n_total AS BIGINT)").alias("share_ppm"),
        )
    )


def cell_peak_hours_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical hour derivation, window order, and FLOOR-ppm."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT CAST(((CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24) AS INT) AS hour,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), counts AS (
  SELECT cell, hour, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY cell, hour
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, hour) AS rn,
         CAST(SUM(n) OVER (PARTITION BY cell) AS BIGINT) AS n_total
  FROM counts
)
SELECT cell, hour AS peak_hour, n AS n_at_peak, n_total,
       CAST((n * 1000000) // n_total AS BIGINT) AS share_ppm
FROM ranked WHERE rn = 1"""


def cell_recency_scores(
    events: DataFrame, cell_shift: int = 8, horizon_s: int = 604800
) -> DataFrame:
    """Freshness-weighted density raster: each cell scored by the LINEAR
    recency kernel ``score = SUM(GREATEST(0, horizon - age))`` with ``age
    = max_epoch - epoch`` relative to the corpus frontier — ``(cell,
    n_events, n_recent, score)`` where ``n_recent`` counts events inside
    the horizon.  The linear kernel keeps the decay exact-integer
    (exponential decay is float territory); at 10^12 events the score is
    bounded by ``horizon * events-per-cell`` — int64-safe below ~2^44
    events per cell at the week-long default.

    Plan: one 1-value max broadcast + ONE per-cell conditional hash agg
    with map-side combine — identical shape to emerging_hotspots."""
    pts = event_points(events)
    frontier = pts.agg(F.max("ep").cast("long").alias("ep_max"))
    h = int(horizon_s)
    return (
        pts.crossJoin(F.broadcast(frontier))
        .select(
            event_cell(cell_shift).alias("cell"),
            (F.col("ep_max") - F.col("ep")).alias("age"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("age") <= h, 1).otherwise(0))
            .cast("long")
            .alias("n_recent"),
            F.sum(F.expr(f"GREATEST(0, {h} - age)")).cast("long").alias("score"),
        )
    )


def cell_recency_scores_oracle(
    cell_shift: int = 8, horizon_s: int = 604800, table: str = "events"
) -> str:
    """Identical frontier, age, and linear kernel."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    h = int(horizon_s)
    return f"""WITH pts AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), f AS (SELECT CAST(MAX(ep) AS BIGINT) AS ep_max FROM pts)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ep_max - ep <= {h} THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
       CAST(SUM(GREATEST(0, {h} - (ep_max - ep))) AS BIGINT) AS score
FROM pts, f GROUP BY cell"""


def companion_pairs(
    events: DataFrame,
    cell_shift: int = 8,
    window_minutes: int = 60,
    min_windows: int = 3,
) -> DataFrame:
    """Persistent-companion detection (the convoy/flock-lite primitive):
    user pairs that appear in the SAME grid cell during the SAME
    epoch-aligned time window in at least ``min_windows`` DISTINCT windows
    — ``(user_a, user_b, n_windows)`` with ``user_a < user_b``.  Unlike
    :func:`colocation_pairs` (stay-point interval overlap) this is the
    discretized space-time co-occurrence count, the form that scales to
    arbitrary corpus sizes because everything is set algebra over
    (user, window, cell) presence rows.

    Plan: events collapse to DISTINCT (user, window, cell) FIRST (hash agg
    with map-side combine); the (window, cell)-keyed ``skew.keyed_pairs``
    self-join generates candidate pairs; a second DISTINCT drops duplicate
    same-window co-occurrences (two users sharing several cells in one
    window count once); a final hash agg counts windows.  Never all-pairs —
    candidates are bounded by per-(window, cell) occupancy, C(u, 2) for u
    users in one bucket (the cost ``keyed_pairs`` documents)."""
    secs = int(window_minutes) * 60
    pts = event_points(events)
    presence = pts.select(
        "user_id",
        F.expr(f"CAST(ep DIV {secs} AS BIGINT)").alias("w"),
        event_cell(cell_shift).alias("cell"),
    ).distinct()
    together = (
        keyed_pairs(presence, ["w", "cell"], "user_id")
        .select(F.col("user_id_a").alias("user_a"), F.col("user_id_b").alias("user_b"), "w")
        .distinct()
    )
    return (
        together.groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
        .filter(F.col("n_windows") >= int(min_windows))
    )


def companion_pairs_oracle(
    cell_shift: int = 8,
    window_minutes: int = 60,
    min_windows: int = 3,
    table: str = "events",
) -> str:
    """Identical presence derivation, pair join, and window dedup."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    secs = int(window_minutes) * 60
    return f"""WITH presence AS (
  SELECT DISTINCT user_id,
         CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // {secs} AS BIGINT) AS w,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), together AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b, a.w
  FROM presence a JOIN presence b
    ON a.w = b.w AND a.cell = b.cell AND a.user_id < b.user_id
)
SELECT user_a, user_b, CAST(COUNT(*) AS BIGINT) AS n_windows
FROM together GROUP BY user_a, user_b
HAVING COUNT(*) >= {int(min_windows)}"""


def cell_trigrams(
    events: DataFrame,
    cell_shift: int = 8,
    top_k: int = 20,
) -> DataFrame:
    """Top-k 3-cell movement paths (route mining): per user the event
    sequence compresses to its CELL-CHANGE sequence (consecutive repeats
    of the same cell collapse — routes, not dwell), then every consecutive
    cell triple counts — ``(c1, c2, c3, n_paths)``, the ``top_k`` most
    frequent with deterministic ``(n DESC, c1, c2, c3)`` order.

    Plan: ONE user_id shuffle that BOTH window passes reuse (the
    compression lag and the trigram lags partition identically), a hash
    agg with map-side combine on the triple, and a partial top-k
    (orderBy + limit = TakeOrderedAndProject — each partition keeps k)."""
    pts = event_points(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    celled = pts.withColumn("cell", event_cell(cell_shift))
    changed = celled.withColumn("pc", F.lag("cell").over(w)).filter(
        F.col("pc").isNull() | (F.col("pc") != F.col("cell"))
    )
    tri = (
        changed.withColumn("c2", F.lag("cell", 1).over(w))
        .withColumn("c1", F.lag("cell", 2).over(w))
        .filter(F.col("c1").isNotNull())
        .select("c1", F.col("c2"), F.col("cell").alias("c3"))
    )
    return (
        tri.groupBy("c1", "c2", "c3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "c1", "c2", "c3")
        .limit(int(top_k))
    )


def cell_trigrams_oracle(
    cell_shift: int = 8, top_k: int = 20, table: str = "events"
) -> str:
    """Identical compression, lags, count, and deterministic top-k."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT user_id, ts, event_id,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), marked AS (
  SELECT user_id, ts, event_id, cell,
         LAG(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pc
  FROM pts
), changed AS (
  SELECT user_id, ts, event_id, cell FROM marked
  WHERE pc IS NULL OR pc <> cell
), tri AS (
  SELECT LAG(cell, 2) OVER w AS c1, LAG(cell, 1) OVER w AS c2, cell AS c3
  FROM changed WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT c1, c2, c3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM tri WHERE c1 IS NOT NULL
GROUP BY c1, c2, c3
ORDER BY n_paths DESC, c1, c2, c3
LIMIT {int(top_k)}"""


def cell_dow_anomaly(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Day-of-week anomaly raster: per cell the most over-represented
    weekday relative to a uniform weekly profile — ``(cell, n_total,
    peak_dow, dev_scaled)`` where ``dev_scaled = MAX_d(7*n_d - n_total)``
    (the deviation in SEVENTHS-of-an-event, exact — no division) and
    ``peak_dow`` is the arg-max day (0 = Thursday, epoch convention;
    smallest day on ties).  Weekend-market vs weekday-commuter zones.

    Plan: ONE per-cell conditional aggregation (7 SUM(CASE) columns with
    map-side combine); the arg-max over the 7 aggregated columns is a
    literal codegen greatest/CASE chain — no window, no second pass."""
    pts = event_points(events)
    agg = (
        pts.select(
            event_cell(cell_shift).alias("cell"),
            F.expr("CAST((ep DIV 86400) % 7 AS INT)").alias("dow"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            *[
                F.sum(F.when(F.col("dow") == d, 1).otherwise(0))
                .cast("long")
                .alias(f"d{d}")
                for d in range(7)
            ],
        )
    )
    dev_max = "GREATEST(" + ", ".join(f"7 * d{d} - n_total" for d in range(7)) + ")"
    peak = "CASE " + " ".join(
        f"WHEN 7 * d{d} - n_total = ({dev_max}) THEN {d}" for d in range(7)
    ) + " END"
    return agg.select(
        "cell",
        "n_total",
        F.expr(f"CAST({peak} AS INT)").alias("peak_dow"),
        F.expr(f"CAST({dev_max} AS BIGINT)").alias("dev_scaled"),
    )


def cell_dow_anomaly_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical dow derivation, conditional sums, and arg-max CASE order."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    dsums = ",\n         ".join(
        f"CAST(SUM(CASE WHEN dow = {d} THEN 1 ELSE 0 END) AS BIGINT) AS d{d}"
        for d in range(7)
    )
    dev_max = "GREATEST(" + ", ".join(f"7 * d{d} - n_total" for d in range(7)) + ")"
    peak = "CASE " + " ".join(
        f"WHEN 7 * d{d} - n_total = ({dev_max}) THEN {d}" for d in range(7)
    ) + " END"
    return f"""WITH pts AS (
  SELECT CAST(((CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) % 7) AS INT) AS dow,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), agg AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_total,
         {dsums}
  FROM pts GROUP BY cell
)
SELECT cell, n_total, CAST({peak} AS INT) AS peak_dow,
       CAST({dev_max} AS BIGINT) AS dev_scaled
FROM agg"""


def user_home_scd(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """SCD-2 home-cell DIMENSION: per user, the daily home cell collapsed
    into calendar-consecutive validity intervals — ``(user_id, home_cell,
    day_from, day_to, n_days)`` where the home of a day is the user's
    most-visited cell that day (ties toward the smallest cell id, the
    :func:`user_home_cells` rule) and an interval is a maximal run of
    consecutive days with the same home.  This is slowly-changing-
    dimension (type 2) construction — the warehouse primitive that turns
    an event stream into a versioned location profile with validity
    ranges, the batch analogue of the reference's versioned update chains
    (`Scheme/RSKQ/RSKQ_Biginteger.java:490-616, reference`).

    Plan: one (user, day, cell) hash agg with map-side combine, one
    window for the daily argmax, then the gaps-and-islands collapse — the
    island key ``day - ROW_NUMBER() OVER (user, cell ORDER BY day)`` is
    constant exactly while days are consecutive AND the home is unchanged
    (a day owned by a different cell is absent from this cell's sequence,
    so it breaks the run like a true gap).  Every post-agg frame is
    bounded by distinct (user, day); all windows share the user_id
    partitioning, so the whole pipeline is ONE shuffle."""
    pts = event_points(events)
    daily = (
        pts.select(
            "user_id",
            F.expr("CAST(ep DIV 86400 AS BIGINT)").alias("day"),
            event_cell(cell_shift).alias("cell"),
        )
        .groupBy("user_id", "day", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w_day = Window.partitionBy("user_id", "day").orderBy(
        F.desc("n"), F.asc("cell")
    )
    homes = (
        daily.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("cell").alias("home_cell"))
    )
    w_run = Window.partitionBy("user_id", "home_cell").orderBy("day")
    return (
        homes.withColumn(
            "island", F.col("day") - F.row_number().over(w_run)
        )
        .groupBy("user_id", "home_cell", "island")
        .agg(
            F.min("day").cast("long").alias("day_from"),
            F.max("day").cast("long").alias("day_to"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .select("user_id", "home_cell", "day_from", "day_to", "n_days")
    )


def user_home_scd_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical daily argmax and island collapse."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH pts AS (
  SELECT user_id, CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS BIGINT) AS day,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), daily AS (
  SELECT user_id, day, cell, CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY user_id, day, cell
), homes AS (
  SELECT user_id, day, cell AS home_cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, day
                                 ORDER BY n DESC, cell) AS rn
    FROM daily) WHERE rn = 1
), runs AS (
  SELECT user_id, home_cell, day,
         day - ROW_NUMBER() OVER (PARTITION BY user_id, home_cell
                                  ORDER BY day) AS island
  FROM homes
)
SELECT user_id, home_cell, CAST(MIN(day) AS BIGINT) AS day_from,
       CAST(MAX(day) AS BIGINT) AS day_to,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM runs GROUP BY user_id, home_cell, island"""


def cell_flow_balance(
    events: DataFrame, window_minutes: int = 60, cell_shift: int = 8
) -> DataFrame:
    """Flow-DIVERGENCE raster: per cell, total inflow, outflow, net flow,
    and self-contained flows across all OD windows — ``(cell, inflow,
    outflow, net_flow, self_flows)``.  Positive net marks attractors
    (sinks), negative marks sources; the classic urban-dynamics statistic
    computed from the :func:`od_flows` matrix.

    Plan: the OD aggregation's two hash-agg stages, then each OD row
    contributes up to two rows of a union (destination +n / origin +n,
    split at self-flows) into ONE final cell-keyed agg — all frames
    bounded by distinct OD triples, never events."""
    od = od_flows(events, window_minutes, cell_shift)
    moved = od.filter(F.col("o_cell") != F.col("d_cell"))
    z = F.lit(0).cast("long")
    n = F.col("n_flows").cast("long")
    contrib = (
        moved.select(
            F.col("d_cell").alias("cell"), n.alias("i"), z.alias("o"), z.alias("s")
        )
        .union(
            moved.select(
                F.col("o_cell").alias("cell"), z.alias("i"), n.alias("o"), z.alias("s")
            )
        )
        .union(
            od.filter(F.col("o_cell") == F.col("d_cell")).select(
                F.col("o_cell").alias("cell"), z.alias("i"), z.alias("o"), n.alias("s")
            )
        )
    )
    return contrib.groupBy("cell").agg(
        F.sum("i").cast("long").alias("inflow"),
        F.sum("o").cast("long").alias("outflow"),
        (F.sum("i") - F.sum("o")).cast("long").alias("net_flow"),
        F.sum("s").cast("long").alias("self_flows"),
    )


def cell_flow_balance_oracle(
    window_minutes: int = 60, cell_shift: int = 8, table: str = "events"
) -> str:
    """Replays the od_flows oracle as a subquery, then the identical
    contribution union + cell agg."""
    od_sql = od_flows_oracle(window_minutes, cell_shift, table)
    return f"""WITH flows AS ({od_sql}), contrib AS (
  SELECT d_cell AS cell, CAST(n_flows AS BIGINT) AS i,
         CAST(0 AS BIGINT) AS o, CAST(0 AS BIGINT) AS s
  FROM flows WHERE o_cell <> d_cell
  UNION ALL
  SELECT o_cell, 0, CAST(n_flows AS BIGINT), 0
  FROM flows WHERE o_cell <> d_cell
  UNION ALL
  SELECT o_cell, 0, 0, CAST(n_flows AS BIGINT)
  FROM flows WHERE o_cell = d_cell
)
SELECT cell, CAST(SUM(i) AS BIGINT) AS inflow,
       CAST(SUM(o) AS BIGINT) AS outflow,
       CAST(SUM(i) - SUM(o) AS BIGINT) AS net_flow,
       CAST(SUM(s) AS BIGINT) AS self_flows
FROM contrib GROUP BY cell"""


def user_drift(events: DataFrame, days: int = 7) -> DataFrame:
    """Per-user centroid DRIFT: the displacement of each user's integer
    activity centroid between consecutive active ``days``-day buckets —
    ``(user_id, bucket, n_events, cx, cy, dx, dy, gap_buckets, dist2)``,
    one row per active bucket that HAS a previous active bucket (the first
    bucket per user has no drift and is not emitted).  The longitudinal
    companion of :func:`radius_gyration` (spread at a moment) — drift is
    the classic home-relocation / migration detector over a mobility
    corpus.

    Exact-integer: bucket = whole-second epoch DIV (days*86400), centroid =
    coordinate sums DIV count, dist2 = dx^2 + dy^2 — no floats anywhere.

    Plan: events are shuffled ONCE (the (user_id, bucket) hash agg with
    map-side combine); the lag window re-shuffles only the AGGREGATED
    frame — |users| x |active buckets| rows, never events.  No joins, no
    explode."""
    day_s = int(days) * 86400
    pts = event_points(events)
    agg = pts.groupBy(
        "user_id", F.expr(f"CAST(ep DIV {day_s} AS BIGINT)").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("CAST(SUM(ex) DIV COUNT(*) AS BIGINT)").alias("cx"),
        F.expr("CAST(SUM(ey) DIV COUNT(*) AS BIGINT)").alias("cy"),
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    dx = F.col("cx") - F.lag("cx").over(w)
    dy = F.col("cy") - F.lag("cy").over(w)
    out = (
        agg.withColumn("dx", dx)
        .withColumn("dy", dy)
        .withColumn(
            "gap_buckets", (F.col("bucket") - F.lag("bucket").over(w)).cast("long")
        )
    )
    return out.filter(F.col("dx").isNotNull()).select(
        "user_id",
        "bucket",
        "n_events",
        "cx",
        "cy",
        F.col("dx").cast("long").alias("dx"),
        F.col("dy").cast("long").alias("dy"),
        "gap_buckets",
        (F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
        .cast("long")
        .alias("dist2"),
    )


def user_drift_oracle(days: int = 7, table: str = "events") -> str:
    """Identical bucket/centroid/lag arithmetic (epoch is whole-second in
    the fixture, so ``epoch()`` and Spark's long cast agree; ``//`` is
    DuckDB's floor division on the non-negative lattice = Spark's DIV)."""
    from ..sources import derive

    day_s = int(days) * 86400
    return f"""WITH ud_pts AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / {day_s}) AS BIGINT) AS bucket,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), ud_agg AS (
  SELECT user_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(ex) // COUNT(*) AS BIGINT) AS cx,
         CAST(SUM(ey) // COUNT(*) AS BIGINT) AS cy
  FROM ud_pts GROUP BY 1, 2
), ud_lag AS (
  SELECT user_id, bucket, n_events, cx, cy,
         cx - LAG(cx) OVER w AS dx, cy - LAG(cy) OVER w AS dy,
         CAST(bucket - LAG(bucket) OVER w AS BIGINT) AS gap_buckets
  FROM ud_agg WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
)
SELECT user_id, bucket, n_events, cx, cy,
       CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy, gap_buckets,
       CAST(dx * dx + dy * dy AS BIGINT) AS dist2
FROM ud_lag WHERE dx IS NOT NULL"""


def od_asymmetry(
    events: DataFrame, window_minutes: int = 60, cell_shift: int = 8
) -> DataFrame:
    """Directional IMBALANCE of the OD matrix: for every unordered cell
    pair with flow in at least one direction, the two directional totals
    and the integer asymmetry index — ``(cell_a, cell_b, flow_ab, flow_ba,
    asym_pct)`` with ``cell_a < cell_b`` and ``asym_pct = FLOOR(100 *
    |ab - ba| / (ab + ba))`` (0 = perfectly balanced commute, 100 =
    one-way).  The classic commuting-structure statistic over
    :func:`od_flows`.

    Plan: the OD aggregation's two hash-agg stages, then ONE more
    map-side-combined agg on the normalized pair key (least/greatest) with
    conditional sums — every frame bounded by distinct OD triples."""
    od = od_flows(events, window_minutes, cell_shift).filter(
        F.col("o_cell") != F.col("d_cell")
    )
    lo = F.least("o_cell", "d_cell")
    hi = F.greatest("o_cell", "d_cell")
    n = F.col("n_flows").cast("long")
    agg = od.groupBy(lo.alias("cell_a"), hi.alias("cell_b")).agg(
        F.sum(F.when(F.col("o_cell") < F.col("d_cell"), n).otherwise(F.lit(0)))
        .cast("long")
        .alias("flow_ab"),
        F.sum(F.when(F.col("o_cell") > F.col("d_cell"), n).otherwise(F.lit(0)))
        .cast("long")
        .alias("flow_ba"),
    )
    asym = F.expr(
        "CAST(FLOOR(100 * ABS(flow_ab - flow_ba) / (flow_ab + flow_ba)) AS BIGINT)"
    )
    return agg.withColumn("asym_pct", asym)


def od_asymmetry_oracle(
    window_minutes: int = 60, cell_shift: int = 8, table: str = "events"
) -> str:
    """Replays the od_flows oracle, then the identical normalized-pair agg
    (DuckDB LEAST/GREATEST + integer FLOOR index)."""
    od_sql = od_flows_oracle(window_minutes, cell_shift, table)
    return f"""WITH oa_flows AS ({od_sql}), oa AS (
  SELECT LEAST(o_cell, d_cell) AS cell_a, GREATEST(o_cell, d_cell) AS cell_b,
         CAST(SUM(CASE WHEN o_cell < d_cell THEN n_flows ELSE 0 END) AS BIGINT) AS flow_ab,
         CAST(SUM(CASE WHEN o_cell > d_cell THEN n_flows ELSE 0 END) AS BIGINT) AS flow_ba
  FROM oa_flows WHERE o_cell <> d_cell GROUP BY 1, 2
)
SELECT cell_a, cell_b, flow_ab, flow_ba,
       CAST(FLOOR(100 * ABS(flow_ab - flow_ba) / (flow_ab + flow_ba)) AS BIGINT) AS asym_pct
FROM oa"""


def user_entropy(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Per-user visit DIVERSITY (mobility predictability, Song et al. 2010
    lineage, in exact-integer Simpson form): ``(user_id, n_events, n_cells,
    simpson_e6)`` where ``simpson_e6 = FLOOR(1e6 * SUM(n_c^2) / n^2)`` over
    the user's per-cell visit counts — 1e6 means every event in one cell
    (fully predictable), 1e6/n_cells means uniform spread.  Simpson instead
    of Shannon because it stays in integer/FLOOR-division arithmetic both
    engines compute bit-identically (no logarithms).

    Plan: two hash aggregations — (user, cell) counts, then the per-user
    moment fold — both map-side combined; the second runs over the bounded
    (user, cell) frame.  No window, no join.

    Overflow bound (ANSI): ``1e6 * SUM(nc^2) <= 1e6 * n^2`` stays inside
    int64 while a single user has <= ~3.0M events — far above any real
    per-user cardinality; past that, pre-divide by ``SUM(nc)`` first (the
    documented dial, costs one ulp of the e6 quantization)."""
    pts = event_points(events)
    per_cell = pts.groupBy(
        "user_id",
        event_cell(cell_shift).alias("vcell"),
    ).agg(F.count(F.lit(1)).cast("long").alias("nc"))
    return per_cell.groupBy("user_id").agg(
        F.sum("nc").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            "CAST(FLOOR(1000000 * SUM(nc * nc) / (SUM(nc) * SUM(nc))) AS BIGINT)"
        ).alias("simpson_e6"),
    )


def user_entropy_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical two-level fold (DuckDB ``>>`` matches Spark shiftright on
    the non-negative lattice; FLOOR-wrapped division only)."""
    from ..sources import derive

    s = int(cell_shift)
    return f"""WITH ue_pts AS (
  SELECT user_id,
         (({derive.x_sql('event_id')} >> {s}) * 65536
          + ({derive.y_sql('event_id')} >> {s})) AS vcell
  FROM {table}
), ue_cells AS (
  SELECT user_id, vcell, CAST(COUNT(*) AS BIGINT) AS nc
  FROM ue_pts GROUP BY 1, 2
)
SELECT user_id, CAST(SUM(nc) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(FLOOR(1000000 * SUM(nc * nc) / (SUM(nc) * SUM(nc))) AS BIGINT)
         AS simpson_e6
FROM ue_cells GROUP BY user_id"""


def hotspot_persistence(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Temporal STABILITY of hotspots: per cell, how many days it was
    active and how many of those it ranked in the day's top decile of
    cells by event count — ``(cell, n_days_active, n_days_hot)``.  The
    emerging/persistent/sporadic classification input of the space-time
    hot-spot family (complements the two-horizon
    :func:`emerging_hotspots`, which compares exactly two windows).

    Exact integer rule: a cell is hot on a day iff its dense rank by
    ``(count DESC, cell ASC)`` is ``<= CEIL(n_active_cells / 10)``
    (integer ``(n + 9) DIV 10``) — deterministic, engine-neutral.

    Plan: ONE events pass into the (day, cell) histogram (map-side
    combine), then a per-day ranking window and the final per-cell agg —
    both over |days| x |active cells| rows, never events."""
    pts = event_points(events)
    s = int(cell_shift)
    daily = pts.groupBy(
        F.expr("CAST(ep DIV 86400 AS BIGINT)").alias("day"),
        (F.shiftright("ex", s) * 65536 + F.shiftright("ey", s)).alias("cell"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("day").orderBy(F.desc("n"), F.asc("cell"))
    wd = Window.partitionBy("day")
    ranked = daily.withColumn("r", F.row_number().over(w)).withColumn(
        "nact", F.count(F.lit(1)).over(wd)
    )
    # integer ceil: r <= (nact + 9) DIV 10 — integer on both sides
    hot = F.expr("CASE WHEN r <= (nact + 9) DIV 10 THEN 1 ELSE 0 END")
    return ranked.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_active"),
        F.sum(hot).cast("long").alias("n_days_hot"),
    )


def hotspot_persistence_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical daily histogram, per-day ranking, and integer-ceil decile
    rule."""
    from ..sources import derive

    s = int(cell_shift)
    return f"""WITH hp_pts AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
         (({derive.x_sql('event_id')} >> {s}) * 65536
          + ({derive.y_sql('event_id')} >> {s})) AS cell
  FROM {table}
), hp_daily AS (
  SELECT day, cell, CAST(COUNT(*) AS BIGINT) AS n
  FROM hp_pts GROUP BY 1, 2
), hp_ranked AS (
  SELECT day, cell, n,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, cell) AS r,
         COUNT(*) OVER (PARTITION BY day) AS nact
  FROM hp_daily
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_days_active,
       CAST(SUM(CASE WHEN r <= (nact + 9) // 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_days_hot
FROM hp_ranked GROUP BY cell"""


def cell_mad_anomaly(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Robust per-cell anomaly detection over the daily activity series —
    ``(cell, n_days, med_n, mad, n_anomalies)``: for each cell, the exact
    lower MEDIAN of its daily event counts, the median absolute deviation
    around it, and how many active days deviate by more than ``3 * mad``
    (the classic robust outlier rule, immune to the anomalies themselves
    — unlike a mean/stddev z-score, one burst day cannot mask itself by
    inflating the scale estimate).

    Exact integer discipline: both medians are the deterministic
    lower-median ELEMENT — the value at rank ``(n + 1) DIV 2`` under
    ``(value, day)`` order (same rule as ``spatial_join.zonal_median``);
    with ``mad = 0`` any nonzero deviation is anomalous (deterministic,
    replayed identically by the oracle).  Only ACTIVE days enter the
    series (a day with zero events is absent, consistently with
    ``hotspot_persistence``).

    Plan: ONE events pass into the (day, cell) histogram with map-side
    combine, then two rank-window + join passes over |days| x |active
    cells| rows — events shuffle once; everything after is
    histogram-bounded."""
    pts = event_points(events)
    s = int(cell_shift)
    daily = pts.groupBy(
        F.expr("CAST(ep DIV 86400 AS BIGINT)").alias("day"),
        (F.shiftright("ex", s) * 65536 + F.shiftright("ey", s)).alias("cell"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w1 = Window.partitionBy("cell").orderBy("n", "day")
    wc = Window.partitionBy("cell")
    mid = F.expr("(cnt + 1) DIV 2")
    med = (
        daily.withColumn("rn", F.row_number().over(w1))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .groupBy("cell")
        .agg(F.max(F.when(F.col("rn") == mid, F.col("n"))).alias("med_n"))
    )
    dev = daily.join(med, "cell").withColumn(
        "ad", F.abs(F.col("n") - F.col("med_n"))
    )
    w2 = Window.partitionBy("cell").orderBy("ad", "day")
    mad = (
        dev.withColumn("rn", F.row_number().over(w2))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .groupBy("cell")
        .agg(F.max(F.when(F.col("rn") == mid, F.col("ad"))).alias("mad"))
    )
    return (
        dev.join(mad, "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("med_n").alias("med_n"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_anomalies"),
        )
    )


def cell_mad_anomaly_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical daily histogram, lower-median element, MAD, and 3*mad
    rule."""
    from ..sources import derive

    s = int(cell_shift)
    return f"""WITH ma_pts AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
         (({derive.x_sql('event_id')} >> {s}) * 65536
          + ({derive.y_sql('event_id')} >> {s})) AS cell
  FROM {table}
), ma_daily AS (
  SELECT day, cell, CAST(COUNT(*) AS BIGINT) AS n
  FROM ma_pts GROUP BY 1, 2
), ma_rk AS (
  SELECT day, cell, n,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n, day) AS rn,
         COUNT(*) OVER (PARTITION BY cell) AS cnt
  FROM ma_daily
), ma_med AS (
  SELECT cell, MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n END) AS med_n
  FROM ma_rk GROUP BY cell
), ma_dev AS (
  SELECT d.day, d.cell, d.n, m.med_n, ABS(d.n - m.med_n) AS ad
  FROM ma_daily d JOIN ma_med m ON d.cell = m.cell
), ma_rk2 AS (
  SELECT cell, ad,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ad, day) AS rn,
         COUNT(*) OVER (PARTITION BY cell) AS cnt
  FROM ma_dev
), ma_mad AS (
  SELECT cell, MAX(CASE WHEN rn = (cnt + 1) // 2 THEN ad END) AS mad
  FROM ma_rk2 GROUP BY cell
)
SELECT d.cell, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(d.med_n) AS BIGINT) AS med_n,
       CAST(MAX(m.mad) AS BIGINT) AS mad,
       CAST(SUM(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM ma_dev d JOIN ma_mad m ON d.cell = m.cell
GROUP BY d.cell"""


def gravity_residuals(
    events: DataFrame,
    window_minutes: int = 60,
    cell_shift: int = 8,
    min_flows: int = 3,
) -> DataFrame:
    """Gravity-model screening of the OD matrix — ``(o_cell, d_cell,
    n_flows, o_out, d_in, lift_ppm)`` for OD pairs with at least
    ``min_flows`` observed flows: the observed flow count against the
    zero-parameter gravity expectation ``E[o,d] = o_out * d_in / G``
    (``o_out``/``d_in`` the marginals, ``G`` the grand total), expressed
    as ``lift_ppm = FLOOR(1e6 * n_flows * G / (o_out * d_in))`` — 1e6 =
    exactly as gravity predicts, above = a corridor stronger than its
    endpoints explain (the anomalous-corridor detector on top of
    :func:`od_flows`; :func:`od_asymmetry` screens direction, this
    screens magnitude).

    Exact integer discipline: one FLOOR; int64-safe while ``n_flows * G <
    9.2e12`` (G = total user-window flows — at larger G pre-aggregate per
    shard or drop the ppm factor to 1e3; documented, not silent).

    Plan: the od_flows histogram (two map-side-combined aggs over the
    events pass) collapsed over windows, then two OD-bounded marginal
    aggs broadcast back — nothing after the first agg touches events."""
    total_od = (
        od_flows(events, window_minutes, cell_shift)
        .groupBy("o_cell", "d_cell")
        .agg(F.sum("n_flows").cast("long").alias("n_flows"))
        .localCheckpoint()
    )
    o_marg = total_od.groupBy("o_cell").agg(F.sum("n_flows").alias("o_out"))
    d_marg = total_od.groupBy("d_cell").agg(F.sum("n_flows").alias("d_in"))
    g = total_od.agg(F.sum("n_flows").alias("g_total"))
    return (
        total_od.filter(F.col("n_flows") >= int(min_flows))
        .join(F.broadcast(o_marg), "o_cell")
        .join(F.broadcast(d_marg), "d_cell")
        .crossJoin(F.broadcast(g))
        .select(
            "o_cell",
            "d_cell",
            "n_flows",
            F.col("o_out").cast("long").alias("o_out"),
            F.col("d_in").cast("long").alias("d_in"),
            F.expr(
                "CAST((n_flows * g_total * 1000000) DIV (o_out * d_in) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def gravity_residuals_oracle(
    window_minutes: int = 60,
    cell_shift: int = 8,
    min_flows: int = 3,
    table: str = "events",
) -> str:
    """Identical OD histogram (the od_flows oracle collapsed over
    windows), marginals, and FLOOR-ppm lift."""
    from ..sources import derive
    from ..sources.derive import EDGE

    secs = int(window_minutes) * 60
    step = 1 << int(cell_shift)
    return f"""WITH gr_pts AS (
  SELECT user_id, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), gr_keyed AS (
  SELECT user_id, cell, ep - ep % {secs} AS window_start_s,
         ROW_NUMBER() OVER (PARTITION BY user_id, ep - ep % {secs}
                            ORDER BY ep, event_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id, ep - ep % {secs}
                            ORDER BY ep DESC, event_id DESC) AS rl
  FROM gr_pts
), gr_od AS (
  SELECT f.cell AS o_cell, l.cell AS d_cell
  FROM (SELECT user_id, window_start_s, cell FROM gr_keyed WHERE rf = 1) f
  JOIN (SELECT user_id, window_start_s, cell FROM gr_keyed WHERE rl = 1) l
    ON f.user_id = l.user_id AND f.window_start_s = l.window_start_s
), gr_t AS (
  SELECT o_cell, d_cell, CAST(COUNT(*) AS BIGINT) AS n_flows
  FROM gr_od GROUP BY o_cell, d_cell
), gr_o AS (
  SELECT o_cell, CAST(SUM(n_flows) AS BIGINT) AS o_out FROM gr_t GROUP BY o_cell
), gr_d AS (
  SELECT d_cell, CAST(SUM(n_flows) AS BIGINT) AS d_in FROM gr_t GROUP BY d_cell
), gr_g AS (
  SELECT CAST(SUM(n_flows) AS BIGINT) AS g_total FROM gr_t
)
SELECT t.o_cell, t.d_cell, t.n_flows, o.o_out, d.d_in,
       CAST((t.n_flows * g.g_total * 1000000) // (o.o_out * d.d_in) AS BIGINT)
         AS lift_ppm
FROM gr_t t
JOIN gr_o o ON t.o_cell = o.o_cell
JOIN gr_d d ON t.d_cell = d.d_cell
CROSS JOIN gr_g g
WHERE t.n_flows >= {int(min_flows)}"""


def commute_matrix(
    events: DataFrame,
    cell_shift: int = 8,
    night: tuple[int, int] = (0, 6),
    work: tuple[int, int] = (9, 17),
) -> DataFrame:
    """Home→work COMMUTE matrix — ``(home_cell, work_cell, n_users)``:
    each user's modal cell during night hours (home, the
    :func:`user_home_cells` rule restricted to ``night``) and during
    business hours (work), counted per (home, work) pair over users that
    have BOTH.  The static-OD complement of the event-window
    :func:`od_flows` (which counts trips; this counts people).

    Deterministic: hours are UTC ``(ep DIV 3600) % 24`` integers, bounds
    half-open ``[lo, hi)``, modal ties break to the smaller cell id.

    Plan: ONE events pass into the (user, period, cell) histogram (the
    period tag is a codegen CASE — rows outside both bands drop at the
    scan), one rank window per (user, period) over the bounded histogram,
    a self-join ON user (both sides one row per user after the rank
    filter), and the final matrix agg."""
    pts = event_points(events)
    hour = F.expr("CAST((ep DIV 3600) % 24 AS BIGINT)")
    period = (
        F.when((hour >= night[0]) & (hour < night[1]), F.lit("home"))
        .when((hour >= work[0]) & (hour < work[1]), F.lit("work"))
    )
    counts = (
        pts.select(
            "user_id",
            period.alias("period"),
            event_cell(cell_shift).alias("cell"),
        )
        .filter(F.col("period").isNotNull())
        .groupBy("user_id", "period", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id", "period").orderBy(
        F.desc("n"), F.asc("cell")
    )
    modal = counts.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    home = modal.filter(F.col("period") == "home").select(
        "user_id", F.col("cell").alias("home_cell")
    )
    work_c = modal.filter(F.col("period") == "work").select(
        "user_id", F.col("cell").alias("work_cell")
    )
    return (
        home.join(work_c, "user_id")
        .groupBy("home_cell", "work_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def commute_matrix_oracle(
    cell_shift: int = 8,
    night: tuple[int, int] = (0, 6),
    work: tuple[int, int] = (9, 17),
    table: str = "events",
) -> str:
    """Identical period tag, modal rule, and matrix agg."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH cm_pts AS (
  SELECT user_id,
         CASE WHEN (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 >= {night[0]}
               AND (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 < {night[1]}
              THEN 'home'
              WHEN (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 >= {work[0]}
               AND (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 < {work[1]}
              THEN 'work' END AS period,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), cm_counts AS (
  SELECT user_id, period, cell, COUNT(*) AS n
  FROM cm_pts WHERE period IS NOT NULL
  GROUP BY user_id, period, cell
), cm_modal AS (
  SELECT user_id, period, cell,
         ROW_NUMBER() OVER (PARTITION BY user_id, period
                            ORDER BY n DESC, cell) AS rn
  FROM cm_counts
)
SELECT h.cell AS home_cell, w.cell AS work_cell,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM (SELECT user_id, cell FROM cm_modal WHERE period = 'home' AND rn = 1) h
JOIN (SELECT user_id, cell FROM cm_modal WHERE period = 'work' AND rn = 1) w
  ON h.user_id = w.user_id
GROUP BY h.cell, w.cell"""


def activity_cube(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """OLAP CUBE census over (day, cell) — every grouping set of the two
    dimensions in one pass: ``(day, cell, grp, n_events, n_users)`` where
    ``grp`` is the grouping id (0 = both dims, 1 = day only, 2 = cell
    only, 3 = grand total) and rolled-up dimensions carry the ``-1``
    sentinel (NULL would make the engine-neutral sort ambiguous).  The
    cube materialization a dashboard layer runs nightly — Spark's native
    ``cube()`` exercises partial aggregation across ALL grouping sets in
    one shuffle (never |sets| scans).

    ``n_users`` is an exact COUNT(DISTINCT) per grouping set — the expand
    + two-phase distinct plan; at extreme scale swap in the KMV sketch
    (``rollup.cell_kmv``) per documented trade-off."""
    pts = event_points(events)
    keyed = pts.select(
        "user_id",
        F.expr("CAST(ep DIV 86400 AS BIGINT)").alias("day"),
        event_cell(cell_shift).alias("cell"),
    )
    return (
        keyed.cube("day", "cell")
        .agg(
            F.grouping_id().cast("long").alias("grp"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.coalesce(F.col("day"), F.lit(-1)).cast("long").alias("day"),
            F.coalesce(F.col("cell"), F.lit(-1)).cast("long").alias("cell"),
            "grp",
            "n_events",
            "n_users",
        )
    )


def activity_cube_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Engine-neutral replay as four explicit UNION arms (identical to the
    cube's grouping sets, with the same grp codes and -1 sentinels) —
    no reliance on DuckDB's GROUPING() encoding matching Spark's."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    base = f"""SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}"""
    return f"""WITH ac_keyed AS (
  {base}
)
SELECT CAST(day AS BIGINT) AS day, CAST(cell AS BIGINT) AS cell,
       CAST(0 AS BIGINT) AS grp, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM ac_keyed GROUP BY day, cell
UNION ALL
SELECT CAST(day AS BIGINT), CAST(-1 AS BIGINT), CAST(1 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM ac_keyed GROUP BY day
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(cell AS BIGINT), CAST(2 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM ac_keyed GROUP BY cell
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(3 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM ac_keyed"""


def traj_resample(events: DataFrame, step_s: int = 21600) -> DataFrame:
    """Fixed-tick trajectory RESAMPLING — ``(user_id, tick_s, x, y)``: each
    user's position linearly interpolated at every epoch multiple of
    ``step_s`` inside their observed span (first event <= tick <= last
    event).  Resampling is the canonical trajectory-normalization step
    before any cross-user comparison (Hausdorff, co-location, convoy
    mining): raw event streams sample each user at arbitrary times, the
    resampled grid makes them directly joinable on ``tick_s``.  The
    reference has no temporal surface (static points only,
    `Scheme/RSKQ/RSKQ_Biginteger.java:1008, reference`); this is the
    movement-analytics companion built on the same derived lattice.

    Interpolation is exact-integer: with bracketing events ``p`` (latest
    event at or before the tick, ties to the largest ``event_id``) and
    ``n`` (earliest at or after, ties to the smallest ``event_id``),
    ``x = px + ((nx - px) * (tick - pt)) DIV (nt - pt)`` (and same for
    ``y``) when ``nt > pt``, else ``px``.  Both engines truncate integer
    division toward zero (Spark ``DIV``, DuckDB ``//`` — verified on
    negative numerators), so the lerp is bit-reproducible.

    Plan: one tiny per-user min/max agg (map-side combine) generates the
    tick rows via native ``sequence`` explode — never more than
    ``span/step_s`` rows per user; the bracketing lookup is the union +
    two-direction ``last(... ignorenulls)`` as-of pattern
    (:func:`events.asof_enrich` family): event rows and tick rows union,
    ONE user_id shuffle, and both window directions reuse the same
    Exchange (ascending and descending sorts over one partitioning).  No
    range join, no per-tick probe.  100 TB: bucket events by user_id and
    the shuffle disappears; state per user is one row."""
    step = int(step_s)
    pts = event_points(events).select(
        "user_id", "ep", "event_id", F.col("ex").alias("x"), F.col("ey").alias("y")
    )
    bounds = pts.groupBy("user_id").agg(
        F.min("ep").alias("ep_lo"), F.max("ep").alias("ep_hi")
    )
    ticks = bounds.select(
        "user_id",
        F.explode(
            F.expr(
                f"CASE WHEN ((ep_lo + {step} - 1) DIV {step}) * {step} "
                f"          <= (ep_hi DIV {step}) * {step} "
                f"THEN sequence(((ep_lo + {step} - 1) DIV {step}) * {step}, "
                f"              (ep_hi DIV {step}) * {step}, {step}) "
                f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
            )
        ).alias("t"),
    ).select(
        "user_id",
        F.col("t").cast("long").alias("t"),
        F.lit(1).alias("is_tick"),
        F.lit(None).cast("long").alias("eid"),
        F.lit(None).cast("long").alias("x"),
        F.lit(None).cast("long").alias("y"),
    )
    evs = pts.select(
        "user_id",
        F.col("ep").alias("t"),
        F.lit(0).alias("is_tick"),
        F.col("event_id").alias("eid"),
        "x",
        "y",
    )
    u = evs.unionByName(ticks)
    # prev = latest event at-or-before the tick (event sorts before the tick
    # at equal t via is_tick; max event_id on equal ep); next = earliest
    # at-or-after (min event_id on equal ep), via the reversed scan
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_tick", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").desc(), F.col("is_tick").asc(), F.col("eid").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lerp = (
        "CAST(CASE WHEN nt > pt THEN p{c} + ((n{c} - p{c}) * (t - pt)) DIV (nt - pt) "
        "ELSE p{c} END AS BIGINT)"
    )
    enriched = (
        u.withColumn("pt", F.last(F.when(F.col("is_tick") == 0, F.col("t")), True).over(w_fwd))
        .withColumn("px", F.last(F.when(F.col("is_tick") == 0, F.col("x")), True).over(w_fwd))
        .withColumn("py", F.last(F.when(F.col("is_tick") == 0, F.col("y")), True).over(w_fwd))
        .withColumn("nt", F.last(F.when(F.col("is_tick") == 0, F.col("t")), True).over(w_rev))
        .withColumn("nx", F.last(F.when(F.col("is_tick") == 0, F.col("x")), True).over(w_rev))
        .withColumn("ny", F.last(F.when(F.col("is_tick") == 0, F.col("y")), True).over(w_rev))
    )
    return (
        enriched.filter(F.col("is_tick") == 1)
        .select(
            "user_id",
            F.col("t").alias("tick_s"),
            F.expr(lerp.format(c="x")).alias("x"),
            F.expr(lerp.format(c="y")).alias("y"),
        )
    )


def traj_resample_oracle(step_s: int = 21600, table: str = "events") -> str:
    """Identical union + two-direction as-of windows and truncating lerp."""
    from ..sources import derive

    step = int(step_s)
    lerp = (
        "CAST(CASE WHEN nt > pt THEN p{c} + ((n{c} - p{c}) * (t - pt)) // (nt - pt) "
        "ELSE p{c} END AS BIGINT)"
    )
    return f"""WITH rs_pts AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep, event_id,
         {derive.x_sql('event_id')} AS x, {derive.y_sql('event_id')} AS y
  FROM {table}
), rs_bounds AS (
  SELECT user_id, MIN(ep) AS ep_lo, MAX(ep) AS ep_hi FROM rs_pts GROUP BY user_id
), rs_ticks AS (
  SELECT user_id, CAST(t AS BIGINT) AS t, 1 AS is_tick,
         CAST(NULL AS BIGINT) AS eid, CAST(NULL AS BIGINT) AS x,
         CAST(NULL AS BIGINT) AS y
  FROM rs_bounds, UNNEST(CASE WHEN ((ep_lo + {step} - 1) // {step}) * {step}
                                   <= (ep_hi // {step}) * {step}
      THEN generate_series(((ep_lo + {step} - 1) // {step}) * {step},
                           (ep_hi // {step}) * {step}, {step})
      ELSE CAST([] AS BIGINT[]) END) AS s(t)
), rs_u AS (
  SELECT user_id, ep AS t, 0 AS is_tick, event_id AS eid, x, y FROM rs_pts
  UNION ALL SELECT * FROM rs_ticks
), rs_enriched AS (
  SELECT user_id, t, is_tick,
         LAST_VALUE(CASE WHEN is_tick = 0 THEN t END IGNORE NULLS) OVER w_fwd AS pt,
         LAST_VALUE(CASE WHEN is_tick = 0 THEN x END IGNORE NULLS) OVER w_fwd AS px,
         LAST_VALUE(CASE WHEN is_tick = 0 THEN y END IGNORE NULLS) OVER w_fwd AS py,
         LAST_VALUE(CASE WHEN is_tick = 0 THEN t END IGNORE NULLS) OVER w_rev AS nt,
         LAST_VALUE(CASE WHEN is_tick = 0 THEN x END IGNORE NULLS) OVER w_rev AS nx,
         LAST_VALUE(CASE WHEN is_tick = 0 THEN y END IGNORE NULLS) OVER w_rev AS ny
  FROM rs_u
  WINDOW w_fwd AS (PARTITION BY user_id ORDER BY t, is_tick, eid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_rev AS (PARTITION BY user_id ORDER BY t DESC, is_tick ASC, eid DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, CAST(t AS BIGINT) AS tick_s,
       {lerp.format(c='x')} AS x, {lerp.format(c='y')} AS y
FROM rs_enriched WHERE is_tick = 1"""


def markov_accuracy(
    events: DataFrame, cell_shift: int = 8, split_s: int = 1705881600
) -> DataFrame:
    """First-order Markov NEXT-CELL prediction, evaluated out-of-time —
    ``(cell, predicted, n_eval, n_correct)``: per origin cell, the
    most-frequent next cell learned from transitions BEFORE ``split_s``
    (ties to the smallest next-cell id), scored against the transitions
    at-or-after it.  This is the train/eval-split evaluation primitive of
    a mobility-prediction pipeline (the location analogue of
    ``label_knn_accuracy``): the engine must never let eval rows leak
    into the model, and the split is on the LATER event of each
    transition, so every scored pair is wholly unseen.

    Origin cells with no training transitions are dropped from the eval
    (no model row — documented; an inner join, not a silent 0).

    Plan: one user_id shuffle builds the time-ordered transition pairs
    (lag window, ``(ep, event_id)`` tie-break); the model is a
    histogram-sized (origin, next) count + per-origin arg-max window; the
    eval-side histogram broadcast-joins the model (both bounded by
    distinct cell pairs, never events).  100 TB: events bucketed by
    user_id make the pair stage shuffle-free; the model is tiny by
    construction (<= cells^2 rows)."""
    split = int(split_s)
    pts = event_points(events).select(
        "user_id",
        "ep",
        "event_id",
        event_cell(cell_shift).alias("cell"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    pairs = (
        pts.withColumn("prev_cell", F.lag("cell").over(w))
        .filter(F.col("prev_cell").isNotNull())
        .select("prev_cell", "cell", "ep")
    )
    train = (
        pairs.filter(F.col("ep") < split)
        .groupBy("prev_cell", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = Window.partitionBy("prev_cell").orderBy(F.col("n").desc(), F.col("cell").asc())
    model = (
        train.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("prev_cell", F.col("cell").alias("predicted"))
    )
    ev = (
        pairs.filter(F.col("ep") >= split)
        .groupBy("prev_cell", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        ev.join(F.broadcast(model), "prev_cell")
        .groupBy(F.col("prev_cell").alias("cell"), "predicted")
        .agg(
            F.sum("n").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("cell") == F.col("predicted"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
    )


def markov_accuracy_oracle(
    cell_shift: int = 8, split_s: int = 1705881600, table: str = "events"
) -> str:
    """Identical pair derivation, arg-max tie-break, and split rule."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    split = int(split_s)
    return f"""WITH mk_pts AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep, event_id,
         CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell
  FROM {table}
), mk_pairs AS (
  SELECT LAG(cell) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS prev_cell,
         cell, ep
  FROM mk_pts
), mk_train AS (
  SELECT prev_cell, cell, COUNT(*) AS n
  FROM mk_pairs WHERE prev_cell IS NOT NULL AND ep < {split}
  GROUP BY prev_cell, cell
), mk_model AS (
  SELECT prev_cell, cell AS predicted
  FROM (SELECT prev_cell, cell,
               ROW_NUMBER() OVER (PARTITION BY prev_cell
                                  ORDER BY n DESC, cell ASC) AS rk
        FROM mk_train)
  WHERE rk = 1
), mk_eval AS (
  SELECT prev_cell, cell, CAST(COUNT(*) AS BIGINT) AS n
  FROM mk_pairs WHERE prev_cell IS NOT NULL AND ep >= {split}
  GROUP BY prev_cell, cell
)
SELECT e.prev_cell AS cell, m.predicted,
       CAST(SUM(e.n) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN e.cell = m.predicted THEN e.n ELSE 0 END) AS BIGINT)
         AS n_correct
FROM mk_eval e JOIN mk_model m ON e.prev_cell = m.prev_cell
GROUP BY e.prev_cell, m.predicted"""


def cell_autocorr(events: DataFrame, cell_shift: int = 8) -> DataFrame:
    """Per-cell temporal LAG-1 autocorrelation sufficient statistics —
    ``(cell, n_hours, s_cnt, s_sq, n_pairs, lag_prod)`` over the cell's
    hourly visit-count series: ``n_hours`` occupied hour buckets,
    ``s_cnt``/``s_sq`` the count sum and sum of squares, and over PRESENT-
    ADJACENT hour pairs (bucket ``h`` and ``h+1`` both occupied)
    ``n_pairs`` and the co-moment ``lag_prod = SUM(n_h * n_{h+1})``.
    Integer sufficient statistics instead of a float coefficient keep the
    result bit-exact across engines (the ``global_moran`` convention —
    assemble r in the notebook, not the shuffle); absent hours are zero
    counts, which contribute nothing to the co-moment, so restricting
    pairs to present-adjacent buckets loses nothing.

    Periodicity screening over the raster: commuter cells (strong hourly
    persistence) score high lag products relative to their variance;
    burst cells don't.  Complements :func:`cell_dow_anomaly` (weekly
    profile) and :func:`cell_peak_hours` (diurnal profile) with the
    sequential-dependence axis.

    Plan: one (cell, hour) hash agg with map-side combine over the events
    pass, then a lag window + final agg both partitioned by cell —
    histogram-sized frames end to end."""
    pts = event_points(events)
    hourly = (
        pts.select(
            event_cell(cell_shift).alias("cell"),
            F.expr("CAST(ep DIV 3600 AS BIGINT)").alias("hr"),
        )
        .groupBy("cell", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("cell").orderBy("hr")
    return (
        hourly.withColumn("p_hr", F.lag("hr").over(w))
        .withColumn("p_n", F.lag("n").over(w))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("n").cast("long").alias("s_cnt"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("s_sq"),
            F.sum(
                F.when(F.col("p_hr") == F.col("hr") - 1, 1).otherwise(0)
            ).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("p_hr") == F.col("hr") - 1, F.col("n") * F.col("p_n"))
                .otherwise(0)
            ).cast("long").alias("lag_prod"),
        )
    )


def cell_autocorr_oracle(cell_shift: int = 8, table: str = "events") -> str:
    """Identical hourly histogram, adjacency test, and integer moments."""
    from ..sources import derive
    from ..sources.derive import EDGE

    step = 1 << int(cell_shift)
    return f"""WITH au_hourly AS (
  SELECT CAST(({derive.x_sql('event_id')} // {step}) * {EDGE}
              + ({derive.y_sql('event_id')} // {step}) AS BIGINT) AS cell,
         CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {table} GROUP BY 1, 2
), au_lagged AS (
  SELECT cell, n,
         LAG(hr) OVER (PARTITION BY cell ORDER BY hr) AS p_hr,
         LAG(n) OVER (PARTITION BY cell ORDER BY hr) AS p_n,
         hr
  FROM au_hourly
)
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(n) AS BIGINT) AS s_cnt,
       CAST(SUM(n * n) AS BIGINT) AS s_sq,
       CAST(SUM(CASE WHEN p_hr = hr - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN p_hr = hr - 1 THEN n * p_n ELSE 0 END) AS BIGINT)
         AS lag_prod
FROM au_lagged GROUP BY cell"""


# ---------------------------------------------------------------------------
# depth-limited Douglas-Peucker trajectory simplification
# ---------------------------------------------------------------------------


def traj_simplify(events: DataFrame, eps: int = 48, depth: int = 3) -> DataFrame:
    """Depth-limited Douglas-Peucker polyline simplification per user —
    ``(user_id, seq, x, y)``: the retained vertices of each user's
    time-ordered trajectory after ``depth`` split rounds with integer
    tolerance ``eps``.

    Classic DP is recursive with data-dependent splits; the distributed
    form here is the standard breadth-first *depth-limited* variant: every
    round, EVERY active segment (delimited by the kept points found so
    far, seeded with each user's first and last vertex) elects its
    maximum-deviation interior vertex and keeps it iff the perpendicular
    deviation exceeds ``eps``.  ``depth`` rounds bound the output at
    ``2^depth + 1`` vertices per user and make the whole computation a
    fixed-size composition of window functions — which is what lets the
    DuckDB oracle replay it exactly (same trick as the unrolled
    ``grid_kmeans`` optimisation).

    All arithmetic is exact int64: the point-to-chord test compares
    ``cross^2 > eps^2 * |chord|^2`` (cross = 2x triangle area), avoiding
    the sqrt/division of the textbook form; on the 4096 lattice
    ``cross^2 <= ~1.1e15`` and ``eps^2 * chord^2 <= ~7.7e10`` — no
    overflow.  A degenerate zero-length chord (coincident kept endpoints)
    falls back to direct squared distance to the anchor.  Ties on the
    deviation score break to the smallest ``seq`` — fully deterministic.

    Plan shape: ONE user_id shuffle; each round is three window passes
    over the same partitioning (forward last-kept scan, backward
    next-kept scan, per-segment argmax), all whole-stage codegen, no
    joins, no UDFs.  At 10^12 events the rounds reuse the one exchange;
    for depth > ~6 swap the growing lineage for a per-round
    ``localCheckpoint`` (the dbscan/CC pattern).

    Reference parity: the reference simplifies nothing (it renders full
    curves, `HilbertCurveRenderer.java:21`); this is the trajectory-
    compression stage a 100 TB movement corpus needs before storage."""
    from pyspark.sql import Window

    e2 = int(eps) * int(eps)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cnt = Window.partitionBy("user_id")
    base = (
        event_points(events)
        .select("user_id", "event_id", "ts", "ex", "ey")
        .withColumn("seq", F.row_number().over(w_ord))
        .withColumn("n_u", F.count(F.lit(1)).over(w_cnt))
    )
    cur = base.select(
        "user_id",
        "seq",
        F.col("ex").cast("long").alias("x"),
        F.col("ey").cast("long").alias("y"),
        ((F.col("seq") == 1) | (F.col("seq") == F.col("n_u"))).alias("kept"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("seq")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    for _ in range(int(depth)):
        kseq = F.when(F.col("kept"), F.col("seq"))
        kx = F.when(F.col("kept"), F.col("x"))
        ky = F.when(F.col("kept"), F.col("y"))
        g = (
            cur.withColumn("a_seq", F.last(kseq, ignorenulls=True).over(wf))
            .withColumn("a_x", F.last(kx, ignorenulls=True).over(wf))
            .withColumn("a_y", F.last(ky, ignorenulls=True).over(wf))
            .withColumn("b_x", F.first(kx, ignorenulls=True).over(wb))
            .withColumn("b_y", F.first(ky, ignorenulls=True).over(wb))
        )
        cr = (F.col("b_x") - F.col("a_x")) * (F.col("y") - F.col("a_y")) - (
            F.col("b_y") - F.col("a_y")
        ) * (F.col("x") - F.col("a_x"))
        chord2 = (F.col("b_x") - F.col("a_x")) * (F.col("b_x") - F.col("a_x")) + (
            F.col("b_y") - F.col("a_y")
        ) * (F.col("b_y") - F.col("a_y"))
        dist2 = (F.col("x") - F.col("a_x")) * (F.col("x") - F.col("a_x")) + (
            F.col("y") - F.col("a_y")
        ) * (F.col("y") - F.col("a_y"))
        g = g.withColumn("chord2", chord2).withColumn(
            "score", F.when(F.col("chord2") == 0, dist2).otherwise(cr * cr)
        )
        w_arg = Window.partitionBy("user_id", "a_seq").orderBy(
            F.when(~F.col("kept"), F.col("score")).otherwise(F.lit(-1)).desc(),
            F.col("seq"),
        )
        g = g.withColumn("rn", F.row_number().over(w_arg))
        passes = F.when(
            F.col("chord2") == 0, F.col("score") > F.lit(e2)
        ).otherwise(F.col("score") > F.lit(e2) * F.col("chord2"))
        cur = g.select(
            "user_id",
            "seq",
            "x",
            "y",
            (
                F.col("kept")
                | ((~F.col("kept")) & (F.col("rn") == 1) & passes)
            ).alias("kept"),
        )
    return cur.filter("kept").select(
        "user_id", F.col("seq").cast("int").alias("seq"), "x", "y"
    )


def _dp_round_sql(prev: str, out: str, eps2: int) -> str:
    """One unrolled DP split round (oracle side, identical windows)."""
    return f"""{out} AS (
  SELECT user_id, seq, x, y,
         (kept OR (NOT kept AND rn = 1 AND
            (CASE WHEN chord2 = 0 THEN score > {eps2}
                  ELSE score > {eps2} * chord2 END))) AS kept
  FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, a_seq
        ORDER BY (CASE WHEN NOT kept THEN score ELSE -1 END) DESC, seq) AS rn
    FROM (
      SELECT *, CASE WHEN chord2 = 0
                     THEN (x - a_x) * (x - a_x) + (y - a_y) * (y - a_y)
                     ELSE cr * cr END AS score
      FROM (
        SELECT *,
          ((b_x - a_x) * (y - a_y) - (b_y - a_y) * (x - a_x)) AS cr,
          ((b_x - a_x) * (b_x - a_x) + (b_y - a_y) * (b_y - a_y)) AS chord2
        FROM (
          SELECT user_id, seq, x, y, kept,
            last_value(CASE WHEN kept THEN seq END IGNORE NULLS)
              OVER wf AS a_seq,
            last_value(CASE WHEN kept THEN x END IGNORE NULLS)
              OVER wf AS a_x,
            last_value(CASE WHEN kept THEN y END IGNORE NULLS)
              OVER wf AS a_y,
            first_value(CASE WHEN kept THEN x END IGNORE NULLS)
              OVER wb AS b_x,
            first_value(CASE WHEN kept THEN y END IGNORE NULLS)
              OVER wb AS b_y
          FROM {prev}
          WINDOW wf AS (PARTITION BY user_id ORDER BY seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wb AS (PARTITION BY user_id ORDER BY seq
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
      )
    )
  )
)"""


def traj_simplify_oracle(
    eps: int = 48, depth: int = 3, table: str = "events"
) -> str:
    """The ENTIRE depth-limited DP unrolled: seed CTE + one
    :func:`_dp_round_sql` per round — identical coordinate derivation,
    window order, integer cross test, and tie-breaks."""
    from ..sources import derive

    e2 = int(eps) * int(eps)
    rounds = ", ".join(
        _dp_round_sql(f"dp_r{i}", f"dp_r{i + 1}", e2) for i in range(int(depth))
    )
    return f"""WITH dp_pts AS (
  SELECT user_id, event_id, ts,
         CAST({derive.x_sql('event_id')} AS BIGINT) AS x,
         CAST({derive.y_sql('event_id')} AS BIGINT) AS y
  FROM {table}
), dp_seq AS (
  SELECT user_id, x, y,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         COUNT(*) OVER (PARTITION BY user_id) AS n_u
  FROM dp_pts
), dp_r0 AS (
  SELECT user_id, seq, x, y, (seq = 1 OR seq = n_u) AS kept FROM dp_seq
), {rounds}
SELECT user_id, CAST(seq AS INT) AS seq, x, y
FROM dp_r{int(depth)} WHERE kept"""


def segment_crossings(
    events: DataFrame,
    user_mod: int = 4,
    max_len: int = 1024,
    shift: int = 9,
    config=None,
) -> DataFrame:
    """Path-crossing join: all pairs of movement segments from DIFFERENT
    users that *properly cross* in space — ``(user_a, seg_a, user_b,
    seg_b)`` with the pair ordered ``user_a < user_b`` and ``seg`` the
    leading event id of the consecutive-event segment.

    Movement segments are the same consecutive-pair derivation as
    :func:`impossible_travel` (1-in-``user_mod`` user sample), kept only
    when the displacement is plausible travel (``dist2 <= max_len^2`` —
    long teleport segments are data noise for path analysis and would
    blanket the lattice).  *Proper* crossing is the exact integer
    orientation test — the endpoints of each segment lie STRICTLY on
    opposite sides of the other's supporting line (touching, shared
    endpoints, and collinear overlap do not count):
    ``sign(cross(a2-a1, b1-a1)) * sign(cross(a2-a1, b2-a1)) < 0`` both
    ways, evaluated sign-by-sign (no products of cross values), with
    |cross| < 2^25 on the 2^12 lattice — overflow-free int64.

    Physical plan (the PBSM pattern of ``rect_self_join``): each segment's
    bbox explodes to its covered ``2^shift``-cells (<= ceil(max_len/2^shift
    + 1)^2 cells, native ``sequence`` explode — no Python); candidates
    equi-join on the cell key (AQE skew-split backstops hot cells); each
    qualifying pair is COUNTED ONCE by the reference-point rule (only the
    cell containing the top-left corner of the bbox intersection emits).
    One user_id shuffle for the lag window + one cell-key shuffle for the
    join — never all-pairs.  Scale knobs: ``shift`` trades replication
    (small cells) against candidate density (large cells); at 100 TB this
    is the contact-path candidate generator run per day-partition.

    Reference parity: the reference has no trajectory surface (static
    points, `Scheme/RSKQ/RSKQ_Biginteger.java:1008`); this is the
    segment-level companion of its pairwise point joins.
    """
    from pyspark.sql import Window as W_

    max_len2 = int(max_len) * int(max_len)
    s = int(shift)
    pts = event_points(events).filter(
        F.col("user_id") % int(user_mod) == 0
    )
    w = W_.partitionBy("user_id").orderBy("ts", "event_id")
    segs = (
        pts.withColumn("pe", F.lag("event_id").over(w))
        .withColumn("px", F.lag("ex").over(w))
        .withColumn("py", F.lag("ey").over(w))
        .filter(F.col("pe").isNotNull())
        .withColumn(
            "d2",
            (F.col("ex") - F.col("px")) * (F.col("ex") - F.col("px"))
            + (F.col("ey") - F.col("py")) * (F.col("ey") - F.col("py")),
        )
        .filter(F.col("d2") <= max_len2)
        .select(
            "user_id",
            F.col("pe").alias("seg_id"),
            F.col("px").alias("x1"),
            F.col("py").alias("y1"),
            F.col("ex").alias("x2"),
            F.col("ey").alias("y2"),
            F.least("px", "ex").alias("x_lo"),
            F.greatest("px", "ex").alias("x_hi"),
            F.least("py", "ey").alias("y_lo"),
            F.greatest("py", "ey").alias("y_hi"),
        )
    )
    m_cells = 4096 >> s  # lattice edge 2^12
    exploded = segs.select(
        "*",
        F.explode(
            F.expr(f"sequence(x_lo >> {s}, x_hi >> {s})")
        ).alias("gx"),
    ).select(
        "*",
        F.explode(
            F.expr(f"sequence(y_lo >> {s}, y_hi >> {s})")
        ).alias("gy"),
    ).withColumn("ck", F.col("gx") * m_cells + F.col("gy"))

    joined = keyed_pairs(exploded, "ck", "user_id").filter(
        # reference-point rule: emit only in the cell holding the top-left
        # corner of the bbox intersection
        (F.col("gx_a") == F.shiftright(F.greatest("x_lo_a", "x_lo_b"), s))
        & (F.col("gy_a") == F.shiftright(F.greatest("y_lo_a", "y_lo_b"), s))
    )

    def orient(ox, oy, ax, ay, px, py):
        return (F.col(ax) - F.col(ox)) * (F.col(py) - F.col(oy)) - (
            F.col(ay) - F.col(oy)
        ) * (F.col(px) - F.col(ox))

    o1 = orient("x1_a", "y1_a", "x2_a", "y2_a", "x1_b", "y1_b")
    o2 = orient("x1_a", "y1_a", "x2_a", "y2_a", "x2_b", "y2_b")
    o3 = orient("x1_b", "y1_b", "x2_b", "y2_b", "x1_a", "y1_a")
    o4 = orient("x1_b", "y1_b", "x2_b", "y2_b", "x2_a", "y2_a")
    def strictly_opposite(u, v):
        return ((u > 0) & (v < 0)) | ((u < 0) & (v > 0))

    crossed = joined.filter(strictly_opposite(o1, o2) & strictly_opposite(o3, o4))
    return crossed.select(
        F.col("user_id_a").alias("user_a"),
        F.col("seg_id_a").alias("seg_a"),
        F.col("user_id_b").alias("user_b"),
        F.col("seg_id_b").alias("seg_b"),
    )


def segment_crossings_oracle(
    user_mod: int = 4, max_len: int = 1024, table: str = "events"
) -> str:
    """Identical segment derivation; plain quadratic join with the
    identical strict-sign predicate (the sampled segment set is small at
    oracle scale — no blocking needed for correctness)."""
    from ..sources import derive

    max_len2 = int(max_len) * int(max_len)
    o = (
        "({ax2} - {ax1}) * ({py} - {ay1}) - ({ay2} - {ay1}) * ({px} - {ax1})"
    )

    def orient(a1x, a1y, a2x, a2y, px, py):
        return o.format(ax1=a1x, ay1=a1y, ax2=a2x, ay2=a2y, px=px, py=py)

    o1 = orient("a.x1", "a.y1", "a.x2", "a.y2", "b.x1", "b.y1")
    o2 = orient("a.x1", "a.y1", "a.x2", "a.y2", "b.x2", "b.y2")
    o3 = orient("b.x1", "b.y1", "b.x2", "b.y2", "a.x1", "a.y1")
    o4 = orient("b.x1", "b.y1", "b.x2", "b.y2", "a.x2", "a.y2")

    def so(u, v):
        return f"((({u}) > 0 AND ({v}) < 0) OR (({u}) < 0 AND ({v}) > 0))"

    return f"""WITH xpts AS (
  SELECT user_id, event_id, ts,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table} WHERE user_id % {int(user_mod)} = 0
), xseg AS (
  SELECT user_id, event_id,
         LAG(event_id) OVER w AS pe, LAG(ex) OVER w AS px,
         LAG(ey) OVER w AS py, ex, ey
  FROM xpts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), xs AS (
  SELECT user_id, pe AS seg_id, px AS x1, py AS y1, ex AS x2, ey AS y2
  FROM xseg WHERE pe IS NOT NULL
    AND (ex - px) * (ex - px) + (ey - py) * (ey - py) <= {max_len2}
)
SELECT a.user_id AS user_a, a.seg_id AS seg_a,
       b.user_id AS user_b, b.seg_id AS seg_b
FROM xs a JOIN xs b ON a.user_id < b.user_id
WHERE {so(o1, o2)} AND {so(o3, o4)}"""


def stay_contacts(
    events: DataFrame,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
    dist: int = 1500,
    min_overlap_s: int = 1800,
) -> DataFrame:
    """Contact-episode join (the epidemiology / co-presence primitive): all
    pairs of DIFFERENT users' stay points that were within ``dist`` lattice
    units AND overlapped in time for at least ``min_overlap_s`` seconds —
    ``(user_a, stay_a, user_b, stay_b, dist2, overlap_s)`` with the pair
    normalized ``user_a < user_b``.

    Stays are exactly :func:`stay_points` output (same derivation, same
    tie-breaks), so the interval endpoints and integer centroids are
    oracle-reproducible; overlap is the exact interval intersection
    ``LEAST(end) - GREATEST(start)`` on whole-second epochs and distance is
    exact integer ``dist2`` between centroids.

    Physical plan: the pair generation is the directed form of the
    within-radius blocked join (``spatial_join._within_radius``) applied to
    the STAY table (already orders of magnitude smaller than the event
    stream): centroids key to ``2^s``-cells with ``2^s >= dist``, the probe
    side explodes to the 3x3 neighbourhood, candidates equi-join on the
    cell key, and the ``user_a < user_b`` residual keeps exactly one
    orientation of each cross-user pair (each ordered pair meets once).
    The time-overlap + distance residuals run in codegen.  Two shuffles
    total (user_id window for stays, cell key for the join); at 100 TB add
    the day-bucket to the join key so state stays bounded per partition.

    Reference parity: the reference's pairwise point joins
    (`hilbert/HilbertComponent/GetPointIndex.java:59-93`) have no temporal
    dimension; this is their space-time contact extension."""
    from .spatial_join import _within_radius

    stays = _stay_side(
        stay_points(events, radius, gap_minutes, min_minutes, min_points)
        .localCheckpoint(eager=False)  # probe + home both read the stays
    )
    overlap = F.least("end_a", "end_b") - F.greatest("start_a", "start_b")
    return (
        _within_radius(stays, stays, dist, keep=F.col("user_a") < F.col("user_b"))
        .withColumn("overlap_s", overlap.cast("long"))
        .filter(F.col("overlap_s") >= int(min_overlap_s))
        .select("user_a", "stay_a", "user_b", "stay_b", "dist2", "overlap_s")
    )


def stay_contacts_oracle(
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
    dist: int = 1500,
    min_overlap_s: int = 1800,
    table: str = "events",
) -> str:
    """Quadratic reference over the identical stay derivation (nested WITH
    — the stay SQL is the verbatim :func:`stay_points_oracle`)."""
    d2max = int(dist) * int(dist)
    inner = stay_points_oracle(radius, gap_minutes, min_minutes, min_points, table)
    d2 = "(a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy)"
    ov = "LEAST(a.end_s, b.end_s) - GREATEST(a.start_s, b.start_s)"
    return f"""WITH stays AS ({inner})
SELECT a.user_id AS user_a, a.stay_id AS stay_a,
       b.user_id AS user_b, b.stay_id AS stay_b,
       CAST({d2} AS BIGINT) AS dist2, CAST({ov} AS BIGINT) AS overlap_s
FROM stays a JOIN stays b ON a.user_id < b.user_id
WHERE {d2} <= {d2max} AND {ov} >= {int(min_overlap_s)}"""


def viterbi_match(
    events: DataFrame,
    roads: list[tuple[str, int, int, int, int]],
    n_steps: int = 5,
    lam: int = 200000,
) -> DataFrame:
    """HMM map matching (the Viterbi decoder of Newson & Krumm, GIS 2009,
    in exact-integer form): for every user with at least ``n_steps``
    events, decode the most likely road sequence for the FIRST ``n_steps``
    events — ``(user_id, step, event_id, road_id)``.

    Model (all exact int64): states are the axis-aligned road segments of
    :func:`..spatial_join.snap_to_road`'s Manhattan model; emission cost of
    event ``t`` on road ``s`` is the exact squared point-to-segment
    distance (per-axis clamping — no division); transition cost is ``0``
    for staying on the same road and the flat penalty ``lam`` for
    switching.  Ties are broken deterministically everywhere: the
    backpointer takes the SMALLEST previous road index achieving the
    minimum, and the final state is the smallest index achieving the
    minimal total cost — so the decoded path is a pure function of the
    data and the oracle (an UNROLLED ``n_steps``-level dynamic program with
    the identical argmin convention) must match it row-for-row.  Overflow:
    costs are bounded by ``n_steps * (2 * 4096^2 + lam) < 2^28``.

    Physical plan: ONE user_id window pass selects the first ``n_steps``
    events of qualifying users (codegen); the DP itself runs as one Arrow
    grouped-map task per user over an ``n_steps x |roads|`` cost table —
    bounded by constants, never by corpus size; the road list is a plain
    broadcast closure.  At 100 TB this is the per-trajectory decode step
    of a map-matching pipeline, embarrassingly parallel over users."""
    t_max = int(n_steps)
    pts = event_points(events)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sel = (
        pts.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("user_id")))
        .filter((F.col("rn") <= t_max) & (F.col("cnt") >= t_max))
        .select(
            "user_id",
            (F.col("rn") - 1).cast("int").alias("step"),
            "event_id",
            "ex",
            "ey",
        )
    )
    rd = [
        (str(rid), min(ax, bx), max(ax, bx), min(ay, by), max(ay, by))
        for rid, ax, ay, bx, by in roads
    ]
    penalty = int(lam)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("step").reset_index(drop=True)
        xs = pdf["ex"].to_numpy(np.int64)
        ys = pdf["ey"].to_numpy(np.int64)
        r = len(rd)
        t_n = len(pdf)
        emis = np.empty((t_n, r), dtype=np.int64)
        for j, (_, xlo, xhi, ylo, yhi) in enumerate(rd):
            dx = np.maximum(np.maximum(xlo - xs, xs - xhi), 0)
            dy = np.maximum(np.maximum(ylo - ys, ys - yhi), 0)
            emis[:, j] = dx * dx + dy * dy
        dp = emis[0].copy()
        bps = np.zeros((t_n, r), dtype=np.int64)
        for t in range(1, t_n):
            # cand[s', s] = dp[s'] + lam * (s' != s)
            cand = dp[:, None] + penalty * (
                1 - np.eye(r, dtype=np.int64)
            )
            bps[t] = np.argmin(cand, axis=0)  # first (smallest) argmin
            dp = emis[t] + cand.min(axis=0)
        state = int(np.argmin(dp))
        path = [0] * t_n
        for t in range(t_n - 1, -1, -1):
            path[t] = state
            if t > 0:
                state = int(bps[t][state])
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "step": pdf["step"],
                "event_id": pdf["event_id"],
                "road_id": [rd[s][0] for s in path],
            }
        )

    return sel.groupBy("user_id").applyInPandas(
        fn, "user_id long, step int, event_id long, road_id string"
    )


def viterbi_match_oracle(
    roads: list[tuple[str, int, int, int, int]],
    n_steps: int = 5,
    lam: int = 200000,
    table: str = "events",
) -> str:
    """Unrolled exact DP with the identical smallest-index argmin
    convention: per step a (cand, min, dp, backpointer) CTE quartet, then
    the backtrack CTE chain from the minimal end state."""
    from ..sources import derive

    t_max = int(n_steps)
    penalty = int(lam)
    vals = ", ".join(
        f"({j}, '{rid}', {min(ax, bx)}, {max(ax, bx)}, {min(ay, by)}, {max(ay, by)})"
        for j, (rid, ax, ay, bx, by) in enumerate(roads)
    )
    d2 = (
        "GREATEST(r.xlo - v.ex, v.ex - r.xhi, 0) * GREATEST(r.xlo - v.ex, v.ex - r.xhi, 0)"
        " + GREATEST(r.ylo - v.ey, v.ey - r.yhi, 0) * GREATEST(r.ylo - v.ey, v.ey - r.yhi, 0)"
    )
    parts = [
        f"""vraw AS (
  SELECT user_id, event_id, ts,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS step,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM {table}
), vpts AS (
  SELECT user_id, event_id, ex, ey, CAST(step AS INT) AS step
  FROM vraw WHERE step < {t_max} AND cnt >= {t_max}
), vroads AS (
  SELECT * FROM (VALUES {vals}) r(idx, road_id, xlo, xhi, ylo, yhi)
), vemis AS (
  SELECT v.user_id, v.step, v.event_id, r.idx,
         CAST({d2} AS BIGINT) AS d2
  FROM vpts v CROSS JOIN vroads r
), vdp0 AS (
  SELECT user_id, idx, d2 AS cost FROM vemis WHERE step = 0
)"""
    ]
    for t in range(1, t_max):
        parts.append(
            f"""vcand{t} AS (
  SELECT e.user_id, e.idx, p.idx AS pidx,
         p.cost + CASE WHEN p.idx = e.idx THEN 0 ELSE {penalty} END AS cand
  FROM vemis e JOIN vdp{t - 1} p ON p.user_id = e.user_id
  WHERE e.step = {t}
), vmc{t} AS (
  SELECT user_id, idx, MIN(cand) AS mc FROM vcand{t} GROUP BY user_id, idx
), vdp{t} AS (
  SELECT m.user_id, m.idx, e.d2 + m.mc AS cost
  FROM vmc{t} m JOIN vemis e
    ON e.user_id = m.user_id AND e.idx = m.idx AND e.step = {t}
), vbp{t} AS (
  SELECT c.user_id, c.idx, MIN(c.pidx) AS bp
  FROM vcand{t} c JOIN vmc{t} m
    ON m.user_id = c.user_id AND m.idx = c.idx AND c.cand = m.mc
  GROUP BY c.user_id, c.idx
)"""
        )
    last = t_max - 1
    parts.append(
        f"""vend AS (
  SELECT d.user_id, MIN(d.idx) AS idx
  FROM vdp{last} d
  JOIN (SELECT user_id, MIN(cost) AS mc FROM vdp{last} GROUP BY user_id) m
    ON m.user_id = d.user_id AND d.cost = m.mc
  GROUP BY d.user_id
), vp{last} AS (SELECT user_id, idx FROM vend)"""
    )
    for t in range(t_max - 2, -1, -1):
        parts.append(
            f"""vp{t} AS (
  SELECT b.user_id, b.bp AS idx
  FROM vp{t + 1} n JOIN vbp{t + 1} b
    ON b.user_id = n.user_id AND b.idx = n.idx
)"""
        )
    arms = " UNION ALL ".join(
        f"SELECT v.user_id, v.step, v.event_id, r.road_id "
        f"FROM vp{t} p JOIN vpts v ON v.user_id = p.user_id AND v.step = {t} "
        f"JOIN vroads r ON r.idx = p.idx"
        for t in range(t_max)
    )
    return "WITH " + ",\n".join(parts) + "\n" + arms
