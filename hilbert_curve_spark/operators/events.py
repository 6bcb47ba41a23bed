"""Event-stream operators over the ``events`` table (event_id, ts, user_id,
event_type, value, props) — the batch forms of the engine's streaming
surface (tumbling windows, sessionization, versioned dedup), each with an
exact SQL oracle (timestamp truncation + integer window functions only).

The reference has no streaming operators (SURVEY §2.3: updates are
synchronous point mutations); these are the idiomatic-Spark equivalents the
north_star pipeline needs (micro-batch ingest + event-time aggregation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# the event projection: lattice point, epoch, cell and fence tag
# ---------------------------------------------------------------------------


def event_points(events: DataFrame) -> DataFrame:
    """``events`` plus ``ex``, ``ey`` (the derived lattice point: the
    exact-LCG snippets of :mod:`..sources.derive` keyed on ``event_id``,
    which every oracle recomputes bit-identically) and ``ep`` (whole-second
    epoch of ``ts``) — the one place an event is quantized, as the
    reference quantizes each point once before any scheme reads it
    (`HilbertCoordinateProcessor.java:21-67`).

    ``ep`` casts through TIMESTAMP first: parquet reads may infer
    TIMESTAMP_NTZ, which has no direct BIGINT cast in Spark 4, and the
    session pins UTC so both forms give the UTC epoch."""
    from ..sources import derive

    return (
        events.withColumn("ex", F.expr(derive.x_sql("event_id")))
        .withColumn("ey", F.expr(derive.y_sql("event_id")))
        .withColumn("ep", F.col("ts").cast("timestamp").cast("long"))
    )


def event_cell(cell_shift: int, x: str = "ex", y: str = "ey") -> Column:
    """The ``2**cell_shift``-coarsened lattice cell of point ``(x, y)`` as
    one BIGINT key, ``(x DIV 2^s) * EDGE + (y DIV 2^s)`` — the
    :func:`.spatial_join._cell_key` format at stride ``derive.EDGE``, which
    is injective because a cell index never exceeds ``EDGE - 1``."""
    from ..sources.derive import EDGE
    from .spatial_join import _cell_key

    step = 1 << int(cell_shift)
    return _cell_key(
        F.expr(f"CAST({x} DIV {step} AS BIGINT)"),
        F.expr(f"CAST({y} DIV {step} AS BIGINT)"),
        EDGE,
    )


def fence_tag(polygons: list[dict], x: str = "ex", y: str = "ey") -> Column:
    """The ``poly_id`` of the FIRST listed polygon containing ``(x, y)``
    (codegen ray-cast :func:`..operators.pip.inside_polygon_expr`, no join),
    null outside every fence.  Zero fences give a typed string null, so an
    ``isNotNull`` filter yields an empty result with the full schema on
    batch and streaming sources alike."""
    from .pip import inside_polygon_expr

    tag = None
    for p in polygons:
        cond, poly = inside_polygon_expr(p["vertices"], x, y), F.lit(p["poly_id"])
        tag = F.when(cond, poly) if tag is None else tag.when(cond, poly)
    return F.lit(None).cast("string") if tag is None else tag


def tumbling_counts(events: DataFrame, minutes: int = 60) -> DataFrame:
    """(window_start_s, event_type, n_events, sum_value_e6) — event-time
    tumbling window aggregation (Structured-Streaming-compatible: swap the
    source for readStream and add a watermark; the plan is identical).

    ``window_start_s`` is the window start as integer epoch seconds: Spark's
    ``window().start`` is TIMESTAMP_NTZ while DuckDB's ``to_timestamp`` is
    TIMESTAMPTZ, so a timestamp-typed output can never schema-match across
    the two engines — the epoch integer is the engine-neutral form.
    ``sum_value_e6``: value summed as integer micro-units so the oracle
    cannot diverge on float summation order."""
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    start = (
        F.window("ts", f"{minutes} minutes")
        .getField("start")
        .cast("timestamp")
        .cast("long")
    )
    return (
        events.withColumn("v6", v6)
        .groupBy(start.alias("window_start_s"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("v6").alias("sum_value_e6"))
    )


def tumbling_counts_oracle(minutes: int = 60, table: str = "events") -> str:
    # Spark's window() is epoch-aligned; the epoch-bucket arithmetic below
    # matches ANY window size exactly (sub-second parts floor into the same
    # bucket Spark's microsecond arithmetic assigns).
    secs = minutes * 60
    bucket = f"CAST(FLOOR(epoch(ts) / {secs}) AS BIGINT) * {secs}"
    # DuckDB SUM(BIGINT) returns HUGEINT which lands in pandas as float64 and
    # hash-mismatches Spark's int64 even when values are identical — the outer
    # CAST keeps the aggregate BIGINT end to end.
    return (
        f"SELECT {bucket} AS window_start_s, event_type, COUNT(*) AS n_events, "
        f"CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_e6 "
        f"FROM {table} GROUP BY 1, 2"
    )


def sliding_counts(
    events: DataFrame, minutes: int = 60, slide_minutes: int = 15
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event contributes to
    ``minutes/slide_minutes`` overlapping epoch-aligned windows — the
    standard streaming-analytics companion of :func:`tumbling_counts`
    (identical output columns; a tumbling window is the degenerate
    ``slide == size`` case).

    Requires ``minutes % slide_minutes == 0`` so the per-event window count
    is a constant — the shape Spark's ``window(ts, size, slide)`` expands
    natively (one Generate + one hash agg, map-side combined; no joins).
    Streaming twin: ``streaming/event_streams.sliding_counts_stream``."""
    if minutes % slide_minutes:
        raise ValueError(
            f"window size ({minutes}m) must be a multiple of the slide "
            f"({slide_minutes}m) for exact epoch-aligned enumeration"
        )
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    start = (
        F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
        .getField("start")
        .cast("timestamp")
        .cast("long")
    )
    return (
        events.withColumn("v6", v6)
        .groupBy(start.alias("window_start_s"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("v6").alias("sum_value_e6"))
    )


def sliding_counts_oracle(
    minutes: int = 60, slide_minutes: int = 15, table: str = "events"
) -> str:
    """Exact replay: an event at slide-bucket b belongs to the windows
    starting at (b-k)*slide for k in [0, size/slide) — all of them valid
    when size is a multiple of the slide, so the enumeration is a bare
    cross join with a k-list, no residual filter.  Same HUGEINT->BIGINT
    cast discipline as the tumbling oracle."""
    slide = slide_minutes * 60
    n = minutes // slide_minutes
    bucket = f"CAST(FLOOR(epoch(ts) / {slide}) AS BIGINT)"
    return (
        f"SELECT ({bucket} - k.k) * {slide} AS window_start_s, event_type, "
        f"COUNT(*) AS n_events, "
        f"CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_e6 "
        f"FROM {table} CROSS JOIN (SELECT UNNEST(range(0, {n})) AS k) k "
        f"GROUP BY 1, 2"
    )


def interval_join(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
    within_minutes: int = 30,
) -> DataFrame:
    """Event-time interval join: every ``type_b`` event that follows a
    ``type_a`` event by the same user within ``within_minutes`` — the batch
    form of Structured Streaming's canonical stream-stream join
    (impression->conversion attribution).  Output
    (user_id, a_id, b_id, delay_s) with ``delay_s`` as floored-epoch
    difference (the engine-neutral integer form used by every events
    oracle).

    Plan shape: the equi-key (user_id) drives a hash/sort-merge join and
    the time range stays a residual filter — exactly the join a 1000-
    executor cluster wants (shuffle on user_id only, no range explosion);
    the time comparison is raw microsecond timestamp arithmetic, identical
    in Spark and DuckDB.  Streaming twin:
    ``streaming/event_streams.interval_join_stream``."""
    a = events.where(F.col("event_type") == type_a).select(
        "user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    b = events.where(F.col("event_type") == type_b).select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    cond = (
        (a["user_id"] == b["user_id_b"])
        & (b["b_ts"] >= a["a_ts"])
        & (b["b_ts"] <= F.expr(f"a_ts + INTERVAL {int(within_minutes)} MINUTES"))
    )
    # two-step cast: parquet reads may infer TIMESTAMP_NTZ, which cannot
    # cast straight to BIGINT (see the sessionize note above)
    delay = F.col("b_ts").cast("timestamp").cast("long") - F.col("a_ts").cast(
        "timestamp"
    ).cast("long")
    return a.join(b, cond).select(
        "user_id", "a_id", "b_id", delay.alias("delay_s")
    )


def interval_join_oracle(
    type_a: str = "click",
    type_b: str = "purchase",
    within_minutes: int = 30,
    table: str = "events",
) -> str:
    """Same join on raw timestamps (microsecond-exact in both engines);
    delay as per-column floored epoch so truncation matches Spark's
    timestamp->long cast."""
    m = int(within_minutes)
    return (
        f"SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id, "
        f"CAST(FLOOR(epoch(b.ts)) AS BIGINT) - CAST(FLOOR(epoch(a.ts)) AS BIGINT) AS delay_s "
        f"FROM {table} a JOIN {table} b ON a.user_id = b.user_id "
        f"AND a.event_type = '{type_a}' AND b.event_type = '{type_b}' "
        f"AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {m} MINUTE"
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessions: a new session starts after a gap > gap_minutes.
    Output (user_id, session_id, n_events, start_ts, end_ts).

    Classic gap-and-island: lag + boundary flag + running sum — one shuffle
    on user_id; at scale the events table is bucketed by user_id making
    this shuffle-free (the window's required distribution matches)."""
    gap = gap_minutes * 60
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; session tz is UTC so
    # the two-step cast equals floor(epoch) of the naive timestamp.  The gap
    # test therefore compares WHOLE seconds on both engines — the oracle
    # must floor its (fractional double) epoch() the same way, else a
    # sub-second gap straddling the threshold splits sessions differently.
    epoch = F.col("ts").cast("timestamp").cast("long")
    boundary = (
        F.when(epoch - F.lag(epoch).over(w) > gap, 1)
        .otherwise(0)
    )
    with_sess = events.withColumn("b", boundary).withColumn(
        "session_id", F.sum("b").over(w)
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


def sessionize_oracle(gap_minutes: int = 30, table: str = "events") -> str:
    gap = gap_minutes * 60
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > {gap}
              THEN 1 ELSE 0 END AS b
  FROM {table}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         -- DuckDB SUM(BIGINT) -> HUGEINT -> pandas float64; CAST keeps the
         -- session ids int64 so the driver's value hash matches Spark.
         CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts
FROM sess GROUP BY user_id, session_id
"""


def sessionize_epoch_oracle(gap_minutes: int = 30, table: str = "events") -> str:
    """Same gap-and-island sessions as ``sessionize_oracle`` but rendered in
    the streaming sessionizer's output shape — (user_id, session_start_s,
    session_end_s, n_events) with bounds as floored epoch seconds (the
    integer arithmetic ``streaming.event_streams.sessionize_stream`` uses).
    MIN/MAX over BIGINT stay BIGINT in DuckDB; only the running SUM needs
    the HUGEINT-avoiding cast."""
    gap = gap_minutes * 60
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > {gap}
              THEN 1 ELSE 0 END AS b
  FROM {table}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts_s) AS session_start_s, MAX(ts_s) AS session_end_s,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """Versioned dedup (reference E3 OSM semantics — keep max version per id,
    `SpatialDataProcessor/BirminghanData/OsmToCsvConverter.java:57-59`):
    newest event per (user_id, event_type)."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def latest_event_oracle(table: str = "events") -> str:
    return f"""
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM {table}
) WHERE rn = 1
"""


_ASOF_KEY_BASE = 1 << 24  # event_id < 2^24 assumed (fixture max ~10^5)


def asof_attach(
    events: DataFrame, base_type: str = "purchase", ref_type: str = "click"
) -> DataFrame:
    """As-of join within the event stream: every ``base_type`` event gets the
    most recent strictly-prior ``ref_type`` event of the same user —
    (event_id, user_id, ts_s, ref_ts_s, ref_value_e6), NULL refs when no
    prior reference event exists.

    Physical shape (the scale-sound as-of pattern): ONE window pass over the
    stream partitioned by user — the reference event's identity is packed
    into a single int64 key ``ts_s * 2^24 + event_id`` whose running MAX over
    the strictly-preceding frame IS the as-of pointer (monotone packing:
    later second, then higher event_id, wins) — followed by an equi-join back
    to the reference rows to fetch their payload.  No per-row Python, no
    range join, one shuffle on user_id (shuffle-free when the events table
    is bucketed by user_id).  Tie-break within a second is by event_id, and
    the *preceding frame* itself is ordered by the raw timestamp, so both
    engines resolve sub-second orderings identically."""
    ts_s = F.col("ts").cast("timestamp").cast("long")
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    ref_key = F.when(
        F.col("event_type") == ref_type, ts_s * _ASOF_KEY_BASE + F.col("event_id")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = (
        events.withColumn("rk", ref_key)
        .withColumn("last_rk", F.max("rk").over(w))
        .filter(F.col("event_type") == base_type)
        .select("event_id", "user_id", ts_s.alias("ts_s"), "last_rk")
    )
    refs = events.filter(F.col("event_type") == ref_type).select(
        "user_id",
        (ts_s * _ASOF_KEY_BASE + F.col("event_id")).alias("last_rk"),
        ts_s.alias("ref_ts_s"),
        v6.alias("ref_value_e6"),
    )
    # -1 sentinel instead of NULL for "no prior reference event": a nullable
    # int64 lands in pandas as float64, and the driver's value hash is
    # dtype-sensitive — the sentinel keeps both engines int64 end to end
    return base.join(refs, ["user_id", "last_rk"], "left").select(
        "event_id",
        "user_id",
        "ts_s",
        F.coalesce("ref_ts_s", F.lit(-1)).alias("ref_ts_s"),
        F.coalesce("ref_value_e6", F.lit(-1)).alias("ref_value_e6"),
    )


def asof_attach_oracle(
    base_type: str = "purchase", ref_type: str = "click", table: str = "events"
) -> str:
    return f"""
WITH keyed AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = '{ref_type}'
              THEN CAST(FLOOR(epoch(ts)) AS BIGINT) * {_ASOF_KEY_BASE} + event_id
         END AS rk
  FROM {table}
), ptr AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(rk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_rk
  FROM keyed
), refs AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) * {_ASOF_KEY_BASE} + event_id AS last_rk,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ref_ts_s,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS ref_value_e6
  FROM {table} WHERE event_type = '{ref_type}'
)
SELECT p.event_id, p.user_id, CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS ts_s,
       COALESCE(r.ref_ts_s, -1) AS ref_ts_s,
       COALESCE(r.ref_value_e6, -1) AS ref_value_e6
FROM ptr p LEFT JOIN refs r ON p.user_id = r.user_id AND p.last_rk = r.last_rk
WHERE p.event_type = '{base_type}'
"""


def systematic_sample(events: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic 1-in-k systematic sample (reference E8's fixed-size
    sampling made reproducible: id-keyed, not RNG-keyed)."""
    return events.filter(F.col("event_id") % k == 0)


def systematic_sample_oracle(k: int = 10, table: str = "events") -> str:
    return f"SELECT * FROM {table} WHERE event_id % {k} = 0"


# ---------------------------------------------------------------------------
# geofence (S15 x event streams)
# ---------------------------------------------------------------------------


def geofence_counts(
    events: DataFrame,
    polygons: list[dict],
    minutes: int = 60,
    watermark: str | None = None,
) -> DataFrame:
    """Geofence aggregation: entries per (tumbling window, polygon) —
    (window_start_s, poly_id, n_events, sum_value_e6).

    The fixture events carry no geometry, so each event gets deterministic
    derived lattice coordinates (the exact-LCG snippets of
    :mod:`..sources.derive` keyed on ``event_id`` — both engines recompute
    them bit-identically), then the codegen integer ray-cast of
    :func:`..operators.pip.inside_polygon_expr` tags the FIRST listed
    polygon containing the point; tagged events aggregate per epoch-aligned
    window.

    Streaming-compatible by construction: every transformation here is
    source-agnostic, so passing a ``readStream`` source plus
    ``watermark="2 hours"`` runs the identical plan incrementally with
    bounded state (the driver query ``events_stream_geofence`` does exactly
    that and must equal this batch form bit-for-bit).  100 TB shape: one
    narrow codegen projection (coords + ray-casts against literal edge
    arrays, no join at all for a small fence set) + one hash aggregation
    with map-side combine."""
    tagged = (
        event_points(events)
        .withColumn("poly_id", fence_tag(polygons))
        .filter(F.col("poly_id").isNotNull())
    )
    if watermark is not None:
        tagged = tagged.withWatermark("ts", watermark)
    start = (
        F.window("ts", f"{minutes} minutes")
        .getField("start")
        .cast("timestamp")
        .cast("long")
    )
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    return (
        tagged.withColumn("v6", v6)
        .groupBy(start.alias("window_start_s"), "poly_id")
        .agg(F.count("*").alias("n_events"), F.sum("v6").alias("sum_value_e6"))
    )


def geofence_join(
    events: DataFrame,
    polygons: list[dict],
    minutes: int = 60,
) -> DataFrame:
    """Geofence aggregation for LARGE fence sets — same result shape and
    semantics as :func:`geofence_counts` (first LISTED fence containing the
    point tags the event), but built as a cell-bucketed broadcast hash join
    instead of a literal when-chain (VERDICT r3 item 7: past ~100 fences the
    chain is O(|events| x |fences|) per row and the codegen method explodes).

    Physical plan: each fence expands DRIVER-side to the grid cells its
    bounding box touches (cell edge 2**s >= the largest fence extent, so
    <= 4 cells per fence) carrying its edge list as an array<struct> column;
    events key to their HOME cell and hash-join the broadcast (no BNLJ —
    plan-asserted), the exact integer ray-cast (``pip.ray_cast_sql``, the
    fold ``pip.inside_polygon_expr`` runs over a literal array) folds over
    the JOINED edge array (codegen, no Python), the first-match tie-break
    is a hash aggregation ``min(struct(ord, poly_id))`` per event, and the
    window aggregation is identical to the literal form.  Batch form only
    (the per-event argmin re-aggregates; the streaming geofence keeps the
    literal chain, fine for small fence sets)."""
    from ..config import DEFAULT
    from .pip import _edges, ray_cast_sql

    edge = DEFAULT.edge
    max_extent = 1
    fence_rows = []
    for ordi, p in enumerate(polygons):
        xs = [v[0] for v in p["vertices"]]
        ys = [v[1] for v in p["vertices"]]
        max_extent = max(max_extent, max(xs) - min(xs), max(ys) - min(ys))
    s = max(1, int(max_extent).bit_length())
    for ordi, p in enumerate(polygons):
        xs = [v[0] for v in p["vertices"]]
        ys = [v[1] for v in p["vertices"]]
        edges = _edges(p["vertices"])
        for cx in range(min(xs) >> s, (max(xs) >> s) + 1):
            for cy in range(min(ys) >> s, (max(ys) >> s) + 1):
                fence_rows.append((p["poly_id"], ordi, cx * edge + cy, edges))
    spark = events.sparkSession
    fences = spark.createDataFrame(
        fence_rows,
        "poly_id string, ord int, ck long, "
        "edges array<struct<x1:long, y1:long, x2:long, y2:long>>",
    )
    raycast = F.expr(ray_cast_sql("edges", "ex", "ey"))
    # ck must equal the driver-side fence cells above, keyed at config.edge
    pts = event_points(events).withColumn(
        "ck", F.shiftright("ex", s) * edge + F.shiftright("ey", s)
    )
    tagged = (
        pts.join(F.broadcast(fences), "ck")
        .filter(raycast)
        .groupBy("event_id", "ts", "value")
        .agg(F.min(F.struct("ord", "poly_id")).alias("b"))
        .select("ts", "value", F.col("b.poly_id").alias("poly_id"))
    )
    start = (
        F.window("ts", f"{minutes} minutes")
        .getField("start")
        .cast("timestamp")
        .cast("long")
    )
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    return (
        tagged.withColumn("v6", v6)
        .groupBy(start.alias("window_start_s"), "poly_id")
        .agg(F.count("*").alias("n_events"), F.sum("v6").alias("sum_value_e6"))
    )


def geofence_counts_oracle(
    polygons: list[dict], minutes: int = 60, table: str = "events"
) -> str:
    """DuckDB oracle: identical coordinate derivation + the pip crossing SQL
    (``operators/pip.py::pip_oracle_sql`` form) with a listed-order
    first-match tie-break, then the same epoch bucketing as
    ``tumbling_counts_oracle``."""
    from ..sources import derive
    from .pip import _edges

    edge_rows = []
    for i, p in enumerate(polygons):
        for x1, y1, x2, y2 in _edges(p["vertices"]):
            edge_rows.append(f"('{p['poly_id']}', {i}, {x1}, {y1}, {x2}, {y2})")
    values = ", ".join(edge_rows)
    secs = minutes * 60
    bucket = f"CAST(FLOOR(epoch(v.ts) / {secs}) AS BIGINT) * {secs}"
    return f"""WITH ev AS (
  SELECT event_id, ts, value,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), edges(poly_id, ord, x1, y1, x2, y2) AS (VALUES {values}),
pip AS (
  SELECT e.poly_id, e.ord, v.event_id,
         SUM(CASE WHEN ((e.y1 > v.ey) <> (e.y2 > v.ey)) AND
                  (CASE WHEN e.y2 - e.y1 > 0
                        THEN v.ex * (e.y2 - e.y1) < e.x1 * (e.y2 - e.y1) + (v.ey - e.y1) * (e.x2 - e.x1)
                        ELSE v.ex * (e.y2 - e.y1) > e.x1 * (e.y2 - e.y1) + (v.ey - e.y1) * (e.x2 - e.x1)
                   END)
             THEN 1 ELSE 0 END) AS crossings
  FROM ev v, edges e
  GROUP BY e.poly_id, e.ord, v.event_id
), tagged AS (
  SELECT event_id, poly_id,
         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ord) AS rn
  FROM pip WHERE crossings % 2 = 1
)
SELECT {bucket} AS window_start_s, t.poly_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(v.value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_e6
FROM ev v JOIN tagged t ON v.event_id = t.event_id AND t.rn = 1
GROUP BY 1, 2"""


def geofence_dwell(
    events: DataFrame, polygons: list[dict], gap_minutes: int = 120
) -> DataFrame:
    """DWELL EPISODES per (user, fence): for each user, a maximal run of
    consecutive fence-tagged events in the SAME polygon with gaps
    ``<= gap_minutes`` is one visit — ``(user_id, poly_id, episode,
    n_events, enter_s, exit_s, dwell_s)``.  The duration analytic the
    per-window :func:`geofence_counts` cannot answer (how LONG did each
    visit last, not how many events landed in each bucket).

    Episode boundaries are defined over the user's TAGGED events only
    (events outside every fence are invisible to the run — a gap spanning
    them still merges when within ``gap_minutes``); a boundary fires on a
    polygon CHANGE or a gap overflow, so ``poly_id`` is constant within an
    episode by construction.

    Plan: the same codegen ray-cast first-match tag as
    :func:`geofence_counts` (no join for a literal fence set), then ONE
    user_id shuffle shared by the lag window and the (user, episode)
    aggregation — the gap-and-island shape of :func:`sessionize` with the
    polygon-change disjunct fused into the boundary test."""
    if not polygons:
        raise ValueError("geofence_dwell needs at least one polygon")
    tagged = (
        event_points(events)
        .withColumn("poly_id", fence_tag(polygons))
        .filter(F.col("poly_id").isNotNull())
    )
    gap = int(gap_minutes) * 60
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    boundary = F.when(
        (F.col("poly_id") != F.lag("poly_id").over(w))
        | (F.col("ep") - F.lag("ep").over(w) > gap),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = (
        tagged.withColumn("b", boundary)
        .withColumn("episode", F.sum("b").over(w).cast("long"))
    )
    return runs.groupBy("user_id", "episode").agg(
        F.min("poly_id").alias("poly_id"),
        F.count("*").alias("n_events"),
        F.min("ep").alias("enter_s"),
        F.max("ep").alias("exit_s"),
        (F.max("ep") - F.min("ep")).alias("dwell_s"),
    ).select(
        "user_id", "poly_id", "episode", "n_events", "enter_s", "exit_s", "dwell_s"
    )


def geofence_dwell_oracle(
    polygons: list[dict], gap_minutes: int = 120, table: str = "events"
) -> str:
    """Identical tag (crossing-count pip + listed-order first match) and
    gap-and-island replay; whole-second epochs as :func:`sessionize_oracle`."""
    from ..sources import derive
    from .pip import _edges

    edge_rows = []
    for i, p in enumerate(polygons):
        for x1, y1, x2, y2 in _edges(p["vertices"]):
            edge_rows.append(f"('{p['poly_id']}', {i}, {x1}, {y1}, {x2}, {y2})")
    values = ", ".join(edge_rows)
    gap = int(gap_minutes) * 60
    return f"""WITH gd_ev AS (
  SELECT event_id, ts, user_id,
         {derive.x_sql('event_id')} AS ex, {derive.y_sql('event_id')} AS ey
  FROM {table}
), gd_edges(poly_id, ord, x1, y1, x2, y2) AS (VALUES {values}),
gd_pip AS (
  SELECT e.poly_id, e.ord, v.event_id,
         SUM(CASE WHEN ((e.y1 > v.ey) <> (e.y2 > v.ey)) AND
                  (CASE WHEN e.y2 - e.y1 > 0
                        THEN v.ex * (e.y2 - e.y1) < e.x1 * (e.y2 - e.y1) + (v.ey - e.y1) * (e.x2 - e.x1)
                        ELSE v.ex * (e.y2 - e.y1) > e.x1 * (e.y2 - e.y1) + (v.ey - e.y1) * (e.x2 - e.x1)
                   END)
             THEN 1 ELSE 0 END) AS crossings
  FROM gd_ev v, gd_edges e
  GROUP BY e.poly_id, e.ord, v.event_id
), gd_tag AS (
  SELECT event_id, poly_id,
         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ord) AS rn
  FROM gd_pip WHERE crossings % 2 = 1
), gd_runs AS (
  SELECT v.user_id, v.ts, v.event_id, t.poly_id,
         CAST(FLOOR(epoch(v.ts)) AS BIGINT) AS ep,
         CASE WHEN t.poly_id <> LAG(t.poly_id) OVER w
                   OR CAST(FLOOR(epoch(v.ts)) AS BIGINT)
                      - LAG(CAST(FLOOR(epoch(v.ts)) AS BIGINT)) OVER w > {gap}
              THEN 1 ELSE 0 END AS b
  FROM gd_ev v JOIN gd_tag t ON v.event_id = t.event_id AND t.rn = 1
  WINDOW w AS (PARTITION BY v.user_id ORDER BY v.ts, v.event_id)
), gd_epi AS (
  SELECT user_id, poly_id, ep,
         CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS episode
  FROM gd_runs
)
SELECT user_id, MIN(poly_id) AS poly_id, episode, COUNT(*) AS n_events,
       CAST(MIN(ep) AS BIGINT) AS enter_s, CAST(MAX(ep) AS BIGINT) AS exit_s,
       CAST(MAX(ep) - MIN(ep) AS BIGINT) AS dwell_s
FROM gd_epi GROUP BY user_id, episode"""


def user_retention(events: DataFrame, days: int = 7) -> DataFrame:
    """Cohort RETENTION matrix: users grouped by their first active
    ``days``-day bucket (the cohort), counted at every later bucket they
    return in — ``(cohort, age, n_users)`` where ``age`` is buckets since
    the cohort bucket (``age = 0`` row = cohort size).  The standard
    growth-analytics triangle, exact-integer end to end.

    Plan: events collapse to DISTINCT (user, bucket) first (one hash agg
    with map-side combine — the only pass over events); the cohort is a
    MIN window over that bounded frame (|users| x |active buckets| rows)
    and the final (cohort, age) agg is map-side combined.  No joins."""
    day_s = int(days) * 86400
    # two-step NTZ->TIMESTAMP->BIGINT cast (see sessionize); integer DIV on
    # the non-negative epoch == the oracle's FLOOR division
    ub = events.select(
        "user_id",
        F.expr(f"CAST(CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV {day_s} AS BIGINT)").alias(
            "bucket"
        ),
    ).distinct()
    w = Window.partitionBy("user_id")
    return (
        ub.withColumn("cohort", F.min("bucket").over(w))
        .groupBy("cohort", (F.col("bucket") - F.col("cohort")).alias("age"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def user_retention_oracle(days: int = 7, table: str = "events") -> str:
    """Identical distinct-bucket / MIN-window / (cohort, age) replay."""
    day_s = int(days) * 86400
    return f"""WITH ur_b AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch(ts) / {day_s}) AS BIGINT) AS bucket
  FROM {table}
), ur_c AS (
  SELECT user_id, bucket,
         MIN(bucket) OVER (PARTITION BY user_id) AS cohort
  FROM ur_b
)
SELECT cohort, CAST(bucket - cohort AS BIGINT) AS age,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM ur_c GROUP BY 1, 2"""


def fence_peak_occupancy(
    events: DataFrame, polygons: list[dict], gap_minutes: int = 120
) -> DataFrame:
    """Peak CONCURRENCY per fence — ``(poly_id, n_episodes, peak,
    peak_t)``: the maximum number of users dwelling in each polygon at
    the same second, the classic capacity question the per-window
    :func:`geofence_counts` (arrivals) and :func:`geofence_dwell`
    (durations) both miss, answered by a sweep-line over the dwell
    episodes.

    Convention: an episode occupies the CLOSED second range ``[enter_s,
    exit_s]`` (so a one-event visit still occupies its second); the sweep
    emits ``+1`` at ``enter_s`` and ``-1`` at ``exit_s + 1`` and exits
    apply before entries at the same second (half-open marks make that
    automatic once marks collapse per (fence, second) to a NET delta —
    the intra-second order then cannot matter, which is what makes the
    running sum engine-neutral).  ``peak_t`` is the EARLIEST second
    attaining the peak (deterministic tie-break).

    Plan: the dwell episodes (one user_id shuffle), two narrow mark
    projections unioned, a (fence, second) collapse with map-side
    combine, then ONE cumulative window per fence over the collapsed
    marks — bounded by distinct (fence, active-second) pairs, never
    events."""
    dwell = geofence_dwell(events, polygons, gap_minutes)
    marks = dwell.select(
        "poly_id", F.col("enter_s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        dwell.select(
            "poly_id", (F.col("exit_s") + 1).alias("t"), F.lit(-1).alias("delta")
        )
    )
    net = marks.groupBy("poly_id", "t").agg(F.sum("delta").alias("net"))
    w = Window.partitionBy("poly_id").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = net.withColumn("run", F.sum("net").over(w))
    epi = dwell.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_episodes")
    )
    wp = Window.partitionBy("poly_id")
    peak = (
        run.withColumn("mx", F.max("run").over(wp))
        .filter(F.col("run") == F.col("mx"))
        .groupBy("poly_id")
        .agg(
            F.max("mx").cast("long").alias("peak"),
            F.min("t").cast("long").alias("peak_t"),
        )
    )
    return epi.join(peak, "poly_id").select(
        "poly_id", "n_episodes", "peak", "peak_t"
    )


def fence_peak_occupancy_oracle(
    polygons: list[dict], gap_minutes: int = 120, table: str = "events"
) -> str:
    """The dwell oracle as a derived table, then the identical sweep:
    half-open marks, per-(fence, second) net collapse, cumulative sum,
    earliest-peak tie-break."""
    dwell_sql = geofence_dwell_oracle(polygons, gap_minutes, table)
    return f"""WITH fp_dwell AS ({dwell_sql}),
fp_marks AS (
  SELECT poly_id, enter_s AS t, 1 AS delta FROM fp_dwell
  UNION ALL
  SELECT poly_id, exit_s + 1 AS t, -1 AS delta FROM fp_dwell
), fp_net AS (
  SELECT poly_id, t, SUM(delta) AS net FROM fp_marks GROUP BY poly_id, t
), fp_run AS (
  SELECT poly_id, t,
         SUM(net) OVER (PARTITION BY poly_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM fp_net
), fp_peak AS (
  SELECT poly_id, CAST(MAX(run) AS BIGINT) AS peak FROM fp_run GROUP BY poly_id
), fp_epi AS (
  SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_episodes
  FROM fp_dwell GROUP BY poly_id
)
SELECT e.poly_id, e.n_episodes, p.peak,
       CAST(MIN(r.t) AS BIGINT) AS peak_t
FROM fp_epi e
JOIN fp_peak p ON e.poly_id = p.poly_id
JOIN fp_run r ON r.poly_id = e.poly_id AND r.run = p.peak
GROUP BY e.poly_id, e.n_episodes, p.peak"""
