"""Structured-Streaming forms of the event operators: watermarked tumbling
windows and stateful per-user scans.

The reference has no streaming surface (SURVEY §2.3); these are the
idiomatic-Spark twins of ``operators/events.py`` — same semantics, same
integer-second arithmetic, so a batch run over the same data is the oracle
(tested in ``tests/test_streaming_events.py``).

Design notes for the 100 TB / real-cluster shape:

* The source here is a file stream (the sandbox form); swap for Kafka by
  changing ``readStream`` options only — every transformation below is
  source-agnostic.
* Watermarks bound state: the tumbling aggregation drops windows older
  than the watermark, and the stateful twins that keep an open session or
  segment set a per-key event-time timeout at ``last + gap`` so closed
  state is emitted and evicted instead of accumulating forever.
* Each stateful twin is a pure per-user step; :func:`_per_user_scan` owns
  the Spark side (watermark, sort, late-data guard, state, timeout clamp).
* State is keyed by ``user_id`` — the same key the batch sessionizer
  shuffles on, so a bucketed-by-user Kafka topic partitioning makes the
  stateful stage shuffle-free.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.events import event_points, fence_tag

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_s", LongType()),
        StructField("session_end_s", LongType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_s", LongType()),
        StructField("last_s", LongType()),
        StructField("n", LongType()),
    ]
)


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source event stream (one file per micro-batch for determinism)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def tumbling_counts_stream(
    events: DataFrame, minutes: int = 60, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of ``operators.events.tumbling_counts``: same epoch
    bucketing, plus a watermark that bounds aggregation state."""
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    start = (
        F.window("ts", f"{minutes} minutes")
        .getField("start")
        .cast("timestamp")
        .cast("long")
    )
    return (
        events.withWatermark("ts", watermark)
        .withColumn("v6", v6)
        .groupBy(start.alias("window_start_s"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("v6").alias("sum_value_e6"))
    )


def sliding_counts_stream(
    events: DataFrame,
    minutes: int = 60,
    slide_minutes: int = 15,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators.events.sliding_counts``: hopping
    windows with a watermark bounding state to ``(watermark + size) /
    slide`` live windows per event_type."""
    if minutes % slide_minutes:
        raise ValueError("window size must be a multiple of the slide")
    v6 = F.expr("CAST(FLOOR(value * 1000000) AS BIGINT)")
    start = (
        F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
        .getField("start")
        .cast("timestamp")
        .cast("long")
    )
    return (
        events.withWatermark("ts", watermark)
        .withColumn("v6", v6)
        .groupBy(start.alias("window_start_s"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("v6").alias("sum_value_e6"))
    )


def interval_join_stream(
    events_a: DataFrame,
    events_b: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream event-time interval join — the streaming twin of
    ``operators.events.interval_join`` (impression->conversion
    attribution).  Both sides carry a watermark and the join condition
    bounds ``b_ts`` to ``[a_ts, a_ts + within]``, so Spark derives a state
    eviction horizon for BOTH buffers: an ``a`` row is dropped once the
    ``b`` watermark passes ``a_ts + within``, a ``b`` row once the ``a``
    watermark passes ``b_ts`` — bounded state, no unbounded buffering.
    Inner join in append mode: every emitted row is final, so the finished
    stream equals the batch join exactly and the batch oracle applies
    unchanged."""
    a = (
        events_a.where(F.col("event_type") == type_a)
        .select("user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", watermark)
    )
    b = (
        events_b.where(F.col("event_type") == type_b)
        .select(
            F.col("user_id").alias("user_id_b"),
            F.col("event_id").alias("b_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", watermark)
    )
    cond = F.expr(
        "user_id = user_id_b AND b_ts >= a_ts "
        f"AND b_ts <= a_ts + INTERVAL {int(within_minutes)} MINUTES"
    )
    # two-step cast (NTZ-safe) — same discipline as the batch twin
    delay = F.col("b_ts").cast("timestamp").cast("long") - F.col("a_ts").cast(
        "timestamp"
    ).cast("long")
    return a.join(b, cond).select("user_id", "a_id", "b_id", delay.alias("delay_s"))


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    within_watermark: str | None = None,
) -> DataFrame:
    """Streaming deduplication — the at-least-once-ingest primitive.

    Key-only projection + ``dropDuplicates``: emits each distinct key once
    (on first arrival), so the finished append-mode stream equals batch
    ``SELECT DISTINCT`` regardless of arrival order — the property that
    makes it oracle-checkable.  Without a watermark the dedup state never
    expires (exact, unbounded); pass ``within_watermark`` to switch to
    ``dropDuplicatesWithinWatermark``, the bounded-state form for
    replay/retry duplicates that arrive temporally close (the 100 TB
    Kafka-ingest shape) — state is evicted once the watermark passes, at
    the cost of re-emitting a key whose duplicate arrives later than the
    delay."""
    proj = events.select(*keys, "ts")
    if within_watermark is not None:
        return (
            proj.withWatermark("ts", within_watermark)
            .dropDuplicatesWithinWatermark(list(keys))
            .select(*keys)
        )
    return proj.select(*keys).dropDuplicates(list(keys))


def _per_user_scan(
    frame: DataFrame,
    scan: Callable[[Any, Optional[tuple], list], tuple],
    out_schema: StructType,
    state_schema: StructType,
    cols: tuple[str, ...],
    gap_s: Optional[int] = None,
    on_timeout: Optional[Callable[[Any, tuple], tuple]] = None,
) -> DataFrame:
    """The one ``applyInPandasWithState`` stage behind every stateful twin.

    Per user and micro-batch, ``scan(user_id, state, rows)`` gets the stored
    state tuple (or None) and the rows of ``frame`` (which carries ``ts``,
    ``event_id``, ``user_id`` and ``ep``) as tuples of ``cols``, sorted by
    ``(ts, event_id)`` with late rows dropped.  It returns ``(state,
    out_rows, open_s)``: the new state (None stores nothing), the dict rows
    to emit and the epoch second the open state last moved (None: nothing
    open).  With ``gap_s`` that state times out ``gap_s`` later on event
    time and ``on_timeout(user_id, state) -> (state or None, out_rows)``
    closes it (None removes it); without ``gap_s`` nothing times out."""

    def _step(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            new, out = on_timeout(user_id, state.get)
            if new is None:
                state.remove()
            else:
                state.update(new)
        else:
            rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
            wm_ms = state.getCurrentWatermarkMs()
            # late-data guard: unlike windowed aggregation,
            # applyInPandasWithState does NOT filter rows behind the
            # watermark — without this, an out-of-order micro-batch replay
            # (e.g. file sources with unstable mtime ordering) feeds ancient
            # events into current state and produces sessions with
            # start > end (observed live).  Dropping late rows is exactly
            # what the built-in watermarked operators do.
            wm_s = wm_ms // 1000
            if wm_s > 0:
                rows = rows[rows["ep"] >= wm_s]
            new, out, open_s = scan(
                user_id,
                state.get if state.exists else None,
                list(zip(*(rows[c].tolist() for c in cols))),
            )
            if new is not None:
                state.update(new)
            if gap_s is not None and open_s is not None:
                # a user whose events lag the global watermark by more than
                # the delay can have open + gap already behind it — Spark
                # rejects such a timestamp, so clamp to watermark+1: the
                # overdue state then closes at the very next watermark
                # advance (same emitted row)
                state.setTimeoutTimestamp(max((open_s + gap_s) * 1000, wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return (
        frame.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _step,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout
            if gap_s is None
            else GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Stateful streaming sessionization, one :func:`_per_user_scan`.

    Per-user state carries (session_start, last_event, count) in integer
    epoch seconds — the exact arithmetic of the batch sessionizer, so the
    emitted (closed) sessions byte-match a batch run over the same prefix
    of the stream.  A session closes when a later event arrives past the
    gap, or when the event-time timeout (``last + gap``) fires under the
    watermark; both paths emit the same row and the state is then replaced
    or removed — bounded state, no per-key growth.
    """
    gap = gap_minutes * 60

    def _emit(user_id, start_s, last_s, n):
        return {
            "user_id": user_id, "session_start_s": start_s,
            "session_end_s": last_s, "n_events": n,
        }

    def _scan(user_id, cur, rows):  # cur: (start_s, last_s, n)
        closed = []
        for (s,) in rows:
            if cur is None:
                cur = (s, s, 1)
            elif s - cur[1] > gap:
                closed.append(_emit(user_id, *cur))
                cur = (s, s, 1)
            else:
                cur = (cur[0], s, cur[2] + 1)
        return cur, closed, None if cur is None else cur[1]

    return _per_user_scan(
        event_points(events), _scan, SESSION_SCHEMA, _STATE_SCHEMA, ("ep",),
        gap_s=gap, on_timeout=lambda user_id, cur: (None, [_emit(user_id, *cur)]),
    )


STAY_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stay_id", LongType()),
        StructField("n_points", LongType()),
        StructField("start_s", LongType()),
        StructField("end_s", LongType()),
        StructField("cx", LongType()),
        StructField("cy", LongType()),
    ]
)

# (seg, n, start_s, last_s, last_x, last_y, sum_x, sum_y); n == 0 encodes
# "no open segment, but keep the seg counter" — without it a timeout-evicted
# user would restart stay_id at 0 and diverge from the batch numbering
_STAY_STATE_SCHEMA = StructType(
    [StructField(c, LongType()) for c in
     ("seg", "n", "start_s", "last_s", "lx", "ly", "sx", "sy")]
)


def stay_points_stream(
    events: DataFrame,
    radius: int = 1200,
    gap_minutes: int = 720,
    min_minutes: int = 60,
    min_points: int = 3,
) -> DataFrame:
    """Streaming stay-point detection (a :func:`_per_user_scan`) — the
    stateful twin of ``operators/trajectory.stay_points`` with the exact
    same integer arithmetic, so closed stays byte-match a batch run over
    the same stream prefix.

    Per-user state carries the OPEN segment (index, count, time span, last
    point, coordinate sums); a segment closes when a point arrives beyond
    ``radius``/``gap_minutes`` of the last one, or when the event-time
    timeout (``last + gap``) fires under the watermark.  Qualifying closed
    segments (span >= min_minutes, count >= min_points) are emitted; the
    segment INDEX always advances — including for non-qualifying segments —
    so ``stay_id`` equals the batch boundary-count numbering.  State is one
    fixed-width row per active user: bounded, no per-key growth."""
    r2 = int(radius) * int(radius)
    gap = int(gap_minutes) * 60
    min_dur = int(min_minutes) * 60
    min_p = int(min_points)

    def _closed(user_id, seg, n, start, last, lx, ly, sx, sy):
        """The stay row of a closed segment, if it qualifies."""
        if not (n and last - start >= min_dur and n >= min_p):
            return []
        return [{
            "user_id": user_id, "stay_id": seg, "n_points": n,
            "start_s": start, "end_s": last, "cx": sx // n, "cy": sy // n,
        }]

    def _scan(user_id, cur, rows):
        out = []
        for s, x, y in rows:
            if cur is None or cur[1] == 0:
                cur = (0 if cur is None else cur[0], 1, s, s, x, y, x, y)
            else:
                seg, n, start, last, lx, ly, sx, sy = cur
                d2 = (x - lx) * (x - lx) + (y - ly) * (y - ly)
                if d2 > r2 or s - last > gap:
                    out += _closed(user_id, *cur)
                    cur = (seg + 1, 1, s, s, x, y, x, y)
                else:
                    cur = (seg, n + 1, start, s, x, y, sx + x, sy + y)
        return cur, out, cur[3] if cur is not None and cur[1] else None

    def _timeout(user_id, cur):
        # keep the counter so later events continue the batch numbering
        return (cur[0] + 1, 0, 0, 0, 0, 0, 0, 0), _closed(user_id, *cur)

    return _per_user_scan(
        event_points(events), _scan, STAY_SCHEMA, _STAY_STATE_SCHEMA,
        ("ep", "ex", "ey"), gap_s=gap, on_timeout=_timeout,
    )


IMPTRAVEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("from_event", LongType()),
        StructField("to_event", LongType()),
        StructField("dt_s", LongType()),
        StructField("dist2", LongType()),
    ]
)

# last accepted point per user: (ep, event_id, x, y) — fixed width, no growth
_IMPT_STATE_SCHEMA = StructType(
    [StructField(c, LongType()) for c in ("ep", "eid", "lx", "ly")]
)


def impossible_travel_stream(events: DataFrame, vmax: int = 2) -> DataFrame:
    """Streaming impossible-travel detection (a :func:`_per_user_scan`) —
    the stateful twin of ``operators/trajectory.impossible_travel`` with
    the exact same integer cross-multiplication (including the LEAST
    overflow cap), so a full-corpus replay byte-matches the batch run.

    Per-user state is ONE fixed-width row (the last accepted point); every
    violating consecutive pair emits immediately — no timeout, no segment
    lifecycle, the simplest possible stateful operator and the shape a
    real-time account-security pipeline wants (alert at arrival time).
    The late-data guard of :func:`_per_user_scan` drops below-watermark
    arrivals (the batch comparison replays everything in one availableNow
    batch, where the guard is vacuous)."""
    v2 = int(vmax) * int(vmax)
    cap = (1 << 25) + 1

    def _scan(user_id, prev, rows):
        out = []
        for s, eid, x, y in rows:
            if prev is not None:
                pep, peid, px, py = prev
                dt = s - pep
                d2 = (x - px) * (x - px) + (y - py) * (y - py)
                if d2 > min(cap, v2 * dt * dt):
                    out.append({
                        "user_id": user_id, "from_event": peid, "to_event": eid,
                        "dt_s": dt, "dist2": d2,
                    })
            prev = (s, eid, x, y)
        return prev, out, None

    return _per_user_scan(
        event_points(events), _scan, IMPTRAVEL_SCHEMA, _IMPT_STATE_SCHEMA,
        ("ep", "event_id", "ex", "ey"),
    )


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_a", LongType()),
        StructField("t_b", LongType()),
    ]
)

# (t_a, resolved): t_a = -1 until the first A visit; resolved = 1 once the
# first B-on-or-after-t_a has been seen (converted or not) — monotone, so
# each user emits at most one conversion row ever
_FUNNEL_STATE_SCHEMA = StructType(
    [StructField("t_a", LongType()), StructField("resolved", LongType())]
)


def geo_funnel_stream(
    events: DataFrame,
    poly_a: dict,
    poly_b: dict,
    within_s: int = 86400,
) -> DataFrame:
    """Streaming geofence funnel (a :func:`_per_user_scan`): per user,
    remember the FIRST fence-A visit; the FIRST fence-B event at or after
    it resolves the funnel — emit ``(user_id, t_a, t_b)`` iff
    ``t_b - t_a <= within_s`` (a later B can only be later, so the first
    qualifying B decides, exactly like the batch MIN).  A single event
    inside both fences converts instantly (the A-update precedes the
    B-check), matching :func:`operators.trajectory.geo_funnel`'s
    ``t_b >= t_a`` rule bit-for-bit on a full replay.

    State is two integers per user, monotone — the real-time conversion
    alerting shape.  Same watermark late-data guard as the other stateful
    twins (vacuous on a single availableNow replay batch)."""
    from ..operators.pip import inside_polygon_expr

    within = int(within_s)
    pts = (
        event_points(events)
        .withColumn("in_a", inside_polygon_expr(poly_a["vertices"], "ex", "ey"))
        .withColumn("in_b", inside_polygon_expr(poly_b["vertices"], "ex", "ey"))
    )

    def _scan(user_id, cur, rows):
        t_a, resolved = cur or (-1, 0)
        out = []
        for s, a, b in rows:
            if a and t_a < 0:
                t_a = s
            if b and t_a >= 0 and s >= t_a and not resolved:
                resolved = 1
                if s - t_a <= within:
                    out.append({"user_id": user_id, "t_a": t_a, "t_b": s})
        return (t_a, resolved), out, None

    return _per_user_scan(
        pts, _scan, FUNNEL_SCHEMA, _FUNNEL_STATE_SCHEMA, ("ep", "in_a", "in_b")
    )


DWELL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("poly_id", StringType()),
        StructField("episode", LongType()),
        StructField("n_events", LongType()),
        StructField("enter_s", LongType()),
        StructField("exit_s", LongType()),
        StructField("dwell_s", LongType()),
    ]
)

_DWELL_STATE_SCHEMA = StructType(
    [
        StructField("episode", LongType()),
        StructField("poly", StringType()),
        StructField("n", LongType()),
        StructField("start", LongType()),
        StructField("last", LongType()),
    ]
)


def geofence_dwell_stream(
    events: DataFrame, polygons: list[dict], gap_minutes: int = 120
) -> DataFrame:
    """Streaming geofence DWELL episodes — the stateful twin of
    ``operators/events.geofence_dwell`` with identical integer arithmetic
    and episode numbering, so emitted rows byte-match the batch run.

    The fence tag is the same codegen derive+ray-cast projection as the
    batch form (streaming-compatible: pure per-row expressions); rows with
    ``event_type = 'flush'`` BYPASS the tag — the replay harness plants one
    per user after every real event, so each user's open episode closes
    DETERMINISTICALLY when its flush arrives (no event-time-timeout race
    at stream end), and the flush itself opens nothing.  State is one
    fixed-width row per active user."""
    gap = int(gap_minutes) * 60
    tagged = event_points(events).withColumn(
        "poly_id",
        F.when(F.col("event_type") == "flush", F.lit("_flush_")).otherwise(
            fence_tag(polygons)
        ),
    ).filter(F.col("poly_id").isNotNull())

    def _emit(user_id, episode, poly, n, start, last):
        return {
            "user_id": user_id, "poly_id": poly, "episode": episode,
            "n_events": n, "enter_s": start, "exit_s": last,
            "dwell_s": last - start,
        }

    def _scan(user_id, cur, rows):  # cur: (episode, poly, n, start, last)
        out = []
        for s, poly in rows:
            if poly == "_flush_":
                if cur is not None and cur[2]:
                    out.append(_emit(user_id, *cur))
                    cur = (cur[0] + 1, "", 0, 0, 0)
                continue
            if cur is None or cur[2] == 0:
                cur = (0 if cur is None else cur[0], poly, 1, s, s)
            else:
                episode, cpoly, n, start, last = cur
                if poly != cpoly or s - last > gap:
                    out.append(_emit(user_id, *cur))
                    cur = (episode + 1, poly, 1, s, s)
                else:
                    cur = (episode, poly, n + 1, start, s)
        return cur, out, None

    return _per_user_scan(
        tagged, _scan, DWELL_SCHEMA, _DWELL_STATE_SCHEMA, ("ep", "poly_id")
    )
