"""Structured-Streaming forms of the event operators: watermarked tumbling
windows and stateful sessionization (``applyInPandasWithState``).

The reference has no streaming surface (SURVEY §2.3); these are the
idiomatic-Spark twins of ``operators/events.py`` — same semantics, same
integer-second arithmetic, so a batch run over the same data is the oracle
(tested in ``tests/test_streaming_events.py``).

Design notes for the 100 TB / real-cluster shape:

* The source here is a file stream (the sandbox form); swap for Kafka by
  changing ``readStream`` options only — every transformation below is
  source-agnostic.
* Watermarks bound state: the tumbling aggregation drops windows older
  than the watermark, and the sessionizer sets a per-key event-time
  timeout at ``last_ts + gap`` so closed sessions are emitted and evicted
  instead of accumulating forever.
* State is keyed by ``user_id`` — the same key the batch sessionizer
  shuffles on, so a bucketed-by-user Kafka topic partitioning makes the
  stateful stage shuffle-free.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

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


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Stateful streaming sessionization via ``applyInPandasWithState``.

    Per-user state carries (session_start, last_event, count) in integer
    epoch seconds — the exact arithmetic of the batch sessionizer, so the
    emitted (closed) sessions byte-match a batch run over the same prefix
    of the stream.  A session closes when a later event arrives past the
    gap, or when the event-time timeout (``last + gap``) fires under the
    watermark; both paths emit the same row and the state is then replaced
    or removed — bounded state, no per-key growth.
    """
    gap = gap_minutes * 60

    def _sessionize(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_s, last_s, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start_s": start_s,
                        "session_end_s": last_s,
                        "n_events": n,
                    }
                ]
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        secs = (rows["ts"].astype("int64") // 1_000_000_000).tolist()
        # late-data guard: unlike windowed aggregation, applyInPandasWithState
        # does NOT filter rows behind the watermark — without this, an
        # out-of-order micro-batch replay (e.g. file sources with unstable
        # mtime ordering) feeds ancient events into current state and
        # produces sessions with start > end (observed live).  Dropping
        # late rows is exactly what the built-in watermarked operators do.
        wm_s = state.getCurrentWatermarkMs() // 1000
        if wm_s > 0:
            secs = [s for s in secs if s >= wm_s]
        cur = state.get if state.exists else None  # (start_s, last_s, n)
        if not secs:
            if cur is not None:
                timeout_ms = (cur[1] + gap) * 1000
                state.setTimeoutTimestamp(
                    max(timeout_ms, state.getCurrentWatermarkMs() + 1)
                )
            return
        closed = []
        for s in secs:
            if cur is None:
                cur = (s, s, 1)
            elif s - cur[1] > gap:
                closed.append(cur)
                cur = (s, s, 1)
            else:
                cur = (cur[0], s, cur[2] + 1)
        state.update(cur)
        # a user whose events lag the global watermark by more than the
        # delay can have last+gap already behind it — Spark rejects such a
        # timestamp, so clamp to watermark+1: the overdue session then
        # closes at the very next watermark advance (same emitted row)
        timeout_ms = (cur[1] + gap) * 1000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start_s": a,
                        "session_end_s": b,
                        "n_events": n,
                    }
                    for a, b, n in closed
                ]
            )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
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
    """Streaming stay-point detection (``applyInPandasWithState``) — the
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
    pts = event_points(events)

    def _emit(user_id, seg, n, start, last, sx, sy):
        return {
            "user_id": user_id, "stay_id": seg, "n_points": n,
            "start_s": start, "end_s": last, "cx": sx // n, "cy": sy // n,
        }

    def _stays(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            seg, n, start, last, lx, ly, sx, sy = state.get
            # keep the counter so later events continue the batch numbering
            state.update((seg + 1, 0, 0, 0, 0, 0, 0, 0))
            if n and last - start >= min_dur and n >= min_p:
                yield pd.DataFrame([_emit(user_id, seg, n, start, last, sx, sy)])
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        # late-data guard — same rationale as sessionize_stream
        wm_s = state.getCurrentWatermarkMs() // 1000
        pts3 = [
            (int(s), int(x), int(y))
            for s, x, y in zip(rows["ep"].tolist(), rows["ex"].tolist(), rows["ey"].tolist())
            if wm_s <= 0 or s >= wm_s
        ]
        cur = tuple(state.get) if state.exists else None
        closed = []
        for s, x, y in pts3:
            if cur is None:
                cur = (0, 1, s, s, x, y, x, y)
            elif cur[1] == 0:
                cur = (cur[0], 1, s, s, x, y, x, y)
            else:
                seg, n, start, last, lx, ly, sx, sy = cur
                d2 = (x - lx) * (x - lx) + (y - ly) * (y - ly)
                if d2 > r2 or s - last > gap:
                    closed.append(cur)
                    cur = (seg + 1, 1, s, s, x, y, x, y)
                else:
                    cur = (seg, n + 1, start, s, x, y, sx + x, sy + y)
        if cur is not None:
            state.update(tuple(int(v) for v in cur))
            if cur[1]:
                timeout_ms = (cur[3] + gap) * 1000
                state.setTimeoutTimestamp(
                    max(timeout_ms, state.getCurrentWatermarkMs() + 1)
                )
        out = [
            _emit(user_id, seg, n, start, last, sx, sy)
            for seg, n, start, last, lx, ly, sx, sy in closed
            if last - start >= min_dur and n >= min_p
        ]
        if out:
            yield pd.DataFrame(out)

    return (
        pts.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _stays,
            outputStructType=STAY_SCHEMA,
            stateStructType=_STAY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
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
    """Streaming impossible-travel detection (``applyInPandasWithState``) —
    the stateful twin of ``operators/trajectory.impossible_travel`` with
    the exact same integer cross-multiplication (including the LEAST
    overflow cap), so a full-corpus replay byte-matches the batch run.

    Per-user state is ONE fixed-width row (the last accepted point); every
    violating consecutive pair emits immediately — no timeout, no segment
    lifecycle, the simplest possible stateful operator and the shape a
    real-time account-security pipeline wants (alert at arrival time).
    The same late-data guard as sessionize_stream drops below-watermark
    arrivals (the batch comparison replays everything in one availableNow
    batch, where the guard is vacuous)."""
    v2 = int(vmax) * int(vmax)
    cap = (1 << 25) + 1
    pts = event_points(events)

    def _detect(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:  # NoTimeout: unreachable, defensive
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        wm_s = state.getCurrentWatermarkMs() // 1000
        pts4 = [
            (int(s), int(e), int(x), int(y))
            for s, e, x, y in zip(
                rows["ep"].tolist(),
                rows["event_id"].tolist(),
                rows["ex"].tolist(),
                rows["ey"].tolist(),
            )
            if wm_s <= 0 or s >= wm_s
        ]
        prev = tuple(state.get) if state.exists else None
        out = []
        for s, eid, x, y in pts4:
            if prev is not None:
                pep, peid, px, py = prev
                dt = s - pep
                d2 = (x - px) * (x - px) + (y - py) * (y - py)
                if d2 > min(cap, v2 * dt * dt):
                    out.append(
                        {
                            "user_id": user_id,
                            "from_event": peid,
                            "to_event": eid,
                            "dt_s": dt,
                            "dist2": d2,
                        }
                    )
            prev = (s, eid, x, y)
        if prev is not None:
            state.update(tuple(int(v) for v in prev))
        if out:
            yield pd.DataFrame(out)

    return (
        pts.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _detect,
            outputStructType=IMPTRAVEL_SCHEMA,
            stateStructType=_IMPT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
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
    """Streaming geofence funnel (``applyInPandasWithState``): per user,
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

    def _funnel(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:  # NoTimeout: unreachable, defensive
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        wm_s = state.getCurrentWatermarkMs() // 1000
        t_a, resolved = (tuple(state.get) if state.exists else (-1, 0))
        out = []
        for s, a, b in zip(
            rows["ep"].tolist(), rows["in_a"].tolist(), rows["in_b"].tolist()
        ):
            if wm_s > 0 and s < wm_s:
                continue  # late-data guard, same rationale as sessionize
            s = int(s)
            if a and t_a < 0:
                t_a = s
            if b and t_a >= 0 and s >= t_a and not resolved:
                resolved = 1
                if s - t_a <= within:
                    out.append({"user_id": user_id, "t_a": t_a, "t_b": s})
        state.update((int(t_a), int(resolved)))
        if out:
            yield pd.DataFrame(out)

    return (
        pts.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
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

    def _dwell(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:  # pragma: no cover - flush rows close states
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        wm_s = state.getCurrentWatermarkMs() // 1000
        seq = [
            (int(s), str(p))
            for s, p in zip(rows["ep"].tolist(), rows["poly_id"].tolist())
            if wm_s <= 0 or s >= wm_s
        ]
        cur = tuple(state.get) if state.exists else None
        out = []
        for s, poly in seq:
            if poly == "_flush_":
                if cur is not None and cur[2]:
                    out.append(_emit(user_id, cur[0], cur[1], cur[2], cur[3], cur[4]))
                    cur = (cur[0] + 1, "", 0, 0, 0)
                continue
            if cur is None or cur[2] == 0:
                episode = cur[0] if cur is not None else 0
                cur = (episode, poly, 1, s, s)
            else:
                episode, cpoly, n, start, last = cur
                if poly != cpoly or s - last > gap:
                    out.append(_emit(user_id, episode, cpoly, n, start, last))
                    cur = (episode + 1, poly, 1, s, s)
                else:
                    cur = (episode, poly, n + 1, start, s)
        if cur is not None:
            state.update((int(cur[0]), str(cur[1]), int(cur[2]), int(cur[3]), int(cur[4])))
        if out:
            yield pd.DataFrame(out)

    return (
        tagged.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _dwell,
            outputStructType=DWELL_SCHEMA,
            stateStructType=_DWELL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
