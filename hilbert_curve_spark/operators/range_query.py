"""GRQ — geometric range query (reference S8,
`Scheme/RSKQ/RSKQ_Biginteger.GRQSearch:875-995`; plaintext ground truth
`hilbert/HilbertApp/HilbertRangeSearchApp.java:86-106`).

One probe turns a Hilbert interval list into a scan predicate:
:func:`cover_predicate`.  A rectangle compiles driver-side to a budgeted
range cover (perimeter algorithm + min-gap coalescing); up to 64 merged
intervals become an OR-of-BETWEEN on ``hilbert`` that Catalyst pushes to the
parquet scan (min/max row-group pruning on Hilbert-sorted data).  Longer
interval lists keep a 64-interval coalesced literal for that pruning and add
the exact test of the reference's own probe — the interval union's BPC
prefix set, looked up per level as ``shiftright(hilbert, L) IN (...)``
(``preCover`` + ``PDB.get``, RSKQ_Biginteger.java:139-188) — so the
predicate stays at most ``bits + 1`` hash InSet terms whatever the range
count.  No shuffle, no join.

``grq_range_mode`` applies it to ``doc_geo``; ``grq_prefix_mode`` answers the
same rectangle from the prefix-posting index (reference PDB semantics) by
probing its leaf level with the same predicate.  ``shape_probe`` answers N
literal shapes at once — one predicate over the union of their covers, then
each row tagged with every shape whose exact residual holds — and is the one
tagging path of ``grq_batch``, tile assignment, the PIP joins, the kNN join
and the POI distance join.

Budgeted covers over-approximate (SmallHilbertCurve.java:156-162), so the
residual ``x/y BETWEEN`` filter is re-applied whenever the cover is inexact —
result sets therefore match the reference exactly for any budget.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..curve.bpc import bpc_cover_of_ranges
from ..curve.cover import Cover, coalesce_ranges, cover_box, merge_overlapping

# literal BETWEEN terms a predicate may carry (the union prefilters' old
# budget): an OR-of-BETWEEN costs analysis time per term, and at a few
# hundred terms its left-deep tree overflows the analyzer's stack
_LITERAL_RANGES = 64


def compile_box(
    x_lo: int, x_hi: int, y_lo: int, y_hi: int, config: EngineConfig = DEFAULT
) -> Cover:
    return cover_box(x_lo, x_hi, y_lo, y_hi, config.order, config.max_ranges)


def cover_predicate(
    ranges: list[tuple[int, int]],
    config: EngineConfig = DEFAULT,
    col: str = "hilbert",
) -> F.Column:
    """Rows whose curve index (SQL expression ``col``) lies in the union of
    the inclusive ``ranges`` — the one literal interval predicate.

    Up to ``_LITERAL_RANGES`` merged intervals it is an OR-of-BETWEEN,
    which Catalyst pushes to the scan.  Past that, the intervals coalesced to
    that many BETWEENs keep the scan pruning and the exact membership test is
    the union's BPC prefix set, one ``shiftright(col, L) IN (...)`` per level
    ``L`` present (``preCover`` + ``PDB.get``,
    RSKQ_Biginteger.java:139-188): at most ``bits + 1`` hash lookups per
    row whatever the range count.  It is rendered as one SQL string because
    a Column per literal costs seconds to build and analyze.  No ranges
    select no rows."""
    merged = merge_overlapping(ranges)
    if not merged:
        return F.lit(False)
    literal = functools.reduce(
        operator.or_,
        [F.expr(col).between(lo, hi) for lo, hi in coalesce_ranges(merged, _LITERAL_RANGES)],
    )
    if len(merged) <= _LITERAL_RANGES:
        return literal
    if merged[0][0] < 0 or merged[-1][1] >> config.bits:
        raise ValueError(f"ranges exceed the {config.bits}-bit curve domain")
    levels: dict[int, list[int]] = {}
    for prefix in bpc_cover_of_ranges(merged, config.bits):
        pbits, plen = prefix_to_key(prefix)
        levels.setdefault(config.bits - plen, []).append(pbits)
    member = " OR ".join(
        f"shiftright({col}, {level}) IN ({', '.join(map(str, keys))})"
        for level, keys in sorted(levels.items())
    )
    return literal & F.expr(member)


def box_residual(cover: Cover) -> F.Column:
    return (
        F.col("x").between(cover.x_lo, cover.x_hi)
        & F.col("y").between(cover.y_lo, cover.y_hi)
    )


def grq_range_mode(
    doc_geo: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Docs inside the rectangle via Hilbert cover + exact residual."""
    cover = compile_box(x_lo, x_hi, y_lo, y_hi, config)
    out = doc_geo.filter(cover_predicate(cover.ranges, config))
    if not cover.exact:
        out = out.filter(box_residual(cover))
    return out


# ---------------------------------------------------------------------------
# prefix mode (reference PDB: prefix -> posting list)
# ---------------------------------------------------------------------------

def prefix_index(doc_geo: DataFrame, config: EngineConfig = DEFAULT) -> DataFrame:
    """Spatial inverted index build (reference E10,
    `DataSetAccess.preProcessIndex:254-324`): each doc explodes to its
    ``2*order + 1`` wildcard prefixes (RSKQ ``preCode``,
    RSKQ_Biginteger.java:139-163) -> ``(pbits, plen, doc_id)`` postings.

    The wildcard string ``"0111**"`` is stored numerically as
    ``(pbits = hilbert >> stars, plen = bits - stars)`` — two int64 shifts
    per level instead of per-row string building (the strings are
    representation only; the reference's map keys are PRF hashes of them
    anyway).  ~16x cheaper to build and join than the string form.
    Fully native SQL; at scale this table is written bucketed by
    ``(pbits, plen)`` so prefix probes are shuffle-free.
    """
    bits = config.bits
    pieces = (
        f"transform(sequence(0, {bits}), "
        f"s -> named_struct('pbits', shiftright(hilbert, s), 'plen', {bits} - s))"
    )
    return doc_geo.select(F.explode(F.expr(pieces)).alias("e"), "doc_id").select(
        F.col("e.pbits").alias("pbits"), F.col("e.plen").alias("plen"), "doc_id"
    )


def prefix_to_key(prefix: str) -> tuple[int, int]:
    """Wildcard string -> numeric index key (pbits, plen)."""
    stem = prefix.rstrip("*")
    return (int(stem, 2) if stem else 0, len(stem))


def grq_prefix_mode(
    index: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """doc_ids in the rectangle, answered from the prefix-posting index.

    The reference looks up each prefix of the query's BPC set in its PDB
    (``preCover`` + ``PDB.get``, RSKQ_Biginteger.java:139-188).  Here the
    lookup is :func:`cover_predicate` over the box's exact cover, evaluated
    on the index's leaf level: at ``plen = bits`` every doc has exactly one
    posting and its ``pbits`` is the doc's Hilbert value, so the exact
    cover's membership test selects exactly the box's docs.  One filtered
    scan — no probe list, no join, no residual.
    """
    cover = cover_box(x_lo, x_hi, y_lo, y_hi, config.order, max_ranges=0)
    leaf = (F.col("plen") == config.bits) & cover_predicate(cover.ranges, config, col="pbits")
    return index.filter(leaf).select("doc_id")


def shape_probe(
    doc_geo: DataFrame,
    shapes: list[tuple[list[tuple[int, int]], F.Column]],
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Which of N literal shapes holds each doc: ``doc_geo``'s columns plus
    an int ``shape`` (the index into ``shapes``), one row per (doc, shape)
    whose exact residual holds.  Each shape is ``(ranges, residual)``: its
    Hilbert cover and the exact per-row test (box window, ray cast,
    distance) the over-approximate cover needs.

    Physical plan: ONE :func:`cover_predicate` over the union of all
    covers filters the scan — on the Hilbert-sorted layout the row-group
    pruning a single query gets, now shared — and each surviving row is
    tagged with every shape whose residual holds by a codegen
    ``explode(filter(array(CASE ...)))``.  No join, no shuffle; output
    fan-out equals true matches.  Callers pick a per-shape payload with
    :func:`shape_value`.  Meant for the short
    shape lists a caller writes down; a many-shape reference layer keeps a
    cell-keyed broadcast join (``events.geofence_join``,
    ``spatial_join.nearest_join_bucketed``)."""
    tags = F.array(
        *[
            F.when(residual, F.lit(i)).otherwise(F.lit(None).cast("int"))
            for i, (_, residual) in enumerate(shapes)
        ]
    ).cast("array<int>")  # an empty array() would be array<void>
    return doc_geo.filter(
        cover_predicate([r for ranges, _ in shapes for r in ranges], config)
    ).select("*", F.explode(F.filter(tags, lambda c: c.isNotNull())).alias("shape"))


def shape_value(values: list, dtype: str) -> F.Column:
    """The per-shape literal ``values[shape]`` on each :func:`shape_probe`
    row, as ``dtype`` (so an empty shape list still types its columns)."""
    return F.element_at(F.array(*map(F.lit, values)), F.col("shape") + 1).cast(dtype)


def grq_batch(
    doc_geo: DataFrame, boxes: list, config: EngineConfig = DEFAULT
) -> DataFrame:
    """BATCHED geometric range query — N rectangles answered in ONE corpus
    pass: ``(box_id, doc_id, x, y)``, one row per (box, matching doc).
    The reference answers each rectangle with its own index walk
    (`Scheme/RSKQ/RSKQ_Biginteger.java:875-995, reference`); a 100 TB
    engine amortizes the scan across a query batch instead — the
    multi-query optimization every tile server and dashboard needs.

    Physical plan: :func:`shape_probe` with the exact box predicates as
    residuals (4 comparisons per box — the cover is for pruning, so
    over-approximate covers stay correct): one pruned scan, past 64 merged
    intervals a per-level BPC hash lookup, one Generate."""
    shapes = [
        (
            compile_box(xl, xh, yl, yh, config).ranges,
            F.col("x").between(xl, xh) & F.col("y").between(yl, yh),
        )
        for xl, xh, yl, yh in boxes
    ]
    return shape_probe(doc_geo, shapes, config).select(
        F.col("shape").alias("box_id"), "doc_id", "x", "y"
    )


def grq_batch_oracle(boxes: list) -> str:
    """Appends nothing — a full SELECT over a pre-defined ``doc_geo``:
    the straightforward one-query-per-box UNION ALL."""
    arms = []
    for i, (xl, xh, yl, yh) in enumerate(boxes):
        arms.append(
            f"SELECT CAST({i} AS INTEGER) AS box_id, doc_key AS doc_id, x, y "
            f"FROM doc_geo WHERE x BETWEEN {xl} AND {xh} "
            f"AND y BETWEEN {yl} AND {yh}"
        )
    return " UNION ALL ".join(arms)
