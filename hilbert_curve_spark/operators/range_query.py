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
probing its leaf level with the same predicate.

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
    a Column per literal costs seconds to build and analyze."""
    merged = merge_overlapping(ranges)
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


def cover_cells_probe(
    doc_geo: "DataFrame",
    per_shape: list[tuple[tuple, list[tuple[int, int]]]],
    payload_schema: str,
    cell_budget: int = 1024,
) -> "DataFrame":
    """Shared plumbing for the cover-driven broadcast HASH joins (tile
    assignment, PIP — previously two hand-copies that had to evolve in
    lockstep): expand each shape's cover to aligned ``hilbert>>s`` cells,
    broadcast them, and probe with an equi-key join plus the BETWEEN
    residual, after a literal union-of-covers prefilter that pushes to the
    scan.  ``per_shape`` pairs each shape's payload tuple (described by
    ``payload_schema``, e.g. ``"tile_id string, bx_lo long, ..."``) with
    its cover ranges; the result carries the payload columns on every
    candidate row and callers conjoin their exact residuals (box window,
    ray-cast) as post-join filters — Catalyst pushes them into the join.

    Why a hash join: a column-vs-column BETWEEN alone is a
    BroadcastNestedLoopJoin — O(rows x ranges); the aligned-cell key makes
    it O(1) per probe row regardless of range count (round-1 measured the
    difference as 61.9 s -> ~1 s on pip_join)."""
    from ..curve.cover import cell_shift_for_budget, expand_ranges_to_cells

    spark = doc_geo.sparkSession
    all_ranges = [r for _, ranges in per_shape for r in ranges]
    shift = cell_shift_for_budget(all_ranges, cell_budget)
    rows = [
        payload + (cell, lo, hi)
        for payload, ranges in per_shape
        for cell, lo, hi in expand_ranges_to_cells(ranges, shift)
    ]
    ranges_df = spark.createDataFrame(
        rows, f"{payload_schema}, ck long, lo long, hi long"
    )
    return (
        doc_geo.filter(cover_predicate(all_ranges))
        .withColumn("_ck", F.shiftright(F.col("hilbert"), shift))
        .join(
            F.broadcast(ranges_df),
            (F.col("_ck") == F.col("ck"))
            & F.col("hilbert").between(F.col("lo"), F.col("hi")),
        )
    )


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


def grq_batch(
    doc_geo: DataFrame, boxes: list, config: EngineConfig = DEFAULT
) -> DataFrame:
    """BATCHED geometric range query — N rectangles answered in ONE corpus
    pass: ``(box_id, doc_id, x, y)``, one row per (box, matching doc).
    The reference answers each rectangle with its own index walk
    (`Scheme/RSKQ/RSKQ_Biginteger.java:875-995, reference`); a 100 TB
    engine amortizes the scan across a query batch instead — the
    multi-query optimization every tile server and dashboard needs.

    Physical plan: compile every box's Hilbert cover and filter the scan
    with ONE :func:`cover_predicate` over the union of all covers — on the
    Hilbert-sorted stored layout this is the same row-group pruning a
    single query gets, now shared, and past 64 merged intervals the exact
    union is a per-level BPC hash lookup instead of one BETWEEN per
    interval.  Each surviving row is then tagged with every box containing
    it by a codegen ``filter(array(CASE...))`` explode over the EXACT box
    predicates (4 comparisons per box — the cover is for pruning, the
    residual test is per-box, so over-approximate covers stay correct).
    No join, no shuffle; output fan-out equals true matches."""
    covers = [compile_box(*b, config) for b in boxes]
    arr = F.array(
        *[
            F.when(
                F.col("x").between(xl, xh) & F.col("y").between(yl, yh),
                F.lit(i),
            ).otherwise(F.lit(None).cast("int"))
            for i, (xl, xh, yl, yh) in enumerate(boxes)
        ]
    )
    return (
        doc_geo.filter(cover_predicate([r for c in covers for r in c.ranges], config))
        .select(
            F.explode(F.filter(arr, lambda c: c.isNotNull())).alias("box_id"),
            "doc_id",
            "x",
            "y",
        )
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
