"""BRQ — boolean range + keyword query (reference S9/S10).

* ``mode='any'`` — RSKQ semantics: docs in the rectangle matching >=1 query
  keyword (`Scheme/RSKQ/RSKQ_Biginteger.ObjectSearch:618-873`, final
  ``Sump.and(Sumw)`` at `:872` where ``Sumw`` is the OR of keyword bitmaps).
* ``mode='all'`` — SKQ semantics: keywords are ANDed
  (`Scheme/SKQ/SKQ_Biginteger.Search:239-401`, AND-fold `:369-382`).

Physical plan: the spatial filter is the GRQ range-mode predicate (scan
pruning, no shuffle); the keyword test is an ``arrays_overlap`` /
``array_intersect`` on the doc's keyword array — a per-row codegen predicate
against a literal array, zero joins.  The posting-index formulation
(keyword -> doc postings, semi-join) is also provided for parity with the
reference's KDB path and for workloads where the keyword side is indexed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .range_query import grq_range_mode


def _keyword_filter(df: DataFrame, keywords: list[str], mode: str) -> DataFrame:
    """BRQ keyword test: ``any`` keeps docs carrying >= 1 query keyword,
    ``all`` docs carrying every one — a codegen array predicate against a
    literal array."""
    kw = F.array(*[F.lit(k) for k in keywords])
    if mode == "any":
        return df.filter(F.arrays_overlap(F.col("keywords"), kw))
    if mode == "all":
        return df.filter(
            F.size(F.array_intersect(F.array_distinct(F.col("keywords")), kw))
            == len(keywords)
        )
    raise ValueError(f"unknown mode {mode!r}")


def brq(
    doc_geo: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    keywords: list[str],
    mode: str = "any",
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    out = grq_range_mode(doc_geo, x_lo, x_hi, y_lo, y_hi, config)
    return _keyword_filter(out, keywords, mode)


def radius_search(
    doc_geo: DataFrame,
    qx: int,
    qy: int,
    radius: int,
    keywords: list[str] | None = None,
    mode: str = "any",
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Circular range (+ optional keyword) query — the "nearby" form of BRQ:
    (doc_id, x, y, dist2) for docs with L2 distance <= radius of (qx, qy),
    optionally keyword-filtered with the BRQ any/all semantics.

    The reference only supports rectangles (`Box.java:144-152`); a circle is
    its circumscribing box's Hilbert cover (pruned scan, exactly the GRQ
    path) with the exact integer ``dist2 <= radius^2`` residual conjoined —
    the same over-approximate-then-refine contract as the budgeted covers
    (`SmallHilbertCurve.java:156-162`)."""
    edge = config.edge
    x_lo, x_hi = max(0, qx - radius), min(edge - 1, qx + radius)
    y_lo, y_hi = max(0, qy - radius), min(edge - 1, qy + radius)
    out = grq_range_mode(doc_geo, x_lo, x_hi, y_lo, y_hi, config)
    d2 = (F.col("x") - F.lit(qx)) ** 2 + (F.col("y") - F.lit(qy)) ** 2
    out = out.withColumn("dist2", d2.cast("long")).filter(
        F.col("dist2") <= radius * radius
    )
    if keywords:
        out = _keyword_filter(out, keywords, mode)
    return out.select("doc_id", "x", "y", "dist2")


def radius_search_oracle(
    qx: int,
    qy: int,
    radius: int,
    kw_pred_sql: str | None = None,
    doc_geo_table: str = "doc_geo",
) -> str:
    """DuckDB oracle: plain integer circle test (+ caller-rendered keyword
    predicate over the kw0..kwN columns)."""
    d2 = f"(x - {qx}) * (x - {qx}) + (y - {qy}) * (y - {qy})"
    kw = f" AND {kw_pred_sql}" if kw_pred_sql else ""
    return (
        f"SELECT doc_key AS doc_id, x, y, {d2} AS dist2 FROM {doc_geo_table} "
        f"WHERE {d2} <= {radius * radius}{kw}"
    )


def keyword_index(doc_geo: DataFrame, keywords: list[str] | None = None) -> DataFrame:
    """Keyword inverted index (reference KDB, E10): (keyword, doc_id).

    ``keywords`` optionally restricts the build to a literal keyword list —
    the filter sits *below* the distinct, so an ad-hoc probe dedups only the
    handful of matching postings instead of shuffling the whole exploded
    keyword stream (the full-index build passes ``None`` and is written
    bucketed by keyword at scale)."""
    exploded = doc_geo.select(F.explode("keywords").alias("keyword"), "doc_id")
    if keywords is not None:
        exploded = exploded.filter(F.col("keyword").isin(keywords))
    return exploded.distinct()


def ranked_search(
    doc_geo: DataFrame,
    kw_index: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    keywords: list[str],
    k: int,
    scale: int = 10**9,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Ranked disjunctive search: BRQ 'any' semantics + integer idf scoring
    + deterministic top-k — the scored extension of the reference's boolean
    RSKQ (`Scheme/RSKQ/RSKQ_Biginteger.ObjectSearch:618-873` returns the flat
    bitmap AND; ranking is this repo's addition for search workloads).

    Scoring is engine-neutral exact integer arithmetic: each query keyword
    gets weight ``scale DIV df`` (df = corpus-wide posting count for that
    keyword — rarer keyword, larger weight; integer division, no floats, no
    logs, so the DuckDB oracle reproduces every score bit-for-bit), and a
    doc's score is the sum of the weights of the distinct query keywords it
    carries.  Ties break on doc_id, so the top-k set is total-ordered.

    100 TB shape: the keyword ``isin`` prunes the stored posting index scan
    (keyword-bucketed layout → partition pruning); df is a |Q|-row aggregate
    of that pruned scan; the |Q|-row weight frame is broadcast back onto the
    matched postings; the box side is a cover-pruned corpus scan; one
    doc_id-keyed hash join between two pruned sides (AQE picks build side),
    one hash aggregation with map-side combine, and ``TakeOrderedAndProject``
    partial top-k — no full-corpus shuffle anywhere."""
    spatial = grq_range_mode(doc_geo, x_lo, x_hi, y_lo, y_hi, config)
    hits = kw_index.filter(F.col("keyword").isin(keywords))
    weights = (
        hits.groupBy("keyword")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("weight", F.expr(f"CAST({scale} AS BIGINT) DIV df"))
    )
    matched = hits.join(F.broadcast(weights.select("keyword", "weight")), "keyword")
    scored = (
        spatial.select("doc_id", "x", "y")
        .join(matched, "doc_id")
        .groupBy("doc_id", "x", "y")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("weight").alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def ranked_search_oracle(
    postings_sql: str,
    box_pred_sql: str,
    keywords: list[str],
    k: int,
    scale: int = 10**9,
    doc_geo_table: str = "doc_geo",
) -> str:
    """DuckDB replay of :func:`ranked_search`.  Returns a CTE continuation
    (leading ``,``) to append after a ``WITH doc_geo AS (...)`` prefix.
    ``postings_sql`` must yield DISTINCT (doc_id, keyword) rows for the
    whole corpus (the caller unions the kw<j> columns); ``box_pred_sql`` is
    the box predicate over the ``doc_geo`` alias ``d``.  ``//`` is DuckDB
    integer division (== Spark DIV on positive ints); SUM is cast back to
    BIGINT to avoid the HUGEINT->float64 dtype drift (events-oracle lesson,
    round 2)."""
    lits = ", ".join(f"'{kw}'" for kw in keywords)
    return (
        f", postings AS (SELECT doc_id, keyword FROM ({postings_sql}) "
        f"WHERE keyword IN ({lits})), "
        f"w AS (SELECT keyword, {scale} // COUNT(*) AS weight "
        f"FROM postings GROUP BY keyword) "
        f"SELECT p.doc_id, d.x, d.y, "
        f"CAST(COUNT(*) AS BIGINT) AS n_matched, "
        f"CAST(SUM(w.weight) AS BIGINT) AS score "
        f"FROM postings p JOIN w USING (keyword) "
        f"JOIN {doc_geo_table} d ON d.doc_key = p.doc_id "
        f"WHERE {box_pred_sql} "
        f"GROUP BY p.doc_id, d.x, d.y "
        f"ORDER BY score DESC, p.doc_id LIMIT {k}"
    )


def brq_posting_mode(
    doc_geo: DataFrame,
    kw_index: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    keywords: list[str],
    mode: str = "any",
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Reference-shaped plan: spatial result (semi-)joined with keyword
    postings.  The keyword filter ``isin(<literal list>)`` prunes the index
    scan; the surviving posting set (docs for a handful of keywords) is
    small relative to the corpus, and the join key is doc_id."""
    spatial = grq_range_mode(doc_geo, x_lo, x_hi, y_lo, y_hi, config)
    hits = kw_index.filter(F.col("keyword").isin(keywords))
    if mode == "any":
        return spatial.join(hits.select("doc_id").distinct(), "doc_id", "semi")
    if mode == "all":
        complete = (
            hits.groupBy("doc_id")
            .agg(F.countDistinct("keyword").alias("nkw"))
            .filter(F.col("nkw") == len(keywords))
            .select("doc_id")
        )
        return spatial.join(complete, "doc_id", "semi")
    raise ValueError(f"unknown mode {mode!r}")


def keyword_extents(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Per-keyword spatial selectivity statistics — the planner-statistics
    table behind keyword-aware query optimization: ``(kw, n_docs, x_min,
    x_max, y_min, y_max, n_cells)``.

    A BRQ planner uses these to decide probe order (rare keyword first),
    whether the keyword's bounding box even intersects the query region
    (skip entirely), and how many grid cells a keyword touches
    (``n_cells`` — its spatial spread at ``2^shift`` resolution, the
    quantity that prices the cover join).  The reference keeps per-keyword
    postings (`Scheme/RSKQ/RSKQ_Biginteger.java` PDB keying) but no
    spatial stats; a 100 TB planner needs them.

    Plan: one explode scan + ONE hash aggregation with map-side combine
    (min/max/count are all algebraic; the distinct-cell count pre-distincts
    (kw, cell) pairs first — bounded by postings, the same two-phase shape
    as ``cell_distinct_kmv``)."""
    grid = config.edge >> shift
    gcell = F.shiftright("x", shift) * grid + F.shiftright("y", shift)
    kw = doc_geo.select(F.explode("keywords").alias("kw"), "x", "y", gcell.alias("gcell"))
    stats = kw.groupBy("kw").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )
    cells = (
        kw.select("kw", "gcell")
        .distinct()
        .groupBy("kw")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    )
    return stats.join(cells, "kw")


def keyword_extents_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (x, y, kw0..kw3):
    identical UNION-ALL arm explode + aggregation."""
    from ..sources import derive as _derive

    grid = config.edge >> shift
    arms = " UNION ALL ".join(
        f"SELECT kw{j} AS kw, x, y, (x >> {shift}) * {grid} + (y >> {shift}) AS gcell "
        f"FROM doc_geo"
        for j in range(_derive.KW_PER_DOC)
    )
    return f"""kwx AS ({arms})
SELECT s.kw, s.n_docs, s.x_min, s.x_max, s.y_min, s.y_max, c.n_cells
FROM (
  SELECT kw, CAST(COUNT(*) AS BIGINT) AS n_docs,
         MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
  FROM kwx GROUP BY kw
) s JOIN (
  SELECT kw, CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM (SELECT DISTINCT kw, gcell FROM kwx) GROUP BY kw
) c ON s.kw = c.kw"""


def keyword_cooccurrence(doc_geo: DataFrame, topk: int) -> DataFrame:
    """Top-k co-occurring keyword pairs — the market-basket statistic over
    the interleaved corpus's text spans: ``(rank, kw_a, kw_b, n_docs)``
    where ``n_docs`` counts documents whose keyword set contains BOTH
    keywords (per-document multiplicity ignored, pair ordered ``kw_a <
    kw_b``).

    A curation pipeline reads this to find redundant topic clusters and a
    BRQ planner to estimate conjunctive (SKQ, `Scheme/SKQ/
    SKQ_Biginteger.Search:239-401`) selectivity from pair- instead of
    independence-assumption statistics.

    Plan: pair generation is PER-ROW array algebra on the sorted distinct
    keyword array — zero joins, zero extra shuffle, at most C(k,2) pairs a
    doc (k = spans per doc, 4 here) — then ONE hash aggregation with
    map-side combine and a partial top-k (``orderBy().limit()`` pushes a
    per-partition top-k before the single-partition merge; the rank window
    runs over k rows only).  Deterministic total order: count desc, then
    the pair itself."""
    from pyspark.sql import Window

    ks = F.array_sort(F.array_distinct("keywords"))
    pairs = F.expr(
        "flatten(transform(ks, (a, i) -> "
        "transform(slice(ks, i + 2, size(ks) - i - 1), "
        "b -> struct(a AS kw_a, b AS kw_b))))"
    )
    agg = (
        doc_geo.withColumn("ks", ks)
        .select(F.explode(pairs).alias("p"))
        .select("p.kw_a", "p.kw_b")
        .groupBy("kw_a", "kw_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    order = [F.desc("n_docs"), F.asc("kw_a"), F.asc("kw_b")]
    w = Window.orderBy(*order)
    return (
        agg.orderBy(*order)
        .limit(topk)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "kw_a", "kw_b", "n_docs")
    )


def keyword_cooccurrence_oracle(topk: int) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (doc_key, kw0..kw3):
    per-document DISTINCT LEAST/GREATEST slot pairs — provably the same
    pair set as the engine's sorted-distinct-array generation — then the
    identical count/rank order."""
    from ..sources import derive as _derive

    k = _derive.KW_PER_DOC
    arms = " UNION ALL ".join(
        f"SELECT doc_key, kw{i} AS a, kw{j} AS b FROM doc_geo"
        for i in range(k)
        for j in range(i + 1, k)
    )
    return f"""pairs AS (
  SELECT DISTINCT doc_key, LEAST(a, b) AS kw_a, GREATEST(a, b) AS kw_b
  FROM ({arms}) WHERE a <> b
), cagg AS (
  SELECT kw_a, kw_b, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pairs GROUP BY kw_a, kw_b
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs DESC, kw_a, kw_b) AS rank
  FROM cagg
)
SELECT CAST(rank AS INT) AS rank, kw_a, kw_b, n_docs
FROM ranked WHERE rank <= {topk}"""


def cell_top_keyword(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Dominant keyword per grid cell — the thematic raster over the
    interleaved corpus: ``(gcell, top_kw, kw_count, cell_total,
    share_ppm)`` with keyword-slot multiplicity counted and the tie broken
    toward the lexicographically smallest keyword (deterministic).

    Plan: one explode scan -> hash aggregation on (cell, keyword) with
    map-side combine, then ONE window over the aggregated frame — bounded
    by distinct (cell, keyword) pairs, never the corpus.  ``share_ppm`` is
    FLOOR-ppm integer arithmetic so the DuckDB oracle matches
    bit-for-bit."""
    from pyspark.sql import Window

    grid = config.edge >> shift
    gcell = (F.shiftright("x", shift) * grid + F.shiftright("y", shift)).cast(
        "long"
    )
    counts = (
        doc_geo.select(F.explode("keywords").alias("kw"), gcell.alias("gcell"))
        .groupBy("gcell", "kw")
        .agg(F.count(F.lit(1)).cast("long").alias("kw_count"))
    )
    w = Window.partitionBy("gcell").orderBy(F.desc("kw_count"), F.asc("kw"))
    return (
        counts.withColumn(
            "cell_total",
            F.sum("kw_count").over(Window.partitionBy("gcell")).cast("long"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "gcell",
            F.col("kw").alias("top_kw"),
            "kw_count",
            "cell_total",
            F.expr("CAST((kw_count * 1000000) DIV cell_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


def cell_top_keyword_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical UNION-arm
    slot explode (multiplicity preserved), window order, and FLOOR-ppm."""
    from ..sources import derive as _derive

    grid = config.edge >> shift
    arms = " UNION ALL ".join(
        f"SELECT (x >> {shift}) * {grid} + (y >> {shift}) AS gcell, kw{j} AS kw "
        f"FROM doc_geo"
        for j in range(_derive.KW_PER_DOC)
    )
    return f"""kwc AS (
  SELECT CAST(gcell AS BIGINT) AS gcell, kw, CAST(COUNT(*) AS BIGINT) AS kw_count
  FROM ({arms}) GROUP BY gcell, kw
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY gcell ORDER BY kw_count DESC, kw) AS rn,
         CAST(SUM(kw_count) OVER (PARTITION BY gcell) AS BIGINT) AS cell_total
  FROM kwc
)
SELECT gcell, kw AS top_kw, kw_count, cell_total,
       CAST((kw_count * 1000000) // cell_total AS BIGINT) AS share_ppm
FROM ranked WHERE rn = 1"""


def cell_keyword_gini(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Thematic concentration raster — the Herfindahl–Hirschman index of
    keyword usage per grid cell, in exact FLOOR-ppm: ``(gcell, n_kw_slots,
    n_distinct_kw, hhi_ppm)`` where ``hhi_ppm = FLOOR(1e6 * Σ n_k^2 /
    total^2)`` over the cell's keyword counts (1e6 = one keyword owns the
    cell; 1e6/k = k keywords share it evenly).  The diversity companion of
    :func:`cell_top_keyword` — entropy without logarithms, so it stays
    integer-exact in both engines.

    Plan: explode scan -> (cell, kw) hash agg with map-side combine ->
    ONE per-cell aggregation of the squared counts — bounded by distinct
    pairs, never the corpus; no window at all.  Overflow: the ppm
    numerator is ``1e6 * Σ n_k^2 <= 1e6 * total^2``, int64-safe while a
    cell's slot count stays under ~3e6 — beyond that, pre-divide by a
    common power of two or roll up from the pyramid (documented dial)."""
    grid = config.edge >> shift
    gcell = (F.shiftright("x", shift) * grid + F.shiftright("y", shift)).cast(
        "long"
    )
    counts = (
        doc_geo.select(F.explode("keywords").alias("kw"), gcell.alias("gcell"))
        .groupBy("gcell", "kw")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return counts.groupBy("gcell").agg(
        F.sum("n").cast("long").alias("n_kw_slots"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_kw"),
        F.expr(
            "CAST((1000000 * SUM(n * n)) DIV (SUM(n) * SUM(n)) AS BIGINT)"
        ).alias("hhi_ppm"),
    )


def _gini_cte_and_select(shift: int, config: EngineConfig) -> tuple[str, str]:
    """The gini oracle's two pieces: the ``gkwc`` CTE body and the per-cell
    HHI SELECT — shared by :func:`cell_keyword_gini_oracle` (which emits the
    SELECT directly) and :func:`cell_skyline_oracle` (which wraps it as a
    further CTE)."""
    from ..sources import derive as _derive

    grid = config.edge >> shift
    arms = " UNION ALL ".join(
        f"SELECT (x >> {shift}) * {grid} + (y >> {shift}) AS gcell, kw{j} AS kw "
        f"FROM doc_geo"
        for j in range(_derive.KW_PER_DOC)
    )
    cte = f"""gkwc AS (
  SELECT CAST(gcell AS BIGINT) AS gcell, kw, CAST(COUNT(*) AS BIGINT) AS n
  FROM ({arms}) GROUP BY gcell, kw
)"""
    select = """SELECT gcell, CAST(SUM(n) AS BIGINT) AS n_kw_slots,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_kw,
       CAST((1000000 * SUM(n * n)) // (SUM(n) * SUM(n)) AS BIGINT) AS hhi_ppm
FROM gkwc GROUP BY gcell"""
    return cte, select


def cell_keyword_gini_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical slot explode
    and integer HHI."""
    cte, select = _gini_cte_and_select(shift, config)
    return f"{cte}\n{select}"


def cell_skyline(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """SKYLINE (Pareto front) of grid cells over (volume, concentration):
    the cells no other cell beats-or-ties on BOTH ``n_kw_slots`` (keyword
    volume) and ``hhi_ppm`` (thematic concentration, :func:`
    cell_keyword_gini`) while beating it on at least one — the classic
    multi-criteria dominance query, here answering "which places are
    Pareto-optimal in how MUCH they talk vs how SINGLE-MINDEDLY".  The two
    axes anti-correlate by construction (dense gaussian cells mix many
    keywords), so the front is a real curve, not a single point.

    Physical plan: the gini aggregation's two hash aggs, then skyline in
    O(cells) WITHOUT the quadratic dominance self-join — group cells by
    ``n_kw_slots``, take each group's max ``hhi_ppm``, and a running max
    over the groups sorted by descending slots gives every cell the best
    concentration among STRICTLY-larger-volume cells (``m1``); a cell is
    dominated iff ``m1 >= hhi_ppm`` (bigger volume, at-least-equal
    concentration) or its own group's max exceeds it (equal volume,
    strictly better concentration).  The single-partition window runs over
    O(distinct volumes) rows — never the corpus, never cells² (the oracle
    IS the quadratic NOT-EXISTS form, so parity proves the rewrite)."""
    from pyspark.sql import Window

    cells = cell_keyword_gini(doc_geo, shift, config)
    g = cells.groupBy("n_kw_slots").agg(F.max("hhi_ppm").alias("gmax"))
    w = Window.orderBy(F.desc("n_kw_slots")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = g.withColumn("m1", F.max("gmax").over(w))
    dominated = (
        F.col("m1").isNotNull() & (F.col("m1") >= F.col("hhi_ppm"))
    ) | (F.col("gmax") > F.col("hhi_ppm"))
    return (
        cells.join(F.broadcast(g), "n_kw_slots")
        .filter(~dominated)
        .select("gcell", "n_kw_slots", "n_distinct_kw", "hhi_ppm")
    )


def cell_skyline_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a CTE chain defining ``doc_geo``: the same gini CTE, then
    the quadratic NOT-EXISTS dominance definition — the straightforward
    skyline formulation the windowed rewrite must equal."""
    cte, select = _gini_cte_and_select(shift, config)
    return f"""{cte}, gini AS (
{select}
)
SELECT c.gcell, c.n_kw_slots, c.n_distinct_kw, c.hhi_ppm FROM gini c
WHERE NOT EXISTS (
  SELECT 1 FROM gini o
  WHERE o.n_kw_slots >= c.n_kw_slots AND o.hhi_ppm >= c.hhi_ppm
    AND (o.n_kw_slots > c.n_kw_slots OR o.hhi_ppm > c.hhi_ppm))"""


def keyword_lift(
    doc_geo: DataFrame,
    shift: int = 6,
    min_count: int = 5,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Keyword-vs-geography ASSOCIATION surface — ``(gcell, kw, n_kc,
    n_k, n_c, lift_ppm)`` for every (cell, keyword) pair observed at
    least ``min_count`` times: ``lift_ppm = FLOOR(1e6 * n_kc * N /
    (n_k * n_c))`` where ``N`` is the total keyword-slot count, ``n_k``
    the keyword's global count and ``n_c`` the cell's slot count —
    1e6 = independence, above = the keyword concentrates in the cell.
    The pointwise-mutual-information (lift) companion of
    :func:`cell_top_keyword` (which ranks by raw share) and
    :func:`cell_keyword_gini` (which measures concentration without
    naming the keyword).

    Exact integer discipline: one FLOOR at the end, numerator composed as
    ``(n_kc * N) * 1e6`` — int64-safe while ``n_kc * N < 9.2e12``
    (at 4 slots/doc that is ~1.5M docs per partition-level run; beyond
    that pre-divide by GCD or split the corpus — documented, not silent).

    Plan: ONE explode scan into the (cell, kw) histogram (map-side
    combine), then two histogram-bounded marginal aggs broadcast back —
    the corpus shuffles once."""
    grid = config.edge >> shift
    gcell = (F.shiftright("x", shift) * grid + F.shiftright("y", shift)).cast(
        "long"
    )
    kc = (
        doc_geo.select(F.explode("keywords").alias("kw"), gcell.alias("gcell"))
        .groupBy("gcell", "kw")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kc"))
        .localCheckpoint()
    )
    k_marg = kc.groupBy("kw").agg(F.sum("n_kc").alias("n_k"))
    c_marg = kc.groupBy("gcell").agg(F.sum("n_kc").alias("n_c"))
    n_total = kc.agg(F.sum("n_kc").alias("n_total"))
    return (
        kc.filter(F.col("n_kc") >= int(min_count))
        .join(F.broadcast(k_marg), "kw")
        .join(F.broadcast(c_marg), "gcell")
        .crossJoin(F.broadcast(n_total))
        .select(
            "gcell",
            "kw",
            "n_kc",
            F.col("n_k").cast("long").alias("n_k"),
            F.col("n_c").cast("long").alias("n_c"),
            F.expr(
                "CAST((n_kc * n_total * 1000000) DIV (n_k * n_c) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def keyword_lift_oracle(
    shift: int = 6, min_count: int = 5, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical histogram,
    marginals, and FLOOR-ppm lift."""
    from ..sources import derive as _derive

    grid = config.edge >> shift
    arms = " UNION ALL ".join(
        f"SELECT (x >> {shift}) * {grid} + (y >> {shift}) AS gcell, kw{j} AS kw "
        f"FROM doc_geo"
        for j in range(_derive.KW_PER_DOC)
    )
    return f"""kl_kc AS (
  SELECT CAST(gcell AS BIGINT) AS gcell, kw, CAST(COUNT(*) AS BIGINT) AS n_kc
  FROM ({arms}) GROUP BY gcell, kw
), kl_k AS (
  SELECT kw, CAST(SUM(n_kc) AS BIGINT) AS n_k FROM kl_kc GROUP BY kw
), kl_c AS (
  SELECT gcell, CAST(SUM(n_kc) AS BIGINT) AS n_c FROM kl_kc GROUP BY gcell
), kl_n AS (
  SELECT CAST(SUM(n_kc) AS BIGINT) AS n_total FROM kl_kc
)
SELECT kc.gcell, kc.kw, kc.n_kc, k.n_k, c.n_c,
       CAST((kc.n_kc * n.n_total * 1000000) // (k.n_k * c.n_c) AS BIGINT)
         AS lift_ppm
FROM kl_kc kc
JOIN kl_k k ON kc.kw = k.kw
JOIN kl_c c ON kc.gcell = c.gcell
CROSS JOIN kl_n n
WHERE kc.n_kc >= {int(min_count)}"""


def keyword_bitmap_query(
    doc_geo: DataFrame, keywords: list[str]
) -> DataFrame:
    """Bitmap-index conjunctive keyword query — ``(block, n_docs)``: the
    documents carrying EVERY keyword in ``keywords``, counted per 32-doc
    ordinal block via bit-parallel mask intersection.  The bitmap dual of
    :func:`keyword_index`'s postings: each keyword folds into one 32-bit
    word per ordinal block (``ordinal = the numeric doc id parsed from the
    key; block = ordinal DIV 32, bit = ordinal % 32``), the conjunction is
    ``bit_and`` across the query keywords, and the hit count is
    ``bit_count`` — the classic bitmap-index evaluation (O'Neil & Quass,
    SIGMOD 1997) in engine-neutral integer arithmetic, oracle-checkable
    bit for bit.

    Physical plan: ONE corpus scan with a codegen keyword-filtered explode
    (only query keywords survive the map side), a ``(kw, block)`` hash
    aggregation with map-side ``bit_or`` combine (at most
    ``|keywords| x |blocks|`` rows leave the map stage), then a ``block``
    aggregation whose ``HAVING`` enforces all keywords present and
    ``bit_and`` intersects the masks.  Two shuffles, both on bounded
    index-side frames; the corpus never shuffles.  At 100 TB the (kw,
    block, mask) frame IS the stored bitmap index — write it once
    partitioned by keyword and this query prunes to the query keywords'
    partitions."""
    n_kw = len(keywords)
    assert n_kw >= 1
    ordinal = F.expr("CAST(substring(doc_id, 4, 10) AS BIGINT)")
    kw = (
        doc_geo.select(ordinal.alias("ordinal"), F.explode("keywords").alias("kw"))
        .filter(F.col("kw").isin(list(keywords)))
        .select(
            "kw",
            F.expr("CAST(ordinal DIV 32 AS BIGINT)").alias("block"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(ordinal % 32 AS INT))"
            ).alias("m"),
        )
        .groupBy("kw", "block")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )
    hit = (
        kw.groupBy("block")
        .agg(
            F.countDistinct("kw").alias("nk"),
            F.expr("bit_and(mask)").alias("amask"),
        )
        .filter(F.col("nk") == n_kw)
        .select(
            "block",
            F.expr("CAST(bit_count(amask) AS BIGINT)").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 0)
    )
    return hit


def keyword_bitmap_query_oracle(keywords: list[str]) -> str:
    """Appends to a chain defining ``doc_geo`` (kw0..kw3 columns):
    identical ordinal/block/mask arithmetic; the keyword explode is the
    UNION of the kw columns."""
    from ..sources.derive import KW_PER_DOC

    kws = ", ".join(f"'{k}'" for k in keywords)
    arms = " UNION ALL ".join(
        f"SELECT CAST(substring(doc_key, 4, 10) AS BIGINT) AS ordinal, kw{j} AS kw "
        f"FROM doc_geo" for j in range(KW_PER_DOC)
    )
    return f"""kb_ex AS ({arms}),
kb_masks AS (
  SELECT kw, ordinal // 32 AS block,
         BIT_OR(CAST(1 AS BIGINT) << CAST(ordinal % 32 AS INT)) AS mask
  FROM kb_ex WHERE kw IN ({kws})
  GROUP BY kw, ordinal // 32
), kb_hit AS (
  SELECT block, COUNT(DISTINCT kw) AS nk, BIT_AND(mask) AS amask
  FROM kb_masks GROUP BY block
)
SELECT CAST(block AS BIGINT) AS block,
       CAST(bit_count(amask) AS BIGINT) AS n_docs
FROM kb_hit WHERE nk = {len(keywords)} AND bit_count(amask) > 0"""
