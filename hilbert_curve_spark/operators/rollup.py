"""Hierarchical cell-pyramid rollup — multi-resolution tile statistics.

The reference renders per-cell tile matrices one window at a time
(`Experiment/TestByUserInput/BRQComparisonInput.generateHilbertMatrix:13-23`);
a map service over a 100 TB corpus instead precomputes counts at EVERY zoom
level.  Key property of the Hilbert index that makes this one cheap scan:
an aligned ``2^s x 2^s`` spatial block is exactly the index interval
``[cell << 2s, (cell + 1) << 2s)``, so the parent of a quad-cell at any
level is ``cell >> 2`` — integer arithmetic, no re-encoding.

Physical plan: the corpus is scanned ONCE for the base histogram
(two-phase salted aggregation — the gaussian hot cells would otherwise pin
single reducers); the multi-level rollup is then a native
``transform(sequence(...))`` explode of the (tiny) histogram — each base
cell emits its ``(level, cell >> 2*level)`` ancestors — followed by one
hash aggregation.  Structurally one corpus pass: a union-of-per-level-
aggregations formulation would re-execute the base lineage once per level
unless runtime exchange reuse happens to kick in; the explode form cannot.
Algebraic (sum-of-counts) rollup is exactly what makes the partial
aggregation legal at every step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .skew import grid_keys, salted_cell_counts


def cell_pyramid(
    doc_geo: DataFrame, levels: int = 5, config: EngineConfig = DEFAULT
) -> DataFrame:
    """(level, cell, n_docs) for levels 0..levels-1; level 0 = the engine's
    base cell grid (``hilbert >> 2*cell_shift``), each level up merges quads
    (``cell >> 2``)."""
    base = salted_cell_counts(doc_geo, config)
    ancestors = (
        f"transform(sequence(0, {levels - 1}), "
        f"l -> named_struct('level', CAST(l AS INT), 'cell', shiftright(cell, 2 * l)))"
    )
    return (
        base.select(F.explode(F.expr(ancestors)).alias("e"), "n_docs")
        .select(F.col("e.level").alias("level"), F.col("e.cell").alias("cell"), "n_docs")
        .groupBy("level", "cell")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def cell_pyramid_oracle_select(levels: int, config: EngineConfig = DEFAULT) -> str:
    """SELECT body over a pre-defined ``doc_geo``+``hv`` CTE chain (the
    caller supplies the recursive-CTE hilbert computation, as in the
    cell_stats oracle).  Every level is computed independently from the
    base-cell histogram; SUM casts back from HUGEINT."""
    shift = 2 * config.cell_shift
    base = (
        f"SELECT hv.hilbert >> {shift} AS cell, COUNT(*) AS n_docs "
        "FROM doc_geo d JOIN hv ON d.x = hv.cx AND d.y = hv.cy GROUP BY 1"
    )
    parts = [f"SELECT CAST(0 AS INT) AS level, cell, n_docs FROM base"]
    for lvl in range(1, levels):
        parts.append(
            f"SELECT CAST({lvl} AS INT) AS level, cell >> {2 * lvl} AS cell, "
            f"CAST(SUM(n_docs) AS BIGINT) AS n_docs FROM base GROUP BY 1, 2"
        )
    union = " UNION ALL ".join(parts)
    return f", base AS ({base}) {union}"


# ---------------------------------------------------------------------------
# deterministic KMV distinct sketch per coarse cell
# ---------------------------------------------------------------------------


def cell_distinct_kmv(
    doc_geo: DataFrame, shift: int = 8, k: int = 16, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Per coarse grid cell: exact distinct-keyword count AND its KMV
    (k-minimum-values) sketch estimate — (gcell, n_distinct, kmv_estimate).

    Approximate distinct counting is the canonical 100 TB cardinality tool,
    but the built-in ``approx_count_distinct`` (HLL++) is
    implementation-defined and cannot be oracle-checked.  KMV over a
    deterministic hash CAN: with h = the 40-bit md5 fold used across the
    engine, the k-th smallest distinct hash per cell is a pure function of
    the data, and ``D-hat = (k-1) * M / h_k`` (integer division, M = 2^40)
    is bit-reproducible in any engine — a sketch with an EXACT oracle.
    Cells holding fewer than k distinct values report exactly.

    Plan: distinct (cell, keyword) pairs (one hash aggregation with
    map-side combine), then a per-cell window for the k-th order statistic.
    At 10^12 rows the window input is bounded by distinct pairs, not rows;
    a full-scale variant keeps only each cell's k smallest hashes via
    partial top-k before the shuffle (same result, bounded state)."""
    from .dedup import _hex_to_long_sql
    from pyspark.sql import Window

    grid = config.edge >> shift
    m_space = 1 << 40
    gcell = F.shiftright("x", shift) * grid + F.shiftright("y", shift)
    pairs = doc_geo.select(
        gcell.alias("gcell"), F.explode("keywords").alias("kw")
    ).distinct()
    hashed = pairs.withColumn(
        "h", F.expr(f"GREATEST({_hex_to_long_sql('md5(kw)', 1, 10)}, 1)")
    )
    w = Window.partitionBy("gcell").orderBy("h", "kw")
    wc = Window.partitionBy("gcell")
    ranked = hashed.withColumn("r", F.row_number().over(w)).withColumn(
        "nd", F.count(F.lit(1)).over(wc)
    )
    est = F.expr(f"CASE WHEN nd <= {k} THEN nd ELSE ({(k - 1) * m_space}L DIV h) END")
    return ranked.filter(F.col("r") == F.least(F.lit(k), F.col("nd"))).select(
        "gcell",
        F.col("nd").cast("long").alias("n_distinct"),
        est.cast("long").alias("kmv_estimate"),
    )


def cell_distinct_kmv_oracle(
    shift: int = 8, k: int = 16, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (needs x, y, kw0..kw3)."""
    from ..sources import derive as _derive
    from .dedup import _hex_to_long_sql

    grid = config.edge >> shift
    m_space = 1 << 40
    arms = " UNION ALL ".join(
        f"SELECT x, y, kw{j} AS kw FROM doc_geo" for j in range(_derive.KW_PER_DOC)
    )
    h = _hex_to_long_sql("md5(kw)", 1, 10)
    return f"""kwp AS (
  SELECT DISTINCT (x >> {shift}) * {grid} + (y >> {shift}) AS gcell, kw
  FROM ({arms})
), hashed AS (
  SELECT gcell, kw, GREATEST({h}, 1) AS h FROM kwp
), ranked AS (
  SELECT gcell, h,
         ROW_NUMBER() OVER (PARTITION BY gcell ORDER BY h, kw) AS r,
         COUNT(*) OVER (PARTITION BY gcell) AS nd
  FROM hashed
)
SELECT gcell, CAST(nd AS BIGINT) AS n_distinct,
       CAST(CASE WHEN nd <= {k} THEN nd ELSE ({(k - 1) * m_space} // h) END AS BIGINT)
         AS kmv_estimate
FROM ranked WHERE r = LEAST({k}, nd)"""


def focal_stats(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Focal (neighborhood) statistics — the raster-GIS "focal sum" over the
    corpus grid: for every nonempty ``2^shift``-sized grid cell, its own
    count and the 3x3-neighborhood sum ``(gx, gy, n_docs, focal_n)``.
    The neighborhood sum is the building block of hotspot scores
    (Getis-Ord-style): a cell is "hot" relative to ``focal_n``, not its own
    count, so single-cell noise never flags.

    Physical plan: the corpus is scanned ONCE into the per-cell histogram
    (two-phase salted aggregation — same skew rationale as
    ``skew.salted_cell_counts``); the focal pass then explodes the TINY
    histogram 9x (native ``array`` of offset structs) and re-aggregates —
    cost is O(cells), never O(docs).  The final own-count attach is a hash
    join between two cell-sized sides (AQE broadcasts the smaller)."""
    s = int(shift)
    cells = salted_cell_counts(doc_geo, config, grid_keys(s))
    offs = ", ".join(
        f"named_struct('dx', {dx}L, 'dy', {dy}L)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    contrib = (
        cells.withColumn("o", F.explode(F.expr(f"array({offs})")))
        .select(
            (F.col("gx") + F.col("o.dx")).alias("tgx"),
            (F.col("gy") + F.col("o.dy")).alias("tgy"),
            "n_docs",
        )
    )
    focal = contrib.groupBy("tgx", "tgy").agg(F.sum("n_docs").alias("focal_n"))
    return (
        cells.join(
            focal,
            (cells["gx"] == focal["tgx"]) & (cells["gy"] == focal["tgy"]),
        )
        .select("gx", "gy", "n_docs", "focal_n")
    )


def focal_stats_oracle(shift: int = 6) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (needs x, y).  Outer
    CASTs keep DuckDB's HUGEINT sums BIGINT."""
    s = int(shift)
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""cells AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), focal AS (
  SELECT c.gx + o.dx AS tgx, c.gy + o.dy AS tgy,
         CAST(SUM(c.n_docs) AS BIGINT) AS focal_n
  FROM cells c, (VALUES {nine}) o(dx, dy)
  GROUP BY 1, 2
)
SELECT c.gx, c.gy, c.n_docs, f.focal_n
FROM cells c JOIN focal f ON c.gx = f.tgx AND c.gy = f.tgy"""


# ---------------------------------------------------------------------------
# Change detection between two snapshot horizons
# ---------------------------------------------------------------------------


def cell_change(
    doc_geo: DataFrame,
    update_log: DataFrame,
    v_before: int,
    v_after: int,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Spatio-temporal change map: per grid cell, the live-doc count at two
    snapshot horizons of the delta log and their difference —
    ``(cell, n_before, n_after, delta)``.

    ONE pass over the log computes BOTH horizons' memberships (per doc,
    ``max_by(op, version)`` restricted to each horizon via an aggregate
    FILTER — versions are unique per doc, so the fold is deterministic),
    then ONE corpus-side join + ONE hash aggregation builds both
    histograms simultaneously (``SUM`` of the membership flags).  That is
    the incremental-view shape: two LWW folds never scan the corpus twice,
    and the join key is doc_id — co-partitioned with a doc-bucketed layout,
    i.e. shuffle-free on the big side at scale.  Cells whose docs were all
    deleted at both horizons stay in the result with zero counts (the
    histogram is over log-covered docs, identically in the oracle)."""
    edge_cells = config.edge >> shift
    mem = update_log.groupBy("doc_id").agg(
        F.expr(f"max_by(op, version) FILTER (WHERE version <= {v_before})").alias("opb"),
        F.expr(f"max_by(op, version) FILTER (WHERE version <= {v_after})").alias("opa"),
    )
    flags = mem.select(
        "doc_id",
        (F.col("opb") == "add").cast("long").alias("in_b"),
        (F.col("opa") == "add").cast("long").alias("in_a"),
    )
    cell = F.shiftright("x", shift) * edge_cells + F.shiftright("y", shift)
    return (
        doc_geo.join(flags, "doc_id")
        .groupBy(cell.alias("cell"))
        .agg(
            F.sum("in_b").cast("long").alias("n_before"),
            F.sum("in_a").cast("long").alias("n_after"),
        )
        .withColumn("delta", (F.col("n_after") - F.col("n_before")).cast("long"))
    )


def cell_change_oracle(
    stream_sql: str,
    v_before: int,
    v_after: int,
    shift: int = 6,
    doc_geo_table: str = "doc_geo",
    config: EngineConfig = DEFAULT,
) -> str:
    """DuckDB oracle: identical one-pass two-horizon fold (``arg_max`` +
    FILTER) and cell histogram.  SUMs are BIGINT-cast (DuckDB SUM(BIGINT)
    is HUGEINT — the r1/r2 dtype lesson)."""
    edge_cells = config.edge >> shift
    w = 1 << shift
    return f"""log AS ({stream_sql}),
mem AS (
  SELECT doc_id,
         arg_max(op, version) FILTER (WHERE version <= {v_before}) AS opb,
         arg_max(op, version) FILTER (WHERE version <= {v_after}) AS opa
  FROM log GROUP BY doc_id
)
SELECT (d.x // {w}) * {edge_cells} + (d.y // {w}) AS cell,
       CAST(SUM(CASE WHEN m.opb = 'add' THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN m.opa = 'add' THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       CAST(SUM(CASE WHEN m.opa = 'add' THEN 1 ELSE 0 END)
          - SUM(CASE WHEN m.opb = 'add' THEN 1 ELSE 0 END) AS BIGINT) AS delta
FROM {doc_geo_table} d JOIN mem m ON d.doc_key = m.doc_id
GROUP BY 1"""


# ---------------------------------------------------------------------------
# Spatially stratified sampling
# ---------------------------------------------------------------------------


def cell_sample(
    doc_geo: DataFrame, k: int, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Deterministic spatially stratified sample: at most ``k`` docs per
    occupied grid cell — ``(doc_id, cell)``.  The geographic-balance
    counterpart of ``textops.stratified_sample`` (per-language): training
    corpora over-represent dense metros; capping per cell flattens the
    spatial distribution.

    Rank within a cell is the md5 of the doc id (content-independent,
    engine-neutral, no RNG state) with doc_id as the total-order tie-break;
    ONE window shuffle on the cell key.  At scale the window never
    materializes a cell's full membership — rank + filter streams within
    each sorted partition, and hot cells are exactly the skew the salted
    histogram documents (cap-and-log applies)."""
    from pyspark.sql import Window

    edge_cells = config.edge >> shift
    cell = F.shiftright("x", shift) * edge_cells + F.shiftright("y", shift)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("doc_id").cast("binary")), "doc_id"
    )
    return (
        doc_geo.withColumn("cell", cell)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "cell")
    )


def cell_sample_oracle(
    k: int, shift: int = 6, doc_geo_table: str = "doc_geo",
    config: EngineConfig = DEFAULT,
) -> str:
    edge_cells = config.edge >> shift
    w = 1 << shift
    return f"""rk AS (
  SELECT doc_key AS doc_id,
         (x // {w}) * {edge_cells} + (y // {w}) AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY (x // {w}) * {edge_cells} + (y // {w})
           ORDER BY md5(doc_key), doc_key) AS rn
  FROM {doc_geo_table}
)
SELECT doc_id, cell FROM rk WHERE rn <= {k}"""


# ---------------------------------------------------------------------------
# Local spatial autocorrelation (LISA quadrants — hot/cold-spot analysis)
# ---------------------------------------------------------------------------


def local_moran(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Local Moran's-I quadrant per occupied grid cell — the hot/cold-spot
    classifier over the corpus density surface: ``(gx, gy, n_docs, d_own,
    d_nbr, quadrant)``.

    Exactness strategy: the study region is the FULL ``M x M`` grid
    (``M = edge >> shift``; empty cells count 0), and deviations are kept
    as SCALED integers so no division ever happens:

    * ``d_own  = G*n_c - N``            (G = M*M cells, N = total docs) —
      the cell's count deviation from the mean, scaled by G;
    * ``d_nbr  = G*nb8_c - k_c*N``      (nb8 = 8-neighbor count sum, k_c =
      in-bounds neighbor count, border-corrected) — the neighborhood's
      scaled deviation, INCLUDING empty in-bounds neighbors (each
      contributes exactly ``-N``, which the closed form absorbs into
      ``k_c*N`` — no empty-cell rows are ever materialized).

    The LISA quadrant is the sign pair: HH (hot spot in a hot
    neighborhood), LL (cold/cold), HL / LH (spatial outliers), NS when
    either deviation is exactly 0.  The scaled PRODUCT ``d_own*d_nbr`` is
    deliberately NOT emitted: at extreme corpus sizes it overflows int64
    (the span_stats lesson, ADVICE r3), while the factors stay < ~8*G*N
    and the quadrant IS the analytic answer.

    Physical plan: one salted corpus scan into the cell histogram, a 9x
    explode of that TINY histogram for the neighborhood sums
    (``focal_stats``), one histogram-sized join, then pure projection —
    O(cells) after the scan, same shape at 10^12 docs."""
    m = config.edge >> shift
    g = m * m
    cells = focal_stats(doc_geo, shift, config)
    total = cells.agg(F.sum("n_docs").cast("long").alias("n_total"))
    k_c = (
        (F.least(F.col("gx") + 1, F.lit(m - 1)) - F.greatest(F.col("gx") - 1, F.lit(0)) + 1)
        * (F.least(F.col("gy") + 1, F.lit(m - 1)) - F.greatest(F.col("gy") - 1, F.lit(0)) + 1)
        - 1
    )
    d_own = F.lit(g) * F.col("n_docs") - F.col("n_total")
    d_nbr = F.lit(g) * (F.col("focal_n") - F.col("n_docs")) - k_c * F.col("n_total")
    quadrant = (
        F.when((d_own > 0) & (d_nbr > 0), "HH")
        .when((d_own < 0) & (d_nbr < 0), "LL")
        .when((d_own > 0) & (d_nbr < 0), "HL")
        .when((d_own < 0) & (d_nbr > 0), "LH")
        .otherwise("NS")
    )
    return cells.crossJoin(F.broadcast(total)).select(
        "gx",
        "gy",
        "n_docs",
        d_own.cast("long").alias("d_own"),
        d_nbr.cast("long").alias("d_nbr"),
        quadrant.alias("quadrant"),
    )


def local_moran_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (x, y): the focal CTEs
    plus the identical scaled-deviation projection."""
    m = config.edge >> shift
    g = m * m
    s = int(shift)
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""cells AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), focal AS (
  SELECT c.gx + o.dx AS tgx, c.gy + o.dy AS tgy,
         CAST(SUM(c.n_docs) AS BIGINT) AS focal_n
  FROM cells c, (VALUES {nine}) o(dx, dy)
  GROUP BY 1, 2
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM cells),
scored AS (
  SELECT c.gx, c.gy, c.n_docs,
         {g} * c.n_docs - t.n_total AS d_own,
         {g} * (f.focal_n - c.n_docs)
           - ((LEAST(c.gx + 1, {m - 1}) - GREATEST(c.gx - 1, 0) + 1)
            * (LEAST(c.gy + 1, {m - 1}) - GREATEST(c.gy - 1, 0) + 1) - 1)
             * t.n_total AS d_nbr
  FROM cells c
  JOIN focal f ON c.gx = f.tgx AND c.gy = f.tgy
  CROSS JOIN tot t
)
SELECT gx, gy, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(d_own AS BIGINT) AS d_own, CAST(d_nbr AS BIGINT) AS d_nbr,
       CASE WHEN d_own > 0 AND d_nbr > 0 THEN 'HH'
            WHEN d_own < 0 AND d_nbr < 0 THEN 'LL'
            WHEN d_own > 0 AND d_nbr < 0 THEN 'HL'
            WHEN d_own < 0 AND d_nbr > 0 THEN 'LH'
            ELSE 'NS' END AS quadrant
FROM scored"""


# ---------------------------------------------------------------------------
# Integral-image (summed-area table) box density — any-radius focal sums
# ---------------------------------------------------------------------------


def box_density(
    doc_geo: DataFrame, r: int, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Per occupied grid cell, the doc count within CHEBYSHEV radius ``r``
    cells — the any-radius generalization of ``focal_stats`` (heatmap /
    kernel-density base layer): ``(gx, gy, n_docs, box_n)``.

    The naive neighborhood sum explodes the histogram ``(2r+1)^2`` ways —
    O(cells * r^2), ruinous for wide kernels.  This operator builds the
    classic INTEGRAL IMAGE (summed-area table) instead: two cumulative
    passes over the dense grid give ``S(gx,gy) = sum_{i<=gx, j<=gy} n``,
    and any box sum is four SAT lookups — O(cells) TOTAL, independent of
    ``r`` (Crow, SIGGRAPH'84).

    Physical plan: one salted corpus scan -> occupied-cell histogram; the
    dense ``M x M`` domain (a ``spark.range`` of M^2 rows — the GRID, not
    the corpus) left-joins the histogram; two window cumsums (partition by
    row, order by column, then transposed) build the SAT; four hash
    self-joins on clamped corner keys read it back.  Every post-scan stage
    is O(M^2); at shift 6 that is 4096 rows regardless of corpus size.
    Border cells clamp to the domain edge (the SAT-corner terms for
    negative indices vanish), so results are exact at the borders too —
    pinned against ``focal_stats`` at r=1."""
    m = config.edge >> shift
    spark = doc_geo.sparkSession
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))
    dense = spark.range(m * m).select(
        F.expr(f"id div {m}").alias("gx"), F.pmod("id", F.lit(m)).alias("gy")
    )
    grid = dense.join(hist, ["gx", "gy"], "left").select(
        "gx", "gy", F.coalesce("n_docs", F.lit(0)).alias("n")
    )
    from pyspark.sql import Window

    wy = Window.partitionBy("gx").orderBy("gy").rowsBetween(Window.unboundedPreceding, 0)
    wx = Window.partitionBy("gy").orderBy("gx").rowsBetween(Window.unboundedPreceding, 0)
    sat = (
        grid.withColumn("cy", F.sum("n").over(wy))
        .withColumn("s", F.sum("cy").over(wx))
        .select("gx", "gy", "s")
    )

    lo_x = F.col("gx") - r - 1
    lo_y = F.col("gy") - r - 1
    hi_x = F.least(F.col("gx") + r, F.lit(m - 1))
    hi_y = F.least(F.col("gy") + r, F.lit(m - 1))
    out = hist
    # four SAT corners; lo-side terms drop out when the index is negative
    for tag, ex, ey, sign in [
        ("a", hi_x, hi_y, 1),
        ("b", lo_x, hi_y, -1),
        ("c", hi_x, lo_y, -1),
        ("d", lo_x, lo_y, 1),
    ]:
        cdf = sat.select(
            F.col("gx").alias(f"{tag}_gx"),
            F.col("gy").alias(f"{tag}_gy"),
            (F.col("s") * sign).alias(f"{tag}_s"),
        )
        out = out.withColumn(f"{tag}_gx", ex).withColumn(f"{tag}_gy", ey).join(
            cdf, [f"{tag}_gx", f"{tag}_gy"], "left"
        )
    box = sum(F.coalesce(F.col(f"{t}_s"), F.lit(0)) for t in "abcd")
    return out.select(
        "gx", "gy", "n_docs", box.cast("long").alias("box_n")
    )


def box_density_oracle(r: int, shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (x, y): identical dense
    grid, two window cumsums, four clamped SAT lookups."""
    m = config.edge >> shift
    s = int(shift)
    return f"""hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), dense AS (
  SELECT gxs.gx, gys.gy FROM (SELECT unnest(range(0, {m})) AS gx) gxs,
       (SELECT unnest(range(0, {m})) AS gy) gys
), grid AS (
  SELECT d.gx, d.gy, COALESCE(h.n_docs, 0) AS n
  FROM dense d LEFT JOIN hist h ON d.gx = h.gx AND d.gy = h.gy
), sat1 AS (
  SELECT gx, gy,
         SUM(n) OVER (PARTITION BY gx ORDER BY gy ROWS UNBOUNDED PRECEDING) AS cy
  FROM grid
), sat AS (
  SELECT gx, gy,
         SUM(cy) OVER (PARTITION BY gy ORDER BY gx ROWS UNBOUNDED PRECEDING) AS s
  FROM sat1
)
SELECT h.gx, h.gy, CAST(h.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(sa.s, 0) - COALESCE(sb.s, 0) - COALESCE(sc.s, 0)
          + COALESCE(sd.s, 0) AS BIGINT) AS box_n
FROM hist h
LEFT JOIN sat sa ON sa.gx = LEAST(h.gx + {r}, {m - 1}) AND sa.gy = LEAST(h.gy + {r}, {m - 1})
LEFT JOIN sat sb ON sb.gx = h.gx - {r} - 1 AND sb.gy = LEAST(h.gy + {r}, {m - 1})
LEFT JOIN sat sc ON sc.gx = LEAST(h.gx + {r}, {m - 1}) AND sc.gy = h.gy - {r} - 1
LEFT JOIN sat sd ON sd.gx = h.gx - {r} - 1 AND sd.gy = h.gy - {r} - 1"""


# ---------------------------------------------------------------------------
# Shared numpy helpers of the grid-bounded Arrow kernels
# ---------------------------------------------------------------------------

_ROOK = ((1, 0), (-1, 0), (0, 1), (0, -1))
_INF = 2**62


def _rook_grid(gx, gy, n_docs, m: int):
    """Key-sort one occupied-cell histogram of the ``m x m`` grid and index
    its rook neighbours: ``(key, gx, gy, n_docs, nbrs)`` with the flat key
    ``gx*m + gy`` ascending and ``nbrs[i, j]`` the index of cell ``i``'s
    neighbour at offset ``_ROOK[j]`` (+x, -x, +y, -y), -1 when that cell
    is unoccupied or off the grid.  Four ``searchsorted`` probes of the
    sorted keys; everything built on this table is bounded by ``m^2``
    cells, never by the corpus."""
    import numpy as np

    gx, gy, nd = (np.asarray(a, np.int64) for a in (gx, gy, n_docs))
    key = gx * m + gy
    order = np.argsort(key)
    key, gx, gy, nd = key[order], gx[order], gy[order], nd[order]
    nbrs = np.full((len(key), 4), -1, dtype=np.int64)
    for j, (dx, dy) in enumerate(_ROOK):
        nx, ny = gx + dx, gy + dy
        nk = nx * m + ny
        pos = np.clip(np.searchsorted(key, nk), 0, max(len(key) - 1, 0))
        hit = (nx >= 0) & (nx < m) & (ny >= 0) & (ny < m) & (key[pos] == nk)
        nbrs[hit, j] = pos[hit]
    return key, gx, gy, nd, nbrs


def _steepest_ascent(key, nd, nbrs):
    """Per cell, the index of its steepest-ascent rook neighbour (strictly
    denser, the densest wins, ties to the smaller flat key); local maxima
    point at themselves.  Density strictly rises along every pointer, so
    the pointers form a forest rooted at the peaks."""
    import numpy as np

    best = np.arange(len(key), dtype=np.int64)
    for j in range(4):
        rows = np.nonzero(nbrs[:, j] >= 0)[0]
        cand, cur = nbrs[rows, j], best[rows]
        # strictly denser beats the current best; equal density breaks to
        # the smaller flat key, but only among neighbours strictly denser
        # than the cell itself (the self pointer carries its own density)
        better = (nd[cand] > nd[cur]) | (
            (nd[cand] == nd[cur]) & (nd[cand] > nd[rows]) & (key[cand] < key[cur])
        )
        best[rows[better]] = cand[better]
    return best


def _cost_surface(is_src, nbrs, w, budget: int):
    """Cheapest cost from any source cell through the rook graph, paying
    ``w[i]`` to ENTER cell ``i``: Jacobi min-plus rounds until the exact
    fixpoint or ``budget`` rounds (with weights >= 1 an in-budget optimal
    path has <= ``budget`` edges, so the cap loses nothing); cells beyond
    ``budget`` read ``_INF``.  Exact int64 and order-independent."""
    import numpy as np

    has = nbrs >= 0
    safe = np.where(has, nbrs, 0)
    dist = np.where(is_src, np.int64(0), np.int64(_INF))
    for _ in range(int(budget)):
        best_nbr = np.where(has, dist[safe], np.int64(_INF)).min(axis=1)
        new = np.minimum(dist, best_nbr + w)
        if np.array_equal(new, dist):
            break
        dist = new
    return np.where(dist <= budget, dist, np.int64(_INF))


class _UnionFind:
    """Union-find over cell indices with path halving and MIN-ROOT union:
    the smaller index becomes the root, so over key-sorted cells every
    root is its component's minimum flat key.  ``size`` holds each root's
    component size."""

    def __init__(self, n: int):
        import numpy as np

        self.parent = np.arange(n, dtype=np.int64)
        self.size = np.ones(n, dtype=np.int64)

    def find(self, i):
        parent = self.parent
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(self, i, j) -> int:
        """Merge the components of ``i`` and ``j``; the merged root, or -1
        when they were already one component."""
        ri, rj = self.find(i), self.find(j)
        if ri == rj:
            return -1
        ri, rj = min(ri, rj), max(ri, rj)
        self.parent[rj] = ri
        self.size[ri] += self.size[rj]
        return ri


# ---------------------------------------------------------------------------
# Hot-spot region labeling — connected components over the density grid
# ---------------------------------------------------------------------------


def hotspot_regions(
    doc_geo: DataFrame, min_docs: int, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Delineate contiguous hot-spot REGIONS: per dense grid cell
    (``n_docs >= min_docs``) the label of its 4-connected region —
    ``(gx, gy, n_docs, region)`` where ``region`` is the minimum flat cell
    key ``gx*M + gy`` reachable through dense rook-adjacent cells.

    This is raster connected-component labeling (GIS "region group" /
    zone delineation), the step after :func:`local_moran` flags cells:
    quadrants say WHICH cells are hot, regions say how the hot area hangs
    together.  The reference's per-window tile matrices
    (`Experiment/TestByUserInput/BRQComparisonInput.java:13-23, reference`)
    have no graph step; this composes the engine's own histogram with the
    shuffle-bounded large/small-star CC of :mod:`.graph`.

    Physical plan: ONE salted corpus scan builds the histogram; the dense
    subset is bounded by the ``M^2`` grid no matter how large the corpus
    is, so the component labeling runs as ONE Arrow grouped-map task over
    it (the isochrone/cost-distance pattern, :func:`_grid_relax_fn`'s
    sibling): rook edges from the shared :func:`_rook_grid` table, then
    the min-root :class:`_UnionFind` — the root index is always the
    smaller one and cells are key-sorted, so the final label is exactly
    the component's minimum flat key.  The
    corpus never touches Python; at 10^12 docs the cost is the scan.
    (Corpus-sized graphs — dedup clusters, DBSCAN — keep the distributed
    large/small-star CC of :mod:`.graph`; this kernel is ONLY for
    manifest-sized rasters.)"""
    m = config.edge >> shift
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))
    dense = hist.filter(F.col("n_docs") >= min_docs)

    def fn(pdf):
        import numpy as np
        import pandas as pd

        key, gx, gy, nd, nbrs = _rook_grid(pdf["gx"], pdf["gy"], pdf["n_docs"], m)
        uf = _UnionFind(len(key))
        up = nbrs[:, [0, 2]]  # +x and +y arms: each rook edge once
        rows, arms = np.nonzero(up >= 0)
        for i, j in zip(rows, up[rows, arms]):
            uf.union(i, j)
        roots = np.array([uf.find(i) for i in range(len(key))], dtype=np.int64)
        return pd.DataFrame(
            {"gx": gx, "gy": gy, "n_docs": nd, "region": key[roots]}
        )

    return dense.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "gx long, gy long, n_docs long, region long"
    )


def hotspot_regions_oracle(
    min_docs: int, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a ``WITH RECURSIVE`` CTE chain defining ``doc_geo``
    (x, y): identical histogram + dense threshold, then a recursive
    min-label closure over the same rook adjacency (the
    :func:`.graph._cc_closure_sql` shape, inlined because the chain here
    starts from ``doc_geo`` rather than a standalone pair query)."""
    m = config.edge >> shift
    s = int(shift)
    return f"""hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), dense AS (
  SELECT gx, gy, n_docs, CAST(gx * {m} + gy AS BIGINT) AS k
  FROM hist WHERE n_docs >= {min_docs}
), dpairs AS (
  SELECT a.k AS u, b.k AS v FROM dense a JOIN dense b
  ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
), edges AS (
  SELECT u, v FROM dpairs UNION SELECT v, u FROM dpairs
), cc(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, c.label FROM cc c JOIN edges e ON e.u = c.node
), labels AS (
  SELECT node, MIN(label) AS rep FROM cc GROUP BY node
)
SELECT d.gx, d.gy, CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(l.rep, d.k) AS BIGINT) AS region
FROM dense d LEFT JOIN labels l ON l.node = d.k"""


def global_moran(
    doc_geo: DataFrame,
    shift: int = 8,
    q_scale: int = 10000,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Global Moran's I over the corpus density raster, as EXACT integers:
    one row ``(moran_num, moran_den, w_pairs, g_cells, s_total)`` where
    ``I = (g_cells / w_pairs) * moran_num / moran_den`` — the global
    spatial-autocorrelation statistic whose per-cell decomposition is
    :func:`local_moran`.

    Exactness strategy (this is the overflow-proof form): cell counts are
    first quantized to per-``q_scale`` shares ``q_i = (n_i * q_scale) DIV
    N`` — making every downstream magnitude INDEPENDENT of corpus size —
    and deviations stay scaled integers ``d_i = G*q_i - S`` (``S = sum q``,
    so the quantization remainder cannot bias the mean).  The study region
    is the full ``M x M`` lattice with rook (4-neighbor) weights; empty
    cells (``d = -S``) are absorbed in closed form, never materialized:

        num = A - S*G*(B - C) + S^2*(W - D)          over occupied-only
        den = E + (G - n_occ)*S^2                     aggregates A..E

    with A = sum d_i*(G*nb4q_i - k_i*S), B = sum q_i*k_i, C = sum nb4q_i,
    D = sum k_i, E = sum d_i^2, W = 4*M*(M-1) directed rook pairs, k_i the
    in-bounds rook degree.  Worst-case |num| < G^2 * (q_scale*5)^2 ~ 2^53
    at the defaults — int64-safe at ANY corpus size (the span_stats
    overflow lesson, ADVICE r3).

    Plan: one corpus scan into the cell histogram; everything after is
    O(occupied cells) — two broadcast scalar joins, one 4-offset explode of
    the tiny histogram, one final single-row aggregate."""
    m = config.edge >> shift
    g = m * m
    w_pairs = 4 * m * (m - 1)
    cells = doc_geo.groupBy(
        F.shiftright("x", shift).alias("gx"),
        F.shiftright("y", shift).alias("gy"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cells.agg(F.sum("n_docs").cast("long").alias("n_total"))
    qc = cells.crossJoin(F.broadcast(tot)).select(
        "gx",
        "gy",
        F.expr(f"CAST((n_docs * {q_scale}) DIV n_total AS BIGINT)").alias("q"),
    )
    s_tot = qc.agg(F.sum("q").cast("long").alias("s_total"))
    offs = ", ".join(
        f"named_struct('dx', {dx}L, 'dy', {dy}L)"
        for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1))
    )
    nb = (
        qc.withColumn("o", F.explode(F.expr(f"array({offs})")))
        .select(
            (F.col("gx") + F.col("o.dx")).alias("tgx"),
            (F.col("gy") + F.col("o.dy")).alias("tgy"),
            "q",
        )
        .filter(
            F.col("tgx").between(0, m - 1) & F.col("tgy").between(0, m - 1)
        )
        .groupBy("tgx", "tgy")
        .agg(F.sum("q").alias("nb4q"))
    )
    k_expr = (
        F.when(F.col("gx") > 0, 1).otherwise(0)
        + F.when(F.col("gx") < m - 1, 1).otherwise(0)
        + F.when(F.col("gy") > 0, 1).otherwise(0)
        + F.when(F.col("gy") < m - 1, 1).otherwise(0)
    ).cast("long")
    j = (
        qc.join(nb, (qc.gx == nb.tgx) & (qc.gy == nb.tgy), "left")
        .withColumn("nb4q", F.coalesce(F.col("nb4q"), F.lit(0)).cast("long"))
        .withColumn("k", k_expr)
        .crossJoin(F.broadcast(s_tot))
    )
    d = F.lit(g) * F.col("q") - F.col("s_total")
    nbrd = F.lit(g) * F.col("nb4q") - F.col("k") * F.col("s_total")
    agg = j.agg(
        F.sum(d * nbrd).cast("long").alias("a_occ"),
        F.sum(F.col("q") * F.col("k")).cast("long").alias("b_qk"),
        F.sum("nb4q").cast("long").alias("c_nb"),
        F.sum("k").cast("long").alias("d_k"),
        F.sum(d * d).cast("long").alias("e_d2"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.min("s_total").alias("s_total"),
    )
    return agg.select(
        F.expr(
            f"CAST(a_occ - s_total * {g} * (b_qk - c_nb) "
            f"+ s_total * s_total * ({w_pairs} - d_k) AS BIGINT)"
        ).alias("moran_num"),
        F.expr(
            f"CAST(e_d2 + ({g} - n_occ) * s_total * s_total AS BIGINT)"
        ).alias("moran_den"),
        F.lit(w_pairs).cast("long").alias("w_pairs"),
        F.lit(g).cast("long").alias("g_cells"),
        F.col("s_total").cast("long").alias("s_total"),
    )


def global_moran_oracle(
    shift: int = 8, q_scale: int = 10000, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (x, y): the identical
    quantization, closed-form empty-cell absorption, and final arithmetic."""
    m = config.edge >> shift
    g = m * m
    w = 4 * m * (m - 1)
    s = int(shift)
    return f"""gm_cells AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs FROM doc_geo GROUP BY 1, 2
), gm_tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM gm_cells),
gm_q AS (
  SELECT gx, gy, CAST((n_docs * {q_scale}) // n_total AS BIGINT) AS q
  FROM gm_cells, gm_tot
), gm_s AS (SELECT CAST(SUM(q) AS BIGINT) AS s_total FROM gm_q),
gm_nb AS (
  SELECT c.gx + o.dx AS tgx, c.gy + o.dy AS tgy, CAST(SUM(c.q) AS BIGINT) AS nb4q
  FROM gm_q c, (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dx, dy)
  WHERE c.gx + o.dx BETWEEN 0 AND {m - 1} AND c.gy + o.dy BETWEEN 0 AND {m - 1}
  GROUP BY 1, 2
), gm_j AS (
  SELECT c.q, COALESCE(n.nb4q, 0) AS nb4q,
         (CASE WHEN c.gx > 0 THEN 1 ELSE 0 END + CASE WHEN c.gx < {m - 1} THEN 1 ELSE 0 END
          + CASE WHEN c.gy > 0 THEN 1 ELSE 0 END + CASE WHEN c.gy < {m - 1} THEN 1 ELSE 0 END) AS k,
         s.s_total
  FROM gm_q c LEFT JOIN gm_nb n ON c.gx = n.tgx AND c.gy = n.tgy, gm_s s
), gm_agg AS (
  SELECT CAST(SUM(({g} * q - s_total) * ({g} * nb4q - k * s_total)) AS BIGINT) AS a_occ,
         CAST(SUM(q * k) AS BIGINT) AS b_qk,
         CAST(SUM(nb4q) AS BIGINT) AS c_nb,
         CAST(SUM(k) AS BIGINT) AS d_k,
         CAST(SUM(({g} * q - s_total) * ({g} * q - s_total)) AS BIGINT) AS e_d2,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(MIN(s_total) AS BIGINT) AS s_total
  FROM gm_j
)
SELECT CAST(a_occ - s_total * {g} * (b_qk - c_nb) + s_total * s_total * ({w} - d_k) AS BIGINT) AS moran_num,
       CAST(e_d2 + ({g} - n_occ) * s_total * s_total AS BIGINT) AS moran_den,
       CAST({w} AS BIGINT) AS w_pairs, CAST({g} AS BIGINT) AS g_cells,
       CAST(s_total AS BIGINT) AS s_total
FROM gm_agg"""


# ---------------------------------------------------------------------------
# Isochrone BFS — hop-distance raster over the occupied-cell grid
# ---------------------------------------------------------------------------


def _grid_relax_fn(
    m: int, src_cells: list, rounds: int, weighted: bool, out_col: str
):
    """Pandas-grouped-map kernel for the grid-bounded graph operators
    (isochrone BFS / Bellman-Ford cost distance): vectorized min-plus
    relaxation over the occupied-cell histogram.  The graph is the rook
    adjacency of occupied cells in an ``m x m`` grid — AT MOST ``m^2``
    vertices no matter how large the corpus is — so the whole iteration is
    one Arrow batch over the shared :func:`_rook_grid` neighbour table,
    relaxed by :func:`_cost_surface` until the exact fixpoint or the round
    cap.  Exact int64 throughout and deterministic."""
    import numpy as np
    import pandas as pd

    src_keys = np.asarray(
        sorted({gx * m + gy for gx, gy in src_cells}), dtype=np.int64
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        key, gx, gy, nd, nbrs = _rook_grid(pdf["gx"], pdf["gy"], pdf["n_docs"], m)
        w = 1 + np.minimum(3, nd // 8) if weighted else np.ones_like(nd)
        dist = _cost_surface(np.isin(key, src_keys), nbrs, w, rounds)
        reached = dist < _INF
        return pd.DataFrame(
            {
                "gx": gx[reached],
                "gy": gy[reached],
                "n_docs": nd[reached],
                out_col: dist[reached],
            }
        )

    return fn


def cell_isochrone(
    doc_geo: DataFrame,
    sources: list,
    max_hops: int = 12,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Multi-source ISOCHRONE over the occupied-cell raster: for every grid
    cell reachable from a source point's cell through 4-connected OCCUPIED
    cells in at most ``max_hops`` steps, the breadth-first hop distance —
    ``(gx, gy, n_docs, hops)``.  The service-area / coverage-propagation
    query: "how far does the data footprint extend around each POI, moving
    only through populated territory?".  The reference walks single tiles
    per window (`Experiment/TestByUserInput/BRQComparisonInput.java:13-23,
    reference`); this is the graph-traversal generalization, the third
    iterative operator family after CC and DBSCAN (`operators/graph.py`).

    Physical plan: ONE salted corpus scan builds the histogram; everything
    after is bounded by the ``M x M`` grid — AT MOST ``M^2`` cells no
    matter how large the corpus is — so the breadth-first closure runs as
    ONE Arrow-batched grouped-map task over the histogram
    (:func:`_grid_relax_fn`: the shared rook-neighbour table + a
    vectorized min-plus relaxation per round, exact int64, fixpoint or hop-cap
    exit).  This is the compaction-plan/core-area pattern — the corpus
    never touches Python, and the manifest-sized graph step costs
    microseconds instead of one driver-scheduled join round per hop (the
    previous form paid ~0.5 s/round in scheduling alone at any scale)."""
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))
    src_cells = sorted({(int(x) >> shift, int(y) >> shift) for x, y in sources})
    fn = _grid_relax_fn(
        config.edge >> shift, src_cells, int(max_hops), False, "hops"
    )
    return hist.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "gx long, gy long, n_docs long, hops long"
    )


def cell_isochrone_oracle(
    sources: list, max_hops: int = 12, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (x, y): identical
    histogram + rook edge arms, then a recursive breadth-first closure —
    UNION dedups ``(gx, gy, d)`` tuples, the final MIN(d) per cell is the
    BFS hop distance (first-visit level on the Spark side)."""
    s = int(shift)
    src_cells = sorted({(int(x) >> s, int(y) >> s) for x, y in sources})
    src_pred = " OR ".join(
        f"(gx = {gx} AND gy = {gy})" for gx, gy in src_cells
    )
    return f"""iso_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), iso_edges AS (
  SELECT a.gx, a.gy, b.gx AS vx, b.gy AS vy FROM iso_hist a JOIN iso_hist b
    ON b.gx = a.gx + 1 AND b.gy = a.gy
  UNION ALL SELECT a.gx, a.gy, b.gx, b.gy FROM iso_hist a JOIN iso_hist b
    ON b.gx = a.gx - 1 AND b.gy = a.gy
  UNION ALL SELECT a.gx, a.gy, b.gx, b.gy FROM iso_hist a JOIN iso_hist b
    ON b.gx = a.gx AND b.gy = a.gy + 1
  UNION ALL SELECT a.gx, a.gy, b.gx, b.gy FROM iso_hist a JOIN iso_hist b
    ON b.gx = a.gx AND b.gy = a.gy - 1
), iso_reach(gx, gy, d) AS (
  SELECT gx, gy, CAST(0 AS BIGINT) FROM iso_hist
  WHERE {src_pred}
  UNION
  SELECT e.vx, e.vy, r.d + 1 FROM iso_reach r
  JOIN iso_edges e ON e.gx = r.gx AND e.gy = r.gy
  WHERE r.d < {int(max_hops)}
), iso AS (SELECT gx, gy, MIN(d) AS hops FROM iso_reach GROUP BY 1, 2)
SELECT h.gx, h.gy, CAST(h.n_docs AS BIGINT) AS n_docs,
       CAST(i.hops AS BIGINT) AS hops
FROM iso_hist h JOIN iso i ON i.gx = h.gx AND i.gy = h.gy"""


# ---------------------------------------------------------------------------
# Vector-tile feature decimation — top-k representative docs per tile per zoom
# ---------------------------------------------------------------------------


def tile_feature_topk(
    doc_geo: DataFrame, levels: int = 5, k: int = 3, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Map-rendering feature DECIMATION: at every zoom level, the top-``k``
    representative documents per tile — ``(zoom, tile, doc_id, score,
    rank)`` with zoom 0 = the engine's base cell grid and each level up
    merging quads (``tile >> 2``), exactly the :func:`cell_pyramid` tile
    scheme.  A tile server renders at most ``k`` features per tile at any
    zoom; the importance score is an engine-neutral 60-bit md5 fold of the
    doc id (deterministic, uniform — the stand-in for a real prominence
    column), tie-broken by ``doc_id`` so every rank is total.

    Physical plan: ONE corpus shuffle (the zoom-0 window, partitioned by
    base tile) and a ``localCheckpoint`` of its ≤ ``k``·tiles survivors;
    every higher zoom re-ranks ONLY the previous level's survivors
    (top-k-of-union-of-child-top-k == top-k of the union, because the
    order is total and per-doc) — the k-bounded rollup that never rescans
    the corpus, unlike a per-level union of windows which would re-execute
    the base lineage ``levels`` times.  At 10^12 docs the cost is the one
    tile-keyed shuffle; AQE splits the gaussian hot tiles."""
    from .dedup import token_hash60_sql

    base_shift = 2 * config.cell_shift
    score = F.expr(token_hash60_sql("md5(CAST(doc_id AS BINARY))"))
    from pyspark.sql import Window

    w = Window.partitionBy("tile").orderBy(F.desc("score"), F.asc("doc_id"))
    cur = (
        doc_geo.select(
            F.shiftright("hilbert", base_shift).alias("tile"),
            "doc_id",
            score.cast("long").alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .localCheckpoint()
    )
    out = cur.withColumn("zoom", F.lit(0).cast("int"))
    for z in range(1, int(levels)):
        cur = (
            cur.select(F.shiftright("tile", 2).alias("tile"), "doc_id", "score")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        out = out.union(cur.withColumn("zoom", F.lit(z).cast("int")))
    return out.select(
        "zoom", F.col("tile").cast("long").alias("tile"), "doc_id", "score", "rank"
    )


def tile_feature_topk_oracle_select(
    levels: int = 5, k: int = 3, config: EngineConfig = DEFAULT
) -> str:
    """SELECT body over a pre-defined ``doc_geo``+``hv`` CTE chain (the
    caller supplies the recursive-CTE hilbert computation, as in the
    cell_pyramid oracle): every zoom computed INDEPENDENTLY from the full
    corpus with the identical md5-fold score — the straightforward
    formulation the k-bounded rollup must equal."""
    from .dedup import token_hash60_sql

    base_shift = 2 * config.cell_shift
    arms = []
    for z in range(int(levels)):
        sh = base_shift + 2 * z
        arms.append(
            f"""SELECT CAST({z} AS INTEGER) AS zoom, tile, doc_id, score,
       CAST(rank AS INTEGER) AS rank FROM (
  SELECT hv.hilbert >> {sh} AS tile, d.doc_key AS doc_id,
         {token_hash60_sql('md5(d.doc_key)')} AS score,
         ROW_NUMBER() OVER (PARTITION BY hv.hilbert >> {sh}
                            ORDER BY {token_hash60_sql('md5(d.doc_key)')} DESC,
                                     d.doc_key) AS rank
  FROM doc_geo d JOIN hv ON d.x = hv.cx AND d.y = hv.cy
) WHERE rank <= {int(k)}"""
        )
    return " UNION ALL ".join(arms)


# ---------------------------------------------------------------------------
# Accumulated-cost surface — weighted shortest path over the cell raster
# ---------------------------------------------------------------------------


def cell_cost_distance(
    doc_geo: DataFrame,
    sources: list,
    budget: int = 24,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Accumulated-COST surface (the GIS "cost distance" primitive): the
    congestion-aware sibling of :func:`cell_isochrone` — each occupied
    cell carries an integer traversal weight ``w = 1 + LEAST(3, n_docs
    DIV 8)`` (denser territory is slower to cross), and the query returns
    every cell whose cheapest path from a source point's cell, summing the
    weights of ENTERED cells through 4-connected occupied territory, stays
    within ``budget`` — ``(gx, gy, n_docs, cost)``.

    Physical plan: the isochrone's one salted corpus scan, then the
    Bellman–Ford relaxation as ONE Arrow-batched grouped-map task over the
    grid-bounded histogram (:func:`_grid_relax_fn` with the per-cell
    weights): positive integer weights mean an in-budget optimal path has
    at most ``budget`` edges, so ``budget`` vectorized scatter-min rounds
    (fixpoint-exited early) plus the ``<= budget`` cap reproduce the
    oracle's recursive closure exactly.  The corpus never touches Python;
    the graph step is manifest-sized (the compaction-plan/core-area
    pattern), replacing one driver-scheduled join round per relaxation."""
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))
    src_cells = sorted({(int(x) >> shift, int(y) >> shift) for x, y in sources})
    fn = _grid_relax_fn(config.edge >> shift, src_cells, int(budget), True, "cost")
    return hist.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "gx long, gy long, n_docs long, cost long"
    )


def cell_cost_distance_oracle(
    sources: list, budget: int = 24, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical histogram,
    weights, and edge arms, then a recursive closure accumulating entered-
    cell weights — positive weights make the ≤ ``budget`` prune lossless
    for every cell whose optimal cost is within budget, and MIN(c) per
    cell is the Bellman–Ford fixpoint."""
    s = int(shift)
    b = int(budget)
    src_cells = sorted({(int(x) >> s, int(y) >> s) for x, y in sources})
    src_pred = " OR ".join(
        f"(gx = {gx} AND gy = {gy})" for gx, gy in src_cells
    )
    return f"""cd_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), cd_w AS (
  SELECT gx, gy, n_docs, 1 + LEAST(3, n_docs // 8) AS w FROM cd_hist
), cd_edges AS (
  SELECT a.gx, a.gy, b.gx AS vx, b.gy AS vy, b.w AS vw FROM cd_w a JOIN cd_w b
    ON b.gx = a.gx + 1 AND b.gy = a.gy
  UNION ALL SELECT a.gx, a.gy, b.gx, b.gy, b.w FROM cd_w a JOIN cd_w b
    ON b.gx = a.gx - 1 AND b.gy = a.gy
  UNION ALL SELECT a.gx, a.gy, b.gx, b.gy, b.w FROM cd_w a JOIN cd_w b
    ON b.gx = a.gx AND b.gy = a.gy + 1
  UNION ALL SELECT a.gx, a.gy, b.gx, b.gy, b.w FROM cd_w a JOIN cd_w b
    ON b.gx = a.gx AND b.gy = a.gy - 1
), cd_reach(gx, gy, c) AS (
  SELECT gx, gy, CAST(0 AS BIGINT) FROM cd_w
  WHERE {src_pred}
  UNION
  SELECT e.vx, e.vy, r.c + e.vw FROM cd_reach r
  JOIN cd_edges e ON e.gx = r.gx AND e.gy = r.gy
  WHERE r.c + e.vw <= {b}
), cd AS (SELECT gx, gy, MIN(c) AS cost FROM cd_reach GROUP BY 1, 2)
SELECT h.gx, h.gy, CAST(h.n_docs AS BIGINT) AS n_docs,
       CAST(cd.cost AS BIGINT) AS cost
FROM cd_w h JOIN cd ON cd.gx = h.gx AND cd.gy = h.gy"""


def core_area(
    doc_geo: DataFrame,
    mass_pct: int = 90,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """CORE-AREA estimation (the home-range / kernel-core primitive): the
    smallest set of grid cells that together hold at least ``mass_pct``
    percent of the corpus — densest cells first, deterministic ties toward
    the smaller flat cell key — ``(gcell, n_docs, cum_docs, cell_rank)``.
    Exact integer rule: a cell is in the core iff the mass STRICTLY BEFORE
    it (``cum_docs - n_docs``) has not yet reached ``mass_pct`` of the
    total, i.e. ``100 * (cum_docs - n_docs) < mass_pct * total`` — so the
    crossing cell is included and nothing after it.

    Physical plan: one salted corpus scan -> histogram; the ordering
    window runs over O(occupied cells) rows on a single partition — the
    same deliberate driver-scale step as compaction planning (a raster's
    occupied-cell list is manifest-sized, not corpus-sized)."""
    m = config.edge >> shift
    hist = (
        salted_cell_counts(doc_geo, config, grid_keys(shift))
        .select(
            (F.col("gx") * m + F.col("gy")).cast("long").alias("gcell"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_docs"), F.asc("gcell"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        hist.withColumn("cum_docs", F.sum("n_docs").over(wc).cast("long"))
        .withColumn("cell_rank", F.row_number().over(w).cast("long"))
        .withColumn("total", F.sum("n_docs").over(total))
        .filter(
            100 * (F.col("cum_docs") - F.col("n_docs"))
            < mass_pct * F.col("total")
        )
        .select("gcell", "n_docs", "cum_docs", "cell_rank")
    )


def core_area_oracle(
    mass_pct: int = 90, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical histogram,
    ordering, and strict-before-mass rule."""
    m = config.edge >> shift
    s = int(shift)
    return f"""ca_hist AS (
  SELECT CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS gcell,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM doc_geo GROUP BY 1
), ca_ranked AS (
  SELECT gcell, n_docs,
         CAST(SUM(n_docs) OVER (ORDER BY n_docs DESC, gcell
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
         CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, gcell) AS BIGINT)
           AS cell_rank,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total
  FROM ca_hist
)
SELECT gcell, n_docs, cum_docs, cell_rank FROM ca_ranked
WHERE 100 * (cum_docs - n_docs) < {int(mass_pct)} * total"""


def cell_morphology(
    doc_geo: DataFrame,
    shift: int = 6,
    min_count: int = 1,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Morphological OPENING of the occupancy raster (erosion then dilation
    with the 3x3 structuring element) — the raster-GIS denoise step that
    removes speckle cells a 100 TB heat-map pipeline must not render:
    ``(gx, gy, n_docs, is_core)`` for every occupied cell that SURVIVES the
    opening (``is_core = 1`` on the eroded interior, ``0`` on the dilated
    rim).  Opening is anti-extensive, so the output is always a subset of
    the occupancy set — isolated speckle cells (no fully-occupied 3x3
    anywhere around them) are dropped.

    The reference renders rasters cell-by-cell with no neighborhood ops
    (`HilbertCurveRenderer.java:21-112, reference`); this is the missing
    cartographic-cleanup companion of :func:`focal_stats`.

    Physical plan: ONE corpus scan into the salted per-cell histogram;
    erosion is the same 9-way offset explode as ``focal_stats`` (a cell is
    eroded iff its 3x3 occupancy vote count is exactly 9 — which implies
    the cell itself is occupied); dilation re-explodes the eroded set and
    distincts.  Every frame after the histogram is O(occupied cells),
    never O(docs); the two final joins are cell-sized hash joins AQE
    broadcasts."""
    s = int(shift)
    occ = (
        salted_cell_counts(doc_geo, config, grid_keys(s))
        .filter(F.col("n_docs") >= int(min_count))
    )
    nine = F.expr(
        "array("
        + ", ".join(
            f"struct({dx} AS dx, {dy} AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + ")"
    )
    votes = (
        occ.select("gx", "gy", F.explode(nine).alias("o"))
        .groupBy(
            (F.col("gx") + F.col("o.dx")).alias("tgx"),
            (F.col("gy") + F.col("o.dy")).alias("tgy"),
        )
        .agg(F.count("*").alias("nv"))
    )
    # nv == 9 forces the center itself occupied (an unoccupied center can
    # collect at most 8 neighbor votes), so eroded is a subset of occ
    eroded = votes.filter(F.col("nv") == 9).select(
        F.col("tgx").alias("gx"), F.col("tgy").alias("gy")
    )
    opened = (
        eroded.select("gx", "gy", F.explode(nine).alias("o"))
        .select(
            (F.col("gx") + F.col("o.dx")).alias("gx"),
            (F.col("gy") + F.col("o.dy")).alias("gy"),
        )
        .distinct()
    )
    return (
        occ.join(opened, ["gx", "gy"])
        .join(eroded.withColumn("core", F.lit(1)), ["gx", "gy"], "left")
        .select(
            "gx",
            "gy",
            "n_docs",
            F.coalesce(F.col("core"), F.lit(0)).cast("int").alias("is_core"),
        )
    )


def cell_morphology_oracle(shift: int = 6, min_count: int = 1) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (needs x, y): identical
    histogram -> 9-vote erosion -> distinct dilation -> subset join."""
    s = int(shift)
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""mo_cells AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2 HAVING COUNT(*) >= {int(min_count)}
), mo_votes AS (
  SELECT c.gx + o.dx AS tgx, c.gy + o.dy AS tgy, COUNT(*) AS nv
  FROM mo_cells c, (VALUES {nine}) o(dx, dy)
  GROUP BY 1, 2
), mo_eroded AS (
  SELECT tgx AS gx, tgy AS gy FROM mo_votes WHERE nv = 9
), mo_opened AS (
  SELECT DISTINCT e.gx + o.dx AS gx, e.gy + o.dy AS gy
  FROM mo_eroded e, (VALUES {nine}) o(dx, dy)
)
SELECT c.gx, c.gy, c.n_docs,
       CAST(CASE WHEN e.gx IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_core
FROM mo_cells c
JOIN mo_opened p ON c.gx = p.gx AND c.gy = p.gy
LEFT JOIN mo_eroded e ON c.gx = e.gx AND c.gy = e.gy"""


def cell_percentile_bands(
    doc_geo: DataFrame,
    n_bands: int = 10,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Density PERCENTILE-BAND raster — :func:`core_area` generalized from
    one threshold to a full quantile classification: every occupied cell
    labeled with the band its strict-before cumulative mass falls in when
    cells are ranked densest-first — ``(gcell, n_docs, cum_docs, band)``
    with ``band = FLOOR(n_bands * (cum_docs - n_docs) / total)`` in
    ``[0, n_bands)``.  Band 0 is the densest core; the bands are exactly
    the choropleth legend a tile renderer needs, and ``band < k``
    reproduces ``core_area`` at ``mass_pct = 100k/n_bands``.

    Same physical plan as ``core_area``: one salted corpus scan into the
    histogram, then the ordering window over O(occupied cells) rows —
    deliberate driver-scale work (a raster's occupied-cell list is
    manifest-sized)."""
    m = config.edge >> shift
    hist = (
        salted_cell_counts(doc_geo, config, grid_keys(shift))
        .select(
            (F.col("gx") * m + F.col("gy")).cast("long").alias("gcell"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_docs"), F.asc("gcell"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nb = int(n_bands)
    return (
        hist.withColumn("cum_docs", F.sum("n_docs").over(wc).cast("long"))
        .withColumn("total", F.sum("n_docs").over(total).cast("long"))
        .select(
            "gcell",
            "n_docs",
            "cum_docs",
            F.expr(f"CAST({nb} * (cum_docs - n_docs) DIV total AS BIGINT)").alias(
                "band"
            ),
        )
    )


def cell_percentile_bands_oracle(
    n_bands: int = 10, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical histogram,
    ordering, and integer band rule."""
    m = config.edge >> shift
    s = int(shift)
    nb = int(n_bands)
    return f"""pb_hist AS (
  SELECT CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS gcell,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM doc_geo GROUP BY 1
), pb_ranked AS (
  SELECT gcell, n_docs,
         CAST(SUM(n_docs) OVER (ORDER BY n_docs DESC, gcell
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total
  FROM pb_hist
)
SELECT gcell, n_docs, cum_docs,
       CAST({nb} * (cum_docs - n_docs) // total AS BIGINT) AS band
FROM pb_ranked"""


def occupancy_profile(
    doc_geo: DataFrame, levels: int = 5, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Box-counting OCCUPANCY profile of the corpus: per pyramid level,
    the occupied-cell count, the total mass, and the densest cell —
    ``(level, n_cells, total_docs, max_docs)``.  ``n_cells`` across levels
    is the box-counting-dimension curve (how fast occupancy collapses as
    cells coarsen — the standard fractal-dimension / storage-planning
    statistic), and ``total_docs`` being IDENTICAL at every level is a
    free conservation check on the rollup.

    Plan: the :func:`cell_pyramid` rollup (ONE salted corpus scan + native
    ancestor explode) followed by a |levels|-group aggregation — the
    profile costs the pyramid plus epsilon."""
    return (
        cell_pyramid(doc_geo, levels, config)
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_docs").cast("long").alias("total_docs"),
            F.max("n_docs").cast("long").alias("max_docs"),
        )
    )


def occupancy_profile_oracle_select(levels: int, config: EngineConfig = DEFAULT) -> str:
    """SELECT body over the same ``doc_geo``+``hv`` CTE chain
    ``cell_pyramid_oracle_select`` uses (the caller supplies the
    recursive-CTE hilbert computation): wraps the identical per-level
    union in the profile aggregation."""
    inner = cell_pyramid_oracle_select(levels, config)
    # inner = ", base AS (...) SELECT <union>" — split at the single
    # ") SELECT " boundary closing the base CTE so the union can sit in a
    # named CTE of its own
    prefix, union = inner.split(") SELECT ", 1)
    return (
        f"{prefix}), op_pyr AS (SELECT {union}) "
        f"SELECT level, CAST(COUNT(*) AS BIGINT) AS n_cells, "
        f"CAST(SUM(n_docs) AS BIGINT) AS total_docs, "
        f"CAST(MAX(n_docs) AS BIGINT) AS max_docs "
        f"FROM op_pyr GROUP BY level"
    )


def kmv_merge(
    doc_geo: DataFrame, shift: int = 8, k: int = 16, config: EngineConfig = DEFAULT
) -> DataFrame:
    """KMV sketch MERGEABILITY, driver-checked: the per-cell k-minimum
    sketches of :func:`cell_distinct_kmv`, merged, must yield the SAME
    global distinct estimate as a direct global KMV — one row
    ``(k, n_partial_hashes, merged_estimate, direct_estimate,
    exact_distinct, merged_eq_direct)``.  Mergeability is the property
    that makes a sketch distributable (per-partition partials folded at
    the coordinator — the HLL/Theta pattern); here it is PROVED on real
    data by a query, not assumed: every global top-k hash is inside its
    own cell's top-k (fewer than k hashes beat it anywhere, so fewer than
    k beat it in its cell), hence the union of partials contains the
    global top-k.

    Plan: distinct (cell, keyword) pairs -> per-cell window top-k (the
    partial sketches, cells-bounded) -> distinct hash union -> one global
    k-th order statistic; the direct arm is the same fold without the
    cell stage.  Both arms are single-row aggregates joined at the end —
    driver-scale frames after the first aggregation."""
    from .dedup import _hex_to_long_sql
    from pyspark.sql import Window

    grid = config.edge >> shift
    m_space = 1 << 40
    kk = int(k)
    gcell = F.shiftright("x", shift) * grid + F.shiftright("y", shift)
    pairs = doc_geo.select(
        gcell.alias("gcell"), F.explode("keywords").alias("kw")
    ).distinct()
    hashed = pairs.withColumn(
        "h", F.expr(f"GREATEST({_hex_to_long_sql('md5(kw)', 1, 10)}, 1)")
    )
    w = Window.partitionBy("gcell").orderBy("h", "kw")
    partials = (
        hashed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= kk)
        .select("h")
    )
    est = (
        f"CASE WHEN nd <= {kk} THEN nd "
        f"ELSE ({(kk - 1) * m_space}L DIV h) END"
    )
    gw = Window.orderBy("h")

    def _arm(hs: DataFrame, n_col: str) -> DataFrame:
        ds = hs.select("h").distinct()
        ranked = ds.withColumn("r", F.row_number().over(gw)).withColumn(
            "nd", F.count(F.lit(1)).over(Window.partitionBy())
        )
        return ranked.filter(
            F.col("r") == F.least(F.lit(kk), F.col("nd"))
        ).select(
            F.col("h").alias("kth"),
            F.col("nd").alias(n_col),
            F.expr(est).cast("long").alias(n_col + "_est"),
        )

    merged = _arm(partials, "n_merged")
    direct = _arm(hashed.select("kw", "h").distinct(), "n_direct")
    return merged.crossJoin(direct).select(
        F.lit(kk).cast("int").alias("k"),
        F.col("n_merged").cast("long").alias("n_partial_hashes"),
        F.col("n_merged_est").alias("merged_estimate"),
        F.col("n_direct_est").alias("direct_estimate"),
        F.col("n_direct").cast("long").alias("exact_distinct"),
        (F.col("n_merged_est") == F.col("n_direct_est"))
        .cast("int")
        .alias("merged_eq_direct"),
    )


def kmv_merge_oracle(
    shift: int = 8, k: int = 16, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (needs x, y, kw0..kw3):
    identical partial-sketch, merge, and direct arms."""
    from ..sources import derive as _derive
    from .dedup import _hex_to_long_sql

    grid = config.edge >> shift
    m_space = 1 << 40
    kk = int(k)
    arms = " UNION ALL ".join(
        f"SELECT x, y, kw{j} AS kw FROM doc_geo" for j in range(_derive.KW_PER_DOC)
    )
    h = _hex_to_long_sql("md5(kw)", 1, 10)
    est = f"CASE WHEN nd <= {kk} THEN nd ELSE ({(kk - 1) * m_space} // kth) END"
    return f"""km_kwp AS (
  SELECT DISTINCT (x >> {shift}) * {grid} + (y >> {shift}) AS gcell, kw
  FROM ({arms})
), km_hashed AS (
  SELECT gcell, kw, GREATEST({h}, 1) AS h FROM km_kwp
), km_partials AS (
  SELECT h FROM (
    SELECT h, ROW_NUMBER() OVER (PARTITION BY gcell ORDER BY h, kw) AS r
    FROM km_hashed
  ) WHERE r <= {kk}
), km_merged AS (
  SELECT kth, nd FROM (
    SELECT h AS kth, ROW_NUMBER() OVER (ORDER BY h) AS r,
           COUNT(*) OVER () AS nd
    FROM (SELECT DISTINCT h FROM km_partials)
  ) WHERE r = LEAST({kk}, nd)
), km_direct AS (
  SELECT kth, nd FROM (
    SELECT h AS kth, ROW_NUMBER() OVER (ORDER BY h) AS r,
           COUNT(*) OVER () AS nd
    FROM (SELECT DISTINCT h FROM km_hashed)
  ) WHERE r = LEAST({kk}, nd)
)
SELECT CAST({kk} AS INTEGER) AS k,
       CAST(m.nd AS BIGINT) AS n_partial_hashes,
       CAST((SELECT {est} FROM km_merged x(kth, nd)) AS BIGINT) AS merged_estimate,
       CAST((SELECT {est} FROM km_direct x(kth, nd)) AS BIGINT) AS direct_estimate,
       CAST(d.nd AS BIGINT) AS exact_distinct,
       CAST(CASE WHEN (SELECT {est} FROM km_merged x(kth, nd))
                    = (SELECT {est} FROM km_direct x(kth, nd))
            THEN 1 ELSE 0 END AS INTEGER) AS merged_eq_direct
FROM km_merged m, km_direct d"""


def cell_gradient(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """Integer SOBEL gradient over the density raster — ``(gx, gy,
    n_docs, grad_x, grad_y, g2)`` for every nonempty grid cell: the 3x3
    Sobel response of the per-cell count field (absent neighbors count
    0), with ``g2 = grad_x^2 + grad_y^2`` the squared magnitude —
    division- and sqrt-free, so exact-integer and oracle-checkable.  The
    edge-detector companion of :func:`focal_stats` (which smooths):
    ridges of ``g2`` trace density cliffs — coastline-style boundaries of
    the hot regions that :func:`cell_pyramid` and ``hotspot_regions``
    only describe from inside.

    The Sobel x-kernel at relative offset ``(rx, ry)`` is ``rx * (2 -
    |ry|)`` (y mirrored), so a source cell emitting to the target at
    offset ``(dx, dy)`` contributes ``-dx * (2 - |dy|) * n`` to the
    target's ``grad_x`` — one arithmetic form shared by both engines.

    Plan: ONE salted corpus pass into the cell histogram, an 8-way
    native offset explode of the TINY histogram, one histogram-bounded
    re-aggregation, and a left join back to the nonempty cells (isolated
    cells keep zero gradients).  O(cells) after the first pass.  Int64
    bound: ``|grad| <= 4 * max_cell_count``, ``g2 <= 32 *
    max_cell_count^2`` — safe below ~5e8 docs per cell (salt the shift
    coarser long before that)."""
    s = int(shift)
    cells = salted_cell_counts(doc_geo, config, grid_keys(s))
    offs = ", ".join(
        f"named_struct('dx', {dx}L, 'dy', {dy}L)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    )
    contrib = (
        cells.withColumn("o", F.explode(F.expr(f"array({offs})")))
        .select(
            (F.col("gx") + F.col("o.dx")).alias("tgx"),
            (F.col("gy") + F.col("o.dy")).alias("tgy"),
            (-F.col("o.dx") * (2 - F.abs(F.col("o.dy"))) * F.col("n_docs")).alias("cx"),
            (-F.col("o.dy") * (2 - F.abs(F.col("o.dx"))) * F.col("n_docs")).alias("cy"),
        )
    )
    grad = contrib.groupBy("tgx", "tgy").agg(
        F.sum("cx").alias("sgx"), F.sum("cy").alias("sgy")
    )
    return (
        cells.join(
            grad,
            (F.col("gx") == F.col("tgx")) & (F.col("gy") == F.col("tgy")),
            "left",
        )
        .select(
            "gx",
            "gy",
            "n_docs",
            F.coalesce(F.col("sgx"), F.lit(0)).cast("long").alias("grad_x"),
            F.coalesce(F.col("sgy"), F.lit(0)).cast("long").alias("grad_y"),
            (
                F.coalesce(F.col("sgx"), F.lit(0)) * F.coalesce(F.col("sgx"), F.lit(0))
                + F.coalesce(F.col("sgy"), F.lit(0)) * F.coalesce(F.col("sgy"), F.lit(0))
            ).cast("long").alias("g2"),
        )
    )


def cell_gradient_oracle(shift: int = 6) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical histogram,
    8-arm offset contributions with the same ``-d * (2 - |d|)`` kernel
    form, and zero-filled isolated cells."""
    s = int(shift)
    eight = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    )
    return f"""sg_cells AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), sg_contrib AS (
  SELECT c.gx + o.dx AS tgx, c.gy + o.dy AS tgy,
         -o.dx * (2 - ABS(o.dy)) * c.n_docs AS cx,
         -o.dy * (2 - ABS(o.dx)) * c.n_docs AS cy
  FROM sg_cells c, (VALUES {eight}) AS o(dx, dy)
), sg_grad AS (
  SELECT tgx, tgy, CAST(SUM(cx) AS BIGINT) AS sgx, CAST(SUM(cy) AS BIGINT) AS sgy
  FROM sg_contrib GROUP BY tgx, tgy
)
SELECT c.gx, c.gy, c.n_docs,
       CAST(COALESCE(g.sgx, 0) AS BIGINT) AS grad_x,
       CAST(COALESCE(g.sgy, 0) AS BIGINT) AS grad_y,
       CAST(COALESCE(g.sgx, 0) * COALESCE(g.sgx, 0)
            + COALESCE(g.sgy, 0) * COALESCE(g.sgy, 0) AS BIGINT) AS g2
FROM sg_cells c LEFT JOIN sg_grad g ON c.gx = g.tgx AND c.gy = g.tgy"""


# ---------------------------------------------------------------------------
# k-anonymity cell generalization (privacy-preserving publication plan)
# ---------------------------------------------------------------------------


def anon_cells(
    doc_geo: DataFrame, k: int, levels: int = 5, config: EngineConfig = DEFAULT
) -> DataFrame:
    """k-anonymity GENERALIZATION plan over the cell pyramid —
    ``(level, cell, n_pub, region_total)``: every document is published at
    the FINEST pyramid level whose enclosing cell holds at least ``k``
    documents (population-threshold cell generalization, the standard
    release rule for location data: any published region is guaranteed to
    contain >= k individuals, so a row can never be pinned below
    k-anonymity).  Rows that qualify at no level, even the coarsest, are
    SUPPRESSED and reported as the sentinel group ``(-1, -1, n, n)`` —
    emitted unconditionally (0 when nothing is suppressed) so the output
    schema and row-set shape are data-independent.

    ``n_pub`` is how many documents the (level, cell) group publishes;
    ``region_total`` is the region's full population (>= k by
    construction — the guarantee the release relies on; ``n_pub`` itself
    may be smaller because finer-qualifying documents left the group).

    This is the privacy-pipeline counterpart of :func:`cell_pyramid`
    (reference has no privacy surface; the pyramid convention is
    `operators/rollup.py::cell_pyramid`, quad merges of the Hilbert cell
    id).  Plan: everything after the ONE salted corpus scan is
    histogram-sized — the per-level decision is a pure function of the
    base cell (all docs in a base cell share it), so the corpus is never
    re-touched: base histogram -> pyramid union -> level fan-out join
    (histogram x levels rows) -> per-base-cell min-level -> final group.
    At 10^12 docs every frame after the scan is bounded by the fixed grid
    size, not the data."""
    kk = int(k)
    lv = int(levels)
    base = salted_cell_counts(doc_geo, config).localCheckpoint()
    ancestors = (
        f"transform(sequence(0, {lv - 1}), "
        f"l -> named_struct('level', CAST(l AS INT), 'pcell', shiftright(cell, 2 * l)))"
    )
    pyr = (
        base.select(F.explode(F.expr(ancestors)).alias("e"), "n_docs")
        .groupBy(F.col("e.level").alias("level"), F.col("e.pcell").alias("pcell"))
        .agg(F.sum("n_docs").cast("long").alias("total"))
    )
    cand = base.select(
        "cell",
        "n_docs",
        F.explode(F.expr(f"sequence(0, {lv - 1})")).alias("level"),
    ).withColumn("pcell", F.expr("shiftright(cell, 2 * level)"))
    chosen = (
        cand.join(pyr, ["level", "pcell"])
        .filter(F.col("total") >= kk)
        .groupBy("cell", "n_docs")
        .agg(F.min(F.struct("level", "pcell", "total")).alias("ch"))
    )
    published = chosen.groupBy(
        F.col("ch.level").alias("level"), F.col("ch.pcell").alias("cell")
    ).agg(
        F.sum("n_docs").cast("long").alias("n_pub"),
        F.min("ch.total").cast("long").alias("region_total"),
    )
    supp = (
        base.join(chosen.select("cell"), "cell", "anti")
        .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_pub"))
        .select(
            F.lit(-1).cast("int").alias("level"),
            F.lit(-1).cast("long").alias("cell"),
            "n_pub",
            F.col("n_pub").alias("region_total"),
        )
    )
    return published.select(
        F.col("level").cast("int"), F.col("cell").cast("long"), "n_pub", "region_total"
    ).unionByName(supp)


def anon_cells_oracle_select(
    k: int, levels: int = 5, config: EngineConfig = DEFAULT
) -> str:
    """SELECT body over the ``doc_geo``+``hv`` CTE chain (the caller
    supplies the recursive hilbert computation, exactly as the
    cell_pyramid oracle).  Identical pyramid, threshold, min-level rule,
    and unconditional suppression sentinel."""
    kk = int(k)
    lv = int(levels)
    shift = 2 * config.cell_shift
    pyr_arms = " UNION ALL ".join(
        f"SELECT CAST({l} AS INT) AS level, cell >> {2 * l} AS pcell, "
        f"CAST(SUM(n_docs) AS BIGINT) AS total FROM an_base GROUP BY 2"
        for l in range(lv)
    )
    lvl_values = ", ".join(f"({l})" for l in range(lv))
    return f""", an_base AS (
  SELECT hv.hilbert >> {shift} AS cell, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM doc_geo d JOIN hv ON d.x = hv.cx AND d.y = hv.cy GROUP BY 1
), an_pyr AS (
  {pyr_arms}
), an_cand AS (
  SELECT b.cell, b.n_docs, CAST(l.level AS INT) AS level,
         b.cell >> (2 * l.level) AS pcell
  FROM an_base b, (VALUES {lvl_values}) l(level)
), an_chosen AS (
  SELECT c.cell, c.n_docs,
         MIN({{'level': c.level, 'pcell': c.pcell, 'total': p.total}}) AS ch
  FROM an_cand c
  JOIN an_pyr p ON p.level = c.level AND p.pcell = c.pcell
  WHERE p.total >= {kk}
  GROUP BY c.cell, c.n_docs
), an_flat AS (
  SELECT cell, n_docs, CAST(ch['level'] AS INT) AS level,
         CAST(ch['pcell'] AS BIGINT) AS pcell,
         CAST(ch['total'] AS BIGINT) AS total
  FROM an_chosen
)
SELECT level, pcell AS cell, CAST(SUM(n_docs) AS BIGINT) AS n_pub,
       CAST(MIN(total) AS BIGINT) AS region_total
FROM an_flat GROUP BY level, pcell
UNION ALL
SELECT CAST(-1 AS INT), CAST(-1 AS BIGINT),
       CAST(COALESCE(SUM(n_docs), 0) AS BIGINT),
       CAST(COALESCE(SUM(n_docs), 0) AS BIGINT)
FROM an_base WHERE cell NOT IN (SELECT cell FROM an_flat)"""


# ---------------------------------------------------------------------------
# percolation curve — component census as a function of density threshold
# ---------------------------------------------------------------------------


def percolation_curve(
    doc_geo: DataFrame,
    thresholds: list,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """PERCOLATION analysis of the corpus density raster — ``(threshold,
    n_cells, n_regions, max_region_cells)``: for every density threshold,
    how many grid cells clear it, how many 4-connected regions they form,
    and how large the biggest region is.  Sweeping the threshold traces
    the full connectivity transition ("at which density does the hot core
    connect up?") — the raster form of the percolation census (Newman &
    Ziff, Phys. Rev. Lett. 85:4104, 2000), and the sweep companion to the
    single-threshold :func:`hotspot_regions`.

    Physical plan: ONE salted corpus scan builds the histogram; the whole
    multi-threshold census then runs as ONE Arrow grouped-map task over
    the grid-bounded histogram using the Newman–Ziff incremental trick —
    cells enter in DESCENDING density order, union-find merges them with
    already-active rook neighbors while component count and max size
    update incrementally, and each requested threshold reads its stats
    the moment its last cell has entered.  All thresholds cost ONE pass
    over the (≤ M^2)-cell raster, not one component labeling each; the
    corpus never touches Python.

    Reference parity: no counterpart (the reference renders single tile
    windows, `Experiment/TestByUserInput/BRQComparisonInput.java:13-23`);
    this is corpus-density structure analysis over the engine's own cell
    grid."""
    m = config.edge >> shift
    ts = sorted({int(t) for t in thresholds})
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))
    # one sentinel row (gx = -1, dropped by the kernel) keeps the single
    # group alive on an empty raster, so every threshold still gets its row
    sentinel = hist.sparkSession.range(1).select(
        *[F.lit(-1).cast(f.dataType).alias(f.name) for f in hist.schema.fields]
    )

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf[pdf["gx"] >= 0]
        _, _, _, nd, nbrs = _rook_grid(pdf["gx"], pdf["gy"], pdf["n_docs"], m)
        n = len(nd)
        uf = _UnionFind(n)
        active = np.zeros(n, dtype=bool)
        comp = biggest = 0
        by_density = np.argsort(-nd, kind="stable")
        rows = []
        ptr = 0
        for t in sorted(ts, reverse=True):
            while ptr < n and nd[by_density[ptr]] >= t:
                i = by_density[ptr]
                active[i] = True
                comp += 1
                biggest = max(biggest, 1)
                for j in nbrs[i]:
                    r = uf.union(i, j) if j >= 0 and active[j] else -1
                    if r >= 0:
                        comp -= 1
                        biggest = max(biggest, int(uf.size[r]))
                ptr += 1
            rows.append((t, ptr, comp, biggest))
        out = pd.DataFrame(
            rows, columns=["threshold", "n_cells", "n_regions", "max_region_cells"]
        )
        return out.astype("int64")

    return hist.unionByName(sentinel).groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "threshold long, n_cells long, n_regions long, max_region_cells long"
    )


def percolation_curve_oracle(
    thresholds: list, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a ``WITH RECURSIVE`` CTE chain defining ``doc_geo``:
    identical histogram, then per literal threshold an INDEPENDENT
    recursive min-label closure over the dense subset (the straightforward
    one-labeling-per-threshold formulation the one-pass Newman–Ziff sweep
    must equal), aggregated to the same census columns."""
    m = config.edge >> shift
    s = int(shift)
    ts = sorted({int(t) for t in thresholds})
    blocks, selects = [], []
    for i, t in enumerate(ts):
        blocks.append(
            f"""pc_dense_{i} AS (
  SELECT gx, gy, CAST(gx * {m} + gy AS BIGINT) AS k
  FROM pc_hist WHERE n_docs >= {t}
), pc_pairs_{i} AS (
  SELECT a.k AS u, b.k AS v FROM pc_dense_{i} a JOIN pc_dense_{i} b
  ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
), pc_edges_{i} AS (
  SELECT u, v FROM pc_pairs_{i} UNION SELECT v, u FROM pc_pairs_{i}
), pc_cc_{i}(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM pc_edges_{i})
  UNION
  SELECT e.v, c.label FROM pc_cc_{i} c JOIN pc_edges_{i} e ON e.u = c.node
), pc_lab_{i} AS (
  SELECT d.k, COALESCE(l.rep, d.k) AS region
  FROM pc_dense_{i} d LEFT JOIN
    (SELECT node, MIN(label) AS rep FROM pc_cc_{i} GROUP BY node) l
    ON l.node = d.k
), pc_sz_{i} AS (
  SELECT region, COUNT(*) AS sz FROM pc_lab_{i} GROUP BY region
)"""
        )
        selects.append(
            f"""SELECT CAST({t} AS BIGINT) AS threshold,
       CAST((SELECT COUNT(*) FROM pc_lab_{i}) AS BIGINT) AS n_cells,
       CAST((SELECT COUNT(*) FROM pc_sz_{i}) AS BIGINT) AS n_regions,
       CAST((SELECT COALESCE(MAX(sz), 0) FROM pc_sz_{i}) AS BIGINT)
         AS max_region_cells"""
        )
    body = ", ".join(blocks)
    union = "\nUNION ALL\n".join(selects)
    return f"""pc_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs
  FROM doc_geo GROUP BY 1, 2
), {body}
{union}"""


# ---------------------------------------------------------------------------
# watershed basins — steepest-ascent drainage labeling of the density raster
# ---------------------------------------------------------------------------


def watershed_basins(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """WATERSHED decomposition of the corpus density raster — ``(basin,
    n_cells, n_docs, peak_docs)``: every occupied grid cell drains along
    its steepest-ASCENT pointer (the rook neighbor with strictly greater
    density; ties toward the smaller flat key; local maxima point at
    themselves), and a basin is the set of cells draining to the same
    peak, labeled by the peak's flat key ``gx*M + gy``.  The hill-climbing
    dual of :func:`hotspot_regions`: regions say which dense cells touch,
    basins say which PEAK each cell belongs to — the classic GIS
    watershed / catchment operator transplanted onto the density surface.

    Physical plan: ONE salted corpus scan builds the histogram; pointer
    assignment and root-finding run as ONE Arrow grouped-map task over
    the grid-bounded histogram — :func:`_steepest_ascent` picks each
    cell's pointer vectorized over the shared :func:`_rook_grid` neighbour
    table, then pointer-jumping
    (``parent = parent[parent]``) converges in O(log chain) fully
    vectorized rounds (the forest is acyclic because density strictly
    increases along every pointer).  Aggregation back to basin rows is
    numpy group-by inside the same batch; the corpus never touches
    Python."""
    m = config.edge >> shift
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))

    def fn(pdf):
        import numpy as np
        import pandas as pd

        key, _, _, nd, nbrs = _rook_grid(pdf["gx"], pdf["gy"], pdf["n_docs"], m)
        parent = _steepest_ascent(key, nd, nbrs)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        basin = key[parent]
        df = pd.DataFrame(
            {"basin": basin, "cells": 1, "docs": nd, "peak": nd[parent]}
        )
        out = (
            df.groupby("basin", sort=True)
            .agg(n_cells=("cells", "sum"), n_docs=("docs", "sum"),
                 peak_docs=("peak", "max"))
            .reset_index()
        )
        return out.astype("int64")

    return hist.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "basin long, n_cells long, n_docs long, peak_docs long"
    )


def watershed_basins_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a ``WITH RECURSIVE`` CTE chain defining ``doc_geo``:
    identical histogram, the same steepest-ascent pointer (strictly denser
    rook neighbor, ties to the smaller flat key, peaks self-pointing) via
    a ranked neighbor join, then a recursive pointer walk to the root and
    the same basin aggregation."""
    m = config.edge >> shift
    s = int(shift)
    return f"""ws_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs,
         CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS k
  FROM doc_geo GROUP BY 1, 2
), ws_nbr AS (
  SELECT a.k, b.k AS nk, b.n_docs AS nnd,
         ROW_NUMBER() OVER (PARTITION BY a.k
                            ORDER BY b.n_docs DESC, b.k) AS rn
  FROM ws_hist a JOIN ws_hist b
  ON (ABS(b.gx - a.gx) + ABS(b.gy - a.gy)) = 1
  WHERE b.n_docs > a.n_docs
), ws_ptr AS (
  SELECT h.k, COALESCE(nb.nk, h.k) AS ptr
  FROM ws_hist h LEFT JOIN (SELECT k, nk FROM ws_nbr WHERE rn = 1) nb
  ON nb.k = h.k
), ws_walk(k, cur) AS (
  SELECT k, ptr FROM ws_ptr
  UNION
  SELECT w.k, p.ptr FROM ws_walk w JOIN ws_ptr p ON p.k = w.cur
  WHERE p.ptr <> w.cur
), ws_root AS (
  SELECT w.k, w.cur AS basin FROM ws_walk w
  JOIN ws_ptr p ON p.k = w.cur AND p.ptr = w.cur
)
SELECT r.basin, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(h.n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(pk.n_docs) AS BIGINT) AS peak_docs
FROM ws_root r
JOIN ws_hist h ON h.k = r.k
JOIN ws_hist pk ON pk.k = r.basin
GROUP BY r.basin"""


def flow_accumulation(
    doc_geo: DataFrame, shift: int = 6, config: EngineConfig = DEFAULT
) -> DataFrame:
    """FLOW ACCUMULATION over the density raster — ``(cell, n_docs,
    acc_docs)``: every occupied cell forwards its mass along the SAME
    steepest-ascent pointer as :func:`watershed_basins` (strictly denser
    rook neighbor, ties to the smaller flat key, peaks self-pointing), and
    ``acc_docs`` is the total document mass of the cell's entire upstream
    subtree (itself included) — i.e. how much corpus "drains through" the
    cell on the way to its peak.  Watershed labels WHERE a cell drains;
    accumulation says HOW MUCH passes through — together they are the
    classic D4 hydrology pair (O'Callaghan & Mark, CVGIP 1984)
    transplanted onto the density surface.

    Physical plan: ONE salted corpus scan builds the histogram (identical
    to watershed); pointers + subtree sums run in ONE Arrow grouped-map
    task over the grid-bounded histogram — children are accumulated before
    parents by processing cells in increasing density order (every pointer
    strictly increases density, so density order IS a topological order of
    the drainage forest).  The corpus never touches Python; the Python
    loop is bounded by the ``M^2`` grid, never the corpus.

    Reference parity: the reference's per-window tile matrices
    (`Experiment/TestByUserInput/BRQComparisonInput.java:13-23`) have no
    surface analysis; this extends the engine's own raster family."""
    m = config.edge >> shift
    hist = salted_cell_counts(doc_geo, config, grid_keys(shift))

    def fn(pdf):
        import numpy as np
        import pandas as pd

        key, _, _, nd, nbrs = _rook_grid(pdf["gx"], pdf["gy"], pdf["n_docs"], m)
        best = _steepest_ascent(key, nd, nbrs)
        acc = nd.copy()
        # children before parents: pointers strictly increase density, so
        # ascending-density order is a topological order of the forest
        for i in np.argsort(nd, kind="stable"):
            p = best[i]
            if p != i:
                acc[p] += acc[i]
        return pd.DataFrame({"cell": key, "n_docs": nd, "acc_docs": acc})

    return hist.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "cell long, n_docs long, acc_docs long"
    )


def flow_accumulation_oracle(shift: int = 6, config: EngineConfig = DEFAULT) -> str:
    """Appends to a ``WITH RECURSIVE`` chain defining ``doc_geo``: the
    watershed pointer CTEs verbatim, then the path closure INCLUDING the
    start cell and a mass sum grouped by every on-path node."""
    m = config.edge >> shift
    s = int(shift)
    return f"""fa_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs,
         CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS k
  FROM doc_geo GROUP BY 1, 2
), fa_nbr AS (
  SELECT a.k, b.k AS nk,
         ROW_NUMBER() OVER (PARTITION BY a.k
                            ORDER BY b.n_docs DESC, b.k) AS rn
  FROM fa_hist a JOIN fa_hist b
  ON (ABS(b.gx - a.gx) + ABS(b.gy - a.gy)) = 1
  WHERE b.n_docs > a.n_docs
), fa_ptr AS (
  SELECT h.k, COALESCE(nb.nk, h.k) AS ptr
  FROM fa_hist h LEFT JOIN (SELECT k, nk FROM fa_nbr WHERE rn = 1) nb
  ON nb.k = h.k
), fa_walk(k, cur) AS (
  SELECT k, k FROM fa_hist
  UNION
  SELECT w.k, p.ptr FROM fa_walk w JOIN fa_ptr p ON p.k = w.cur
  WHERE p.ptr <> w.cur
)
SELECT h.k AS cell, CAST(h.n_docs AS BIGINT) AS n_docs,
       CAST(SUM(src.n_docs) AS BIGINT) AS acc_docs
FROM fa_walk w
JOIN fa_hist src ON src.k = w.k
JOIN fa_hist h ON h.k = w.cur
GROUP BY h.k, h.n_docs"""


def visibility_pairs(
    doc_geo: DataFrame,
    min_peak: int = 40,
    block_min: int = 40,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Line-of-sight between density peaks — ``(peak_a, peak_b,
    n_blockers, visible)``: peaks are the local maxima of the density
    raster (no strictly denser rook neighbor — exactly the self-pointing
    cells of :func:`watershed_basins`) with ``n_docs >= min_peak``; the
    sight line between two peak-cell CENTERS is blocked by every cell of
    density ``>= block_min`` (other than the two endpoint cells) whose
    closed cell box intersects the closed segment.  The viewshed/LOS
    primitive of terrain GIS on the density surface, exact by
    construction: segment-box intersection is the integer separating-axis
    test (bbox overlap AND the four box corners not strictly one-sided of
    the line; |cross| < 2^25 on the 2^12 lattice).

    Physical plan: ONE salted corpus scan → grid histogram; peaks via a
    rook-neighbor anti-join on the ≤M^2 histogram; peak pairs (tiny,
    broadcast) cross the ≤M^2 blocker set with the codegen SAT predicate
    and aggregate blocker counts — every post-scan frame is bounded by
    the grid, never the corpus."""
    s = int(shift)
    m = config.edge >> s
    half = 1 << (s - 1)
    hist = (
        salted_cell_counts(doc_geo, config, grid_keys(s))
        .withColumn("k", (F.col("gx") * m + F.col("gy")).cast("long"))
    )
    # peaks = occupied cells with NO strictly denser rook neighbor: a
    # 4-offset explode + equi-join on the neighbor key (never a non-equi
    # join), then an anti-join of the histogram against the non-peak set
    off = F.expr(
        "array(struct(1 AS dx, 0 AS dy), struct(-1 AS dx, 0 AS dy), "
        "struct(0 AS dx, 1 AS dy), struct(0 AS dx, -1 AS dy))"
    )
    probes = hist.select(
        "k", "n_docs", F.explode(off).alias("o"), "gx", "gy"
    ).select(
        "k",
        "n_docs",
        ((F.col("gx") + F.col("o.dx")) * m + F.col("gy") + F.col("o.dy")).alias(
            "nk"
        ),
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    ).filter(
        (F.col("ngx") >= 0) & (F.col("ngx") < m) & (F.col("ngy") >= 0) & (F.col("ngy") < m)
    )
    nbr = hist.select(F.col("k").alias("nk"), F.col("n_docs").alias("nnd"))
    non_peak = (
        probes.join(F.broadcast(nbr), "nk")
        .filter(F.col("nnd") > F.col("n_docs"))
        .select(F.col("k").alias("dk"))
        .distinct()
    )
    peaks = (
        hist.join(F.broadcast(non_peak), F.col("k") == F.col("dk"), "left_anti")
        .filter(F.col("n_docs") >= int(min_peak))
        .select(
            F.col("k"),
            (F.col("gx") * (1 << s) + half).alias("cx"),
            (F.col("gy") * (1 << s) + half).alias("cy"),
        )
    )
    pa = peaks.select(
        F.col("k").alias("peak_a"), F.col("cx").alias("ax"), F.col("cy").alias("ay")
    )
    pb = peaks.select(
        F.col("k").alias("peak_b"), F.col("cx").alias("bx"), F.col("cy").alias("by")
    )
    pairs = pa.join(pb, F.col("peak_a") < F.col("peak_b"))
    blockers = hist.filter(F.col("n_docs") >= int(block_min)).select(
        F.col("k").alias("ck"),
        (F.col("gx") * (1 << s)).alias("x0"),
        ((F.col("gx") + 1) * (1 << s) - 1).alias("x1"),
        (F.col("gy") * (1 << s)).alias("y0"),
        ((F.col("gy") + 1) * (1 << s) - 1).alias("y1"),
    )
    j = pairs.crossJoin(F.broadcast(blockers)).filter(
        (F.col("ck") != F.col("peak_a")) & (F.col("ck") != F.col("peak_b"))
    )
    # NB: pairs whose candidate set is empty (all blockers are the two
    # endpoints, or no cell reaches block_min) would vanish from the
    # aggregation — the left join below restores them with n_blockers = 0
    # SAT: bbox overlap on both axes, then corners not strictly one-sided
    bbox = (
        (F.least("ax", "bx") <= F.col("x1"))
        & (F.greatest("ax", "bx") >= F.col("x0"))
        & (F.least("ay", "by") <= F.col("y1"))
        & (F.greatest("ay", "by") >= F.col("y0"))
    )
    def side(px, py):
        return (F.col("bx") - F.col("ax")) * (py - F.col("ay")) - (
            F.col("by") - F.col("ay")
        ) * (px - F.col("ax"))

    s1 = side(F.col("x0"), F.col("y0"))
    s2 = side(F.col("x1"), F.col("y0"))
    s3 = side(F.col("x0"), F.col("y1"))
    s4 = side(F.col("x1"), F.col("y1"))
    straddle = (F.least(s1, s2, s3, s4) <= 0) & (F.greatest(s1, s2, s3, s4) >= 0)
    hit = (bbox & straddle).cast("long")
    cnt = j.groupBy("peak_a", "peak_b").agg(F.sum(hit).alias("nb"))
    return (
        pairs.select("peak_a", "peak_b")
        .join(F.broadcast(cnt), ["peak_a", "peak_b"], "left")
        .select(
            "peak_a",
            "peak_b",
            F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_blockers"),
        )
        .withColumn(
            "visible", (F.col("n_blockers") == 0).cast("long")
        )
    )


def visibility_pairs_oracle(
    min_peak: int = 40,
    block_min: int = 40,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> str:
    """Appends to a chain defining ``doc_geo``: identical histogram, peak
    anti-join, and SAT predicate."""
    m = config.edge >> int(shift)
    s = int(shift)
    half = 1 << (s - 1)
    side = (
        "((p.bx - p.ax) * ({py} - p.ay) - (p.by - p.ay) * ({px} - p.ax))"
    )
    s1 = side.format(px="c.x0", py="c.y0")
    s2 = side.format(px="c.x1", py="c.y0")
    s3 = side.format(px="c.x0", py="c.y1")
    s4 = side.format(px="c.x1", py="c.y1")
    return f"""vis_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs,
         CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS k
  FROM doc_geo GROUP BY 1, 2
), vis_peaks AS (
  SELECT k, gx * {1 << s} + {half} AS cx, gy * {1 << s} + {half} AS cy
  FROM vis_hist a
  WHERE n_docs >= {int(min_peak)} AND NOT EXISTS (
    SELECT 1 FROM vis_hist b
    WHERE (ABS(b.gx - a.gx) + ABS(b.gy - a.gy)) = 1 AND b.n_docs > a.n_docs
  )
), vis_pairs AS (
  SELECT a.k AS peak_a, a.cx AS ax, a.cy AS ay,
         b.k AS peak_b, b.cx AS bx, b.cy AS by
  FROM vis_peaks a JOIN vis_peaks b ON a.k < b.k
), vis_block AS (
  SELECT k AS ck, gx * {1 << s} AS x0, (gx + 1) * {1 << s} - 1 AS x1,
         gy * {1 << s} AS y0, (gy + 1) * {1 << s} - 1 AS y1
  FROM vis_hist WHERE n_docs >= {int(block_min)}
), vis_cnt AS (
  SELECT p.peak_a, p.peak_b,
         CAST(SUM(CASE WHEN LEAST(p.ax, p.bx) <= c.x1 AND GREATEST(p.ax, p.bx) >= c.x0
                        AND LEAST(p.ay, p.by) <= c.y1 AND GREATEST(p.ay, p.by) >= c.y0
                        AND LEAST({s1}, {s2}, {s3}, {s4}) <= 0
                        AND GREATEST({s1}, {s2}, {s3}, {s4}) >= 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_blockers
  FROM vis_pairs p CROSS JOIN vis_block c
  WHERE c.ck <> p.peak_a AND c.ck <> p.peak_b
  GROUP BY p.peak_a, p.peak_b
)
SELECT p.peak_a, p.peak_b,
       CAST(COALESCE(c.n_blockers, 0) AS BIGINT) AS n_blockers,
       CAST(CASE WHEN COALESCE(c.n_blockers, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS visible
FROM vis_pairs p LEFT JOIN vis_cnt c
  ON c.peak_a = p.peak_a AND c.peak_b = p.peak_b"""


def voronoi_zones(
    doc_geo: DataFrame,
    min_peak: int = 14,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Voronoi tessellation of the raster around the density PEAKS —
    ``(peak, n_cells, n_docs)``: every occupied cell is assigned to the
    nearest peak by exact integer center-to-center ``dist2`` (ties to the
    smaller peak key), then zone size and document mass aggregate per
    peak.  The geometric dual of :func:`watershed_basins`: watershed
    assigns cells by steepest ASCENT (follows the density surface),
    Voronoi by pure DISTANCE — comparing the two zonations is the
    standard way to see where density structure deviates from geometry.
    Peaks are the same local maxima as :func:`visibility_pairs`
    (no strictly denser rook neighbor, ``n_docs >= min_peak``).

    Physical plan: ONE salted corpus scan → grid histogram; the peak set
    (tiny) broadcasts into a cells x peaks codegen argmin (``min_by`` over
    the joined frame via a (dist2, peak) struct MIN — deterministic
    because the struct orders by dist2 then peak key), then one hash
    aggregation.  Everything after the scan is bounded by the M^2 grid.
    Degenerate case: no cell reaches ``min_peak`` -> empty result."""
    s = int(shift)
    m = config.edge >> s
    half = 1 << (s - 1)
    hist = (
        salted_cell_counts(doc_geo, config, grid_keys(s))
        .withColumn("k", (F.col("gx") * m + F.col("gy")).cast("long"))
    )
    off = F.expr(
        "array(struct(1 AS dx, 0 AS dy), struct(-1 AS dx, 0 AS dy), "
        "struct(0 AS dx, 1 AS dy), struct(0 AS dx, -1 AS dy))"
    )
    probes = hist.select(
        "k", "n_docs", F.explode(off).alias("o"), "gx", "gy"
    ).select(
        "k",
        "n_docs",
        ((F.col("gx") + F.col("o.dx")) * m + F.col("gy") + F.col("o.dy")).alias("nk"),
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    ).filter(
        (F.col("ngx") >= 0) & (F.col("ngx") < m)
        & (F.col("ngy") >= 0) & (F.col("ngy") < m)
    )
    nbr = hist.select(F.col("k").alias("nk"), F.col("n_docs").alias("nnd"))
    non_peak = (
        probes.join(F.broadcast(nbr), "nk")
        .filter(F.col("nnd") > F.col("n_docs"))
        .select(F.col("k").alias("dk"))
        .distinct()
    )
    peaks = (
        hist.join(F.broadcast(non_peak), F.col("k") == F.col("dk"), "left_anti")
        .filter(F.col("n_docs") >= int(min_peak))
        .select(
            F.col("k").alias("pk"),
            (F.col("gx") * (1 << s) + half).alias("pcx"),
            (F.col("gy") * (1 << s) + half).alias("pcy"),
        )
    )
    cells = hist.select(
        "k",
        "n_docs",
        (F.col("gx") * (1 << s) + half).alias("ccx"),
        (F.col("gy") * (1 << s) + half).alias("ccy"),
    )
    d2 = (F.col("ccx") - F.col("pcx")) * (F.col("ccx") - F.col("pcx")) + (
        F.col("ccy") - F.col("pcy")
    ) * (F.col("ccy") - F.col("pcy"))
    assigned = (
        cells.crossJoin(F.broadcast(peaks))
        .groupBy("k", "n_docs")
        .agg(F.min(F.struct(d2.alias("d2"), F.col("pk"))).alias("best"))
        .select("k", "n_docs", F.col("best.pk").alias("peak"))
    )
    return assigned.groupBy("peak").agg(
        F.count("*").alias("n_cells"),
        F.sum("n_docs").alias("n_docs"),
    )


def voronoi_zones_oracle(
    min_peak: int = 14, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a chain defining ``doc_geo``: identical histogram, peak
    anti-join, and (dist2, peak) argmin via a ranked window."""
    m = config.edge >> int(shift)
    s = int(shift)
    half = 1 << (s - 1)
    d2 = (
        "(c.ccx - p.pcx) * (c.ccx - p.pcx) + (c.ccy - p.pcy) * (c.ccy - p.pcy)"
    )
    return f"""vz_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs,
         CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS k
  FROM doc_geo GROUP BY 1, 2
), vz_peaks AS (
  SELECT k AS pk, gx * {1 << s} + {half} AS pcx, gy * {1 << s} + {half} AS pcy
  FROM vz_hist a
  WHERE n_docs >= {int(min_peak)} AND NOT EXISTS (
    SELECT 1 FROM vz_hist b
    WHERE (ABS(b.gx - a.gx) + ABS(b.gy - a.gy)) = 1 AND b.n_docs > a.n_docs
  )
), vz_cells AS (
  SELECT k, n_docs, gx * {1 << s} + {half} AS ccx, gy * {1 << s} + {half} AS ccy
  FROM vz_hist
), vz_rank AS (
  SELECT c.k, c.n_docs, p.pk,
         ROW_NUMBER() OVER (PARTITION BY c.k ORDER BY {d2}, p.pk) AS rn
  FROM vz_cells c CROSS JOIN vz_peaks p
)
SELECT pk AS peak, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs
FROM vz_rank WHERE rn = 1 GROUP BY pk"""


def density_decay_fit(
    doc_geo: DataFrame,
    bucket_shift: int = 16,
    n_buckets: int = 24,
    scale: int = 1000000,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Radial density-decay regression per generator cluster — ``(cluster,
    n_buckets, slope_scaled, icept_scaled)``: every document is assigned to
    the nearest of the three known generator centers (the corpus is a
    3-gaussian mixture, `SpatialDataProcessor/StaticData/DataSetAccess.java:149-162`;
    ties to the smaller cluster id), its squared distance to that center is
    bucketed (``dist2 >> bucket_shift``, capped at ``n_buckets - 1``), and
    an exact-integer ordinary least squares line is fit to
    (bucket index, docs-in-bucket) per cluster:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    reported as ``FLOOR(scale * num / den)`` — pure integer arithmetic, so
    the oracle reproduces the fit bit-for-bit (spatial regression with NO
    floats: overflow audit — counts < 2^24, x < 2^5, n ≤ 2^5 keeps every
    product far inside int64).  Empty buckets COUNT AS ZERO (the bucket
    frame is the dense 0..n_buckets-1 range), so the fit is over a fixed
    design matrix and the denominator is a nonzero constant per cluster.

    Physical plan: one codegen projection assigns cluster + bucket, ONE
    hash aggregation (map-side combine) produces ≤ 3·n_buckets rows, the
    dense bucket frame is a tiny generated cross join, and the OLS sums
    are a second 3-row aggregation."""
    e = config.edge
    centers = [(0, e // 4, e // 4), (1, 3 * e // 4, 3 * e // 4), (2, e // 2, e // 2)]
    d2s = [
        ((F.col("x") - cx) * (F.col("x") - cx) + (F.col("y") - cy) * (F.col("y") - cy)).alias(
            f"d{i}"
        )
        for i, cx, cy in centers
    ]
    tagged = doc_geo.select(*d2s).select(
        F.expr(
            "CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0 "
            "WHEN d1 <= d2 THEN 1 ELSE 2 END"
        ).alias("cluster"),
        F.expr(
            "CASE WHEN d0 <= d1 AND d0 <= d2 THEN d0 "
            "WHEN d1 <= d2 THEN d1 ELSE d2 END"
        ).alias("d2"),
    )
    nb = int(n_buckets)
    counts = (
        tagged.withColumn(
            "b",
            F.least(F.shiftright("d2", int(bucket_shift)), F.lit(nb - 1)).cast("long"),
        )
        .groupBy("cluster", "b")
        .agg(F.count("*").alias("y"))
    )
    spark = doc_geo.sparkSession
    dense = (
        spark.range(3)
        .select(F.col("id").cast("int").alias("cluster"))
        .crossJoin(spark.range(nb).select(F.col("id").alias("b")))
    )
    full = dense.join(counts, ["cluster", "b"], "left").select(
        "cluster", "b", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    agg = full.groupBy("cluster").agg(
        F.count("*").alias("n"),
        F.sum("b").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("b") * F.col("y")).alias("sxy"),
        F.sum(F.col("b") * F.col("b")).alias("sxx"),
    )
    sc = int(scale)
    return agg.select(
        "cluster",
        F.col("n").alias("n_buckets"),
        F.expr(
            f"CAST(FLOOR({sc} * CAST(n * sxy - sx * sy AS DOUBLE) / "
            f"CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("slope_scaled"),
        F.expr(
            f"CAST(FLOOR({sc} * CAST(sy * sxx - sx * sxy AS DOUBLE) / "
            f"CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("icept_scaled"),
    )


def density_decay_fit_oracle(
    bucket_shift: int = 16,
    n_buckets: int = 24,
    scale: int = 1000000,
    config: EngineConfig = DEFAULT,
) -> str:
    """Appends to a chain defining ``doc_geo``: identical cluster argmin,
    bucketing, dense-bucket zero fill, and integer OLS sums.  The final
    FLOOR division runs in DOUBLE in BOTH engines over integer-valued
    operands well inside 2^53 — exact."""
    e = config.edge
    cs = [(0, e // 4, e // 4), (1, 3 * e // 4, 3 * e // 4), (2, e // 2, e // 2)]
    d = {
        i: f"((x - {cx}) * (x - {cx}) + (y - {cy}) * (y - {cy}))" for i, cx, cy in cs
    }
    sc = int(scale)
    nb = int(n_buckets)
    return f"""dd_tag AS (
  SELECT CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN 0
              WHEN {d[1]} <= {d[2]} THEN 1 ELSE 2 END AS cluster,
         CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} THEN {d[0]}
              WHEN {d[1]} <= {d[2]} THEN {d[1]} ELSE {d[2]} END AS d2
  FROM doc_geo
), dd_cnt AS (
  SELECT cluster, LEAST(d2 >> {int(bucket_shift)}, {nb - 1}) AS b,
         COUNT(*) AS y
  FROM dd_tag GROUP BY 1, 2
), dd_dense AS (
  SELECT c.cluster, b.b, COALESCE(n.y, 0) AS y
  FROM (SELECT unnest(range(0, 3)) AS cluster) c
  CROSS JOIN (SELECT unnest(range(0, {nb})) AS b) b
  LEFT JOIN dd_cnt n ON n.cluster = c.cluster AND n.b = b.b
), dd_agg AS (
  SELECT cluster, COUNT(*) AS n, SUM(b) AS sx, SUM(y) AS sy,
         SUM(b * y) AS sxy, SUM(b * b) AS sxx
  FROM dd_dense GROUP BY cluster
)
SELECT CAST(cluster AS INT) AS cluster, CAST(n AS BIGINT) AS n_buckets,
       CAST(FLOOR({sc} * CAST(n * sxy - sx * sy AS DOUBLE) /
                  CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS slope_scaled,
       CAST(FLOOR({sc} * CAST(sy * sxx - sx * sxy AS DOUBLE) /
                  CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) AS icept_scaled
FROM dd_agg"""


_LBP_OFFSETS = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]


def lbp_census(
    doc_geo: DataFrame,
    min_docs: int = 1,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Local-binary-pattern texture census of the occupancy raster —
    ``(code, n_cells)``: every occupied cell (``n_docs >= min_docs``) gets
    an 8-bit neighborhood code (bit ``i`` set iff the ``i``-th 8-neighbor,
    in the fixed order E,NE,N,NW,W,SW,S,SE, is also occupied), and the
    census counts cells per code.  LBP (Ojala et al., PAMI 2002) is the
    standard texture descriptor; over the corpus occupancy grid it
    summarizes the SHAPE of the settled area (interior cells ≈ 255, edges
    and filaments get characteristic codes, isolated cells 0).

    Physical plan: ONE salted corpus scan → occupancy set (≤ M^2 rows);
    each occupied cell contributes its presence to its 8 neighbors through
    one offset explode + equi-join on the (gx, gy) pair; a ``bit_or`` hash
    agg folds codes and a LEFT join restores isolated cells as code 0;
    the census is a 256-row aggregate.  All post-scan frames grid-bounded."""
    s = int(shift)
    m = config.edge >> s
    occ = (
        salted_cell_counts(doc_geo, config, grid_keys(s))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("gx", "gy")
    )
    offs = ", ".join(
        f"struct({dx} AS dx, {dy} AS dy, {i} AS i)"
        for i, (dx, dy) in enumerate(_LBP_OFFSETS)
    )
    # every occupied cell asserts bit i at the neighbor OPPOSITE offset i:
    # center c sees neighbor c + off_i  <=>  occupied n contributes bit i
    # to center n - off_i
    contrib = occ.select(
        "gx", "gy", F.explode(F.expr(f"array({offs})")).alias("o")
    ).select(
        (F.col("gx") - F.col("o.dx")).alias("cgx"),
        (F.col("gy") - F.col("o.dy")).alias("cgy"),
        F.expr("shiftleft(CAST(1 AS BIGINT), o.i)").alias("m"),
    ).filter(
        (F.col("cgx") >= 0) & (F.col("cgx") < m)
        & (F.col("cgy") >= 0) & (F.col("cgy") < m)
    )
    codes = (
        occ.join(
            contrib.groupBy("cgx", "cgy").agg(F.expr("bit_or(m)").alias("code")),
            (F.col("gx") == F.col("cgx")) & (F.col("gy") == F.col("cgy")),
            "left",
        )
        .select(F.coalesce(F.col("code"), F.lit(0)).alias("code"))
    )
    return codes.groupBy("code").agg(F.count("*").alias("n_cells"))


def lbp_census_oracle(
    min_docs: int = 1, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a chain defining ``doc_geo``: identical occupancy set,
    offset contributions, bit_or fold, and left-join zero restore."""
    m = config.edge >> int(shift)
    s = int(shift)
    offs = ", ".join(
        f"({dx}, {dy}, {i})" for i, (dx, dy) in enumerate(_LBP_OFFSETS)
    )
    return f"""lbp_occ AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy
  FROM doc_geo GROUP BY 1, 2 HAVING COUNT(*) >= {int(min_docs)}
), lbp_contrib AS (
  SELECT o.gx - v.dx AS cgx, o.gy - v.dy AS cgy,
         BIT_OR(CAST(1 AS BIGINT) << v.i) AS code
  FROM lbp_occ o, (VALUES {offs}) v(dx, dy, i)
  WHERE o.gx - v.dx >= 0 AND o.gx - v.dx < {m}
    AND o.gy - v.dy >= 0 AND o.gy - v.dy < {m}
  GROUP BY 1, 2
)
SELECT CAST(COALESCE(c.code, 0) AS BIGINT) AS code,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM lbp_occ o LEFT JOIN lbp_contrib c ON c.cgx = o.gx AND c.cgy = o.gy
GROUP BY COALESCE(c.code, 0)"""


def peak_paths(
    doc_geo: DataFrame,
    min_peak: int = 14,
    budget: int = 48,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Least-cost PATH EXTRACTION over the density surface — ``(peak,
    step, gx, gy, cost)``: from the global maximum peak (highest
    ``n_docs``, ties to the smaller flat key) to every other density peak
    reachable within ``budget``, the cheapest 4-connected route through
    occupied territory, using :func:`cell_cost_distance`'s exact traversal
    weights (``w = 1 + LEAST(3, n_docs DIV 8)`` per ENTERED cell).  Rows
    enumerate each path from the target peak (``step`` 0) back to the
    source; ``cost`` is the path's total.  This is the corridor-planning
    step after the cost surface: cost_distance says how far everything is,
    peak_paths materializes the actual routes between the summits.

    Determinism: the parent of a cell is derived from the FINAL cost
    surface (the rook neighbor whose cost equals ``cost(c) - w(c)``, ties
    to the smaller flat key), so the decoded route is a pure function of
    the data; the oracle rebuilds the same surface with the recursive
    closure and walks the same parent rule.

    Physical plan: ONE salted corpus scan -> grid histogram; relaxation,
    parent derivation, and all walks run in ONE Arrow grouped-map task
    over the grid-bounded frame (paths are <= budget steps; peaks are a
    handful) — the isochrone/cost-distance pattern with a backtrack."""
    s = int(shift)
    m = config.edge >> s
    b = int(budget)
    mp = int(min_peak)
    hist = salted_cell_counts(doc_geo, config, grid_keys(s))

    def fn(pdf):
        import numpy as np
        import pandas as pd

        key, gx, gy, nd, nbrs = _rook_grid(pdf["gx"], pdf["gy"], pdf["n_docs"], m)
        n = len(key)
        w = 1 + np.minimum(3, nd // 8)
        # peaks: no STRICTLY denser rook neighbor (ties do not disqualify),
        # n_docs >= min_peak
        denser = np.where(nbrs >= 0, nd[np.clip(nbrs, 0, n - 1)] > nd[:, None], False)
        is_peak = (nd >= mp) & ~denser.any(axis=1)
        if not is_peak.any():
            return pd.DataFrame(
                {c: np.array([], np.int64) for c in ("peak", "step", "gx", "gy", "cost")}
            )
        # source: global max peak, ties to smaller key (key-sorted array ->
        # first index among max n_docs peaks)
        pk_idx = np.nonzero(is_peak)[0]
        src = pk_idx[np.argmax(nd[pk_idx])]  # first max in key order
        dist = _cost_surface(np.arange(n) == src, nbrs, w, b)
        # parent from the final surface: rook neighbor with
        # cost[n] == cost[c] - w[c], smallest key
        parent = np.full(n, -1, dtype=np.int64)
        for i in range(n):
            if dist[i] == 0 or dist[i] >= _INF:
                continue
            best = -1
            for j in range(4):
                nb = nbrs[i, j]
                if nb >= 0 and dist[nb] == dist[i] - w[i]:
                    if best < 0 or key[nb] < key[best]:
                        best = nb
            parent[i] = best
        out = {c: [] for c in ("peak", "step", "gx", "gy", "cost")}
        for t in pk_idx:
            if t == src or dist[t] >= _INF:
                continue
            cur, step = t, 0
            total = int(dist[t])
            while True:
                out["peak"].append(int(key[t]))
                out["step"].append(step)
                out["gx"].append(int(gx[cur]))
                out["gy"].append(int(gy[cur]))
                out["cost"].append(total)
                if dist[cur] == 0:
                    break
                cur = int(parent[cur])
                step += 1
        return pd.DataFrame({k: np.array(v, np.int64) for k, v in out.items()})

    return hist.groupBy(F.lit(0).alias("_g")).applyInPandas(
        fn, "peak long, step long, gx long, gy long, cost long"
    )


def peak_paths_oracle(
    min_peak: int = 14,
    budget: int = 48,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> str:
    """Appends to a ``WITH RECURSIVE`` chain defining ``doc_geo``:
    identical histogram/weights, recursive cost closure from the global
    max peak, the same smallest-key parent rule, and a recursive walk."""
    s = int(shift)
    m = config.edge >> s
    b = int(budget)
    return f"""pp_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n_docs,
         CAST((x >> {s}) * {m} + (y >> {s}) AS BIGINT) AS k
  FROM doc_geo GROUP BY 1, 2
), pp_w AS (
  SELECT gx, gy, k, n_docs, 1 + LEAST(3, n_docs // 8) AS w FROM pp_hist
), pp_peaks AS (
  SELECT k, gx, gy, n_docs FROM pp_w a
  WHERE n_docs >= {int(min_peak)} AND NOT EXISTS (
    SELECT 1 FROM pp_w b
    WHERE (ABS(b.gx - a.gx) + ABS(b.gy - a.gy)) = 1 AND b.n_docs > a.n_docs
  )
), pp_src AS (
  SELECT k, gx, gy FROM pp_peaks ORDER BY n_docs DESC, k LIMIT 1
), pp_edges AS (
  SELECT a.k, b.k AS nk, b.w AS nw, b.gx AS ngx, b.gy AS ngy
  FROM pp_w a JOIN pp_w b
  ON (ABS(b.gx - a.gx) + ABS(b.gy - a.gy)) = 1
), pp_reach(k, c) AS (
  SELECT k, CAST(0 AS BIGINT) FROM pp_src
  UNION
  SELECT e.nk, r.c + e.nw FROM pp_reach r
  JOIN pp_edges e ON e.k = r.k
  WHERE r.c + e.nw <= {b}
), pp_cost AS (SELECT k, MIN(c) AS cost FROM pp_reach GROUP BY k),
pp_parent AS (
  SELECT c.k, MIN(e.nk) AS parent
  FROM pp_cost c
  JOIN pp_w cw ON cw.k = c.k
  JOIN pp_edges e ON e.k = c.k
  JOIN pp_cost nc ON nc.k = e.nk AND nc.cost = c.cost - cw.w
  WHERE c.cost > 0
  GROUP BY c.k
), pp_targets AS (
  SELECT p.k AS peak, c.cost AS total
  FROM pp_peaks p JOIN pp_cost c ON c.k = p.k
  WHERE p.k <> (SELECT k FROM pp_src)
), pp_walk(peak, step, k, total) AS (
  SELECT peak, CAST(0 AS BIGINT), peak, total FROM pp_targets
  UNION ALL
  SELECT w.peak, w.step + 1, p.parent, w.total
  FROM pp_walk w JOIN pp_parent p ON p.k = w.k
)
SELECT w.peak, w.step, h.gx, h.gy, CAST(w.total AS BIGINT) AS cost
FROM pp_walk w JOIN pp_hist h ON h.k = w.k"""
