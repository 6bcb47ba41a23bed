"""Distributed connected components + near-duplicate clustering.

A training-data dedup pipeline does not stop at *pairs*: near-duplicate
pairs form a graph whose connected components are the duplicate clusters,
and the pipeline keeps one representative per cluster.  The reference has
no graph operator (its dedup is the OSM max-version fold); this module is
the pipeline-side extension the brief asks for, built on the
alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-bounded CC for data too large for any single machine:

* each half-round is ``groupBy(min) + join`` — two hash shuffles on the
  node id, **no per-key neighbor-set materialization** (a ``collect_set``
  formulation would OOM on a hot node; the min-aggregate one cannot);
* converges in O(log^2 n) rounds on adversarial graphs, 2-4 rounds on the
  short/dense clusters real near-dup graphs produce;
* every round ends in ``localCheckpoint`` to truncate lineage — an
  iterative plan otherwise doubles in depth per round and the optimizer
  re-analyzes the whole history each action (on a cluster, point
  ``spark.sparkContext.setCheckpointDir`` at durable storage and swap in
  ``.checkpoint()`` for executor-loss tolerance);
* convergence is detected EXACTLY and cheaply (ADVICE r3): each round
  runs ONE aggregate job over the new edge set (count + checksum); only
  when the tuple matches the previous round's does the exact full-outer
  set-equality join run — equal sets always have equal tuples, so the
  exact join executes once (at the true fixpoint, plus once per checksum
  collision, which merely costs a retry — it can never stop early with
  wrong labels).

Labels are component-minimum node ids, so results are deterministic and
engine-neutral: the DuckDB oracle recomputes the same labels with a
recursive-CTE min-label closure (:func:`dedup_clusters_oracle`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from .skew import keyed_pairs, salted_cell_counts


def _edge_stats(edges: DataFrame) -> tuple:
    """(count, checksum-of-u, checksum-of-v) in ONE aggregate job.  The
    checksum (sum of crc32 over the stringified id) works for string and
    integer node ids alike; a collision is harmless — it only triggers the
    exact check below, never a wrong convergence verdict."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.col("u").cast("string").cast("binary"))).alias("su"),
        F.sum(F.crc32(F.col("v").cast("string").cast("binary"))).alias("sv"),
    ).first()
    return (row["n"], row["su"], row["sv"])


def _edge_sets_equal(old: DataFrame, new: DataFrame) -> bool:
    """EXACT set equality (both frames are `.distinct()` outputs): a full
    outer join on (u, v) with a marker on each side has a null-marker row
    iff the sets differ.  One job with early-exit via ``isEmpty``; runs
    only when the cheap per-round stats tuple already matches, i.e. once
    per connected_components call in the non-collision case (ADVICE r3:
    the old count+count+anti-join scheme spent 3 jobs EVERY round)."""
    diff = (
        old.select("u", "v", F.lit(1).alias("_o"))
        .join(new.select("u", "v", F.lit(1).alias("_n")), ["u", "v"], "full")
        .filter(F.col("_o").isNull() | F.col("_n").isNull())
    )
    return diff.isEmpty()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every *strictly larger* neighbor to
    ``m = min(N(u) + {u})``.  Works on the symmetrized edge list.

    No trailing ``distinct``: the ``v > u`` filter already emits at most
    one row per input edge (only one orientation survives), so the output
    is bounded by |E| with or without it, and the only downstream consumer
    is ``_small_star``, whose min-aggregate ignores multiplicity and whose
    own ``distinct`` restores the canonical per-round edge set the
    convergence check compares.  Dropping the dedup removes one full
    shuffle per round — measured 17.4 -> 12.1 s on the 472k-edge bench
    DBSCAN core graph, identical labels."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge large->small, then for each node u: connect u and
    all its (smaller) neighbors to the minimum of the group."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    neighbor_edges = joined.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return neighbor_edges.union(self_edges).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """(node, rep) for every node of the undirected graph ``edges``;
    ``rep`` is the minimum node id of the node's component (roots map to
    themselves).  See module docstring for the physical design."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    stats: tuple | None = None
    for _ in range(max_iter):
        prev, prev_stats = e, stats
        # lazy checkpoint: the stats probe below is the round's ONLY job —
        # it materializes the checkpoint as it aggregates (an eager
        # localCheckpoint would spend a second full pass per round)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        stats = _edge_stats(e)
        if stats == prev_stats and _edge_sets_equal(prev, e):
            break
    else:
        # an unconverged star graph yields WRONG component labels (chains
        # not yet collapsed to their minimum) — never let that silently
        # feed dedup_survivors' victim list (ADVICE r2).  Alternating
        # large/small-star converges in O(log^2 n) rounds, so hitting this
        # means max_iter was set far too low for the graph's diameter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds; raise max_iter"
        )
    # converged edges are stars (node -> component min); roots have no
    # outgoing edge and label themselves
    labels = e.groupBy("u").agg(F.min("v").alias("rep"))
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("rep", F.col("u")).alias("rep"),
        )
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-duplicate clusters from a similarity-pair table
    ``(doc_a, doc_b, ...)``: (doc_id, rep_id) for every doc in at least one
    pair, rep = lexicographic minimum of its cluster.  Singleton docs are
    not emitted (they trivially represent themselves)."""
    cc = connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
    return cc.select(F.col("node").alias("doc_id"), F.col("rep").alias("rep_id"))


def dedup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The dedup pipeline's output: every doc_id that survives near-dup
    removal — cluster representatives plus all singletons.  One broadcast-
    able anti-join against the (tiny relative to the corpus) victim list."""
    victims = dedup_clusters(pairs).filter(F.col("doc_id") != F.col("rep_id"))
    return docs.select("doc_id").join(victims, "doc_id", "anti")


# ---------------------------------------------------------------------------
# DBSCAN — density-based spatial clustering
# ---------------------------------------------------------------------------


def dbscan(
    doc_geo: DataFrame,
    eps: int,
    min_pts: int,
    sample_mod: int = 1,
    config=None,
) -> DataFrame:
    """Distributed exact DBSCAN over the lattice points:
    (doc_id, cluster, is_core) for every core and border point (noise is
    excluded; ``is_core`` is 1/0 for engine-neutral hashing).  ``cluster``
    is the minimum core doc_id of the density-connected component —
    deterministic, and border points take the MIN cluster among their core
    neighbors (textbook DBSCAN leaves border assignment order-dependent;
    the min rule makes it a pure function of the data).

    Composition of two already-scale-proven operators — the grid-blocked
    eps-neighbor self-join (`spatial_join.distance_self_join`: one hash
    shuffle, every qualifying pair exactly once) and large/small-star
    connected components over the *core-core* subgraph (min-aggregate form,
    no neighbor-set materialization).  This is exactly the MR-DBSCAN /
    "DBSCAN on Spark" decomposition from the literature; with
    ``doc_geo`` bucketed by cell the neighbor join is shuffle-free.

    ``sample_mod`` > 1 runs on the deterministic 1-in-N md5 sample (same
    selector as ``rect_self_join``) — at fixture densities the full
    gaussian corpus percolates into one giant cluster, which is both
    uninteresting and quadratic for the oracle's closure.

    Precondition: ``min_pts >= 2`` (asserted).  Degree is derived from the
    pair list, so a point with NO eps-neighbor never appears — for
    ``min_pts <= 1`` textbook DBSCAN would make every isolated point its
    own singleton core cluster, which this decomposition (and the oracle,
    identically) would silently drop (ADVICE r3)."""
    from ..config import DEFAULT
    from .dedup import _hex_to_long_sql
    from .spatial_join import distance_self_join

    if min_pts < 2:
        raise ValueError(
            "dbscan requires min_pts >= 2: isolated points carry no pair row, "
            "so min_pts <= 1 would drop singleton core clusters"
        )
    cfg = config or DEFAULT
    pts = doc_geo
    if sample_mod > 1:
        sel = _hex_to_long_sql("md5(CAST(doc_id AS BINARY))", 1, 8)
        pts = doc_geo.filter(F.expr(f"({sel} % {sample_mod}) = 0"))
    pairs = distance_self_join(pts, eps, cfg).select("doc_a", "doc_b").localCheckpoint()
    nbrs = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("doc_id", "nbr")
    deg = nbrs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_nbrs"))
    core = deg.filter(F.col("n_nbrs") + 1 >= min_pts).select("doc_id").localCheckpoint()
    cedges = (
        pairs.join(core.select(F.col("doc_id").alias("doc_a")), "doc_a", "semi")
        .join(core.select(F.col("doc_id").alias("doc_b")), "doc_b", "semi")
    )
    labels = connected_components(cedges, "doc_a", "doc_b")
    core_lab = (
        core.join(labels.select(F.col("node").alias("doc_id"), "rep"), "doc_id", "left")
        .select("doc_id", F.coalesce("rep", F.col("doc_id")).alias("cluster"))
    )
    border = (
        nbrs.join(
            core_lab.select(F.col("doc_id").alias("nbr"), "cluster"), "nbr"
        )
        .join(core, "doc_id", "anti")
        .groupBy("doc_id")
        .agg(F.min("cluster").alias("cluster"))
    )
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    return core_lab.withColumn("is_core", one).unionByName(
        border.withColumn("is_core", zero)
    )


def dbscan_oracle(
    eps: int, min_pts: int, sample_mod: int = 1, doc_geo_table: str = "doc_geo"
) -> str:
    """DuckDB oracle: the same lossless 9-offset cell blocking for the
    eps-neighbor pairs, degree/core classification, recursive-CTE min-label
    closure over the core-core subgraph, and the same MIN border rule.
    The caller prepends ``WITH RECURSIVE doc_geo AS (...)``.  Same
    ``min_pts >= 2`` precondition as :func:`dbscan` (the HAVING-based core
    CTE shares the isolated-point blind spot, so oracle parity could not
    catch a violation — assert instead, ADVICE r3)."""
    from .dedup import _hex_to_long_sql
    from .spatial_join import _cell_shift

    if min_pts < 2:
        raise ValueError("dbscan_oracle requires min_pts >= 2 (see dbscan)")

    s = _cell_shift(eps)
    r2 = eps * eps
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    sel = _hex_to_long_sql("md5(doc_key)", 1, 8)
    return f"""pts AS (
  SELECT doc_key, x, y FROM {doc_geo_table} WHERE ({sel} % {sample_mod}) = 0
), prb AS (
  SELECT doc_key, x, y, (x >> {s}) + dx AS cx, (y >> {s}) + dy AS cy
  FROM pts, (VALUES {nine}) o(dx, dy)
), hom AS (
  SELECT doc_key, x, y, x >> {s} AS cx, y >> {s} AS cy FROM pts
), pairs AS (
  SELECT p.doc_key AS doc_a, h.doc_key AS doc_b
  FROM prb p JOIN hom h ON p.cx = h.cx AND p.cy = h.cy AND p.doc_key < h.doc_key
  WHERE (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) <= {r2}
), nbrs AS (
  SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), core AS (
  SELECT doc_id FROM nbrs GROUP BY doc_id HAVING COUNT(*) + 1 >= {min_pts}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  WHERE doc_a IN (SELECT doc_id FROM core) AND doc_b IN (SELECT doc_id FROM core)
  UNION
  SELECT doc_b, doc_a FROM pairs
  WHERE doc_a IN (SELECT doc_id FROM core) AND doc_b IN (SELECT doc_id FROM core)
), cc(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, c.label FROM cc c JOIN edges e ON e.u = c.node
), corelab AS (
  SELECT co.doc_id,
         COALESCE((SELECT MIN(label) FROM cc WHERE node = co.doc_id), co.doc_id)
           AS cluster
  FROM core co
)
SELECT doc_id, cluster, CAST(1 AS BIGINT) AS is_core FROM corelab
UNION ALL
SELECT n.doc_id, MIN(cl.cluster) AS cluster, CAST(0 AS BIGINT) AS is_core
FROM nbrs n JOIN corelab cl ON n.nbr = cl.doc_id
WHERE n.doc_id NOT IN (SELECT doc_id FROM core)
GROUP BY n.doc_id"""


# ---------------------------------------------------------------------------
# DuckDB oracles: recursive-CTE min-label closure.  The closure enumerates,
# per node, every reachable node (symmetric edges => the whole component),
# and MIN over it is exactly the large/small-star fixpoint label.  State
# space is O(sum of component size^2) — fine for an oracle at test scale,
# unusable at 100 TB, which is precisely why the engine runs star rounds.
# ---------------------------------------------------------------------------


def _cc_closure_sql(pairs_sql: str) -> str:
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, c.label FROM cc c JOIN edges e ON e.u = c.node
)
"""


def dedup_clusters_oracle(pairs_sql: str) -> str:
    return (
        _cc_closure_sql(pairs_sql)
        + "SELECT node AS doc_id, MIN(label) AS rep_id FROM cc GROUP BY node"
    )


def dedup_survivors_oracle(pairs_sql: str, table: str = "documents") -> str:
    return (
        _cc_closure_sql(pairs_sql)
        + f"SELECT doc_id FROM {table} WHERE doc_id NOT IN "
        "(SELECT node FROM (SELECT node, MIN(label) AS rep FROM cc GROUP BY node) "
        "WHERE node <> rep)"
    )


def grid_kmeans(
    doc_geo: DataFrame,
    k: int = 6,
    iters: int = 3,
    shift: int = 6,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Fixed-iteration LLOYD'S K-MEANS over the lattice, exact-integer end
    to end — ``(cid, cx, cy, n_docs)``: the final centroids and their
    membership counts after exactly ``iters`` assign/update rounds.  The
    "periodic k-means job" every IVF/partitioning layer assumes
    (``similarity.ivf_centroids`` cites it as its at-scale producer) made
    a first-class, ORACLE-CHECKED operator: deterministic seeding (the
    ``k`` densest ``2^shift`` cells' centers, ties to the smaller flat
    key), integer centroid updates (``SUM DIV COUNT``), argmin ties to
    the smaller cid, and a fixed iteration count — so DuckDB replays the
    whole optimization as ``iters`` unrolled CTEs and must match
    bit-for-bit.

    Plan per round: ONE corpus-side codegen projection (the argmin over k
    literal centroids is an ``array_min`` of (dist2, cid) structs — no
    join, no shuffle on the doc side) + ONE k-group hash aggregation with
    map-side combine; the k-row update is a driver action, exactly like
    the kNN growth probe and the IVF centroid read (bounded control rows,
    never data).  Empty clusters keep their previous centroid (replayed
    identically by the oracle's LEFT JOIN + COALESCE)."""
    s = int(shift)
    half = 1 << (s - 1)
    seeds = (
        doc_geo.groupBy(
            F.shiftright("x", s).alias("gx"), F.shiftright("y", s).alias("gy")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(F.col("gx") * (config.edge >> s) + F.col("gy")))
        .limit(int(k))
        .collect()
    )
    cents = [
        ((r.gx << s) + half, (r.gy << s) + half) for r in seeds
    ]  # deterministic: rows arrive sorted from the TakeOrdered above
    pts = doc_geo.select("doc_id", "x", "y")

    def nearest(cents: list[tuple[int, int]]) -> F.Column:
        # argmin over (dist2, cid) structs; typed, so no seeds (an empty
        # corpus) is an empty array<struct> rather than array<void>
        arms = F.array(
            *[
                F.struct(
                    ((F.col("x") - cx) * (F.col("x") - cx) + (F.col("y") - cy) * (F.col("y") - cy))
                    .cast("long")
                    .alias("d"),
                    F.lit(i).alias("c"),
                )
                for i, (cx, cy) in enumerate(cents)
            ]
        ).cast("array<struct<d:bigint,c:int>>")
        return F.array_min(arms).getField("c")

    for _ in range(int(iters)):
        # k groups is maximal key skew: two-phase salted fold (partials per
        # (cid, salt), then the k-row final) — same rationale as
        # skew.salted_cell_counts, decomposable because the update is
        # SUM/COUNT
        partial = (
            pts.withColumn("cid", nearest(cents))
            .withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(config.salt_buckets)))
            .groupBy("cid", "salt")
            .agg(
                F.sum("x").alias("sx"),
                F.sum("y").alias("sy"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        upd = {
            r.cid: (r.cx, r.cy)
            for r in partial.groupBy("cid")
            .agg(
                F.expr("CAST(SUM(sx) DIV SUM(n) AS BIGINT)").alias("cx"),
                F.expr("CAST(SUM(sy) DIV SUM(n) AS BIGINT)").alias("cy"),
            )
            .collect()
        }
        cents = [upd.get(i, c) for i, c in enumerate(cents)]
    final = salted_cell_counts(pts.withColumn("cid", nearest(cents)), config, ("cid",))
    cent_df = doc_geo.sparkSession.createDataFrame(
        [(i, cx, cy) for i, (cx, cy) in enumerate(cents)], "cid int, cx long, cy long"
    )
    return cent_df.join(final, "cid", "left").select(
        "cid", "cx", "cy", F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs")
    )


def grid_kmeans_oracle(
    k: int = 6, iters: int = 3, shift: int = 6, config: EngineConfig = DEFAULT
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: the seeding, every
    assign/update round unrolled, and the final membership count — the
    complete optimization replayed in pure SQL."""
    s = int(shift)
    half = 1 << (s - 1)
    m = config.edge >> s
    parts = [
        f"""km_hist AS (
  SELECT x >> {s} AS gx, y >> {s} AS gy, COUNT(*) AS n
  FROM doc_geo GROUP BY 1, 2
), km_c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, gx * {m} + gy) - 1 AS INTEGER) AS cid,
         CAST((gx << {s}) + {half} AS BIGINT) AS cx,
         CAST((gy << {s}) + {half} AS BIGINT) AS cy
  FROM km_hist ORDER BY n DESC, gx * {m} + gy LIMIT {int(k)}
)"""
    ]
    for i in range(int(iters)):
        prev, nxt = f"km_c{i}", f"km_c{i + 1}"
        parts.append(
            f"""km_a{i} AS (
  SELECT d.x, d.y, arg_min(c.cid, ((d.x - c.cx) * (d.x - c.cx)
         + (d.y - c.cy) * (d.y - c.cy)) * {int(k)} + c.cid) AS cid
  FROM doc_geo d, {prev} c GROUP BY d.doc_key, d.x, d.y
)"""
        )
        parts.append(
            f"""{nxt} AS (
  SELECT p.cid,
         CAST(CASE WHEN COUNT(a.x) = 0 THEN p.cx ELSE SUM(a.x) // COUNT(a.x) END AS BIGINT) AS cx,
         CAST(CASE WHEN COUNT(a.y) = 0 THEN p.cy ELSE SUM(a.y) // COUNT(a.y) END AS BIGINT) AS cy
  FROM {prev} p LEFT JOIN km_a{i} a ON a.cid = p.cid
  GROUP BY p.cid, p.cx, p.cy
)"""
        )
    last = f"km_c{int(iters)}"
    return (
        ", ".join(parts)
        + f""", km_final AS (
  SELECT arg_min(c.cid, ((d.x - c.cx) * (d.x - c.cx)
         + (d.y - c.cy) * (d.y - c.cy)) * {int(k)} + c.cid) AS cid
  FROM doc_geo d, {last} c GROUP BY d.doc_key, d.x, d.y
)
SELECT c.cid, c.cx, c.cy, CAST(COUNT(f.cid) AS BIGINT) AS n_docs
FROM {last} c LEFT JOIN km_final f ON f.cid = c.cid
GROUP BY c.cid, c.cx, c.cy"""
    )


# ---------------------------------------------------------------------------
# Graph analytics over the spatial kNN graph: PageRank + triangle counting
# ---------------------------------------------------------------------------


def _knn_edge_sql(k: int, radius: int, doc_geo_table: str = "doc_geo") -> str:
    """CTE fragment producing the directed kNN edge set ``pr_e(src, dst)``
    — the oracle-side twin of ``spatial_join.knn_graph``'s output (plain
    quadratic within-radius join + identical ``(dist2, nbr)`` rank; exact
    at oracle scale)."""
    d2 = "((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))"
    return f"""pr_sym AS (
  SELECT a.doc_key AS src, b.doc_key AS dst, {d2} AS dist2
  FROM {doc_geo_table} a JOIN {doc_geo_table} b
    ON a.doc_key <> b.doc_key AND {d2} <= {int(radius) * int(radius)}
), pr_rk AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist2, dst) AS rnk
  FROM pr_sym
), pr_e AS (
  SELECT src, dst FROM pr_rk WHERE rnk <= {int(k)}
)"""


def pagerank(
    edges: DataFrame, iters: int = 3, scale: int = 1_000_000
) -> DataFrame:
    """Fixed-iteration INTEGER PageRank over a directed edge set —
    ``(doc_id, rank_e6)``: node importance after exactly ``iters`` power
    iterations with damping 0.85, every step in exact int64 arithmetic so
    the DuckDB oracle replays the whole computation as unrolled CTEs and
    must match bit-for-bit (same fixed-iteration discipline as
    :func:`grid_kmeans`; the reference has no graph operator — this is
    the pipeline-side importance ranking its curve-neighbor graph feeds,
    `Scheme/RSKQ/RSKQ_Biginteger.java` neighbor search made a bulk graph
    by ``spatial_join.knn_graph``).

    Integer rule per round: each node sends ``r DIV out_degree`` along
    every out-edge (floor; mass from dangling-free kNN sources), and
    ``r' = (15 * scale) DIV 100 + (85 * inflow) DIV 100``.  Nodes with no
    in-edges keep the base rank.  Overflow bound: ``85 * inflow <=
    85 * in_deg * r_max`` — safe in int64 while ``in_deg * r_max < 1e17``
    (at scale=1e6 that is an in-degree of 1e11; any real kNN graph is
    orders of magnitude below).

    Plan: the edge+degree frame is built ONCE (one groupBy + one join,
    localCheckpoint to pin it); each round is one hash join on ``src``
    + one map-side-combined aggregation on ``dst`` + one left join back
    to the node list — three shuffles on the node id, no collect, state
    bounded by |nodes|.  At 10^12 docs pre-partition edges and ranks on
    the node id once and every round's join is co-located."""
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edj = e.join(deg, "src").localCheckpoint()
    base = (15 * int(scale)) // 100
    ranks = nodes.withColumn("r", F.lit(int(scale)).cast("long"))
    for _ in range(int(iters)):
        inflow = (
            edj.join(ranks, edj["src"] == ranks["node"])
            .select(F.col("dst"), F.expr("r DIV d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"(85 * COALESCE(s, 0L)) DIV 100")
                ).cast("long").alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_e6"))


def pagerank_oracle(
    k: int, radius: int, iters: int = 3, scale: int = 1_000_000,
    doc_geo_table: str = "doc_geo",
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: the kNN edge set, the
    degree table, and every power-iteration round unrolled — the complete
    integer PageRank replayed in pure SQL."""
    base = (15 * int(scale)) // 100
    parts = [
        _knn_edge_sql(k, radius, doc_geo_table),
        """pr_nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM pr_e UNION ALL SELECT dst FROM pr_e
  )
)""",
        "pr_deg AS (SELECT src, COUNT(*) AS d FROM pr_e GROUP BY src)",
        f"pr_r0 AS (SELECT node, CAST({int(scale)} AS BIGINT) AS r FROM pr_nodes)",
    ]
    for i in range(1, int(iters) + 1):
        parts.append(
            f"""pr_in{i} AS (
  SELECT e.dst AS node, SUM(r.r // g.d) AS s
  FROM pr_e e JOIN pr_r{i - 1} r ON e.src = r.node
  JOIN pr_deg g ON e.src = g.src
  GROUP BY e.dst
), pr_r{i} AS (
  SELECT n.node, CAST({base} + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS r
  FROM pr_nodes n LEFT JOIN pr_in{i} i ON n.node = i.node
)"""
        )
    return (
        ", ".join(parts)
        + f"\nSELECT node AS doc_id, r AS rank_e6 FROM pr_r{int(iters)}"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node TRIANGLE counts over the undirected closure of a directed
    edge set — ``(doc_id, n_tri)`` for every node in the graph (zeros
    included).  The local-clustering building block of the near-dup /
    spatial-neighborhood graph family.

    Scale shape is the degree-ORIENTED algorithm (Cohen's MapReduce
    orientation; Suri & Vassilvitskii, WWW'11): orient every undirected
    edge from the (degree, id)-smaller endpoint to the larger, so every
    out-neighborhood is small (max out-degree O(sqrt(|E|)) regardless of
    hub size) and each triangle materializes EXACTLY once as a wedge at
    its unique (degree, id)-minimal apex closed by one hash join — never
    the naive per-node neighbor-set intersection that explodes on hubs.

    Plan: symmetrize+dedup (one shuffle), degree agg (one shuffle), the
    wedge self-join on the apex + the closing equi-join on the third
    edge, then a 3-way explode + count and a left join for the zeros.
    No window over unbounded neighbor lists, no collect."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = keyed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    wedges = keyed_pairs(ori.withColumnRenamed("u", "apex"), "apex", "v").select(
        "apex", F.col("v_a").alias("p"), F.col("v_b").alias("q")
    )
    # the closing edge between p and q is oriented one way or the other;
    # check both (p, q) and (q, p) against the oriented set
    close = ori.select(
        F.least("u", "v").alias("p"), F.greatest("u", "v").alias("q")
    )
    tris = wedges.join(close, ["p", "q"])
    per_node = (
        tris.select(F.explode(F.array("apex", "p", "q")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    nodes = deg.select("node")
    return nodes.join(per_node, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
    )


def triangle_counts_oracle(
    k: int, radius: int, doc_geo_table: str = "doc_geo"
) -> str:
    """Appends to a CTE chain defining ``doc_geo``: identical undirected
    closure, (degree, id) orientation, wedge close, and zero-filled
    per-node counts."""
    return (
        _knn_edge_sql(k, radius, doc_geo_table)
        + """, tc_und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM pr_e
), tc_deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT a AS node FROM tc_und UNION ALL SELECT b FROM tc_und
  ) GROUP BY node
), tc_ori AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND u.a < u.b)
              THEN u.b ELSE u.a END AS v
  FROM tc_und u
  JOIN tc_deg da ON da.node = u.a
  JOIN tc_deg db ON db.node = u.b
), tc_tri AS (
  SELECT e1.u AS apex, e1.v AS p, e2.v AS q
  FROM tc_ori e1 JOIN tc_ori e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN tc_und e3 ON e3.a = e1.v AND e3.b = e2.v
), tc_cnt AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT apex AS node FROM tc_tri
    UNION ALL SELECT p FROM tc_tri
    UNION ALL SELECT q FROM tc_tri
  ) GROUP BY node
)
SELECT d.node AS doc_id, CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_tri
FROM tc_deg d LEFT JOIN tc_cnt c ON c.node = d.node"""
    )
