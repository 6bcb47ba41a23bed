"""Workloads: seeded inputs, timed operations, oracle checks.

Each workload generates its inputs from ``--seed`` as plain Python data
(``inputs(seed)``; the same seed gives the same inputs), opens the prepared
tables, and yields *cycles*: lists of operations that the closed-loop
client runs back to back.  An operation calls one layer's public function
and ends in a sink; its ``check`` runs after the timed region.

* ``lookup`` - selective queries over the Hilbert-sorted ``doc_geo``:
  range- and prefix-mode GRQ, BRQ any/all, radius search and kNN.  Box
  edges are log-uniform over 16..1024 cells, centres are in the gaussian
  clusters or uniform, keywords mix hot and rare; every cycle has the
  same composition (``Lookup.inputs``).
* ``batch`` - one cycle of each of the three below, sharing a session.
* ``analytics`` - full-corpus joins and aggregates over seeded shapes
  (tiles, polygons, boxes), then blocked self-joins and connected
  components over fixed slices: eps pairs, DBSCAN, co-visit pairs,
  Jaccard pairs -> dedup clusters, and the kNN graph.
* ``ingest_update`` - one ``CheckpointRunner.run`` per stage (corpus,
  sorted doc_geo, prefix index, keyword index) over a seeded batch of flat
  documents, an encode and a ``write_sorted``, then an update batch
  through ``build_update_stream`` -> ``compact_log`` (written) ->
  ``merge_on_read`` and a range query over the live set.
"""

from __future__ import annotations

import json
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from .oracle import SID, sid, sink, tag_id

EDGE = 4096
CENTRES = ((1024, 1024), (3072, 3072), (2048, 2048))
WEIGHTS = (0.4, 0.3, 0.3)
SIGMA = 341
HOT = [f"k{j}" for j in range(8, 17)]
RARE = sorted({f"k{8000 // (1 + u)}" for u in range(1, 40)})
KW_COLS = "(kw0, kw1, kw2, kw3)"
STRATA = 8
# warm-up inputs come from a seed of their own, never a measured one
WARM_SEED = 2**32 - 1


@dataclass
class Op:
    """One timed operation.  ``run`` is timed; ``check(result, oracle)``
    is not.  ``layer`` names the package module the operation calls."""

    name: str
    layer: str
    docs: int
    run: Callable[[], object]
    check: Callable[[object, object], bool]


class Context:
    """Prepared tables and scratch space shared by a run's workloads."""

    def __init__(self, sf: Path, prepared: Path, run_dir: Path):
        self.sf = sf
        self.prepared = prepared
        self.run_dir = run_dir
        self.manifest = json.loads((prepared / "manifest.json").read_text())
        self._expect: dict[str, object] = {}

    def expect(self, key: str, compute: Callable[[], object]):
        """Oracle answers are cached per input, so repeated cycles over
        the same input are checked against one oracle evaluation."""
        if key not in self._expect:
            self._expect[key] = compute()
        return self._expect[key]


# ---------------------------------------------------------------------------
# seeded shapes
# ---------------------------------------------------------------------------


def _centre(rng: np.random.Generator, clustered: bool) -> tuple[int, int]:
    if clustered:
        cx, cy = CENTRES[int(rng.choice(3, p=WEIGHTS))]
        x, y = rng.normal(cx, SIGMA), rng.normal(cy, SIGMA)
    else:
        x, y = rng.uniform(0, EDGE), rng.uniform(0, EDGE)
    return int(np.clip(x, 0, EDGE - 1)), int(np.clip(y, 0, EDGE - 1))


def _box(rng: np.random.Generator, side: int, clustered: bool) -> list[int]:
    """[x_lo, x_hi, y_lo, y_hi] of a ``side``-cell square inside the lattice."""
    cx, cy = _centre(rng, clustered)
    x_lo = int(np.clip(cx - side // 2, 0, EDGE - side))
    y_lo = int(np.clip(cy - side // 2, 0, EDGE - side))
    return [x_lo, x_lo + side - 1, y_lo, y_lo + side - 1]


def _stratified(rng: np.random.Generator, n: int) -> list[float]:
    """n draws from U[0, 1), one per stratum in every block of STRATA."""
    out: list[float] = []
    while len(out) < n:
        out.extend((rng.permutation(STRATA) + rng.random(STRATA)) / STRATA)
    return [float(u) for u in out[:n]]


def _log_uniform(u: float, lo: int, hi: int) -> int:
    return int(round(lo * (hi / lo) ** u))


def _box_sql(b: list[int]) -> str:
    return f"x BETWEEN {b[0]} AND {b[1]} AND y BETWEEN {b[2]} AND {b[3]}"


def _kw_sql(keywords: list[str], mode: str) -> str:
    join = " OR " if mode == "any" else " AND "
    return "(" + join.join(f"'{k}' IN {KW_COLS}" for k in keywords) + ")"


def _polygon(rng: np.random.Generator, idx: int) -> dict:
    """Convex polygon: a regular 3..8-gon of radius 100..300, rotated."""
    n = int(rng.integers(3, 9))
    r = float(rng.uniform(100, 300))
    phase = float(rng.uniform(0, 2 * np.pi))
    cx, cy = _centre(rng, True)
    cx, cy = int(np.clip(cx, r + 1, EDGE - r - 2)), int(np.clip(cy, r + 1, EDGE - r - 2))
    verts = []
    for i in range(n):
        a = phase + 2 * np.pi * i / n
        verts.append((int(round(cx + r * np.cos(a))), int(round(cy + r * np.sin(a)))))
    return {"poly_id": f"p{idx}", "vertices": verts}


def _bbox_sql(polygons: list[dict]) -> str:
    terms = []
    for p in polygons:
        xs = [v[0] for v in p["vertices"]]
        ys = [v[1] for v in p["vertices"]]
        terms.append(f"({_box_sql([min(xs), max(xs), min(ys), max(ys)])})")
    return " OR ".join(terms)


def _fp_check(ctx: Context, key: str, sql: Callable[[], str], exprs: list[str], views=None):
    """check() comparing a sink fingerprint with the oracle's; ``views``
    defines the oracle views ``sql`` reads."""

    def answer(oracle):
        if views is not None:
            views(oracle)
        return oracle.fingerprint(sql(), exprs)

    def check(result, oracle) -> bool:
        return result == ctx.expect(key, lambda: answer(oracle))

    return check


def _same_check(ctx: Context, key: str, sane: Callable[[tuple], bool]):
    """check() for operations whose exact oracle is too slow at this
    size: every draw over the same input must give the identical
    fingerprint (and pass a sanity predicate)."""

    def check(result, oracle) -> bool:
        return sane(result) and result == ctx.expect(key, lambda: result)

    return check


# ---------------------------------------------------------------------------
# lookup
# ---------------------------------------------------------------------------

LOOKUP_KINDS = ("grq_range", "grq_prefix", "brq_any", "brq_all", "radius", "knn")
LOOKUP_CYCLES = 60
PER_KIND = 4
KNN_K = 25


class Lookup:
    name = "lookup"

    @staticmethod
    def inputs(seed: int, n_cycles: int = LOOKUP_CYCLES) -> dict:
        """``n_cycles`` cycles of ``PER_KIND`` queries of every kind: half
        centred in a gaussian cluster, half uniform, each from its own
        quarter of the log-uniform size range (which gets which is drawn),
        so every cycle has the same composition."""
        rng = np.random.default_rng([seed, 1])
        queries = []
        for _ in range(n_cycles):
            strata = {k: rng.permutation(PER_KIND) for k in LOOKUP_KINDS}
            for i in range(PER_KIND):
                for kind in LOOKUP_KINDS:
                    u = (strata[kind][i] + float(rng.random())) / PER_KIND
                    queries.append(Lookup._query(rng, kind, u, clustered=i % 2 == 0))
        return {"queries": queries}

    @staticmethod
    def _query(rng: np.random.Generator, kind: str, u: float, clustered: bool) -> dict:
        q: dict = {"kind": kind}
        if kind in ("grq_range", "grq_prefix", "brq_any", "brq_all"):
            q["box"] = _box(rng, _log_uniform(u, 16, 1024), clustered)
        else:
            q["point"] = list(_centre(rng, clustered))
        hot = [str(k) for k in rng.choice(HOT, 2, replace=False)]
        rare = str(rng.choice(RARE))
        if kind == "brq_any":
            q["keywords"] = hot + [rare]
        elif kind == "brq_all":
            q["keywords"] = hot
        elif kind == "radius":
            q["radius"] = _log_uniform(u, 8, 512)
            q["keywords"] = [hot[0], rare]
        elif kind == "knn":
            q["k"] = KNN_K
        return q

    def __init__(self, spark, ctx: Context, seed: int):
        self.spark, self.ctx = spark, ctx
        self.seed = seed

    def open(self) -> None:
        p = self.ctx.prepared
        self.geo = self.spark.read.parquet(str(p / "doc_geo"))
        self.pidx = self.spark.read.parquet(str(p / "prefix_index"))
        _validate(self.ctx, doc_geo=self.geo, prefix_index=self.pidx)
        self.n_docs = self.ctx.manifest["rows"]["doc_geo"]

    def _op(self, i: int, q: dict) -> Op:
        from hilbert_curve_spark.operators import brq as brq_ops
        from hilbert_curve_spark.operators import knn as knn_ops
        from hilbert_curve_spark.operators import range_query as rq

        kind, ctx = q["kind"], self.ctx
        key = f"lookup:{self.seed}:{i}"
        if kind == "grq_range":
            b = q["box"]
            exprs = [SID, "x", "y"]
            return Op(kind, "range_query", self.n_docs,
                      lambda: sink(rq.grq_range_mode(self.geo, *b).select("doc_id", "x", "y"), exprs),
                      _fp_check(ctx, key, lambda: f"SELECT doc_key AS doc_id, x, y FROM g WHERE {_box_sql(b)}", exprs))
        if kind == "grq_prefix":
            b = q["box"]
            exprs = [SID]
            return Op(kind, "range_query", self.n_docs,
                      lambda: sink(rq.grq_prefix_mode(self.pidx, *b), exprs),
                      _fp_check(ctx, key, lambda: f"SELECT doc_key AS doc_id FROM g WHERE {_box_sql(b)}", exprs))
        if kind in ("brq_any", "brq_all"):
            b, kws, mode = q["box"], q["keywords"], kind[4:]
            exprs = [SID, "x", "y"]
            return Op(kind, "brq", self.n_docs,
                      lambda: sink(brq_ops.brq(self.geo, *b, keywords=kws, mode=mode).select("doc_id", "x", "y"), exprs),
                      _fp_check(ctx, key, lambda: f"SELECT doc_key AS doc_id, x, y FROM g WHERE {_box_sql(b)} AND {_kw_sql(kws, mode)}", exprs))
        if kind == "radius":
            (qx, qy), r, kws = q["point"], q["radius"], q["keywords"]
            exprs = [SID, "x", "y", "dist2"]
            return Op(kind, "brq", self.n_docs,
                      lambda: sink(brq_ops.radius_search(self.geo, qx, qy, r, keywords=kws, mode="any"), exprs),
                      _fp_check(ctx, key, lambda: brq_ops.radius_search_oracle(qx, qy, r, _kw_sql(kws, "any"), "g"), exprs))
        (qx, qy), k = q["point"], q["k"]
        exprs = [SID, "x", "y", "dist2"]
        d2 = f"(x - {qx}) * (x - {qx}) + (y - {qy}) * (y - {qy})"
        return Op(kind, "knn", self.n_docs,
                  lambda: sink(knn_ops.knn(self.geo, qx, qy, k), exprs),
                  _fp_check(ctx, key, lambda: f"SELECT doc_key AS doc_id, x, y, {d2} AS dist2 FROM g ORDER BY dist2, doc_key LIMIT {k}", exprs))

    def warmup(self) -> None:
        self._op(-1, self.inputs(WARM_SEED, 1)["queries"][0]).run()

    def jit_warmup(self) -> None:
        """One warm-up query of every kind."""
        for i, q in enumerate(self.inputs(WARM_SEED, 1)["queries"][:len(LOOKUP_KINDS)]):
            self._op(-1 - i, q).run()

    def cycles(self) -> Iterator[list[Op]]:
        qs = self.inputs(self.seed)["queries"]
        n = PER_KIND * len(LOOKUP_KINDS)
        for c in range(len(qs) // n):
            yield [self._op(c * n + j, qs[c * n + j]) for j in range(n)]


# ---------------------------------------------------------------------------
# analytics: full-corpus joins and aggregates, blocked self-joins and
# connected components
# ---------------------------------------------------------------------------

DBSCAN_EPS, DBSCAN_MIN_PTS = 3, 8
KNN_GRAPH_K, KNN_GRAPH_RADIUS = 4, 12
JACCARD_T = 25
# The pairs/graph slices are fixed, not seeded: their cost follows the
# component structure of the slice (connected-components rounds), and a
# fixed slice keeps that structure, and so the cost, the same in every run.
# The DBSCAN / kNN-graph / eps-pair window sits on the flank of the first
# cluster, where density-connected components stay small.
WINDOW_HALF = 96
WINDOW = [CENTRES[0][0] + 500 - WINDOW_HALF, CENTRES[0][0] + 500 + WINDOW_HALF - 1,
          CENTRES[0][1] - WINDOW_HALF, CENTRES[0][1] + WINDOW_HALF - 1]
# co-visit pairs over the users with user_id % USER_MOD = 0, dedup over the
# flat docs with doc_id % DOC_MOD = 0 (near-duplicates share that residue)
USER_MOD, DOC_MOD = 8, 8


def _cell_shift(radius: int) -> int:
    s = 1
    while (1 << s) < radius:
        s += 1
    return s


def knn_graph_blocked_oracle(k: int, radius: int, table: str) -> str:
    """Exact radius-bounded kNN graph: 9-cell blocked pairs (cells at
    least ``radius`` wide, so blocking is lossless) + rank window."""
    s = _cell_shift(radius)
    nine = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    d2 = "(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"
    return f"""WITH prb AS (
  SELECT doc_key, x, y, (x >> {s}) + dx AS cx, (y >> {s}) + dy AS cy
  FROM {table}, (VALUES {nine}) o(dx, dy)
), hom AS (
  SELECT doc_key, x, y, x >> {s} AS cx, y >> {s} AS cy FROM {table}
), sym AS (
  SELECT a.doc_key AS doc_id, b.doc_key AS nbr_id, {d2} AS dist2
  FROM prb a JOIN hom b ON a.cx = b.cx AND a.cy = b.cy AND a.doc_key <> b.doc_key
  WHERE {d2} <= {radius * radius}
), rk AS (
  SELECT doc_id, nbr_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist2, nbr_id) AS rank
  FROM sym
)
SELECT doc_id, rank, nbr_id, dist2 FROM rk WHERE rank <= {k}"""


class Analytics:
    name = "analytics"

    @staticmethod
    def inputs(seed: int) -> dict:
        rng = np.random.default_rng([seed, 2])
        tiles = []
        for i in range(6):
            w, h = (int(v) for v in rng.integers(8, 65, 2))
            x, y = _centre(rng, True)
            tiles.append({"tile_id": f"t{i}", "x_start": min(x, EDGE - w), "y_start": min(y, EDGE - h),
                          "width": w, "height": h})
        polygons = [_polygon(rng, i) for i in range(3)]
        boxes = [_box(rng, _log_uniform(u, 64, 256), i % 2 == 0)
                 for i, u in enumerate(_stratified(rng, 4))]
        return {"tiles": tiles, "polygons": polygons, "boxes": boxes}

    def __init__(self, spark, ctx: Context, seed: int):
        self.spark, self.ctx, self.seed = spark, ctx, seed

    def open(self) -> None:
        p, sf = self.ctx.prepared, self.ctx.sf
        self.geo = self.spark.read.parquet(str(p / "doc_geo"))
        self.events = self.spark.read.parquet(str(sf / "events.parquet"))
        self.docs = self.spark.read.parquet(str(sf / "documents.parquet"))
        _validate(self.ctx, doc_geo=self.geo)
        self.n_docs = self.ctx.manifest["rows"]["doc_geo"]

    def _corpus_ops(self, inp: dict, tag: str) -> list[Op]:
        from hilbert_curve_spark.config import DEFAULT
        from hilbert_curve_spark.operators import pip as pip_ops
        from hilbert_curve_spark.operators import range_query as rq
        from hilbert_curve_spark.operators import skew
        from hilbert_curve_spark.operators import spatial_join as sj
        from hilbert_curve_spark.operators import tiles as tiles_ops

        ctx, geo, n = self.ctx, self.geo, self.n_docs
        tiles, polys = inp["tiles"], inp["polygons"]
        boxes = [tuple(b) for b in inp["boxes"]]
        tile_sql = " UNION ALL ".join(
            f"SELECT '{t['tile_id']}' AS tile_id, doc_key AS doc_id FROM g WHERE "
            + _box_sql([t["x_start"], t["x_start"] + t["width"] - 1, t["y_start"], t["y_start"] + t["height"] - 1])
            for t in tiles
        )
        near = f"(SELECT doc_key, x, y FROM g WHERE {_bbox_sql(polys)})"
        e_tile, e_pip = [tag_id("tile_id"), SID], [tag_id("poly_id"), SID, "x", "y"]
        e_cell, e_batch = ["cell", "n_docs"], ["box_id", SID, "x", "y"]
        shift = 2 * DEFAULT.cell_shift
        k = f"analytics:{tag}:"
        return [
            Op("tile_assignment", "tiles", n,
               lambda: sink(tiles_ops.tile_assignment(geo, tiles), e_tile),
               _fp_check(ctx, k + "tiles", lambda: tile_sql, e_tile)),
            Op("pip_join", "pip", n,
               lambda: sink(pip_ops.pip_join(geo, polys), e_pip),
               _fp_check(ctx, k + "pip", lambda: "WITH " + pip_ops.pip_oracle_sql(polys, near)
                         + " SELECT poly_id, doc_key AS doc_id, x, y FROM pip WHERE crossings % 2 = 1", e_pip)),
            Op("salted_cell_counts", "skew", n,
               lambda: sink(skew.salted_cell_counts(geo), e_cell),
               _fp_check(ctx, k + "cells", lambda: f"SELECT hilbert >> {shift} AS cell, COUNT(*) AS n_docs FROM g GROUP BY 1", e_cell)),
            Op("grq_batch", "range_query", n,
               lambda: sink(rq.grq_batch(geo, boxes), e_batch),
               _fp_check(ctx, k + "batch", lambda: "WITH doc_geo AS (SELECT * FROM g) " + rq.grq_batch_oracle(boxes), e_batch)),
        ]

    def _pairs_ops(self, tag: str) -> list[Op]:
        from pyspark.sql import functions as F

        from hilbert_curve_spark.operators import dedup as dedup_ops
        from hilbert_curve_spark.operators import graph as graph_ops
        from hilbert_curve_spark.operators import spatial_join as sj
        from hilbert_curve_spark.operators import trajectory as traj

        ctx, w = self.ctx, WINDOW
        win = self.geo.filter(F.expr(_box_sql(w)))
        ev = self.events.filter(F.col("user_id") % USER_MOD == 0)
        docs = self.docs.filter(F.col("doc_id") % DOC_MOD == 0)
        n_win = ctx.expect(f"pairs:{tag}:n_win", lambda: win.count())
        n_ev = ctx.expect(f"pairs:{tag}:n_ev", lambda: ev.count())
        n_docs = ctx.expect(f"pairs:{tag}:n_docs", lambda: docs.count())
        wv, ev_v, dv = f"w_{tag}", f"ev_{tag}", f"docs_{tag}"

        def views(o):
            o.con.execute(f"CREATE OR REPLACE VIEW {wv} AS SELECT * FROM g WHERE {_box_sql(w)}")
            o.con.execute(f"CREATE OR REPLACE VIEW {ev_v} AS SELECT * FROM events WHERE user_id % {USER_MOD} = 0")
            o.con.execute(f"CREATE OR REPLACE VIEW {dv} AS SELECT * FROM documents WHERE doc_id % {DOC_MOD} = 0")

        e_pairs, e_db = [sid("doc_a"), sid("doc_b"), "dist2"], [SID, sid("cluster"), "is_core"]
        e_cov = ["user_a", "user_b", "shared_cells", "cells_a", "cells_b", "jac_pct"]
        e_cc, e_kg = ["doc_id", "rep_id"], [SID, "rank", sid("nbr_id"), "dist2"]
        k = f"pairs:{tag}:"
        return [
            Op("eps_pairs", "spatial_join", n_win,
               lambda: sink(sj.distance_self_join(win, DBSCAN_EPS), e_pairs),
               _fp_check(ctx, k + "eps", lambda: "WITH " + sj.distance_self_join_oracle(DBSCAN_EPS, wv), e_pairs, views)),
            Op("dbscan", "graph", n_win,
               lambda: sink(graph_ops.dbscan(win, DBSCAN_EPS, DBSCAN_MIN_PTS), e_db),
               _same_check(ctx, k + "dbscan", lambda r: r[0] > 0)),
            Op("covisit_pairs", "trajectory", n_ev,
               lambda: sink(traj.covisit_pairs(ev, cell_shift=8, min_shared=2), e_cov),
               _fp_check(ctx, k + "covisit", lambda: traj.covisit_pairs_oracle(8, 2, ev_v), e_cov, views)),
            Op("dedup_clusters", "dedup", n_docs,
               lambda: sink(graph_ops.dedup_clusters(dedup_ops.jaccard_pairs(docs, threshold_pct=JACCARD_T)), e_cc),
               _fp_check(ctx, k + "dedup", lambda: graph_ops.dedup_clusters_oracle(
                   dedup_ops.jaccard_pairs_oracle(dv, JACCARD_T)), e_cc, views)),
            Op("knn_graph", "spatial_join", n_win,
               lambda: sink(sj.knn_graph(win, KNN_GRAPH_K, KNN_GRAPH_RADIUS), e_kg),
               _fp_check(ctx, k + "knn_graph", lambda: knn_graph_blocked_oracle(KNN_GRAPH_K, KNN_GRAPH_RADIUS, wv), e_kg, views)),
        ]

    def warmup(self) -> None:
        from hilbert_curve_spark.operators import skew

        sink(skew.salted_cell_counts(self.geo), ["cell", "n_docs"])

    def jit_warmup(self) -> None:
        """The warm-up operation and a tile assignment over warm-up tiles."""
        from hilbert_curve_spark.operators import tiles as tiles_ops

        self.warmup()
        sink(tiles_ops.tile_assignment(self.geo, self.inputs(WARM_SEED)["tiles"]), [tag_id("tile_id"), SID])

    def cycles(self) -> Iterator[list[Op]]:
        tag = str(self.seed)
        ops = self._corpus_ops(self.inputs(self.seed), tag) + self._pairs_ops(tag)
        while True:
            yield ops

    def covisit_candidates(self, oracle) -> int:
        """Sum over cells of C(visitors, 2) for the events slice: the
        candidate volume of the co-visit self-join (one aggregate, outside
        every timed region)."""
        from hilbert_curve_spark.sources import derive

        step = 1 << 8
        return int(oracle.scalar(f"""
            SELECT COALESCE(SUM(n * (n - 1) // 2), 0) FROM (
              SELECT cell, COUNT(*) AS n FROM (
                SELECT DISTINCT user_id,
                  ({derive.x_sql('event_id')} // {step}) * {EDGE} + ({derive.y_sql('event_id')} // {step}) AS cell
                FROM events WHERE user_id % {USER_MOD} = 0) GROUP BY cell)"""))


# ---------------------------------------------------------------------------
# ingest_update
# ---------------------------------------------------------------------------

INGEST_FLAT = 128
INGEST_CYCLES = 64
COMPACT_UPTO = 2
INGEST_STAGES = ("corpus", "doc_geo", "prefix_index", "keyword_index")


class IngestUpdate:
    name = "ingest_update"

    @staticmethod
    def inputs(seed: int, n_cycles: int = INGEST_CYCLES, n_flat: int = INGEST_FLAT) -> dict:
        from .data import FLAT_DOCS

        rng = np.random.default_rng([seed, 4])
        batches = []
        for _ in range(n_cycles):
            ids = sorted(int(i) for i in rng.choice(FLAT_DOCS, n_flat, replace=False))
            batches.append({"doc_ids": ids, "box": _box(rng, 512, True)})
        return {"batches": batches}

    def __init__(self, spark, ctx: Context, seed: int):
        self.spark, self.ctx, self.seed = spark, ctx, seed

    def open(self) -> None:
        """Ingest reads only the generated source tables."""

    def _write_batch(self, ids: list[int], d: Path) -> Path:
        """The batch's flat documents, as generated (untimed input)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        t = ds.dataset(str(self.ctx.sf / "documents.parquet")).to_table()
        t = t.filter(pc.is_in(t["doc_id"], value_set=pa.array(ids, pa.int64())))
        (d / "documents.parquet").mkdir(parents=True, exist_ok=True)
        pq.write_table(t, d / "documents.parquet" / "part-00000.parquet")
        return d

    def _ops(self, batch: dict, tag: str) -> list[Op]:
        from pyspark.sql import functions as F

        from hilbert_curve_spark.checkpoint import CheckpointRunner, Stage
        from hilbert_curve_spark.operators import brq as brq_ops
        from hilbert_curve_spark.operators import range_query as rq
        from hilbert_curve_spark.operators import updates as upd
        from hilbert_curve_spark.operators.encode import encode_documents_native
        from hilbert_curve_spark.sources.interleave import build_documents
        from hilbert_curve_spark.sources.layout import write_sorted

        from .data import AMP

        spark, ctx = self.spark, self.ctx
        d = ctx.run_dir / f"ingest-{tag}"
        shutil.rmtree(d, ignore_errors=True)
        self._write_batch(batch["doc_ids"], d)
        root = d / "stages"
        runner = CheckpointRunner(spark, str(root))
        fp_inputs = {"batch": tag, "amp": AMP}
        read = lambda name: spark.read.parquet(str(root / name))  # noqa: E731
        builds = {
            "corpus": (lambda s, o: build_documents(s, str(d), amp=AMP), None),
            "doc_geo": (lambda s, o: encode_documents_native(read("corpus")), "hilbert"),
            "prefix_index": (lambda s, o: rq.prefix_index(read("doc_geo")), "pbits"),
            "keyword_index": (lambda s, o: brq_ops.keyword_index(read("doc_geo")), "keyword"),
        }
        n = len(batch["doc_ids"]) * AMP
        ids_sql = ", ".join(str(i) for i in batch["doc_ids"])
        bv = f"batch_{tag}"
        b = batch["box"]

        def views(o):
            o.con.execute(
                f"CREATE OR REPLACE VIEW {bv} AS SELECT *, CAST(substr(doc_key, 4) AS BIGINT) AS sid "
                f"FROM g WHERE CAST(substr(doc_key, 4) AS BIGINT) // 8192 IN ({ids_sql})"
            )

        def stream_sql() -> str:
            return " UNION ALL ".join(
                f"SELECT doc_key AS doc_id, {v} AS version, '{op}' AS op FROM {bv} WHERE {pred}"
                for v, op, pred in upd._BATCHES
            )

        def written(path: Path, exprs: list[str], oracle_sql: Callable[[], str]):
            def check(_result, oracle) -> bool:
                views(oracle)
                got = oracle.fingerprint(f"SELECT * FROM read_parquet('{path}/*.parquet')", exprs)
                return got == oracle.fingerprint(oracle_sql(), exprs)

            return check

        def stage_op(name: str) -> Op:
            build, key = builds[name]
            return Op(f"checkpoint.{name}", "checkpoint", n,
                      lambda: runner.run([Stage(name, build, key)], fp_inputs),
                      stage_checks[name])

        e_geo = [SID, "x", "y", "hilbert"]
        stage_checks = {
            "corpus": written(root / "corpus", [SID, "len(spans)"],
                              lambda: f"SELECT doc_key AS doc_id, [1, 2, 3, 4, 5, 6, 7][:5 + sid % 3] AS spans FROM {bv}"),
            "doc_geo": written(root / "doc_geo", e_geo,
                               lambda: f"SELECT doc_key AS doc_id, x, y, hilbert FROM {bv}"),
            "prefix_index": written(root / "prefix_index", ["pbits", "plen", SID],
                                    lambda: f"SELECT hilbert >> s AS pbits, 24 - s AS plen, doc_key AS doc_id FROM {bv}, range(0, 25) t(s)"),
            "keyword_index": written(root / "keyword_index", [tag_id("keyword"), SID],
                                     lambda: " UNION ".join(f"SELECT kw{j} AS keyword, doc_key AS doc_id FROM {bv}" for j in range(4))),
        }

        def sorted_check(_result, oracle) -> bool:
            import pyarrow.parquet as pq

            spans = []
            for f in sorted((d / "sorted").glob("*.parquet")):
                h = pq.read_table(f, columns=["hilbert"])["hilbert"].to_numpy()
                if len(h):
                    if np.any(np.diff(h) < 0):
                        return False
                    spans.append((int(h[0]), int(h[-1])))
            spans.sort()
            disjoint = all(a[1] <= b_[0] for a, b_ in zip(spans, spans[1:]))
            return disjoint and written(d / "sorted", e_geo,
                                        lambda: f"SELECT doc_key AS doc_id, x, y, hilbert FROM {bv}")(None, oracle)

        e_log = [SID, "version", "CASE WHEN op = 'add' THEN 1 ELSE 2 END"]

        def compact() -> None:
            log = upd.build_update_stream(spark, str(d), amp=AMP)
            upd.compact_log(log, COMPACT_UPTO).write.parquet(str(d / "compact"))

        def live():
            return upd.merge_on_read(spark.read.parquet(str(d / "compact")))

        live_sql = lambda: upd.merge_on_read_sql(stream_sql())  # noqa: E731
        e_live, e_grq = [SID], [SID, "x", "y"]

        k = f"ingest:{tag}:"
        return [
            *(stage_op(s) for s in INGEST_STAGES),
            Op("encode", "encode", n,
               lambda: sink(encode_documents_native(read("corpus")), e_geo),
               _fp_check(ctx, k + "encode", lambda: f"SELECT doc_key AS doc_id, x, y, hilbert FROM {bv}", e_geo, views)),
            Op("write_sorted", "layout", n,
               lambda: write_sorted(read("doc_geo"), str(d / "sorted"), partitions=8),
               sorted_check),
            Op("compact_log", "updates", n, compact,
               written(d / "compact", e_log, lambda: upd.compact_log_sql(stream_sql(), COMPACT_UPTO))),
            Op("merge_on_read", "updates", n,
               lambda: sink(live(), e_live), _fp_check(ctx, k + "live", live_sql, e_live, views)),
            Op("grq_live", "range_query", n,
               lambda: sink(rq.grq_range_mode(read("doc_geo").join(live(), "doc_id", "left_semi"), *b)
                            .select("doc_id", "x", "y"), e_grq),
               _fp_check(ctx, k + "grq", lambda: f"SELECT doc_key AS doc_id, x, y FROM {bv} WHERE {_box_sql(b)} "
                         f"AND doc_key IN (SELECT doc_id FROM ({live_sql()}))", e_grq, views)),
        ]

    def warmup(self) -> None:
        batch = {"doc_ids": list(range(4)), "box": [0, EDGE - 1, 0, EDGE - 1]}
        self._ops(batch, "warm")[0].run()
        shutil.rmtree(self.ctx.run_dir / "ingest-warm", ignore_errors=True)

    jit_warmup = warmup

    def cycles(self) -> Iterator[list[Op]]:
        for c, batch in enumerate(self.inputs(self.seed)["batches"]):
            yield self._ops(batch, f"{self.seed}_{c}")

    def stored_bytes(self) -> tuple[int, int]:
        """(index bytes written, corpus input bytes) over the run's
        completed cycles: doc_geo + prefix index + keyword index against
        the interleaved corpus they were built from."""
        stored = inp = 0
        for root in self.ctx.run_dir.glob("ingest-*/stages"):
            size = lambda p: sum(f.stat().st_size for f in p.rglob("*.parquet"))  # noqa: E731
            if (root / "keyword_index").exists():
                inp += size(root / "corpus")
                stored += sum(size(root / s) for s in INGEST_STAGES[1:])
        return stored, inp


class Batch:
    """The analytics operations, the pairs/graph operations and one
    ingest/update cycle, run as one cycle: the three share the fixed
    per-run cost of a Spark session, which keeps a full set of runs
    within the benchmark's time budget."""

    name = "batch"

    @staticmethod
    def inputs(seed: int) -> dict:
        return {"analytics": Analytics.inputs(seed), "ingest_update": IngestUpdate.inputs(seed)}

    def __init__(self, spark, ctx: Context, seed: int):
        self.analytics = Analytics(spark, ctx, seed)
        self.ingest = IngestUpdate(spark, ctx, seed)

    def open(self) -> None:
        self.analytics.open()
        self.ingest.open()

    def warmup(self) -> None:
        self.analytics.warmup()

    def jit_warmup(self) -> None:
        self.analytics.jit_warmup()

    def cycles(self) -> Iterator[list[Op]]:
        for a, i in zip(self.analytics.cycles(), self.ingest.cycles()):
            yield a + i

    def covisit_candidates(self, oracle) -> int:
        return self.analytics.covisit_candidates(oracle)

    def stored_bytes(self) -> tuple[int, int]:
        return self.ingest.stored_bytes()


def _validate(ctx: Context, **tables) -> None:
    """Row counts of the opened prepared tables, read from the parquet
    footers, against the manifest."""
    import pyarrow.parquet as pq

    for name in tables:
        got = sum(pq.ParquetFile(f).metadata.num_rows
                  for f in (ctx.prepared / name).glob("*.parquet"))
        want = ctx.manifest["rows"][name]
        if got != want:
            raise RuntimeError(f"prepared table {name}: {got} rows, manifest says {want}")


WORKLOADS = {w.name: w for w in (Lookup, Batch, Analytics, IngestUpdate)}
