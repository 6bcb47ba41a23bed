"""Physical-plan assertions: the engine's scale claims must be visible in
the actual Catalyst plans — filters pushed to the scan, broadcasts where
promised, no shuffle on the doc side of tile/pip joins, codegen in the
index build."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hilbert_curve_spark import workload as W
from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.curve.cover import cover_box, cover_polygon, merge_overlapping
from hilbert_curve_spark.operators import pip as pip_ops
from hilbert_curve_spark.operators import range_query as rq
from hilbert_curve_spark.operators import tiles as tiles_ops
from hilbert_curve_spark.operators.encode import encode_documents
from hilbert_curve_spark.sources.interleave import build_documents
from hilbert_curve_spark.sources.layout import read_sorted, write_sorted


@pytest.fixture(scope="module")
def sorted_geo(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "doc_geo")
    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    write_sorted(geo, path, partitions=8)
    return read_sorted(spark, path)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_predicate_pushed_to_scan(sorted_geo):
    q = rq.grq_range_mode(sorted_geo, **W.R1)
    plan = _plan(q)
    assert "PushedFilters" in plan
    # the hilbert cover must reach the parquet scan as pushed Or(GreaterThanOrEqual...)
    scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "hilbert" in scan_line


def test_range_query_has_no_shuffle(sorted_geo):
    q = rq.grq_range_mode(sorted_geo, **W.R1)
    assert "Exchange" not in _plan(q)  # pure pruned scan + filter


_EXACT_BOXES = [
    (100, 1099, 200, 1199),
    (1500, 2600, 300, 900),
    (37, 3000, 2500, 2600),
    (2047, 2049, 0, 4095),
]


def test_cover_predicate_matches_interval_membership(spark):
    """Thousands of exact ranges: the BPC per-level lookup keeps exactly the
    values inside the interval union, range endpoints and their neighbours
    included."""
    ranges = [
        r for b in _EXACT_BOXES for r in cover_box(*b, DEFAULT.order, max_ranges=0).ranges
    ]
    assert len(ranges) >= 2000
    ends = np.array(ranges).ravel()
    rng = np.random.default_rng(3)
    vals = np.unique(np.concatenate([
        rng.integers(0, 1 << DEFAULT.bits, 20000), ends - 1, ends, ends + 1,
    ]))
    vals = vals[(vals >= 0) & (vals < 1 << DEFAULT.bits)]
    merged = np.array(merge_overlapping(ranges))
    j = np.searchsorted(merged[:, 0], vals, side="right") - 1
    inside = (j >= 0) & (vals <= merged[np.maximum(j, 0), 1])
    frame = spark.createDataFrame([(int(v),) for v in vals], "hilbert long")
    got = {r.hilbert for r in frame.filter(rq.cover_predicate(ranges)).collect()}
    assert got == {int(v) for v in vals[inside]}
    # the prefix levels need the curve's bit width; a wider range fails loudly
    with pytest.raises(ValueError):
        rq.cover_predicate(ranges + [(1 << DEFAULT.bits, 1 << DEFAULT.bits)])


def test_cover_predicate_literal_pushes_to_scan(sorted_geo):
    """A cover of up to 64 ranges is the plain OR-of-BETWEEN; a longer one
    keeps a 64-range literal — both reach the parquet scan."""
    for ranges in (
        rq.compile_box(**W.R1).ranges,
        cover_box(*_EXACT_BOXES[0], DEFAULT.order, max_ranges=0).ranges,
    ):
        plan = _plan(sorted_geo.filter(rq.cover_predicate(ranges)))
        scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
        assert "hilbert" in scan_line
        assert ("shiftright" in plan) == (len(ranges) > 64)


def test_grq_prefix_mode_matches_brute_force(spark, sorted_geo):
    """Prefix mode answers from the index's leaf level — one filtered scan,
    no join, no shuffle — for covers below and above 64 exact ranges."""
    idx = rq.prefix_index(sorted_geo, DEFAULT)
    pts = [(r.doc_id, r.x, r.y) for r in sorted_geo.select("doc_id", "x", "y").collect()]
    boxes = [tuple(W.R3.values()), tuple(W.R1.values()), _EXACT_BOXES[1]]
    assert len(cover_box(*boxes[1], DEFAULT.order, max_ranges=0).ranges) > 64
    for x_lo, x_hi, y_lo, y_hi in boxes:
        q = rq.grq_prefix_mode(idx, x_lo, x_hi, y_lo, y_hi, DEFAULT)
        got = [r.doc_id for r in q.collect()]
        expect = {d for d, x, y in pts if x_lo <= x <= x_hi and y_lo <= y <= y_hi}
        assert expect and sorted(got) == sorted(expect)
        plan = _plan(q)
        assert "Join" not in plan and "Exchange" not in plan


def _assert_shape_probe(plan):
    """One pruned scan tagged in place: the literal shapes' cover union
    reaches the parquet scan, no join or broadcast table, no Python."""
    assert "Join" not in plan and "BroadcastExchange" not in plan
    scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "hilbert" in scan_line
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tile_assignment_is_pruned_scan_no_join(sorted_geo):
    plan = _plan(tiles_ops.tile_assignment(sorted_geo, W.TILES, DEFAULT))
    _assert_shape_probe(plan)
    assert "Exchange" not in plan


def test_tile_cells_encode_no_python(spark):
    """Tile cells get their Hilbert index from the codegen expression: no
    Python evaluation node, no shuffle."""
    plan = _plan(tiles_ops.tile_cells(spark, W.TILES, DEFAULT))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_pip_join_is_pruned_scan_no_join_no_python(sorted_geo):
    # the ray cast is a native aggregate() fold inside the tag
    _assert_shape_probe(_plan(pip_ops.pip_join(sorted_geo, W.POLYGONS, DEFAULT)))


def test_shape_probe_many_shapes_matches(spark):
    """Forty one-range shapes over a bare ``hilbert`` column: every value
    inside a shape's range is tagged with that shape, nothing else is."""
    ranges = [(i * 100, i * 100 + 1) for i in range(40)]
    docs = spark.range(0, 4000).select(F.col("id").alias("hilbert"))
    shapes = [([(lo, hi)], F.col("hilbert").between(lo, hi)) for lo, hi in ranges]
    out = rq.shape_probe(docs, shapes).collect()
    assert len(out) == 80  # two hilbert values inside each of the 40 ranges
    assert all(ranges[r.shape][0] <= r.hilbert <= ranges[r.shape][1] for r in out)


def test_prefix_index_is_codegen(sorted_geo):
    idx = rq.prefix_index(sorted_geo, DEFAULT)
    plan = _plan(idx)
    assert "*(" in plan  # whole-stage-codegen stage markers
    assert "BatchEvalPython" not in plan  # no per-row python anywhere
    assert "Exchange" not in plan  # explode is narrow


def test_file_pruning_on_sorted_layout(spark, sorted_geo):
    """Row-group/file statistics actually prune: a narrow hilbert range
    reads fewer rows than the full scan (observable via numOutputRows of
    the scan after filter pushdown — proxy: count with metrics)."""
    full = sorted_geo.count()
    lo, hi = 0, 1 << 10
    narrow = sorted_geo.filter(F.col("hilbert").between(lo, hi)).count()
    assert narrow < full


def test_s2_encode_is_shuffle_free_arrow(sorted_geo):
    """S2 encoding is an Arrow-batched projection in the scan stage: one
    pandas-UDF eval, no Exchange (the 100 TB shape — encode rides the scan)."""
    from hilbert_curve_spark.functions.cells import s2_cell_xyz_udf

    q = sorted_geo.select(
        "doc_id",
        s2_cell_xyz_udf(12)(
            F.col("x").cast("double") + 0.5,
            F.col("y").cast("double") + 0.5,
            (F.col("x") + F.col("y")).cast("double") + 0.5,
        ).alias("s2_cell"),
    )
    plan = _plan(q)
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython
    assert "BatchEvalPython" not in plan  # per-row Python ban
    assert "Exchange" not in plan


def test_ivf_assign_broadcasts_centroids(spark, sf_dir):
    """IVF assignment: the C-row centroid side is broadcast; the only
    Exchange is the windowed argmax's hash partition on vec_id."""
    from hilbert_curve_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(ivf_assign(emb, n_centroids=8))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan or (
        "BroadcastExchange" in plan
    )
    # no per-row Python anywhere: cosine is a codegen aggregate fold
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_stored_probe_is_partition_pruning(spark, sf_dir, tmp_path_factory):
    """The IVF scale claim, demonstrated: with the assignment stored as a
    cid-partitioned table, the probe filter lands in PartitionFilters (file
    pruning) — the query never scans the unprobed inverted lists — and the
    pruned plan returns the same top-k as the inline join pipeline."""
    from hilbert_curve_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_topk_stored,
        write_ivf_partitioned,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("ivf") / "assigned")
    write_ivf_partitioned(ivf_assign(emb, n_centroids=8), path)
    qv = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]

    got = ivf_topk_stored(spark, path, qv, k=10, nprobe=2)
    plan = _plan(got)
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cid" in pf_line and "cid" in pf_line.split("PartitionFilters")[1]
    inline = ivf_topk(emb, qv, k=10, nprobe=2)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in inline.collect()]


def test_lsh_stored_probe_is_partition_pruning(spark, sf_dir, tmp_path_factory):
    """The sign-LSH scale claim, demonstrated the way IVF's is: with the
    embeddings stored bucket-partitioned, the probe's isin lands in
    PartitionFilters (file pruning — unprobed buckets are never read) and
    the pruned plan returns the same top-k as the inline code-compute path."""
    from hilbert_curve_spark.operators.similarity import (
        ann_topk,
        ann_topk_stored,
        write_lsh_partitioned,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    nbits = 8  # 256 partitions max — file-sized inverted lists at test scale
    path = str(tmp_path_factory.mktemp("lsh") / "bucketed")
    write_lsh_partitioned(emb, path, dim=len(qv), nbits=nbits)

    got = ann_topk_stored(spark, path, qv, k=10, nbits=nbits, hamming_probe=1)
    plan = _plan(got)
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "bucket" in pf_line.split("PartitionFilters")[1]
    inline = ann_topk(emb, qv, k=10, nbits=nbits, hamming_probe=1)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in inline.collect()]


def test_hex_cells_is_codegen_single_exchange(sorted_geo):
    """Hex binning: the cell id is a pure codegen expression (no Python
    eval anywhere) and the histogram pays exactly one Exchange (the agg)."""
    from hilbert_curve_spark.functions.cells import hex_cell_expr

    q = (
        sorted_geo.select(hex_cell_expr("x", "y", 64).alias("hex_id"))
        .groupBy("hex_id")
        .count()
    )
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2  # partial+final agg exchange (AQE may show one)


def test_distance_join_is_single_shuffled_hash_join(sorted_geo):
    from hilbert_curve_spark.operators.spatial_join import distance_self_join

    plan = _plan(distance_self_join(sorted_geo, 12))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # an equi-join on the cell key (shuffled or, at fixture scale where the
    # exploded side fits the broadcast threshold, broadcast — never a loop)
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_knn_join_probe_is_pruned_scan_no_join(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.spatial_join import knn_join

    _assert_shape_probe(_plan(knn_join(sorted_geo, W.KNN_JOIN_QUERIES, 5)))


def test_cell_pyramid_scans_corpus_once(sorted_geo):
    """The rollup must be structurally one corpus pass: the explode-of-
    ancestors form has exactly one scan node regardless of level count."""
    from hilbert_curve_spark.operators.rollup import cell_pyramid

    plan = _plan(cell_pyramid(sorted_geo, levels=6))
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan


def _scan_filters(df):
    """The conditions of the Filters right above a relation in ``df``'s
    optimized plan, as whole Catalyst expressions (the executed plan's
    ``PushedFilters`` text is cut at 100 characters)."""
    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if node.getClass().getSimpleName() == "Filter" and all(
            k.getClass().getSimpleName() == "LogicalRelation" for k in kids
        ):
            out.append(node.condition())
        stack.extend(kids)
    return out


def test_pip_polygon_cover_prefilter_pushed(sorted_geo):
    """The PIP probe's one scan filter is the cover predicate of the union
    of the rasterized polygon covers, not of the polygons' bounding-box
    covers."""

    def scan_filter(ranges):
        (cond,) = _scan_filters(sorted_geo.filter(rq.cover_predicate(ranges)))
        return cond

    (got,) = _scan_filters(pip_ops.pip_join(sorted_geo, W.POLYGONS))
    polygon_ranges, bbox_ranges = [], []
    for p in W.POLYGONS:
        xs, ys = zip(*p["vertices"])
        polygon_ranges += cover_polygon(p["vertices"], DEFAULT.order, DEFAULT.max_ranges).ranges
        bbox_ranges += cover_box(
            min(xs), max(xs), min(ys), max(ys), DEFAULT.order, DEFAULT.max_ranges
        ).ranges
    assert got.semanticEquals(scan_filter(polygon_ranges))
    assert not got.semanticEquals(scan_filter(bbox_ranges))


def test_corridor_search_pruned_scan_no_join(sorted_geo):
    from hilbert_curve_spark.operators.spatial_join import corridor_search

    q = corridor_search(sorted_geo, W.ROUTE, W.CORRIDOR_R, DEFAULT)
    plan = _plan(q)
    # pure pruned scan + codegen residual: the route covers push to the
    # scan and no join/shuffle/Python appears anywhere
    assert "PushedFilters" in plan
    scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "hilbert" in scan_line
    assert "Join" not in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_stats_native_single_agg(spark, sf_dir):
    from hilbert_curve_spark.operators.spans import span_stats
    from hilbert_curve_spark.sources.interleave import build_documents

    plan = _plan(span_stats(build_documents(spark, sf_dir, amp=2)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan  # map-side partial aggregation active


def test_cell_kmv_native_no_python(sorted_geo):
    from hilbert_curve_spark.operators.rollup import cell_distinct_kmv

    plan = _plan(cell_distinct_kmv(sorted_geo))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_poi_nearest_join_is_broadcast_hash_no_python(sorted_geo):
    """Large-POI nearest: the doc side must hash-join the broadcast cell
    table (never BNLJ / cartesian) and stay Python-free; with the covering
    grid no doc drops (the within-radius semantics become global nearest)."""
    from hilbert_curve_spark.operators.spatial_join import nearest_join_bucketed

    pois = W.poi_grid(16)
    q = nearest_join_bucketed(sorted_geo, pois, W.poi_cover_radius(16))
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert q.count() == sorted_geo.count()  # covering set: nothing dropped


def test_geofence_join_is_broadcast_hash_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.events import geofence_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = geofence_join(events, W.many_fences(64))
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_geofence_join_equals_literal_chain(spark, sf_dir):
    """The bucketed join form must produce bit-identical counts to the
    literal when-chain geofence on the same fence set."""
    from hilbert_curve_spark.operators.events import geofence_counts, geofence_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    fences = W.many_fences(16)
    a = {tuple(r) for r in geofence_join(events, fences).collect()}
    b = {tuple(r) for r in geofence_counts(events, fences).collect()}
    assert a == b and a


def test_ranked_search_is_topk_no_python_no_bnlj(sorted_geo):
    """Ranked search: partial top-k (TakeOrderedAndProject, never a global
    sort), hash joins only (weights broadcast), and Python-free — the
    scoring is pure codegen integer arithmetic."""
    from hilbert_curve_spark.operators.brq import keyword_index, ranked_search

    q = ranked_search(
        sorted_geo,
        keyword_index(sorted_geo, keywords=W.RANKED_KWS),
        **W.R2,
        keywords=W.RANKED_KWS,
        k=W.RANKED_K,
        scale=W.RANKED_SCALE,
    )
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = q.collect()
    assert len(rows) == W.RANKED_K
    # scores are positive, sorted desc with doc_id tiebreak, and every doc
    # matched at least one query keyword
    scores = [(r["score"], r["doc_id"]) for r in rows]
    assert all(s > 0 for s, _ in scores)
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    assert all(1 <= r["n_matched"] <= len(W.RANKED_KWS) for r in rows)


def test_interval_join_is_equi_hash_no_bnlj(spark, sf_dir):
    """The event-time interval join must key on user_id (hash or sort-merge
    equi-join; broadcast is fine) with the time range as a residual — never
    a nested-loop/cartesian plan, and fully Python-free."""
    from hilbert_curve_spark.operators.events import interval_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(interval_join(events, "click", "purchase", 30))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_adaptive_assign_broadcast_no_bnlj(sorted_geo):
    from hilbert_curve_spark.operators.adaptive import adaptive_assign

    q = adaptive_assign(sorted_geo, W.ADAPT_CAP, W.ADAPT_SHIFT, W.ADAPT_LEVELS)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan        # base-cell lookup broadcasts
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zonal_overlay_no_join_no_python(sorted_geo):
    from hilbert_curve_spark.operators.spatial_join import zonal_overlay

    q = zonal_overlay(sorted_geo, W.ZONES, W.OVERLAY_SAMPLE_MOD, W.OVERLAY_MAX_EXTENT)
    plan = _plan(q)
    assert "Join" not in plan                 # literal zones: explode, not join
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_local_moran_no_python_no_bnlj(sorted_geo):
    from hilbert_curve_spark.operators.rollup import local_moran

    q = local_moran(sorted_geo, W.MORAN_SHIFT)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only nested-loop is the 1-row broadcast of the global total (the
    # extent pattern) — the cell-side joins must be hash joins
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_partition_bounds_no_python(sorted_geo):
    from hilbert_curve_spark.operators.partitioning import partition_bounds

    q = partition_bounds(sorted_geo, W.PBOUNDS_BUCKETS)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan                 # explode+filter, not a range join


def test_road_coverage_gaps_no_shuffle_no_python(sorted_geo):
    from hilbert_curve_spark.operators.spatial_join import road_coverage_gaps

    q = road_coverage_gaps(sorted_geo, W.ROADS, W.GAP_RADIUS)
    plan = _plan(q)
    assert "Exchange" not in plan             # pure projection + filter
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_st_cube_trend_single_cell_shuffle_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import st_cube_trend

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = st_cube_trend(events, cell_shift=8, n_bins=8, s_min=6)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only nested-loop is the 1-row min/max broadcast (extent pattern);
    # the S statistic is pure codegen over the aggregated columns — no
    # window, no cell-side join
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_bearing_histogram_one_window_no_join_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import bearing_histogram

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = bearing_histogram(events, cell_shift=8)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan                 # lag window + hash agg only
    assert plan.count("Window") == 1


def test_radius_gyration_single_agg_no_window_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import radius_gyration

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = radius_gyration(events)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan and "Window" not in plan
    # one-pass centroid expansion: exactly ONE shuffle (user_id hash agg)
    assert plan.count("Exchange") == 1


def test_rknn_counts_no_bnlj_no_python(sorted_geo):
    from hilbert_curve_spark.operators.spatial_join import rknn_counts

    q = rknn_counts(sorted_geo, W.POIS)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # argmin is a codegen projection; the only joins are the |P|-row
    # literal frame against the |P|-row aggregate — broadcast hash, never
    # a nested loop over the corpus
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_covisit_pairs_hash_joins_only_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import covisit_pairs

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = covisit_pairs(events, cell_shift=8, min_shared=2)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cell_visit_gaps_single_cell_shuffle_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import cell_visit_gaps

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = cell_visit_gaps(events, cell_shift=8)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    # lag window, median rank window, and the final agg all partition by
    # cell: ONE shuffle feeds the whole pipeline
    assert plan.count("Exchange") == 1


def test_knox_stat_hash_pair_joins_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import knox_stat

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = knox_stat(events, s_radius=64, t_window=3600)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # pair generation must be blocked equi hash joins; the only nested
    # loops are the two 1-row aggregate broadcasts assembling the result row
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_impossible_travel_one_window_no_join_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import impossible_travel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = impossible_travel(events, vmax=2)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_idw_surface_blocked_hash_join_no_python(sorted_geo):
    from hilbert_curve_spark.operators.spatial_join import idw_surface

    q = idw_surface(sorted_geo, grid_shift=8, radius=96)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geo_funnel_user_keyed_no_window_no_python(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.trajectory import geo_funnel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = geo_funnel(events, W.POLYGONS[2], W.POLYGONS[1], within_s=86400)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan              # aggs + joins only, no window
    # the only nested loops are the two 1-row summary broadcasts
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_cell_peak_hours_window_over_aggregate_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import cell_peak_hours

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = cell_peak_hours(events, cell_shift=8)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    # the argmax windows run over the (cell, hour) AGGREGATE: a HashAggregate
    # must appear below the Window in the plan text
    assert "HashAggregate" in plan


def test_cell_recency_scores_single_agg_no_window_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import cell_recency_scores

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = cell_recency_scores(events, cell_shift=8)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan
    # only the 1-row frontier broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_companion_pairs_hash_joins_only_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import companion_pairs

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = companion_pairs(events, cell_shift=9, window_minutes=360, min_windows=3)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cell_trigrams_partial_topk_no_join_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import cell_trigrams

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = cell_trigrams(events, cell_shift=8, top_k=20)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan    # partial top-k, no global sort


def test_cell_dow_anomaly_single_agg_no_window_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import cell_dow_anomaly

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = cell_dow_anomaly(events, cell_shift=8)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1        # one cell shuffle


def test_compaction_plan_manifest_scale_no_python(spark, sf_dir):
    from hilbert_curve_spark.sources.export import compaction_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = compaction_plan(docs, n_shards=64, target_rows=120)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    # the global-order window sees only the |shards|-row manifest: a
    # HashAggregate must sit below the Window
    assert "HashAggregate" in plan and "Window" in plan


def test_pip_rings_pruned_scan_no_join_no_python(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.pip import pip_rings_join

    _assert_shape_probe(_plan(pip_rings_join(sorted_geo, W.RING_POLYGONS)))


def test_cell_isochrone_grid_bounded_single_arrow_task(sorted_geo):
    # the corpus side must stay native (salted hash agg, zero Python);
    # the BFS runs as exactly ONE grouped-map Arrow task over the
    # grid-bounded histogram — never a per-row UDF, never corpus rows
    # through Python, never a driver-round join loop
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.rollup import cell_isochrone

    q = cell_isochrone(
        sorted_geo, [(x, y) for _, x, y in W.POIS], W.ISO_MAX_HOPS, W.TOPKW_SHIFT
    )
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "HashAggregate" in plan  # the histogram feeds the Arrow task
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cell_cost_distance_grid_bounded_single_arrow_task(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.rollup import cell_cost_distance

    q = cell_cost_distance(
        sorted_geo, [(x, y) for _, x, y in W.POIS], W.COST_BUDGET, W.TOPKW_SHIFT
    )
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hotspot_regions_grid_bounded_single_arrow_task(sorted_geo):
    from hilbert_curve_spark.operators.rollup import hotspot_regions

    q = hotspot_regions(sorted_geo, min_docs=3, shift=6)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_percolation_curve_grid_bounded_single_arrow_task(sorted_geo):
    from hilbert_curve_spark.operators.rollup import percolation_curve

    q = percolation_curve(sorted_geo, [1, 4, 16], shift=6)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_watershed_basins_grid_bounded_single_arrow_task(sorted_geo):
    from hilbert_curve_spark.operators.rollup import watershed_basins

    q = watershed_basins(sorted_geo, shift=6)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tile_topk_single_corpus_window_no_python(sorted_geo):
    from hilbert_curve_spark.operators.rollup import tile_feature_topk

    q = tile_feature_topk(sorted_geo, 4, 3)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the zoom-0 corpus window is behind the checkpoint: the final plan's
    # windows run over the k-bounded survivors only, one per higher zoom
    assert plan.count("Scan ExistingRDD") >= 1


def test_cell_skyline_no_quadratic_join_no_python(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.brq import cell_skyline

    q = cell_skyline(sorted_geo, W.TOPKW_SHIFT)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # dominance resolved by the broadcast of the volume-group frame — the
    # cells^2 self-join exists only in the oracle
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_user_home_scd_single_user_shuffle_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import user_home_scd

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = user_home_scd(events, cell_shift=8)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # pure agg + windows, no join anywhere


def test_grq_batch_one_pass_no_join_no_python(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.range_query import grq_batch

    q = grq_batch(sorted_geo, W.batch_boxes())
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # N queries, zero joins — one tagged pass
    assert "Exchange" not in plan  # and zero shuffles


def test_cell_flow_balance_od_bounded_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import cell_flow_balance

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(cell_flow_balance(events, 60, 8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_geo_topk_no_python_no_join(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.similarity import geo_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = geo_cosine_topk(emb, W.ANN_QUERY, **W.GEO_ANN_BOX, k=W.ANN_K)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # filter + fold cosine + TakeOrdered only
    assert "TakeOrderedAndProject" in plan  # distributed partial top-k


def test_cell_morphology_cells_bounded_no_python(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.rollup import cell_morphology

    plan = _plan(cell_morphology(sorted_geo, W.MORPH_SHIFT, W.MORPH_MIN))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_user_drift_single_shuffle_no_join_no_python(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.trajectory import user_drift

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(user_drift(events, W.DRIFT_DAYS))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    # one user_id exchange feeds both the agg and the lag window
    assert plan.count("Exchange hashpartitioning") <= 2


def test_geofence_dwell_no_join_no_python(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.events import geofence_dwell

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(geofence_dwell(events, W.POLYGONS, W.DWELL_GAP_MIN))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # literal fences tag in codegen, no join


def test_user_retention_events_shuffled_once_no_python(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.events import user_retention

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(user_retention(events, W.RETENTION_DAYS))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_snapshot_diff_one_agg_no_window_no_join(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.updates import (
        build_update_stream,
        snapshot_diff,
    )

    log = build_update_stream(spark, sf_dir, amp=4)
    plan = _plan(snapshot_diff(log, W.DIFF_FROM, W.DIFF_TO))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan  # packed conditional MAX, not a row_number fold


def test_span_transitions_array_native_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.spans import span_kind_transitions
    from hilbert_curve_spark.sources.interleave import build_documents

    docs = build_documents(spark, sf_dir, amp=2)
    plan = _plan(span_kind_transitions(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_od_asymmetry_od_bounded_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import od_asymmetry

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(od_asymmetry(events, 60, 8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_cell_bands_no_python(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.rollup import cell_percentile_bands

    plan = _plan(cell_percentile_bands(sorted_geo, W.BANDS, W.TOPKW_SHIFT))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_user_entropy_two_aggs_no_join_no_window_no_python(spark, sf_dir):
    from hilbert_curve_spark.operators.trajectory import user_entropy

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(user_entropy(events, 8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_changelog_keywords_broadcasts_diff_no_python(spark, sf_dir):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.updates import (
        build_update_stream,
        changelog_keywords,
        snapshot_diff,
    )
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=2))
    diff = snapshot_diff(
        build_update_stream(spark, sf_dir, amp=2), W.DIFF_FROM, W.DIFF_TO
    )
    plan = _plan(changelog_keywords(diff, geo))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # the tiny diff side broadcasts
    assert "BroadcastNestedLoopJoin" not in plan


def test_grid_kmeans_assign_is_codegen_no_doc_join(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.graph import grid_kmeans

    q = grid_kmeans(sorted_geo, W.KMEANS_K, 1, W.TOPKW_SHIFT)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only join is the k-row centroid VALUES attach — never a doc join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_occupancy_profile_no_python(sorted_geo):
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.rollup import occupancy_profile

    plan = _plan(occupancy_profile(sorted_geo, W.PYRAMID_LEVELS))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_kmv_merge_no_python_no_cartesian_blowup(sorted_geo):
    from hilbert_curve_spark.operators.rollup import kmv_merge

    plan = _plan(kmv_merge(sorted_geo, 8, 16))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only cross join is 1-row x 1-row (merged x direct arms)
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


def test_pack_mm_no_explode_single_window_no_python(spark, sf_dir):
    """pack_mm's per-doc cost is pure array algebra: no Generate (explode)
    node, exactly one Window, no Python stages."""
    from hilbert_curve_spark.operators.spans import pack_mm

    q = pack_mm(build_documents(spark, sf_dir, amp=4), 512, 16, 8)
    plan = _plan(q)
    # no per-SPAN rows ever exist: the only Generate is the corpus
    # amplification's rep explode (one row per derived DOC), never an
    # explode of the spans column
    assert "explode(spans" not in plan and "posexplode" not in plan
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spatial_split_broadcast_block_join_no_python(sorted_geo):
    """spatial_split evaluates the 9-fold membership once per BLOCK on a
    grid-sized frame and broadcast-hash-joins it to the docs: the doc
    side must see a BroadcastHashJoin, never a BNLJ, and no Python."""
    from hilbert_curve_spark.operators.partitioning import spatial_split

    plan = _plan(spatial_split(sorted_geo, W.SPLIT_SHIFT, W.SPLIT_TEST_MOD))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_spans_salted_two_level_no_python(spark, sf_dir):
    """The distinct-doc count runs as the salted two-level agg (two
    HashAggregate pairs before the top-k) with no Python stages."""
    from hilbert_curve_spark.operators.spans import boilerplate_spans

    q = boilerplate_spans(build_documents(spark, sf_dir, amp=4), 10, 5)
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrdered" in plan  # partial top-k, nothing globally sorted


def test_source_overlap_distinct_before_join(spark, sf_dir):
    """The fp self-join must consume the DISTINCT (source, fp) frames —
    the distinct is the fan-out/skew guard — and stay a hash join."""
    from hilbert_curve_spark.operators.dedup import source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(source_overlap(docs))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # distinct (partial+final) + final agg


def test_length_deciles_histogram_sized_windows(spark, sf_dir):
    """Everything after the first aggregate runs on the histogram: the
    scan-side frame is aggregated before any window/explode."""
    from hilbert_curve_spark.operators.textops import length_deciles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(length_deciles(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the Generate (sequence explode) must sit ABOVE the first HashAggregate
    gen = plan.find("Generate")
    agg = plan.rfind("HashAggregate")
    assert gen != -1 and agg != -1 and gen < agg  # explode feeds off the histogram
