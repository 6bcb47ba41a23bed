"""Tier-1 smoke test of ``bench.py``: its timed set is pinned to spec rows,
and the bench loop runs through the bench ctx on the smallest fixture."""

import os

import bench

import __spark_entry__ as E

# the 164 queries the bench times; a change here is a change of the suite
BENCH_NAMES = {
    "activity_cube", "adaptive_assign", "adaptive_cells", "anon_cells",
    "bearing_histogram", "bloom_fetch", "boilerplate_spans", "brq_all", "brq_any",
    "brq_manifest", "caption_pairs", "cell_autocorr", "cell_bands", "cell_change",
    "cell_cost_distance", "cell_density", "cell_dow_anomaly",
    "cell_embedding_profile", "cell_flow_balance", "cell_gradient",
    "cell_isochrone", "cell_keyword_gini", "cell_kmv", "cell_mad_anomaly",
    "cell_morphology", "cell_peak_hours", "cell_pyramid", "cell_recency_scores",
    "cell_sample", "cell_skyline", "cell_stats", "cell_top_keyword",
    "cell_trigrams", "cell_visit_gaps", "colocation_pairs", "commute_matrix",
    "compact_cells", "compaction_plan", "companion_pairs", "construction2_grq",
    "containment_pairs", "contamination_scan", "contamination_scan_ac",
    "convex_layers", "core_area", "corridor_search", "covisit_pairs",
    "curve_locality", "dbscan_clusters", "dedup_clusters", "density_decay_fit",
    "diff_keywords", "distance_pairs", "doc_event_join", "doc_repetition",
    "embed_cluster_purity", "emerging_hotspots", "events_geofence",
    "events_interval_join", "fence_peak_occupancy", "flow_accumulation",
    "focal_stats", "geo_funnel", "geo_topk", "geofence_dwell", "geofence_join",
    "geohash_search", "global_moran", "gravity_residuals", "grid_kmeans",
    "grq_asof", "grq_batch", "grq_manifest", "grq_prefix", "grq_range",
    "heavy_hitters", "hotspot_persistence", "hotspot_regions", "hull_points",
    "idw_surface", "impossible_travel", "ivf_topk", "keyword_bitmap",
    "keyword_cooccurrence", "keyword_extents", "keyword_lift", "keyword_updates",
    "kmv_merge", "knn", "knn_graph", "knn_join", "knn_pagerank", "knn_triangles",
    "knox_stat", "label_knn_accuracy", "lbp_census", "length_deciles",
    "local_moran", "markov_accuracy", "media_dedup", "media_frames",
    "minhash_pairs", "mixture_plan", "nearest_poi", "occupancy_profile",
    "od_asymmetry", "od_flows", "pack_mm", "pack_sequences", "pair_histogram",
    "partition_bounds", "peak_paths", "percolation_curve", "pip_join", "pip_rings",
    "poi_distance_join", "poi_nearest_join", "pq_topk", "radius_brq",
    "radius_gyration", "ranked_search", "raster_ivm", "rect_join", "rknn_counts",
    "road_coverage_gaps", "road_snap_join", "segment_crossings", "skew_report",
    "snap_to_road", "snapshot_diff", "source_caps", "source_overlap",
    "source_profile", "span_chunks", "span_chunks_inline", "span_stats",
    "span_transitions", "spatial_split", "st_cube_trend", "stay_contacts",
    "stay_points", "str_pack", "tile_assign", "tile_topk", "traj_hausdorff",
    "traj_resample", "traj_simplify", "trips", "typo_pairs", "user_drift",
    "user_entropy", "user_home_cells", "user_home_scd", "user_retention",
    "visibility_pairs", "viterbi_match", "vocab_growth", "voronoi_zones",
    "watershed_basins", "weighted_sample", "zonal_median", "zonal_overlay",
    "zonal_stats", "zorder_range",
}

# one timed spec per input kind the bench ctx prepares
KIND_PICKS = {
    "grq_range": "doc_geo",
    "trips": "events",
    "heavy_hitters": "documents",
    "ivf_topk": "embeddings",
    "span_stats": "corpus",
}


def test_bench_times_the_pinned_spec_rows():
    specs = bench.bench_specs()
    assert len(specs) == len(BENCH_NAMES) == 164
    assert {s.name for s in specs} == BENCH_NAMES
    assert all(s in E.SPECS for s in specs)


def test_bench_loop_runs_each_input_kind(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "WORK", str(tmp_path))
    ctx, n_docs = bench.bench_ctx(spark, amp=2)
    assert n_docs > 0
    for kind in KIND_PICKS.values():
        files = getattr(ctx, kind).inputFiles()
        assert files and all(str(tmp_path) in f for f in files), kind
    draws = bench.time_specs(ctx, bench.bench_specs(KIND_PICKS), draws=1)
    assert set(draws) == set(KIND_PICKS)
    assert all(len(d) == 1 and d[0] > 0 for d in draws.values())


def test_ctx_store_is_removed_at_exit_unless_given(tmp_path, monkeypatch):
    """A ctx-made store dir is removed at interpreter exit; a caller-given
    ``store_dir`` (the bench cache) is never registered for removal."""
    calls = []
    monkeypatch.setattr(E.atexit, "register", lambda fn, *a, **kw: calls.append((fn, a, kw)))

    def write(path):
        os.makedirs(path)

    own = E.Ctx(None, "unused").stored("layout", write)
    assert len(calls) == 1 and os.path.isdir(own)
    fn, args, kwargs = calls[0]
    fn(*args, **kwargs)
    assert not os.path.exists(os.path.dirname(own))

    given = E.Ctx(None, "unused", store_dir=str(tmp_path)).stored("layout", write)
    assert len(calls) == 1 and given == str(tmp_path / "layout") and os.path.isdir(given)
