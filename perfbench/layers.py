"""Per-layer metrics of a traced run.

Every name below is printed by every traced run; a layer the workload
does not call reports 0.  Per-operation figures are means over the traced
operations unless the name says otherwise; ``<layer>.s`` and the named
``*_s`` timings are medians of that layer's operation latencies.

``trace.overhead_pct`` compares the traced half of a run with the
untraced half that ran just before it in the same JVM; the traced half
also runs on a warmer JIT, so the figure understates the overhead.
"""

from __future__ import annotations

import statistics

MB = 1e6

UNITS: dict[str, str] = {
    "curve.cover_ms": "ms",
    "curve.cover_ranges": "count",
    "curve.bpc_prefixes": "count",
    **{f"{m}.{k}": u for m in ("range_query", "brq", "knn")
       for k, u in (("s", "s"), ("rows_read_per_row_returned", "ratio"), ("bytes_read_mb", "MB"))},
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.task_wait_ms": "ms",
    **{f"{m}.{k}": u for m in ("tiles", "pip", "spatial_join", "skew")
       for k, u in (("s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("task_skew", "ratio"))},
    "spatial_join.pairs_s": "s",
    "spatial_join.pairs": "count",
    "graph.cc_s": "s",
    "graph.cc_jobs": "count",
    "graph.cc_input_edges": "count",
    "trajectory.covisit_s": "s",
    "trajectory.covisit_candidates": "count",
    "trajectory.covisit_pairs_per_candidate": "ratio",
    "dedup.jaccard_s": "s",
    "dedup.pairs": "count",
    "encode.s": "s",
    "layout.write_sorted_s": "s",
    **{f"checkpoint.{s}_s": "s" for s in ("corpus", "doc_geo", "prefix_index", "keyword_index")},
    "checkpoint.jobs_per_stage": "count",
    "checkpoint.bytes_written_mb": "MB",
    "updates.compact_s": "s",
    "updates.merge_on_read_s": "s",
    "updates.log_rows": "count",
    "stage.executor_cpu_s": "s",
    "stage.gc_s": "s",
    "stage.spill_mb": "MB",
    "trace.overhead_pct": "%",
}


def untimed_extras(wl, tracer, oracle) -> dict:
    """Counts that cost work of their own, taken after the timed loop:
    connected-components input edges and the co-visit candidate volume."""
    for s in tracer.spans:
        if s["name"] == "connected_components":
            s["attrs"]["input_edges"] = s.pop("args")[0].count()
    out = {}
    if hasattr(wl, "covisit_candidates"):
        out["covisit_candidates"] = wl.covisit_candidates(oracle)
    return out


def _mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(records, tracer, folded, extras, untraced, traced) -> dict[str, float]:
    from .trace import span_totals

    ok = [r for r in records if r["error"] is None and r["span"] is not None]
    for r in ok:
        r["stages"] = span_totals(tracer, folded, r["span"])
        r["rows"] = r["result"][0] if isinstance(r["result"], tuple) else None
    by_layer = lambda layer: [r for r in ok if r["op"].layer == layer]  # noqa: E731
    by_name = lambda name: [r for r in ok if r["op"].name == name]  # noqa: E731
    nested = lambda r, name: [s for s in tracer.descendants(r["span"]["id"]) if s["name"] == name]  # noqa: E731
    out: dict[str, float] = {}

    covers = [s for r in ok for s in tracer.descendants(r["span"]["id"]) if s["layer"] == "curve"]
    cover_ops = [r for r in ok if any(s["layer"] == "curve" for s in tracer.descendants(r["span"]["id"]))]
    n_cover_ops = max(1, len(cover_ops))
    out["curve.cover_ms"] = 1000 * sum(s["s"] for s in covers) / n_cover_ops
    out["curve.cover_ranges"] = sum(s["attrs"].get("ranges", 0) for s in covers) / n_cover_ops
    bpc = [r for r in ok if nested(r, "bpc_cover_of_ranges")]
    out["curve.bpc_prefixes"] = _mean(
        sum(s["attrs"]["prefixes"] for s in nested(r, "bpc_cover_of_ranges")) for r in bpc
    )

    for m in ("range_query", "brq", "knn"):
        rs = by_layer(m)
        out[f"{m}.s"] = _median(r["s"] for r in rs)
        returned = sum(r["rows"] or 0 for r in rs)
        out[f"{m}.rows_read_per_row_returned"] = (
            sum(r["stages"]["input_records"] for r in rs) / returned if returned else 0.0
        )
        out[f"{m}.bytes_read_mb"] = _mean(r["stages"]["input_bytes"] / MB for r in rs)

    out["session.jobs_per_op"] = _mean(r["stages"]["jobs"] for r in ok)
    out["session.tasks_per_op"] = _mean(r["stages"]["tasks"] for r in ok)
    out["session.task_wait_ms"] = _mean(r["stages"]["task_wait_ms"] for r in ok)

    for m in ("tiles", "pip", "spatial_join", "skew"):
        rs = by_layer(m)
        out[f"{m}.s"] = _median(r["s"] for r in rs)
        out[f"{m}.shuffle_write_mb"] = _mean(r["stages"]["shuffle_write_bytes"] / MB for r in rs)
        out[f"{m}.shuffle_read_mb"] = _mean(r["stages"]["shuffle_read_bytes"] / MB for r in rs)
        out[f"{m}.task_skew"] = _median((r["stages"]["task_skew"] for r in rs), 0.0)

    eps = by_name("eps_pairs")
    out["spatial_join.pairs_s"] = _median(r["s"] for r in eps)
    out["spatial_join.pairs"] = _mean(r["rows"] for r in eps)

    cc = [s for r in ok for s in nested(r, "connected_components")]
    out["graph.cc_s"] = _mean(s["s"] for s in cc)
    out["graph.cc_jobs"] = _mean(span_totals(tracer, folded, s)["jobs"] for s in cc)
    out["graph.cc_input_edges"] = _mean(s["attrs"]["input_edges"] for s in cc)

    cov = by_name("covisit_pairs")
    out["trajectory.covisit_s"] = _median(r["s"] for r in cov)
    cands = extras.get("covisit_candidates", 0)
    out["trajectory.covisit_candidates"] = cands
    pairs = _mean(r["rows"] for r in cov)
    out["trajectory.covisit_pairs_per_candidate"] = pairs / cands if cands else 0.0

    # dedup_clusters = Jaccard join + connected components over its pairs
    dd = by_name("dedup_clusters")
    out["dedup.jaccard_s"] = _median(r["s"] - sum(s["s"] for s in nested(r, "connected_components")) for r in dd)
    out["dedup.pairs"] = _mean(s["attrs"]["input_edges"] for r in dd for s in nested(r, "connected_components"))

    out["encode.s"] = _median(r["s"] for r in by_name("encode"))
    out["layout.write_sorted_s"] = _median(r["s"] for r in by_name("write_sorted"))
    ck = by_layer("checkpoint")
    for stage in ("corpus", "doc_geo", "prefix_index", "keyword_index"):
        out[f"checkpoint.{stage}_s"] = _median(r["s"] for r in by_name(f"checkpoint.{stage}"))
    out["checkpoint.jobs_per_stage"] = _mean(r["stages"]["jobs"] for r in ck)
    out["checkpoint.bytes_written_mb"] = _mean(r["stages"]["output_bytes"] / MB for r in ck)
    out["updates.compact_s"] = _median(r["s"] for r in by_name("compact_log"))
    out["updates.merge_on_read_s"] = _median(r["s"] for r in by_name("merge_on_read"))
    out["updates.log_rows"] = _mean(r["stages"]["output_records"] for r in by_name("compact_log"))

    out["stage.executor_cpu_s"] = _mean(r["stages"]["cpu_ms"] / 1000 for r in ok)
    out["stage.gc_s"] = _mean(r["stages"]["gc_ms"] / 1000 for r in ok)
    out["stage.spill_mb"] = _mean(r["stages"]["spill_bytes"] / MB for r in ok)
    out["trace.overhead_pct"] = (
        100.0 * (traced["op_p50_s"] / untraced["op_p50_s"] - 1.0) if untraced and traced else 0.0
    )
    assert set(out) == set(UNITS), set(out) ^ set(UNITS)
    return out
