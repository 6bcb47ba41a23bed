"""Wave-20 operators: streaming geofence funnel (stream == batch summary)
and the per-cell keyword Herfindahl concentration raster."""

from hilbert_curve_spark import workload as W


def test_geo_funnel_stream_matches_batch_summary(spark, sf_dir):
    import __spark_entry__ as entry_mod
    from hilbert_curve_spark.operators.trajectory import geo_funnel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = geo_funnel(
        events, W.POLYGONS[2], W.POLYGONS[1], within_s=86400
    ).collect()[0]
    streamed = entry_mod.queries()["events_stream_funnel"](spark, sf_dir).collect()[0]
    assert (
        streamed.n_users,
        streamed.n_reached_a,
        streamed.n_converted,
        streamed.conv_ppm,
    ) == (batch.n_users, batch.n_reached_a, batch.n_converted, batch.conv_ppm)
    assert streamed.n_converted > 0


def test_geo_funnel_stream_conversion_times_match_batch(spark, sf_dir):
    """The stream's per-user (t_a, t_b) rows equal the batch first-A /
    first-qualifying-B times — stronger than the summary comparison."""
    from pyspark.sql import functions as F

    from hilbert_curve_spark.operators.pip import inside_polygon_expr
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.streaming import event_streams as es
    import __spark_entry__ as entry_mod

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = event_points(events)
    in_a = inside_polygon_expr(W.POLYGONS[2]["vertices"], "ex", "ey")
    in_b = inside_polygon_expr(W.POLYGONS[1]["vertices"], "ex", "ey")
    rows = [
        (r.user_id, r.ep, r.a, r.b)
        for r in pts.select(
            "user_id", "ep", in_a.alias("a"), in_b.alias("b")
        ).collect()
    ]
    t_a = {}
    for uid, ep, a, _ in rows:
        if a:
            t_a[uid] = min(t_a.get(uid, ep), ep)
    t_b = {}
    for uid, ep, _, b in rows:
        if b and uid in t_a and ep >= t_a[uid]:
            t_b[uid] = min(t_b.get(uid, ep), ep)
    expect = {
        (uid, t_a[uid], tb)
        for uid, tb in t_b.items()
        if tb - t_a[uid] <= 86400
    }

    import shutil
    import tempfile

    replay = events.withColumn("ts", F.col("ts").cast("timestamp")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tempfile.mkdtemp(prefix="hcs_stream_src_")
    replay.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(es.EVENTS_SCHEMA).parquet(src)
    conv = entry_mod._run_stream_to_df(
        spark,
        es.geo_funnel_stream(stream, W.POLYGONS[2], W.POLYGONS[1], within_s=86400),
        "append",
        "t_funnel",
    )
    shutil.rmtree(src, ignore_errors=True)
    got = {(r.user_id, r.t_a, r.t_b) for r in conv.collect()}
    assert got == expect


def test_cell_keyword_gini_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.brq import cell_keyword_gini
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents

    shift = 6
    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    grid = 4096 >> shift
    rows = [
        (r.x, r.y, list(r.keywords))
        for r in geo.select("x", "y", "keywords").collect()
    ]
    cells = {}
    for x, y, kws in rows:
        gcell = (x >> shift) * grid + (y >> shift)
        d = cells.setdefault(gcell, {})
        for kw in kws:
            d[kw] = d.get(kw, 0) + 1
    expect = set()
    for gcell, d in cells.items():
        total = sum(d.values())
        sq = sum(n * n for n in d.values())
        expect.add((gcell, total, len(d), 1_000_000 * sq // (total * total)))
    got = {
        (r.gcell, r.n_kw_slots, r.n_distinct_kw, r.hhi_ppm)
        for r in cell_keyword_gini(geo, shift).collect()
    }
    assert got == expect
    # concentration must vary across cells (hot clusters share keywords)
    assert len({h for *_, h in expect}) >= 3
