"""Skew utilities: salted operations must be result-identical to their
unsalted forms (salting changes the physical distribution only)."""

from pyspark.sql import functions as F

from hilbert_curve_spark.config import EngineConfig
from hilbert_curve_spark.operators.skew import grid_keys, salted_cell_counts, salted_join


def test_salted_cell_counts_equals_plain(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=2))
    plain = {
        (r["cell"], r["count"]) for r in geo.groupBy("cell").count().collect()
    }
    salted = {
        (r["cell"], r["n_docs"])
        for r in salted_cell_counts(geo, EngineConfig(salt_buckets=4)).collect()
    }
    assert salted == plain

    # grid-keyed form, with one hot cell holding most of the docs
    pts = [(f"h{i}", 100 + i % 7, 200 + i % 5) for i in range(600)]
    pts += [(f"s{i}", (i * 769) % 4096, (i * 263) % 4096) for i in range(200)]
    grid = spark.createDataFrame(pts, "doc_id string, x long, y long")
    plain = {
        tuple(r)
        for r in grid.groupBy(F.expr("x DIV 64 AS gx"), F.expr("y DIV 64 AS gy"))
        .count()
        .collect()
    }
    salted = salted_cell_counts(grid, EngineConfig(salt_buckets=4), grid_keys(6))
    assert salted.columns == ["gx", "gy", "n_docs"]
    assert {tuple(r) for r in salted.collect()} == plain
    assert max(n for *_, n in plain) >= 600


def test_salted_join_equals_plain(spark):
    probe = spark.createDataFrame(
        [(i % 5, f"p{i}") for i in range(200)], "k int, pv string"
    )
    build = spark.createDataFrame([(i, f"b{i}") for i in range(5)], "k int, bv string")
    plain = {tuple(r) for r in probe.join(build, "k").select("pv", "bv").collect()}
    salted = {
        tuple(r)
        for r in salted_join(probe, build, "k", EngineConfig(salt_buckets=4))
        .select("pv", "bv")
        .collect()
    }
    assert salted == plain
