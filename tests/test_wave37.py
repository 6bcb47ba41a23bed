"""Wave-37: source-format fidelity — JSONL and ORC export/re-ingest
round-trips must be lossless."""


def _box_rows(ctx):
    from hilbert_curve_spark import workload as W
    from pyspark.sql import functions as F

    dg = ctx.doc_geo
    return {
        (r.doc_id, r.x, r.y)
        for r in dg.filter(
            (F.col("x") >= W.R1["x_lo"]) & (F.col("x") <= W.R1["x_hi"])
            & (F.col("y") >= W.R1["y_lo"]) & (F.col("y") <= W.R1["y_hi"])
        ).select("doc_id", "x", "y").collect()
    }


def test_jsonl_roundtrip(spark, sf_dir, ctx):
    import __spark_entry__ as E

    got = {tuple(r) for r in E.queries()["jsonl_roundtrip"](spark, sf_dir).collect()}
    assert got == _box_rows(ctx)
    assert got


def test_orc_roundtrip(spark, sf_dir, ctx):
    import __spark_entry__ as E

    got = {tuple(r) for r in E.queries()["orc_roundtrip"](spark, sf_dir).collect()}
    assert got == _box_rows(ctx)
    assert got
