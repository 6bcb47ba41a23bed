"""Codegen Hilbert expressions (curve/hilbert_native.py) vs the numpy kernel.

The numpy kernel is itself pinned to the reference Java goldens
(tests/test_hilbert.py), so equality here chains to the reference.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from hilbert_curve_spark.curve.hilbert import decode2d, encode2d
from hilbert_curve_spark.curve.hilbert_native import hilbert_sql, hilbert_xy_sql


def _mk_points(spark, xs, ys):
    return spark.createDataFrame(
        pd.DataFrame({"x": np.asarray(xs, np.int64), "y": np.asarray(ys, np.int64)})
    )


def _encode(df, order):
    return df.withColumn("hilbert", F.expr(hilbert_sql("x", "y", order)))


def test_native_encode_exhaustive_order3(spark):
    """Every lattice point at order 3, and at the odd orders 1 and 5, whose
    curves start in the transposed (padding) state."""
    for order in (3, 1, 5):
        edge = 1 << order
        xs, ys = np.meshgrid(np.arange(edge), np.arange(edge))
        xs, ys = xs.ravel(), ys.ravel()
        want = encode2d(xs, ys, order)
        got = _encode(_mk_points(spark, xs, ys), order).orderBy("x", "y").toPandas()
        ref = pd.DataFrame({"x": xs, "y": ys, "h": want}).sort_values(["x", "y"])
        assert got["hilbert"].to_numpy().tolist() == ref["h"].to_numpy().tolist(), order


def test_native_encode_random_order12_and_31(spark):
    # compare per-(x, y) pairing, not sorted multisets: a permutation bug at
    # high orders would survive a multiset compare (ADVICE r2)
    rng = np.random.default_rng(7)
    for order in (12, 31):
        edge = 1 << order
        xs = rng.integers(0, edge, 500, dtype=np.int64)
        ys = rng.integers(0, edge, 500, dtype=np.int64)
        want = {
            (int(x), int(y)): int(h)
            for x, y, h in zip(xs, ys, encode2d(xs, ys, order))
        }
        for r in _encode(_mk_points(spark, xs, ys), order).collect():
            assert r.hilbert == want[(r.x, r.y)], f"order {order} mismatch at ({r.x},{r.y})"


def test_native_decode_roundtrip(spark):
    rng = np.random.default_rng(11)
    order = 12
    hs = rng.integers(0, 1 << (2 * order), 500, dtype=np.int64)
    want_x, want_y = decode2d(hs, order)
    x, y = hilbert_xy_sql("hilbert", order)
    df = spark.createDataFrame(pd.DataFrame({"hilbert": hs}))
    got = (
        df.select("hilbert", F.expr(x).alias("x"), F.expr(y).alias("y"))
        .orderBy("hilbert")
        .toPandas()
    )
    ref = (
        pd.DataFrame({"hilbert": hs, "x": want_x, "y": want_y})
        .drop_duplicates("hilbert")
        .sort_values("hilbert")
    )
    assert got[["x", "y"]].to_numpy().tolist() == ref[["x", "y"]].to_numpy().tolist()
    # and back: encode(decode(h)) == h
    back = _encode(spark.createDataFrame(got[["x", "y"]]), order).toPandas()
    assert sorted(back["hilbert"].tolist()) == sorted(ref["hilbert"].tolist())


def _docs_and_numpy(spark, sf_dir):
    """The encoded test corpus and numpy's index for each parsed point."""
    from hilbert_curve_spark.config import DEFAULT
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=2))
    got = geo.select("doc_id", "x", "y", "hilbert", "cell").orderBy("doc_id").toPandas()
    want = encode2d(got["x"].to_numpy(), got["y"].to_numpy(), DEFAULT.order)
    return geo, got, want


def test_encode_documents_equals_numpy(spark, sf_dir):
    """doc_geo's hilbert and cell agree row-for-row with the numpy kernel on
    the same parsed points."""
    from hilbert_curve_spark.config import DEFAULT

    _, got, want = _docs_and_numpy(spark, sf_dir)
    assert len(got) > 0
    assert got["hilbert"].tolist() == want.tolist()
    assert got["cell"].tolist() == (want >> (2 * DEFAULT.cell_shift)).tolist()


def test_filter_directly_above_encode(spark, sf_dir):
    """A hilbert predicate placed straight on ``encode_documents`` plans
    small and selects exactly the docs numpy selects: one BETWEEN, and a
    64-range cover (the OR-of-BETWEEN that, substituted into the scan,
    copied the expression and the span parse per comparison)."""
    from hilbert_curve_spark.config import DEFAULT
    from hilbert_curve_spark.curve.cover import cover_box
    from hilbert_curve_spark.operators.range_query import cover_predicate

    geo, got, want = _docs_and_numpy(spark, sf_dir)
    lo, hi = np.quantile(want, [0.25, 0.6]).astype(np.int64).tolist()
    ranges = cover_box(100, 3000, 200, 2900, DEFAULT.order, 64).ranges
    assert len(ranges) == 64
    for pred, keep in (
        (F.col("hilbert").between(lo, hi), (want >= lo) & (want <= hi)),
        (cover_predicate(ranges), np.any([(want >= a) & (want <= b) for a, b in ranges], axis=0)),
    ):
        q = geo.filter(pred)
        assert len(q._jdf.queryExecution().optimizedPlan().toString()) < 50_000
        rows = sorted(r.doc_id for r in q.select("doc_id").collect())
        assert rows == sorted(got["doc_id"][keep].tolist())
        assert 0 < len(rows) < len(got)


def test_native_encode_plan_is_pure_codegen(spark, tmp_path):
    # must be file-backed: a LocalRelation gets the whole expression
    # constant-folded away at optimize time (itself proof it is pure)
    p = str(tmp_path / "pts.parquet")
    _mk_points(spark, [1, 2, 3], [4, 5, 6]).write.parquet(p)
    q = _encode(spark.read.parquet(p), order=12)
    x, y = hilbert_xy_sql("hilbert", 12)
    q = q.select("hilbert", F.expr(x).alias("dx"), F.expr(y).alias("dy"))
    plan = q._sc._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    # encode and decode compile into the single whole-stage-codegen span
    assert "codegen id : 1" in plan and "codegen id : 2" not in plan
    assert [tuple(r) for r in q.orderBy("dx").collect()] == [
        (int(h), x_, y_) for h, x_, y_ in zip(encode2d([1, 2, 3], [4, 5, 6], 12), [1, 2, 3], [4, 5, 6])
    ]
