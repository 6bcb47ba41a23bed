"""Skew utilities: salted operations must be result-identical to their
unsalted forms (salting changes the physical distribution only)."""

from pyspark.sql import functions as F

from hilbert_curve_spark.config import EngineConfig
from hilbert_curve_spark.operators.skew import (
    grid_keys,
    keyed_pairs,
    salted_cell_counts,
    salted_join,
)


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


def _brute_pairs(a_rows, b_rows):
    """One (key, id_a, id_b) per a-row x b-row sharing a key with id_a < id_b."""
    return sorted(
        (ka, ia, ib) for ka, ia in a_rows for kb, ib in b_rows if ka == kb and ia < ib
    )


def test_keyed_pairs_matches_brute_force(spark):
    # one hot key with 60 rows; "dup" listed under two keys; equal ties
    rows = [("hot", f"h{i:02d}") for i in range(60)]
    rows += [("k1", "dup"), ("k2", "dup"), ("k1", "u1"), ("k2", "u2"), ("k2", "u1")]
    rows += [("tie", "same"), ("tie", "same"), ("tie", "z")]
    df = spark.createDataFrame(rows, "k string, id string")
    out = keyed_pairs(df, "k", "id")
    assert out.columns == ["k", "id_a", "id_b"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == _brute_pairs(rows, rows)
    hot = [p for p in got if p[0] == "hot"]
    assert len(hot) == len(set(hot)) == 60 * 59 // 2  # C(60, 2), each once
    # one row per shared key
    assert [p for p in got if "dup" in p] == [
        ("k1", "dup", "u1"), ("k2", "dup", "u1"), ("k2", "dup", "u2")
    ]
    # equal ties never pair; each "same" row pairs with "z" once
    assert [p for p in got if p[0] == "tie"] == [("tie", "same", "z")] * 2


def test_keyed_pairs_replicated_probe_side(spark):
    """The jaccard shape: b replicates each row under band - 1, band,
    band + 1, so a pair in the same or adjacent bands meets exactly once."""
    rows = [(i // 7, i % 3, i) for i in range(40)]  # (band, tok, id)
    df = spark.createDataFrame(rows, "band int, tok int, id int")
    probe = df.withColumn(
        "band", F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
    )
    out = keyed_pairs(df, ["band", "tok"], "id", b=probe)
    assert out.columns == ["band", "tok", "id_a", "id_b"]
    got = sorted((r["band"], r["tok"], r["id_a"], r["id_b"]) for r in out.collect())
    want = sorted(
        (ba, ta, ia, ib)
        for ba, ta, ia in rows
        for bb, tb, ib in rows
        if ta == tb and abs(ba - bb) <= 1 and ia < ib
    )
    assert got == want
    assert len({(ia, ib) for *_, ia, ib in got}) == len(got)
