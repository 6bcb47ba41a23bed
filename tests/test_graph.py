"""Connected components vs a driver-side union-find oracle."""

import random

from pyspark.sql import functions as F

from hilbert_curve_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    dedup_survivors,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 200
        edges = [
            (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
            for _ in range(150 + trial * 100)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            (r["node"], r["rep"]) for r in connected_components(df).collect()
        }
        assert got == set(_uf_components(edges).items())


def test_cc_long_chain_converges(spark):
    # a 64-node path is the worst case for naive propagation (diameter 63);
    # star rounds must still collapse it within the iteration budget
    edges = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components(df).collect()
    assert len(rows) == 64
    assert {r["rep"] for r in rows} == {"c00"}


def test_dedup_survivors_keeps_reps_and_singletons(spark):
    docs = spark.createDataFrame([(f"d{i}",) for i in range(6)], ["doc_id"])
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d1", "d2"), ("d4", "d5")], ["doc_a", "doc_b"]
    )
    surv = {r["doc_id"] for r in dedup_survivors(docs, pairs).collect()}
    # cluster {d0,d1,d2} -> d0; cluster {d4,d5} -> d4; d3 singleton
    assert surv == {"d0", "d3", "d4"}
    clusters = {
        (r["doc_id"], r["rep_id"]) for r in dedup_clusters(pairs).collect()
    }
    assert clusters == {
        ("d0", "d0"),
        ("d1", "d0"),
        ("d2", "d0"),
        ("d4", "d4"),
        ("d5", "d4"),
    }


def test_small_star_dedups_large_star_duplicates(spark):
    # nodes 1 and 2 both neighbor 0 and 5, so large-star emits (5, 0) once
    # from each of them; small-star must absorb the duplicate
    from hilbert_curve_spark.operators.graph import _large_star, _small_star

    edges = [(0, 1), (0, 2), (1, 5), (2, 5), (5, 7), (7, 9), (3, 4)]
    e = spark.createDataFrame(edges, "u long, v long")
    large = _large_star(e)
    assert large.count() > large.distinct().count()
    small = _small_star(large)
    assert sorted(small.collect()) == sorted(small.distinct().collect())
    cc = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node"], r["rep"]) for r in connected_components(cc).collect()}
    assert got == set(_uf_components(edges).items())
