"""Similarity-search validation: ANN probe recall against the exact
brute-force top-k, and embed-dup threshold semantics."""

from hilbert_curve_spark import workload as W
from hilbert_curve_spark.operators import similarity as sim


def test_ann_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = W.ANN_QUERY
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, q, 10).collect()]
    # 3-bit code fits the 500-vector corpus (~60/bucket); the synthetic
    # embeddings are random gaussians (top-10 cosines only ~0.3-0.47), the
    # hardest case for LSH — recall@10 of 0.5 is the sanity floor
    ann = [r["vec_id"] for r in sim.ann_topk(emb, q, 10, nbits=3).collect()]
    recall = len(set(exact) & set(ann)) / len(exact)
    assert recall >= 0.5, (recall, exact, ann)
    # ANN results are ranked by the same exact cosine, so any overlap agrees
    # on order
    common = [v for v in exact if v in set(ann)]
    assert common == [v for v in ann if v in set(common)]


def test_embed_dup_pairs_threshold(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = sim.embed_dup_pairs(emb, threshold_e6=250_000).collect()
    assert pairs, "threshold chosen to yield pairs on the test corpus"
    for r in pairs:
        assert r["cos_e6"] >= 250_000
        assert r["vec_a"] < r["vec_b"]


def test_ivf_probe_all_equals_exact(spark, sf_dir):
    """Probing every inverted list must reproduce exact brute-force top-k —
    the IVF structure only prunes, never re-ranks differently."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = W.ANN_QUERY
    exact = [(r["vec_id"], r["cos_e6"]) for r in sim.cosine_topk(emb, q, 10).collect()]
    full = [
        (r["vec_id"], r["cos_e6"])
        for r in sim.ivf_topk(emb, q, 10, n_centroids=8, nprobe=8).collect()
    ]
    assert full == exact


def test_ivf_partial_probe_recall(spark, sf_dir):
    """nprobe=2/8 on unclustered gaussian embeddings: results are a subset
    of the probed lists, ranked by the exact cosine; recall floor 0.3
    (random inverted lists retain ~nprobe/n_centroids of any top-k)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = W.ANN_QUERY
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, q, 10).collect()]
    approx = [r["vec_id"] for r in sim.ivf_topk(emb, q, 10, n_centroids=8, nprobe=2).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.3, recall
    common = [v for v in exact if v in set(approx)]
    assert common == [v for v in approx if v in set(common)]


def test_ivf_assignment_partitions(spark, sf_dir):
    """Every vector lands in exactly one inverted list."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = sim.ivf_assign(emb, n_centroids=8)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
