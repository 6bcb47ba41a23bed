"""Near-dedup family validation: MinHash-LSH and SimHash against exact
n-gram Jaccard on a corpus with planted near-duplicates."""

import pytest
from pyspark.sql import functions as F

from hilbert_curve_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    """40 unique base docs + planted near-dups (one word changed) + exact
    dups of the first five."""

    def words(i):
        # quadratic step over a 97-symbol vocab: different docs share few
        # shingles (a linear step would make docs cyclic rotations of each
        # other -> spuriously high Jaccard)
        return [f"w{(i * 31 + j * j * 7) % 97}" for j in range(40)] + [f"u{i}"]

    base = [("b%02d" % i, " ".join(words(i))) for i in range(40)]
    near = []
    for i in range(10):
        w = words(i)
        w[20] = "CHANGED"
        near.append(("n%02d" % i, " ".join(w)))
    exact = [("e%02d" % i, t) for i, (_, t) in enumerate(base[:5])]
    return spark.createDataFrame(base + near + exact, "doc_id string, text string")


def _true_pairs(corpus, threshold_pct):
    pairs = dedup.jaccard_pairs(corpus, threshold_pct=threshold_pct, band=1000)
    return {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}


def test_exact_dedup(spark, corpus):
    out = dedup.exact_dedup(corpus)
    dups = out.filter(F.col("n_copies") > 1).collect()
    assert len(dups) == 5
    for r in dups:
        assert r["keep_doc_id"].startswith("b")  # min doc_id survives


def test_minhash_recall(spark, corpus):
    truth = _true_pairs(corpus, 70)
    assert truth, "fixture must contain true near-dup pairs"
    sigs = dedup.minhash_signatures(corpus)
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(sigs, bands=32, rows=4).collect()
    }
    missed = truth - cand
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_minhash_signature_estimates_jaccard(spark, corpus):
    sigs = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(corpus).collect()}
    # identical docs -> identical signatures
    assert sigs["b00"] == sigs["e00"]
    # near-dup -> high signature agreement
    agree = sum(a == b for a, b in zip(sigs["b01"], sigs["n01"])) / len(sigs["b01"])
    assert agree > 0.6
    # unrelated -> low agreement
    agree2 = sum(a == b for a, b in zip(sigs["b03"], sigs["b20"])) / len(sigs["b03"])
    assert agree2 < agree


def test_simhash_near_pairs(spark, corpus):
    fps = dedup.simhash(corpus)
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals["b00"] == vals["e00"]  # identical text -> identical fingerprint
    pairs = dedup.simhash_near_pairs(fps, max_hamming=16).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert ("b00", "e00") in found
    # hamming values are symmetric-consistent
    for r in pairs:
        assert 0 <= r["hamming"] <= 16
    # band blocking is pigeonhole-complete: every pair within 16 bits
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs}
    want = {
        (a, b, bin(vals[a] ^ vals[b]).count("1"))
        for a in vals
        for b in vals
        if a < b and bin(vals[a] ^ vals[b]).count("1") <= 16
    }
    assert got == want


def test_jaccard_blocking_no_false_positives(spark, corpus):
    """Blocked join is a subset of unblocked (blocking only prunes)."""
    blocked = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(corpus, threshold_pct=70).collect()
    }
    unblocked = _true_pairs(corpus, 70)
    assert blocked <= unblocked


def test_jaccard_band_edge_recall(spark):
    """Regression (ADVICE/VERDICT r2): near-dup twins of 31 vs 33 words land
    in adjacent word-count bands at band=32 (floor(31/32)=0, floor(33/32)=1);
    the old same-band-only blocking never paired them at ANY similarity.
    The ±1 neighbor probe must surface the pair exactly once."""
    common = [f"c{j}" for j in range(31)]
    rows = [
        ("doc31", " ".join(common)),
        ("doc33", " ".join(common + ["x1", "x2"])),
        ("far", " ".join(f"z{j}" for j in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.jaccard_pairs(docs, threshold_pct=80, band=32).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [("doc31", "doc33")]
    # jaccard in gram space: 29 shared 3-grams / 31 total = 93%
    assert pairs[0]["jac_pct"] == 93
