"""Wave-34: product quantization — codebook training, code assignment,
and ADC top-k — verified against a from-scratch numpy replay."""

import math

import numpy as np

from hilbert_curve_spark.operators.similarity import _PQ_OFFSET, _PQ_SCALE

M, K, ITERS = 4, 4, 2


def _replay(vecs):
    """Pure-python PQ training with the operator's protocol: int64
    quantize, seed with the k smallest vec_ids, ties to smaller cid,
    SUM//COUNT updates, empty clusters keep centroids, ITERS rounds."""
    ids = sorted(vecs)
    dim = len(vecs[ids[0]])
    subdim = dim // M
    q = {
        i: [int(math.floor(float(np.float64(v)) * _PQ_SCALE)) + _PQ_OFFSET
            for v in vecs[i]]
        for i in ids
    }
    cents = [
        [q[ids[c]][s * subdim:(s + 1) * subdim] for c in range(K)]
        for s in range(M)
    ]

    def dist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    assign = None
    for _ in range(ITERS):
        assign = {}
        for i in ids:
            for s in range(M):
                sub = q[i][s * subdim:(s + 1) * subdim]
                assign[(i, s)] = min(
                    range(K), key=lambda c: (dist(sub, cents[s][c]), c)
                )
        new = [[list(c) for c in cents[s]] for s in range(M)]
        for s in range(M):
            for c in range(K):
                members = [i for i in ids if assign[(i, s)] == c]
                if members:
                    for p in range(subdim):
                        tot = sum(q[i][s * subdim + p] for i in members)
                        new[s][c][p] = tot // len(members)
        cents = new
    # codes are assignments against the FINAL codebook (what a store
    # would persist) — one more argmin pass after the last update
    assign = {}
    for i in ids:
        for s in range(M):
            sub = q[i][s * subdim:(s + 1) * subdim]
            assign[(i, s)] = min(
                range(K), key=lambda c: (dist(sub, cents[s][c]), c)
            )
    return q, cents, assign, subdim


def test_pq_codes_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.similarity import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        r.vec_id: [np.float32(v) for v in r.embedding] for r in emb.collect()
    }
    q, cents, assign, subdim = _replay(vecs)

    def dist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    expect = set()
    for i in sorted(vecs):
        codes = [assign[(i, s)] for s in range(M)]
        qerr = sum(
            dist(q[i][s * subdim:(s + 1) * subdim], cents[s][codes[s]])
            for s in range(M)
        )
        expect.add((i, *codes, qerr))
    got = {
        (r.vec_id, r.c0, r.c1, r.c2, r.c3, r.qerr)
        for r in pq_codes(emb, M, K, ITERS).collect()
    }
    assert got == expect
    # the codebook discriminates: >1 distinct code per subspace
    for s in range(M):
        assert len({t[1 + s] for t in got}) > 1


def test_pq_topk_brute_force(spark, sf_dir):
    from hilbert_curve_spark import workload  # noqa: F401
    from hilbert_curve_spark.operators.similarity import pq_topk
    from hilbert_curve_spark.workload import ANN_K, ANN_QUERY

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        r.vec_id: [np.float32(v) for v in r.embedding] for r in emb.collect()
    }
    q, cents, assign, subdim = _replay(vecs)
    qq = [
        int(math.floor(float(np.float64(np.float32(v))) * _PQ_SCALE)) + _PQ_OFFSET
        for v in ANN_QUERY
    ]

    def dist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    adc = {
        i: sum(
            dist(
                qq[s * subdim:(s + 1) * subdim], cents[s][assign[(i, s)]]
            )
            for s in range(M)
        )
        for i in vecs
    }
    expect = sorted(((adc[i], i) for i in vecs))[:ANN_K]
    expect = [(i, d) for d, i in expect]
    got = [
        (r.vec_id, r.adc_dist)
        for r in pq_topk(emb, ANN_QUERY, ANN_K, M, K, ITERS).collect()
    ]
    assert got == expect
    # ADC recall sanity: the PQ top-k overlaps the exact int-L2 top-k.
    # With k=4 centroids/subspace (256 code combos over 500 vectors) PQ
    # is deliberately coarse — any overlap beats the ~0.03 chance rate;
    # real deployments use k=256/subspace where recall is the literature's
    assert len(
        {i for _, i in sorted((dist(qq, q[i]), i) for i in vecs)[:ANN_K]}
        & {i for i, _ in got}
    ) >= 1
