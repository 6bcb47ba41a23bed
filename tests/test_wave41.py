"""Wave-41: training-sequence packing plan and quality-weighted
deterministic sampling."""

from pyspark.sql import functions as F


def _doc_toks(spark, sf_dir):
    from hilbert_curve_spark.operators.textops import word_count_sql

    return [
        (r.doc_id, r.toks)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.expr(word_count_sql()).alias("toks"))
        .collect()
    ]


def test_pack_sequences_brute_force(spark, sf_dir):
    import __spark_entry__ as E

    budget, shards = 512, 8
    rows = _doc_toks(spark, sf_dir)
    by_shard = {}
    for d, t in rows:
        by_shard.setdefault(d % shards, []).append((d, t))
    expected = {}
    for sh, docs in by_shard.items():
        docs.sort()
        cum = 0
        for d, t in docs:
            seq = cum // budget
            nd, nt, fd, ld = expected.get((sh, seq), (0, 0, d, d))
            expected[(sh, seq)] = (nd + 1, nt + t, min(fd, d), max(ld, d))
            cum += t
    exp = {(sh, sq, *v) for (sh, sq), v in expected.items()}
    got = {tuple(r) for r in E.queries()["pack_sequences"](spark, sf_dir).collect()}
    assert got == exp
    assert got


def test_pack_sequences_conservation(spark, sf_dir):
    """Every doc lands in exactly one sequence; token totals conserve."""
    import __spark_entry__ as E

    rows = _doc_toks(spark, sf_dir)
    out = E.queries()["pack_sequences"](spark, sf_dir)
    agg = out.agg(F.sum("n_docs"), F.sum("n_tokens")).collect()[0]
    assert agg[0] == len(rows)
    assert agg[1] == sum(t for _, t in rows)


def test_weighted_sample_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark.operators.textops import (
        lang_pred_sql,
        quality_score_sql,
    )

    k = 25
    base = [
        (r.doc_id, r.lang_pred, r.quality)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.expr(lang_pred_sql()).alias("lang_pred"),
            F.expr(quality_score_sql()).alias("quality"),
        )
        .collect()
    ]
    import hashlib

    def key(doc_id, quality):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:10], 16) // (quality + 1)

    by_lang = {}
    for d, lp, q in base:
        by_lang.setdefault(lp, []).append((key(d, q), d, q))
    expected = set()
    for lp, rows in by_lang.items():
        rows.sort()
        for i, (_, d, q) in enumerate(rows[:k], start=1):
            expected.add((lp, d, q, i))
    got = {tuple(r) for r in E.queries()["weighted_sample"](spark, sf_dir).collect()}
    assert got == expected
    assert got
    # weighting is real: the sampled mean quality should not trail the
    # population mean (higher quality -> smaller key, deterministically)
    pop = sum(q for _, _, q in base) / len(base)
    samp = [q for _, _, q, _ in got]
    assert sum(samp) / len(samp) >= pop - 1
