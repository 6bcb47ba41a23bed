"""Wave-44: exact length deciles and vocabulary growth curve."""

from pyspark.sql import functions as F


def test_length_deciles_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark.operators.textops import word_count_sql

    toks = sorted(
        r.t
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.expr(word_count_sql()).alias("t"))
        .collect()
    )
    n = len(toks)
    b = 10
    exp = set()
    for d in range(1, b):
        need = (d * n + b - 1) // b  # smallest t with cum_count >= ceil(dn/b)
        exp.add((d, toks[need - 1]))
    got = {tuple(r) for r in E.queries()["length_deciles"](spark, sf_dir).collect()}
    assert got == exp
    # thresholds are monotone in the decile
    ordered = [t for _, t in sorted(got)]
    assert ordered == sorted(ordered)


def test_vocab_growth_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.sources.interleave import build_documents

    rows = (
        build_documents(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "text")
        .select("doc_id", "s.text")
        .collect()
    )
    first = {}
    for r in rows:
        if r.text not in first or r.doc_id < first[r.text]:
            first[r.text] = r.doc_id
    step = 8192 * W.VOCAB_BUCKET_DOCS
    hist = {}
    for fd in first.values():
        b = int(fd[3:]) // step
        hist[b] = hist.get(b, 0) + 1
    exp, cum = set(), 0
    for b in sorted(hist):
        cum += hist[b]
        exp.add((b, hist[b], cum))
    got = {tuple(r) for r in E.queries()["vocab_growth"](spark, sf_dir).collect()}
    assert got == exp
    # the curve must flatten: a zipf vocabulary is front-loaded
    first_bucket = min(exp)[1]
    last_bucket = max(exp)[1]
    assert first_bucket > last_bucket
