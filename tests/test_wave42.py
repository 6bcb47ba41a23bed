"""Wave-42: cross-doc multimodal packing, mixture apportionment, and
boilerplate span detection."""

from pyspark.sql import functions as F


def _flat_spans(spark, sf_dir):
    """(doc_id, kind, text, off) for every span of the interleaved corpus."""
    from hilbert_curve_spark.sources.interleave import build_documents

    return [
        tuple(r)
        for r in build_documents(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.offset")
        .collect()
    ]


def test_pack_mm_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W

    budget, mc, shards = W.PACK_MM_BUDGET, W.MEDIA_TOKEN_COST, W.PACK_MM_SHARDS
    by_doc = {}
    for d, kind, text, _ in _flat_spans(spark, sf_dir):
        t, m = by_doc.get(d, (0, 0))
        if kind == "media":
            by_doc[d] = (t + mc, m + 1)
        else:
            by_doc[d] = (t + len(text), m)
    expected = {}
    by_shard = {}
    for d, (t, m) in by_doc.items():
        by_shard.setdefault(int(d[3:]) % shards, []).append((d, t, m))
    for sh, docs in by_shard.items():
        docs.sort()  # zero-padded keys: string order == numeric order
        cum = 0
        for d, t, m in docs:
            seq = cum // budget
            nd, nt, nm, fd, ld = expected.get((sh, seq), (0, 0, 0, d, d))
            expected[(sh, seq)] = (nd + 1, nt + t, nm + m, min(fd, d), max(ld, d))
            cum += t
    exp = {(sh, sq, *v) for (sh, sq), v in expected.items()}
    got = {tuple(r) for r in E.queries()["pack_mm"](spark, sf_dir).collect()}
    assert got == exp
    assert got


def test_pack_mm_conservation(spark, sf_dir):
    """Every doc lands in exactly one sequence; token + media totals
    conserve through packing."""
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W

    mc = W.MEDIA_TOKEN_COST
    spans = _flat_spans(spark, sf_dir)
    n_docs = len({d for d, *_ in spans})
    total = sum(mc if k == "media" else len(t) for _, k, t, _ in spans)
    agg = (
        E.queries()["pack_mm"](spark, sf_dir)
        .agg(F.sum("n_docs"), F.sum("n_tokens"))
        .collect()[0]
    )
    assert agg[0] == n_docs
    assert agg[1] == total


def test_mixture_plan_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.textops import (
        lang_pred_sql,
        quality_score_sql,
        word_count_sql,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.expr(lang_pred_sql()).alias("lang"),
            F.expr(quality_score_sql()).alias("q"),
            F.expr(word_count_sql()).alias("wc"),
        )
        .collect()
    )
    strata = {}
    for r in rows:
        key = (r.lang, r.q // W.MIX_BAND)
        nd, nt = strata.get(key, (0, 0))
        strata[key] = (nd + 1, nt + r.wc)
    total = sum(nt for _, nt in strata.values())
    b = W.MIX_BUDGET
    fl = {k: (b * nt) // total for k, (_, nt) in strata.items()}
    rem = {k: (b * nt) % total for k, (_, nt) in strata.items()}
    extra = b - sum(fl.values())
    order = sorted(strata, key=lambda k: (-rem[k], k[0], k[1]))
    alloc = dict(fl)
    for k in order[:extra]:
        alloc[k] += 1
    exp = {
        (lang, band, *strata[(lang, band)], alloc[(lang, band)])
        for lang, band in strata
    }
    got = {tuple(r) for r in E.queries()["mixture_plan"](spark, sf_dir).collect()}
    assert got == exp
    # Hamilton apportionment conserves the budget exactly.
    assert sum(a for *_, a in got) == b


def test_boilerplate_spans_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W

    per_text = {}
    for d, kind, text, _ in _flat_spans(spark, sf_dir):
        if kind != "text":
            continue
        docs, occ = per_text.get(text, (set(), 0))
        docs.add(d)
        per_text[text] = (docs, occ + 1)
    ranked = sorted(
        (
            (-len(docs), -occ, text)
            for text, (docs, occ) in per_text.items()
            if len(docs) >= W.BOILER_MIN_DOCS
        ),
    )[: W.BOILER_TOPK]
    exp = {
        (text, -nd, -no, i + 1) for i, (nd, no, text) in enumerate(ranked)
    }
    got = {tuple(r) for r in E.queries()["boilerplate_spans"](spark, sf_dir).collect()}
    assert got == exp
    assert got  # the zipf head must clear the DF floor at fixture scale
