"""Wave-39: privacy/training-data governance — k-anonymity cell
generalization and verbatim eval-probe contamination scanning."""

from pyspark.sql import functions as F


def test_anon_cells_brute_force(spark, sf_dir, ctx):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.config import DEFAULT

    k, lv = W.K_ANON, W.PYRAMID_LEVELS
    geo = ctx.doc_geo
    cells = [r.cell for r in geo.select("cell").collect()]
    from collections import Counter

    base = Counter(cells)
    pyr = [Counter() for _ in range(lv)]
    for c, n in base.items():
        for l in range(lv):
            pyr[l][c >> (2 * l)] += n
    published, suppressed = Counter(), 0
    region_total = {}
    for c, n in base.items():
        lev = next((l for l in range(lv) if pyr[l][c >> (2 * l)] >= k), None)
        if lev is None:
            suppressed += n
        else:
            key = (lev, c >> (2 * lev))
            published[key] += n
            region_total[key] = pyr[lev][c >> (2 * lev)]
    expected = {
        (l, c, n, region_total[(l, c)]) for (l, c), n in published.items()
    } | {(-1, -1, suppressed, suppressed)}
    got = {tuple(r) for r in E.queries()["anon_cells"](spark, sf_dir).collect()}
    assert got == expected
    # the guarantee the release relies on: every published region >= k
    assert all(rt >= k for (l, c, n, rt) in got if l >= 0)
    # fixture exercises publish-at-base, generalization, and suppression
    levels = {l for (l, _, _, _) in got}
    assert 0 in levels and len(levels) >= 3


def test_contamination_scan_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    expected = set()
    for pid, pat in W.EVAL_PROBES:
        n_docs = sum(1 for t in texts if pat in t)
        n_occ = sum((len(t) - len(t.replace(pat, ""))) // len(pat) for t in texts)
        expected.add((pid, n_docs, n_occ))
    got = {tuple(r) for r in E.queries()["contamination_scan"](spark, sf_dir).collect()}
    assert got == expected
    # zero-hit probes must still report (schema is |probes|, data-independent)
    assert len(got) == len(W.EVAL_PROBES)
    assert any(n_docs == 0 for _, n_docs, _ in got)
    assert any(n_docs > 0 for _, n_docs, _ in got)


def test_contamination_scan_ac_equals_codegen(spark, sf_dir):
    """The Aho-Corasick mapInPandas form must equal the codegen replace
    form bit-for-bit (the no-self-overlap probe precondition)."""
    import __spark_entry__ as E

    a = {tuple(r) for r in E.queries()["contamination_scan"](spark, sf_dir).collect()}
    b = {tuple(r) for r in E.queries()["contamination_scan_ac"](spark, sf_dir).collect()}
    assert a == b


def test_ac_automaton_overlaps():
    """The automaton counts ALL occurrences, including overlapping —
    pinned so the no-self-overlap precondition stays visible."""
    from hilbert_curve_spark.operators.textops import _ac_build, _ac_scan

    pats = ["aa", "aba", "b"]
    g, f, o = _ac_build(pats)
    assert _ac_scan("aaa", g, f, o, 3) == [2, 0, 0]  # overlapping 'aa' twice
    assert _ac_scan("ababa", g, f, o, 3) == [0, 2, 2]  # overlapping 'aba'
