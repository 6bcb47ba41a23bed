"""Wave-43: leakage-buffered spatial split, cross-source overlap matrix,
per-source profile."""

import hashlib

from pyspark.sql import functions as F


def _fold10(s: str) -> int:
    """First 10 md5 hex nibbles as an integer (the engine's
    _hex_to_long_sql(md5(x), 1, 10) fold)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)


def test_spatial_split_brute_force(spark, sf_dir, ctx):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.sources import derive

    shift, mod = W.SPLIT_SHIFT, W.SPLIT_TEST_MOD
    maxb = (derive.EDGE >> shift) - 1

    def is_test(bx, by):
        return _fold10(f"b|{bx}|{by}") % mod == 0

    pts = ctx.doc_geo.select("x", "y").collect()
    agg = {}
    for r in pts:
        bx, by = r.x >> shift, r.y >> shift
        if is_test(bx, by):
            split = "test"
        elif any(
            0 <= bx + dx <= maxb
            and 0 <= by + dy <= maxb
            and is_test(bx + dx, by + dy)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ):
            split = "buffer"
        else:
            split = "train"
        nd, blocks = agg.get(split, (0, set()))
        blocks.add(bx * (maxb + 1) + by)
        agg[split] = (nd + 1, blocks)
    exp = {(s, nd, len(bl)) for s, (nd, bl) in agg.items()}
    got = {tuple(r) for r in E.queries()["spatial_split"](spark, sf_dir).collect()}
    assert got == exp
    splits = {s for s, *_ in got}
    assert splits == {"train", "test", "buffer"}  # all three at fixture scale


def _wordset_fp(text: str) -> str:
    """Python replay of dedup.wordset_fp_sql."""
    return hashlib.md5(
        " ".join(sorted(set(text.split(" ")))).encode()
    ).hexdigest()


def test_source_overlap_brute_force(spark, sf_dir):
    import __spark_entry__ as E

    rows = [
        (r.source, _wordset_fp(r.text))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "text")
        .collect()
    ]
    by_fp = {}
    for source, fp in rows:
        by_fp.setdefault(fp, set()).add(source)
    pairs = {}
    for srcs in by_fp.values():
        ss = sorted(srcs)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                pairs[(ss[i], ss[j])] = pairs.get((ss[i], ss[j]), 0) + 1
    exp = {(a, b, n) for (a, b), n in pairs.items()}
    got = {tuple(r) for r in E.queries()["source_overlap"](spark, sf_dir).collect()}
    assert got == exp
    assert got  # the fixture's duplicated texts must span sources


def test_source_profile_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark.operators.textops import (
        quality_score_sql,
        word_count_sql,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "source",
            "text",
            F.expr(quality_score_sql()).alias("q"),
            F.expr(word_count_sql()).alias("wc"),
        )
        .collect()
    )
    agg = {}
    for r in rows:
        nd, fps, sq, st = agg.get(r.source, (0, set(), 0, 0))
        fps.add(_wordset_fp(r.text))
        agg[r.source] = (nd + 1, fps, sq + r.q, st + r.wc)
    exp = {(s, nd, len(fps), sq, st) for s, (nd, fps, sq, st) in agg.items()}
    got = {tuple(r) for r in E.queries()["source_profile"](spark, sf_dir).collect()}
    assert got == exp
