"""Wave-45: depth-limited Douglas-Peucker simplification, intra-document
repetition census, and per-source document caps."""

import hashlib

from pyspark.sql import functions as F


def _dp_brute(points, eps, depth):
    """Reference depth-limited DP: breadth-first split rounds."""
    n = len(points)
    kept = [False] * n
    if n == 0:
        return kept
    kept[0] = kept[n - 1] = True
    e2 = eps * eps
    for _ in range(depth):
        kept_idx = [i for i in range(n) if kept[i]]
        new = []
        for a, b in zip(kept_idx, kept_idx[1:]):
            ax, ay = points[a]
            bx, by = points[b]
            chord2 = (bx - ax) ** 2 + (by - ay) ** 2
            best = None  # (score, idx)
            for i in range(a + 1, b):
                x, y = points[i]
                if chord2 == 0:
                    score = (x - ax) ** 2 + (y - ay) ** 2
                else:
                    cr = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
                    score = cr * cr
                if best is None or score > best[0]:
                    best = (score, i)
            if best is not None:
                ok = best[0] > e2 if chord2 == 0 else best[0] > e2 * chord2
                if ok:
                    new.append(best[1])
        for i in new:
            kept[i] = True
    return kept


def test_traj_simplify_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.events import event_points

    pts = (
        event_points(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .select("user_id", "ts", "event_id", "ex", "ey")
        .collect()
    )
    by_user = {}
    for r in sorted(pts, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append((r.ex, r.ey))
    exp = set()
    for u, path in by_user.items():
        kept = _dp_brute(path, W.TRAJ_SIMP_EPS, W.TRAJ_SIMP_DEPTH)
        for i, k in enumerate(kept):
            if k:
                exp.add((u, i + 1, path[i][0], path[i][1]))
    got = {tuple(r) for r in E.queries()["traj_simplify"](spark, sf_dir).collect()}
    assert got == exp
    # bounded output: at most 2^depth + 1 vertices per user, and the
    # simplification must actually drop points somewhere
    per_user = {}
    for u, *_ in got:
        per_user[u] = per_user.get(u, 0) + 1
    assert max(per_user.values()) <= 2 ** W.TRAJ_SIMP_DEPTH + 1
    assert sum(per_user.values()) < len(pts)


def test_doc_repetition_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark.sources.interleave import build_documents

    rows = (
        build_documents(spark, sf_dir)
        .select("doc_id", "spans")
        .collect()
    )
    hist = {}
    for r in rows:
        texts = [s.text for s in r.spans if s.kind == "text"]
        n, d = len(texts), len(set(texts))
        band = ((100 * (n - d)) // n) // 10 if n else 0
        c = hist.setdefault(band, [0, 0, 0])
        c[0] += 1
        c[1] += n - d
        c[2] += n
    exp = {(b, *v) for b, v in hist.items()}
    got = {tuple(r) for r in E.queries()["doc_repetition"](spark, sf_dir).collect()}
    assert got == exp
    # the synthetic zipf keywords must produce real variance in the census
    assert len(hist) > 1
    # conservation: every doc counted exactly once
    assert sum(v[0] for v in hist.values()) == len(rows)


def test_source_caps_brute_force(spark, sf_dir):
    import __spark_entry__ as E
    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.operators.textops import (
        quality_score_sql,
        word_count_sql,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "source",
            "doc_id",
            F.expr(word_count_sql()).cast("long").alias("tokens"),
            F.expr(quality_score_sql()).cast("long").alias("quality"),
        )
        .collect()
    )
    by_src = {}
    for r in rows:
        key = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:10], 16)
        by_src.setdefault(r.source, []).append(
            (-r.quality, key, r.doc_id, r.tokens)
        )
    exp = set()
    for src, docs in by_src.items():
        docs.sort()
        kept = docs[: W.SOURCE_CAP]
        dropped = docs[W.SOURCE_CAP:]
        exp.add(
            (
                src,
                len(docs),
                len(kept),
                sum(t for *_, t in kept),
                sum(t for *_, t in dropped),
            )
        )
    got = {tuple(r) for r in E.queries()["source_caps"](spark, sf_dir).collect()}
    assert got == exp
    # the cap must bite at this scale (some source drops documents)
    assert any(r[4] > 0 for r in got)
