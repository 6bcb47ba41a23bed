"""Wave-27 operators: per-user Simpson visit diversity and the
changelog keyword profile."""

from hilbert_curve_spark import workload as W


def test_user_entropy_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.events import event_points
    from hilbert_curve_spark.operators.trajectory import (
        user_entropy,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = event_points(events).select("user_id", "ex", "ey").collect()
    per_user = {}
    for r in rows:
        cell = ((r.ex >> 8) * 65536) + (r.ey >> 8)
        per_user.setdefault(r.user_id, {}).setdefault(cell, 0)
        per_user[r.user_id][cell] += 1
    expect = set()
    for u, cells in per_user.items():
        n = sum(cells.values())
        s2 = sum(c * c for c in cells.values())
        expect.add((u, n, len(cells), 1000000 * s2 // (n * n)))
    got = {
        (r.user_id, r.n_events, r.n_cells, r.simpson_e6)
        for r in user_entropy(events, 8).collect()
    }
    assert got == expect
    # the index must discriminate: not all users equally concentrated
    assert len({s for *_, s in got}) > 1
    # bounds: uniform floor <= simpson <= 1e6
    for _, n, k, s in got:
        assert 1000000 // k <= s <= 1000000


def test_changelog_keywords_brute_force(spark, sf_dir):
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.updates import (
        build_update_stream,
        changelog_keywords,
        snapshot_diff,
    )
    from hilbert_curve_spark.sources.interleave import build_documents

    geo = encode_documents(build_documents(spark, sf_dir, amp=4))
    log = build_update_stream(spark, sf_dir, amp=4)
    diff = snapshot_diff(log, W.DIFF_FROM, W.DIFF_TO)
    status = {r.doc_id: r.status for r in diff.collect()}
    kws = {
        r.doc_id: set(r.keywords)
        for r in geo.select("doc_id", "keywords").collect()
    }
    from collections import Counter

    expect = Counter()
    for d, st in status.items():
        for k in kws[d]:
            expect[(st, k)] += 1
    got = {
        (r.status, r.keyword): r.n_docs
        for r in changelog_keywords(diff, geo).collect()
    }
    assert got == dict(expect)
    assert got  # the 3-batch log yields a non-empty profile at (1, 3)
