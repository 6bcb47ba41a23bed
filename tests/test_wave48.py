"""Wave-48: STR R-tree bulk-load packing
(`operators/partitioning.py::str_pack`), stay-point contact join
(`operators/trajectory.py::stay_contacts`), and exact-integer Viterbi map
matching (`operators/trajectory.py::viterbi_match`) — brute-force parity
and structural invariants.  Oracle parity runs in ``test_entry_parity``."""

import itertools
import math

import pytest
from pyspark.sql import functions as F

from hilbert_curve_spark import workload as W
from hilbert_curve_spark.operators.partitioning import str_pack
from hilbert_curve_spark.operators.trajectory import (
    stay_contacts,
    stay_points,
    viterbi_match,
)


# ---------------------------------------------------------------------------
# str_pack
# ---------------------------------------------------------------------------


def _lcg_points(n, seed=7, edge=4096):
    pts, s = [], seed
    for _ in range(n):
        s = (s * 1103515245 + 12345) % (1 << 31)
        x = s % edge
        s = (s * 1103515245 + 12345) % (1 << 31)
        pts.append((x, s % edge))
    return pts


def _brute_str(pts_named, cap):
    """Reference STR: global sort, slice, per-slice sort, run packing."""
    n = len(pts_named)
    s = math.ceil(math.sqrt(n / cap))
    sw = (n + s - 1) // s
    ordered = sorted(pts_named, key=lambda p: (p[1], p[2], p[0]))
    leaves = {}
    for rx, (d, x, y) in enumerate(ordered):
        leaves.setdefault(rx // sw, []).append((d, x, y))
    out = {}
    for sl, members in leaves.items():
        members.sort(key=lambda p: (p[2], p[1], p[0]))
        for ry, (d, x, y) in enumerate(members):
            leaf = sl * (1 << 20) + ry // cap
            e = out.setdefault(leaf, [0, 10**9, -1, 10**9, -1])
            e[0] += 1
            e[1], e[2] = min(e[1], x), max(e[2], x)
            e[3], e[4] = min(e[3], y), max(e[4], y)
    return {k: tuple(v) for k, v in out.items()}


@pytest.mark.parametrize("n,cap", [(500, 64), (129, 16)])
def test_str_pack_matches_reference_packing(spark, n, cap):
    pts = _lcg_points(n, seed=11)
    named = [(f"d{i:05d}", x, y) for i, (x, y) in enumerate(pts)]
    geo = spark.createDataFrame(named, "doc_id string, x long, y long")
    got = {
        r["leaf_id"]: (r["n_pts"], r["x_min"], r["x_max"], r["y_min"], r["y_max"])
        for r in str_pack(geo, cap).collect()
    }
    assert got == _brute_str(named, cap)


def test_str_pack_invariants(spark):
    pts = _lcg_points(1000, seed=3)
    named = [(f"d{i:05d}", x, y) for i, (x, y) in enumerate(pts)]
    geo = spark.createDataFrame(named, "doc_id string, x long, y long")
    rows = str_pack(geo, 128).collect()
    # conservation + capacity
    assert sum(r["n_pts"] for r in rows) == 1000
    assert all(r["n_pts"] <= 128 for r in rows)
    # slices are x-ordered: a slice's x_max never exceeds the next slice's
    # x_min by more than a shared boundary column
    by_slice = {}
    for r in rows:
        sl = r["leaf_id"] >> 20
        lo, hi = by_slice.get(sl, (10**9, -1))
        by_slice[sl] = (min(lo, r["x_min"]), max(hi, r["x_max"]))
    slices = sorted(by_slice)
    for a, b in zip(slices, slices[1:]):
        # ranks order primarily by x, so consecutive slices' x-ranges can
        # touch (shared boundary column) but never invert
        assert by_slice[a][1] <= by_slice[b][0]


# ---------------------------------------------------------------------------
# stay_contacts
# ---------------------------------------------------------------------------


def test_stay_contacts_matches_quadratic(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["user_a"], r["stay_a"], r["user_b"], r["stay_b"]): (
            r["dist2"],
            r["overlap_s"],
        )
        for r in stay_contacts(
            events, dist=W.CONTACT_DIST, min_overlap_s=W.CONTACT_MIN_OVERLAP_S
        ).collect()
    }
    stays = stay_points(events).collect()
    d2max = W.CONTACT_DIST * W.CONTACT_DIST
    expect = {}
    for a, b in itertools.combinations(stays, 2):
        if a["user_id"] == b["user_id"]:
            continue
        if a["user_id"] > b["user_id"]:
            a, b = b, a
        d2 = (a["cx"] - b["cx"]) ** 2 + (a["cy"] - b["cy"]) ** 2
        ov = min(a["end_s"], b["end_s"]) - max(a["start_s"], b["start_s"])
        if d2 <= d2max and ov >= W.CONTACT_MIN_OVERLAP_S:
            expect[(a["user_id"], a["stay_id"], b["user_id"], b["stay_id"])] = (
                d2,
                ov,
            )
    assert got == expect
    assert len(got) > 0


def test_stay_contacts_ordering_and_no_self_pairs(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = stay_contacts(events).collect()
    assert all(r["user_a"] < r["user_b"] for r in rows)
    assert len({(r["user_a"], r["stay_a"], r["user_b"], r["stay_b"]) for r in rows}) == len(rows)


# ---------------------------------------------------------------------------
# viterbi_match
# ---------------------------------------------------------------------------


def _seg_d2(p, road):
    _, ax, ay, bx, by = road
    xlo, xhi = min(ax, bx), max(ax, bx)
    ylo, yhi = min(ay, by), max(ay, by)
    dx = max(xlo - p[0], p[0] - xhi, 0)
    dy = max(ylo - p[1], p[1] - yhi, 0)
    return dx * dx + dy * dy


def _brute_viterbi(points, roads, lam):
    """Exhaustive minimum over |R|^T paths with the lexicographic-smallest
    tie-break induced by the backpointer convention: enumerate paths in
    REVERSE-lexicographic-by-construction order so the first minimum found
    equals the smallest-index-argmin decode."""
    r = len(roads)
    t = len(points)
    best, best_path = None, None
    for path in itertools.product(range(r), repeat=t):
        cost = sum(_seg_d2(points[i], roads[path[i]]) for i in range(t))
        cost += lam * sum(1 for i in range(1, t) if path[i] != path[i - 1])
        if best is None or cost < best:
            best, best_path = cost, path
    return best, best_path


def test_viterbi_is_cost_optimal(spark, sf_dir):
    """The decoded path's cost must equal the exhaustive minimum over all
    |R|^T road sequences, for every qualifying user."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    t_n, lam = 4, W.VITERBI_LAMBDA
    roads = W.ROADS
    decoded = viterbi_match(events, roads, t_n, lam).collect()
    from hilbert_curve_spark.operators.events import event_points
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (
        event_points(events)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("user_id")))
        .filter((F.col("rn") <= t_n) & (F.col("cnt") >= t_n))
        .select("user_id", "rn", "ex", "ey")
        .collect()
    )
    by_user = {}
    for r in pts:
        by_user.setdefault(r["user_id"], {})[r["rn"] - 1] = (r["ex"], r["ey"])
    paths = {}
    for r in decoded:
        paths.setdefault(r["user_id"], {})[r["step"]] = r["road_id"]
    assert set(paths) == set(by_user)
    ridx = {rid: i for i, (rid, *_z) in enumerate(roads)}
    # exhaustive check on a deterministic subset (8^4 paths per user)
    for uid in sorted(by_user)[:6]:
        seq = [by_user[uid][i] for i in range(t_n)]
        got_path = tuple(ridx[paths[uid][i]] for i in range(t_n))
        got_cost = sum(_seg_d2(seq[i], roads[got_path[i]]) for i in range(t_n))
        got_cost += lam * sum(
            1 for i in range(1, t_n) if got_path[i] != got_path[i - 1]
        )
        best_cost, _ = _brute_viterbi(seq, roads, lam)
        assert got_cost == best_cost


def test_viterbi_switch_penalty_controls_path(spark):
    """lam=0 snaps every point to its nearest road; a huge lam forces one
    constant road for the whole trajectory."""
    import datetime

    roads = [("a", 0, 100, 4000, 100), ("b", 0, 3000, 4000, 3000)]
    # points alternate near road a / road b
    base = datetime.datetime(2024, 1, 1)
    rows = []
    coords = [(10, 110), (10, 2990), (20, 120), (20, 2980)]
    for i, (x, y) in enumerate(coords):
        rows.append((i, base + datetime.timedelta(minutes=i), 0, "m", 0.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    # monkey-path the coordinate derivation is NOT possible here, so build
    # the expectation from the derived coordinates instead
    from hilbert_curve_spark.operators.events import event_points

    der = {
        r["event_id"]: (r["ex"], r["ey"])
        for r in event_points(ev).collect()
    }
    free = {r["step"]: r["road_id"] for r in viterbi_match(ev, roads, 4, 0).collect()}
    for step, eid in enumerate(sorted(der)):
        p = der[eid]
        nearest = min(
            range(len(roads)), key=lambda j: (_seg_d2(p, roads[j]), j)
        )
        assert free[step] == roads[nearest][0]
    locked = viterbi_match(ev, roads, 4, 10**9).collect()
    assert len({r["road_id"] for r in locked}) == 1
