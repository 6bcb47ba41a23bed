"""Snapshot the optimized logical plan of every non-streaming spec query.

    python tools/plan_snapshot.py OUT.json [--sf-dir DIR]
    python tools/plan_snapshot.py --diff OLD.json NEW.json

The first form builds every ``__spark_entry__.SPECS`` row through
``queries()`` (the 12 streaming rows, which run a stream to completion,
are skipped) and writes ``{name: optimized logical plan}``.
The first lazy ``localCheckpoint(eager=False)`` at each call site is
patched to the identity, so the sub-plans an operator pins are part of its
snapshot; eager pins and a loop's later rounds stay pinned, so iterative
lineage does not grow.  Expression and physical plan ids are masked, so two
snapshots of equal plans are byte-equal.  Run it at two commits to
check that a refactor left the plans alone.

The second form prints the names whose plans still differ after the
normalisations a pure refactor may cause: column names and renames are
masked, Projects that only select or rename columns are dropped, the
conjuncts of each Join condition and Filter are compared as a set, and a
cached relation is compared by its columns, not by the run-time (AQE)
physical plan that filled it.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def snapshot(out: str, sf_dir: str) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    from hilbert_curve_spark.session import get_spark

    pin, sites = DataFrame.localCheckpoint, set()

    def unpinned(self, eager=True, storageLevel=None):
        caller = sys._getframe(1)
        site = (caller.f_code.co_filename, caller.f_lineno)
        if eager or site in sites:  # a loop re-pinning its state stays pinned
            return pin(self, eager, storageLevel)
        sites.add(site)
        return self

    DataFrame.localCheckpoint = unpinned
    import __spark_entry__ as E

    spark = get_spark("plan-snapshot", master="local[4]")  # as tests/conftest.py
    qs, plans = E.queries(), {}
    for name, build in qs.items():
        if "stream" in name:
            continue
        sites.clear()
        plan = build(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        plans[name] = re.sub(r"#\d+|(?<=plan_id=)\d+", "#", plan)
        print(name, file=sys.stderr)
    Path(out).write_text(json.dumps(plans, indent=1, sort_keys=True))
    spark.stop()


def _conjuncts(cond: str) -> list[str]:
    """Top-level AND terms of a parenthesised condition, flattened."""
    cond = cond.strip()
    while cond.startswith("(") and _close(cond, 0) == len(cond) - 1:
        cond = cond[1:-1].strip()
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(cond):
        depth += (ch == "(") - (ch == ")")
        if depth == 0 and cond.startswith(" AND ", i):
            parts.append(cond[start:i])
            start = i + 5
    if not parts:
        return [cond]
    return [t for p in parts + [cond[start:]] for t in _conjuncts(p)]


def _close(s: str, i: int) -> int:
    depth = 0
    for j in range(i, len(s)):
        depth += (s[j] == "(") - (s[j] == ")")
        if depth == 0:
            return j
    return -1


_RENAME = re.compile(r"Project \[#(, #)*\]")


def normalise(plan: str) -> str:
    """Column names and renames masked, rename-only Projects dropped, Join
    and Filter conjuncts sorted, the physical plan that filled a cached
    relation dropped; one node per line, indented by depth."""
    plan = re.sub(r"[A-Za-z_][\w]*#L?", "#", plan)
    plan = re.sub(r"([\[ ])# AS #", r"\1#", plan)
    out, dropped, cached = [], [], None  # dropped: depths of removed Projects
    for line in plan.splitlines():
        m = re.match(r"[ :|+\-]*", line)
        depth, node = len(m.group(0)) // 3, line[m.end():]
        if cached is not None and depth > cached:
            continue  # AQE decided it at run time, from run-time statistics
        cached = depth if node.startswith("InMemoryRelation") else None
        while dropped and dropped[-1] >= depth:
            dropped.pop()
        if _RENAME.fullmatch(node):
            dropped.append(depth)
            continue
        head = re.match(r"(Join \w+, |Filter )(.*)", node)
        if head:
            node = head.group(1) + " AND ".join(sorted(_conjuncts(head.group(2))))
        out.append("  " * (depth - len(dropped)) + node)
    return "\n".join(out)


def diff(old: str, new: str) -> list[str]:
    a, b = json.loads(Path(old).read_text()), json.loads(Path(new).read_text())
    if a.keys() != b.keys():
        print("query sets differ:", sorted(a.keys() ^ b.keys()))
    return [n for n in sorted(a.keys() & b.keys()) if normalise(a[n]) != normalise(b[n])]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out", nargs="?")
    ap.add_argument("--sf-dir", help="fixture tables (default: the tests' sf_dir)")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args()
    if args.diff:
        names = diff(*args.diff)
        print("\n".join(names) if names else "all plans equal")
    else:
        sys.path.insert(0, str(REPO))
        from tests.conftest import SF_DIR

        snapshot(args.out, args.sf_dir or SF_DIR)


if __name__ == "__main__":
    main()
