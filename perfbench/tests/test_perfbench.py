"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pytest

from perfbench import data, layers, trace, workloads
from perfbench.oracle import hilbert_xy2d, mix_sql

HERE = Path(__file__).resolve().parent
# A Spark 4.1 event log at local[2] with AQE off and 2 shuffle partitions,
# trimmed to the fields the fold reads: two ungrouped jobs writing a
# 1,000-row table, then job group "g-scan" (a filtered scan of it to a noop
# sink) and job group "g-agg" (a groupBy count to a noop sink).  The
# figures below were read off the raw log.
SAMPLE_LOG = HERE / "eventlog_sample.jsonl"
SAMPLE = {"scan_input_records": 1000, "scan_tasks": 2, "agg_tasks": 4,
          "agg_shuffle_write_bytes": 383}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs(name):
    wl = workloads.WORKLOADS[name]
    a, b = wl.inputs(7), wl.inputs(7)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(wl.inputs(8))


def test_lookup_cycles_have_the_same_composition():
    n = workloads.PER_KIND * len(workloads.LOOKUP_KINDS)
    qs = workloads.Lookup.inputs(3, n_cycles=20)["queries"]
    for c in range(20):
        cycle = qs[c * n:(c + 1) * n]
        assert sorted(q["kind"] for q in cycle) == sorted(workloads.PER_KIND * workloads.LOOKUP_KINDS)
        sides = sorted(q["box"][1] - q["box"][0] + 1 for q in cycle if q["kind"] == "grq_range")
        # one box from each quarter of the log-uniform 16..1024 edge range
        bounds = [round(16 * 64 ** (i / workloads.PER_KIND)) for i in range(workloads.PER_KIND + 1)]
        assert all(lo <= s <= hi for s, lo, hi in zip(sides, bounds, bounds[1:]))
    for q in qs:
        if "box" in q:
            x_lo, x_hi, y_lo, y_hi = q["box"]
            assert 0 <= x_lo <= x_hi < workloads.EDGE and 0 <= y_lo <= y_hi < workloads.EDGE


def test_generated_sources_are_deterministic():
    rng1, rng2 = np.random.default_rng(1), np.random.default_rng(1)
    a = data.flat_documents(np.arange(200), rng1)
    b = data.flat_documents(np.arange(200), rng2)
    assert a.equals(b)
    assert sum("dup" in t for t in a["text"].to_pylist()) > 0


def _fake_sources(root: Path) -> Path:
    sf = root / "sf"
    (sf / "documents.parquet").mkdir(parents=True)
    (sf / "documents.parquet" / "part-00000.parquet").write_bytes(b"x" * 10)
    return sf


def test_cache_key_tracks_package_sources(tmp_path):
    pkg = tmp_path / "pkg"
    shutil.copytree(data.PACKAGE, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    sf = _fake_sources(tmp_path)
    k0 = data.cache_key(sf, package=pkg)
    assert data.cache_key(sf, package=pkg) == k0
    layout = pkg / "sources" / "layout.py"
    layout.write_text(layout.read_text() + "\n# changed\n")
    assert data.cache_key(sf, package=pkg) != k0


def test_cache_key_tracks_source_files_and_amp(tmp_path):
    pkg = tmp_path / "pkg"
    shutil.copytree(data.PACKAGE, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    sf = _fake_sources(tmp_path)
    k0 = data.cache_key(sf, package=pkg)
    assert data.cache_key(sf, amp=data.AMP * 2, package=pkg) != k0
    part = sf / "documents.parquet" / "part-00000.parquet"
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    k1 = data.cache_key(sf, package=pkg)
    assert k1 != k0
    part.write_bytes(b"x" * 11)
    assert data.cache_key(sf, package=pkg) != k1


def test_oracle_hilbert_matches_engine_encode():
    from hilbert_curve_spark.curve.hilbert import encode2d

    rng = np.random.default_rng(0)
    x, y = rng.integers(0, 4096, 5000), rng.integers(0, 4096, 5000)
    assert np.array_equal(hilbert_xy2d(x, y, 12), encode2d(x, y, 12))


def test_mix_sql_is_plain_integer_sql():
    sql = mix_sql(["a", "b"])
    assert sql == "(((CAST(a AS BIGINT) % 2147483647) * 1000003 + CAST(b AS BIGINT)) % 2147483647)"


def _sample_groups():
    with open(SAMPLE_LOG) as f:
        return trace.fold_event_log(f)


def test_event_log_fold_on_captured_log():
    folded = _sample_groups()
    assert set(folded) == {"g-agg", "g-scan"}
    agg, scan = folded["g-agg"], folded["g-scan"]
    # g-scan: one job, one single-stage scan; g-agg: one job whose two
    # stages are a shuffle map stage and the reduce stage reading it
    assert (scan["jobs"], scan["stages"]) == (1, 1)
    assert (agg["jobs"], agg["stages"]) == (1, 2)
    assert scan["input_records"] == SAMPLE["scan_input_records"]
    assert scan["shuffle_write_bytes"] == 0 and scan["shuffle_read_bytes"] == 0
    assert agg["shuffle_write_bytes"] == SAMPLE["agg_shuffle_write_bytes"]
    assert agg["shuffle_read_bytes"] == agg["shuffle_write_bytes"]
    assert agg["tasks"] == SAMPLE["agg_tasks"]
    assert scan["tasks"] == SAMPLE["scan_tasks"]
    for g in (agg, scan):
        assert g["run_ms"] >= 0 and g["cpu_ms"] > 0 and g["task_wait_ms"] >= 0
        assert g["task_skew"] >= 1.0


def test_event_log_fold_ignores_ungrouped_jobs_and_failed_tasks():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
                    "Properties": {trace.GROUP: "g"}}),
    ]
    info = {"Launch Time": 0, "Finish Time": 10, "Getting Result Time": 0}
    ok = {"Executor Run Time": 8, "Executor CPU Time": 4_000_000,
          "Input Metrics": {"Records Read": 5, "Bytes Read": 50}}
    for stage, reason in ((0, "Success"), (1, "Success"), (1, "TaskKilled")):
        lines.append(json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                                 "Task End Reason": {"Reason": reason},
                                 "Task Info": info, "Task Metrics": ok}))
    folded = trace.fold_event_log(lines)
    assert list(folded) == ["g"]
    g = folded["g"]
    assert (g["tasks"], g["input_records"], g["input_bytes"]) == (1, 5, 50)
    assert g["cpu_ms"] == 4.0 and g["task_wait_ms"] == 2.0


def test_per_layer_names_have_units():
    assert all(layers.UNITS.values())
    assert len(layers.UNITS) <= 128

