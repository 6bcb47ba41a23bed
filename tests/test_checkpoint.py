"""Checkpoint-resume semantics: per-partition lineage manifests, skip on
resume, byte-equal outputs (FIXTURES.md invariant 3)."""

import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hilbert_curve_spark.checkpoint import CheckpointRunner, Stage
from hilbert_curve_spark.operators.encode import encode_documents
from hilbert_curve_spark.sources.interleave import build_documents


def _stages(sf_dir, calls):
    def build_corpus(spark, _):
        calls.append("corpus")
        return build_documents(spark, sf_dir, amp=2)

    def build_geo(spark, outs):
        calls.append("geo")
        return encode_documents(outs["corpus"]).select("doc_id", "x", "y", "hilbert")

    return [
        Stage("corpus", build_corpus),
        Stage("geo", build_geo, sort_key="hilbert"),
    ]


def test_resume_skips_completed_stages(spark, sf_dir, tmp_path):
    calls = []
    r = CheckpointRunner(spark, str(tmp_path / "ckpt"))
    fp = {"sf_dir": sf_dir, "amp": "2"}
    out1 = r.run(_stages(sf_dir, calls), fp)
    assert calls == ["corpus", "geo"]
    rows1 = sorted(t for t in out1["geo"].select("doc_id", "hilbert").collect())

    # resume: nothing rebuilds, outputs identical
    calls2 = []
    out2 = CheckpointRunner(spark, str(tmp_path / "ckpt")).run(_stages(sf_dir, calls2), fp)
    assert calls2 == []
    rows2 = sorted(t for t in out2["geo"].select("doc_id", "hilbert").collect())
    assert rows1 == rows2

    # manifests carry per-partition lineage, equal to each part file's
    # parquet footer and size
    m = json.loads((tmp_path / "ckpt" / "geo.manifest.json").read_text())
    assert m["rows"] == len(rows1)
    assert m["partitions"] and all("rows" in p for p in m["partitions"])
    files = {int(f.name[5:10]): f for f in (tmp_path / "ckpt" / "geo").glob("part-*")}
    assert sorted(files) == [p["partition"] for p in m["partitions"]]
    for p in m["partitions"]:
        f = files[p["partition"]]
        assert p["rows"] == pq.ParquetFile(f).metadata.num_rows
        assert p["bytes"] == f.stat().st_size
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"]


def test_resume_after_partial_run(spark, sf_dir, tmp_path):
    """Kill after stage 1 -> resume completes stage 2 only; outputs equal a
    clean full run."""
    calls = []
    root = str(tmp_path / "ckpt2")
    fp = {"sf_dir": sf_dir, "amp": "2"}
    CheckpointRunner(spark, root).run(_stages(sf_dir, calls)[:1], fp)  # "killed" here
    calls2 = []
    out = CheckpointRunner(spark, root).run(_stages(sf_dir, calls2), fp)
    assert calls2 == ["geo"]

    clean = CheckpointRunner(spark, str(tmp_path / "clean")).run(_stages(sf_dir, []), fp)
    a = sorted(t for t in out["geo"].collect())
    b = sorted(t for t in clean["geo"].collect())
    assert a == b


def test_fingerprint_change_invalidates(spark, sf_dir, tmp_path):
    calls = []
    root = str(tmp_path / "ckpt3")
    CheckpointRunner(spark, root).run(_stages(sf_dir, calls), {"v": "1"})
    calls2 = []
    CheckpointRunner(spark, root).run(_stages(sf_dir, calls2), {"v": "2"})
    assert calls2 == ["corpus", "geo"]
