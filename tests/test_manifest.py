"""File-level manifest pruning (`sources/manifest.py`): bounds are true
file statistics, planning selects exactly the overlapping files, and the
pruned scan is lossless for cover queries."""

import pytest
from pyspark.sql import functions as F

from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.operators import range_query as rq
from hilbert_curve_spark.operators.encode import encode_documents
from hilbert_curve_spark.sources.interleave import build_documents
from hilbert_curve_spark.sources.manifest import (
    prune_files,
    read_pruned,
    write_with_manifest,
)

BOX = dict(x_lo=1100, x_hi=1500, y_lo=900, y_hi=1400)


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("hcs_manifest") / "doc_geo")
    write_with_manifest(
        encode_documents(build_documents(spark, sf_dir), DEFAULT),
        path,
        partitions=16,
    )
    return path


def test_manifest_bounds_are_true_file_stats(spark, store):
    man = spark.read.parquet(store + "/_manifest")
    truth = {
        r.file: (r.lo, r.hi, r.n)
        for r in spark.read.parquet(store)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("hilbert").alias("lo"),
            F.max("hilbert").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got = {r.file: (r.lower, r.upper, r.n_rows) for r in man.collect()}
    assert got == truth and len(got) == 16


def test_prune_selects_only_overlapping_files(spark, store):
    cover = rq.compile_box(**BOX, config=DEFAULT)
    files, total = prune_files(spark, store, cover.ranges)
    assert 0 < len(files) < total == 16
    # every selected file really overlaps some range; every skipped one doesn't
    man = {r.file: (r.lower, r.upper) for r in
           spark.read.parquet(store + "/_manifest").collect()}
    overlap = {
        f for f, (lo, hi) in man.items()
        if any(lo <= b and hi >= a for a, b in cover.ranges)
    }
    assert set(files) == overlap


def test_pruned_scan_is_lossless(spark, store):
    cover = rq.compile_box(**BOX, config=DEFAULT)
    pruned = rq.grq_range_mode(read_pruned(spark, store, cover.ranges), **BOX)
    full = rq.grq_range_mode(spark.read.parquet(store), **BOX)
    got = sorted(r.doc_id for r in pruned.collect())
    want = sorted(r.doc_id for r in full.collect())
    assert got == want and len(got) > 0


def test_no_overlap_returns_empty_with_schema(spark, store):
    hi = spark.read.parquet(store).agg(F.max("hilbert")).collect()[0][0]
    out = read_pruned(spark, store, [(hi + 1, hi + 100)])
    assert out.count() == 0
    assert out.schema == spark.read.parquet(store).schema
