"""Benchmark inputs: the generated sf0.1-shaped source tables and the
prepared (engine-built) tables every workload reads.

Source tables are generated here with numpy from a fixed corpus seed, in
the shape of the sf0.1 fixture: 5,000 flat ``documents`` (doc_id, text,
lang, source, n_chars) and 100,000 ``events`` (event_id, ts, user_id,
event_type, value, props).  The engine derives the spatial corpus from
``documents.doc_id`` alone (``sources/derive.py``), so at AMP=128 the
corpus is the sf0.1 bench corpus: 640k interleaved docs and a 16M-row
prefix index.  The workload seed never changes these tables; it picks
queries, shapes and update batches over them.

Prepared tables are cached under a key built from content: the size and
mtime of every source parquet file, AMP, and a hash of the package
sources.  A checkout whose ``hilbert_curve_spark/`` differs never reads
another's ``doc_geo``.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np

from .host import ROOT, WORK
from .oracle import add_oracle_hilbert

CORPUS_SEED = 20240101
FLAT_DOCS = 5000
AMP = 128
EVENTS = 100_000
USERS = 1500
EVENT_DAYS = 30
DOC_FILES = 8
EVENT_FILES = 8
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
GEN_VERSION = 2
DUP_STRIDE = 8

PACKAGE = ROOT / "hilbert_curve_spark"


def _write_parts(table, directory: Path, n_files: int) -> None:
    import pyarrow.parquet as pq

    tmp = directory.with_name(directory.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), tmp / f"part-{i:05d}.parquet")
    shutil.rmtree(directory, ignore_errors=True)
    tmp.rename(directory)


def flat_documents(doc_ids: np.ndarray, rng: np.random.Generator):
    """Flat documents with uniform-vocabulary text of 10..100 words; one
    doc in 10 is a near-duplicate of an earlier one with the same id
    residue mod ``DUP_STRIDE`` (a few words swapped and a ``dup`` marker),
    so the Jaccard join has real pairs, and dup chains, inside every
    residue slice."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(len(doc_ids)):
        if i >= DUP_STRIDE and rng.random() < 0.1:
            words = texts[i - DUP_STRIDE * int(rng.integers(1, i // DUP_STRIDE + 1))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            n = int(rng.integers(10, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), len(doc_ids))],
            "source": [f"src{int(d) % 20}" for d in doc_ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events_table(rng: np.random.Generator):
    import pyarrow as pa

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, EVENT_DAYS * 86400 * 1_000_000, EVENTS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(EVENTS), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), EVENTS)],
            "value": pa.array(np.round(rng.random(EVENTS) * 200, 2), pa.float64()),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, EVENTS)],
        }
    )


def source_dir() -> Path:
    tag = hashlib.sha256(
        json.dumps(
            [GEN_VERSION, CORPUS_SEED, FLAT_DOCS, EVENTS, USERS, EVENT_DAYS, VOCAB, DUP_STRIDE]
        ).encode()
    ).hexdigest()[:12]
    return WORK / f"sf-{tag}"


def ensure_sources() -> Path:
    """Generate the source tables once per checkout."""
    sf = source_dir()
    if (sf / "_DONE").exists():
        return sf
    shutil.rmtree(sf, ignore_errors=True)
    sf.mkdir(parents=True)
    rng = np.random.default_rng(CORPUS_SEED)
    _write_parts(flat_documents(np.arange(FLAT_DOCS), rng), sf / "documents.parquet", DOC_FILES)
    _write_parts(events_table(rng), sf / "events.parquet", EVENT_FILES)
    (sf / "_DONE").write_text("")
    return sf


def package_hash(package: Path = PACKAGE) -> str:
    h = hashlib.sha256()
    for p in sorted(package.rglob("*.py")):
        h.update(str(p.relative_to(package)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def cache_key(sf: Path, amp: int = AMP, package: Path = PACKAGE) -> str:
    """Content key of the prepared tables: every source parquet file's
    relative path, size and mtime, the amplification, and the package
    sources."""
    files = [
        [str(p.relative_to(sf)), p.stat().st_size, p.stat().st_mtime_ns]
        for p in sorted(sf.rglob("*.parquet"))
        if p.is_file()
    ]
    blob = json.dumps({"files": files, "amp": amp, "package": package_hash(package)})
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def prepared_dir(key: str) -> Path:
    return WORK / f"prep-{key}"


def _parquet_glob(path: Path) -> str:
    return str(path / "*.parquet")


def build_prepared(spark, sf: Path, key: str) -> Path:
    """The maintained tables, built with the engine's own bulk path:
    corpus -> native encode -> Hilbert-sorted ``doc_geo`` (32 files) ->
    prefix index range-partitioned and sorted by its probe key.  The
    oracle's ``doc_geo`` is derived independently by DuckDB from the flat
    documents with the shared exact-arithmetic SQL."""
    import duckdb

    from hilbert_curve_spark.operators.encode import encode_documents_native
    from hilbert_curve_spark.operators.range_query import prefix_index
    from hilbert_curve_spark.sources import derive
    from hilbert_curve_spark.sources.interleave import build_documents
    from hilbert_curve_spark.sources.layout import write_sorted

    out = prepared_dir(key)
    for old in WORK.glob("prep-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    build_documents(spark, str(sf), amp=AMP, partitions=16).write.parquet(str(out / "corpus"))
    encode_documents_native(spark.read.parquet(str(out / "corpus"))).write.parquet(
        str(out / "geo_raw")
    )
    write_sorted(spark.read.parquet(str(out / "geo_raw")), str(out / "doc_geo"), partitions=32)
    shutil.rmtree(out / "geo_raw")
    geo = spark.read.parquet(str(out / "doc_geo"))
    (
        prefix_index(geo)
        .repartitionByRange(32, "pbits", "plen")
        .sortWithinPartitions("pbits", "plen")
        .write.parquet(str(out / "prefix_index"))
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{_parquet_glob(sf / 'documents.parquet')}')"
    )
    con.execute(
        f"COPY ({derive.doc_geo_select_sql('documents', AMP)}) TO "
        f"'{out / 'oracle_geo.parquet'}' (FORMAT parquet)"
    )
    con.close()
    add_oracle_hilbert(out / "oracle_geo.parquet", derive.ORDER)
    rows = {
        "doc_geo": geo.count(),
        "prefix_index": spark.read.parquet(str(out / "prefix_index")).count(),
    }
    (out / "manifest.json").write_text(json.dumps({"key": key, "amp": AMP, "rows": rows}))
    return out


def ensure_prepared(spark_factory) -> tuple[Path, Path, bool]:
    """(source dir, prepared dir, built_now).  ``spark_factory`` is only
    called when the tables must be (re)built."""
    sf = ensure_sources()
    key = cache_key(sf)
    out = prepared_dir(key)
    if (out / "manifest.json").exists():
        return sf, out, False
    spark = spark_factory()
    try:
        build_prepared(spark, sf, key)
    finally:
        spark.stop()
    return sf, out, True
