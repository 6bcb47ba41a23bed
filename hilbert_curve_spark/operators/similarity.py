"""Similarity search over the ``embeddings`` table (vec_id, embedding:
array<float>, label).

* **brute-force top-k** — exact cosine between broadcast query vectors and
  every row; dot products computed JVM-side with ``aggregate``/``zip_with``
  (codegen — no Python in the scan), distributed partial top-k via
  ``orderBy().limit(k)``.  This is the correctness baseline.
* **LSH-bucketed ANN** — random-hyperplane (sign) LSH: 16-bit bucket code
  per vector (Arrow-batched numpy matmul); query probes only its bucket and
  hamming-1 neighbours — the scale path (bucket-pruned scan instead of a
  full pass; buckets are balanced by construction for normalized data).

To keep the DuckDB oracle bit-comparable, ranking uses an *integer-scaled*
cosine: both engines compute sums over float32 values promoted to double in
the same left-to-right order, then ``FLOOR(1e6 * dot / (|a| * |b|))``.
Borderline epsilon differences cannot flip an integer rank because ties are
broken by vec_id before the limit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .skew import keyed_pairs


def _dot_sql(a: str, b: str) -> str:
    """JVM-side dot product of two float arrays (zip_with + aggregate)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm2_sql(a: str) -> str:
    return _dot_sql(a, a)


def cosine_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine to one query vector: (vec_id, cos_e6)."""
    qlit = "array(" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + ")"
    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    cos = F.expr(
        f"CAST(FLOOR(1000000.0 * {_dot_sql('embedding', qlit)} / "
        f"(SQRT({_norm2_sql('embedding')}) * {qn!r})) AS BIGINT)"
    )
    return (
        embeddings.select("vec_id", cos.alias("cos_e6"))
        .orderBy(F.col("cos_e6").desc(), F.col("vec_id"))
        .limit(k)
    )


def cosine_topk_oracle(query_vec: list[float], k: int = 10, table: str = "embeddings") -> str:
    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    qlit = "[" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + "]"
    # list_reduce = sequential left fold, exactly matching Spark's
    # ``aggregate`` fold order (0.0 + x == x in IEEE, so the missing init
    # value cannot diverge); list_sum would use a different summation order.
    dot = (
        f"list_reduce(list_transform(list_zip(embedding, {qlit}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    norm = (
        "list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), "
        "(a, b) -> a + b)"
    )
    return (
        f"SELECT vec_id, CAST(FLOOR(1000000.0 * {dot} / (SQRT({norm}) * {qn!r})) AS BIGINT) AS cos_e6 "
        f"FROM {table} ORDER BY cos_e6 DESC, vec_id LIMIT {k}"
    )


def embed_dup_pairs(
    embeddings: DataFrame, threshold_e6: int = 250_000, block_col: str = "label"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key:
    (vec_a, vec_b, cos_e6) for pairs with integer-scaled cosine >= threshold.

    The block column bounds the pair space (at 10^12 rows the block is an
    LSH bucket or coarse cluster id; here the corpus ``label``).  Dot
    products and norms are JVM-side sequential folds, so the DuckDB oracle
    (same fold order) matches bit-for-bit.
    """
    n = embeddings.select(
        "vec_id",
        "embedding",
        F.expr(f"SQRT({_norm2_sql('embedding')})").alias("nrm"),
        block_col,
    ).localCheckpoint(eager=False)  # both pair sides consume the norm
    # projection (and the caller's block key) — pin it so it computes once
    cos = F.expr(
        f"CAST(FLOOR(1000000.0 * {_dot_sql('embedding_a', 'embedding_b')} / (nrm_a * nrm_b)) AS BIGINT)"
    )
    return (
        keyed_pairs(n, block_col, "vec_id")
        .select(
            F.col("vec_id_a").alias("vec_a"),
            F.col("vec_id_b").alias("vec_b"),
            cos.alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= threshold_e6)
    )


def embed_dup_pairs_oracle(
    threshold_e6: int = 250_000, block_col: str = "label", table: str = "embeddings"
) -> str:
    dot = (
        "list_reduce(list_transform(list_zip(a.embedding, b.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )
    norm = (
        "SQRT(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), "
        "(x, y) -> x + y))"
    )
    return f"""
WITH n AS (SELECT vec_id, {block_col} AS blk, embedding, {norm} AS nrm FROM {table})
SELECT vec_a, vec_b, cos_e6 FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(FLOOR(1000000.0 * {dot} / (a.nrm * b.nrm)) AS BIGINT) AS cos_e6
  FROM n a JOIN n b ON a.blk = b.blk AND a.vec_id < b.vec_id
) WHERE cos_e6 >= {threshold_e6}
"""


# ---------------------------------------------------------------------------
# sign-LSH ANN
# ---------------------------------------------------------------------------

def _planes(dim: int, nbits: int = 16) -> np.ndarray:
    rng = np.random.default_rng(20240601)  # fixed — determinism
    return rng.standard_normal((nbits, dim))


def _plane_lit_spark(plane: np.ndarray) -> str:
    return "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in plane) + ")"


def _plane_lit_duck(plane: np.ndarray) -> str:
    return "[" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in plane) + "]"


def lsh_bucket_expr(dim: int, nbits: int = 16) -> F.Column:
    """Sign-LSH bucket code as a native Column: bit j set iff the sequential
    left-fold dot product with literal plane j is positive.  The identical
    fold order exists in DuckDB (``list_reduce``), so bucket codes are
    bit-reproducible across engines — the correctness lever that lets the
    ANN query have a full SQL oracle."""
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql('embedding', _plane_lit_spark(p))} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_planes(dim, nbits))
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def _query_code(query_vec: list[float], planes: np.ndarray) -> int:
    """Query-side bucket code with the same sequential fold as the SQL."""
    code = 0
    for j in range(planes.shape[0]):
        acc = 0.0
        for v, w in zip(query_vec, planes[j]):
            acc += float(v) * float(w)
        if acc > 0:
            code |= 1 << j
    return code


def _probe_codes(query_vec: list[float], nbits: int, hamming_probe: int) -> list[int]:
    planes = _planes(len(query_vec), nbits)
    qcode = _query_code(query_vec, planes)
    return [qcode] + ([qcode ^ (1 << i) for i in range(nbits)] if hamming_probe else [])


def ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nbits: int = 16,
    hamming_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket and its hamming-1
    neighbours, exact cosine re-rank within.  At 10^12 rows the table is
    stored bucketed/partitioned by the LSH code (``lsh_bucket_expr`` is the
    write-path partition key), so the probe reads ~(nbits+1)/2^nbits of the
    data instead of recomputing codes on the fly."""
    dim = len(query_vec)
    probes = _probe_codes(query_vec, nbits, hamming_probe)
    bucketed = embeddings.withColumn("bucket", lsh_bucket_expr(dim, nbits))
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k)


def ann_topk_oracle(
    query_vec: list[float],
    k: int = 10,
    nbits: int = 16,
    hamming_probe: int = 1,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle replaying the sign-LSH probe: identical plane literals,
    identical fold order, identical probe set."""
    planes = _planes(len(query_vec), nbits)
    probes = _probe_codes(query_vec, nbits, hamming_probe)
    dot_of = lambda plane_lit: (  # noqa: E731 — local SQL snippet builder
        f"list_reduce(list_transform(list_zip(embedding, {plane_lit}), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)"
    )
    bucket = " + ".join(
        f"(CASE WHEN {dot_of(_plane_lit_duck(p))} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    qlit = "[" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + "]"
    dot = (
        f"list_reduce(list_transform(list_zip(embedding, {qlit}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    norm = (
        "list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), "
        "(a, b) -> a + b)"
    )
    in_list = ", ".join(str(c) for c in probes)
    return (
        f"WITH b AS (SELECT vec_id, embedding, ({bucket}) AS bucket FROM {table}) "
        f"SELECT vec_id, CAST(FLOOR(1000000.0 * {dot} / (SQRT({norm}) * {qn!r})) AS BIGINT) AS cos_e6 "
        f"FROM b WHERE bucket IN ({in_list}) ORDER BY cos_e6 DESC, vec_id LIMIT {k}"
    )


def write_lsh_partitioned(
    embeddings: DataFrame, path: str, dim: int, nbits: int = 16
) -> None:
    """Materialize embeddings with the sign-LSH ``bucket`` code as a
    PARTITION column — the write-path layout the ``ann_topk`` docstring
    promises (on Iceberg: identity partition on bucket).  After this write
    a probe's ``bucket isin(...)`` is partition PRUNING: the query reads
    ~(probes)/2^nbits of the bytes instead of recomputing codes over the
    full table.  ``nbits`` sizes the directory fan-out (2^nbits partitions
    at most); a 10^12-row deployment uses 2^12-2^16 buckets so each holds
    file-sized inverted lists."""
    bucketed = embeddings.withColumn("bucket", lsh_bucket_expr(dim, nbits))
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_stored(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nbits: int = 16,
    hamming_probe: int = 1,
) -> DataFrame:
    """Sign-LSH probe against the stored bucket-partitioned layout: compute
    the query's code + hamming-1 neighbours driver-side (pure Python over
    the literal planes — no data touched), then read ONLY those partitions
    (``PartitionFilters`` asserted in test_physical_plans.py) and exact
    cosine re-rank within.  Result-identical to the inline ``ann_topk``
    because the stored codes come from the same ``lsh_bucket_expr``."""
    stored = spark.read.parquet(path)
    probes = _probe_codes(query_vec, nbits, hamming_probe)
    cand = stored.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand.select("vec_id", "embedding"), query_vec, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer variant
# ---------------------------------------------------------------------------

IVF_STRIDE = 37  # deterministic centroid sampling stride (vec_id % stride == 0)


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Deterministic coarse centroids: the first ``n_centroids`` vectors (by
    vec_id) among rows with ``vec_id % IVF_STRIDE == 0``.

    At 10^12 rows the centroids come from a periodic k-means job and live in
    a small dimension table; the strided pick here is the deterministic
    stand-in that both engines (and the DuckDB oracle) can reproduce
    exactly — the *query plan* downstream is identical either way."""
    return (
        embeddings.filter((F.col("vec_id") % IVF_STRIDE) == 0)
        .orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )


def ivf_assign(embeddings: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Assign every vector to its nearest centroid by integer-scaled cosine
    (ties broken by centroid id): (vec_id, cid, embedding).

    Plan shape: broadcast hash join (centroids are tiny) fanning each row
    out C ways, then a windowed argmax per vec_id — one shuffle on vec_id.
    At scale the assignment is computed at WRITE time and stored as a
    partition column, so queries never pay this join."""
    from pyspark.sql import Window

    cents = ivf_centroids(embeddings, n_centroids)
    cos = F.expr(
        f"CAST(FLOOR(1000000.0 * {_dot_sql('embedding', 'cvec')} / "
        f"(SQRT({_norm2_sql('embedding')}) * SQRT({_norm2_sql('cvec')}))) AS BIGINT)"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cid"))
    return (
        embeddings.crossJoin(F.broadcast(cents))
        .withColumn("ccos", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "embedding")
    )


def _centroid_query_cos(query_vec: list[float]) -> F.Column:
    """Integer-scaled cosine between a centroid vector (``cvec``) and the
    literal query — the same fold order as everywhere else, so the probe
    choice is the identical integer in Spark and DuckDB."""
    qlit = "array(" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + ")"
    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    return F.expr(
        f"CAST(FLOOR(1000000.0 * {_dot_sql('cvec', qlit)} / "
        f"(SQRT({_norm2_sql('cvec')}) * {qn!r})) AS BIGINT)"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN: rank centroids against the query, scan only the ``nprobe``
    nearest inverted lists, exact cosine re-rank within: (vec_id, cos_e6).

    The probe list is chosen by the integer-scaled centroid-query cosine
    (collected from a C-row frame — a driver action on the tiny dimension
    side only).  At 10^12 rows the table is partitioned by ``cid`` so the
    probe becomes partition pruning — the query reads ~nprobe/n_centroids
    of the data."""
    cents = ivf_centroids(embeddings, n_centroids)
    probe = [
        int(r["cid"])
        for r in cents.withColumn("qcos", _centroid_query_cos(query_vec))
        .orderBy(F.col("qcos").desc(), F.col("cid"))
        .limit(nprobe)
        .collect()
    ]
    assigned = ivf_assign(embeddings, n_centroids)
    cand = assigned.filter(F.col("cid").isin(probe))
    return cosine_topk(cand.select("vec_id", "embedding"), query_vec, k)


def ivf_topk_oracle(
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle replaying the IVF pipeline end to end: same strided
    centroids, same integer-scaled-cosine probe choice and argmax
    assignment (identical fold order -> identical integers -> identical
    probe set and result)."""
    dot_cv = (
        "list_reduce(list_transform(list_zip(e.embedding, c.cvec), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    norm_of = lambda col: (  # noqa: E731
        f"SQRT(list_reduce(list_transform({col}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), "
        "(a, b) -> a + b))"
    )
    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    qlit = "[" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + "]"
    dot_q = (
        f"list_reduce(list_transform(list_zip(embedding, {qlit}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    dot_qc = (
        f"list_reduce(list_transform(list_zip(cvec, {qlit}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM {table}
  WHERE vec_id % {IVF_STRIDE} = 0 ORDER BY vec_id LIMIT {n_centroids}
), probes AS (
  SELECT cid FROM (
    SELECT cid,
           CAST(FLOOR(1000000.0 * {dot_qc} / ({norm_of('cvec')} * {qn!r})) AS BIGINT) AS qcos
    FROM cents
  ) ORDER BY qcos DESC, cid LIMIT {nprobe}
), scored AS (
  SELECT e.vec_id, c.cid, e.embedding,
         CAST(FLOOR(1000000.0 * {dot_cv} /
              ({norm_of('e.embedding')} * {norm_of('c.cvec')})) AS BIGINT) AS ccos,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(FLOOR(1000000.0 * {dot_cv} /
                  ({norm_of('e.embedding')} * {norm_of('c.cvec')})) AS BIGINT) DESC,
             c.cid) AS rn
  FROM {table} e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cid, embedding FROM scored WHERE rn = 1
)
SELECT vec_id,
       CAST(FLOOR(1000000.0 * {dot_q} /
            (SQRT(list_reduce(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, b) -> a + b)) * {qn!r})) AS BIGINT) AS cos_e6
FROM assigned WHERE cid IN (SELECT cid FROM probes)
ORDER BY cos_e6 DESC, vec_id LIMIT {k}
"""


def write_ivf_partitioned(assigned: DataFrame, path: str) -> None:
    """Materialize the IVF assignment with ``cid`` as a PARTITION column —
    the storage layout the 10^12-row deployment uses (on Iceberg: identity
    partition on cid + a periodic re-cluster job).  After this write the
    probe filter is partition PRUNING, not a scan+filter."""
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)


def ivf_topk_stored(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF probe against the stored partitioned layout: rank the (tiny)
    centroid list against the query, then read ONLY the nprobe nearest
    inverted lists — ``cid isin(probe)`` on a cid-partitioned table is
    partition pruning (asserted in test_physical_plans.py), so the query
    touches ~nprobe/n_centroids of the bytes.  Exact cosine re-rank within."""
    stored = spark.read.parquet(path)
    # a real deployment keeps the k-means centroid dimension table; here
    # centroids ARE strided member vectors (ivf_centroids), and a centroid
    # is always assigned to itself, so the row with vec_id == cid is it
    cents = stored.filter(F.col("vec_id") == F.col("cid")).select(
        "cid", F.col("embedding").alias("cvec")
    )
    probe = [
        int(r["cid"])
        for r in cents.withColumn("qcos", _centroid_query_cos(query_vec))
        .orderBy(F.col("qcos").desc(), F.col("cid"))
        .limit(nprobe)
        .collect()
    ]
    cand = stored.filter(F.col("cid").isin(probe))
    return cosine_topk(cand.select("vec_id", "embedding"), query_vec, k)


def cell_embedding_profile(
    doc_geo: DataFrame,
    embeddings: DataFrame,
    shift: int = 8,
    scale: int = 4096,
    edge: int = 4096,
) -> DataFrame:
    """Regional embedding profile — the spatial x embedding interleaving:
    per grid cell and embedding dimension, the document count and the
    exact integer-quantized component sum ``(gcell, dim, n_docs, qsum)``
    with ``qsum = SUM(FLOOR(component * scale))``.

    A geo-aware curation pipeline reads this as the per-region semantic
    centroid (divide ``qsum`` by ``n_docs * scale`` downstream) — which
    regions' documents cluster in embedding space, where to rebalance
    sampling.  ``scale`` is a power of two so ``float -> double * scale``
    is EXACT and FLOOR is engine-neutral (CLAUDE.md: DuckDB rounds,
    Spark truncates — FLOOR first).

    Plan — aggregate BEFORE join: docs collapse to per-(cell, vec_id)
    counts first (bounded by cells x |embeddings|, not the corpus), then
    join the exploded embedding table (|embeddings| x dim rows — the
    broadcastable dim side) and weight by count.  The corpus is touched
    exactly once; nothing downstream scales with it.  Reference corpus
    shape: `SpatialDataProcessor/StaticData/DataSetAccess.java:149-162`
    (the hot-spot clusters this profiles)."""
    n_vecs = embeddings.count()  # dim-table size: bounded driver control read
    grid = edge >> shift
    gcell = (F.shiftright("x", shift) * grid + F.shiftright("y", shift)).cast(
        "long"
    )
    sid = F.expr("CAST(substring(doc_id, 4, 10) AS BIGINT)")
    cnts = (
        doc_geo.select(gcell.alias("gcell"), (sid % n_vecs).alias("vec_id"))
        .groupBy("gcell", "vec_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ev = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn(
        "qv", F.expr(f"CAST(FLOOR(CAST(val AS DOUBLE) * {scale}) AS BIGINT)")
    )
    return (
        cnts.join(ev, "vec_id")
        .groupBy("gcell", "dim")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.sum(F.col("cnt") * F.col("qv")).cast("long").alias("qsum"),
        )
        .select("gcell", F.col("dim").cast("int").alias("dim"), "n_docs", "qsum")
    )


def cell_embedding_profile_oracle(
    shift: int = 8, scale: int = 4096, edge: int = 4096, table: str = "embeddings"
) -> str:
    """Appends to a CTE chain defining ``doc_geo`` (doc_key, x, y): the
    identical vec assignment (sid % COUNT(*)), 0-based dim subscripts, and
    FLOOR-quantized sums — all BIGINT-cast so DuckDB's HUGEINT sums never
    drift to float64."""
    grid = edge >> shift
    return f"""prof AS (
  SELECT (x >> {shift}) * {grid} + (y >> {shift}) AS gcell,
         CAST(substring(doc_key, 4, 10) AS BIGINT)
           % (SELECT COUNT(*) FROM {table}) AS vec_id,
         COUNT(*) AS cnt
  FROM doc_geo GROUP BY 1, 2
), ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {scale}) AS BIGINT) AS qv
  FROM {table}
)
SELECT CAST(p.gcell AS BIGINT) AS gcell, CAST(e.dim AS INT) AS dim,
       CAST(SUM(p.cnt) AS BIGINT) AS n_docs,
       CAST(SUM(p.cnt * e.qv) AS BIGINT) AS qsum
FROM prof p JOIN ev e ON p.vec_id = e.vec_id
GROUP BY p.gcell, e.dim"""


def geo_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    k: int = 10,
) -> DataFrame:
    """GEO-CONSTRAINED similarity search: exact top-k by cosine among the
    vectors whose derived lattice coordinates fall inside the box —
    ``(vec_id, x, y, cos_e6)``, the "find similar documents NEAR HERE"
    query a multimodal geo corpus serves (spatial index and embedding
    index composed in one plan).  Each vector gets the engine's
    deterministic lattice coordinates (the exact-LCG streams of
    :mod:`..sources.derive` keyed on ``vec_id`` — the same derivation the
    geofence/trajectory families use for events), the box filters FIRST,
    and the cosine runs only on the survivors.

    Plan: codegen coordinate derivation + box predicate (on a stored
    Hilbert-sorted embedding table this is the pruned scan
    ``grq_stored`` demonstrates — filter-before-similarity is the whole
    point), then the JVM-side fold cosine of :func:`cosine_topk` and a
    distributed partial top-k (per-partition TakeOrdered, ties broken by
    vec_id).  No Python, no join, no full-corpus similarity pass."""
    from ..sources import derive

    qlit = "array(" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + ")"
    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    cos = F.expr(
        f"CAST(FLOOR(1000000.0 * {_dot_sql('embedding', qlit)} / "
        f"(SQRT({_norm2_sql('embedding')}) * {qn!r})) AS BIGINT)"
    )
    pts = embeddings.withColumn(
        "x", F.expr(derive.x_sql("vec_id"))
    ).withColumn("y", F.expr(derive.y_sql("vec_id")))
    boxed = pts.filter(
        F.col("x").between(int(x_lo), int(x_hi))
        & F.col("y").between(int(y_lo), int(y_hi))
    )
    return (
        boxed.select("vec_id", "x", "y", cos.alias("cos_e6"))
        .orderBy(F.col("cos_e6").desc(), F.col("vec_id"))
        .limit(int(k))
    )


def geo_cosine_topk_oracle(
    query_vec: list[float],
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    k: int = 10,
    table: str = "embeddings",
) -> str:
    """Identical derivation + box + left-fold cosine (see
    :func:`cosine_topk_oracle` for the fold-order argument) + the same
    deterministic tie-break."""
    from ..sources import derive

    qn = float(np.sqrt(np.sum(np.float64(np.asarray(query_vec, dtype=np.float32)) ** 2)))
    qlit = "[" + ", ".join(f"CAST({float(v)} AS FLOAT)" for v in query_vec) + "]"
    dot = (
        f"list_reduce(list_transform(list_zip(embedding, {qlit}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    norm = (
        "list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), "
        "(a, b) -> a + b)"
    )
    return f"""WITH gct_pts AS (
  SELECT vec_id, {derive.x_sql('vec_id')} AS x, {derive.y_sql('vec_id')} AS y,
         embedding
  FROM {table}
)
SELECT vec_id, x, y,
       CAST(FLOOR(1000000.0 * {dot} / (SQRT({norm}) * {qn!r})) AS BIGINT) AS cos_e6
FROM gct_pts
WHERE x BETWEEN {int(x_lo)} AND {int(x_hi)} AND y BETWEEN {int(y_lo)} AND {int(y_hi)}
ORDER BY cos_e6 DESC, vec_id LIMIT {int(k)}"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN strategy
# ---------------------------------------------------------------------------

# components are quantized to int64 once (FLOOR(v * 1e6) + offset) and
# EVERYTHING downstream — codebook training, assignment, ADC ranking — is
# exact integer arithmetic, so the whole optimization unrolls into a
# DuckDB oracle like grid_kmeans.  The offset keeps every quantized value
# non-negative (safe for |v| < 2.09), making integer division floor ==
# truncation in BOTH engines (the SUM DIV COUNT centroid update would
# otherwise diverge on negative sums).
_PQ_OFFSET = 1 << 21
_PQ_SCALE = 1_000_000


def _pq_quant_sql(col: str = "embedding") -> str:
    return (
        f"transform({col}, v -> CAST(FLOOR(CAST(v AS DOUBLE) * {_PQ_SCALE}.0) "
        f"AS BIGINT) + {_PQ_OFFSET})"
    )


def _pq_sub_dist_sql(s: int, subdim: int, cent: list[int]) -> str:
    """Codegen int64 L2^2 between subspace ``s`` of the quantized vector
    column ``qv`` and a literal centroid."""
    lits = ", ".join(f"{int(c)}L" for c in cent)
    return (
        f"aggregate(zip_with(slice(qv, {s * subdim + 1}, {subdim}), "
        f"array({lits}), (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)"
    )


def _pq_code_col(s: int, subdim: int, cents_s: list[list[int]]) -> F.Column:
    """argmin centroid for subspace ``s`` — ties to the smaller cid via
    lexicographic struct min (the grid_kmeans pattern)."""
    structs = ", ".join(
        f"named_struct('d', {_pq_sub_dist_sql(s, subdim, c)}, 'c', {cid})"
        for cid, c in enumerate(cents_s)
    )
    return F.expr(f"array_min(array({structs}))")


def _pq_train(
    embeddings: DataFrame, m: int, k: int, iters: int
) -> tuple[list[list[list[int]]], int]:
    """Per-subspace Lloyd's k-means over the int64-quantized vectors with
    the deterministic protocol the oracle replays: seeds are the ``k``
    smallest vec_ids' subvectors, assignment ties to the smaller cid,
    centroid updates are ``SUM DIV COUNT`` per (subspace, cid, dim),
    empty clusters keep their previous centroid, exactly ``iters``
    rounds.  Driver traffic per round is ONE m*k*subdim-row collect
    (bounded control rows, never data — same discipline as grid_kmeans
    and the kNN growth probe)."""
    dim = len(embeddings.select("embedding").first()["embedding"])
    subdim = dim // int(m)
    base = embeddings.select(
        "vec_id", F.expr(_pq_quant_sql()).alias("qv")
    ).localCheckpoint()
    seed_rows = base.orderBy("vec_id").limit(int(k)).collect()
    cents = [
        [list(r["qv"][s * subdim : (s + 1) * subdim]) for r in seed_rows]
        for s in range(int(m))
    ]
    dims = base.select(
        "vec_id", F.posexplode("qv").alias("p", "q")
    ).select(
        "vec_id",
        F.expr(f"p DIV {subdim}").alias("s"),
        F.expr(f"p % {subdim}").alias("pos"),
        "q",
    )
    for _ in range(int(iters)):
        codes = base.select(
            "vec_id",
            *[
                _pq_code_col(s, subdim, cents[s]).getField("c").alias(f"c{s}")
                for s in range(int(m))
            ],
        )
        cid_at = F.expr(
            "element_at(array(" + ", ".join(f"c{s}" for s in range(int(m))) + "), "
            "CAST(s + 1 AS INT))"
        )
        upd = (
            dims.join(codes, "vec_id")
            .withColumn("cid", cid_at)
            .groupBy("s", "cid", "pos")
            .agg(F.expr("SUM(q) DIV COUNT(*)").alias("cent"))
            .collect()
        )
        new = [[list(c) for c in cents[s]] for s in range(int(m))]
        for r in upd:
            new[r["s"]][r["cid"]][r["pos"]] = r["cent"]
        cents = new
    return cents, subdim


def pq_codes(
    embeddings: DataFrame, m: int = 4, k: int = 4, iters: int = 2
) -> DataFrame:
    """PRODUCT-QUANTIZATION codebook assignment — ``(vec_id, c0..c{m-1},
    qerr)``: each vector's per-subspace centroid codes after exactly
    ``iters`` k-means rounds per subspace, plus the total int64
    quantization error.  PQ (Jegou et al., TPAMI'11) completes the ANN
    strategy set: brute cosine (exact baseline), sign-LSH (hash
    buckets), IVF (partition pruning) — and PQ, the MEMORY-bound path: m
    log2(k)-bit codes replace the full vector, so a 10^12-vector corpus
    scans codes (bytes/vector) instead of floats (256 bytes/vector).

    Training is driver-bounded (m*k*subdim control rows per round);
    encoding is ONE codegen projection over the corpus — no shuffle, no
    Python.  Exact-integer end to end (quantize -> train -> assign), so
    the DuckDB oracle unrolls the whole optimization and must match
    bit-for-bit."""
    cents, subdim = _pq_train(embeddings, m, k, iters)
    base = embeddings.select("vec_id", F.expr(_pq_quant_sql()).alias("qv"))
    cols = []
    err = None
    for s in range(int(m)):
        st = _pq_code_col(s, subdim, cents[s])
        cols.append(st.getField("c").cast("long").alias(f"c{s}"))
        err = st.getField("d") if err is None else err + st.getField("d")
    return base.select("vec_id", *cols, err.cast("long").alias("qerr"))


def pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    kq: int = 15,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """ASYMMETRIC-DISTANCE (ADC) top-k over the PQ codes — ``(vec_id,
    adc_dist)``: the query stays unquantized-to-codes; its exact int64
    distance to every (subspace, centroid) pair forms the m*k lookup
    table, and each vector's ADC distance is the sum of m table lookups
    on its codes — the scan touches CODES only (the PQ scale story; the
    table is driver-side literals, k*m bounded).  Ties break on vec_id.
    The reference's per-query curve-neighbor scan is the semantic
    ancestor (`Scheme/RSKQ/RSKQ_Biginteger.java`); this is its
    compressed-domain form."""
    import math

    cents, subdim = _pq_train(embeddings, m, k, iters)
    qq = [
        int(math.floor(float(np.float64(np.float32(v))) * _PQ_SCALE)) + _PQ_OFFSET
        for v in query_vec
    ]
    adc = [
        [
            sum(
                (qq[s * subdim + p] - cents[s][cid][p]) ** 2
                for p in range(subdim)
            )
            for cid in range(int(k))
        ]
        for s in range(int(m))
    ]
    base = embeddings.select("vec_id", F.expr(_pq_quant_sql()).alias("qv"))
    dist = None
    for s in range(int(m)):
        code = _pq_code_col(s, subdim, cents[s]).getField("c")
        lut = "array(" + ", ".join(f"{v}L" for v in adc[s]) + ")"
        term = F.element_at(F.expr(lut), (code + 1).cast("int"))
        dist = term if dist is None else dist + term
    return (
        base.select("vec_id", dist.cast("long").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(int(kq))
    )


def _pq_train_sql(m: int, k: int, iters: int, dim: int, table: str) -> str:
    """CTE chain replaying the full PQ training: quantized dims, seeded
    codebook, and every assign/update round unrolled."""
    subdim = dim // int(m)
    parts = [
        f"""pq_dims AS (
  SELECT vec_id, CAST((i - 1) // {subdim} AS BIGINT) AS s,
         CAST((i - 1) % {subdim} AS BIGINT) AS pos,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_PQ_SCALE}.0) AS BIGINT)
           + {_PQ_OFFSET} AS q
  FROM {table}, range(1, {dim + 1}) t(i)
)""",
        f"""pq_seeds AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM {table} ORDER BY vec_id LIMIT {int(k)}
)""",
        """pq_c0 AS (
  SELECT d.s, i.cid, d.pos, d.q AS cent
  FROM pq_dims d JOIN pq_seeds i ON d.vec_id = i.vec_id
)""",
    ]
    for i in range(1, int(iters) + 1):
        parts.append(
            f"""pq_d{i} AS (
  SELECT d.vec_id, d.s, c.cid,
         CAST(SUM((d.q - c.cent) * (d.q - c.cent)) AS BIGINT) AS dist
  FROM pq_dims d JOIN pq_c{i - 1} c ON d.s = c.s AND d.pos = c.pos
  GROUP BY d.vec_id, d.s, c.cid
), pq_a{i} AS (
  SELECT vec_id, s, arg_min(cid, dist * {int(k)} + cid) AS cid
  FROM pq_d{i} GROUP BY vec_id, s
), pq_u{i} AS (
  SELECT a.s, a.cid, d.pos, CAST(SUM(d.q) // COUNT(*) AS BIGINT) AS cent
  FROM pq_a{i} a JOIN pq_dims d ON d.vec_id = a.vec_id AND d.s = a.s
  GROUP BY a.s, a.cid, d.pos
), pq_c{i} AS (
  SELECT p.s, p.cid, p.pos, CAST(COALESCE(u.cent, p.cent) AS BIGINT) AS cent
  FROM pq_c{i - 1} p
  LEFT JOIN pq_u{i} u ON p.s = u.s AND p.cid = u.cid AND p.pos = u.pos
)"""
        )
    # codes are assignments against the FINAL codebook — one more argmin
    # pass after the last update (pq_fd/pq_fa), exactly like the Spark
    # operator's final projection
    n = int(iters)
    parts.append(
        f"""pq_fd AS (
  SELECT d.vec_id, d.s, c.cid,
         CAST(SUM((d.q - c.cent) * (d.q - c.cent)) AS BIGINT) AS dist
  FROM pq_dims d JOIN pq_c{n} c ON d.s = c.s AND d.pos = c.pos
  GROUP BY d.vec_id, d.s, c.cid
), pq_fa AS (
  SELECT vec_id, s, arg_min(cid, dist * {int(k)} + cid) AS cid
  FROM pq_fd GROUP BY vec_id, s
)"""
    )
    return ", ".join(parts)


def pq_codes_oracle(
    m: int = 4, k: int = 4, iters: int = 2, dim: int = 64,
    table: str = "embeddings",
) -> str:
    cases = ", ".join(
        f"CAST(MAX(CASE WHEN s = {s} THEN cid END) AS BIGINT) AS c{s}"
        for s in range(int(m))
    )
    return f"""WITH {_pq_train_sql(m, k, iters, dim, table)},
pq_final AS (
  SELECT a.vec_id, a.s, a.cid, d.dist
  FROM pq_fa a JOIN pq_fd d
    ON a.vec_id = d.vec_id AND a.s = d.s AND a.cid = d.cid
)
SELECT vec_id, {cases}, CAST(SUM(dist) AS BIGINT) AS qerr
FROM pq_final GROUP BY vec_id"""


def pq_topk_oracle(
    query_vec: list[float],
    kq: int = 15,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    import math

    n = int(iters)
    subdim = dim // int(m)
    qq = [
        int(math.floor(float(np.float64(np.float32(v))) * _PQ_SCALE)) + _PQ_OFFSET
        for v in query_vec
    ]
    qvals = ", ".join(
        f"({i // subdim}, {i % subdim}, {qq[i]})" for i in range(dim)
    )
    return f"""WITH {_pq_train_sql(m, k, iters, dim, table)},
pq_q(s, pos, q) AS (VALUES {qvals}),
pq_lut AS (
  SELECT c.s, c.cid, CAST(SUM((q.q - c.cent) * (q.q - c.cent)) AS BIGINT) AS qd
  FROM pq_c{n} c JOIN pq_q q ON c.s = q.s AND c.pos = q.pos
  GROUP BY c.s, c.cid
)
SELECT a.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
FROM pq_fa a JOIN pq_lut l ON a.s = l.s AND a.cid = l.cid
GROUP BY a.vec_id
ORDER BY adc_dist, a.vec_id LIMIT {int(kq)}"""


# ---------------------------------------------------------------------------
# Evaluation suite over the labeled embeddings
# ---------------------------------------------------------------------------


def label_knn_accuracy(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """kNN-classifier EVALUATION over the labeled eval set — ``(label,
    n_vecs, n_correct, acc_ppm)``: each vector is classified by the
    majority label of its ``k`` nearest neighbors (exact int64-quantized
    L2; PQ's quantizer, so the whole metric is exact-integer and
    oracle-checkable), scored against its own label, reported per true
    label in FLOOR-ppm.  The embedding-quality gate every training-data
    pipeline runs before trusting the dedup/ANN layers.

    Determinism: neighbor ties break on ``(dist, nbr_id)``, vote ties on
    ``(count DESC, label ASC)``.

    Candidate generation — the scale dial:

    - ``n_centroids=None``: exact all-pairs distance join, O(n^2).  Only
      for tiny labeled sets (unit-test ground truth).
    - ``n_centroids=C``: IVF-blocked.  Every vector is assigned to its
      nearest coarse centroid (the deterministic strided centroids and
      integer-cosine argmax shared with :func:`ivf_assign`); each query
      vector probes its ``nprobe`` nearest cells and is scored ONLY
      against vectors assigned there.  Neighbors come from the probed
      inverted lists — candidate volume drops from n^2 to
      ~n^2 * nprobe / C, and the pair join is an equi-join on ``cid``
      (shuffle-partitioned, AQE-skew-safe) instead of a CartesianProduct.
      The vote/score tail is identical in both modes, and the DuckDB
      oracle replays the same probe choice integer-for-integer, so the
      metric stays exactly checkable."""
    base = embeddings.select(
        "vec_id", F.col("label").cast("long").alias("label"),
        F.expr(_pq_quant_sql()).alias("qv"),
    )
    a = base.select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("qv").alias("aq"),
    )
    b = base.select(
        F.col("vec_id").alias("bid"),
        F.col("label").alias("blabel"),
        F.col("qv").alias("bq"),
    )
    dist = F.expr(
        "aggregate(zip_with(aq, bq, (x, y) -> (x - y) * (x - y)), 0L, "
        "(acc, v) -> acc + v)"
    )
    if n_centroids is None:
        pairs = (
            a.crossJoin(b)
            .filter(F.col("aid") != F.col("bid"))
            .select("aid", "alabel", "bid", "blabel", dist.alias("d"))
        )
    else:
        # one C-way broadcast fanout scores every vector against every
        # centroid; rn==1 is the assignment, rn<=nprobe the probe list
        cents = ivf_centroids(embeddings, n_centroids)
        cos = F.expr(
            f"CAST(FLOOR(1000000.0 * {_dot_sql('embedding', 'cvec')} / "
            f"(SQRT({_norm2_sql('embedding')}) * SQRT({_norm2_sql('cvec')}))) AS BIGINT)"
        )
        wc = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cid"))
        scored = (
            embeddings.crossJoin(F.broadcast(cents))
            .withColumn("ccos", cos)
            .withColumn("crn", F.row_number().over(wc))
            .select("vec_id", "cid", "crn")
        )
        probes = scored.filter(F.col("crn") <= int(nprobe)).select(
            F.col("vec_id").alias("aid"), "cid"
        )
        assigned = scored.filter(F.col("crn") == 1).select(
            F.col("vec_id").alias("bid"), "cid"
        )
        pairs = (
            probes.join(a, "aid")
            .join(assigned.join(b, "bid"), "cid")
            .filter(F.col("aid") != F.col("bid"))
            .select("aid", "alabel", "bid", "blabel", dist.alias("d"))
        )
    wk = Window.partitionBy("aid").orderBy("d", "bid")
    knn = pairs.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= int(k)
    )
    votes = knn.groupBy("aid", "alabel", "blabel").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("aid").orderBy(F.desc("n"), F.asc("blabel"))
    pred = (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select(
            "aid", "alabel", F.col("blabel").alias("pred")
        )
    )
    return pred.groupBy(F.col("alabel").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.when(F.col("pred") == F.col("alabel"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN pred = alabel THEN 1 ELSE 0 END))"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


def label_knn_accuracy_oracle(
    k: int = 5,
    table: str = "embeddings",
    n_centroids: int | None = None,
    nprobe: int = 2,
) -> str:
    """Identical quantization, distance, neighbor/vote tie-breaks, and
    FLOOR-ppm accuracy; with ``n_centroids`` set, the same IVF candidate
    blocking (strided centroids, integer-cosine argmax assignment, and
    per-vector nprobe probe list) replayed integer-for-integer."""
    if n_centroids is None:
        pair_gen = f"""ka_pairs AS (
  SELECT a.vec_id AS aid, a.label AS alabel, b.vec_id AS bid,
         b.label AS blabel,
         list_reduce(list_transform(list_zip(a.qv, b.qv),
           p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) AS d
  FROM ka_q a JOIN ka_q b ON a.vec_id <> b.vec_id
)"""
    else:
        dot_cv = (
            "list_reduce(list_transform(list_zip(e.embedding, c.cvec), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"
        )
        norm_of = lambda col: (  # noqa: E731
            f"SQRT(list_reduce(list_transform({col}, v -> CAST(v AS DOUBLE) * "
            "CAST(v AS DOUBLE)), (a, b) -> a + b))"
        )
        pair_gen = f"""ka_cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM {table}
  WHERE vec_id % {IVF_STRIDE} = 0 ORDER BY vec_id LIMIT {int(n_centroids)}
), ka_scored AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(FLOOR(1000000.0 * {dot_cv} /
                  ({norm_of('e.embedding')} * {norm_of('c.cvec')})) AS BIGINT) DESC,
             c.cid) AS crn
  FROM {table} e CROSS JOIN ka_cents c
), ka_pairs AS (
  SELECT a.vec_id AS aid, a.label AS alabel, b.vec_id AS bid,
         b.label AS blabel,
         list_reduce(list_transform(list_zip(a.qv, b.qv),
           p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) AS d
  FROM ka_scored pa
  JOIN ka_scored sb ON pa.cid = sb.cid AND sb.crn = 1
  JOIN ka_q a ON a.vec_id = pa.vec_id
  JOIN ka_q b ON b.vec_id = sb.vec_id
  WHERE pa.crn <= {int(nprobe)} AND pa.vec_id <> sb.vec_id
)"""
    return f"""WITH ka_q AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         list_transform(embedding, v ->
           CAST(FLOOR(CAST(v AS DOUBLE) * {_PQ_SCALE}.0) AS BIGINT)
           + {_PQ_OFFSET}) AS qv
  FROM {table}
), {pair_gen}, ka_knn AS (
  SELECT * FROM (
    SELECT aid, alabel, blabel,
           ROW_NUMBER() OVER (PARTITION BY aid ORDER BY d, bid) AS rn
    FROM ka_pairs
  ) WHERE rn <= {int(k)}
), ka_votes AS (
  SELECT aid, alabel, blabel, COUNT(*) AS n
  FROM ka_knn GROUP BY aid, alabel, blabel
), ka_pred AS (
  SELECT aid, alabel, blabel AS pred FROM (
    SELECT aid, alabel, blabel,
           ROW_NUMBER() OVER (PARTITION BY aid ORDER BY n DESC, blabel) AS rv
    FROM ka_votes
  ) WHERE rv = 1
)
SELECT alabel AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN pred = alabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST((1000000 * SUM(CASE WHEN pred = alabel THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS acc_ppm
FROM ka_pred GROUP BY alabel"""


def _lsh_cos_pairs_sql(nbits: int, threshold_e6: int, dim: int, table: str) -> str:
    """Oracle-side pair generator: sign-LSH bucket blocking + int-cosine
    threshold (same plane literals, fold order, and FLOOR as the Spark
    side)."""
    planes = _planes(dim, nbits)
    dot_of = lambda plane_lit: (  # noqa: E731
        f"list_reduce(list_transform(list_zip(embedding, {plane_lit}), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)"
    )
    bucket = " + ".join(
        f"(CASE WHEN {dot_of(_plane_lit_duck(p))} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    dot = (
        "list_reduce(list_transform(list_zip(a.embedding, b.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )
    norm = (
        "SQRT(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE) "
        "* CAST(v AS DOUBLE)), (x, y) -> x + y))"
    )
    return f"""WITH eb AS (
  SELECT vec_id, embedding, {norm} AS nrm, ({bucket}) AS bucket FROM {table}
)
SELECT doc_a, doc_b FROM (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         CAST(FLOOR(1000000.0 * {dot} / (a.nrm * b.nrm)) AS BIGINT) AS cos_e6
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cos_e6 >= {int(threshold_e6)}"""


def embed_cluster_purity(
    embeddings: DataFrame, nbits: int = 3, threshold_e6: int = 150_000
) -> DataFrame:
    """Cluster-quality EVALUATION of the embedding near-dup graph against
    the ground-truth labels — ``(cluster, size, top_label, n_top,
    purity_ppm)``: sign-LSH-bucketed cosine pairs (the honest at-scale
    candidate generator — NOT label blocking, which would make purity
    trivially 1e6) feed the alternating-star connected components, and
    each multi-vector cluster is scored by its majority label's share in
    FLOOR-ppm.  The dedup-threshold tuning loop made a first-class,
    oracle-checked job.

    Plan: the pairs are :func:`embed_dup_pairs` blocked on the sign-LSH
    bucket (2^nbits buckets), CC is the shuffle-bounded min-agg star
    algorithm, purity is one labels broadcast join + two cluster-bounded
    aggs."""
    from .graph import dedup_clusters

    dim = len(embeddings.select("embedding").first()["embedding"])
    bucketed = embeddings.withColumn("bucket", lsh_bucket_expr(dim, nbits))
    pairs = embed_dup_pairs(bucketed, int(threshold_e6), block_col="bucket")
    cc = dedup_clusters(pairs.withColumnsRenamed({"vec_a": "doc_a", "vec_b": "doc_b"}))
    labeled = cc.join(
        F.broadcast(
            embeddings.select(
                F.col("vec_id").alias("doc_id"),
                F.col("label").cast("long").alias("label"),
            )
        ),
        "doc_id",
    )
    counts = labeled.groupBy("rep_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("rep_id").orderBy(F.desc("n"), F.asc("label"))
    ws = Window.partitionBy("rep_id")
    return (
        counts.withColumn("size", F.sum("n").over(ws))
        .withColumn("rt", F.row_number().over(wt))
        .filter(F.col("rt") == 1)
        .select(
            F.col("rep_id").alias("cluster"),
            F.col("size").cast("long").alias("size"),
            F.col("label").alias("top_label"),
            F.col("n").cast("long").alias("n_top"),
            F.expr("CAST((1000000 * n) DIV size AS BIGINT)").alias(
                "purity_ppm"
            ),
        )
    )


def embed_cluster_purity_oracle(
    nbits: int = 3, threshold_e6: int = 150_000, dim: int = 64,
    table: str = "embeddings",
) -> str:
    from .graph import _cc_closure_sql

    pairs_sql = _lsh_cos_pairs_sql(nbits, threshold_e6, dim, table)
    return (
        _cc_closure_sql(pairs_sql)
        + f""", cp_cc AS (
  SELECT node AS doc_id, MIN(label) AS rep_id FROM cc GROUP BY node
), cp_lbl AS (
  SELECT c.rep_id, CAST(e.label AS BIGINT) AS label, COUNT(*) AS n
  FROM cp_cc c JOIN {table} e ON c.doc_id = e.vec_id
  GROUP BY c.rep_id, e.label
), cp_rank AS (
  SELECT rep_id, label, n,
         ROW_NUMBER() OVER (PARTITION BY rep_id ORDER BY n DESC, label) AS rt,
         SUM(n) OVER (PARTITION BY rep_id) AS size
  FROM cp_lbl
)
SELECT rep_id AS cluster, CAST(size AS BIGINT) AS size, label AS top_label,
       CAST(n AS BIGINT) AS n_top,
       CAST((1000000 * n) // size AS BIGINT) AS purity_ppm
FROM cp_rank WHERE rt = 1"""
    )
