"""Deduplication operators for large-scale training-data pipelines.

Four families, each scalable to 10^12 docs:

* **exact** — content hash (md5) group-by; the canonical survivor is the
  minimum doc_id per hash.  One shuffle on the hash; map-side partial
  aggregation applies.  Full SQL oracle.
* **n-gram Jaccard** — word-shingle similarity join with a cheap blocking
  key (doc length band + first token) so the pair space is bounded; exact
  Jaccard on ``array_intersect``/``array_union`` sizes.  Full SQL oracle
  (DuckDB list functions).
* **MinHash + LSH** — signature = per-hash-family min over md5-derived
  shingle hashes (native Column expressions, whole-stage codegen);
  signatures banded into LSH buckets; candidate pairs = bucket self-join,
  annotated with exact Jaccard.  Full SQL oracle (the whole pipeline —
  token hash, signatures, banding — replays in DuckDB).
* **SimHash** — 60-bit weighted-projection fingerprint, hamming-ball
  candidate pairs via ``max_hamming + 1``-band blocking (pigeonhole-
  complete recall).  Full SQL oracle.

MinHash/SimHash hash functions are deterministic (no seed-at-runtime), so
results are stable across runs and resumable; pytest additionally
validates recall against exact Jaccard on a planted-near-dup corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .skew import keyed_pairs

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """One survivor (min doc_id) per identical text: (fingerprint, keep_doc_id,
    n_copies)."""
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup_oracle(table: str = "documents") -> str:
    return (
        f"SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_doc_id, "
        f"COUNT(*) AS n_copies FROM {table} GROUP BY md5(text)"
    )


# ---------------------------------------------------------------------------
# word-shingle Jaccard with blocking (exact similarity join)
# ---------------------------------------------------------------------------

def _shingle_sql(n: int = 3) -> str:
    """Distinct word n-gram array (native: split + transform + slice)."""
    toks = "split(text, ' ')"
    return (
        f"array_distinct(transform(sequence(1, greatest(1, size({toks}) - {n - 1})), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')))"
    )


def _shingle_col(n: int = 3) -> F.Column:
    return F.expr(_shingle_sql(n))


def _hashed_shingle_col(n: int = 3) -> F.Column:
    """Distinct 60-bit md5-fold hashes of the word n-grams.  Jaccard over
    hashed shingles is the standard large-corpus form (string arrays make
    every pair comparison hash ~100 strings; int64 arrays compare 8-byte
    words — measured ~5x cheaper on the candidate join).  The md5 fold is
    engine-neutral, so the oracle applies the IDENTICAL hash and any
    collision (P ~ G^2/2^60 per doc) affects both engines alike."""
    return F.expr(
        f"array_distinct(transform(transform({_shingle_sql(n)}, g -> md5(g)), "
        f"m -> {token_hash60_sql('m')}))"
    )


def jaccard_pairs(
    docs: DataFrame, threshold_pct: int = 80, n: int = 3, band: int = 32
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (doc_a, doc_b, jac_pct)
    with jaccard >= threshold (integer percent — no float compare).
    Jaccard is computed over 60-bit-hashed shingles (`_hashed_shingle_col`;
    the oracle applies the identical md5 fold, so parity is exact even in
    the astronomically-unlikely collision case).

    Blocking: word-count bands (``floor(wc / band)``) probed with the
    ±1 NEIGHBOR bands (side b explodes to {lband-1, lband, lband+1}, so
    the join stays a hash equi-join — 3x one side, never a nested loop),
    AND a shared first token.  The neighbor probe closes the band-edge
    recall gap (ADVICE r2: 31- vs 33-word twins never paired): since
    jaccard >= t bounds the word-count difference by ~(1-t)*wc_max, the
    band blocking is recall-COMPLETE whenever (1-t)*wc_max < band width
    (true for the fixture corpus at t=0.8, band=32); the tok0 block stays
    a heuristic, with MinHash-LSH (below) as the recall-complete candidate
    generator at scale — run LSH for candidates, this join's scoring for
    the final decision.  Self-join shuffles on the block key; AQE splits
    skewed blocks.
    """
    g = docs.select(
        "doc_id",
        _hashed_shingle_col(n).alias("grams"),
        F.expr(f"CAST(FLOOR(size(split(text, ' ')) / {band}.0) AS INT)").alias("lband"),
        F.expr("split(text, ' ')[0]").alias("tok0"),
    ).localCheckpoint(eager=False)  # both join sides consume the md5-shingle
    # projection — pin it so the corpus is hashed once, not twice
    # b probes lband - 1, lband, lband + 1: exactly one can equal a's lband
    probe = g.withColumn(
        "lband", F.explode(F.array(F.col("lband") - 1, F.col("lband"), F.col("lband") + 1))
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jac_pct = F.floor(F.lit(100) * inter / union).cast("long")
    return (
        keyed_pairs(g, ["lband", "tok0"], "doc_id", b=probe)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            jac_pct.alias("jac_pct"),
        )
        .filter(F.col("jac_pct") >= threshold_pct)
    )


def jaccard_pairs_oracle(table: str = "documents", threshold_pct: int = 80, n: int = 3, band: int = 32) -> str:
    grams = (
        f"list_distinct([array_to_string(toks[i : i + {n - 1}], ' ') "
        f"for i in range(1, greatest(2, len(toks) - {n - 2}))])"
    )
    # the IDENTICAL 60-bit md5 fold as _hashed_shingle_col
    hgrams = (
        f"list_distinct(list_transform(list_transform({grams}, g -> md5(g)), "
        f"m -> {token_hash60_sql('m')}))"
    )
    return f"""
WITH g AS (
  SELECT doc_id, {hgrams} AS grams,
         CAST(FLOOR(len(toks) / {band}.0) AS INT) AS lband, toks[1] AS tok0
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {table})
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(FLOOR(100.0 * len(list_intersect(a.grams, b.grams)) /
            (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))) AS BIGINT) AS jac_pct
FROM g a JOIN g b
  ON abs(a.lband - b.lband) <= 1 AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id
WHERE CAST(FLOOR(100.0 * len(list_intersect(a.grams, b.grams)) /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))) AS BIGINT) >= {threshold_pct}
"""


# ---------------------------------------------------------------------------
# engine-neutral token hashing
#
# MinHash/SimHash need a deterministic token hash BOTH engines can compute:
# md5 (identical in Spark and DuckDB) parsed to an integer with positional
# hex arithmetic (instr/substring — identical semantics in both).  This is
# all inside whole-stage codegen on the Spark side — the per-byte Python
# FNV loop of the first iteration is gone entirely.
# ---------------------------------------------------------------------------

_M31 = 2147483647  # Mersenne prime 2^31 - 1: a*h stays < 2^62 (no overflow)
_NUM_HASHES = 128
_SIMHASH_BITS = 60  # 15 hex chars -> exact int64, bit k via pow(2, k)


def _hex_to_long_sql(hex_var: str, start: int, nchars: int) -> str:
    """Engine-neutral SQL: parse ``nchars`` hex chars of ``hex_var`` starting
    at 1-based ``start`` into a BIGINT (instr-based nibble arithmetic)."""
    terms = [
        # CAST keeps the nibble product in BIGINT — instr yields INT and
        # Spark's ANSI mode faults on int32 overflow otherwise
        f"(instr('0123456789abcdef', substring({hex_var}, {start + i}, 1)) - 1)"
        f" * CAST({16 ** (nchars - 1 - i)} AS BIGINT)"
        for i in range(nchars)
    ]
    return "(" + " + ".join(terms) + ")"


def token_hash31_sql(md5_var: str) -> str:
    """31-bit token hash from an md5 hex string (first 8 hex chars mod M31)."""
    return f"({_hex_to_long_sql(md5_var, 1, 8)} % {_M31})"


def token_hash60_sql(md5_var: str) -> str:
    """60-bit token hash from an md5 hex string (first 15 hex chars)."""
    return _hex_to_long_sql(md5_var, 1, 15)


def _hash_params(num: int = _NUM_HASHES) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(20240316)  # fixed — determinism requirement
    a = rng.integers(1, _M31, num, dtype=np.int64)
    b = rng.integers(0, _M31, num, dtype=np.int64)
    return a, b


def _hashes_col(n: int, bits_sql) -> F.Column:
    """grams -> array<long> of token hashes, md5 computed once per gram."""
    return F.expr(f"transform(transform(grams, g -> md5(g)), m -> {bits_sql('m')})")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _doc_boundaries(hs_series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flatten a Series of int64 lists into (flat, starts, lengths)."""
    lens = np.array([0 if h is None else len(h) for h in hs_series], dtype=np.int64)
    flat = (
        np.concatenate([np.asarray(h, dtype=np.int64) for h in hs_series if h is not None and len(h)])
        if lens.sum()
        else np.empty(0, dtype=np.int64)
    )
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return flat, starts, lens


def minhash_signatures(docs: DataFrame, num_hashes: int = _NUM_HASHES, n: int = 3) -> DataFrame:
    """(doc_id, sig: array<long>) — MinHash over word n-gram shingles:
    ``sig_i = min_g (a_i * h31(g) + b_i) mod M31``.

    Token hashes are native md5 Column expressions (JVM-side, engine-neutral
    so the DuckDB oracle replays them); the 128-way min is one numpy
    outer-product + ``minimum.reduceat`` per Arrow batch — fully vectorized,
    no per-row Python.  (A pure higher-order-function formulation was tried
    and rejected: Spark evaluates HOF lambdas interpreted, ~50x slower.)
    All arithmetic stays < 2^62, exact in int64 on both engines."""
    a, b = _hash_params(num_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(hs: pd.Series) -> pd.Series:
        flat, starts, lens = _doc_boundaries(hs)
        if flat.size == 0:
            return pd.Series([[0] * num_hashes] * len(hs))
        vals = (a[:, None] * flat[None, :] + b[:, None]) % _M31  # (H, G_total)
        nz = lens > 0
        mins = np.minimum.reduceat(vals, starts[nz], axis=1)[:, : int(nz.sum())]
        # reduceat with duplicate/trailing starts needs the nz mask: empty
        # docs get the [0]*H sentinel signature instead
        out, j = [], 0
        for has in nz:
            if has:
                out.append(mins[:, j].tolist())
                j += 1
            else:
                out.append([0] * num_hashes)
        return pd.Series(out)

    return (
        docs.select("doc_id", _shingle_col(n).alias("grams"))
        .select("doc_id", _hashes_col(n, token_hash31_sql).alias("hs"))
        .select("doc_id", _sigs("hs").alias("sig"))
    )


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 32, rows: int = 4
) -> DataFrame:
    """Candidate pairs whose signatures collide in >=1 LSH band.

    explode to (band_id, band_key) -> shuffle on the bucket key ->
    self-join within buckets; the band key is the raw ``rows``-element
    signature slice (array equality — engine-neutral, unlike ``hash()``).
    Hot buckets (boilerplate docs) are exactly the skew case: AQE skew-join
    splits them; at 10^12 docs the bucket id additionally gets a salt on
    the build of per-bucket pair lists.
    """
    assert bands * rows <= _NUM_HASHES
    band_expr = (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bkey', slice(sig, b * {rows} + 1, {rows})))"
    )
    buckets = sigs.select("doc_id", F.explode(F.expr(band_expr)).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )
    return (
        keyed_pairs(buckets, ["band", "bkey"], "doc_id")
        .select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .distinct()
    )


def minhash_pairs_checked(
    docs: DataFrame, num_hashes: int = _NUM_HASHES, bands: int = 32, rows: int = 4, n: int = 3
) -> DataFrame:
    """LSH candidate pairs annotated with their *exact* n-gram Jaccard:
    (doc_a, doc_b, jac_pct).  The exact score makes the result fully
    oracle-checkable (the reference's own correctness method is result-set
    containment with exact re-scoring,
    `Experiment/SearchCorrectness/RSKQ_SearchCorrectness.java:800-875`).

    The annotation pass shingles ONLY the candidate docs: the (driver-sized)
    candidate pair list is materialized once via ``localCheckpoint``, its
    doc ids semi-join-prune the corpus, and the shingle expression then runs
    over ~2x|pairs| docs instead of the whole corpus (ADVICE r3: the second
    full shingle pass was the pipeline's most expensive recomputation)."""
    cand = minhash_lsh_pairs(
        minhash_signatures(docs, num_hashes, n), bands, rows
    ).localCheckpoint()
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    g = (
        docs.join(cand_ids, "doc_id", "semi")
        .select("doc_id", _hashed_shingle_col(n).alias("grams"))
        .localCheckpoint(eager=False)  # consumed by both pair sides (ga/gb)
    )
    inter = F.size(F.array_intersect(F.col("ga.grams"), F.col("gb.grams")))
    union = F.size(F.col("ga.grams")) + F.size(F.col("gb.grams")) - inter
    jac_pct = F.floor(F.lit(100) * inter / union).cast("long")
    return (
        cand.join(g.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(g.alias("gb"), F.col("doc_b") == F.col("gb.doc_id"))
        .select("doc_a", "doc_b", jac_pct.alias("jac_pct"))
    )


def _grams_duckdb(n: int) -> str:
    """DuckDB word-shingle expression over column ``toks`` (list of words),
    mirroring _shingle_col."""
    return (
        f"list_distinct([array_to_string(toks[i : i + {n - 1}], ' ') "
        f"for i in range(1, greatest(2, len(toks) - {n - 2}))])"
    )


def minhash_pairs_oracle(
    table: str = "documents",
    num_hashes: int = _NUM_HASHES,
    bands: int = 32,
    rows: int = 4,
    n: int = 3,
) -> str:
    """DuckDB oracle replaying the exact MinHash+LSH pipeline in SQL:
    same md5-based token hash, same (a_i, b_i) literals, same band slices."""
    a, b = _hash_params(num_hashes)
    mins = ", ".join(
        f"MIN(({int(a[i])} * h + {int(b[i])}) % {_M31}) AS s{i}" for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {keys} FROM sigs".format(
            b=bi,
            keys=", ".join(f"s{bi * rows + r} AS k{r}" for r in range(rows)),
        )
        for bi in range(bands)
    )
    band_eq = " AND ".join(f"a.k{r} = b.k{r}" for r in range(rows))
    return f"""
WITH g AS (
  SELECT doc_id, {_grams_duckdb(n)} AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {table})
), e AS (
  SELECT doc_id, md5(unnest(grams)) AS m FROM g
), hx AS (
  SELECT doc_id, {token_hash31_sql('m')} AS h FROM e
), sigs AS (
  SELECT doc_id, {mins} FROM hx GROUP BY doc_id
), bandrows AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
), gh AS (
  SELECT doc_id,
         list_distinct(list_transform(list_transform(grams, g -> md5(g)),
           m -> {token_hash60_sql('m')})) AS grams
  FROM g
)
SELECT c.doc_a, c.doc_b,
       CAST(FLOOR(100.0 * len(list_intersect(ga.grams, gb.grams)) /
            (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)))) AS BIGINT) AS jac_pct
FROM cand c
JOIN gh ga ON ga.doc_id = c.doc_a
JOIN gh gb ON gb.doc_id = c.doc_b
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, simhash: long) — 60-bit SimHash over shingle hashes.

    Token hashes are native md5 Column expressions (engine-neutral, DuckDB
    replays them); the per-bit majority vote is one numpy bit-matrix +
    ``add.reduceat`` per Arrow batch.  Bit k of the fingerprint is set iff
    strictly more than half the shingle hashes have bit k set (vote > 0) —
    exactly the oracle's SUM(+1/-1) > 0.  60 bits (15 md5 hex chars) keep
    every intermediate exact in int64 for both engines."""
    @F.pandas_udf(LongType())
    def _fp(hs: pd.Series) -> pd.Series:
        flat, starts, lens = _doc_boundaries(hs)
        out = np.zeros(len(hs), dtype=np.int64)
        if flat.size:
            ks = np.arange(_SIMHASH_BITS, dtype=np.int64)
            bits = (flat[:, None] >> ks[None, :]) & 1  # (G_total, 60)
            nz = lens > 0
            sums = np.add.reduceat(bits, starts[nz], axis=0)
            majority = 2 * sums > lens[nz][:, None]
            out[nz] = (majority.astype(np.int64) << ks[None, :]).sum(axis=1)
        return pd.Series(out)

    return (
        docs.select("doc_id", _shingle_col(n).alias("grams"))
        .select("doc_id", _hashes_col(n, token_hash60_sql).alias("hs"))
        .select("doc_id", _fp("hs").alias("simhash"))
    )


def _simhash_chunks(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) chunks splitting the fingerprint into
    ``max_hamming + 1`` bands — pigeonhole: any pair within ``max_hamming``
    agrees exactly on >= 1 band, so band blocking has complete recall."""
    bands = max_hamming + 1
    base, rem = divmod(_SIMHASH_BITS, bands)
    chunks, off = [], 0
    for i in range(bands):
        w = base + (1 if i < rem else 0)
        chunks.append((off, w))
        off += w
    return chunks


def simhash_near_pairs(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """All pairs within ``max_hamming`` (complete, not best-effort): the
    fingerprint splits into ``max_hamming + 1`` bands, pairs collide on a
    band equi-join, exact hamming is the residual filter."""
    chunks = _simhash_chunks(max_hamming)
    pieces_lit = ", ".join(
        f"named_struct('band', {i}, 'piece', (simhash div {1 << off}) % {1 << w})"
        for i, (off, w) in enumerate(chunks)
    )
    pieces = fps.select(
        "doc_id", "simhash", F.explode(F.expr(f"array({pieces_lit})")).alias("e")
    ).select(
        "doc_id", "simhash", F.col("e.band").alias("band"), F.col("e.piece").alias("piece")
    )
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        keyed_pairs(pieces, ["band", "piece"], "doc_id")
        .filter(ham <= max_hamming)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def simhash_pairs_oracle(table: str = "documents", max_hamming: int = 3, n: int = 3) -> str:
    """DuckDB oracle replaying simhash + band blocking + hamming filter."""
    chunks = _simhash_chunks(max_hamming)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band, (simhash // {1 << off}) % {1 << w} AS piece FROM fp"
        for i, (off, w) in enumerate(chunks)
    )
    return f"""
WITH g AS (
  SELECT doc_id, {_grams_duckdb(n)} AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {table})
), e AS (
  SELECT doc_id, md5(unnest(grams)) AS m FROM g
), hx AS (
  SELECT doc_id, {token_hash60_sql('m')} AS h FROM e
), dims AS (SELECT unnest(range(0, {_SIMHASH_BITS})) AS k),
votes AS (
  SELECT doc_id, k,
         SUM(CASE WHEN (h // CAST(pow(2, k) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM hx, dims GROUP BY doc_id, k
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN CAST(pow(2, k) AS BIGINT) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
), bandrows AS (
  {band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bandrows a JOIN bandrows b
  ON a.band = b.band AND a.piece = b.piece AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def typo_pairs(doc_geo: DataFrame) -> DataFrame:
    """Edit-distance-1 keyword linkage — ``(kw1, kw2)``, every unordered
    pair of DISTINCT corpus keywords at Levenshtein distance exactly 1.
    The record-linkage / query-spelling companion of the n-gram and
    MinHash families: fuzzy vocabulary matching as a *blocked* join, never
    the quadratic scan the oracle runs.

    Blocking is the FastSS deletion neighborhood (Bocek et al., 2007 —
    the SymSpell scheme): each word emits itself plus every delete-one
    variant.  RECALL-COMPLETE for distance 1 by case analysis — a
    substitution pair shares the delete at the substituted position; an
    insertion/deletion pair shares the shorter word itself (= the longer
    word's delete at the inserted position).  Candidates are verified
    with the exact ``levenshtein`` (JVM codegen in Spark, the same
    classic DP in DuckDB), so false candidates drop and the blocked join
    equals the quadratic one bit-for-bit.

    Plan: vocabulary dedup (one shuffle, map-side combine), a native
    ``transform(sequence(...))`` signature explode (~|word| signatures
    per word, all codegen), one equi-join on the signature, distinct,
    verify.  At a 10^9-token vocabulary the signature join stays linear
    in candidates while the quadratic scan is off the table."""
    vocab = (
        doc_geo.select(F.explode("keywords").alias("kw")).distinct()
    )
    sigs = vocab.select(
        "kw",
        F.explode(
            F.expr(
                "array_distinct(concat(array(kw), "
                "transform(sequence(1, length(kw)), "
                "i -> concat(substr(kw, 1, i - 1), "
                "substr(kw, i + 1, length(kw))))))"
            )
        ).alias("sig"),
    )
    return (
        keyed_pairs(sigs, "sig", "kw")
        .select(F.col("kw_a").alias("kw1"), F.col("kw_b").alias("kw2"))
        .distinct()
        .filter(F.expr("levenshtein(kw1, kw2) = 1"))
    )


def typo_pairs_oracle(kw_per_doc: int, doc_geo_table: str = "doc_geo") -> str:
    """Appends to a CTE chain defining ``doc_geo``: the quadratic
    ground truth — distinct vocabulary self-joined with the exact
    ``levenshtein`` predicate (plus the length band it implies)."""
    arms = " UNION ALL ".join(
        f"SELECT kw{j} AS kw FROM {doc_geo_table}" for j in range(kw_per_doc)
    )
    return f"""tp_vocab AS (
  SELECT DISTINCT kw FROM ({arms})
)
SELECT a.kw AS kw1, b.kw AS kw2
FROM tp_vocab a JOIN tp_vocab b
  ON a.kw < b.kw
 AND ABS(LENGTH(a.kw) - LENGTH(b.kw)) <= 1
 AND levenshtein(a.kw, b.kw) = 1"""


def containment_pairs(
    docs: DataFrame, threshold_pct: int = 80, n: int = 3, df_cap: int = 64
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT join — quote / subset-duplicate
    detection that Jaccard structurally misses: a short document fully
    quoted inside a long one has tiny Jaccard but containment ~1.
    Emits ``(doc_a, doc_b, inter, size_a, size_b, cont_a_pct,
    cont_b_pct)`` for unordered pairs where EITHER direction's
    containment ``FLOOR(100 * |A∩B| / |A|)`` reaches the threshold.

    Shingles are the same 60-bit md5-hashed word n-grams as
    :func:`jaccard_pairs`; *stop-shingle removal* is part of the operator
    contract: grams with document frequency above ``df_cap`` are dropped
    BEFORE pairing (the standard quote-detection move — boilerplate
    n-grams otherwise pair everything with everything), and both sizes
    and intersections are over surviving grams only.  Docs whose grams
    are all stopped cannot pair.

    Plan: the inverted-index join — posting lists per surviving gram
    self-joined (doc_a < doc_b), one (pair) aggregation for the
    intersection, sizes broadcast back.  ``df_cap`` is the scale bound:
    candidate work is O(Σ df²) <= df_cap * |postings| — linear in the
    corpus at fixed cap, never the all-pairs scan the oracle runs.
    Banding cannot replace this (size blocking is NOT recall-complete
    for containment — the contained side can be arbitrarily smaller)."""
    g = docs.select("doc_id", _hashed_shingle_col(n).alias("grams"))
    # the md5-shingle explode is the expensive lineage and the surviving
    # postings feed FIVE consumers (sizes twice via sa/sb, both join sides,
    # the pair agg) — pin them once (lazy local checkpoint: materializes on
    # first action, executors keep the partitions) instead of re-hashing
    # the corpus per consumer; same move dbscan makes with its pair list
    postings = g.select("doc_id", F.explode("grams").alias("gram"))
    df = postings.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    live = (
        postings.join(
            F.broadcast(df.filter(F.col("df") <= int(df_cap))), "gram"
        )
        .select("doc_id", "gram")
        .localCheckpoint(eager=False)
    )
    sizes = live.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    inter = (
        keyed_pairs(live, "gram", "doc_id")
        .groupBy(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    out = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "cont_a_pct", F.expr("CAST((100 * inter) DIV size_a AS BIGINT)")
        )
        .withColumn(
            "cont_b_pct", F.expr("CAST((100 * inter) DIV size_b AS BIGINT)")
        )
    )
    t = int(threshold_pct)
    return out.filter(
        (F.col("cont_a_pct") >= t) | (F.col("cont_b_pct") >= t)
    ).select(
        "doc_a", "doc_b", "inter", "size_a", "size_b",
        "cont_a_pct", "cont_b_pct",
    )


def containment_pairs_oracle(
    table: str = "documents",
    threshold_pct: int = 80,
    n: int = 3,
    df_cap: int = 64,
) -> str:
    """Identical hashed shingles, stop-shingle cap, posting self-join,
    and FLOOR-percent containment."""
    grams = (
        f"list_distinct([array_to_string(toks[i : i + {n - 1}], ' ') "
        f"for i in range(1, greatest(2, len(toks) - {n - 2}))])"
    )
    hgrams = (
        f"list_distinct(list_transform(list_transform({grams}, g -> md5(g)), "
        f"m -> {token_hash60_sql('m')}))"
    )
    t = int(threshold_pct)
    return f"""WITH cp_g AS (
  SELECT doc_id, {hgrams} AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {table})
), cp_post AS (
  SELECT doc_id, UNNEST(grams) AS gram FROM cp_g
), cp_df AS (
  SELECT gram, COUNT(*) AS df FROM cp_post GROUP BY gram
), cp_live AS (
  SELECT p.doc_id, p.gram FROM cp_post p
  JOIN cp_df d ON p.gram = d.gram AND d.df <= {int(df_cap)}
), cp_sz AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cp_live GROUP BY doc_id
), cp_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cp_live a JOIN cp_live b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
       CAST((100 * i.inter) // sa.sz AS BIGINT) AS cont_a_pct,
       CAST((100 * i.inter) // sb.sz AS BIGINT) AS cont_b_pct
FROM cp_inter i
JOIN cp_sz sa ON i.doc_a = sa.doc_id
JOIN cp_sz sb ON i.doc_b = sb.doc_id
WHERE (100 * i.inter) // sa.sz >= {t} OR (100 * i.inter) // sb.sz >= {t}"""


def wordset_fp_sql(col: str = "text") -> str:
    """Bag-of-words content signature: md5 of the SORTED DISTINCT word
    set.  Coarser than the exact-text fingerprint (word order and
    repetition collapse), so it catches the reordered/templated variants
    that cross-crawl duplication actually produces; identical string
    sort + binary collation in Spark and DuckDB keep it engine-exact."""
    return f"md5(array_join(array_sort(array_distinct(split({col}, ' '))), ' '))"


def _wordset_fp_duck(col: str = "text") -> str:
    return (
        f"md5(array_to_string(list_sort(list_distinct("
        f"string_split({col}, ' '))), ' '))"
    )


def source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source duplicate-overlap matrix — ``(src_a, src_b,
    n_shared)``: for every unordered source pair, how many DISTINCT
    document content signatures (``wordset_fp_sql`` — the bag-of-words
    collapse; the exact-text md5 is the stricter drop-in) appear in
    both.  This is the crawl-dedup planning table of a pretraining
    pipeline: it says which source to keep as canonical when corpora
    overlap, and how much each new crawl actually adds.

    Physical plan: distinct ``(source, fp)`` first (map-side combine
    absorbs within-source duplicates), then a self-equi-join on ``fp``
    with ``src_a < src_b``.  The distinct step bounds the join fan-out
    BY CONSTRUCTION: a fingerprint duplicated millions of times across
    the corpus still contributes at most ``C(|sources|, 2)`` joined rows,
    because each source carries it once.  Final agg is |sources|^2-sized.
    No all-pairs anywhere; the fp join key is md5-uniform so the shuffle
    cannot skew."""
    fps = docs.select(
        "source", F.expr(wordset_fp_sql()).alias("fp")
    ).distinct()
    return (
        keyed_pairs(fps, "fp", "source")
        .groupBy(F.col("source_a").alias("src_a"), F.col("source_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def source_overlap_oracle(table: str = "documents") -> str:
    """Identical distinct-then-join arithmetic."""
    return (
        f"WITH so_fps AS (SELECT DISTINCT source, {_wordset_fp_duck()} AS fp "
        f"FROM {table}) "
        f"SELECT a.source AS src_a, b.source AS src_b, "
        f"CAST(COUNT(*) AS BIGINT) AS n_shared "
        f"FROM so_fps a JOIN so_fps b ON a.fp = b.fp "
        f"AND a.source < b.source GROUP BY 1, 2"
    )
