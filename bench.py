#!/usr/bin/env python
"""Benchmark harness.

Times every ``__spark_entry__.SPECS`` row that declares bench overrides —
the same plans the parity test checks, at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: every core
of the host) — and prints ONE JSON line::

    {"metric": "...", "value": <headline_sec>, "unit": "sec",
     "queries": {name: median_sec}, "draws": {name: [sec, ...]}, ...}

The spatial corpus is the deterministic amplified interleave
(``SPARK_GRAFT_AMP``, default 128 -> ~640k docs at sf0.1, the reference's
experiment scale), encoded, Hilbert-sorted and prefix-indexed once before
timing.  Protocol, after the reference
(`Experiment/PerformanceEval/DSSESearchVariesByRange.java:31,73-111`): one
warm-up pass over every query, then ``DRAWS`` timed draws per query; each
draw builds the plan and runs it into the ``noop`` sink, which computes
every output column (a ``.count()`` sink lets Catalyst prune them).  The
reported time is the median draw; all draws are emitted.

``--scaling`` runs the compute-bound pipeline (``run_heavy``) at two
parallelism levels — ``local[$SPARK_GRAFT_SCALING_N]`` vs 4N cores
(default local[1] vs local[4]) — on identical on-disk input and reports
throughput at both plus two scaling-efficiency estimators, written to
BENCH/scaling.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
AMP = int(os.environ.get("SPARK_GRAFT_AMP", "128"))
WORK = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/hcs_bench")
DRAWS = 3
# the headline: the 8-query spatial suite, comparable with BENCH_r01..r05
HEADLINE = (
    "grq_range", "grq_prefix", "brq_any", "brq_all",
    "tile_assign", "pip_join", "knn", "cell_stats",
)


def _source_key(name: str) -> str:
    """Cache key of a fixture table: the sf tag plus the parquet's size and
    mtime, so fixtures regenerated in place never reuse stale re-laid
    copies."""
    st = os.stat(f"{SF_DIR}/{name}.parquet")
    return f"{os.path.basename(SF_DIR.rstrip('/'))}_{st.st_size}_{st.st_mtime_ns}"


def _corpus_path(amp: int, partitions: int = 16) -> str:
    # the partition count is part of the key: a 16-file suite corpus must
    # not satisfy the scaling pipeline's 64-file request (task-wave
    # structure is the thing being measured there)
    return f"{WORK}/corpus_{_source_key('documents')}_amp{amp}_p{partitions}"


def _materialize_corpus(spark, amp: int, partitions: int = 16) -> str:
    """One-time synthetic-corpus materialization (untimed setup — a real
    deployment reads the interleaved table from storage).  File count
    trades fixed per-task overhead against straggler amortization: the
    suite uses 16, the scaling pipeline 64 so the smallest master still
    runs 8+ waves."""
    from hilbert_curve_spark.sources.interleave import build_documents

    path = _corpus_path(amp, partitions)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_documents(spark, SF_DIR, amp=amp, partitions=partitions).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _sf_table(spark, name: str, partitions: int = 8):
    """The fixture table re-laid as ``partitions`` parquet files (untimed,
    once per source version).  The fixtures are single-row-group
    single-file parquet — unsplittable, so every scan rooted at them would
    run ONE task no matter the core count; a deployment's tables arrive as
    many files, and this restores that shape."""
    path = f"{WORK}/table_{name}_{_source_key(name)}_p{partitions}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark.read.parquet(f"{SF_DIR}/{name}.parquet").repartition(partitions).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def bench_ctx(spark, amp: int):
    """The maintained tables every timed plan reads, built untimed: doc_geo
    (Hilbert-sorted layout) written as parquet and read back (sorted
    parquet is what enables scan pruning; the ctx stores its prefix index
    the same way on first use), the flat tables re-laid as splittable
    files, the materialized corpus.  Returns (Ctx, corpus doc count)."""
    from __spark_entry__ import Ctx
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.layout import write_sorted

    corpus_path = _materialize_corpus(spark, amp)
    corpus = spark.read.parquet(corpus_path)
    encode_documents(corpus).write.mode("overwrite").parquet(f"{corpus_path}_raw")
    write_sorted(spark.read.parquet(f"{corpus_path}_raw"), f"{corpus_path}_geo", partitions=32)
    geo = spark.read.parquet(f"{corpus_path}_geo")
    ctx = Ctx(
        spark, SF_DIR, amp,
        doc_geo=geo,
        corpus=corpus,
        documents=_sf_table(spark, "documents"),
        events=_sf_table(spark, "events"),
        embeddings=_sf_table(spark, "embeddings"),
        store_dir=f"{corpus_path}_store",
    )
    return ctx, geo.count()


def bench_specs(names=None) -> list:
    """The timed rows in table order (all of them, or just ``names``)."""
    from __spark_entry__ import SPECS

    return [s for s in SPECS if s.bench is not None and (names is None or s.name in names)]


def time_specs(ctx, specs, draws: int = DRAWS) -> dict[str, list[float]]:
    """Warm-up pass over every spec, then ``draws`` timed draws each; a draw
    builds the plan with the row's overrides and runs it into the noop sink."""
    overrides = {
        s.name: {k: v(ctx) if callable(v) else v for k, v in s.bench.items()} for s in specs
    }

    def run(s):
        s.build(ctx, **overrides[s.name]).write.format("noop").mode("overwrite").save()

    for s in specs:
        run(s)
    out = {}
    for s in specs:
        out[s.name] = []
        for _ in range(draws):
            t0 = time.perf_counter()
            run(s)
            out[s.name].append(round(time.perf_counter() - t0, 3))
    return out


def run_suite(master: str) -> dict:
    from hilbert_curve_spark.session import get_spark

    spark = get_spark("hcs-bench", master=master)
    try:
        t0 = time.perf_counter()
        ctx, n_docs = bench_ctx(spark, AMP)
        build_sec = time.perf_counter() - t0
        draws = time_specs(ctx, bench_specs())
        medians = {k: round(statistics.median(v), 3) for k, v in draws.items()}
        headline = round(sum(medians[k] for k in HEADLINE), 3)
        return {
            "metric": "spatial-join + tiling suite wall time (amplified corpus)",
            "value": headline,
            "unit": "sec",
            "queries": medians,
            "draws": draws,
            "sf": SF_DIR,
            "master": master,
            "docs": n_docs,
            "docs_per_sec": round(n_docs * len(HEADLINE) / headline, 1),
            "build_sec": round(build_sec, 3),
            "full_suite_sec": round(sum(medians.values()), 3),
        }
    finally:
        spark.stop()


def run_heavy(master: str, amp: int) -> dict:
    """Compute-bound pipeline for the scaling criterion: encode + prefix
    index build + keyword index build + MinHash signatures over an
    amp-scaled corpus.  Sub-second stages are deliberately excluded: they
    are scheduler-latency-bound and say nothing about core scaling.  Every
    timed stage is multi-second at local[2] so noise amortizes; this is also
    the work that dominates a real deployment's cost."""
    from pyspark.sql import functions as F

    from hilbert_curve_spark.operators import dedup as dedup_ops
    from hilbert_curve_spark.operators.brq import keyword_index
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.operators.range_query import prefix_index
    from hilbert_curve_spark.session import get_spark
    from hilbert_curve_spark.sources.interleave import build_documents
    from hilbert_curve_spark.sources.layout import write_sorted

    spark = get_spark("hcs-scaling", master=master)
    try:
        # untimed setup: identical on-disk input for both masters; the timed
        # stages are pure compute + read (aggregates forcing full evaluation)
        corpus_path = _materialize_corpus(spark, amp, partitions=64)
        geo_path = f"{corpus_path}_scaling_geo"
        if not os.path.exists(os.path.join(geo_path, "_SUCCESS")):
            raw = f"{corpus_path}_scaling_raw"
            encode_documents(spark.read.parquet(corpus_path)).write.mode(
                "overwrite"
            ).parquet(raw)
            write_sorted(spark.read.parquet(raw), geo_path, partitions=64)
        flat = _sf_table(spark, "documents").repartition(64)
        # warm-up: force JVM/codegen/Arrow init before timing
        encode_documents(build_documents(spark, SF_DIR, amp=2)).count()
        corpus = spark.read.parquet(corpus_path)
        geo = spark.read.parquet(geo_path)

        def force(df):  # checksum agg: full evaluation, no write
            exprs = []
            for f in df.schema.fields:
                c = F.col(f.name)
                if f.dataType.simpleString() in ("bigint", "int", "long"):
                    exprs.append(F.sum(c))
                elif f.dataType.simpleString().startswith("array"):
                    exprs.append(F.sum(F.size(c)))
                else:
                    exprs.append(F.sum(F.length(c.cast("string"))))
            return df.agg(*exprs).collect()

        def timed(fn, reps=3):  # min-of-N: noise only ever adds time
            best = float("inf")
            for _ in range(reps):
                t = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t)
            return round(best, 3)

        n = geo.count()
        pidx = prefix_index(geo)
        n_post = pidx.count()
        stages = {
            "encode_sec": timed(lambda: force(encode_documents(corpus))),
            "index_sec": timed(lambda: force(pidx)),
            "kwindex_sec": timed(lambda: force(keyword_index(geo))),
            "minhash_sec": timed(lambda: force(dedup_ops.minhash_signatures(flat))),
        }
        total = sum(stages.values())
        return {
            "master": master,
            "docs": n,
            "postings": n_post,
            "stages": stages,
            "total_sec": round(total, 3),
            "docs_per_sec": round(n / total, 1),
        }
    finally:
        spark.stop()


def run_scaling() -> dict:
    # AMP=1024 (5.12M docs) makes every timed stage 20-75 s at local[1], long
    # enough that fixed per-job scheduling amortizes
    amp = int(os.environ.get("SPARK_GRAFT_SCALING_AMP", "1024"))
    n_small = int(os.environ.get("SPARK_GRAFT_SCALING_N", "1"))
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
    m_small, m_big = f"local[{n_small}]", f"local[{4 * n_small}]"
    # Two estimators, every draw recorded so the spread is visible: the
    # median paired-draw efficiency, and the capability efficiency
    # (min_small / min_big) / 4 — valid because CPU contention only ever
    # ADDS time.
    draws = []
    for _ in range(reps):
        r_small, r_big = run_heavy(m_small, amp), run_heavy(m_big, amp)
        eff = (r_small["total_sec"] / r_big["total_sec"]) / 4.0
        draws.append({"small": r_small, "big": r_big, "efficiency": round(eff, 3)})
    med = sorted(draws, key=lambda d: d["efficiency"])[len(draws) // 2]
    r_small, r_big = med["small"], med["big"]
    best_small = min(d["small"]["total_sec"] for d in draws)
    best_big = min(d["big"]["total_sec"] for d in draws)
    out = {
        "metric": (
            f"compute-bound pipeline wall time, {m_small} vs {m_big} on "
            f"identical input ({reps} paired draws)"
        ),
        "value": r_big["total_sec"],
        "unit": "sec",
        "queries": r_big["stages"],
        "sf": SF_DIR,
        "docs": r_big["docs"],
        "small": r_small,
        "big": r_big,
        "masters": [m_small, m_big],
        "throughput_N": r_small["docs_per_sec"],
        "throughput_4N": r_big["docs_per_sec"],
        "scaling_efficiency": med["efficiency"],
        "efficiency_draws": [d["efficiency"] for d in draws],
        "draw_totals": [
            {"small_sec": d["small"]["total_sec"], "big_sec": d["big"]["total_sec"]}
            for d in draws
        ],
        "capability_small_sec": best_small,
        "capability_big_sec": best_big,
        "capability_efficiency": round((best_small / best_big) / 4.0, 3),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(out, f, indent=1)
    return out


def main():
    out = run_scaling() if "--scaling" in sys.argv else run_suite(f"local[{CPUS}]")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
