#!/usr/bin/env python
"""End-to-end pipeline job for spark-submit (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

    zip -r hilbert_curve_spark.zip hilbert_curve_spark
    spark-submit --py-files hilbert_curve_spark.zip jobs/pipeline.py \
        --sf-dir /root/testdata/sf0.01 --output /tmp/hcs_out [--amp 16]

Stages (checkpoint-resumable; kill it anywhere and rerun — completed
stages are skipped via their lineage manifests):

1. corpus   — flat parquet -> interleaved documents(doc_id, spans)
2. doc_geo  — encode stage (hilbert, cell, keywords), hilbert-sorted layout
3. indexes  — prefix + keyword posting tables
4. chunks   — token-budget training shards of the interleaved corpus
5. queries  — the workload suite; results + timings written as JSON
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--amp", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from hilbert_curve_spark import workload as W
    from hilbert_curve_spark.checkpoint import CheckpointRunner, Stage
    from hilbert_curve_spark.operators import brq as brq_ops
    from hilbert_curve_spark.operators import range_query as rq
    from hilbert_curve_spark.operators import tiles as tiles_ops
    from hilbert_curve_spark.operators import spans as spans_ops
    from hilbert_curve_spark.operators.encode import encode_documents
    from hilbert_curve_spark.sources.interleave import build_documents

    spark = SparkSession.builder.appName("hcs-pipeline").getOrCreate()

    stages = [
        Stage("corpus", lambda s, _: build_documents(s, args.sf_dir, amp=args.amp)),
        Stage("doc_geo", lambda s, o: encode_documents(o["corpus"]), sort_key="hilbert"),
        Stage("prefix_index", lambda s, o: rq.prefix_index(o["doc_geo"])),
        Stage("keyword_index", lambda s, o: brq_ops.keyword_index(o["doc_geo"])),
        # training-shard materialization: token-budget chunks of the
        # interleaved corpus (zero-shuffle per-row form)
        Stage(
            "chunks",
            lambda s, o: spans_ops.span_chunks_inline(
                o["corpus"], W.CHUNK_BUDGET, W.MEDIA_TOKEN_COST
            ),
        ),
    ]
    runner = CheckpointRunner(spark, os.path.join(args.output, "stages"))
    outs = runner.run(stages, {"sf_dir": args.sf_dir, "amp": str(args.amp)})

    from hilbert_curve_spark.operators.pip import pip_join
    from hilbert_curve_spark.operators.spatial_join import (
        corridor_search,
        nearest_join,
        zonal_stats,
    )

    geo = outs["doc_geo"]
    t0 = time.time()
    results = {
        "grq_range": rq.grq_range_mode(geo, **W.R1).count(),
        "brq_any": brq_ops.brq(geo, **W.R2, keywords=W.KW_ANY, mode="any").count(),
        "tile_assign": tiles_ops.tile_assignment(geo, W.TILES).count(),
        "pip_join": pip_join(geo, W.POLYGONS).count(),
        "zonal_stats": zonal_stats(geo, W.POLYGONS).count(),
        "corridor_search": corridor_search(geo, W.ROUTE, W.CORRIDOR_R).count(),
        "nearest_poi": nearest_join(geo, W.POIS).count(),
        "prefix_rows": outs["prefix_index"].count(),
        "keyword_rows": outs["keyword_index"].count(),
        "chunk_rows": outs["chunks"].count(),
    }
    summary = {
        "results": results,
        "query_sec": round(time.time() - t0, 3),
        "sf_dir": args.sf_dir,
        "amp": args.amp,
    }
    with open(os.path.join(args.output, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
