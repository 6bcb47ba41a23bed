"""Checkpoint-resumable pipeline runner with per-partition lineage +
metrics (north_rule: "resumable from checkpoint with per-partition lineage
+ metrics", mirroring the reference's per-key version-chain client state —
`Scheme/RSKQ/ClientStateBytes.java`, `RSKQ_Biginteger.java:37-38` — lifted
from per-row state to per-snapshot manifests).

A pipeline is a named sequence of stages; each stage writes its output as
parquet under ``<root>/<stage>/`` plus a manifest JSON recording:

* the stage input fingerprint (so a resume detects upstream changes),
* per-partition row counts + bytes (lineage: which partition produced what,
  read from each part file's parquet footer, so no extra Spark job),
* wall time and the engine config.

``run`` skips stages whose manifest is present and whose input fingerprint
matches — i.e. a killed job resumes after the last completed stage with
byte-identical output (outputs are written deterministically:
``repartitionByRange`` on an explicit key before write).

On Iceberg the same design maps to snapshot append + snapshot-id manifest;
parquet-dir-per-stage is the sandbox stand-in (no Iceberg jars here) and
the manifest format is storage-agnostic.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    sort_key: str | None = None  # deterministic layout key


def _fingerprint(inputs: dict[str, str]) -> str:
    import hashlib

    return hashlib.md5(json.dumps(inputs, sort_keys=True).encode()).hexdigest()


class CheckpointRunner:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _manifest_path(self, stage: str) -> Path:
        return self.root / f"{stage}.manifest.json"

    def _data_path(self, stage: str) -> Path:
        return self.root / stage

    def run(self, stages: list[Stage], fingerprint_inputs: dict[str, str]) -> dict[str, DataFrame]:
        """Execute stages in order, skipping completed ones (resume)."""
        fp = _fingerprint(fingerprint_inputs)
        outputs: dict[str, DataFrame] = {}
        for st in stages:
            mpath = self._manifest_path(st.name)
            dpath = self._data_path(st.name)
            if mpath.exists():
                m = json.loads(mpath.read_text())
                if m.get("input_fingerprint") == fp:
                    outputs[st.name] = self.spark.read.parquet(str(dpath))
                    continue
            t0 = time.time()
            df = st.build(self.spark, outputs)
            if st.sort_key:
                df = df.repartitionByRange(8, st.sort_key).sortWithinPartitions(st.sort_key)
            df.write.mode("overwrite").parquet(str(dpath))
            # lineage without a second job: each write task leaves one
            # part-NNNNN file whose footer holds its row count
            lineage = [
                {
                    "partition": int(pf.name[5:10]),
                    "rows": pq.ParquetFile(pf).metadata.num_rows,
                    "bytes": pf.stat().st_size,
                }
                for pf in sorted(dpath.glob("part-*"))
            ]
            conf = self.spark.conf
            manifest = {
                "stage": st.name,
                "input_fingerprint": fp,
                "rows": sum(p["rows"] for p in lineage),
                "partitions": lineage,
                "wall_sec": round(time.time() - t0, 3),
                "engine_config": {
                    "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
                    "adaptive_enabled": conf.get("spark.sql.adaptive.enabled"),
                    "ansi_enabled": conf.get("spark.sql.ansi.enabled", "true"),
                },
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            tmp = mpath.with_suffix(".tmp")
            tmp.write_text(json.dumps(manifest, indent=1))
            tmp.rename(mpath)  # atomic commit: manifest present <=> stage done
            outputs[st.name] = self.spark.read.parquet(str(dpath))
        return outputs
