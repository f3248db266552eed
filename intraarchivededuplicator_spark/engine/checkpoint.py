"""Stage checkpointing with per-partition lineage + metrics (north rule).

Analog of the reference's incremental re-scan skip — "don't redo work whose
output already exists" (/root/reference/scanner/fileHasher.py:309-356) — and
its progress counters (/root/reference/scanner/uiFrontend.py). Each completed
stage writes:
  <root>/<stage>/data/           parquet output
  <root>/<stage>/_lineage.json   stage metadata + per-partition row counts

Resume = if the sidecar exists and its config fingerprint matches, read the
parquet instead of recomputing. The fingerprint is the repr of the
DedupConfig, so any change to its fields recomputes every stage.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class StageCheckpointer:
    root: str
    config_fingerprint: str = ""
    metrics: list[dict] = field(default_factory=list)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.root, stage)
        return os.path.join(d, "data"), os.path.join(d, "_lineage.json")

    def run(self, spark: SparkSession, stage: str, compute) -> DataFrame:
        """compute() -> DataFrame; materialized to parquet with lineage, or
        re-read if this stage already completed with the same config."""
        data_path, sidecar = self._paths(stage)
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                meta = json.load(f)
            if meta.get("config_fingerprint") == self.config_fingerprint:
                self.metrics.append({"stage": stage, "resumed": True, **meta})
                return spark.read.parquet(data_path)
        t0 = time.time()
        df = compute()
        df.write.mode("overwrite").parquet(data_path)
        out = spark.read.parquet(data_path)
        per_part = [
            {"partition": int(r["p"]), "rows": int(r["n"])}
            for r in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        meta = {
            "stage": stage,
            "config_fingerprint": self.config_fingerprint,
            "wall_sec": round(time.time() - t0, 3),
            "output_rows": sum(p["rows"] for p in per_part),
            "partitions": per_part,
            "completed_at_unix": time.time(),
        }
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, sidecar)  # atomic: stage is only "done" with sidecar
        self.metrics.append({"resumed": False, **meta})
        return out


class NullCheckpointer(StageCheckpointer):
    """Runs every stage in memory: nothing is written, nothing resumes."""

    def __init__(self):
        super().__init__(root="")

    def run(self, spark: SparkSession, stage: str, compute) -> DataFrame:
        return compute()
