"""Checkpoint + lineage layer (SURVEY.md §7 stage 8; north rule:
"checkpoints each stage … with per-partition lineage and row-count/latency
metrics so any stage resumes idempotently").

Each stage writes to ``<base>/<run_id>/<stage>`` as parquet with an
atomic-rename commit protocol (_SUCCESS is written by Spark); a stage whose
output already exists is read back instead of recomputed, so a killed run
resumes from its last completed stage.  Metrics (row counts, per-partition
row counts, wall time) append to ``<base>/<run_id>/_metrics.jsonl``.

Format note: this container has no Iceberg runtime jars, so the writer
targets plain parquet directories; on a cluster, swapping
``df.write.parquet`` for ``df.writeTo(table).createOrReplace()`` (Iceberg)
gives snapshot isolation and partition-pruned reads with no other code
change — the stage contract (idempotent overwrite keyed by run_id + stage
name) is Iceberg-shaped on purpose.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class StageWriter:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str,
                 collect_partition_lineage: bool = True) -> None:
        self.spark = spark
        self.base = os.path.join(base_dir, run_id)
        self.run_id = run_id
        self.collect_partition_lineage = collect_partition_lineage
        os.makedirs(self.base, exist_ok=True)
        self._metrics_path = os.path.join(self.base, "_metrics.jsonl")

    def _log(self, record: dict) -> None:
        record["run_id"] = self.run_id
        record["logged_at"] = time.time()
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(record, default=str) + "\n")

    def stage_path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def is_complete(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.stage_path(name), "_SUCCESS"))

    def materialize(self, name: str, df: DataFrame,
                    partition_by: list[str] | None = None) -> DataFrame:
        """Write-or-resume: if the stage output exists, read it back
        (idempotent resume); otherwise compute, write, and record metrics.

        With ``partition_by`` the stage writes hive-layout partitions and
        the lineage breakdown is keyed by PARTITION VALUE — the form
        Iceberg partition stats take (a task-id breakdown is meaningless
        once the data is at rest; a value breakdown survives compaction,
        migration, and engine changes).  Without it the breakdown falls
        back to physical task partitions (spark_partition_id).
        """
        path = self.stage_path(name)
        if self.is_complete(name):
            self._log({"stage": name, "event": "resume", "path": path})
            return self.spark.read.parquet(path)
        t0 = time.time()
        # row count rides the write action itself (Observation) — at
        # 100 TB a count-only re-scan of the stage output would double
        # the checkpoint's read IO; the per-partition breakdown below
        # stays opt-in because it genuinely needs a second pass
        from pyspark.sql import Observation
        obs = Observation()
        writer = (df.observe(obs, F.count(F.lit(1)).alias("rows"))
                  .write.mode("overwrite"))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        wall = time.time() - t0
        metrics = {"stage": name, "event": "write", "path": path,
                   "wall_sec": round(wall, 3),
                   "row_count": int(obs.get["rows"])}
        if self.collect_partition_lineage:
            if partition_by:
                per_part = out.groupBy(*partition_by).count().collect()
                metrics["partitions"] = {
                    "/".join(str(r[c]) for c in partition_by):
                        int(r["count"])
                    for r in per_part}
            else:
                per_part = (out.groupBy(F.spark_partition_id()
                                        .alias("pid")).count().collect())
                metrics["partitions"] = {int(r["pid"]): int(r["count"])
                                         for r in per_part}
        self._log(metrics)
        return out

    def metrics(self) -> list[dict]:
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as f:
            return [json.loads(line) for line in f]
