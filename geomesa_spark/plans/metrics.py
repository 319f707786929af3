"""Ops hardening: per-partition lineage + metrics, checkpoint-resumable
multi-stage jobs (north-rule requirements; the reference analog is the
micrometer query timers, QueryRunner.scala:218-244, and the FS-store
partition layout used for incremental writes).

- `observe_rows`: zero-cost row/byte counters via df.observe (no extra job).
- `partition_metrics`: per-partition row counts from spark_partition_id.
- `StageRunner`: each stage writes parquet + a _STAGE_COMPLETE marker with
  row count and input-stage lineage; re-running skips completed stages
  (checkpoint-resume), `lineage()` returns the stage DAG actually executed.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def observe_rows(df: DataFrame, name: str) -> tuple[DataFrame, "Observation"]:
    """Attach an Observation counting rows; read obs.get after an action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def partition_metrics(df: DataFrame) -> DataFrame:
    """(partition_id, rows) — the per-partition metrics table."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows")
    )


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    seconds: float
    skipped: bool
    inputs: list[str]


class StageRunner:
    """Checkpoint-resumable staged pipeline.

    Usage:
        runner = StageRunner(spark, "/tmp/pipeline")
        a = runner.stage("parse", lambda: index_docs(raw))
        b = runner.stage("joined", lambda: spatial_join(a, polys), inputs=["parse"])
    Each stage materializes to parquet with a _STAGE_COMPLETE marker
    (name, rows, wall seconds, input lineage, per-partition rows). A re-run
    after failure reads completed stages back instead of recomputing.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.results: dict[str, StageResult] = {}
        os.makedirs(root, exist_ok=True)

    def _marker(self, name: str) -> str:
        return os.path.join(self.root, name, "_STAGE_COMPLETE")

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name, "data")

    def is_complete(self, name: str) -> bool:
        return os.path.exists(self._marker(name))

    def stage(
        self,
        name: str,
        fn,
        inputs: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        inputs = inputs or []
        path = self._path(name)
        if self.is_complete(name):
            with open(self._marker(name)) as f:
                meta = json.load(f)
            self.results[name] = StageResult(
                name, path, meta["rows"], meta["seconds"], True, meta["inputs"]
            )
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = fn()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        rows = out.count()
        pm = [
            {"partition_id": r.partition_id, "rows": r.rows}
            for r in partition_metrics(out).collect()
        ]
        dt = time.time() - t0
        meta = {
            "stage": name,
            "rows": rows,
            "seconds": round(dt, 3),
            "inputs": inputs,
            "partitions": pm,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        os.makedirs(os.path.dirname(self._marker(name)), exist_ok=True)
        with open(self._marker(name), "w") as f:
            json.dump(meta, f)
        self.results[name] = StageResult(name, path, rows, dt, False, inputs)
        return out

    def lineage(self) -> list[dict]:
        """The executed stage DAG with rows/timing/skip flags."""
        return [
            {
                "stage": r.name,
                "rows": r.rows,
                "seconds": round(r.seconds, 3),
                "skipped": r.skipped,
                "inputs": r.inputs,
            }
            for r in self.results.values()
        ]
