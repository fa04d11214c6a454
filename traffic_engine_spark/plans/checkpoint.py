"""Checkpoint-resumable stage orchestration + per-partition lineage
metrics (north rule: "every stage is checkpoint-resumable with
per-partition lineage and row-count metrics").

Design (storage-format-agnostic; parquet locally, Iceberg snapshots on a
real cluster — swap `_write`/`_read` and record snapshot ids in the
manifest):

  * A pipeline is a list of named stages; each stage materialises one
    table under <root>/<stage>/ and appends a manifest entry
    (stage, input fingerprint, row count, per-partition counts, wall).
  * `run_stage` skips work when a _SUCCESS-marked output with a matching
    input fingerprint exists — kill the job at any boundary and re-run:
    finished stages are read back, unfinished ones recompute.
  * Lineage: `df.observe` counts rows JVM-side (no extra pass); a
    per-partition histogram is recorded via spark_partition_id for skew
    diagnosis.

The reference's analogue is MapDB commit batching + the monotonic id
store (data/stores/*.java) — the engine's ids are content-derived
(functions/ids.py) precisely so resumed runs are byte-identical.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ..config import DEFAULT_CONFIG, EngineConfig


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    partitions: int
    wall_sec: float
    skipped: bool
    per_partition: dict = field(default_factory=dict)


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "manifest.jsonl")

    # -- manifest -----------------------------------------------------------

    def _append_manifest(self, entry: dict):
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(entry) + "\n")

    def manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- stages --------------------------------------------------------------

    def run_stage(
        self,
        name: str,
        fingerprint: str,
        build,  # () -> DataFrame
        partition_by: list[str] | None = None,
    ) -> tuple[DataFrame, StageResult]:
        """Materialise stage `name` (or reuse the finished checkpoint when
        the input fingerprint matches).  Returns (df, result)."""
        path = os.path.join(self.root, name)
        marker = os.path.join(path, "_FINGERPRINT")
        if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(marker):
            with open(marker) as f:
                if f.read().strip() == fingerprint:
                    df = self.spark.read.parquet(path)
                    res = StageResult(name, path, df.count(), df.rdd.getNumPartitions(), 0.0, True)
                    self._append_manifest(
                        {"stage": name, "fingerprint": fingerprint, "resumed": True,
                         "rows": res.rows, "ts": time.time()}
                    )
                    return df, res

        t0 = time.time()
        df = build()
        obs = Observation(f"lineage_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        rows = int(obs.get["rows"])
        out = self.spark.read.parquet(path)
        per_part = {
            str(r["pid"]): int(r["n"])
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        wall = time.time() - t0
        with open(marker, "w") as f:
            f.write(fingerprint)
        res = StageResult(name, path, rows, len(per_part), round(wall, 3), False, per_part)
        self._append_manifest(
            {
                "stage": name, "fingerprint": fingerprint, "resumed": False,
                "rows": rows, "partitions": len(per_part),
                "per_partition_rows": per_part, "wall_sec": res.wall_sec,
                "ts": time.time(),
            }
        )
        assert sum(per_part.values()) == rows, "lineage mismatch: partition counts != observed rows"
        return out, res


def run_checkpointed_pipeline(spark, images: DataFrame, triplines, segments,
                              jumpers: DataFrame, root: str, fingerprint: str,
                              cfg: EngineConfig = DEFAULT_CONFIG):
    """The §3.1 pipeline cut at its process boundaries (SURVEY §3.1 notes):
    crossings → samples → histograms, each stage resumable.  The stages are
    `match.run_pipeline`'s own composition, so the checkpointed run honours
    every ``cfg`` switch the plain one does."""
    from . import match as M
    from . import stats as S

    cp = CheckpointedPipeline(spark, root)
    results = []

    crossings, r1 = cp.run_stage(
        "crossings", fingerprint,
        lambda: M.run_pipeline(spark, images, triplines, segments, jumpers, cfg)[0],
    )
    results.append(r1)

    samples, r2 = cp.run_stage(
        "samples", fingerprint,
        lambda: M.speed_samples(spark, crossings, segments, jumpers),
    )
    results.append(r2)

    hist, r3 = cp.run_stage(
        "histograms", fingerprint, lambda: S.histograms(samples), partition_by=["week"]
    )
    results.append(r3)
    return hist, results
