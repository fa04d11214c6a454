"""MERGE-sum snapshot store with time travel and replay-safe op ids.

The reference persists one mutable aggregate: StatsDataStore.save adds
the incoming histogram counts to the stored ones
(StatsDataStore.java:140-162).  ``SnapshotStore.merge_sum`` is that
upsert on plain parquet, shaped like an Iceberg table:

  * every merge commits a numbered snapshot to a JSON metadata log
    (snapshot id, parent, operation, row deltas), swapped in atomically;
  * ``read(snapshot_id)`` is a snapshot-pinned read (``VERSION AS OF``),
    so the log shows the running accumulation;
  * an ``op_id`` recorded in the log makes a re-delivered merge a no-op
    (the foreachBatch at-least-once contract).

Each snapshot rewrites the full table; at fact-table scale, partition
the store by week (the reference's own store key) or use a catalog
table's MERGE INTO.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, spark: SparkSession, path: str, key_cols: list[str]):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        os.makedirs(path, exist_ok=True)
        self.meta_path = os.path.join(path, "metadata.json")
        # op_id replay index: loaded from the snapshot log once, then kept
        # in sync by _commit — single-writer assumption, same as the
        # metadata pointer swap itself
        self._op_ids: set[str] | None = None

    # -- metadata -------------------------------------------------------------

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self.meta_path):
            return []
        with open(self.meta_path) as f:
            return json.load(f)

    def current_snapshot_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1]["snapshot_id"] if snaps else None

    def _op_id_seen(self, op_id: str) -> bool:
        # positive-only cache: a hit is trusted (op_ids are never removed
        # from the log), but a MISS re-reads the log before declaring the
        # op unseen — another store instance on the same path may have
        # committed it since this instance's last read (the old
        # rescan-every-call behaviour, kept only on the miss path, so the
        # hot replay-skip case stays O(1)).
        if self._op_ids is not None and op_id in self._op_ids:
            return True
        self._op_ids = {s["op_id"] for s in self.snapshots() if "op_id" in s}
        return op_id in self._op_ids

    def _commit(self, entry: dict):
        if "op_id" in entry and self._op_ids is not None:
            self._op_ids.add(entry["op_id"])
        snaps = self.snapshots()
        snaps.append(entry)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, self.meta_path)  # atomic pointer swap, Iceberg-style

    def _snap_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.path, f"snap-{snapshot_id:06d}")

    # -- reads ----------------------------------------------------------------

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Current table state, or `VERSION AS OF snapshot_id` time travel."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"store {self.path} has no snapshots")
        return self.spark.read.parquet(self._snap_dir(sid))

    # -- writes ---------------------------------------------------------------

    def _write_snapshot(
        self, df: DataFrame, added: int, op_id: str | None = None
    ) -> dict:
        parent = self.current_snapshot_id()
        sid = 0 if parent is None else parent + 1
        out = self._snap_dir(sid)
        df.write.mode("overwrite").parquet(out)
        total = self.spark.read.parquet(out).count()
        entry = {
            "snapshot_id": sid, "parent": parent, "operation": "merge-sum",
            "added_rows": int(added), "total_rows": int(total),
            "key": self.key_cols, "ts": time.time(),
        }
        if op_id is not None:
            entry["op_id"] = op_id
        self._commit(entry)
        return entry

    def merge_sum(
        self, df: DataFrame, sum_cols: list[str], op_id: str | None = None
    ) -> dict:
        """MERGE accumulate: matched keys ADD ``sum_cols``, unmatched
        insert — the reference's histogram upsert (StatsDataStore.save
        reads the stored SegmentStatistics for (segmentId, week) and adds
        the incoming counts, StatsDataStore.java:140-162); on a catalog
        table, MERGE ... WHEN MATCHED THEN UPDATE SET n = t.n + s.n WHEN
        NOT MATCHED THEN INSERT.  Empty increments commit nothing.

        ``op_id`` makes the merge IDEMPOTENT under at-least-once replay
        (the foreachBatch contract: a microbatch can be re-delivered after
        a crash between the store commit and the streaming checkpoint
        commit): an op_id already present in the snapshot log is skipped
        — the increments are NOT double-applied — and the recorded entry
        is returned."""
        expected = set(self.key_cols) | set(sum_cols)
        if set(df.columns) != expected:
            # the groupBy/agg below would silently project away any other
            # column — refuse instead of dropping data
            raise ValueError(
                f"merge_sum input columns {sorted(df.columns)} must be "
                f"exactly key_cols + sum_cols = {sorted(expected)}"
            )
        if op_id is not None and self._op_id_seen(op_id):
            for snap in self.snapshots():
                if snap.get("op_id") == op_id:
                    return {**snap, "operation": "merge-sum-replay-skip"}
        agg = df.groupBy(*self.key_cols).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        # one execution of the increment plan, reused by every action
        # below (isEmpty / counts / merged write) — from foreachBatch the
        # upstream would otherwise re-run per action
        agg = agg.localCheckpoint()
        if agg.isEmpty():
            snaps = self.snapshots()
            last = snaps[-1] if snaps else {"snapshot_id": None}
            return {**last, "operation": "merge-sum-noop", "added_rows": 0}
        if self.current_snapshot_id() is None:
            return self._write_snapshot(agg, agg.count(), op_id)
        existing = self.read()
        added = agg.join(
            existing.select(*self.key_cols), self.key_cols, "left_anti"
        ).count()
        merged = (
            existing.unionByName(agg)
            .groupBy(*self.key_cols)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
        return self._write_snapshot(merged, added, op_id)
