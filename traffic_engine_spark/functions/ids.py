"""Deterministic 60-bit ids from logical keys.

The reference allocates ids from a persistent counter starting at 1e9
(data/stores/IdStore.java:13,30-35) — unstable under parallelism.  This
engine derives ids as ``int(md5(key)[:15 hex], 16)`` (60 bits, positive
int64), so ids are identical across runs, partitionings and cluster
sizes (SURVEY §7.4.4).

Key strings follow the reference's own string forms (C14):
  * street segment: "ss_{wayId}:{startNodeId}-{endNodeId}"  (StreetSegment.java:82-84)
  * tripline:       "tl_{segmentId}-{index}"                (TripLine.java:22-24)

Spark flavour is pure JVM (`md5`/`conv`/`substring`) — no Python.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def det_id_py(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def det_id_col(key: Column) -> Column:
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def segment_key_py(way_id: int, start_node: int, end_node: int) -> str:
    return f"ss_{way_id}:{start_node}-{end_node}"


def segment_id_py(way_id: int, start_node: int, end_node: int) -> int:
    return det_id_py(segment_key_py(way_id, start_node, end_node))


def tripline_key_py(segment_id: int, index: int) -> str:
    return f"tl_{segment_id}-{index}"


def tripline_id_py(segment_id: int, index: int) -> int:
    return det_id_py(tripline_key_py(segment_id, index))
