"""Network build (SURVEY §3.2 recast): osm ways+nodes → street segments,
triplines, jumpers — as one batch Spark job.

Shape of the job (scale notes inline):
  1. explode way→node, join node coords (a plain equi-join: Spark picks
     broadcast or sort-merge on node_id from the tables' statistics).
  2. intersection detection = hash aggregation (A1).
  3. per-way segment split + tripline geodesy inside ``applyInPandas``
     (numpy kernels from functions/geodesy.py — identical code to the
     pytest oracle, so float parity is exact).
  4. jumpers: the transitive merge (J5) of short segments (<= MIN_SEGMENT_LEN)
     is order-dependent by reference semantics (JumperDataStore.java:59-111),
     so it folds in the deterministic (way_id, seq_in_way, twin) order —
     once per union-find component of the short-segment node graph, in one
     applyInPandas task.  Nothing runs at build time or reaches the driver.

All three tables come back as cached DataFrames.

Deterministic ids throughout (functions/ids.py) — stable across runs and
parallelism levels (SURVEY §7.4.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    INTERSECTION_MARGIN_METERS,
    MIN_SEGMENT_LEN,
    TRIPLINE_RADIUS,
)
from ..functions.geodesy import (
    bearing_at_index,
    clamp_azimuth,
    extract_point,
    planar_lengths,
    vincenty_direct,
    vincenty_inverse,
)
from ..functions.ids import segment_id_py, tripline_id_py
from ..oracle.pyoracle import Jumper, add_jumper, is_oneway, street_type_of

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("way_id", T.LongType(), False),
        T.StructField("start_node_id", T.LongType(), False),
        T.StructField("end_node_id", T.LongType(), False),
        T.StructField("lons", T.ArrayType(T.DoubleType()), False),
        T.StructField("lats", T.ArrayType(T.DoubleType()), False),
        T.StructField("length_m", T.DoubleType(), False),
        T.StructField("oneway", T.BooleanType(), False),
        T.StructField("street_type", T.IntegerType(), False),
        T.StructField("seq_in_way", T.IntegerType(), False),
        T.StructField("twin", T.IntegerType(), False),
    ]
)

TRIPLINE_SCHEMA = T.StructType(
    [
        T.StructField("tripline_id", T.LongType(), False),
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("tripline_index", T.IntegerType(), False),
        T.StructField("dist_m", T.DoubleType(), False),
        T.StructField("lon0", T.DoubleType(), False),
        T.StructField("lat0", T.DoubleType(), False),
        T.StructField("lon1", T.DoubleType(), False),
        T.StructField("lat1", T.DoubleType(), False),
    ]
)


def _split_way_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-way split at intersection nodes (OSMDataStore.java:516-592).

    Intersection-ness arrives as the per-node ``ninter`` flag array joined
    in upstream (a plain equi-join) — NOT a driver-collected set, which
    would be O(network) driver memory at planet scale."""
    rows = []
    for way in pdf.itertuples():
        nodes = list(way.nodes)
        inter_flags = list(way.ninter)
        lons = np.asarray(way.nlons, dtype=np.float64)
        lats = np.asarray(way.nlats, dtype=np.float64)
        if any(pd.isna(lons)) or any(pd.isna(lats)):
            continue  # missing node ⇒ way skipped (OSMUtils.java:40-42)
        tags = dict(way.tags)
        oneway = is_oneway(tags)
        stype = street_type_of(tags)
        # per-edge geodesic distances, one vectorised call per way
        edge_m = (
            vincenty_inverse(lons[:-1], lats[:-1], lons[1:], lats[1:])[0]
            if len(lons) > 1 else np.zeros(0)
        )
        seg_dist, last_node, start_i = 0.0, nodes[0], 0
        seq = 0
        seen = set()
        for i, node_id in enumerate(nodes):
            if i > 0:
                seg_dist += float(edge_m[i - 1])
            if i > start_i and (inter_flags[i] or i == len(nodes) - 1):
                slons, slats = lons[start_i : i + 1], lats[start_i : i + 1]

                def emit(a, b, lo, la):
                    nonlocal seq
                    key = (a, b)
                    if key not in seen:
                        seen.add(key)
                        rows.append(
                            (
                                segment_id_py(way.way_id, a, b), way.way_id, a, b,
                                list(lo), list(la), seg_dist, oneway, stype,
                                seq // 2, seq % 2,
                            )
                        )
                    seq += 1

                emit(last_node, node_id, slons, slats)
                if not oneway:
                    emit(node_id, last_node, slons[::-1], slats[::-1])
                else:
                    seq += 1  # keep seq aligned as (seq_in_way, twin)

                start_i, seg_dist, last_node = i, 0.0, node_id
    return pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])


def build_segments(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """ways(way_id, nodes:array<long>, tags:map) ⋈ nodes(node_id, lat, lon)
    → street segments.  Traffic-edge filter (F1) + intersection agg (A1)
    are native Spark; the sequential split runs per-way in applyInPandas."""
    traffic = ways.filter(F.col("tags").getItem("highway").isNotNull())

    exploded = traffic.select(
        "way_id", "tags", F.posexplode("nodes").alias("pos", "node_id")
    )
    # A1: node on ≥2 sightings across traffic ways ⇒ intersection.
    # Joined back as a flag (equi-join, AQE picks broadcast vs SMJ by size)
    # instead of a driver-collected set — intersection nodes are O(10^8) at
    # planet scale and must never land on the driver.
    inters = (
        exploded.groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("node_id", F.lit(True).alias("is_inter"))
    )

    with_coords = (
        exploded.join(nodes, "node_id", "left")
        .join(inters, "node_id", "left")
        .groupBy("way_id")
        .agg(
            F.first("tags").alias("tags"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "pos", "node_id", "lon", "lat",
                        F.coalesce(F.col("is_inter"), F.lit(False)).alias("inter"),
                    )
                )
            ).alias("pts"),
        )
        .select(
            "way_id",
            "tags",
            F.col("pts.node_id").alias("nodes"),
            F.col("pts.lon").alias("nlons"),
            F.col("pts.lat").alias("nlats"),
            F.col("pts.inter").alias("ninter"),
        )
    )

    def run(pdf_iter):
        for pdf in pdf_iter:
            yield _split_way_batch(pdf)

    return with_coords.mapInPandas(run, schema=SEGMENT_SCHEMA)


def build_triplines(segments: DataFrame) -> DataFrame:
    """Segments longer than MIN_SEGMENT_LEN get two triplines
    (OSMDataStore.java:381-395, createTripLine:594-612)."""

    def make(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for s in pdf.itertuples():
                lons = np.asarray(s.lons)
                lats = np.asarray(s.lats)
                cum = planar_lengths(lons, lats)
                scale = float(cum[-1]) / s.length_m
                for tl_index, (index, dist) in enumerate(
                    (
                        (INTERSECTION_MARGIN_METERS * scale, INTERSECTION_MARGIN_METERS),
                        ((s.length_m - INTERSECTION_MARGIN_METERS) * scale,
                         s.length_m - INTERSECTION_MARGIN_METERS),
                    ),
                    start=1,
                ):
                    bearing = bearing_at_index(lons, lats, index)
                    px, py = extract_point(lons, lats, index)
                    rx, ry = vincenty_direct(px, py, float(clamp_azimuth(bearing + 90.0)), TRIPLINE_RADIUS)
                    lx, ly = vincenty_direct(px, py, float(clamp_azimuth(bearing - 90.0)), TRIPLINE_RADIUS)
                    rows.append(
                        (tripline_id_py(s.segment_id, tl_index), s.segment_id,
                         tl_index, dist, float(lx), float(ly), float(rx), float(ry))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in TRIPLINE_SCHEMA.fields])

    return segments.filter(F.col("length_m") > MIN_SEGMENT_LEN).mapInPandas(
        make, schema=TRIPLINE_SCHEMA
    )


JUMPER_SCHEMA = T.StructType(
    [
        T.StructField("start_node_id", T.LongType(), False),
        T.StructField("end_node_id", T.LongType(), False),
        T.StructField("length_m", T.DoubleType(), False),
        T.StructField("segment_ids", T.ArrayType(T.LongType()), False),
    ]
)


def fold_jumpers(short: pd.DataFrame) -> pd.DataFrame:
    """J5 over short segments (JUMPER_SCHEMA rows out): union-find over
    (start_node_id, end_node_id) labels the components of the short-segment
    node graph, then the add_jumper fold runs once per component in the
    deterministic (way_id, seq_in_way, twin) order.

    add_jumper merges only jumpers sharing an endpoint node
    (JumperDataStore.java:59-111), so components never interact: folding
    each apart yields exactly the reference's one global fold, and keeps
    add_jumper's whole-index scan bounded by the component's size."""
    short = short.sort_values(["way_id", "seq_in_way", "twin"])
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(short["start_node_id"], short["end_node_id"]):
        parent[find(a)] = find(b)
    rows = []
    # groupby keeps each component's rows in the sorted order
    for _, comp in short.groupby([find(a) for a in short["start_node_id"]], sort=False):
        jumpers, s_idx, e_idx = {}, set(), set()
        for s in comp.itertuples():
            add_jumper(
                jumpers, s_idx, e_idx,
                Jumper(int(s.start_node_id), int(s.end_node_id), float(s.length_m),
                       [int(s.segment_id)]),
            )
        rows += [(k[0], k[1], j.length, j.segments) for k, j in jumpers.items()]
    return pd.DataFrame(rows, columns=[f.name for f in JUMPER_SCHEMA.fields])


def build_jumpers(segments: DataFrame) -> DataFrame:
    """J5: short segments (<= MIN_SEGMENT_LEN) → jumpers, one lazy plan.
    Every short segment goes to ONE applyInPandas group, and fold_jumpers
    labels and folds the components inside that task.

    One task, not a per-tile phase plus a cross-tile merge: the engine
    already holds the whole jumper table on every executor (J4 and
    offmap_traces broadcast it unconditionally), and this task's input —
    seven narrow columns per short segment — is the same order of size,
    so it adds no size bound the engine does not already have."""
    short = segments.filter(F.col("length_m") <= MIN_SEGMENT_LEN).select(
        "segment_id", "way_id", "start_node_id", "end_node_id", "length_m",
        "seq_in_way", "twin",
    )
    # a bare integer literal would be read as a GROUP BY ordinal
    return short.groupBy(F.lit("all").alias("_all")).applyInPandas(
        fold_jumpers, schema=JUMPER_SCHEMA
    )


def build_network_tables(
    spark: SparkSession, ways: DataFrame, nodes: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full network build → (segments, triplines, jumpers), each cached.
    ``spark`` is unused; it stays for the callers that pass it first."""
    segments = build_segments(ways, nodes).cache()
    triplines = build_triplines(segments).cache()
    jumpers = build_jumpers(segments).cache()
    return segments, triplines, jumpers
