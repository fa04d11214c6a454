"""The main pipeline (SURVEY §3.1 recast): images → decoded fixes →
lag-pairing → cell-grid spatial join → exact refine → per-trace state
machine → speed samples.

Plan shape (exactly three exchanges, SURVEY §3.1):
  (a) window shuffle on trace_id (pairing — reused by the kernel),
  (b) the J1 join on the packed cell key — Spark's planner sizes it: a
      broadcast of the tripline cell index while its estimate fits
      ``spark.sql.autoBroadcastJoinThreshold``, a shuffle join otherwise,
  (c) the final histogram groupBy.

Hot-path discipline:
  * geotag decode is JVM regexp on `caption` — `bytes` is never read, never
    shuffled (column pruning; payload verification is a separate plan,
    plans/tiles.py).
  * J2 refine (LineSegment.intersectionDistance, geom/LineSegment.java:17-43)
    is pure column arithmetic — whole-stage-codegen'd, no UDF.
  * only the inherently-sequential J3/J4 state machine
    (Vehicle.java:139-170,250-275) runs in Python, Arrow-batched per trace.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    DEFAULT_CONFIG,
    EngineConfig,
    MAX_PAIR_DELTA_MS_FIXED,
    MAX_PAIR_DELTA_MS_QUIRK,
    MAX_SPEED,
    MIN_SEGMENT_LEN,
    MINIMUM_VEHICLE_COUNT,
    Z_AREA,
    Z_ITEM,
)
from ..functions.binning import coerce_ms_col
from ..functions.ids import tripline_id_py
from ..functions.cells import explode_bbox_cover, pack_xy, tile_x_col, tile_y_col

# ---------------------------------------------------------------------------
# stage 1 — geotag decode (caption is authoritative; FIXTURES.md §1)
# ---------------------------------------------------------------------------

CAPTION_RE = r"trace=(-?\d+);ts=(-?\d+);lat=(-?[0-9.]+);lon=(-?[0-9.]+)"


def decode_fixes(images: DataFrame) -> DataFrame:
    """images → (image_id, trace_id, ts, lat, lon); JVM-side regexp, no UDF.

    sec→ms coercion per GPSPoint.java:28-29 happens here; tz offsetting
    (GPSPoint.offsetTime) is a join against the per-area offset dim —
    synthetic fixtures are UTC (offset 0) so it is the identity there.
    """
    # split-based parse (one split, no per-field regex — measurably cheaper
    # than 4× regexp_extract on the hot path; format is canonical)
    parts = F.split(F.col("caption"), ";")
    field = lambda i: F.substring_index(F.element_at(parts, i + 1), "=", -1)  # noqa: E731
    decoded = images.select(
        "image_id",
        field(0).try_cast("long").alias("trace_id"),
        coerce_ms_col(field(1).try_cast("long")).alias("ts"),
        field(2).try_cast("double").alias("lat"),
        field(3).try_cast("double").alias("lon"),
    )
    # rows with unparseable geotags are dropped (ANSI-safe via try_cast)
    return decoded.filter(
        F.col("trace_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )


# ---------------------------------------------------------------------------
# stage 1b — C13 per-area timezone offsets (GPSPoint.offsetTime)
# ---------------------------------------------------------------------------


def area_zone_offsets(
    fixes: DataFrame, tz_polygons_pd: pd.DataFrame, tz_offsets_ms: dict[int, int]
) -> DataFrame:
    """The per-z11-area zone-offset dim (OSMDataStore.java:412: one offset
    per OSM area, looked up at the area envelope's *centre*;
    TimeConverter.getOffsetForCoord:183-190 returns the zone's raw offset,
    0 when no zone contains the point).

    Distinct z11 tiles come from the fixes themselves (the reference loads
    areas lazily per visited tile, OSMDataStore.checkOsm:322-331); centres
    are PIP-assigned against the broadcast tz polygon table (J7 machinery);
    ``tz_offsets_ms`` maps poly_id → raw offset ms.  The dim is O(visited
    z11 tiles) — broadcastable at any data scale (the planet has < 4.2M z11
    tiles, and offsets pack to 20 bytes/row)."""
    from ..functions.cells import tile2lat_col, tile2lon_col
    from ..operators.spatial import filter_inhabited_tz, pip_assign_winding

    tz_polygons_pd = filter_inhabited_tz(tz_polygons_pd)  # F12
    tiles = fixes.select(
        tile_x_col(F.col("lon"), Z_AREA).alias("ax"),
        tile_y_col(F.col("lat"), Z_AREA).alias("ay"),
    ).distinct()
    centres = tiles.select(
        "ax", "ay",
        ((tile2lon_col(F.col("ax"), Z_AREA) + tile2lon_col(F.col("ax") + 1, Z_AREA)) / 2).alias("lon"),
        ((tile2lat_col(F.col("ay"), Z_AREA) + tile2lat_col(F.col("ay") + 1, Z_AREA)) / 2).alias("lat"),
    )
    assigned = pip_assign_winding(centres, tz_polygons_pd)
    if tz_offsets_ms:
        mapping = F.create_map(
            *[F.lit(v) for kv in tz_offsets_ms.items() for v in kv]
        )
        offset = F.coalesce(mapping[F.col("poly_id")], F.lit(0))
    else:
        # no-arg create_map types as map<string,string> and fails analysis
        # on a long lookup — empty offsets means the documented 0 fallthrough
        offset = F.lit(0)
    return assigned.select(
        "ax", "ay", offset.cast("long").alias("zone_offset_ms"),
    )


def apply_zone_offsets(
    fixes: DataFrame, offsets_dim: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """GPSPoint.offsetTime (GPSPoint.java:38-41, applied per point in
    Vehicle.java:96-102 via the point's z11 area): ts += area offset, gated
    on cfg.convert_to_localtime exactly like the reference flag."""
    if not cfg.convert_to_localtime:
        return fixes
    dim = offsets_dim.select(
        F.col("ax").alias("_ax"), F.col("ay").alias("_ay"), "zone_offset_ms"
    )
    return (
        fixes.withColumn("_ax", tile_x_col(F.col("lon"), Z_AREA))
        .withColumn("_ay", tile_y_col(F.col("lat"), Z_AREA))
        .join(F.broadcast(dim), ["_ax", "_ay"], "left")
        .withColumn("ts", F.col("ts") + F.coalesce(F.col("zone_offset_ms"), F.lit(0)))
        .drop("_ax", "_ay", "zone_offset_ms")
    )


# ---------------------------------------------------------------------------
# stage 2 — per-trace consecutive pairing (W1) + admissibility filters
# ---------------------------------------------------------------------------


def pair_fixes(fixes: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """lag() over (trace_id, ts) — Vehicle's per-vehicle FIFO pairing
    (Vehicle.java:104-122).  Filters: F7 first-point, F6 max-gap (µs quirk
    by default), F5 stationary."""
    w = Window.partitionBy("trace_id").orderBy("ts", "image_id")
    max_gap = MAX_PAIR_DELTA_MS_QUIRK if cfg.strict_parity else MAX_PAIR_DELTA_MS_FIXED
    pairs = (
        fixes.withColumn("seq", F.row_number().over(w) - 1)
        .withColumn("p_ts", F.lag("ts").over(w))
        .withColumn("p_lat", F.lag("lat").over(w))
        .withColumn("p_lon", F.lag("lon").over(w))
    )
    return pairs.filter(
        F.col("p_ts").isNotNull()  # F7 (Vehicle.java:110-112)
        & ((F.col("ts") - F.col("p_ts")) <= F.lit(max_gap))  # F6 (Vehicle.java:118)
        & ((F.col("lat") != F.col("p_lat")) | (F.col("lon") != F.col("p_lon")))  # F5
    )


# ---------------------------------------------------------------------------
# stage 3 — J1 cell equi-join + J2 native-column refine
# ---------------------------------------------------------------------------


def tripline_cell_index(triplines: DataFrame) -> DataFrame:
    """Explode each tripline over its z18 bbox cover tiles — the
    tileIndex build of SpatialDataStore.save (SpatialDataStore.java:72-93).
    Duplicate hits for multi-tile triplines are *preserved* (the reference
    range scan returns one hit per (tile, id) entry)."""
    return explode_bbox_cover(
        triplines,
        F.least("lon0", "lon1"), F.least("lat0", "lat1"),
        F.greatest("lon0", "lon1"), F.greatest("lat0", "lat1"),
        zoom=Z_ITEM, margin=0,
    )


def _cross(ux: Column, uy: Column, vx: Column, vy: Column) -> Column:
    return ux * vy - uy * vx


def find_crossings(pairs: DataFrame, triplines: DataFrame) -> DataFrame:
    """GPS pair ⋈ tripline on z18 tile (±1 margin), refined by the exact
    parametric intersection — all native columns (J1+J2).

    The tripline cell index is built here and joined on one packed cell
    key, for batch and streaming probes alike.  The strategy is Spark's:
    the planner broadcasts the index while its size estimate fits
    ``spark.sql.autoBroadcastJoinThreshold`` (cached, checkpointed and
    parquet-read networks all carry statistics), and above it the join is
    a shuffle join whose hot cells AQE's skew-join splits.  Building the
    join launches no Spark job.  The index's size estimate is the
    triplines' own: Spark does not scale it by the cover fan-out (1.2
    index rows per tripline measured on a synthetic city, at most 4 below
    |lat| 82.4° and at most 9 above, where a z18 tile is narrower than a
    tripline).

    Returns one row per crossing *occurrence* (reference duplicate-hit
    semantics), with the matched (tile_x, tile_y) kept for the kernel's
    deterministic ordering (the reference's B-tree scan order,
    SpatialDataStore.java:165-177)."""
    # narrow the probe row before the ~20× cover explode: every byte here is
    # multiplied by the fan-out (image_id in particular is dead weight — the
    # kernel keys on (trace_id, seq))
    probe = pairs.select(
        "trace_id", "seq", "ts", "p_ts", "lat", "lon", "p_lat", "p_lon"
    )
    gps_cells = explode_bbox_cover(
        probe,
        F.least("lon", "p_lon"), F.least("lat", "p_lat"),
        F.greatest("lon", "p_lon"), F.greatest("lat", "p_lat"),
        zoom=Z_ITEM, margin=1,
    )
    # join on ONE packed long key instead of (tile_x, tile_y) — see
    # functions/cells.pack_xy (measured 2× on this join stage); the probe
    # side keeps its tile_x/tile_y columns for the output
    packed_key = pack_xy(F.col("tile_x"), F.col("tile_y"))
    gps_cells = gps_cells.withColumn("_ck", packed_key)
    tl_packed = (
        tripline_cell_index(triplines).withColumn("_ck", packed_key).drop("tile_x", "tile_y")
    )
    j = gps_cells.join(tl_packed, "_ck", "inner")

    # J2 refine — LineSegment.intersectionDistance (LineSegment.java:17-43)
    rx, ry = F.col("lon") - F.col("p_lon"), F.col("lat") - F.col("p_lat")
    sx, sy = F.col("lon1") - F.col("lon0"), F.col("lat1") - F.col("lat0")
    rxs = _cross(rx, ry, sx, sy)
    ax, ay = F.col("lon0") - F.col("p_lon"), F.col("lat0") - F.col("p_lat")
    t_gps = _cross(ax, ay, sx / rxs, sy / rxs)
    # tripline-side parameter (GPSSegment.getCrossing runs both directions)
    sxr = _cross(sx, sy, rx, ry)
    bx, by = F.col("p_lon") - F.col("lon0"), F.col("p_lat") - F.col("lat0")
    t_tl = _cross(bx, by, rx / sxr, ry / sxr)

    refined = (
        j.withColumn("t_gps", t_gps)
        .withColumn("t_tl", t_tl)
        .filter(
            (rxs != 0)
            & F.col("t_gps").between(0.0, 1.0)
            & F.col("t_tl").between(0.0, 1.0)
        )
        .withColumn(
            "time",
            ((F.col("ts") - F.col("p_ts")).cast("double") * F.col("t_gps")
             + F.col("p_ts").cast("double")).cast("long"),  # (long) truncation
        )
    )
    return refined.select(
        "trace_id", "seq", "time", "segment_id", "tripline_index",
        "tripline_id", F.col("dist_m").alias("dist"), "tile_x", "tile_y",
    )


# ---------------------------------------------------------------------------
# stage 4 — J3/J4 per-trace state machine (the only Python in the pipeline)
# ---------------------------------------------------------------------------

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.LongType(), False),
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("time", T.LongType(), False),
        T.StructField("speed", T.DoubleType(), False),
        T.StructField("source", T.StringType(), False),
        # the completing (exit) crossing time of the event that emitted this
        # row — the map-exit timestamp OffMapTrace gap windows start from
        T.StructField("end_time", T.LongType(), False),
    ]
)


# the J3 kernel's output, batch and streaming alike: one row per emitted
# crossing sample, carrying the previous emission (prev_seg, prev_time;
# -1/0 before the trace's first) for the declarative J4 pass
CROSS_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.LongType(), False),
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("time", T.LongType(), False),
        T.StructField("speed", T.DoubleType(), False),
        T.StructField("end_time", T.LongType(), False),
        T.StructField("prev_seg", T.LongType(), False),
        T.StructField("prev_time", T.LongType(), False),
    ]
)


# Per-worker memo of the pending tie-break's tripline id: the id is the md5
# of (segment_id, index) — how plans/network.py builds it — so the kernel
# recomputes it instead of shipping it, and a worker sees each tripline of
# the segments its traces cross many times.
_tripline_id = functools.lru_cache(maxsize=1 << 16)(tripline_id_py)


def pair_crossings(times, segs, idxs, dists, state, out):
    """J3 — Vehicle's pending-crossing state machine (Vehicle.java:139-170)
    over consecutive crossings of ONE trace, in scan order: the parallel
    sequences ``times``/``segs``/``idxs``/``dists`` are each crossing's
    time, segment_id, tripline_index and dist.

    ``state`` is ``(pending, last_seg, last_time)``: pending crossings as
    (time, tripline_id, segment_id, index, dist) tuples, and the segment
    and sample time of the trace's last emitted sample (-1 and 0 before
    the first).  A trace starts from ``([], -1, 0)``.  Every sample appends
    (segment_id, time, speed, end_time, prev_seg, prev_time) to the six
    lists of ``out``.  Returns the state after the last crossing: feeding
    a trace in consecutive pieces, state carried, emits exactly what
    feeding it whole does — the batch kernel relies on that at Arrow-batch
    boundaries and the streaming kernel at micro-batch boundaries.

    Called once per run of rows, never per row (the loop is the cost)."""
    pending, last_seg, last_time = state
    pending = list(pending)
    o_seg, o_time, o_speed, o_end, o_pseg, o_ptime = out
    for c_time, c_seg, c_idx, c_dist in zip(times, segs, idxs, dists):
        last_crossing = None
        if pending:
            it = pending if len(pending) == 1 else sorted(pending)
            for pc in it:
                if pc[2] == c_seg and pc[3] <= c_idx and abs(pc[3] - c_idx) == 1:
                    last_crossing = pc
                    pending = []
                    break
        if c_idx == 1:
            pending.append((c_time, _tripline_id(c_seg, c_idx), c_seg, c_idx, c_dist))
        if last_crossing is None:
            continue
        dt_s = (c_time - last_crossing[0]) // 1000
        if dt_s == 0:
            continue
        speed = abs(c_dist - last_crossing[4]) / dt_s
        if speed > MAX_SPEED:
            continue
        o_seg.append(c_seg); o_time.append(last_crossing[0]); o_speed.append(speed)
        o_end.append(c_time); o_pseg.append(last_seg); o_ptime.append(last_time)
        last_seg = c_seg
        last_time = last_crossing[0]
    return pending, last_seg, last_time


def speed_samples(
    spark: SparkSession,
    crossings: DataFrame,
    segments: DataFrame,
    jumpers: DataFrame,
) -> DataFrame:
    """J3/J4: crossings → SAMPLE_SCHEMA speed samples, with NO
    O(network) data collected to the driver.

    Partition-streaming kernel: repartition by trace_id +
    sortWithinPartitions, then ONE mapInPandas pass that cuts each Arrow
    batch into per-trace runs and hands each run to `pair_crossings`,
    carrying the current trace's state across batch boundaries — batch
    size does not affect results.  Semantically a per-trace applyInPandas,
    without the per-group pandas-frame overhead (traces are small —
    grouped-map was ~20× slower at 64k traces).  The Arrow payload is the
    five columns the state machine reads; the tie-break's tripline id is
    recomputed per worker (`_tripline_id`), not shipped.

    J4 (jumper gap-fill) leaves Python entirely: a jumper sample is a pure
    function of CONSECUTIVE emitted crossing samples of one trace, and the
    kernel already tracks the previous emission — it ships it as two extra
    columns (prev_seg, prev_time) on the ~|samples| output rows, and ONE
    downstream pass (`_jumper_samples_declarative`: two segment-dim
    equi-joins + broadcast jumper left join + a combined struct-array
    explode) births the crossing and jumper rows together — no self-union,
    no window, the pipeline executes once.  The segment endpoint nodes
    therefore join onto the ~|samples| rows instead of riding every
    crossing through the Arrow pipe (measured ~17% slower per 2-core
    executor with 7 columns × |crossings|)."""
    # explicit partition count: AQE would coalesce by byte size and starve
    # the Python stage of parallelism
    n_part = spark.sparkContext.defaultParallelism * 4
    arranged = (
        crossings.select(
            "trace_id", "seq", "time", "tile_x", "tile_y", "tripline_id",
            "segment_id", "tripline_index", "dist",
        )
        .repartition(n_part, "trace_id")
        .sortWithinPartitions("trace_id", "seq", "time", "tile_x", "tile_y", "tripline_id")
        # ordering established — project the sort keys away so they never
        # cross the Arrow boundary
        .select("trace_id", "time", "segment_id", "tripline_index", "dist")
    )
    names = [f.name for f in CROSS_SAMPLE_SCHEMA.fields]

    def run(batches):
        trace, state = None, None
        out_trace: list[int] = []
        out: tuple[list, ...] = ([], [], [], [], [], [])
        out_seg = out[0]
        for pdf in batches:
            tr = pdf["trace_id"].to_numpy()
            if not len(tr):
                continue
            # tolist(): one C pass to native python scalars — per-element
            # numpy→int conversion in the loop is ~3× slower
            tm, sg, ix, ds = (pdf[c].to_numpy().tolist()
                              for c in ("time", "segment_id", "tripline_index", "dist"))
            starts = [0, *(np.flatnonzero(tr[1:] != tr[:-1]) + 1).tolist()]
            for t, lo, hi in zip(tr[starts].tolist(), starts, [*starts[1:], len(tr)]):
                if t != trace:
                    trace, state = t, ([], -1, 0)
                n = len(out_seg)
                state = pair_crossings(tm[lo:hi], sg[lo:hi], ix[lo:hi], ds[lo:hi], state, out)
                out_trace += [t] * (len(out_seg) - n)
            if len(out_trace) >= 65536:
                yield pd.DataFrame(dict(zip(names, (out_trace, *out))))
                out_trace, out = [], ([], [], [], [], [], [])
                out_seg = out[0]
        if out_trace:
            yield pd.DataFrame(dict(zip(names, (out_trace, *out))))

    cross_samples = arranged.mapInPandas(run, schema=CROSS_SAMPLE_SCHEMA)
    return _jumper_samples_declarative(cross_samples, segments, jumpers)


def _jumper_samples_declarative(
    cross_samples: DataFrame, segments: DataFrame, jumpers: DataFrame
) -> DataFrame:
    """J4 as DataFrame algebra (Jumper.getSpeedSamples, Jumper.java:46-57 +
    Vehicle.java:250-275): for consecutive emitted crossing samples A→B of
    a trace — the kernel ships A as (prev_seg, prev_time) on B's row —
    whose segments are not node-adjacent but jumper-bridged, emit one
    sample per jumper member segment at B's sample time with the
    floor-second gap speed (dtj == 0 ⇒ +inf, the reference's double
    division).  The crossing row and its jumper rows are born from ONE
    combined struct-array explode, so ``cross_samples`` (and the whole
    pipeline above it) executes exactly once — no self-union, no window.
    Returns SAMPLE_SCHEMA rows."""
    seg_a = segments.select(
        F.col("segment_id").alias("prev_seg"), F.col("end_node_id").alias("a_end")
    )
    seg_b = segments.select("segment_id", F.col("start_node_id").alias("b_start"))
    jump_dim = jumpers.select(
        F.col("start_node_id").alias("a_end"), F.col("end_node_id").alias("b_start"),
        "length_m", "segment_ids",
    )
    # The segment-dim joins are Spark's to size (the segment table's
    # statistics against the session's broadcast threshold).  The jumper
    # dim IS bounded (short-segment sliver) — broadcast it unconditionally.
    enriched = (
        cross_samples.join(seg_a, "prev_seg", "left")  # null on first sample
        .join(seg_b, "segment_id", "inner")  # segment exists by construction
        .join(F.broadcast(jump_dim), ["a_end", "b_start"], "left")
    )
    # FLOOR division (Python // semantics, matching the oracle exactly,
    # negative gaps included); exact for |diff| < 2^53 ms
    dtj_s = F.floor((F.col("time") - F.col("prev_time")) / F.lit(1000.0)).cast("long")
    jspeed = F.when(dtj_s == 0, F.lit(float("inf"))).otherwise(
        (F.col("length_m") + F.lit(MIN_SEGMENT_LEN * 2)) / dtj_s
    )
    sample_struct = lambda seg, spd, src: F.struct(  # noqa: E731
        seg.alias("segment_id"), F.col("time").alias("time"), spd.alias("speed"),
        F.lit(src).alias("source"), F.col("end_time").alias("end_time"),
    )
    bridged = (
        (F.col("prev_seg") >= 0)
        & (F.col("a_end") != F.col("b_start"))
        & F.col("segment_ids").isNotNull()
    )
    jumper_structs = F.when(
        bridged,
        F.transform(F.col("segment_ids"), lambda sid: sample_struct(sid, jspeed, "jumper")),
    ).otherwise(F.array().cast(
        "array<struct<segment_id:bigint,time:bigint,speed:double,source:string,end_time:bigint>>"
    ))
    rows = F.concat(
        jumper_structs,
        F.array(sample_struct(F.col("segment_id"), F.col("speed"), "crossing")),
    )
    return enriched.select("trace_id", F.explode(rows).alias("s")).select(
        "trace_id", "s.segment_id", "s.time", "s.speed", "s.source", "s.end_time"
    )


# ---------------------------------------------------------------------------
# OffMapTrace — polylines between map exit and map re-entry
# ---------------------------------------------------------------------------


def offmap_traces(
    samples: DataFrame,
    segments: DataFrame,
    jumpers: DataFrame,
    fixes: DataFrame,
) -> DataFrame:
    """OffMapTrace (geom/OffMapTrace.java:6-21, store osm/OSMDataStore.java:
    116,156-158, query API TrafficEngine.java:103-104): the GPS polyline a
    vehicle drew between leaving the mapped network and re-entering it,
    keyed (startId, endId) = the segment exited / entered, trace key
    "tr_{startId}_{endId}" (OffMapTrace.getTraceId).

    The reference ships the store + envelope query but never wires a
    producer (no `new OffMapTrace` outside the serializer), so the gap
    *rule* is defined here and mirrored exactly by the oracle
    (pyoracle.offmap_traces): consecutive crossing samples of one trace —
    ordered by (time, end_time, segment_id), the same order the kernel's
    last_segment tracking follows — whose segments are not node-adjacent
    and not bridged by a jumper (a jumper bridge is ON-map: J4 already
    emits its samples).  The window is [end_time(A), time(B)]: A's exit
    crossing to B's entry crossing.

    Plan shape (all declarative, scales like the pipeline itself): window
    lag over the samples → two equi-joins against the segment dim for the
    endpoint nodes → broadcast anti-join against jumpers → per-trace range
    join back to fixes → sort_array(collect_list) for the polyline.

    On the stream it stays this batch view over the silver sample table: a
    gap needs both bounding crossings plus every fix between them, so an
    append-only operator could close it only by buffering every trace's
    fixes in state (the reference, too, stores OffMapTrace and serves it by
    query).  Batch == stream: test_streaming_offmap_matches_batch."""
    cr = samples.filter(F.col("source") == "crossing")
    w = Window.partitionBy("trace_id").orderBy("time", "end_time", "segment_id")
    trans = (
        cr.select(
            "trace_id", "segment_id", "time", "end_time",
            F.lag("segment_id").over(w).alias("start_id"),
            F.lag("end_time").over(w).alias("t0"),
        )
        .filter(F.col("start_id").isNotNull())
    )
    seg_a = segments.select(
        F.col("segment_id").alias("start_id"), F.col("end_node_id").alias("a_end")
    )
    seg_b = segments.select("segment_id", F.col("start_node_id").alias("b_start"))
    jump_dim = jumpers.select(
        F.col("start_node_id").alias("a_end"), F.col("end_node_id").alias("b_start")
    )
    gaps = (
        trans.join(seg_a, "start_id")
        .join(seg_b, "segment_id")
        .filter(F.col("a_end") != F.col("b_start"))
        .join(F.broadcast(jump_dim), ["a_end", "b_start"], "left_anti")
        .select(
            "trace_id",
            "start_id",
            F.col("segment_id").alias("end_id"),
            "t0",
            F.col("time").alias("t1"),
        )
    )
    pts = (
        fixes.select("trace_id", "ts", "lon", "lat")
        .join(gaps, "trace_id")
        .filter(F.col("ts").between(F.col("t0"), F.col("t1")))
        .groupBy("trace_id", "start_id", "end_id", "t0", "t1")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "lon", "lat"))).alias("pts"))
    )
    out = gaps.join(pts, ["trace_id", "start_id", "end_id", "t0", "t1"], "left")
    from ..functions.ids import det_id_col

    trace_key = F.concat(
        F.lit("tr_"), F.col("start_id").cast("string"), F.lit("_"),
        F.col("end_id").cast("string"),
    )
    empty = F.array().cast("array<double>")
    return out.select(
        det_id_col(
            F.concat(trace_key, F.lit(":"), F.col("trace_id").cast("string"),
                     F.lit(":"), F.col("t0").cast("string"))
        ).alias("offmap_id"),
        trace_key.alias("trace_key"),
        "trace_id", "start_id", "end_id", "t0", "t1",
        F.coalesce(F.col("pts.lon"), empty).alias("lons"),
        F.coalesce(F.col("pts.lat"), empty).alias("lats"),
    )


# ---------------------------------------------------------------------------
# W3 — k-anonymity / skew gate (optional, cell-level)
# ---------------------------------------------------------------------------


def anonymity_gate(
    fixes: DataFrame, min_vehicles: int = MINIMUM_VEHICLE_COUNT, zoom: int = Z_AREA
) -> DataFrame:
    """Drop fixes in z11 tiles observed by < min_vehicles distinct traces
    (VehicleStates.java:19,188-227).  A cross-key aggregate ⇒ a join
    against a groupBy(count distinct) dim, not per-key state.  The
    streaming twin is the per-tile release gate
    (streaming/match_stream.gate_fixes_stream)."""
    with_tile = fixes.withColumn("ax", tile_x_col(F.col("lon"), zoom)).withColumn(
        "ay", tile_y_col(F.col("lat"), zoom)
    )
    counts = (
        with_tile.groupBy("ax", "ay")
        .agg(F.countDistinct("trace_id").alias("n_traces"))  # exact: the
        # gate must be deterministic across runs/partitionings (north rule);
        # tile cardinality is low so exact distinct is cheap
        .filter(F.col("n_traces") >= min_vehicles)
    )
    return with_tile.join(F.broadcast(counts.select("ax", "ay")), ["ax", "ay"], "left_semi").drop("ax", "ay")


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    triplines: DataFrame,
    segments: DataFrame,
    jumpers: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    tz_polygons_pd: pd.DataFrame | None = None,
    tz_offsets_ms: dict[int, int] | None = None,
):
    """images → (crossings, samples).  The one lazy plan of SURVEY §3.1.

    Pass ``tz_polygons_pd`` + ``tz_offsets_ms`` to enable C13 localtime
    conversion (per-z11-area offsets); omitted = UTC input (offset 0)."""
    fixes = decode_fixes(images)
    if tz_polygons_pd is not None and cfg.convert_to_localtime:
        dim = area_zone_offsets(fixes, tz_polygons_pd, tz_offsets_ms or {})
        fixes = apply_zone_offsets(fixes, dim, cfg)
    if cfg.apply_anonymity_gate:
        fixes = anonymity_gate(fixes)
    pairs = pair_fixes(fixes, cfg)
    crossings = find_crossings(pairs, triplines)
    # NOTE: crossings already inherit the pairing window's hash(trace_id)
    # partitioning through the narrow join chain, so speed_samples could
    # skip its repartition — but that measured SLOWER (93s vs 68s at 8
    # cores / 53M rows): the explicit kernel exchange decouples the fat
    # explode+join stage from the Python stage and rebalances the per-trace
    # crossing skew across 4× finer tasks.  Keep the 3-exchange shape.
    samples = speed_samples(spark, crossings, segments, jumpers)
    return crossings, samples
