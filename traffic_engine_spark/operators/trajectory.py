"""Trajectory (GPS-trace) near-duplicate detection.

A planet-scale corpus of geotagged traces is full of near-identical
trips: the same commute recorded daily, re-uploaded rides, replayed GPS
logs with jitter.  Deduping them at TRACE granularity is the trajectory
twin of the document near-dup family (operators/dedup.py):

  1. candidate generation — each trace's signature is the SET of slippy
     cells it visits (functions/cells.py, the engine's one spatial index);
     an inverted cell index self-joined on cell yields shared-cell counts,
     and set Jaccard >= threshold keeps the plausible pairs.  This is the
     MinHash-LSH shape specialised to trajectories: the cell grid IS the
     shingle space, so no hashing is needed and the candidate stage stays
     a pure JVM join (exactly SQL-expressible -> DuckDB-gated yardstick).
  2. refine — discrete Fréchet distance (functions/trajectory.py) on the
     candidate pairs only, one vectorised Arrow batch pass; pairs within
     ``max_frechet_m`` are confirmed near-duplicates.

Scale shape: the inverted index shuffles once on cell; cells visited by
more than ``max_traces_per_cell`` traces are dropped from the index
(non-discriminative evidence — the standard LSH hot-bucket guard; at a
downtown intersection cell EVERY trace overlaps, and k traces in one
cell would emit k² candidate rows).  Jaccard uses the FULL signature
sizes, so capping can only under-count shared cells — candidates are
conservatively missed, never wrongly admitted.  The refine joins each
pair to two bounded per-trace coordinate arrays (the per-vehicle state
assumption the reference's matcher also makes, Vehicle.java:105) and
computes Fréchet inside mapInPandas — no further exchange after the two
equi-joins.

Reference tie-in: opentraffic/traffic-engine keeps off-map traces for
later analysis (data/OffMapTrace.java) but ships no trace-similarity
operator; this is the scale tool for deduping that corpus.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import cell_of_col
from ..functions.geodesy import haversine_m_col
from ..functions.trajectory import discrete_frechet_m


def trace_cells(
    points: DataFrame,
    zoom: int = 16,
    id_col: str = "trace_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Distinct (trace, visited cell) signature rows — one narrow
    projection plus a distinct (the one shuffle of the candidate stage)."""
    return points.select(
        F.col(id_col),
        cell_of_col(F.col(lat_col), F.col(lon_col), zoom).alias("cell"),
    ).distinct()


def trace_near_dup_candidates(
    points: DataFrame,
    zoom: int = 16,
    min_jaccard: float = 0.5,
    max_traces_per_cell: int | None = None,
    id_col: str = "trace_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Candidate near-duplicate trace pairs by cell-signature Jaccard.

    Output: (trace_a, trace_b, shared_cells, cells_a, cells_b, jaccard)
    with trace_a < trace_b, jaccard >= min_jaccard.  Exact set semantics
    when ``max_traces_per_cell`` is None; with the hot-cell cap, shared
    counts (and therefore Jaccard) can only decrease — conservative."""
    cells = trace_cells(points, zoom, id_col, lat_col, lon_col)
    sizes = cells.groupBy(id_col).agg(F.count("*").alias("n_cells"))
    idx = cells
    if max_traces_per_cell is not None:
        ok = (
            cells.groupBy("cell")
            .agg(F.count("*").alias("n_traces"))
            .filter(F.col("n_traces") <= max_traces_per_cell)
            .select("cell")
        )
        idx = idx.join(ok, "cell", "left_semi")
    a = idx.select(F.col(id_col).alias("trace_a"), "cell")
    b = idx.select(F.col(id_col).alias("trace_b"), "cell")
    shared = (
        a.join(b, "cell")
        .filter(F.col("trace_a") < F.col("trace_b"))
        .groupBy("trace_a", "trace_b")
        .agg(F.count("*").alias("shared_cells"))
    )
    sa = sizes.select(
        F.col(id_col).alias("trace_a"), F.col("n_cells").alias("cells_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("trace_b"), F.col("n_cells").alias("cells_b")
    )
    return (
        shared.join(sa, "trace_a")
        .join(sb, "trace_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared_cells")
                / (F.col("cells_a") + F.col("cells_b") - F.col("shared_cells")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select(
            "trace_a", "trace_b", "shared_cells", "cells_a", "cells_b", "jaccard"
        )
    )


def _trace_geoms(
    points: DataFrame, id_col: str, ts_col: str, lat_col: str, lon_col: str
) -> DataFrame:
    """Per-trace coordinate arrays in visit order: sort_array over
    collected (ts, seq-tiebreak, lat, lon) structs, then unzipped —
    deterministic for duplicate timestamps (ties break on lat, lon)."""
    pts = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(lat_col).alias("la"),
                F.col(lon_col).alias("lo"),
            )
        )
    )
    return points.groupBy(id_col).agg(
        pts.alias("_pts")
    ).select(
        F.col(id_col),
        F.col("_pts.la").alias("lats"),
        F.col("_pts.lo").alias("lons"),
    )


def trace_frechet_refine(
    points: DataFrame,
    candidates: DataFrame,
    max_frechet_m: float,
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Confirm candidate pairs by discrete Fréchet distance <= threshold.

    Two equi-joins attach both polylines to each pair row, then one
    mapInPandas pass runs the anti-diagonal DP kernel per row — each row
    is self-contained, so there is no further shuffle and the refine
    parallelises to however many candidate partitions exist."""
    geoms = _trace_geoms(points, id_col, ts_col, lat_col, lon_col)
    ga = geoms.select(
        F.col(id_col).alias("trace_a"),
        F.col("lats").alias("lats_a"),
        F.col("lons").alias("lons_a"),
    )
    gb = geoms.select(
        F.col(id_col).alias("trace_b"),
        F.col("lats").alias("lats_b"),
        F.col("lons").alias("lons_b"),
    )
    paired = candidates.join(ga, "trace_a").join(gb, "trace_b")
    keep = [c for c in candidates.columns]
    out_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in candidates.dtypes
    ) + ", frechet_m double"

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dists = np.empty(len(pdf), dtype=np.float64)
            for i in range(len(pdf)):
                dists[i] = discrete_frechet_m(
                    np.asarray(pdf["lons_a"].iloc[i]),
                    np.asarray(pdf["lats_a"].iloc[i]),
                    np.asarray(pdf["lons_b"].iloc[i]),
                    np.asarray(pdf["lats_b"].iloc[i]),
                )
            out = pdf[keep].copy()
            out["frechet_m"] = np.round(dists, 6)
            yield out[out["frechet_m"] <= max_frechet_m]

    return paired.mapInPandas(refine, schema=out_schema)


def trace_near_dup_pairs(
    points: DataFrame,
    zoom: int = 16,
    min_jaccard: float = 0.5,
    max_frechet_m: float = 100.0,
    max_traces_per_cell: int | None = None,
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Full trajectory near-dup: cell-Jaccard candidates -> Fréchet refine."""
    cands = trace_near_dup_candidates(
        points, zoom, min_jaccard, max_traces_per_cell, id_col, lat_col, lon_col
    )
    return trace_frechet_refine(
        points, cands, max_frechet_m, id_col, ts_col, lat_col, lon_col
    )


def detect_stops(
    points: DataFrame,
    max_speed_ms: float = 1.5,
    min_duration_ms: int = 0,
    min_points: int = 2,
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """Stay-point (stop) detection — gaps-and-islands over per-trace links.

    A *stop* is a maximal run of consecutive links whose haversine speed
    is <= ``max_speed_ms`` (the stationary dwell the reference's matcher
    filters OUT per-link, SegmentMatcher's speed sanity — here the dwell
    itself is the product: depot dwell, signal wait, congestion stand).

    Semantics (mirrored literally by the DuckDB oracle):
      * link speed = functions/geodesy.haversine_m_col(prev, cur) /
        (dt/1000), on the 6371008.8 m sphere; a link with dt <= 0
        (duplicate or regressing timestamp) has UNDEFINED speed and never
        extends a stop;
      * a stop's rows are the link ENDPOINTS; its start is the anchor
        point's timestamp (min of the run's lag-ts), so duration covers
        anchor -> last endpoint and n_points counts the anchor too;
      * the centroid is the integer-microdegree mean of the run's
        endpoints (floor(x*1e6+0.5) per row, summed as BIGINT) — the same
        order-independent-exactness trick as pair_speed's total_mm: float
        sums depend on partition order, integer sums do not.

    Scale shape (PLANS.md "detect_stops"): both window passes (lag +
    running sum) share ONE (trace, time) partitioning, so Spark plans a
    single exchange and two in-partition sorts, then one hash aggregate.
    The haversine is a pure JVM column expression inside whole-stage
    codegen — no Python anywhere.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    run = Window.partitionBy(id_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lat, lon, ts = F.col(lat_col), F.col(lon_col), F.col(ts_col)
    p_lat, p_lon, p_ts = F.col("_p_lat"), F.col("_p_lon"), F.col("_p_ts")
    dist_m = haversine_m_col(p_lon, p_lat, lon, lat)
    dt_ms = ts - p_ts
    slow = (
        p_ts.isNotNull()
        & (dt_ms > 0)
        & (dist_m / (dt_ms / F.lit(1000.0)) <= F.lit(float(max_speed_ms)))
    )
    linked = (
        points.withColumn("_p_ts", F.lag(ts_col).over(w))
        .withColumn("_p_lat", F.lag(lat_col).over(w))
        .withColumn("_p_lon", F.lag(lon_col).over(w))
        .withColumn("_slow", slow)
        # island id: running count of non-slow rows — all rows of one slow
        # run share the id of the non-slow row that opened it.
        .withColumn(
            "_island",
            F.sum(F.when(F.col("_slow"), F.lit(0)).otherwise(F.lit(1))).over(run),
        )
    )
    udeg = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    stops = (
        linked.filter(F.col("_slow"))
        .groupBy(F.col(id_col).alias("trace_id"), F.col("_island").alias("island"))
        .agg(
            F.min("_p_ts").alias("start_ms"),
            F.max(ts_col).alias("end_ms"),
            F.count(F.lit(1)).alias("n_links"),
            F.sum(udeg(lat)).alias("_lat_sum"),
            F.sum(udeg(lon)).alias("_lon_sum"),
        )
        .withColumn("duration_ms", F.col("end_ms") - F.col("start_ms"))
        .withColumn("n_points", (F.col("n_links") + 1).cast("long"))
        .withColumn(
            "centroid_lat", F.round(F.col("_lat_sum") / F.col("n_links") / 1e6, 6)
        )
        .withColumn(
            "centroid_lon", F.round(F.col("_lon_sum") / F.col("n_links") / 1e6, 6)
        )
    )
    return stops.filter(
        (F.col("duration_ms") >= F.lit(int(min_duration_ms)))
        & (F.col("n_points") >= F.lit(int(min_points)))
    ).select(
        "trace_id", "island", "start_ms", "end_ms", "duration_ms",
        "n_points", "centroid_lat", "centroid_lon",
    )


def trips_from_stops(stops: DataFrame, zoom: int = 13) -> DataFrame:
    """Trip segmentation: consecutive stops of one trace bound a *trip*
    (depart when the earlier dwell ends, arrive when the next one starts).
    Input is detect_stops() output; one lead() window per trace ordered by
    (start_ms, island) — island ids are unique per trace, so the order is
    total even under duplicate timestamps.

    Output: (trace_id, depart_ms, arrive_ms, travel_ms, o_lat, o_lon,
    d_lat, d_lon, o_cell, d_cell) with the origin/destination cells on the
    slippy grid at ``zoom`` — the engine's one spatial index, computed
    from the 6-dp-rounded stop centroids so cell assignment is
    bit-reproducible across engines."""
    w = Window.partitionBy("trace_id").orderBy("start_ms", "island")
    t = (
        stops.withColumn("_n_start", F.lead("start_ms").over(w))
        .withColumn("_n_lat", F.lead("centroid_lat").over(w))
        .withColumn("_n_lon", F.lead("centroid_lon").over(w))
        .filter(F.col("_n_start").isNotNull())
    )
    return t.select(
        "trace_id",
        F.col("end_ms").alias("depart_ms"),
        F.col("_n_start").alias("arrive_ms"),
        (F.col("_n_start") - F.col("end_ms")).alias("travel_ms"),
        F.col("centroid_lat").alias("o_lat"),
        F.col("centroid_lon").alias("o_lon"),
        F.col("_n_lat").alias("d_lat"),
        F.col("_n_lon").alias("d_lon"),
        cell_of_col(F.col("centroid_lat"), F.col("centroid_lon"), zoom).alias("o_cell"),
        cell_of_col(F.col("_n_lat"), F.col("_n_lon"), zoom).alias("d_cell"),
    )


def od_matrix(trips: DataFrame) -> DataFrame:
    """Origin-destination flow matrix over trips_from_stops() output: one
    hash aggregate on (o_cell, d_cell).  Travel-time stats stay in integer
    milliseconds (sum/min/max of BIGINTs), so every value is summation-
    order independent; the mean is a single exact-integer division rounded
    to 3 dp.  At 100 TB this is scan -> partial agg -> one exchange on the
    OD pair -> final agg: the canonical two-phase aggregation, no skew
    worse than the busiest OD corridor, AQE-coalescible."""
    return (
        trips.groupBy("o_cell", "d_cell")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            F.sum("travel_ms").alias("total_travel_ms"),
            F.min("travel_ms").alias("min_travel_ms"),
            F.max("travel_ms").alias("max_travel_ms"),
        )
        .withColumn(
            "avg_travel_ms",
            F.round(F.col("total_travel_ms") / F.col("n_trips"), 3),
        )
    )


def resample_traces(
    points: DataFrame,
    interval_ms: int,
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """Fixed-interval trace resampling by linear interpolation — the
    standard normalisation before ML over trajectories (uniform time grid,
    gap-free windows) and the batch twin of sensor downsampling.

    For every link (prev, cur) of a trace, emits one row per grid tick
    ``t`` (a multiple of ``interval_ms``) with prev_ts < t <= cur_ts,
    positions interpolated linearly in time:

        lat(t) = prev_lat + (cur_lat - prev_lat) * (t - prev_ts) / dt

    Links with dt <= 0 (duplicate/regressing timestamps) contain no grid
    tick by construction — the open lower bound makes the tick set of
    consecutive links a partition, so no tick is ever emitted twice.

    Scale shape: one lag window (the per-trace exchange+sort), one
    sequence()+explode Generate — fan-out is dt/interval per link, known
    in advance, and NOTHING shuffles after the window: at 100 TB the
    output lands partitioned by trace, ready for windowed feature
    extraction without another exchange.  Pure JVM end-to-end; the
    interpolation arithmetic is identical IEEE double ops in any engine,
    so results are bit-reproducible (DuckDB-gated)."""
    iv = F.lit(int(interval_ms)).cast("long")
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    lagged = (
        points.withColumn("_p_ts", F.lag(ts_col).over(w))
        .withColumn("_p_lat", F.lag(lat_col).over(w))
        .withColumn("_p_lon", F.lag(lon_col).over(w))
        .filter(F.col("_p_ts").isNotNull() & (F.col(ts_col) > F.col("_p_ts")))
    )
    start = (F.col("_p_ts") - F.col("_p_ts") % iv + iv).cast("long")
    ticks = F.when(
        start <= F.col(ts_col), F.sequence(start, F.col(ts_col), iv)
    ).otherwise(F.array().cast("array<long>"))
    frac = (F.col("tick_ms") - F.col("_p_ts")) / (F.col(ts_col) - F.col("_p_ts"))
    return (
        lagged.select(
            F.col(id_col).alias("trace_id"),
            F.col(ts_col),
            "_p_ts", "_p_lat", "_p_lon",
            F.col(lat_col).alias("_lat"),
            F.col(lon_col).alias("_lon"),
            F.explode(ticks).alias("tick_ms"),
        )
        .select(
            "trace_id",
            "tick_ms",
            (F.col("_p_lat") + (F.col("_lat") - F.col("_p_lat")) * frac).alias("lat"),
            (F.col("_p_lon") + (F.col("_lon") - F.col("_p_lon")) * frac).alias("lon"),
        )
    )


def trace_features(
    points: DataFrame,
    zoom: int = 15,
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-trace mobility feature vector — the standard descriptors a
    trajectory-ML pipeline extracts before training (Gonzalez et al.,
    Nature 2008 for radius of gyration; Song et al., Science 2010 for
    visit entropy):

      n_points, span_ms        — size and duration
      total_mm                 — path length, summed in integer mm
      rog_m                    — radius of gyration around the trace
                                 centroid (haversine metric)
      n_cells, cell_entropy    — distinct zoom-``zoom`` cells visited and
                                 the Shannon entropy (bits) of the visit
                                 distribution

    Every float reduction is made summation-order independent by reducing
    in scaled integers (mm for distance, 1e-3 m² for squared deviation,
    1e-9-scaled c*log2(c) terms for entropy via
    H = log2(n) - sum(c*log2 c)/n), so the result is bit-stable under any
    partitioning — and therefore DuckDB-gatable.

    Scale shape: ONE exchange on trace carries everything — the ordered
    lag window, the partition-total centroid windows, the per-(trace,
    cell) count/first-marker windows and the final per-trace aggregate
    all subset-satisfy hash(trace); there is no join at all.  No Python,
    no broadcast, no skew beyond the longest single trace (the same
    per-vehicle bound the reference's matcher assumes)."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    wp = Window.partitionBy(id_col)
    lat, lon, ts = F.col(lat_col), F.col(lon_col), F.col(ts_col)
    udeg = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731

    # cell-visit stats via windows over the SAME trace partitioning —
    # Window's ClusteredDistribution(trace, cell) is subset-satisfied by
    # hash(trace), so they add one in-partition sort and NO exchange.  (A
    # groupBy(trace, cell) branch instead gets column-pruned by Catalyst
    # back to the scan and plans two more shuffles + a join.)
    wc = Window.partitionBy(id_col, "_cell")
    wc_ord = wc.orderBy(*order)
    base = (
        points.withColumn("_cell", cell_of_col(F.col(lat_col), F.col(lon_col), zoom))
        .withColumn("_p_lat", F.lag(lat_col).over(w))
        .withColumn("_p_lon", F.lag(lon_col).over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wp))
        .withColumn("_c_lat", F.sum(udeg(lat)).over(wp) / F.col("_n") / 1e6)
        .withColumn("_c_lon", F.sum(udeg(lon)).over(wp) / F.col("_n") / 1e6)
        .withColumn("_c", F.count(F.lit(1)).over(wc))
        .withColumn("_first_in_cell", F.row_number().over(wc_ord) == 1)
    )
    link_mm = F.when(
        F.col("_p_lat").isNotNull(),
        F.floor(haversine_m_col(F.col("_p_lon"), F.col("_p_lat"), lon, lat) * 1000.0 + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    dev2_mm = F.floor(
        F.pow(haversine_m_col(F.col("_c_lon"), F.col("_c_lat"), lon, lat), 2) * 1000.0 + F.lit(0.5)
    ).cast("long")
    clogc = F.when(
        F.col("_first_in_cell"),
        F.floor(F.col("_c") * F.log2(F.col("_c")) * 1e9 + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    per_trace = base.groupBy(F.col(id_col).alias("trace_id")).agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.max(ts) - F.min(ts)).alias("span_ms"),
        F.sum(link_mm).alias("total_mm"),
        F.sum(dev2_mm).alias("_dev2_sum"),
        F.sum(F.when(F.col("_first_in_cell"), 1).otherwise(0)).cast("long").alias("n_cells"),
        F.sum(clogc).alias("_clogc"),
    )
    return (
        per_trace
        .withColumn(
            "rog_m",
            F.round(F.sqrt(F.col("_dev2_sum") / F.col("n_points") / 1e3), 6),
        )
        .withColumn(
            "cell_entropy",
            F.round(
                F.log2(F.col("n_points")) - F.col("_clogc") / 1e9 / F.col("n_points"),
                6,
            ),
        )
        .select(
            "trace_id", "n_points", "span_ms", "total_mm",
            "rog_m", "n_cells", "cell_entropy",
        )
    )


def colocation_pairs(
    points: DataFrame,
    zoom: int = 16,
    bucket_ms: int = 600_000,
    min_cobuckets: int = 1,
    max_traces_per_bucket: int | None = None,
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Spatiotemporal colocation: pairs of traces observed in the same
    slippy cell within the same time bucket — the contact-join every
    mobility/epidemiology pipeline needs, and the time-aware sibling of
    trace_near_dup_candidates (same inverted-index shape, key extended
    from cell to (cell, bucket)).

    Each trace contributes at most ONE row per (cell, bucket) — repeated
    pings inside a bucket are deduped before the join, so
    ``n_cobuckets`` counts distinct shared (cell, bucket) slots, not ping
    products.  Colocations that straddle a bucket boundary are missed
    (standard fixed-grid approximation; halve ``bucket_ms`` or double-
    count with a shifted second grid if recall matters more than cost).

    Scale shape: distinct -> one self-equi-join on the packed (cell,
    bucket) key -> hash agg.  ``max_traces_per_bucket`` drops slots hotter
    than the cap from the index BEFORE the join (a stadium cell at kickoff
    would otherwise emit k² pair rows); like the near-dup cap it only
    ever under-reports, never wrongly admits."""
    slot = points.select(
        F.col(id_col).alias("_id"),
        cell_of_col(F.col(lat_col), F.col(lon_col), zoom).alias("_cell"),
        (F.col(ts_col) - F.col(ts_col) % F.lit(int(bucket_ms))).alias("_bucket"),
    ).distinct()
    if max_traces_per_bucket is not None:
        ok = (
            slot.groupBy("_cell", "_bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_traces_per_bucket)
            .select("_cell", "_bucket")
        )
        slot = slot.join(ok, ["_cell", "_bucket"], "left_semi")
    a = slot.select(F.col("_id").alias("trace_a"), "_cell", "_bucket")
    b = slot.select(F.col("_id").alias("trace_b"), "_cell", "_bucket")
    return (
        a.join(b, ["_cell", "_bucket"])
        .filter(F.col("trace_a") < F.col("trace_b"))
        .groupBy("trace_a", "trace_b")
        .agg(
            F.count(F.lit(1)).alias("n_cobuckets"),
            F.min("_bucket").alias("first_bucket_ms"),
            F.max("_bucket").alias("last_bucket_ms"),
        )
        .filter(F.col("n_cobuckets") >= F.lit(int(min_cobuckets)))
    )
