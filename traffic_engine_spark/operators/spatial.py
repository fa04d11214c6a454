"""Spatial operators beyond the match pipeline: broadcast kNN join and
point-in-polygon assignment (the north star's candidate/refine shapes).

kNN join = the generalisation of the reference's tile-grid candidate
generation (J1): candidates by cell ring, exact distance refine, window
rank.  PIP = the reference's timezone lookup (J7, TimeConverter.java:141-170)
recast: broadcast polygons, vectorised winding-number test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cells import grid_disk_offsets, pack_xy, tile_x_col, tile_y_col


def equirect_dist2(lat_a, lon_a, lat_b, lon_b):
    """Squared equirectangular degree distance — monotone in true distance
    at city scale; cheap enough to stay in codegen for ranking."""
    dlat = lat_a - lat_b
    dlon = lon_a - lon_b
    return dlat * dlat + dlon * dlon


def _dedupe_positions(
    points: DataFrame, point_id: str
) -> tuple[DataFrame, DataFrame]:
    """(rep, mapping): one representative row per DISTINCT (lat, lon) —
    the min-id, so results are deterministic — plus the (lat, lon,
    point_id) mapping to fan results back out.  Distance, rank and
    tie-breaks per point are pure functions of the point's POSITION (the
    tie-break is on the *station* id), so kNN only ever needs to run per
    distinct position.  On all-unique positions this degrades to two extra
    cheap aggregations; on repetitive real-world data (grid-snapped GPS,
    the bench tables' 7000-position cycle) it collapses the quadratic
    candidate volume by orders of magnitude (guide §8: decide on small
    rows, attach the decision back)."""
    rep = points.groupBy("lat", "lon").agg(F.min(point_id).alias(point_id))
    return rep, points.select(point_id, "lat", "lon")


def _prune_stations_topk(
    stations: DataFrame, k: int, station_id: str
) -> DataFrame:
    """Keep only the k smallest station ids per distinct station POSITION:
    any global top-k by (dist2, station_id) can only contain the k
    smallest ids of a given position (all rows of one position have equal
    dist2 from every probe, so a larger id is always outranked by a
    smaller one of the same position) — a provable superset of every
    per-probe top-k.  Caps candidate volume per position at k."""
    w = Window.partitionBy("lat", "lon").orderBy(station_id)
    return (
        stations.withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= k)
        .drop("_srn")
    )


def knn_join_broadcast(
    points: DataFrame,
    stations: DataFrame,
    k: int = 3,
    point_id: str = "point_id",
    station_id: str = "station_id",
) -> DataFrame:
    """Exact kNN against a small broadcast station set: no shuffle of the
    big side, per-point window rank.  Returns (point_id, rank, station_id,
    dist2).  For large station sets switch to `knn_join_cells`.

    r6: both sides are collapsed to DISTINCT positions first (stations
    additionally pruned to the k smallest ids per position — a provable
    top-k superset, see `_prune_stations_topk`), the k-NN cross runs on
    position representatives only, and the result fans back out with one
    equi-join on (lat, lon).  Output-identical at any data distribution;
    at sf1.0 this turns a 5·10⁸-pair cross into a 2.5·10⁴-pair one."""
    rep, mapping = _dedupe_positions(points, point_id)
    s = _prune_stations_topk(
        stations.select(
            F.col(station_id), F.col("lat"), F.col("lon")
        ),
        k,
        station_id,
    ).select(
        F.col(station_id), F.col("lat").alias("s_lat"), F.col("lon").alias("s_lon")
    )
    scored = rep.join(F.broadcast(s)).withColumn(
        "dist2",
        equirect_dist2(F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")),
    )
    w = Window.partitionBy(point_id).orderBy(F.col("dist2"), F.col(station_id))
    per_pos = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lat", "lon", "rank", station_id, F.round("dist2", 12).alias("dist2"))
    )
    return mapping.join(per_pos, ["lat", "lon"]).select(
        point_id, "rank", station_id, "dist2"
    )


def knn_join_cells(
    points: DataFrame,
    stations: DataFrame,
    zoom: int = 14,
    ring: int = 1,
    k: int = 3,
    point_id: str = "point_id",
    station_id: str = "station_id",
    max_ring: int = 64,
) -> DataFrame:
    """Scale path for kNN: candidates via cell-ring equi-join, exact refine
    + rank, and guaranteed-radius escalation so the result is EXACT at any
    point/station density, not just when the initial ring happens to cover
    the k-th neighbour:

    1. Ring join at ``ring`` with the grid_disk explode on the *station*
       side (the small side carries the (2r+1)^2 replication).
    2. A point is *proven done* when it has k candidates and its k-th
       distance is strictly inside the radius the ring guarantees covered:
       any station outside a Chebyshev-r tile disk is > r*min(tile_w,
       tile_h) degrees away (tile_h under-estimated via the Mercator
       cos(lat) row-height bound, so the test is conservative).
    3. The residual (typically a sliver: sparse neighbourhoods, points near
       their k-th neighbour's ring edge) re-runs with ring*4, now exploding
       the *point* side — the residual is the small side.  Above
       ``max_ring`` the residual falls back to a brute refine against the
       full station set (Spark broadcasts the residual when it fits).

    The call is EAGER: the escalation loop runs Spark jobs
    (localCheckpoint + isEmpty per round) at call time.

    r6: like `knn_join_broadcast`, both sides collapse to DISTINCT
    positions before any candidate generation (stations pruned to the k
    smallest ids per position — `_prune_stations_topk` proves the top-k
    superset; the ring/escalation bookkeeping is position-wise identical
    because per-probe candidate top-k, count and k-th distance are
    unchanged under the pruning), and the per-position result fans back
    out with one (lat, lon) equi-join at the end.  Output-identical;
    kills the density² candidate growth on repetitive positions.
    """
    rep, mapping = _dedupe_positions(points, point_id)
    points = rep
    stations = _prune_stations_topk(
        stations.select(F.col(station_id), F.col("lat"), F.col("lon")), k, station_id
    )
    tile_w = 360.0 / (1 << zoom)
    s_base = stations.select(
        F.col(station_id),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        tile_x_col(F.col("lon"), zoom).alias("scx"),
        tile_y_col(F.col("lat"), zoom).alias("scy"),
    )

    def _offsets(r: int):
        if r <= 8:  # (2r+1)^2 <= 289 literals: codegen-friendly
            return F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in grid_disk_offsets(r)
                ]
            )
        # escalated rings: a literal array would hold (2r+1)^2 struct
        # literals (16k expression nodes at r=64, past the size at which
        # Spark falls back from generated code); generate the disk with
        # sequence/transform instead
        return F.expr(
            f"flatten(transform(sequence({-r}, {r}), "
            f"dx -> transform(sequence({-r}, {r}), "
            f"dy -> struct(dx AS dx, dy AS dy))))"
        )

    out_cols = [point_id, "rank", station_id, F.round("dist2", 12).alias("dist2")]
    # single packed long join key (functions/cells.pack_xy) — 2× over a
    # two-field key at volume
    pack = pack_xy(F.col("cx"), F.col("cy"))
    w = Window.partitionBy(point_id).orderBy(F.col("dist2"), F.col(station_id))

    def _topk(pts: DataFrame, r: int, explode_points: bool) -> DataFrame:
        if explode_points:
            p = (
                pts.withColumn("o", F.explode(_offsets(r)))
                .select(
                    point_id,
                    "lat",
                    "lon",
                    (tile_x_col(F.col("lon"), zoom) + F.col("o.dx")).alias("cx"),
                    (tile_y_col(F.col("lat"), zoom) + F.col("o.dy")).alias("cy"),
                )
            )
            s = s_base.select(
                station_id, "s_lat", "s_lon",
                F.col("scx").alias("cx"), F.col("scy").alias("cy"),
            )
        else:
            p = pts.select(
                point_id,
                "lat",
                "lon",
                tile_x_col(F.col("lon"), zoom).alias("cx"),
                tile_y_col(F.col("lat"), zoom).alias("cy"),
            )
            s = s_base.withColumn("o", F.explode(_offsets(r))).select(
                station_id,
                "s_lat",
                "s_lon",
                (F.col("scx") + F.col("o.dx")).alias("cx"),
                (F.col("scy") + F.col("o.dy")).alias("cy"),
            )
        scored = (
            p.withColumn("_ck", pack)
            .drop("cx", "cy")
            .join(s.withColumn("_ck", pack).drop("cx", "cy"), "_ck")
            .withColumn(
                "dist2",
                equirect_dist2(F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")),
            )
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(point_id, "lat", "lon", "rank", station_id, "dist2")
        )

    def _fan_out(res: DataFrame) -> DataFrame:
        """Representative-id results → one row per ORIGINAL point via the
        (lat, lon) mapping (one equi-join; AQE broadcasts the small
        per-position result when it fits)."""
        fan = mapping.join(
            rep.withColumnRenamed(point_id, "_rep"), ["lat", "lon"]
        ).select(point_id, "_rep")
        return fan.join(res.withColumnRenamed(point_id, "_rep"), "_rep").select(
            point_id, "rank", station_id, "dist2"
        )

    remaining = points.select(point_id, "lat", "lon")
    out: DataFrame | None = None
    r, first = ring, True
    while True:
        if r > max_ring:
            # brute residual against the full station scan.  No ring can
            # be trusted here (k-th neighbour arbitrarily far / fewer than
            # k stations).  `remaining` is *usually* a sliver, but when
            # there are fewer than k stations overall (or a huge sparse
            # region) it can be the whole points table — so the cross
            # join carries no hint: Spark broadcasts the residual while
            # its estimate fits the session threshold, and above it runs
            # a partitioned cartesian product (no driver-side
            # materialisation).
            scored = (
                s_base.join(remaining)
                .withColumn(
                    "dist2",
                    equirect_dist2(
                        F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
                    ),
                )
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(*out_cols)
            )
            out = scored if out is None else out.unionByName(scored)
            break
        cand = _topk(remaining, r, explode_points=not first)
        # conservative guaranteed-covered radius for Chebyshev ring r:
        # lon axis = r*tile_w exactly; lat axis under-estimated via the
        # Mercator row-height bound at the window's worst latitude
        h_bound = F.lit(tile_w) * F.cos(
            F.radians(F.least(F.lit(89.9), F.abs(F.col("lat")) + F.lit((r + 1) * tile_w)))
        )
        guarantee = (F.lit(float(r)) * F.least(F.lit(tile_w), h_bound)) ** 2
        wp = Window.partitionBy(point_id)
        cand = (
            cand.withColumn("_n", F.max("rank").over(wp))
            .withColumn("_kd", F.max("dist2").over(wp))
            .withColumn("_ok", (F.col("_n") == k) & (F.col("_kd") < guarantee))
            .localCheckpoint(eager=False)  # ≤ k rows/point; reused for
            # sat + residual.  Not lazy under AQE: the call runs its
            # input's shuffle-map stages at once, and the rows are then
            # materialised by the isEmpty action below
        )
        sat = cand.filter(F.col("_ok")).select(*out_cols)
        out = sat if out is None else out.unionByName(sat)
        remaining = remaining.join(
            cand.filter(F.col("_ok")).select(point_id).distinct(),
            point_id,
            "left_anti",
        ).localCheckpoint(eager=False)
        if remaining.isEmpty():
            break
        r, first = r * 4, False
    return _fan_out(out)


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------


def pip_assign_convex(points: DataFrame, polygons: list[dict]) -> DataFrame:
    """PIP against a literal list of *convex* polygons via half-plane tests
    — pure column expressions (codegen).  polygons: [{"poly_id": int,
    "coords": [(lon, lat), ...] CCW}].  First matching polygon wins
    (ordered by poly_id); unmatched rows get poly_id = -1."""
    assign = F.lit(-1)
    for poly in sorted(polygons, key=lambda p: p["poly_id"], reverse=True):
        coords = poly["coords"]
        inside = F.lit(True)
        for (x1, y1), (x2, y2) in zip(coords, coords[1:] + coords[:1]):
            cross = (F.lit(x2 - x1) * (F.col("lat") - F.lit(y1))
                     - F.lit(y2 - y1) * (F.col("lon") - F.lit(x1)))
            inside = inside & (cross >= 0)
        assign = F.when(inside, F.lit(poly["poly_id"])).otherwise(assign)
    return points.withColumn("poly_id", assign)


def filter_inhabited_tz(polygons_pd: pd.DataFrame, tzid_col: str = "tzid") -> pd.DataFrame:
    """F12 (TimeConverter.java:100-102): the reference skips timezone
    shapes whose TZID is the literal "uninhabited" before indexing them —
    an uninhabited zone must never capture a point (the point falls
    through to offset 0).  Driver-side pandas filter on the (bounded)
    polygon dim; tables without a tzid column pass through unchanged."""
    if tzid_col not in polygons_pd.columns:
        return polygons_pd
    return polygons_pd[polygons_pd[tzid_col] != "uninhabited"].reset_index(drop=True)


def pip_assign_winding(
    points: DataFrame, polygons_pd: pd.DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """General PIP (arbitrary simple polygons) — broadcast polygon table +
    vectorised even-odd ray casting in an Arrow-batched pandas UDF.  This
    is the J7 tz-lookup shape (TimeConverter.java:141-170): broadcast the
    polygon dim, test per batch, first match wins.

    polygons_pd columns: poly_id, lons (list), lats (list)."""
    polys = [
        (int(r.poly_id), np.asarray(r.lons, dtype=np.float64), np.asarray(r.lats, dtype=np.float64))
        for r in polygons_pd.itertuples()
    ]

    out_schema = T.StructType(
        points.schema.fields + [T.StructField("poly_id", T.IntegerType(), False)]
    )

    from ..functions.pip import assign_polys_np

    def run(batches):
        for pdf in batches:
            px = pdf[lon_col].to_numpy(dtype=np.float64)
            py = pdf[lat_col].to_numpy(dtype=np.float64)
            pdf = pdf.copy()
            pdf["poly_id"] = assign_polys_np(px, py, polys)
            yield pdf

    return points.mapInPandas(run, schema=out_schema)


def geofence_transitions(
    points: DataFrame,
    zone_col: str = "poly_id",
    id_col: str = "trace_id",
    ts_col: str = "ts_ms",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak: str | None = None,
    include_first: bool = True,
) -> DataFrame:
    """Geofence ENTER/EXIT event extraction: one lag() per trace over an
    already-zoned point stream (compose with pip_assign_convex /
    pip_assign_winding — the zoning strategy stays orthogonal).

    Emits one row per zone CHANGE: (trace, ts, from_zone, to_zone, kind,
    lat, lon) where kind is 'start' (first observation, from_zone NULL,
    kept unless include_first=False), 'enter' (outside -> zone), 'exit'
    (zone -> outside), or 'switch' (zone -> different zone); -1 is the
    outside-every-fence sentinel pip_assign_* produce.

    Scale shape: ONE exchange (the per-trace sort any sequential signal
    needs), one in-partition sort, pure codegen comparisons — the same
    shape as detect_stops, and at 10^12 points the transition stream is
    typically 2-4 orders of magnitude smaller than the input, so this is
    the cheap front half of any downstream dwell/billing/alert pipeline."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(id_col).orderBy(*order)
    zone = F.col(zone_col)
    prev = F.lag(zone_col).over(w)
    out_zone = F.lit(-1)
    kind = (
        F.when(prev.isNull(), F.lit("start"))
        .when((prev == out_zone) & (zone != out_zone), F.lit("enter"))
        .when((prev != out_zone) & (zone == out_zone), F.lit("exit"))
        .otherwise(F.lit("switch"))
    )
    t = (
        points.withColumn("_from", prev)
        .filter(F.col("_from").isNull() | (F.col("_from") != zone))
        .withColumn("kind", kind)
    )
    if not include_first:
        t = t.filter(F.col("_from").isNotNull())
    return t.select(
        F.col(id_col).alias("trace_id"),
        F.col(ts_col).alias("ts_ms"),
        F.col("_from").alias("from_zone"),
        zone.alias("to_zone"),
        "kind",
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
    )
