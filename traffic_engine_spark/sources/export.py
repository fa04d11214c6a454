"""Export sink (S6 recast): GeoJSON for segment geometries.

The reference's shapefile writer (osm/OSMUtils.java:50-100) becomes a
GeoJSON writer (same information: LineString EPSG:4326 + attributes).
The S5 BaselineTile stats sink is ``sources/pbf.export_baseline_tiles_pbf``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Z_AREA
from ..functions.cells import tile_x_col, tile_y_col


DISPLAY_OFFSET_DEG = -0.000025  # two-way display offset (OSMDataStore.java:132)
# segment tables above this row count are never assembled on the driver
GEOJSON_DRIVER_MAX_ROWS = 4_000_000


def segments_to_geojson(
    segments: DataFrame,
    path: str | None = None,
    offset_display: bool = False,
    simplify_zoom: int | None = None,
) -> str:
    """Street segments → GeoJSON.  At or below ``GEOJSON_DRIVER_MAX_ROWS``
    the FeatureCollection is assembled on the driver (returned, and
    written to `path` if given); above it the driver assembly would be
    an unbounded collect, so the call routes to the distributed per-tile
    JSONL writer (`segments_to_geojson_files`; requires `path`) and
    returns `path`.

    ``offset_display=True`` reproduces the reference's display rendering
    (C10, osm/OSMDataStore.java:130-139): NON-oneway segments draw offset
    by -0.000025° so the two directions render side by side
    (functions/geodesy.offset_curve_np — mitre-join recast of JTS
    OffsetCurveBuilder, display-only).  ``simplify_zoom`` thins the
    geometry to sub-pixel Douglas–Peucker tolerance at that display
    zoom before anything else runs (functions/simplify.py)."""
    from ..functions.geodesy import offset_curve_np

    # gate on the RAW table: simplification preserves row count, and
    # counting after it would execute the thinning kernel twice.
    # limit(cap + 1) stops the scan early: the gate needs one bit, not the
    # count
    cap = GEOJSON_DRIVER_MAX_ROWS
    routed_distributed = segments.limit(cap + 1).count() > cap

    if simplify_zoom is not None and not routed_distributed:
        # thin BEFORE collect/offset: sub-pixel tolerance makes the
        # offset of the simplified line display-identical, and the
        # driver path collects a fraction of the vertex bytes
        from ..functions.simplify import simplify_segments

        segments = simplify_segments(segments, zoom=simplify_zoom).drop(
            "pts_in", "pts_out"
        )

    if routed_distributed:
        if path is None:
            raise ValueError(
                "segment table exceeds the driver-assembly gate "
                f"({GEOJSON_DRIVER_MAX_ROWS} rows); pass `path` for the "
                "distributed JSONL writer"
            )
        segments_to_geojson_files(
            segments, path, offset_display=offset_display,
            simplify_zoom=simplify_zoom,
        )
        return path

    feats = []
    for r in segments.select(
        "segment_id", "way_id", "street_type", "oneway", "length_m", "lons", "lats"
    ).collect():
        lons, lats = list(r.lons), list(r.lats)
        if offset_display and not r.oneway:
            ox, oy = offset_curve_np(lons, lats, DISPLAY_OFFSET_DEG)
            lons, lats = ox.tolist(), oy.tolist()
        feats.append(
            {
                "type": "Feature",
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[x, y] for x, y in zip(lons, lats)],
                },
                "properties": {
                    "segment_id": str(r.segment_id),
                    "way_id": r.way_id,
                    "street_type": r.street_type,
                    "oneway": r.oneway,
                    "length_m": r.length_m,
                },
            }
        )
    doc = json.dumps({"type": "FeatureCollection", "features": feats})
    if path:
        with open(path, "w") as f:
            f.write(doc)
    return doc


def segments_to_geojson_files(
    segments: DataFrame,
    path: str,
    offset_display: bool = False,
    simplify_zoom: int | None = None,
):
    """Distributed variant: one JSON feature per line, partitioned by z11
    tile of the segment start — loadable as newline-delimited GeoJSON.
    ``offset_display`` applies the C10 two-way offset per Arrow batch
    (numpy offset_curve_np inside mapInPandas — display-only path, the
    geometry arrays never shuffle).  ``simplify_zoom`` thins vertices to
    sub-pixel Douglas–Peucker tolerance at that display zoom first
    (functions/simplify.py) — at planet scale the tile BYTES, not the
    compute, are the cost this writer controls."""
    if simplify_zoom is not None:
        from ..functions.simplify import simplify_segments

        segments = simplify_segments(segments, zoom=simplify_zoom).drop(
            "pts_in", "pts_out"
        )
    if offset_display:
        from ..functions.geodesy import offset_curve_np

        cols = segments.columns

        def _offset(batches):
            for pdf in batches:
                for i in pdf.index[~pdf["oneway"].astype(bool)]:
                    ox, oy = offset_curve_np(
                        list(pdf.at[i, "lons"]), list(pdf.at[i, "lats"]),
                        DISPLAY_OFFSET_DEG,
                    )
                    pdf.at[i, "lons"] = ox.tolist()
                    pdf.at[i, "lats"] = oy.tolist()
                yield pdf

        segments = segments.mapInPandas(_offset, schema=segments.schema)
        segments = segments.select(*cols)
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("LineString").alias("type"),
                # positions must be [x, y] ARRAYS (RFC 7946 §3.1.1) — a bare
                # arrays_zip would emit {"lons":x,"lats":y} objects
                F.transform(
                    F.arrays_zip(F.col("lons"), F.col("lats")),
                    lambda p: F.array(p["lons"], p["lats"]),
                ).alias("coordinates"),
            ).alias("geometry"),
            F.struct("segment_id", "way_id", "street_type", "oneway", "length_m").alias("properties"),
        )
    )
    (
        segments.withColumn("tile_x", tile_x_col(F.element_at("lons", 1), Z_AREA))
        .withColumn("tile_y", tile_y_col(F.element_at("lats", 1), Z_AREA))
        .select("tile_x", "tile_y", feature.alias("feature"))
        .write.mode("overwrite")
        .partitionBy("tile_x", "tile_y")
        .text(path)
    )

