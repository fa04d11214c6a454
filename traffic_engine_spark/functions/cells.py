"""Hierarchical spatial cell index (slippy tiles + packed int64 cells).

Reference parity: the slippy-map formulas are bit-exact recasts of
``data/stores/SpatialDataStore.java:199-269`` (getTileX/getTileY/tile2lon/
tile2lat) — same floating-point operations in the same order, so Java and
numpy/Spark produce identical ints for identical doubles.

On top of the reference's flat (x, y) grid this engine adds an H3-style
*packed cell id*: ``cell = (z << 58) | (x << 29) | y`` (29 bits per axis
supports z ≤ 29), plus a Morton/Z-order key for range partitioning with
spatial locality, ``grid_disk`` ring expansion (the reference's ±1-tile
envelope margin, SpatialDataStore.java:159-163, generalised to radius k),
and parent/child traversal between zoom levels.  All of it is pure Spark
column arithmetic — JVM-side, whole-stage-codegen'd, no Python in the hot
path.

Every function comes in two flavours with identical semantics:
  * ``*_np``   — vectorised numpy (used by datagen + the pytest oracle)
  * ``*_col``  — Spark Column expression (used by the engine)
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import Z_ITEM

# ---------------------------------------------------------------------------
# slippy tile math — exact reference parity
# ---------------------------------------------------------------------------


def tile_x_np(lon: np.ndarray, zoom: int) -> np.ndarray:
    """SpatialDataStore.getTileX (SpatialDataStore.java:199-202)."""
    lon = np.asarray(lon, dtype=np.float64)
    return np.floor((lon + 180.0) / 360.0 * (1 << zoom)).astype(np.int64)


def tile_y_np(lat: np.ndarray, zoom: int) -> np.ndarray:
    """SpatialDataStore.getTileY (SpatialDataStore.java:204-208)."""
    lat = np.asarray(lat, dtype=np.float64)
    rad = np.radians(lat)
    return np.floor(
        (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * (1 << zoom)
    ).astype(np.int64)


def tile2lon_np(x: np.ndarray, zoom: int) -> np.ndarray:
    """SpatialDataStore.tile2lon (SpatialDataStore.java:254-256)."""
    return np.asarray(x, dtype=np.float64) / (2.0**zoom) * 360.0 - 180.0


def tile2lat_np(y: np.ndarray, zoom: int) -> np.ndarray:
    """SpatialDataStore.tile2lat (SpatialDataStore.java:258-261)."""
    n = math.pi - (2.0 * math.pi * np.asarray(y, dtype=np.float64)) / (2.0**zoom)
    return np.degrees(np.arctan(np.sinh(n)))


def tile_x_col(lon: Column, zoom: int) -> Column:
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << zoom))).cast(
        "long"
    )


def tile_y_col(lat: Column, zoom: int) -> Column:
    rad = F.radians(lat)
    return F.floor(
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(float(1 << zoom))
    ).cast("long")


def tile2lon_col(x: Column, zoom: int) -> Column:
    return x.cast("double") / F.lit(2.0**zoom) * F.lit(360.0) - F.lit(180.0)


def tile2lat_col(y: Column, zoom: int) -> Column:
    n = F.lit(math.pi) - (F.lit(2.0 * math.pi) * y.cast("double")) / F.lit(2.0**zoom)
    return F.degrees(F.atan(F.sinh(n)))


def tiles_for_z_np(x: int, y: int, z: int, internal_z: int, strict_parity: bool = True):
    """SpatialDataStore.getTilesForZ (SpatialDataStore.java:218-252).

    The reference scales between zoom levels with ``abs(internalZ - z)``
    instead of ``2**abs(internalZ - z)`` — a quirk (SURVEY §7.4.2, C3)
    reproduced when ``strict_parity``; the fixed variant uses the proper
    power-of-two rescale.
    """
    if strict_parity:
        if internal_z < z:
            scale = abs(internal_z - z) or 1
            nx, ny, span = x // scale, y // scale, 1
        else:
            scale = (internal_z - z) or 1
            nx, ny, span = x * scale, y * scale, scale
    else:
        if internal_z < z:
            nx, ny, span = x >> (z - internal_z), y >> (z - internal_z), 1
        else:
            s = 1 << (internal_z - z)
            nx, ny, span = x * s, y * s, s
    return [(nx + dx, ny + dy) for dx in range(span) for dy in range(span)]


# ---------------------------------------------------------------------------
# packed cell ids (H3-style layer)
# ---------------------------------------------------------------------------

_CELL_XY_BITS = 29


def cell_pack_np(x: np.ndarray, y: np.ndarray, zoom: int) -> np.ndarray:
    """int64 cell id: (z << 58) | (x << 29) | y."""
    return (
        (np.int64(zoom) << np.int64(2 * _CELL_XY_BITS))
        | (np.asarray(x, dtype=np.int64) << np.int64(_CELL_XY_BITS))
        | np.asarray(y, dtype=np.int64)
    )


def pack_xy(x: Column, y: Column) -> Column:
    """ONE long join key from a (tile_x, tile_y) pair: x<<32 | y.

    Join on this instead of the two-column key: hashing a single-field
    UnsafeRow per probe measured 2× faster over the whole join stage at
    333M probes (BENCH.md per-stage notes) — every tile/cell equi-join in
    the engine should take this by default.  Valid for 0 ≤ y < 2³²
    (slippy y at any zoom ≤ 31)."""
    return F.shiftleft(x.cast("long"), 32) + y.cast("long")


def cell_pack_col(x: Column, y: Column, zoom: int) -> Column:
    return (
        F.lit(int(zoom) << (2 * _CELL_XY_BITS)).cast("long")
        + F.shiftleft(x.cast("long"), _CELL_XY_BITS)
        + y.cast("long")
    )


def cell_of_col(lat: Column, lon: Column, zoom: int = Z_ITEM) -> Column:
    return cell_pack_col(tile_x_col(lon, zoom), tile_y_col(lat, zoom), zoom)


def cell_xy_col(cell: Column) -> tuple[Column, Column, Column]:
    """Unpack (z, x, y) from a packed cell id."""
    z = F.shiftrightunsigned(cell, 2 * _CELL_XY_BITS).cast("int")
    x = F.shiftrightunsigned(cell, _CELL_XY_BITS) & F.lit((1 << _CELL_XY_BITS) - 1)
    y = cell & F.lit((1 << _CELL_XY_BITS) - 1)
    return z, x, y


def cell_parent_col(cell: Column, parent_zoom: int) -> Column:
    """Parent cell at a coarser zoom (divide both axes by 2^Δz)."""
    z, x, y = cell_xy_col(cell)
    scale = F.pow(F.lit(2.0), (z - F.lit(parent_zoom)).cast("double"))
    return cell_pack_col(
        F.floor(x.cast("double") / scale).cast("long"),
        F.floor(y.cast("double") / scale).cast("long"),
        parent_zoom,
    )


# ---------------------------------------------------------------------------
# Morton / Z-order key — spatial locality for repartitionByRange
# ---------------------------------------------------------------------------

def _spread_bits_np(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 32 bits of v (numpy uint64)."""
    v = np.asarray(v, dtype=np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def morton_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Z-order interleave of two 29-bit coordinates → int64."""
    return (_spread_bits_np(x) | (_spread_bits_np(y) << np.uint64(1))).astype(np.int64)


def _spread_bits_col(v: Column) -> Column:
    out = v.cast("long")
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def morton_col(x: Column, y: Column) -> Column:
    return _spread_bits_col(x).bitwiseOR(F.shiftleft(_spread_bits_col(y), 1))


# ---------------------------------------------------------------------------
# grid_disk ring + bbox cover — candidate generation for the J1 join
# ---------------------------------------------------------------------------


def grid_disk_offsets(k: int = 1) -> list[tuple[int, int]]:
    """All (dx, dy) offsets within Chebyshev distance k (the (2k+1)² disk).

    k=1 replicates the reference's ±1-tile envelope expansion
    (SpatialDataStore.java:159-163).
    """
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]


def explode_bbox_cover(
    df,
    min_lon: Column,
    min_lat: Column,
    max_lon: Column,
    max_lat: Column,
    zoom: int = Z_ITEM,
    margin: int = 0,
    out_x: str = "tile_x",
    out_y: str = "tile_y",
):
    """Explode one row per tile covering [min,max] bbox, expanded by ±margin.

    This is SpatialDataItem.getTiles (SpatialDataItem.java:70-105) /
    getIdsByEnvelope's expanded rectangle (SpatialDataStore.java:131-179)
    as a declarative `sequence × sequence` double-explode — Catalyst sees
    an ordinary generator, no UDF.

    Slippy y grows southward, so the y-range min/max ordering is handled
    by least/greatest exactly like the reference's min/max swap.
    """
    x1, x2 = tile_x_col(min_lon, zoom), tile_x_col(max_lon, zoom)
    y1, y2 = tile_y_col(min_lat, zoom), tile_y_col(max_lat, zoom)
    lo_x = F.least(x1, x2) - margin
    hi_x = F.greatest(x1, x2) + margin
    lo_y = F.least(y1, y2) - margin
    hi_y = F.greatest(y1, y2) + margin
    return (
        df.withColumn(out_x, F.explode(F.sequence(lo_x, hi_x)))
        .withColumn(out_y, F.explode(F.sequence(lo_y, hi_y)))
    )


def bbox_tiles_np(
    lons: np.ndarray, lats: np.ndarray, zoom: int = Z_ITEM, margin: int = 0
) -> list[tuple[int, int]]:
    """Oracle-side twin of explode_bbox_cover for one geometry."""
    xs = tile_x_np(np.asarray(lons, dtype=np.float64), zoom)
    ys = tile_y_np(np.asarray(lats, dtype=np.float64), zoom)
    out = []
    for tx in range(int(xs.min()) - margin, int(xs.max()) + margin + 1):
        for ty in range(int(ys.min()) - margin, int(ys.max()) + margin + 1):
            out.append((tx, ty))
    return out
