"""Tile assignment + payload invariants (the raster↔vector routing layer).

Per input image row: slippy z11/z18 tile parity columns
(SpatialDataStore.getTile, SpatialDataStore.java:199-216), the packed cell
id and Morton key (functions/cells.py) for partitioning, and — on demand —
the payload invariants (decoded-pixel PSNR ≥ 40 dB vs the caption-rendered
canonical grid, caption equality, pHash match) via an Arrow-batched UDF.

``bytes`` is only read on the verification path; the tile-assignment plan
itself projects it away (column pruning — SURVEY §7.4.5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import Z_AREA, Z_ITEM
from ..functions.cells import cell_pack_col, morton_col, tile_x_col, tile_y_col
from ..functions.images import decode_image, extract_caption, phash64, psnr_db, render_pixels
from .match import CAPTION_RE


def assign_tiles(images: DataFrame) -> DataFrame:
    """Pure-column tile assignment; never touches `bytes`."""
    lat = F.regexp_extract("caption", CAPTION_RE, 3).try_cast("double")
    lon = F.regexp_extract("caption", CAPTION_RE, 4).try_cast("double")
    x18, y18 = tile_x_col(lon, Z_ITEM), tile_y_col(lat, Z_ITEM)
    return images.select(
        "image_id",
        tile_x_col(lon, Z_AREA).alias("tile_x11"),
        tile_y_col(lat, Z_AREA).alias("tile_y11"),
        x18.alias("tile_x18"),
        y18.alias("tile_y18"),
        cell_pack_col(x18, y18, Z_ITEM).alias("cell"),
        morton_col(x18, y18).alias("morton"),
    )


VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes_ok", T.BooleanType(), False),
        T.StructField("caption_ok", T.BooleanType(), False),
        T.StructField("phash_ok", T.BooleanType(), False),
        T.StructField("psnr_db", T.DoubleType(), False),
    ]
)


def verify_payloads(images: DataFrame, min_psnr: float = 40.0) -> DataFrame:
    """Per-row payload invariants (north rule): decode `bytes`, compare to
    the caption-rendered canonical pixels (allclose for lossless, PSNR ≥
    40 dB for lossy), check the pixel-carried geotag equals `caption`, and
    recompute pHash.  Arrow-batched mapInPandas — numpy per image, no
    per-row Python at the API level."""

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                # An undecodable payload is exactly what verification must
                # REPORT — a raise here would kill the task (and at 10^12
                # rows, the job) on the first corrupt row.
                try:
                    px = decode_image(bytes(r.bytes))
                except Exception:
                    rows.append((r.image_id, False, False, False, 0.0))
                    continue
                canon = render_pixels(r.caption, int(r.w), int(r.h))
                p = psnr_db(canon, px)
                lossless = r.fmt == "png"
                bytes_ok = bool(np.array_equal(canon, px)) if lossless else bool(p >= min_psnr)
                try:
                    cap_ok = extract_caption(px) == r.caption
                except Exception:
                    cap_ok = False
                rows.append((r.image_id, bytes_ok, cap_ok, phash64(px) == int(r.phash) if lossless else True, float(min(p, 1e9))))
            yield pd.DataFrame(rows, columns=[f.name for f in VERIFY_SCHEMA.fields])

    return images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash").mapInPandas(
        run, schema=VERIFY_SCHEMA
    )


def tile_assignments_with_invariants(images: DataFrame) -> DataFrame:
    """Join the column-only tile plan with the payload verification on the
    image_id spine (bytes never crosses the tile-assignment shuffle)."""
    return assign_tiles(images).join(verify_payloads(images), "image_id")


RENDER_SCHEMA = T.StructType(
    [
        T.StructField("tile_x", T.LongType(), False),
        T.StructField("tile_y", T.LongType(), False),
        T.StructField("z", T.IntegerType(), False),
        T.StructField("n_points", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("max_count", T.LongType(), False),
        T.StructField("png", T.BinaryType(), False),
    ]
)


def render_tiles(
    points: DataFrame, zoom: int = Z_AREA, resolution: int = 256
) -> DataFrame:
    """Vector→raster rendering: rasterize a point table into per-tile
    grayscale PNG density maps (the inverse leg of the raster↔vector
    contract; the slippy-tile twin of a raster tile server's render pass).

    Pixel addressing is EXACT, not a second projection: for the slippy
    formulas (functions/cells.py) the zoom enters as a final multiply by
    2^z of one shared double ``v``, and multiplying a double by a power of
    two is exact — so with ``shift = log2(resolution)``::

        pixel = tile(z + shift) - resolution * tile(z)
              = floor(resolution * frac(v * 2^z))  ∈  [0, resolution)

    i.e. the pixel index inherits the engine↔oracle↔SQL bit-parity already
    proven for the tile functions; no clamp and no second trig evaluation.

    Plan shape for 10^12-row inputs: (1) partial+final hash agg on
    (tile, px, py) — the map side collapses the point set to occupied
    pixels, bounding the first shuffle at resolution² rows per tile;
    (2) one applyInPandas per tile fills the uint8 grid and encodes the
    PNG (functions/images.encode_png, the repo's deterministic codec).
    Two exchanges total, both over already-reduced data; the binary
    payload is BORN on the executor that owns the tile and never
    re-shuffles.  Per-pixel intensity is pure integer math
    (``count * 255 // max_count``) so the raster bytes are independent of
    partitioning and row order.
    """
    return render_pixel_counts(
        pixel_counts(points, zoom, resolution), zoom, resolution
    )


def pixel_counts(points: DataFrame, zoom: int, resolution: int = 256) -> DataFrame:
    """Stage 1 of render_tiles: (tile_x, tile_y, px, py, cnt) — one hash
    agg with map-side combine; the exact-integer pixel addressing is
    documented on render_tiles.  Factored out so a streaming job can
    accumulate per-microbatch increments into a SnapshotStore
    (``streaming.match_stream.pixel_counts_to_store_sink``) — counts are
    ADDITIVE, which is what makes the raster streamable where the
    scaled intensities are not."""
    shift = resolution.bit_length() - 1
    assert resolution == 1 << shift, "resolution must be a power of two"
    lat, lon = F.col("lat"), F.col("lon")
    tx, ty = tile_x_col(lon, zoom), tile_y_col(lat, zoom)
    px = tile_x_col(lon, zoom + shift) - F.lit(resolution) * tx
    py = tile_y_col(lat, zoom + shift) - F.lit(resolution) * ty
    n = F.lit(2**zoom).cast("long")
    return (
        points.where(
            lat.isNotNull() & lon.isNotNull()
            & (ty >= 0) & (ty < n) & (tx >= 0) & (tx < n)
        )
        .select(tx.alias("tile_x"), ty.alias("tile_y"), px.alias("px"), py.alias("py"))
        .groupBy("tile_x", "tile_y", "px", "py")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def render_pixel_counts(
    pix: DataFrame, zoom: int, resolution: int = 256
) -> DataFrame:
    """Stage 2 of render_tiles: per-tile applyInPandas grid fill + PNG
    encode over an already-aggregated (tile_x, tile_y, px, py, cnt)
    relation — e.g. the live state of a streaming pixel-count store."""

    def _fill(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.images import encode_png

        grid = np.zeros((resolution, resolution), dtype=np.uint8)
        cnt = pdf["cnt"].to_numpy(np.int64)
        mc = int(cnt.max())
        grid[pdf["py"].to_numpy(np.int64), pdf["px"].to_numpy(np.int64)] = (
            cnt * 255 // mc
        ).astype(np.uint8)
        return pd.DataFrame(
            {
                "tile_x": [int(pdf["tile_x"].iloc[0])],
                "tile_y": [int(pdf["tile_y"].iloc[0])],
                "z": [zoom],
                "n_points": [int(cnt.sum())],
                "n_pixels": [len(pdf)],
                "max_count": [mc],
                "png": [encode_png(grid)],
            }
        )

    return pix.groupBy("tile_x", "tile_y").applyInPandas(_fill, RENDER_SCHEMA)


def raster_pyramid(
    tiles: DataFrame,
    base_zoom: int,
    min_zoom: int,
    resolution: int = 256,
) -> DataFrame:
    """Raster overview pyramid (the gdaladdo / map-server overview build):
    from rendered tiles at ``base_zoom`` (render_tiles schema), produce
    every ancestor level down to ``min_zoom`` by composing each parent
    from its ≤4 children — each child grid is 2×2 MAX-pooled to half
    resolution and placed at its quadrant offset (slippy child parity
    ``(x&1, y&1)`` is the quadrant).  Max-pooling on uint8 is pure
    integer, so every level's bytes stay partition- and row-order
    independent.

    Plan shape: one applyInPandas per level, each grouped on the parent
    coordinate (a shiftright of the child key).  That is ``base_zoom −
    min_zoom`` exchanges, but over a geometrically SHRINKING relation —
    level i holds ≤ |tiles|/4^i rows of fixed-size payloads — so at any
    scale the total shuffled volume is bounded by 4/3 of the leaf level.
    The alternative (re-rendering every level from raw points) rescans
    the 10^12-row input once per level; the pyramid never touches it.

    ``n_points``/``max_count`` aggregate from the children (sum / max);
    ``n_pixels`` is recomputed from the composed parent grid.

    Each intermediate level is persisted: level z−k is the INPUT of level
    z−k−1, and without pinning it the lazy union would re-execute the whole
    upstream chain — including the leaf render over the raw points — once
    per level.  The pinned relations are
    small by construction (≤ |tiles|/4^k fixed-size rows).
    """
    assert min_zoom < base_zoom, (min_zoom, base_zoom)
    half = resolution // 2

    def _compose(zoom: int):
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            from ..functions.images import decode_png, encode_png

            grid = np.zeros((resolution, resolution), dtype=np.uint8)
            for r in pdf.itertuples(index=False):
                child = decode_png(bytes(r.png))
                pooled = child.reshape(half, 2, half, 2).max(axis=(1, 3))
                qx, qy = int(r.tile_x) & 1, int(r.tile_y) & 1
                grid[qy * half:(qy + 1) * half, qx * half:(qx + 1) * half] = pooled
            return pd.DataFrame(
                {
                    "tile_x": [int(pdf["tile_x"].iloc[0]) >> 1],
                    "tile_y": [int(pdf["tile_y"].iloc[0]) >> 1],
                    "z": [zoom],
                    "n_points": [int(pdf["n_points"].sum())],
                    "n_pixels": [int(np.count_nonzero(grid))],
                    "max_count": [int(pdf["max_count"].max())],
                    "png": [encode_png(grid)],
                }
            )

        return fn

    levels = []
    cur = tiles
    for zc in range(base_zoom - 1, min_zoom - 1, -1):
        cur = cur.groupBy(
            F.shiftright("tile_x", 1), F.shiftright("tile_y", 1)
        ).applyInPandas(_compose(zc), RENDER_SCHEMA)
        if zc > min_zoom:
            cur = cur.persist()
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def tile_pyramid(
    points: DataFrame,
    min_zoom: int = Z_AREA,
    max_zoom: int = Z_ITEM,
    weight: str | None = None,
) -> DataFrame:
    """Raster tile pyramid: per-tile totals at ``max_zoom`` rolled up to
    every ancestor level down to ``min_zoom`` (the raster half of the
    raster↔vector layer; slippy ancestor = coordinate right-shift, same
    parent math as functions/cells.cell_parent_col).

    Plan shape, chosen for 10^12-row inputs: (1) partial+final hash agg
    at the LEAF zoom first — the leaf aggregate is bounded by the number
    of occupied z-``max_zoom`` tiles, orders of magnitude smaller than
    the input; (2) one Generate exploding each leaf row over its
    ``max_zoom - min_zoom + 1`` ancestor levels with a column-amount
    shiftright (pure codegen, no per-level rescan of the input);
    (3) one final hash agg on (z, x, y).  Two exchanges total, both on
    already-reduced data; a per-level loop over the input would scan it
    ``levels`` times and shuffle unreduced rows.

    Returns (z, x, y, n, w_sum) — ``w_sum`` only when ``weight`` given.
    """
    assert 0 <= min_zoom <= max_zoom, (min_zoom, max_zoom)
    x = tile_x_col(F.col("lon"), max_zoom)
    y = tile_y_col(F.col("lat"), max_zoom)
    aggs = [F.count(F.lit(1)).alias("n")]
    if weight:
        aggs.append(F.sum(weight).alias("w_sum"))
    leaf = points.select(
        x.alias("x"), y.alias("y"),
        *([F.col(weight).alias(weight)] if weight else []),
    ).groupBy("x", "y").agg(*aggs)
    up = [F.sum("n").alias("n")]
    if weight:
        up.append(F.sum("w_sum").alias("w_sum"))
    return (
        leaf.select(
            F.explode(
                F.sequence(F.lit(min_zoom), F.lit(max_zoom))
            ).alias("z"),
            "x", "y", "n",
            *(["w_sum"] if weight else []),
        )
        .select(
            "z",
            F.expr(f"shiftright(x, {max_zoom} - z)").alias("x"),
            F.expr(f"shiftright(y, {max_zoom} - z)").alias("y"),
            "n",
            *(["w_sum"] if weight else []),
        )
        .groupBy("z", "x", "y")
        .agg(*up)
    )
