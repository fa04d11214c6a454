"""Unit tests for the vectorised kernels (SURVEY §5 layer 1) with literal
oracles derived from the cited reference code."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from traffic_engine_spark.functions import binning, cells, geodesy, ids, images
from traffic_engine_spark.oracle.pyoracle import intersection_distance


# --- the reference's own unit test, ported (LineSegmentTest.java:10-17) ----
def test_intersection_distance_reference_case():
    assert intersection_distance((0, 0), (4, 0), (1, -1), (1, 1)) == 0.25
    assert intersection_distance((1, -1), (1, 1), (0, 0), (4, 0)) == 0.5


def test_intersection_distance_parallel_is_none():
    assert intersection_distance((0, 0), (1, 0), (0, 1), (1, 1)) is None


# --- slippy tile math (SpatialDataStore.java:199-269) ----------------------
def test_tile_xy_known_values():
    # slippy-map formula literals: lat=41.85, lon=-87.65 @ z15
    assert cells.tile_x_np(np.array([-87.65]), 15)[0] == 8405
    assert cells.tile_y_np(np.array([41.85]), 15)[0] == 12182
    # zero-zero
    assert cells.tile_x_np(np.array([0.0]), 18)[0] == 131072
    assert cells.tile_y_np(np.array([0.0]), 18)[0] == 131072


def test_tile_inverse_roundtrip():
    lon = cells.tile2lon_np(np.array([8405]), 15)
    lat = cells.tile2lat_np(np.array([12182]), 15)
    assert cells.tile_x_np(lon + 1e-9, 15)[0] == 8405
    assert cells.tile_y_np(lat - 1e-9, 15)[0] == 12182


def test_tiles_for_z_quirk_vs_fixed():
    # strict parity reproduces the abs-diff scaling (SpatialDataStore.java:218-252)
    assert cells.tiles_for_z_np(100, 50, 11, 18) == [
        (100 * 7 + dx, 50 * 7 + dy) for dx in range(7) for dy in range(7)
    ]
    fixed = cells.tiles_for_z_np(100, 50, 11, 18, strict_parity=False)
    assert len(fixed) == 128 * 128 and fixed[0] == (12800, 6400)


def test_cell_pack_and_morton():
    x = np.array([8406, 0, 2**29 - 1])
    y = np.array([12218, 0, 2**29 - 1])
    c = cells.cell_pack_np(x, y, 15)
    assert (c >> 58 == 15).all()
    assert ((c >> 29) & (2**29 - 1) == x).all()
    assert (c & (2**29 - 1) == y).all()
    m = cells.morton_np(np.array([0b101]), np.array([0b011]))
    # interleave: x bits at even positions, y at odd → 0b011011... check manually
    assert m[0] == (1 | (1 << 1) | (0 << 2) | (1 << 3) | (1 << 4) | (0 << 5))


def test_grid_disk_offsets():
    assert len(cells.grid_disk_offsets(1)) == 9
    assert (0, 0) in cells.grid_disk_offsets(1)


# --- binning (SegmentStatistics.java:61-131) -------------------------------
def test_week_and_hour():
    # Monday 2023-08-07 00:30 UTC
    t = 1_691_368_200_000
    assert binning.hour_of_week_np([t])[0] == 0
    # Sunday 23:00 that week
    t2 = 1_691_366_400_000 + 6 * 86_400_000 + 23 * 3_600_000
    assert binning.hour_of_week_np([t2])[0] == 167
    # week boundary: +1h crosses into next week
    assert binning.week_np([t2])[0] + 1 == binning.week_np([t2 + 3_600_000])[0]
    # smallest un-coerced ms timestamp: (15e9 - WEEK_OFFSET) // WEEK_MS = 24
    assert binning.week_np([15_000_000_000])[0] == 24
    # values below 15e9 are treated as SECONDS even in week binning
    # (SegmentStatistics.java:110-112) — 345.6M s ≈ mid-1980
    assert binning.week_np([345_600_000])[0] == 570


def test_sec_to_ms_coercion():
    # < 15e9 ⇒ seconds (GPSPoint.java:28-29)
    assert binning.week_np([1_691_366_400])[0] == binning.week_np([1_691_366_400_000])[0]


def test_speed_bins():
    # Math.round(speed*3.6) clamped at 119
    assert binning.speed_bin_np([10.0])[0] == 36
    assert binning.speed_bin_np([10.0 / 3.6 + 0.139])[0] == 11  # round up at .5
    assert binning.speed_bin_np([100.0])[0] == 119  # clamp
    assert binning.speed_bin_np([float("inf")])[0] == 119
    assert binning.speed_bin_np([float("nan")])[0] == 0  # Java round(NaN)==0
    # packed bin uses hour*168 (not 120) — SegmentStatistics.java:88-91
    assert binning.packed_bin_np(167, 119) == 167 * 168 + 119
    assert binning.bin_mean_np(36) == pytest.approx((36 - 0.5) / 3.6)


# --- geodesy ---------------------------------------------------------------
def test_haversine_distance():
    d = geodesy.haversine_m(-122.0, 37.0, -122.0, 37.001)
    assert 110.0 < d < 112.5


def test_haversine_column_matches_numpy(spark):
    """The Spark column form equals numpy haversine_m, identical and
    near-antipodal pairs included."""
    rng = np.random.default_rng(5)
    n = 1000
    lon1, lat1 = rng.uniform(-180, 180, n), rng.uniform(-89, 89, n)
    lon2, lat2 = rng.uniform(-180, 180, n), rng.uniform(-89, 89, n)
    lon2[:50], lat2[:50] = lon1[:50], lat1[:50]
    jitter = rng.uniform(-0.01, 0.01, (2, 50))
    lon2[50:100] = np.where(lon1[50:100] > 0, lon1[50:100] - 180, lon1[50:100] + 180) + jitter[0]
    lat2[50:100] = -lat1[50:100] + jitter[1]
    pdf = pd.DataFrame({"i": np.arange(n), "lon1": lon1, "lat1": lat1, "lon2": lon2, "lat2": lat2})
    cols = [F.col(c) for c in ("lon1", "lat1", "lon2", "lat2")]
    got = (
        spark.createDataFrame(pdf)
        .select("i", geodesy.haversine_m_col(*cols).alias("d"))
        .toPandas()
        .sort_values("i")["d"]
        .to_numpy()
    )
    want = geodesy.haversine_m(lon1, lat1, lon2, lat2)
    assert (want[:50] == 0).all() and (want[50:100] > 19_900_000).all()
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=0)


def test_vincenty_published_line():
    """WGS84 Vincenty vs the published Geoscience Australia test line
    (Flinders Peak → Buninyong: s = 54 972.271 m, α1 = 306°52′05.37″) —
    the same ellipsoidal problem geotools GeodeticCalculator solves
    (OSMDataStore.java:622-628)."""
    lat1 = -(37 + 57 / 60 + 3.72030 / 3600)
    lon1 = 144 + 25 / 60 + 29.52440 / 3600
    lat2 = -(37 + 39 / 60 + 10.15610 / 3600)
    lon2 = 143 + 55 / 60 + 35.38390 / 3600
    d, az = geodesy.vincenty_inverse(lon1, lat1, lon2, lat2)
    assert abs(float(d) - 54972.271) < 5e-4
    assert abs(float(az) % 360 - (306 + 52 / 60 + 5.37 / 3600)) < 1e-5
    # direct(inverse) roundtrip closes to sub-micron
    lon3, lat3 = geodesy.vincenty_direct(lon1, lat1, float(az), float(d))
    assert float(geodesy.vincenty_inverse(lon3, lat3, lon2, lat2)[0]) < 1e-6


def test_vincenty_destination_roundtrip():
    """The WGS84 destination point respects the requested geodesic
    distance — how triplines are placed 10 m either side of a segment."""
    lon2, lat2 = geodesy.vincenty_direct(-122.0, 37.0, 37.0, 500.0)
    back = float(geodesy.vincenty_inverse(-122.0, 37.0, float(lon2), float(lat2))[0])
    assert abs(back - 500.0) < 1e-6


def test_clamp_azimuth():
    assert geodesy.clamp_azimuth(190.0) == -170.0
    assert geodesy.clamp_azimuth(-190.0) == 170.0
    assert geodesy.clamp_azimuth(540.0) == 180.0
    assert geodesy.clamp_azimuth(90.0) == 90.0


def test_extract_point_and_bearing():
    lons = np.array([0.0, 1.0, 1.0])
    lats = np.array([0.0, 0.0, 1.0])
    assert geodesy.extract_point(lons, lats, 0.5) == (0.5, 0.0)
    assert geodesy.extract_point(lons, lats, 1.5) == (1.0, 0.5)
    b = geodesy.bearing_at_index(lons, lats, 0.5)
    assert abs(b - 90.0) < 1e-6  # eastbound


# --- deterministic ids -----------------------------------------------------
def test_ids_stable_and_positive():
    a = ids.segment_id_py(100, 1000, 1001)
    assert a == ids.segment_id_py(100, 1000, 1001)
    assert 0 < a < 2**60
    assert ids.tripline_id_py(a, 1) != ids.tripline_id_py(a, 2)


# --- image codecs ----------------------------------------------------------
def test_png_roundtrip_exact():
    px = images.render_pixels("trace=1;ts=2;lat=3.0;lon=4.0", 32, 32)
    assert np.array_equal(images.decode_png(images.encode_png(px)), px)


def test_lossy_psnr_and_caption_survival():
    cap = "trace=42;ts=1691366400000;lat=37.7600000;lon=-122.1679688"
    px = images.render_pixels(cap, 32, 32)
    dec = images.decode_lossy(images.encode_lossy(px))
    assert images.psnr_db(px, dec) >= 40.0  # the lossy invariant
    assert images.extract_caption(dec) == cap  # geotag survives quantisation
    assert images.extract_caption(px) == cap


def test_phash_properties():
    px1 = images.render_pixels("trace=1;ts=1;lat=1.0;lon=1.0", 32, 32)
    px2 = images.render_pixels("trace=2;ts=9;lat=5.0;lon=7.0", 32, 32)
    h1, h2 = images.phash64(px1), images.phash64(px2)
    assert h1 == images.phash64(px1)
    assert h1 != h2
    assert -(2**63) <= h1 < 2**63
    # lossy quantisation keeps the perceptual hash close (≤4 bit flips)
    hq = images.phash64(images.decode_lossy(images.encode_lossy(px1)))
    assert bin((h1 ^ hq) & (2**64 - 1)).count("1") <= 4


# ---------------------------------------------------------------------------
# Douglas-Peucker simplification (functions/simplify.py)
# ---------------------------------------------------------------------------


def test_dp_mask_fixture_and_invariants():
    """Hand fixture + the three properties that make DP display-lossless:
    endpoints kept, every DROPPED vertex within tol of the kept line,
    idempotence, and pts_out monotone non-increasing in tol."""
    import numpy as np

    from traffic_engine_spark.functions.simplify import dp_keep_mask

    # collinear interior points collapse to the two endpoints
    lons = np.array([0.0, 0.001, 0.002, 0.003])
    lats = np.array([0.0, 0.0, 0.0, 0.0])
    m = dp_keep_mask(lons, lats, 1e-6)
    assert m.tolist() == [True, False, False, True]

    # a spike above tol survives (and pulls its neighbour above tol on
    # the recursed chord); below tol the whole interior is dropped
    lats2 = np.array([0.0, 5e-4, 0.0, 0.0])
    assert dp_keep_mask(lons, lats2, 1e-4).tolist() == [True, True, True, True]
    assert dp_keep_mask(lons, lats2, 1e-3).tolist() == [True, False, False, True]

    rng = np.random.RandomState(11)
    for trial in range(25):
        n = int(rng.randint(2, 60))
        lo = np.cumsum(rng.uniform(-1e-3, 1e-3, n)) + rng.uniform(-120, -60)
        la = np.cumsum(rng.uniform(-1e-3, 1e-3, n)) + rng.uniform(30, 60)
        prev_kept = n + 1
        for tol in (1e-6, 1e-5, 1e-4, 1e-3):
            m = dp_keep_mask(lo, la, tol)
            assert m[0] and m[-1]
            kept = int(m.sum())
            assert kept <= prev_kept, "pts_out must be monotone in tol"
            prev_kept = kept
            # every dropped vertex within tol of the simplified line
            # (same cos-corrected metric as the kernel)
            import math as _math

            c = _math.cos(_math.radians(float(np.mean(la))))
            kx, ky = lo[m] * c, la[m]
            for i in np.nonzero(~m)[0]:
                px, py = lo[i] * c, la[i]
                dmin = np.inf
                for (x0, y0), (x1, y1) in zip(zip(kx, ky), zip(kx[1:], ky[1:])):
                    dx, dy = x1 - x0, y1 - y0
                    l2 = dx * dx + dy * dy
                    t = 0.0 if l2 == 0 else min(1.0, max(0.0, ((px - x0) * dx + (py - y0) * dy) / l2))
                    dmin = min(dmin, np.hypot(px - (x0 + t * dx), py - (y0 + t * dy)))
                assert dmin <= tol + 1e-12
            # idempotence
            m2 = dp_keep_mask(lo[m], la[m], tol)
            assert m2.all(), "simplify(simplify(x)) must be a no-op"


def test_simplify_segments_narrow_plan(spark, spark_network):
    """simplify_segments: vertex conservation per row, rows untouched,
    and a NARROW plan — zero Exchange operators (geometry never
    shuffles)."""
    from pyspark.sql import functions as F

    from traffic_engine_spark.functions.simplify import (
        pixel_tolerance_deg,
        simplify_segments,
    )

    segs, _, _ = spark_network
    out = simplify_segments(segs, zoom=14)
    rows = out.select("segment_id", "pts_in", "pts_out",
                      F.size("lons").alias("sz")).collect()
    assert len(rows) == segs.count()
    for r in rows:
        assert 2 <= r.pts_out <= r.pts_in and r.sz == r.pts_out
    # narrow op: simplify adds ZERO Exchange operators over its input plan
    base_plan = segs._jdf.queryExecution().executedPlan().toString()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == base_plan.count("Exchange")
    assert pixel_tolerance_deg(14, 1.0) < pixel_tolerance_deg(13, 1.0)
