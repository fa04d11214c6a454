"""Vectorised geodesy — the single source of truth for distance, bearing,
destination-point and linear-referencing math.

The reference delegates to geotools' GeodeticCalculator (WGS84 ellipsoid,
Vincenty's formulas):
  * distance      — osm/OSMDataStore.java:622-628 (getOrthodromicDistance)
  * azimuth probe — osm/OSMDataStore.java:640-662 (getBearing, ε=9e-6)
  * destination   — osm/OSMDataStore.java:594-612 (createTripLine, ±90°, 10 m)
  * azimuth clamp — osm/OSMDataStore.java:669-679

The engine therefore uses vectorised Vincenty inverse/direct on WGS84
(T. Vincenty, Survey Review XXIII(176), 1975 — the same public algorithm
geotools implements), verified against the paper's published test line in
tests/test_functions.py; callers call `vincenty_inverse` and
`vincenty_direct` directly.  `haversine_m` (the WGS84 mean-radius sphere)
serves the synthetic-trace generator and the trajectory helpers, which
need no geotools parity; `haversine_m_col` is the same formula as a Spark
column expression, for the JVM-side trajectory operators and the query
registry.  The pytest oracle imports *these same functions*, so
engine↔oracle parity is exact by construction.  Everything else is
numpy-vectorised; used from datagen, the oracle, and inside Arrow-batched
pandas UDFs (never per-row Python).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import BEARING_EPSILON_DEG, EARTH_RADIUS_M

# WGS84 ellipsoid (geotools DefaultEllipsoid.WGS84)
WGS84_A = 6_378_137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)


def vincenty_inverse(lon1, lat1, lon2, lat2, iterations: int = 50, tol: float = 1e-13):
    """Vincenty inverse problem on WGS84, vectorised: returns
    (distance_m, initial_azimuth_deg in (-180, 180]).  Coincident points
    return (0, 0).  Near-antipodal non-convergence falls back to the last
    iterate (the reference never measures antipodal pairs — street segments
    and GPS pairs are city-scale)."""
    lon1, lat1, lon2, lat2 = (
        np.asarray(a, dtype=np.float64) for a in (lon1, lat1, lon2, lat2)
    )
    f = WGS84_F
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    L = np.radians(lon2 - lon1)
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    sin_sig = np.zeros_like(lam)
    cos_sig = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cos2_alpha = np.ones_like(lam)
    cos_2sigm = np.ones_like(lam)
    active = np.ones(lam.shape, dtype=bool)
    for _ in range(iterations):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        t1 = cosU2 * sin_lam
        t2 = cosU1 * sinU2 - sinU1 * cosU2 * cos_lam
        sin_sig = np.where(active, np.sqrt(t1 * t1 + t2 * t2), sin_sig)
        cos_sig = np.where(active, sinU1 * sinU2 + cosU1 * cosU2 * cos_lam, cos_sig)
        sigma = np.where(active, np.arctan2(sin_sig, cos_sig), sigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(sin_sig != 0, cosU1 * cosU2 * sin_lam / sin_sig, 0.0)
        c2a = 1.0 - sin_alpha * sin_alpha
        with np.errstate(divide="ignore", invalid="ignore"):
            c2sm = np.where(c2a != 0, cos_sig - 2.0 * sinU1 * sinU2 / c2a, 0.0)
        cos2_alpha = np.where(active, c2a, cos2_alpha)
        cos_2sigm = np.where(active, c2sm, cos_2sigm)
        C = f / 16.0 * c2a * (4.0 + f * (4.0 - 3.0 * c2a))
        lam_new = L + (1.0 - C) * f * sin_alpha * (
            sigma + C * sin_sig * (c2sm + C * cos_sig * (-1.0 + 2.0 * c2sm * c2sm))
        )
        delta = np.abs(lam_new - lam)
        lam = np.where(active, lam_new, lam)
        active = active & (delta > tol)
        if not active.any():
            break

    u2 = cos2_alpha * (WGS84_A * WGS84_A - WGS84_B * WGS84_B) / (WGS84_B * WGS84_B)
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = B * sin_sig * (
        cos_2sigm
        + B / 4.0 * (
            cos_sig * (-1.0 + 2.0 * cos_2sigm * cos_2sigm)
            - B / 6.0 * cos_2sigm
            * (-3.0 + 4.0 * sin_sig * sin_sig)
            * (-3.0 + 4.0 * cos_2sigm * cos_2sigm)
        )
    )
    dist = WGS84_B * A * (sigma - dsig)
    az = np.degrees(
        np.arctan2(cosU2 * np.sin(lam), cosU1 * sinU2 - sinU1 * cosU2 * np.cos(lam))
    )
    same = (lon1 == lon2) & (lat1 == lat2)
    return np.where(same, 0.0, dist), np.where(same, 0.0, az)


def vincenty_direct(lon, lat, azimuth_deg, dist_m, iterations: int = 50, tol: float = 1e-13):
    """Vincenty direct problem on WGS84, vectorised: destination (lon, lat)
    from start + initial azimuth + geodesic distance."""
    lon, lat, azimuth_deg, dist_m = (
        np.asarray(a, dtype=np.float64) for a in (lon, lat, azimuth_deg, dist_m)
    )
    f = WGS84_F
    alpha1 = np.radians(azimuth_deg)
    sin_a1, cos_a1 = np.sin(alpha1), np.cos(alpha1)
    tanU1 = (1 - f) * np.tan(np.radians(lat))
    cosU1 = 1.0 / np.sqrt(1.0 + tanU1 * tanU1)
    sinU1 = tanU1 * cosU1
    sigma1 = np.arctan2(tanU1, cos_a1)
    sin_alpha = cosU1 * sin_a1
    cos2_alpha = 1.0 - sin_alpha * sin_alpha
    u2 = cos2_alpha * (WGS84_A * WGS84_A - WGS84_B * WGS84_B) / (WGS84_B * WGS84_B)
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))

    sigma = dist_m / (WGS84_B * A)
    sigma = np.broadcast_to(sigma, np.broadcast(lon, lat, azimuth_deg, dist_m).shape).copy()
    cos_2sigm = np.cos(2.0 * sigma1 + sigma)
    for _ in range(iterations):
        cos_2sigm = np.cos(2.0 * sigma1 + sigma)
        sin_sig, cos_sig = np.sin(sigma), np.cos(sigma)
        dsig = B * sin_sig * (
            cos_2sigm
            + B / 4.0 * (
                cos_sig * (-1.0 + 2.0 * cos_2sigm * cos_2sigm)
                - B / 6.0 * cos_2sigm
                * (-3.0 + 4.0 * sin_sig * sin_sig)
                * (-3.0 + 4.0 * cos_2sigm * cos_2sigm)
            )
        )
        sigma_new = dist_m / (WGS84_B * A) + dsig
        if np.all(np.abs(sigma_new - sigma) <= tol):
            sigma = sigma_new
            break
        sigma = sigma_new
    sin_sig, cos_sig = np.sin(sigma), np.cos(sigma)
    cos_2sigm = np.cos(2.0 * sigma1 + sigma)
    tmp = sinU1 * sin_sig - cosU1 * cos_sig * cos_a1
    lat2 = np.arctan2(
        sinU1 * cos_sig + cosU1 * sin_sig * cos_a1,
        (1 - f) * np.sqrt(sin_alpha * sin_alpha + tmp * tmp),
    )
    lam = np.arctan2(sin_sig * sin_a1, cosU1 * cos_sig - sinU1 * sin_sig * cos_a1)
    C = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
    L = lam - (1.0 - C) * f * sin_alpha * (
        sigma + C * sin_sig * (cos_2sigm + C * cos_sig * (-1.0 + 2.0 * cos_2sigm * cos_2sigm))
    )
    return np.degrees(np.radians(lon) + L), np.degrees(lat2)


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (vectorised)."""
    lon1, lat1, lon2, lat2 = (np.asarray(a, dtype=np.float64) for a in (lon1, lat1, lon2, lat2))
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lon2 - lon1)
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def haversine_m_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """`haversine_m` as a Spark column expression (pure JVM, codegen).  The
    registry's DuckDB oracles spell out this exact formula, so keep the
    operation order when editing either side."""
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(
        F.sqrt(
            F.least(
                F.lit(1.0),
                F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2)
                + F.cos(F.radians(lat1))
                * F.cos(F.radians(lat2))
                * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2),
            )
        )
    )


def clamp_azimuth(d):
    """Fold to (-180, 180]; mirrors OSMDataStore.clampAzimuth:669-679
    (Java % keeps the sign of the dividend — np.fmod matches)."""
    d = np.fmod(np.asarray(d, dtype=np.float64), 360.0)
    d = np.where(d > 180.0, d - 360.0, d)
    d = np.where(d < -180.0, d + 360.0, d)
    return d


# ---------------------------------------------------------------------------
# planar (degree-space) linear referencing — JTS LengthIndexedLine parity
# ---------------------------------------------------------------------------
# The reference places triplines with a JTS LengthIndexedLine whose index is
# *planar degree-space* length (osm/OSMDataStore.java:383-390), scaled by
# (planar_total / geodesic_length).  We reproduce exactly: interpolation
# happens in raw lon/lat coordinates.


def planar_lengths(lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
    """Per-vertex cumulative planar length in degree units (index space)."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    seg = np.sqrt(np.diff(lons) ** 2 + np.diff(lats) ** 2)
    return np.concatenate([[0.0], np.cumsum(seg)])


def extract_point(lons: np.ndarray, lats: np.ndarray, index: float) -> tuple[float, float]:
    """JTS LengthIndexedLine.extractPoint for a single index (clamped)."""
    cum = planar_lengths(lons, lats)
    total = cum[-1]
    idx = min(max(index, 0.0), total)
    i = int(np.searchsorted(cum, idx, side="right") - 1)
    i = min(i, len(cum) - 2)
    seg_len = cum[i + 1] - cum[i]
    t = 0.0 if seg_len == 0 else (idx - cum[i]) / seg_len
    return (
        float(lons[i] + t * (lons[i + 1] - lons[i])),
        float(lats[i] + t * (lats[i + 1] - lats[i])),
    )


def bearing_at_index(lons: np.ndarray, lats: np.ndarray, index: float) -> float:
    """Two-point ε-probe bearing; mirrors OSMDataStore.getBearing:640-662
    (gc.getAzimuth on the ε-separated probe points)."""
    cum = planar_lengths(lons, lats)
    start, end = 0.0, float(cum[-1])
    eps = BEARING_EPSILON_DEG
    if index - eps <= start:
        i0, i1 = start, start + eps
    elif index + eps >= end:
        i1, i0 = end, end - eps
    else:
        i0, i1 = index - eps / 2.0, index + eps / 2.0
    x0, y0 = extract_point(lons, lats, i0)
    x1, y1 = extract_point(lons, lats, i1)
    return float(vincenty_inverse(x0, y0, x1, y1)[1])


def offset_curve_np(lons: np.ndarray, lats: np.ndarray, offset_deg: float):
    """C10 — parallel offset of a polyline in planar degree space with
    mitre joins (recast of the reference's display-only JTS
    OffsetCurveBuilder call, osm/OSMDataStore.java:130-139: two-way
    segments are drawn offset by -0.000025° so both directions render
    side by side).  JTS rounds joins with arcs; the mitre join here is the
    documented deviation (display-only geometry, never used in matching).

    Negative offset = left of travel direction (matches the reference's
    negative constant).  Degenerate zero-length edges are dropped."""
    p = np.stack([np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64)], axis=1)
    d = np.diff(p, axis=0)
    ln = np.hypot(d[:, 0], d[:, 1])
    # drop SUBNORMAL-length edges too, not just exact zeros: dividing a
    # subnormal component by a subnormal norm is inexact (d/ln came out
    # 0.71 instead of 0.7071 on a 5e-324° edge — hypothesis-found), so
    # the unit normal and every downstream mitre would be garbage.
    # 1e-300 degrees is ~1e-286 nanometres — nothing real is dropped.
    keep = ln > 1e-300
    if not keep.any():
        return p[:, 0].copy(), p[:, 1].copy()
    # collapse zero-length edges
    p = np.concatenate([p[:1], p[1:][keep]], axis=0)
    d = np.diff(p, axis=0)
    ln = np.hypot(d[:, 0], d[:, 1])
    # right-hand unit normal of each edge; offset>0 shifts right of travel
    nx, ny = d[:, 1] / ln, -d[:, 0] / ln
    a = p[:-1] + np.stack([nx, ny], 1) * offset_deg  # offset edge starts
    b = p[1:] + np.stack([nx, ny], 1) * offset_deg   # offset edge ends
    out = [a[0]]
    for i in range(len(a) - 1):
        # mitre: intersect offset edge i with edge i+1
        r = b[i] - a[i]
        s = b[i + 1] - a[i + 1]
        denom = r[0] * s[1] - r[1] * s[0]
        if abs(denom) < 1e-18:  # collinear/parallel — join at shared corner
            out.append(b[i])
        else:
            t = ((a[i + 1][0] - a[i][0]) * s[1] - (a[i + 1][1] - a[i][1]) * s[0]) / denom
            out.append(a[i] + r * t)
    out.append(b[-1])
    arr = np.asarray(out)
    return arr[:, 0].copy(), arr[:, 1].copy()
