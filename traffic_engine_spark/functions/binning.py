"""Time / speed binning — week, hour-of-week, speed bin, packed bin.

Bit-exact recast of data/stats/SegmentStatistics.java:61-131:
  * sec→ms coercion:  t < 15e9 ⇒ t*1000          (GPSPoint.java:28, SegmentStatistics.java:75-77,110-112)
  * week since epoch: WEEKS.between(epoch+4d, t) in UTC  (SegmentStatistics.java:108-121)
  * hour of week:     (isoDayOfWeek-1)*24 + hourOfDay, UTC (SegmentStatistics.java:73-86)
  * speed bin:        Math.round(speed*3.6) clamped to 119 (SegmentStatistics.java:94-105)
                      Java Math.round = floor(x+0.5) — numpy.round is
                      banker's rounding, so both flavours use floor(x+0.5).
  * packed bin:       hour*168 + speedBin (the reference multiplies by
                      HOURS_IN_WEEK, not NUM_SPEED_BINS — a self-consistent
                      quirk; decode is %168 / /168, SegmentStatistics.java:65-71,88-91)

All Spark flavours are pure column expressions (JVM codegen).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import (
    HOURS_IN_WEEK,
    NUM_SPEED_BINS,
    SEC_TO_MS_THRESHOLD,
    WEEK_MS,
    WEEK_OFFSET_MS,
)

# ---------------------------------------------------------------------------
# numpy (oracle/datagen)
# ---------------------------------------------------------------------------


def coerce_ms_np(t) -> np.ndarray:
    t = np.asarray(t, dtype=np.int64)
    return np.where(t < SEC_TO_MS_THRESHOLD, t * 1000, t)


def week_np(t_ms) -> np.ndarray:
    """ChronoUnit.WEEKS.between truncates toward zero; timestamps of
    interest are > WEEK_OFFSET so floor == trunc here."""
    t = coerce_ms_np(t_ms)
    return ((t - WEEK_OFFSET_MS) // WEEK_MS).astype(np.int32)


def hour_of_week_np(t_ms) -> np.ndarray:
    t = coerce_ms_np(t_ms)
    days = t // 86_400_000  # days since epoch (Thursday)
    dow_iso0 = (days + 3) % 7  # Monday=0 … Sunday=6 (epoch Thu ⇒ +3)
    hour = (t // 3_600_000) % 24
    return (dow_iso0 * 24 + hour).astype(np.int32)


def speed_bin_np(speed_ms) -> np.ndarray:
    kmh = np.asarray(speed_ms, dtype=np.float64) * 3.6
    b = np.floor(kmh + 0.5)  # Java Math.round
    b = np.where(np.isnan(kmh), 0.0, b)  # Java Math.round(NaN) == 0
    b = np.where(np.isposinf(kmh), float(NUM_SPEED_BINS), b)  # round(inf) ⇒ clamp
    b = np.minimum(b, NUM_SPEED_BINS - 1)
    return b.astype(np.int32)


def packed_bin_np(hour, speed_bin) -> np.ndarray:
    return (np.asarray(hour) * HOURS_IN_WEEK + np.asarray(speed_bin)).astype(np.int32)


def bin_mean_np(speed_bin) -> np.ndarray:
    """getBinMean: ((bin*1.0) - 0.5)/3.6 m/s (SegmentStatistics.java:61-63)."""
    return (np.asarray(speed_bin, dtype=np.float64) - 0.5) / 3.6


# ---------------------------------------------------------------------------
# Spark columns (engine)
# ---------------------------------------------------------------------------


def coerce_ms_col(t: Column) -> Column:
    t = t.cast("long")
    return F.when(t < F.lit(SEC_TO_MS_THRESHOLD), t * 1000).otherwise(t)


def week_col(t_ms: Column) -> Column:
    t = coerce_ms_col(t_ms)
    return F.floor((t - F.lit(WEEK_OFFSET_MS)) / F.lit(WEEK_MS)).cast("int")


def hour_of_week_col(t_ms: Column) -> Column:
    t = coerce_ms_col(t_ms)
    days = F.floor(t / F.lit(86_400_000))
    dow = (days + 3) % 7
    hour = F.floor(t / F.lit(3_600_000)) % 24
    return (dow * 24 + hour).cast("int")


def speed_bin_col(speed_ms: Column) -> Column:
    kmh = speed_ms.cast("double") * F.lit(3.6)
    b = F.floor(kmh + F.lit(0.5))
    b = (
        F.when(F.isnan(kmh), F.lit(0))  # Java Math.round(NaN) == 0
        .when(b > F.lit(NUM_SPEED_BINS - 1), F.lit(NUM_SPEED_BINS - 1))
        .otherwise(b)
    )
    return b.cast("int")


def bin_mean_col(speed_bin: Column) -> Column:
    return (speed_bin.cast("double") - F.lit(0.5)) / F.lit(3.6)
