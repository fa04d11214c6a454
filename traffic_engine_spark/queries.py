"""The driver-facing query registry: every implemented operator from
SURVEY.md §2 (+ the training-data family) as a (spark, sf_dir) → DataFrame
callable with a matching DuckDB-runnable ANSI-SQL oracle.

Each entry builds its Spark side from the engine operator it exercises
(plans/, operators/, functions/), never from an inline copy of it, so the
oracle gate checks the code the engine runs; the SQL stays an independent
spelling of the same semantics.

Conventions that make the oracle comparison exact:
  * the shared hash is ('0x'||substr(md5(x),1,15))::BIGINT ≡
    conv(substring(md5(x),1,15),16,10) — bit-identical in both engines;
  * float outputs are round(x, 4..6) in BOTH plans so summation-order FP
    noise cannot flip the value hash;
  * timestamps go through epoch_ms(ts) ≡ unix_millis(cast(ts as timestamp))
    (session TZ is UTC);
  * every computed column is aliased identically on both sides.

GPS-shaped queries derive deterministic points from `events`
(lat/lon/ts from event_id arithmetic) so the spatial operators have a
DuckDB-checkable oracle on the driver's shared tables; the *real* image
pipeline runs on the synthetic Iceberg-shaped images table and is
oracle-checked by pytest (tests/test_parity.py) and exposed here as
rows-only entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import Z_AREA, Z_ITEM
from .functions.cells import (
    grid_disk_offsets,
    morton_col,
    tile2lat_col,
    tile2lon_col,
    tile_x_col,
    tile_y_col,
)
from .functions.geodesy import haversine_m_col
from .functions.text import (
    LANG_PROFILES,
    TOKEN_RE,
    avg_token_len,
    fingerprint,
    n_tokens_bpe,
    n_tokens_ws,
    punct_ratio,
    stopword_count,
    stopword_ratio,
    ws_tokens,
)
from .operators import ann, dedup, relational, spatial, trajectory
from .plans import stats as S

# ---------------------------------------------------------------------------
# loaders + shared derivations
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GPS-shaped points from events (shared with SQL CTE)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        (F.lit(37.5) + (F.col("event_id") % 1000).cast("double") * F.lit(0.0005)).alias("lat"),
        (F.lit(-122.5) + (F.expr("event_id DIV 7") % 1000).cast("double") * F.lit(0.0005)).alias("lon"),
        "value",
        "event_type",
    )


PTS_CTE = """
pts AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         37.5 + (event_id % 1000) * 0.0005 AS lat,
         -122.5 + ((event_id // 7) % 1000) * 0.0005 AS lon,
         value, event_type
  FROM events
)
"""

# slippy tile SQL fragments (exact parity with functions/cells.py)
def _sql_tile_x(lon: str, z: int) -> str:
    return f"CAST(floor(({lon} + 180.0) / 360.0 * {1 << z}) AS BIGINT)"


def _sql_tile_y(lat: str, z: int) -> str:
    return (
        f"CAST(floor((1.0 - ln(tan(radians({lat})) + 1.0/cos(radians({lat}))) / pi()) "
        f"/ 2.0 * {1 << z}) AS BIGINT)"
    )


def _sql_spread(expr: str) -> str:
    """Morton bit-spread (matches functions/cells._spread_bits_col)."""
    out = expr
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        out = f"(({out} | ({out} << {shift})) & {mask})"
    return out


def _sql_morton(x: str, y: str) -> str:
    return f"({_sql_spread(x)} | ({_sql_spread(y)} << 1))"


_SQL_HASH = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _sql_hash(x: str) -> str:
    return _SQL_HASH.format(x=x)


# binning SQL (exact parity with functions/binning.py; inputs already ms)
def _sql_week(ts_ms: str) -> str:
    return f"CAST(floor(({ts_ms} - 345600000) / 604800000.0) AS INT)"


def _sql_hour(ts_ms: str) -> str:
    return (
        f"CAST(((({ts_ms} // 86400000) + 3) % 7) * 24 + ({ts_ms} // 3600000) % 24 AS INT)"
    )


def _sql_speed_bin(speed: str) -> str:
    return f"CAST(least(floor({speed} * 3.6 + 0.5), 119) AS INT)"


# ---------------------------------------------------------------------------
# registry: name -> (callable, oracle_sql | None)
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# Pytest-only entries: brute-force/redundant variants kept for
# cross-checking a registered scale path (each maps to its twin in
# YARDSTICK_TWINS), plus operators added after the driver's CORRECTNESS
# window reached its 50-entry cap (no twin; oracle-gated all the same).
# Exercised by tests/test_yardsticks.py and tools/check_oracle.py
# --yardsticks.
YARDSTICKS: dict[str, tuple] = {}

YARDSTICK_TWINS = {
    "knn_join": "knn_join_cells",
    "dedup_embedding_ivf": "dedup_embedding_lsh",
    "dedup_semantic": "dedup_components",
    "ann_topk": "ann_lsh_topk",
    "ann_lsh_buckets": "ann_lsh_topk",
    "dedup_embedding_cosine": "dedup_embedding_lsh",
    "dedup_ngram_jaccard": "dedup_ngram_prefix",
    "rollup_agg": "rollup_weeks",
}


def yq(name: str, sql: str | None):
    def deco(fn):
        YARDSTICKS[name] = (fn, sql)
        return fn

    return deco


# =========================== spatial / traffic =============================


@q(
    "tile_assign",
    f"""
WITH {PTS_CTE}
SELECT event_id,
       {_sql_tile_x('lon', 11)} AS tile_x11, {_sql_tile_y('lat', 11)} AS tile_y11,
       {_sql_tile_x('lon', 18)} AS tile_x18, {_sql_tile_y('lat', 18)} AS tile_y18,
       ({18 << 58} | ({_sql_tile_x('lon', 18)} << 29) | {_sql_tile_y('lat', 18)}) AS cell,
       {_sql_morton(_sql_tile_x('lon', 18), _sql_tile_y('lat', 18))} AS morton
FROM pts
""",
)
def tile_assign(spark, sf_dir):
    """C1/C4 + packed cell + Morton key (SpatialDataStore.java:199-208)."""
    p = _points(spark, sf_dir)
    x18, y18 = tile_x_col(F.col("lon"), Z_ITEM), tile_y_col(F.col("lat"), Z_ITEM)
    return p.select(
        "event_id",
        tile_x_col(F.col("lon"), Z_AREA).alias("tile_x11"),
        tile_y_col(F.col("lat"), Z_AREA).alias("tile_y11"),
        x18.alias("tile_x18"),
        y18.alias("tile_y18"),
        (F.lit(18 << 58).cast("long") + F.shiftleft(x18, 29) + y18).alias("cell"),
        morton_col(x18, y18).alias("morton"),
    )


@q(
    "tile_inverse",
    f"""
WITH {PTS_CTE},
tiles AS (SELECT DISTINCT {_sql_tile_x('lon', 14)} AS tx, {_sql_tile_y('lat', 14)} AS ty FROM pts)
SELECT tx, ty,
       round(tx / pow(2.0, 14) * 360.0 - 180.0, 9) AS west,
       round(degrees(atan((exp(pi() - (2.0*pi()*ty)/pow(2.0,14)) - exp(-(pi() - (2.0*pi()*ty)/pow(2.0,14))))/2.0)), 9) AS north
FROM tiles
""",
)
def tile_inverse(spark, sf_dir):
    """C2 — tile2lon/tile2lat (SpatialDataStore.java:254-261)."""
    p = _points(spark, sf_dir)
    t = p.select(
        tile_x_col(F.col("lon"), 14).alias("tx"), tile_y_col(F.col("lat"), 14).alias("ty")
    ).distinct()
    return t.select(
        "tx",
        "ty",
        F.round(tile2lon_col(F.col("tx"), 14), 9).alias("west"),
        F.round(tile2lat_col(F.col("ty"), 14), 9).alias("north"),
    )


@q(
    "cell_join",
    f"""
WITH {PTS_CTE},
a AS (SELECT event_id, {_sql_tile_x('lon', 16)} AS cx, {_sql_tile_y('lat', 16)} AS cy
      FROM pts WHERE event_id % 2 = 0),
b AS (SELECT event_id, {_sql_tile_x('lon', 16)} AS cx, {_sql_tile_y('lat', 16)} AS cy
      FROM pts WHERE event_id % 2 = 1),
ring AS (SELECT a.event_id AS ea, b.event_id AS eb
         FROM a JOIN b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                      AND b.cy BETWEEN a.cy - 1 AND a.cy + 1)
SELECT ea AS cell_probe, count(*) AS n_candidates
FROM ring GROUP BY ea
""",
)
def cell_join(spark, sf_dir):
    """J1 — cell equi-join with grid_disk(1) ring expansion; candidate
    counts per probe point.

    r6 plan (guide §2.3 "aggregate before you shuffle"): the output only
    needs the COUNT of build-side rows per probe, and that count is a pure
    function of the probe's CELL — so aggregate the build side to per-cell
    counts first, compute the ring sum per DISTINCT probe cell, and join
    the per-cell result back to probe rows (broadcast: the cell universe
    is bounded by geometry, not by |events|).  The previous plan exploded
    probe×9 rows into the join and shipped every matching PAIR into the
    final groupBy — output-identical, but the shuffle carried |pairs| rows
    (~quadratic in local density: 50 s at sf1.0) instead of |cells|."""
    p = _points(spark, sf_dir)
    a = p.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("ea"),
        tile_x_col(F.col("lon"), 16).alias("cx"),
        tile_y_col(F.col("lat"), 16).alias("cy"),
    )
    b = p.filter(F.col("event_id") % 2 == 1).select(
        tile_x_col(F.col("lon"), 16).alias("cx"),
        tile_y_col(F.col("lat"), 16).alias("cy"),
    )
    b_cnt = b.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("_nb"))
    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in grid_disk_offsets(1)]
    )
    a_cells = a.select("cx", "cy").distinct()
    ring = a_cells.withColumn("o", F.explode(offsets)).select(
        F.col("cx").alias("acx"),
        F.col("cy").alias("acy"),
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    cell_counts = (
        ring.join(b_cnt, ["cx", "cy"])
        .groupBy(F.col("acx").alias("cx"), F.col("acy").alias("cy"))
        .agg(F.sum("_nb").alias("n_candidates"))
    )
    # no broadcast hint: the cell table is usually tiny (AQE converts to a
    # broadcast join at runtime), but its cardinality is bounded by the
    # occupied-cell universe, which a planet-scale corpus can make large —
    # let AQE pick from the REAL post-agg size instead of pinning it
    return a.join(cell_counts, ["cx", "cy"]).select(
        F.col("ea").alias("cell_probe"), "n_candidates"
    )


@q(
    "cell_join_sampled",
    f"""
WITH {PTS_CTE},
a AS (SELECT event_id, {_sql_tile_x('lon', 16)} AS cx, {_sql_tile_y('lat', 16)} AS cy
      FROM pts WHERE event_id % 2 = 0),
b AS (SELECT event_id, {_sql_tile_x('lon', 16)} AS cx, {_sql_tile_y('lat', 16)} AS cy
      FROM pts WHERE event_id % 2 = 1),
sa AS (SELECT * FROM a
       WHERE {_sql_hash("CAST(cx AS VARCHAR) || ',' || CAST(cy AS VARCHAR)")} % 1000000 < 200000),
sb AS (SELECT * FROM b
       WHERE {_sql_hash("CAST(cx AS VARCHAR) || ',' || CAST(cy AS VARCHAR)")} % 1000000 < 200000)
SELECT sa.cx AS cx, sa.cy AS cy, count(*) AS n_pairs,
       count(*) * 5 AS est_pairs
FROM sa JOIN sb ON sa.cx = sb.cx AND sa.cy = sb.cy
GROUP BY 1, 2
""",
)
def cell_join_sampled(spark, sf_dir):
    """Approximate join aggregates by UNIVERSE sampling (ICDE'25 random
    sampling over spatial joins / quickr family): the (cx, cy) cell
    universe is hash-sampled at p=0.2 on BOTH sides with the shared
    deterministic hash, so every pair of a surviving cell is kept and the
    per-cell pair count scales by exactly 1/p — unlike independent
    per-side sampling, which keeps only p² of pairs.  The filter pushes
    below the join on both scans.  operators/relational.
    universe_sampled_join."""
    p = _points(spark, sf_dir)
    a = p.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        tile_x_col(F.col("lon"), 16).alias("cx"),
        tile_y_col(F.col("lat"), 16).alias("cy"),
    )
    b = p.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("eb"),
        tile_x_col(F.col("lon"), 16).alias("cx"),
        tile_y_col(F.col("lat"), 16).alias("cy"),
    )
    joined = relational.universe_sampled_join(a, b, ["cx", "cy"], rate=0.2)
    return joined.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.count(F.lit(1)) * F.lit(5)).alias("est_pairs"),
    )


@yq(
    "knn_join",
    f"""
WITH {PTS_CTE},
p AS (SELECT event_id, lat, lon FROM pts WHERE event_id % 20 = 0),
s AS (SELECT event_id AS station_id, lat AS s_lat, lon AS s_lon FROM pts WHERE event_id % 100 = 7),
scored AS (
  SELECT p.event_id, s.station_id,
         (p.lat - s.s_lat)*(p.lat - s.s_lat) + (p.lon - s.s_lon)*(p.lon - s.s_lon) AS d2
  FROM p CROSS JOIN s),
ranked AS (SELECT event_id, station_id, d2,
                  row_number() OVER (PARTITION BY event_id ORDER BY d2, station_id) AS rank
           FROM scored)
SELECT event_id, rank, station_id, round(d2, 12) AS dist2
FROM ranked WHERE rank <= 3
""",
)
def knn_join(spark, sf_dir):
    """Broadcast kNN join (the north star's candidate operator): every 20th
    point to its 3 nearest 'stations' (every 100th ≡ 7)."""
    p = _points(spark, sf_dir)
    probes = p.filter(F.col("event_id") % 20 == 0).select("event_id", "lat", "lon")
    stations = p.filter(F.col("event_id") % 100 == 7).select(
        F.col("event_id").alias("station_id"), "lat", "lon"
    )
    return spatial.knn_join_broadcast(
        probes, stations, k=3, point_id="event_id", station_id="station_id"
    )


@q(
    "knn_join_cells",
    f"""
WITH {PTS_CTE},
p AS (SELECT event_id, lat, lon FROM pts WHERE event_id % 20 = 0),
s AS (SELECT event_id AS station_id, lat AS s_lat, lon AS s_lon FROM pts WHERE event_id % 100 = 7),
scored AS (
  SELECT p.event_id, s.station_id,
         (p.lat - s.s_lat)*(p.lat - s.s_lat) + (p.lon - s.s_lon)*(p.lon - s.s_lon) AS d2
  FROM p CROSS JOIN s),
ranked AS (SELECT event_id, station_id, d2,
                  row_number() OVER (PARTITION BY event_id ORDER BY d2, station_id) AS rank
           FROM scored)
SELECT event_id, rank, station_id, round(d2, 12) AS dist2
FROM ranked WHERE rank <= 3
""",
)
def knn_join_cells(spark, sf_dir):
    """The SCALE path for kNN: candidates via packed-cell ring equi-join
    (station side carries the ring replication), exact refine + rank — no
    probe×station cross.  z12/ring1 covers the 3rd-NN radius on this data
    at every sf (verified vs brute at sf0.01 AND sf0.1), so the brute SQL
    is its exact oracle."""
    p = _points(spark, sf_dir)
    probes = p.filter(F.col("event_id") % 20 == 0).select("event_id", "lat", "lon")
    stations = p.filter(F.col("event_id") % 100 == 7).select(
        F.col("event_id").alias("station_id"), "lat", "lon"
    )
    return spatial.knn_join_cells(
        probes, stations, zoom=12, ring=1, k=3,
        point_id="event_id", station_id="station_id",
    )


_POLYGONS = [
    {"poly_id": 0, "coords": [(-122.5, 37.5), (-122.3, 37.5), (-122.3, 37.7), (-122.5, 37.7)]},
    {"poly_id": 1, "coords": [(-122.3, 37.5), (-122.0, 37.5), (-122.0, 37.9), (-122.3, 37.9)]},
    {"poly_id": 2, "coords": [(-122.5, 37.7), (-122.3, 37.7), (-122.4, 37.99)]},
]


def _sql_pip() -> str:
    cases = []
    for poly in sorted(_POLYGONS, key=lambda p: p["poly_id"]):
        conds = []
        cs = poly["coords"]
        for (x1, y1), (x2, y2) in zip(cs, cs[1:] + cs[:1]):
            conds.append(f"(({x2} - {x1}) * (lat - {y1}) - ({y2} - {y1}) * (lon - {x1})) >= 0")
        cases.append(f"WHEN {' AND '.join(conds)} THEN {poly['poly_id']}")
    return "CASE " + " ".join(cases) + " ELSE -1 END"


@q(
    "pip_assign",
    f"""
WITH {PTS_CTE}
SELECT event_id, {_sql_pip()} AS poly_id FROM pts
""",
)
def pip_assign(spark, sf_dir):
    """J7 — point-in-polygon against broadcast polygons (convex half-plane
    form here; the general winding/even-odd UDF variant is
    operators/spatial.pip_assign_winding, exercised in tests)."""
    p = _points(spark, sf_dir)
    return spatial.pip_assign_convex(p, _POLYGONS).select("event_id", "poly_id")


@q(
    "asof_join",
    f"""
WITH {PTS_CTE},
tagged AS (
  SELECT user_id, ts_ms, event_id, 1 AS side FROM pts WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts_ms, event_id, 0 AS side FROM pts WHERE event_type = 'purchase'),
carried AS (
  SELECT user_id, ts_ms, event_id, side,
         max(CASE WHEN side = 0 THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY ts_ms, side, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL AS has_prev,
         last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_ms, side, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_purchase
  FROM tagged)
SELECT event_id, prev_purchase
FROM carried WHERE side = 1
""",
)
def asof_join(spark, sf_dir):
    """J3-shape as-of join: for each click, the latest purchase by the same
    user at or before it — operators/relational.asof_join (union-tag-window
    plan, one shuffle; a timestamp tie goes to the largest event_id)."""
    p = _points(spark, sf_dir)
    clicks = p.filter(F.col("event_type") == "click").select("user_id", "ts_ms", "event_id")
    buys = p.filter(F.col("event_type") == "purchase").select("user_id", "ts_ms", "event_id")
    carried = relational.asof_join(clicks, buys, on="user_id", left_ts="ts_ms", right_ts="ts_ms")
    return carried.select("event_id", F.col("event_id_asof").alias("prev_purchase"))


@q(
    "sessionize",
    f"""
WITH {PTS_CTE},
flagged AS (
  SELECT user_id, ts_ms, event_id,
         CASE WHEN lag(ts_ms) OVER w IS NULL THEN 1
              WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS newflag
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
sessions AS (
  SELECT user_id, ts_ms,
         CAST(sum(newflag) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
FROM sessions GROUP BY user_id, session_id
""",
)
def sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization (30-min gap) + session stats."""
    p = _points(spark, sf_dir)
    s = relational.sessionize(
        p.select("user_id", "ts_ms", "event_id"),
        key="user_id", ts_ms="ts_ms", tiebreak="event_id",
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ms").alias("start_ms"),
        F.max("ts_ms").alias("end_ms"),
    )


@q(
    "pair_speed",
    f"""
WITH {PTS_CTE},
pairs AS (
  SELECT user_id, ts_ms, lat, lon,
         lag(ts_ms) OVER w AS p_ts, lag(lat) OVER w AS p_lat, lag(lon) OVER w AS p_lon
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
adm AS (
  SELECT user_id, ts_ms - p_ts AS dt_ms,
         2.0 * 6371008.8 * asin(sqrt(
           least(1.0, pow(sin(radians(lat - p_lat)/2),2)
                 + cos(radians(p_lat))*cos(radians(lat))*pow(sin(radians(lon - p_lon)/2),2)))) AS dist_m
  FROM pairs
  WHERE p_ts IS NOT NULL AND (lat != p_lat OR lon != p_lon) AND ts_ms - p_ts <= 200000000000)
SELECT user_id, count(*) AS n_pairs,
       CAST(sum(CAST(floor(dist_m * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_mm,
       CAST(sum(CASE WHEN dt_ms > 0 AND dist_m / (dt_ms/1000.0) <= 31.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_admissible
FROM adm GROUP BY user_id
""",
)
def pair_speed(spark, sf_dir):
    """W1 + F5/F6/F7/F8 on oracle-checkable data: per-user lag pairing,
    stationary/max-gap filters, haversine speed admissibility
    (functions/geodesy.haversine_m_col)."""
    p = _points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    pairs = (
        p.withColumn("p_ts", F.lag("ts_ms").over(w))
        .withColumn("p_lat", F.lag("lat").over(w))
        .withColumn("p_lon", F.lag("lon").over(w))
        .filter(
            F.col("p_ts").isNotNull()
            & ((F.col("lat") != F.col("p_lat")) | (F.col("lon") != F.col("p_lon")))
            & ((F.col("ts_ms") - F.col("p_ts")) <= F.lit(200_000_000_000))
        )
    )
    dist = haversine_m_col(F.col("p_lon"), F.col("p_lat"), F.col("lon"), F.col("lat"))
    adm = pairs.withColumn("dist_m", dist).withColumn(
        "dt_ms", F.col("ts_ms") - F.col("p_ts")
    )
    # per-pair dist is bit-identical across engines (same formula); summing
    # integer millimetres (floor(x+0.5), Java-round semantics) makes the
    # total independent of summation order — float sums are not.
    return adm.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.floor(F.col("dist_m") * 1000.0 + F.lit(0.5)).cast("long")).alias("total_mm"),
        F.sum(
            F.when(
                (F.col("dt_ms") > 0)
                & (F.col("dist_m") / (F.col("dt_ms") / 1000.0) <= 31.0),
                1,
            ).otherwise(0)
        ).alias("n_admissible"),
    )


def _hist(spark, sf_dir) -> DataFrame:
    """plans/stats.histograms over pts: event_type is the segment_id,
    ts_ms the time and min(|value|, 33) the speed (the `hist` CTE)."""
    samples = _points(spark, sf_dir).select(
        F.col("event_type").alias("segment_id"),
        F.col("ts_ms").alias("time"),
        F.least(F.abs(F.col("value")), F.lit(33.0)).alias("speed"),
    )
    return S.histograms(samples)


@q(
    "speed_histogram",
    f"""
WITH {PTS_CTE}
SELECT event_type AS segment_key, {_sql_week('ts_ms')} AS week, {_sql_hour('ts_ms')} AS hour_of_week,
       {_sql_speed_bin('least(abs(value), 33.0)')} AS speed_bin, count(*) AS n
FROM pts
GROUP BY 1, 2, 3, 4
""",
)
def speed_histogram(spark, sf_dir):
    """A2 — plans/stats.histograms, the reference's week/hour/speed binning
    (SegmentStatistics.java:61-131), keyed by event_type."""
    return _hist(spark, sf_dir).withColumnRenamed("segment_id", "segment_key")


_HIST_CTE = f"""
hist AS (
  SELECT event_type AS segment_key, {_sql_week('ts_ms')} AS week, {_sql_hour('ts_ms')} AS hour_of_week,
         {_sql_speed_bin('least(abs(value), 33.0)')} AS speed_bin, count(*) AS n
  FROM pts GROUP BY 1, 2, 3, 4)
"""


@q(
    "summary_stats",
    f"""
WITH {PTS_CTE}, {_HIST_CTE}
SELECT segment_key,
       round(sum(((speed_bin - 0.5)/3.6) * n) / sum(n), 6) AS mean_ms,
       round(sqrt(sum(pow((speed_bin - 0.5)/3.6, 2) * n) / sum(n)
                  - pow(sum(((speed_bin - 0.5)/3.6) * n) / sum(n), 2)), 6) AS stddev_ms,
       CAST(sum(n) AS BIGINT) AS count
FROM hist GROUP BY segment_key
""",
)
def summary_stats(spark, sf_dir):
    """A4 — plans/stats.summary_stats: weighted mean + population stddev
    over histogram bin means (SummaryStatistics.java:69-162)."""
    out = S.summary_stats(_hist(spark, sf_dir))
    return out.select(
        F.col("segment_id").alias("segment_key"),
        F.round("mean_ms", 6).alias("mean_ms"),
        F.round("stddev_ms", 6).alias("stddev_ms"),
        F.col("count").cast("long").alias("count"),
    )


@q(
    "rollup_weeks",
    f"""
WITH {PTS_CTE}, {_HIST_CTE}
SELECT segment_key, hour_of_week, speed_bin, CAST(sum(n) AS BIGINT) AS n
FROM hist GROUP BY segment_key, hour_of_week, speed_bin
""",
)
def rollup_weeks(spark, sf_dir):
    """A3 — plans/stats.cumulative_rollup, the all-weeks rollup
    (StatsDataStore.java:164-173)."""
    return S.cumulative_rollup(_hist(spark, sf_dir)).withColumnRenamed(
        "segment_id", "segment_key"
    )


@q(
    "speed_percentiles",
    f"""
WITH {PTS_CTE}, {_HIST_CTE},
agg AS (SELECT segment_key, speed_bin, CAST(sum(n) AS BIGINT) AS n
        FROM hist GROUP BY segment_key, speed_bin),
cum AS (SELECT segment_key, speed_bin, n,
               sum(n) OVER (PARTITION BY segment_key ORDER BY speed_bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               sum(n) OVER (PARTITION BY segment_key) AS total
        FROM agg)
SELECT segment_key,
       min(CASE WHEN c >= total * 0.25 THEN speed_bin END) AS p25,
       min(CASE WHEN c >= total * 0.5  THEN speed_bin END) AS p50,
       min(CASE WHEN c >= total * 0.75 THEN speed_bin END) AS p75
FROM cum GROUP BY segment_key
""",
)
def speed_percentiles(spark, sf_dir):
    """Quartiles from histogram rows (the BaselineTile export's percentile
    fields, SURVEY Appendix A) — cumulative sum over speed bins."""
    return S.percentiles_from_histogram(_hist(spark, sf_dir)).withColumnRenamed(
        "segment_id", "segment_key"
    )


@q(
    "summary_stats_hourly",
    f"""
WITH {PTS_CTE}, {_HIST_CTE},
flt AS (SELECT * FROM hist WHERE hour_of_week IN (32, 33, 34)),
seg AS (SELECT segment_key, CAST(sum(n) AS BIGINT) AS seg_n FROM flt GROUP BY segment_key),
wtd AS (SELECT f.segment_key, f.hour_of_week,
               f.n::DOUBLE / seg.seg_n AS w,
               ((f.speed_bin - 0.5)/3.6) AS ms
        FROM flt f JOIN seg ON f.segment_key = seg.segment_key)
SELECT segment_key, hour_of_week,
       round(sum(w), 6) AS count,
       round(sum(ms * w) / sum(w), 6) AS mean_ms,
       round(sqrt(sum(ms * ms * w) / sum(w) - pow(sum(ms * w) / sum(w), 2)), 6) AS stddev_ms
FROM wtd GROUP BY segment_key, hour_of_week
""",
)
def summary_stats_hourly(spark, sf_dir):
    """A4/A5's hour-filter + per-hour keys + normalize branches
    (SummaryStatistics.java:46-50 weight n/count(segment))."""
    out = S.summary_stats(_hist(spark, sf_dir), by_hour=True, hours=[32, 33, 34], normalize=True)
    return out.select(
        F.col("segment_id").alias("segment_key"), "hour_of_week",
        F.round("count", 6).alias("count"),
        F.round("mean_ms", 6).alias("mean_ms"),
        F.round("stddev_ms", 6).alias("stddev_ms"),
    )


@q(
    "welch_ttest",
    f"""
WITH {PTS_CTE},
g AS (SELECT event_type, count(*) AS n, avg(value) AS mean,
             stddev_pop(value) AS sd
      FROM pts WHERE event_type IN ('click', 'view') GROUP BY event_type),
a AS (SELECT * FROM g WHERE event_type = 'click'),
b AS (SELECT * FROM g WHERE event_type = 'view')
SELECT round(a.mean - b.mean, 6) AS mean_diff,
       round(sqrt(a.sd*a.sd/a.n + b.sd*b.sd/b.n), 6) AS combined_stddev,
       round((a.mean - b.mean) / sqrt(a.sd*a.sd/a.n + b.sd*b.sd/b.n), 6) AS t_stat,
       round(pow(a.sd*a.sd/a.n + b.sd*b.sd/b.n, 2)
             / (pow(a.sd*a.sd/a.n, 2)/(a.n-1) + pow(b.sd*b.sd/b.n, 2)/(b.n-1)), 4) AS df
FROM a, b
""",
)
def welch_ttest(spark, sf_dir):
    """A7 — plans/stats.welch_t_test (SummaryStatisticsComparison.java:
    19-244, with the stats1/stats2 bug fixed) on the per-type (count, mean,
    stddev_pop) of click vs view values, as one constant-keyed row each."""
    g = (
        _points(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.avg("value").alias("mean_ms"),
            F.stddev_pop("value").alias("stddev_ms"),
        )
        .withColumn("segment_id", F.lit(0))
    )
    t = S.welch_t_test(
        g.filter(F.col("event_type") == "click"),
        g.filter(F.col("event_type") == "view"),
        strict_parity=False,
    )
    return t.select(
        F.round("mean_diff", 6).alias("mean_diff"),
        F.round("combined_stddev", 6).alias("combined_stddev"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("df", 4).alias("df"),
    )


@q(
    "anonymity_gate",
    f"""
WITH {PTS_CTE},
tiled AS (SELECT event_id, user_id, {_sql_tile_x('lon', 16)} AS ax, {_sql_tile_y('lat', 16)} AS ay FROM pts),
ok AS (SELECT ax, ay FROM tiled GROUP BY ax, ay HAVING count(DISTINCT user_id) >= 10)
SELECT t.ax AS tile_x, t.ay AS tile_y, count(*) AS n_points, count(DISTINCT t.user_id) AS n_users
FROM tiled t JOIN ok ON t.ax = ok.ax AND t.ay = ok.ay
GROUP BY t.ax, t.ay
""",
)
def anonymity_gate_q(spark, sf_dir):
    """W3 — plans/match.anonymity_gate, the k-anonymity cell gate
    (VehicleStates.java:19,188-227), at z16 with 10 users as the traces:
    cells observed by < 10 distinct users are dropped (exact,
    deterministic); the survivors are counted per tile."""
    from .plans.match import anonymity_gate

    fixes = _points(spark, sf_dir).select(F.col("user_id").alias("trace_id"), "lat", "lon")
    return (
        anonymity_gate(fixes, min_vehicles=10, zoom=16)
        .groupBy(
            tile_x_col(F.col("lon"), 16).alias("tile_x"),
            tile_y_col(F.col("lat"), 16).alias("tile_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("trace_id").alias("n_users"),
        )
    )


# =============================== relational ================================


@q(
    "tpch_q1",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark, sf_dir):
    """S2-style scan + hash agg (pricing summary)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "tpch_q3",
    """
SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       o.o_orderdate
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15' AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
""",
)
def tpch_q3(spark, sf_dir):
    """Broadcast dim join + agg (shipping priority shape).

    r6 (guide §3.1/§3.3): reduce orders by the customer dim FIRST — the
    date+segment filters leave a few-hundred-k-row (o_orderkey,
    o_orderdate) side that AQE broadcasts, so lineitem is never shuffled
    (the old order ran lineitem⋈orders as a sort-merge on o_orderkey
    before the segment filter could cut it)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    o2 = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    return (
        li.join(o2, li.l_orderkey == o2.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
    )


@q(
    "tpch_q5",
    """
SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def tpch_q5(spark, sf_dir):
    """Multi-way star join with broadcast dims."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        c.join(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@q(
    "topk_per_group",
    """
WITH rev AS (
  SELECT l_suppkey, l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem GROUP BY l_suppkey, l_partkey),
ranked AS (
  SELECT l_suppkey, l_partkey, revenue,
         row_number() OVER (PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey) AS rank
  FROM rev)
SELECT l_suppkey, rank, l_partkey, revenue FROM ranked WHERE rank <= 3
""",
)
def topk_per_group(spark, sf_dir):
    """W5-generalisation: top-3 parts by revenue per supplier."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    out = relational.topk_per_group(rev, ["l_suppkey"], "revenue", 3, tiebreak="l_partkey")
    return out.select("l_suppkey", "rank", "l_partkey", "revenue")


@yq(
    "rollup_agg",
    """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
       grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_agg(spark, sf_dir):
    """A3-shape rollup via native ROLLUP grouping sets."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus")).alias("gid"),
    )


@q(
    "range_join",
    """
SELECT o.o_orderkey, count(*) AS n_lines_in_window
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 60 DAY
GROUP BY o.o_orderkey
""",
)
def range_join(spark, sf_dir):
    """Equi-key + interval-containment range join — banded plan
    (band_width=64 days ≥ the 60-day window ⇒ ≤ 2 bands per interval),
    identical output to the post-filter plan
    (test_range_join_banded_matches_postfilter)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "win_end", F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    out = relational.range_join(
        o, li, on="o_orderkey",
        left_lo="o_orderdate", left_hi="win_end", right_point="l_shipdate",
        band_width=64 * 86_400_000,  # 64 days in ms (timestamp bounds)
    )
    return out.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_lines_in_window"))


# ============================ dedup / text / ANN ===========================


@q(
    "dedup_exact",
    f"""
SELECT {_sql_hash('text')} AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


_SQL_NORM = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
_SQL_TOKS = f"string_split(trim({_SQL_NORM}), ' ')"
_SQL_SHINGLES3 = (
    f"[array_to_string(list_slice(toks, i, i+2), ' ') "
    f"for i in range(1, greatest(len(toks) - 1, 2))]"
)


def _minhash_sql_coeffs():
    from .operators.dedup import _minhash_coeffs

    a, b = _minhash_coeffs(16)
    return f"[{', '.join(map(str, a))}]", f"[{', '.join(map(str, b))}]"


_MH_A, _MH_B = _minhash_sql_coeffs()


@q(
    "dedup_minhash_lsh",
    f"""
WITH norm AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES3}) AS s FROM norm),
base AS (SELECT doc_id, {_sql_hash('s')} % 2147483647 AS h0 FROM sh),
seeded AS (SELECT doc_id, j, h0 FROM base CROSS JOIN (SELECT unnest(range(16)) AS j)),
sig AS (SELECT doc_id, j, min(({_MH_A}[j+1] * h0 + {_MH_B}[j+1]) % 2147483647) AS h
        FROM seeded GROUP BY doc_id, j),
bands AS (SELECT doc_id, j // 4 AS band,
                 md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS bkey
          FROM sig GROUP BY doc_id, j // 4),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
shset AS (SELECT doc_id, list_distinct({_SQL_SHINGLES3.replace('toks', 'toks')}) AS sh
          FROM norm),
verified AS (
  SELECT doc_a, doc_b,
         round(len(list_intersect(x.sh, y.sh))::DOUBLE
               / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE, 6) AS jaccard
  FROM cand JOIN shset x ON x.doc_id = doc_a JOIN shset y ON y.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.2
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


@q(
    "dedup_simhash",
    f"""
WITH norm AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM norm),
h AS (SELECT doc_id, {_sql_hash('t')} AS h FROM tok),
bit AS (SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS v
        FROM h CROSS JOIN (SELECT unnest(range(32)) AS b)),
s AS (SELECT doc_id, b, sum(v) AS s FROM bit GROUP BY doc_id, b)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
""",
)
def dedup_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"))


def _sql_lsh_bucket(n_planes: int = 8, dims: int = 64) -> str:
    # plane weights folded to integer literals (plane_weight == the
    # ('0x'||substr(md5('{j}_{k}'),1,8))::BIGINT % 1000 - 500 expression —
    # verified identical; inlining keeps the SQL parse/eval tractable)
    from .functions.vectors import plane_weight

    terms = []
    for j in range(n_planes):
        dots = " + ".join(
            f"embedding[{k + 1}] * CAST({plane_weight(j, k)} AS BIGINT)"
            for k in range(dims)
        )
        terms.append(f"CASE WHEN ({dots}) > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


_SIMHASH_CTE = f"""
norm AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM norm),
h AS (SELECT doc_id, {_sql_hash('t')} AS h FROM tok),
bit AS (SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS v
        FROM h CROSS JOIN (SELECT unnest(range(32)) AS b)),
s AS (SELECT doc_id, b, sum(v) AS s FROM bit GROUP BY doc_id, b),
sig AS (SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM s GROUP BY doc_id)
"""


@q(
    "dedup_simhash_pairs",
    f"""
WITH {_SIMHASH_CTE},
bands AS (SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS bval
          FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sa, b.simhash AS sb
         FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
                                  AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
""",
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 4×8-bit banding join (pigeonhole-complete
    for Hamming ≤ 3) + exact bit_count verify."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"))


@q(
    "dedup_components",
    f"""
WITH RECURSIVE {_SIMHASH_CTE},
bands AS (SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS bval
          FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sa, b.simhash AS sb
         FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
                                  AND a.doc_id < b.doc_id),
pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS doc_id, min(r) AS component_id, node = min(r) AS keep
FROM reach GROUP BY node
""",
)
def dedup_components(spark, sf_dir):
    """Dedup RESOLUTION: transitive closure of the simhash near-dup pairs →
    one canonical (min-id) keeper per duplicate cluster.  Spark: min-label
    propagation to fixpoint (operators/graph.py); oracle: recursive-CTE
    reachability closure — independent algorithms, identical fixpoint."""
    from .operators.graph import dedup_resolution

    return dedup_resolution(dedup.simhash_pairs(_t(spark, sf_dir, "documents")))


_LSH_BANDS_CTE = f"""
sigbits AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_sql_lsh_bucket(32, 64)} AS bits
            FROM embeddings),
lbands AS (SELECT vec_id, t AS band, (bits >> (t * 4)) & 15 AS bval
           FROM sigbits CROSS JOIN (SELECT unnest(range(8)) AS t)),
vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""


@q(
    "dedup_embedding_lsh",
    f"""
WITH {_LSH_BANDS_CTE},
cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         FROM lbands a JOIN lbands c ON a.band = c.band AND a.bval = c.bval
                                    AND a.vec_id < c.vec_id)
SELECT id_a, id_b,
       round(list_dot_product(a.v, c.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
FROM cand JOIN vecs a ON a.vec_id = id_a JOIN vecs c ON c.vec_id = id_b
WHERE round(list_dot_product(a.v, c.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) >= 0.3
""",
)
def dedup_embedding_lsh(spark, sf_dir):
    """The SCALE path for embedding near-dup: multi-band (8×4-bit)
    hyperplane candidates + exact cosine verify (the all-pairs crossJoin
    stays a test-scale yardstick — see test_embedding_lsh_recall_vs_brute).
    Band shape pinned explicitly so the DuckDB oracle stays byte-stable;
    the operator DEFAULT is the corpus-adaptive rule (dedup.lsh_auto_bands)."""
    return dedup.embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), min_cosine=0.3, band_planes=4, n_bands=8
    )


@q(
    "ann_lsh_topk",
    f"""
WITH {_LSH_BANDS_CTE},
q AS (SELECT vec_id AS query_id, band, bval FROM lbands WHERE vec_id % 50 = 0),
cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         FROM q JOIN lbands c ON q.band = c.band AND q.bval = c.bval
                             AND q.query_id != c.vec_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(a.v, c.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM cand JOIN vecs a ON a.vec_id = cand.query_id
            JOIN vecs c ON c.vec_id = cand.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def ann_lsh_topk(spark, sf_dir):
    """Approximate top-k: multi-band candidates, exact cosine rank."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.lsh_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=5)


@q(
    "type_stats",
    f"""
WITH {PTS_CTE},
typed AS (SELECT CAST(event_id % 5 AS INT) AS street_type, value AS speed FROM pts)
SELECT street_type, count(*) AS count,
       round(sum(speed), 4) AS sum_speed, round(avg(speed), 6) AS avg_speed
FROM typed GROUP BY street_type
""",
)
def type_stats_q(spark, sf_dir):
    """A6 — TypeStatistics (data/stats/TypeStatistics.java:7-48) over an
    oracle-checkable street_type derivation."""
    typed = _points(spark, sf_dir).select(
        (F.col("event_id") % 5).cast("int").alias("street_type"),
        F.col("value").alias("speed"),
    )
    out = S.type_stats(typed)
    return out.select(
        "street_type", "count",
        F.round("sum_speed", 4).alias("sum_speed"),
        F.round("avg_speed", 6).alias("avg_speed"),
    )


@yq(
    "dedup_ngram_jaccard",
    f"""
WITH norm AS (SELECT doc_id, lang, source, {_SQL_TOKS} AS toks FROM documents),
shset AS (SELECT doc_id, lang, source, list_distinct({_SQL_SHINGLES3}) AS sh FROM norm)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE, 6) AS jaccard
FROM shset a JOIN shset b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.1
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_cols=["lang", "source"]
    )


@q(
    "dedup_ngram_prefix",
    f"""
WITH norm AS (SELECT doc_id, lang, source, {_SQL_TOKS} AS toks FROM documents),
shset AS (SELECT doc_id, lang, source, list_distinct({_SQL_SHINGLES3}) AS sh FROM norm)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE, 6) AS jaccard
FROM shset a JOIN shset b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE >= 0.1
""",
)
def dedup_ngram_prefix(spark, sf_dir):
    """Prefix-filtered (AllPairs) blocked Jaccard — the hot-block scale
    path; provably identical output to dedup_ngram_jaccard, so it shares
    the exact-Jaccard oracle."""
    return dedup.ngram_jaccard_prefix_pairs(
        _t(spark, sf_dir, "documents"), block_cols=["lang", "source"]
    )


@yq(
    "dedup_embedding_cosine",
    """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding)
             / (sqrt(list_dot_product(a.embedding, a.embedding))
                * sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding, b.embedding)
            / (sqrt(list_dot_product(a.embedding, a.embedding))
               * sqrt(list_dot_product(b.embedding, b.embedding))), 6) >= 0.3
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Brute-force cosine yardstick — row-count-guarded (raises > 100k
    vectors); the registered scale path is dedup_embedding_lsh."""
    return dedup.embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"), min_cosine=0.3)


@yq(
    "ann_topk",
    """
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding, c.embedding)
         / (sqrt(list_dot_product(q.embedding, q.embedding))
            * sqrt(list_dot_product(c.embedding, c.embedding))) AS cos
  FROM q CROSS JOIN c WHERE q.vec_id != c.vec_id),
ranked AS (SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return ann.brute_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=5)


@yq(
    "ann_pq_refine",
    """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id, emb FROM v WHERE vec_id < 8),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.emb, q.emb)
               - 2 * list_dot_product(q.emb, c.emb)
               + list_dot_product(c.emb, c.emb), 6) AS d2
  FROM q CROSS JOIN v c WHERE c.vec_id != q.vec_id),
ranked AS (SELECT query_id, neighbor_id, d2,
                  row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
           FROM pairs)
SELECT query_id, rank, neighbor_id, d2 FROM ranked WHERE rank <= 5
""",
)
def ann_pq_refine(spark, sf_dir):
    """Product-quantization ANN end-to-end (pq_train → pq_encode → ADC
    shortlist → exact refine) at FULL shortlist width, where the refined
    output must equal the exact L2 top-k — the DuckDB-checkable contract
    for the whole PQ machinery (codebook training, encode argmin, LUT
    broadcast, shortlist join-back, parity distance form).  The ADC
    approximation quality at PARTIAL width — the part SQL cannot express
    because the codes depend on trained codebooks — is pinned by
    tests/test_infra.py::test_pq_encode_and_search_match_numpy_replay
    (exact numpy-replay of codes, distances and ranking, plus a recall
    floor).  Beyond-reference op: similarity-search family
    (Jégou/Douze/Schmid TPAMI'11; FAISS IVF-PQ shape)."""
    emb = _t(spark, sf_dir, "embeddings")
    books = ann.pq_train(emb, m=8, k=16, iters=3)
    codes = ann.pq_encode(emb, books)
    n = emb.count()
    return ann.pq_search(
        emb.filter(F.col("vec_id") < 8), codes, books,
        topk=5, emb=emb, rerank=(n + 4) // 5,
    )


@yq(
    "ann_lsh_buckets",
    f"""
SELECT vec_id, {_sql_lsh_bucket(8, 64)} AS bucket FROM embeddings
""",
)
def ann_lsh_buckets(spark, sf_dir):
    return ann.lsh_buckets(_t(spark, sf_dir, "embeddings"), n_planes=8, dims=64)


def _sql_lang_case() -> str:
    scores_sql = {
        lang: "len(list_filter(toks, t -> t IN (" + ",".join(f"'{w}'" for w in words) + ")))"
        for lang, words in LANG_PROFILES.items()
    }
    # argmax with alphabetical tie-break (deterministic)
    langs = sorted(LANG_PROFILES)
    best = f"greatest({', '.join(scores_sql[la] for la in langs)})"
    case = "CASE " + " ".join(
        f"WHEN {scores_sql[la]} = {best} THEN '{la}'" for la in langs
    ) + " END"
    return case, best, scores_sql


_LANG_CASE, _LANG_BEST, _ = _sql_lang_case()


@q(
    "text_langid",
    f"""
WITH norm AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id, {_LANG_CASE} AS pred_lang, {_LANG_BEST} AS score FROM norm
""",
)
def text_langid(spark, sf_dir):
    """Stopword-profile language ID (argmax with alphabetical tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    scores = {
        lang: stopword_count(toks, words) for lang, words in sorted(LANG_PROFILES.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lang in sorted(LANG_PROFILES, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return docs.select("doc_id", pred.alias("pred_lang"), best.cast("long").alias("score"))


@q(
    "text_quality",
    f"""
WITH norm AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN strlen(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
       round(list_sum(list_transform(toks, t -> strlen(t)))::DOUBLE / greatest(len(toks), 1), 6) AS avg_token_len,
       round((strlen(text) - strlen(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
             / greatest(strlen(text), 1), 6) AS punct_ratio,
       round(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','it','you','that')))::DOUBLE
             / greatest(len(toks), 1), 6) AS stopword_ratio
FROM norm
""",
)
def text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_tokens_ws(F.col("text")).cast("long").alias("n_tokens"),
        F.round(avg_token_len(F.col("text")), 6).alias("avg_token_len"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


@q(
    "text_tokens",
    f"""
SELECT doc_id,
       CASE WHEN strlen(trim(text)) = 0 THEN 0 ELSE len({_SQL_TOKS}) END AS n_tokens_ws,
       len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens_bpe
FROM documents
""",
)
def text_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_tokens_ws(F.col("text")).cast("long").alias("n_tokens_ws"),
        n_tokens_bpe(F.col("text")).cast("long").alias("n_tokens_bpe"),
    )


_SQL_CANON = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_SQL_FP = _sql_hash(_SQL_CANON)


@q(
    "text_fingerprint",
    f"""
SELECT doc_id, {_SQL_FP} AS fp
FROM documents
""",
)
def text_fingerprint(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


@q(
    "contamination_near_dup",
    f"""
WITH norm AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
ev AS (SELECT doc_id + 1000000 AS doc_id,
              list_slice(toks, 1, greatest(CAST(floor(len(toks)*0.6) AS BIGINT), 1)) AS toks
       FROM norm WHERE doc_id % 10 = 0),
t_sh AS (SELECT doc_id, unnest({_SQL_SHINGLES3}) AS s FROM norm),
e_sh AS (SELECT doc_id, unnest({_SQL_SHINGLES3}) AS s FROM ev),
t_base AS (SELECT doc_id, {_sql_hash('s')} % 2147483647 AS h0 FROM t_sh),
e_base AS (SELECT doc_id, {_sql_hash('s')} % 2147483647 AS h0 FROM e_sh),
t_sig AS (SELECT doc_id, j, min(({_MH_A}[j+1] * h0 + {_MH_B}[j+1]) % 2147483647) AS h
          FROM t_base CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
e_sig AS (SELECT doc_id, j, min(({_MH_A}[j+1] * h0 + {_MH_B}[j+1]) % 2147483647) AS h
          FROM e_base CROSS JOIN (SELECT unnest(range(16)) AS j) GROUP BY doc_id, j),
t_bands AS (SELECT doc_id, j // 2 AS band, md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS bkey
            FROM t_sig GROUP BY doc_id, j // 2),
e_bands AS (SELECT doc_id, j // 2 AS band, md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS bkey
            FROM e_sig GROUP BY doc_id, j // 2),
cand AS (SELECT DISTINCT e.doc_id AS eval_doc_id, t.doc_id AS train_doc_id
         FROM t_bands t JOIN e_bands e ON t.band = e.band AND t.bkey = e.bkey),
t_set AS (SELECT doc_id, list_distinct({_SQL_SHINGLES3}) AS sh FROM norm),
e_set AS (SELECT doc_id, list_distinct({_SQL_SHINGLES3}) AS sh FROM ev)
SELECT eval_doc_id, train_doc_id,
       round(len(list_intersect(e.sh, t.sh))::DOUBLE
             / (len(e.sh) + len(t.sh) - len(list_intersect(e.sh, t.sh)))::DOUBLE, 6) AS jaccard
FROM cand JOIN e_set e ON e.doc_id = eval_doc_id JOIN t_set t ON t.doc_id = train_doc_id
WHERE round(len(list_intersect(e.sh, t.sh))::DOUBLE
            / (len(e.sh) + len(t.sh) - len(list_intersect(e.sh, t.sh)))::DOUBLE, 6) >= 0.4
""",
)
def contamination_near_dup(spark, sf_dir):
    """NEAR-DUP train/eval leakage (operators/dedup.
    contamination_near_dup_pairs): the eval split is a 60%-prefix
    TRUNCATION of every 10th train doc — zero exact-fingerprint matches,
    but Jaccard ≈ 0.6 against the source.  Banding is 8 bands × 2 hashes:
    recall at J=0.6 is 1-(1-0.6²)⁸ ≈ 0.97 (4-hash bands measured only
    ~40% — the r/L dial is the recall/cost knob, LSH theory working as
    designed).  This is the paraphrase/truncation leak class the exact
    sweep (contamination_exact) cannot see."""
    from .functions.text import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    cnt = F.greatest(F.floor(F.size(toks) * 0.6).cast("int"), F.lit(1))
    ev = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), cnt)).alias("text"),
    )
    return dedup.contamination_near_dup_pairs(docs, ev, band_size=2, min_jaccard=0.4)


@q(
    "sample_stratified",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_sql_hash("CAST(doc_id AS VARCHAR)")} % 1000000
      < CASE WHEN lang = 'en' THEN 500000 ELSE 100000 END
""",
)
def sample_stratified(spark, sf_dir):
    """Deterministic content-hash downsampling by stratum (the curriculum
    / source-mix op of a training-data pipeline): keep 50% of English,
    10% of everything else — reproducible across runs, cluster sizes and
    engines (no rand()); nested rates (0.1 ⊂ 0.5) by construction.
    operators/relational.deterministic_sample."""
    return relational.deterministic_sample(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id", rate=0.1, strata_col="lang", rates={"en": 0.5},
    ).select("doc_id", "lang", "source")


@q(
    "contamination_exact",
    f"""
WITH e0 AS (SELECT doc_id + 1000000 AS doc_id, upper(text) || '  ' AS text
            FROM documents WHERE doc_id % 10 = 0),
e AS (SELECT doc_id AS eval_doc_id, {_SQL_FP} AS fp FROM e0),
t AS (SELECT doc_id AS train_doc_id, {_SQL_FP} AS fp FROM documents)
SELECT eval_doc_id, min(train_doc_id) AS train_doc_id
FROM e JOIN t USING (fp)
GROUP BY eval_doc_id
""",
)
def contamination_exact(spark, sf_dir):
    """Train/eval leakage sweep (operators/dedup.contamination_pairs):
    eval docs whose normalised-text fingerprint appears in the training
    corpus.  The synthetic corpus is duplicate-free, so the eval split is
    a FORMATTING-PERTURBED copy of every 10th train doc (uppercased,
    whitespace-padded, remapped ids) — each must still be flagged against
    its source, which also proves the fingerprint's normalisation
    robustness end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  ")).alias("text"),
    )
    return dedup.contamination_pairs(docs, ev)


@q(
    "ann_ivf_assign",
    """
WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < 8),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
  SELECT v.vec_id, c.centroid_id,
         list_dot_product(v.emb, c.cv)
         / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
  FROM v CROSS JOIN c),
ranked AS (SELECT vec_id, centroid_id,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
           FROM scored)
SELECT vec_id, centroid_id FROM ranked WHERE rn = 1
""",
)
def ann_ivf_assign(spark, sf_dir):
    """IVF coarse quantiser: nearest of 8 seed centroids per vector
    (broadcast argmax — the ANN partition-assignment step)."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return ann.ivf_assign(emb, centroids)


@yq(
    "dedup_embedding_ivf",
    """
WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < 16),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cscored AS (
  SELECT v.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_dot_product(v.emb, c.cv)
                                     / (sqrt(list_dot_product(v.emb, v.emb))
                                        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                     c.centroid_id) AS rn
  FROM v CROSS JOIN c),
cells AS (SELECT vec_id, centroid_id FROM cscored WHERE rn <= 3),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id
                                  AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
FROM cand JOIN v a ON a.vec_id = id_a JOIN v b ON b.vec_id = id_b
WHERE round(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.3
""",
)
def dedup_embedding_ivf(spark, sf_dir):
    """IVF-blocked cosine near-dup (content-blocked cells, top-3
    multi-assignment, exact verify) — pytest-only yardstick family member
    of the registered `dedup_embedding_lsh` (registry stays at the
    driver's 50-entry cap); gated by tools/check_oracle.py --yardsticks."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return dedup.embedding_ivf_pairs(emb, centroids, min_cosine=0.3, assign_top=3)


@yq(
    "dedup_semantic",
    """
WITH RECURSIVE c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < 16),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cscored AS (
  SELECT v.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_dot_product(v.emb, c.cv)
                                     / (sqrt(list_dot_product(v.emb, v.emb))
                                        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                     c.centroid_id) AS rn
  FROM v CROSS JOIN c),
cells AS (SELECT vec_id, centroid_id FROM cscored WHERE rn <= 2),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id
                                  AND a.vec_id < b.vec_id),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN v a ON a.vec_id = id_a JOIN v b ON b.vec_id = id_b
  WHERE round(list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.3),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT v.vec_id,
       COALESCE(comp.component, v.vec_id) AS component_id,
       COALESCE(comp.component, v.vec_id) = v.vec_id AS keep
FROM v LEFT JOIN comp ON comp.node = v.vec_id
""",
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup composition (cluster -> within-cell cosine pairs ->
    connected components -> min-id keeper; singletons keep=true) — the
    semantic twin of the registered `dedup_components` resolution entry.
    Pytest-only yardstick, gated by tools/check_oracle.py --yardsticks."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return dedup.semantic_dedup(emb, centroids, min_cosine=0.3, assign_top=2)


_IVF_CTE = """
c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cscored AS (
  SELECT v.vec_id, c.centroid_id,
         list_dot_product(v.emb, c.cv)
         / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_dot_product(v.emb, c.cv)
                                     / (sqrt(list_dot_product(v.emb, v.emb))
                                        * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                     c.centroid_id) AS rn
  FROM v CROSS JOIN c)
"""


@q(
    "ann_ivf_search",
    f"""
WITH {_IVF_CTE},
cells AS (SELECT vec_id AS neighbor_id, centroid_id FROM cscored WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, centroid_id FROM cscored
           WHERE rn <= 2 AND vec_id % 50 = 0),
cand AS (SELECT DISTINCT p.query_id, cells.neighbor_id
         FROM probes p JOIN cells ON p.centroid_id = cells.centroid_id
         WHERE p.query_id != cells.neighbor_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.emb, n.emb)
         / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(n.emb, n.emb))) AS cos
  FROM cand JOIN v q ON q.vec_id = cand.query_id JOIN v n ON n.vec_id = cand.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def ann_ivf_search(spark, sf_dir):
    """IVF search: nprobe=2 nearest cells per query, exact cosine rank
    within the probed inverted lists (the ANN scale dial)."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    return ann.ivf_search(
        emb.filter(F.col("vec_id") % 50 == 0), emb, centroids, k=5, nprobe=2
    )


def _kmeans_sql(k: int = 8, iters: int = 3, dims: int = 64) -> str:
    """Unrolled Lloyd iterations as CTEs — the SQL replay of
    ann.kmeans_lloyd (same init, same (d2, cid) tie-break, same
    round-6 means, same empty-cluster coalesce)."""
    d2 = "(vv.vv - 2*list_dot_product(vv.v, c.c)) + list_dot_product(c.c, c.c)"
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "vv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM v)",
        f"c0 AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT vv.vec_id, vv.v, c.cid, {d2} AS d2, "
            f"row_number() OVER (PARTITION BY vv.vec_id ORDER BY {d2}, c.cid) AS rn "
            f"FROM vv CROSS JOIN c{i - 1} c)"
        )
        if i == iters:
            break
        parts.append(f"a{i} AS (SELECT vec_id, v, cid FROM s{i} WHERE rn = 1)")
        parts.append(
            f"m{i} AS (SELECT cid, i, round(avg(v[i]), 6) AS m FROM a{i} "
            f"CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS i) GROUP BY cid, i)"
        )
        parts.append(f"n{i} AS (SELECT cid, list(m ORDER BY i) AS c FROM m{i} GROUP BY cid)")
        parts.append(
            f"c{i} AS (SELECT p.cid, COALESCE(n{i}.c, p.c) AS c "
            f"FROM c{i - 1} p LEFT JOIN n{i} ON n{i}.cid = p.cid)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vec_id, cid AS centroid_id, round(d2, 6) AS dist2 FROM s{iters} WHERE rn = 1"
    )


@q("ann_kmeans", _kmeans_sql())
def ann_kmeans(spark, sf_dir):
    """IVF training: deterministic Lloyd k-means (k=8, 3 assignment
    passes) — the Spark loop vs the oracle's unrolled recursive CTEs."""
    return ann.kmeans_lloyd(_t(spark, sf_dir, "embeddings"))


@q(
    "tiles_for_z_quirk",
    f"""
WITH {PTS_CTE},
t AS (SELECT DISTINCT {_sql_tile_x('lon', 11)} AS x, {_sql_tile_y('lat', 11)} AS y FROM pts)
SELECT x, y,
       x * 7 AS strict_x, y * 7 AS strict_y,     -- abs(18-11)=7 quirk scale
       x * 128 AS fixed_x, y * 128 AS fixed_y    -- 2^(18-11) correct scale
FROM t
""",
)
def tiles_for_z_quirk(spark, sf_dir):
    """C3 — getTilesForZ's abs-difference zoom rescale
    (SpatialDataStore.java:218-252) vs the power-of-two fix, as columns."""
    p = _points(spark, sf_dir)
    t = p.select(
        tile_x_col(F.col("lon"), 11).alias("x"), tile_y_col(F.col("lat"), 11).alias("y")
    ).distinct()
    return t.select(
        "x", "y",
        (F.col("x") * 7).alias("strict_x"), (F.col("y") * 7).alias("strict_y"),
        (F.col("x") * 128).alias("fixed_x"), (F.col("y") * 128).alias("fixed_y"),
    )


def _traces_with_copies(spark, sf_dir):
    """Trace table (trace_id = user_id) plus deterministic jittered copies
    of every fifth trace (trace_id + 1000000, +0.00002° on both axes) —
    the perturbed-copy oracle pattern (cf. multimodal_phash_pairs): the
    copies ARE the planted near-duplicates both engines must find."""
    pts = _points(spark, sf_dir).select(
        F.col("user_id").alias("trace_id"), "ts_ms", "lat", "lon"
    )
    copies = pts.filter(F.col("trace_id") % 5 == 0).select(
        (F.col("trace_id") + 1000000).alias("trace_id"),
        "ts_ms",
        (F.col("lat") + 0.00002).alias("lat"),
        (F.col("lon") + 0.00002).alias("lon"),
    )
    return pts.unionByName(copies)


_TRACES_CTE = f"""
{PTS_CTE},
traces AS (
  SELECT user_id AS trace_id, ts_ms, lat, lon FROM pts
  UNION ALL
  SELECT user_id + 1000000 AS trace_id, ts_ms,
         lat + 0.00002 AS lat, lon + 0.00002 AS lon
  FROM pts WHERE user_id % 5 = 0
)
"""


@yq(
    "trace_near_dup",
    f"""
WITH {_TRACES_CTE},
cells AS (
  SELECT DISTINCT trace_id,
         ({16 << 58} | ({_sql_tile_x('lon', 16)} << 29) | {_sql_tile_y('lat', 16)}) AS cell
  FROM traces
),
sizes AS (SELECT trace_id, count(*) AS n FROM cells GROUP BY trace_id),
shared AS (
  SELECT a.trace_id AS trace_a, b.trace_id AS trace_b, count(*) AS shared_cells
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.trace_id < b.trace_id
  GROUP BY 1, 2
)
SELECT trace_a, trace_b, shared_cells, sa.n AS cells_a, sb.n AS cells_b,
       round(shared_cells::DOUBLE / (sa.n + sb.n - shared_cells), 6) AS jaccard
FROM shared
JOIN sizes sa ON trace_a = sa.trace_id
JOIN sizes sb ON trace_b = sb.trace_id
WHERE round(shared_cells::DOUBLE / (sa.n + sb.n - shared_cells), 6) >= 0.5
""",
)
def trace_near_dup(spark, sf_dir):
    """Trajectory near-dup CANDIDATES: cell-signature set Jaccard over an
    inverted z16 cell index (operators/trajectory.py) — the MinHash-LSH
    shape specialised to traces, where the slippy grid is the shingle
    space.  Planted jittered copies must pair with their originals at
    J >= 0.5; the densest natural pair in the star schema sits at ~0.125,
    so the threshold separates cleanly.  DuckDB-exact."""
    return trajectory.trace_near_dup_candidates(
        _traces_with_copies(spark, sf_dir), zoom=16, min_jaccard=0.5
    )


_STOPS_CTES = f"""
{PTS_CTE},
linked AS (
  SELECT user_id AS trace_id, ts_ms, lat, lon, event_id,
         lag(ts_ms) OVER w AS p_ts, lag(lat) OVER w AS p_lat, lag(lon) OVER w AS p_lon
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
flagged AS (
  SELECT *, (p_ts IS NOT NULL AND ts_ms - p_ts > 0 AND
      (2.0 * 6371008.8 * asin(sqrt(least(1.0, pow(sin(radians(lat - p_lat)/2),2)
        + cos(radians(p_lat))*cos(radians(lat))*pow(sin(radians(lon - p_lon)/2),2))))
       / ((ts_ms - p_ts)/1000.0)) <= 0.21) AS slow
  FROM linked),
islands AS (
  SELECT *, CAST(sum(CASE WHEN slow THEN 0 ELSE 1 END)
       OVER (PARTITION BY trace_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
  FROM flagged),
stops_raw AS (
  SELECT trace_id, island, min(p_ts) AS start_ms, max(ts_ms) AS end_ms,
         count(*) AS n_links,
         sum(CAST(floor(lat*1e6 + 0.5) AS BIGINT)) AS lat_sum,
         sum(CAST(floor(lon*1e6 + 0.5) AS BIGINT)) AS lon_sum
  FROM islands WHERE slow GROUP BY 1, 2),
stops AS (
  SELECT trace_id, island, start_ms, end_ms, end_ms - start_ms AS duration_ms,
         CAST(n_links + 1 AS BIGINT) AS n_points,
         round(lat_sum / n_links / 1e6, 6) AS centroid_lat,
         round(lon_sum / n_links / 1e6, 6) AS centroid_lon
  FROM stops_raw WHERE end_ms - start_ms >= 0 AND n_links + 1 >= 3)
"""


@yq(
    "detect_stops",
    f"""
WITH {_STOPS_CTES}
SELECT * FROM stops
""",
)
def detect_stops_q(spark, sf_dir):
    """Stay-point detection (operators/trajectory.detect_stops): maximal
    runs of consecutive sub-0.21 m/s haversine links, gaps-and-islands on
    one (trace, time) partitioning — one exchange, two in-partition sorts,
    one hash agg (PLANS.md "detect_stops").  Centroids via integer-
    microdegree sums so the values are partition-order independent.
    DuckDB-exact at the synthetic walk's natural dwell mix."""
    return trajectory.detect_stops(
        _points(spark, sf_dir),
        max_speed_ms=0.21,
        min_duration_ms=0,
        min_points=3,
        id_col="user_id",
        tiebreak="event_id",
    )


@yq(
    "geofence_transitions",
    f"""
WITH {PTS_CTE},
zoned AS (
  SELECT user_id AS trace_id, ts_ms, event_id, lat, lon, {_sql_pip()} AS poly_id
  FROM pts),
lagged AS (
  SELECT trace_id, ts_ms, lat, lon, poly_id,
         lag(poly_id) OVER (PARTITION BY trace_id ORDER BY ts_ms, event_id) AS from_zone
  FROM zoned)
SELECT trace_id, ts_ms, from_zone, poly_id AS to_zone,
       CASE WHEN from_zone IS NULL THEN 'start'
            WHEN from_zone = -1 AND poly_id != -1 THEN 'enter'
            WHEN from_zone != -1 AND poly_id = -1 THEN 'exit'
            ELSE 'switch' END AS kind,
       lat, lon
FROM lagged WHERE from_zone IS NULL OR from_zone != poly_id
""",
)
def geofence_transitions_q(spark, sf_dir):
    """Geofence enter/exit extraction (operators/spatial.geofence_transitions)
    composed with the convex-PIP zoner over the shared polygon literals —
    one lag window per trace, pure codegen, one exchange.  DuckDB-exact."""
    zoned = spatial.pip_assign_convex(_points(spark, sf_dir), _POLYGONS)
    return spatial.geofence_transitions(
        zoned, id_col="user_id", tiebreak="event_id"
    )


@yq(
    "resample_traces",
    f"""
WITH {PTS_CTE},
lagged AS (
  SELECT user_id AS trace_id, ts_ms, lat, lon,
         lag(ts_ms) OVER w AS p_ts, lag(lat) OVER w AS p_lat, lag(lon) OVER w AS p_lon
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
links AS (
  SELECT * FROM lagged WHERE p_ts IS NOT NULL AND ts_ms > p_ts),
ticks AS (
  SELECT trace_id, ts_ms, p_ts, p_lat, p_lon, lat, lon,
         unnest(generate_series(p_ts - p_ts % 21600000 + 21600000, ts_ms, 21600000)) AS tick_ms
  FROM links)
SELECT trace_id, tick_ms,
       p_lat + (lat - p_lat) * ((tick_ms - p_ts) / (ts_ms - p_ts)) AS lat,
       p_lon + (lon - p_lon) * ((tick_ms - p_ts) / (ts_ms - p_ts)) AS lon
FROM ticks
""",
)
def resample_traces_q(spark, sf_dir):
    """Fixed-interval (6 h) linear-interpolation resampling
    (operators/trajectory.resample_traces): one lag window + one
    sequence/explode Generate, zero shuffles after the per-trace sort.
    The open-below/closed-above tick assignment partitions the grid
    across links, so no tick duplicates.  DuckDB-exact (identical IEEE
    double interpolation)."""
    return trajectory.resample_traces(
        _points(spark, sf_dir),
        interval_ms=21_600_000,
        id_col="user_id",
        tiebreak="event_id",
    )


@yq(
    "trace_features",
    f"""
WITH {PTS_CTE},
base AS (
  SELECT user_id AS trace_id, ts_ms, lat, lon, event_id,
         ({15 << 58} | ({_sql_tile_x('lon', 15)} << 29) | {_sql_tile_y('lat', 15)}) AS cell,
         lag(lat) OVER w AS p_lat, lag(lon) OVER w AS p_lon,
         count(*) OVER wp AS n,
         sum(CAST(floor(lat*1e6 + 0.5) AS BIGINT)) OVER wp AS lat_sum,
         sum(CAST(floor(lon*1e6 + 0.5) AS BIGINT)) OVER wp AS lon_sum
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id),
         wp AS (PARTITION BY user_id)),
marked AS (
  SELECT *,
         lat_sum / n / 1e6 AS c_lat, lon_sum / n / 1e6 AS c_lon,
         count(*) OVER wc AS c,
         row_number() OVER (PARTITION BY trace_id, cell ORDER BY ts_ms, event_id) = 1 AS first_in_cell
  FROM base WINDOW wc AS (PARTITION BY trace_id, cell)),
agg AS (
  SELECT trace_id, count(*) AS n_points, max(ts_ms) - min(ts_ms) AS span_ms,
         CAST(sum(CASE WHEN p_lat IS NOT NULL THEN CAST(floor(
           2.0 * 6371008.8 * asin(sqrt(least(1.0, pow(sin(radians(lat - p_lat)/2),2)
             + cos(radians(p_lat))*cos(radians(lat))*pow(sin(radians(lon - p_lon)/2),2))))
           * 1000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS total_mm,
         CAST(sum(CAST(floor(pow(
           2.0 * 6371008.8 * asin(sqrt(least(1.0, pow(sin(radians(lat - c_lat)/2),2)
             + cos(radians(c_lat))*cos(radians(lat))*pow(sin(radians(lon - c_lon)/2),2)))), 2)
           * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS dev2_sum,
         CAST(sum(CASE WHEN first_in_cell THEN 1 ELSE 0 END) AS BIGINT) AS n_cells,
         CAST(sum(CASE WHEN first_in_cell THEN CAST(floor(c * log2(c) * 1e9 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS clogc
  FROM marked GROUP BY 1)
SELECT trace_id, n_points, span_ms, total_mm,
       round(sqrt(dev2_sum / n_points / 1e3), 6) AS rog_m,
       n_cells,
       round(log2(n_points) - clogc / 1e9 / n_points, 6) AS cell_entropy
FROM agg
""",
)
def trace_features_q(spark, sf_dir):
    """Per-trace mobility feature vectors (operators/trajectory.
    trace_features): path length, span, radius of gyration, distinct-cell
    count and visit entropy — every float reduction done in scaled
    integers so values are partition-order independent, whole thing on
    ONE exchange (no join; the cell windows subset-satisfy hash(trace)).
    DuckDB-exact."""
    return trajectory.trace_features(
        _points(spark, sf_dir), zoom=15, id_col="user_id", tiebreak="event_id"
    )


@yq(
    "colocation_pairs",
    f"""
WITH {PTS_CTE},
slot AS (
  SELECT DISTINCT user_id AS id,
         ({14 << 58} | ({_sql_tile_x('lon', 14)} << 29) | {_sql_tile_y('lat', 14)}) AS cell,
         ts_ms - ts_ms % 3600000 AS bucket
  FROM pts),
pairs AS (
  SELECT a.id AS trace_a, b.id AS trace_b, count(*) AS n_cobuckets,
         min(a.bucket) AS first_bucket_ms, max(a.bucket) AS last_bucket_ms
  FROM slot a JOIN slot b
    ON a.cell = b.cell AND a.bucket = b.bucket AND a.id < b.id
  GROUP BY 1, 2)
SELECT trace_a, trace_b, n_cobuckets, first_bucket_ms, last_bucket_ms
FROM pairs WHERE n_cobuckets >= 3
""",
)
def colocation_pairs_q(spark, sf_dir):
    """Spatiotemporal colocation (operators/trajectory.colocation_pairs):
    distinct per-trace (z14 cell, 1 h bucket) slots, one self-equi-join on
    the packed slot key, hash agg — the contact join, exact (no hot-slot
    cap here; the cap path only under-reports and is tested separately).
    DuckDB-exact at all three scales."""
    return trajectory.colocation_pairs(
        _points(spark, sf_dir),
        zoom=14,
        bucket_ms=3_600_000,
        min_cobuckets=3,
        id_col="user_id",
    )


@yq(
    "od_matrix",
    f"""
WITH {_STOPS_CTES},
trips AS (
  SELECT trace_id, end_ms AS depart_ms,
         lead(start_ms) OVER w AS arrive_ms,
         lead(start_ms) OVER w - end_ms AS travel_ms,
         centroid_lat AS o_lat, centroid_lon AS o_lon,
         lead(centroid_lat) OVER w AS d_lat, lead(centroid_lon) OVER w AS d_lon
  FROM stops WINDOW w AS (PARTITION BY trace_id ORDER BY start_ms, island)),
t AS (SELECT * FROM trips WHERE arrive_ms IS NOT NULL)
SELECT ({13 << 58} | ({_sql_tile_x('o_lon', 13)} << 29) | {_sql_tile_y('o_lat', 13)}) AS o_cell,
       ({13 << 58} | ({_sql_tile_x('d_lon', 13)} << 29) | {_sql_tile_y('d_lat', 13)}) AS d_cell,
       count(*) AS n_trips,
       CAST(sum(travel_ms) AS BIGINT) AS total_travel_ms,
       min(travel_ms) AS min_travel_ms,
       max(travel_ms) AS max_travel_ms,
       round(CAST(sum(travel_ms) AS BIGINT) / count(*), 3) AS avg_travel_ms
FROM t GROUP BY 1, 2
""",
)
def od_matrix_q(spark, sf_dir):
    """Origin-destination flow matrix: detect_stops -> trips_from_stops
    (consecutive-dwell trip segmentation, one lead window) -> one hash agg
    on the z13 OD cell pair.  Travel stats are integer-ms sums, so every
    value is partition-order independent; the 6-dp stop centroids make
    cell assignment bit-identical across engines.  DuckDB-exact."""
    stops = trajectory.detect_stops(
        _points(spark, sf_dir),
        max_speed_ms=0.21,
        min_duration_ms=0,
        min_points=3,
        id_col="user_id",
        tiebreak="event_id",
    )
    return trajectory.od_matrix(trajectory.trips_from_stops(stops, zoom=13))


@yq("trace_frechet_refine", None)
def trace_frechet_refine_q(spark, sf_dir):
    """Trajectory near-dup REFINE: discrete Fréchet distance (anti-diagonal
    vectorised DP, functions/trajectory.py) over the candidate pairs only —
    not SQL-expressible, so rows-only in check_oracle; the exact gate is
    tests/test_trajectory.py's independent double-loop replay, and the
    candidate stage it consumes is the DuckDB-exact trace_near_dup above."""
    return trajectory.trace_near_dup_pairs(
        _traces_with_copies(spark, sf_dir),
        zoom=16,
        min_jaccard=0.5,
        max_frechet_m=50.0,
    )


# ========================= rows-only pipeline entries ======================
# The real image pipeline on the input_hint-shaped table: deterministic
# synthetic city (datagen), exact-match-tested against the pure-Python
# oracle in tests/test_parity.py.  sf_dir is ignored (the traffic tables
# are not part of the driver's star schema) — rows-only checks apply.

_PIPE_CACHE: dict = {}


def _pipeline(spark):
    key = id(spark)
    if key not in _PIPE_CACHE:
        import pandas as pd

        from .datagen.images_gen import images_from_fixes_pd
        from .datagen.osm_gen import generate_city
        from .datagen.trace_gen import generate_traces
        from .plans import match as M
        from .plans import network as N

        nodes, ways, meta = generate_city(seed=42)
        fixes = generate_traces(meta, seed=42)
        images = spark.createDataFrame(images_from_fixes_pd(fixes))
        segs, tls, jumpers = N.build_network_tables(
            spark, spark.createDataFrame(ways), spark.createDataFrame(nodes)
        )
        crossings, samples = M.run_pipeline(spark, images, tls, segs, jumpers)
        _PIPE_CACHE[key] = (images, segs, tls, jumpers, crossings, samples)
    return _PIPE_CACHE[key]


@q("traffic_crossings", None)
def traffic_crossings(spark, sf_dir):
    """J1+J2+W1 on the image table — exact-match vs oracle in pytest."""
    return _pipeline(spark)[4]


@q("traffic_speed_samples", None)
def traffic_speed_samples(spark, sf_dir):
    """Full pipeline output (J3/J4 kernel) — exact-match vs oracle in pytest."""
    return _pipeline(spark)[5]


@q("traffic_offmap_traces", None)
def traffic_offmap_traces(spark, sf_dir):
    """OffMapTrace (geom/OffMapTrace.java:6-21): polylines between map exit
    and re-entry — exact-match vs oracle in pytest (test_offmap_traces_exact).

    Driver surface: the polyline arrays are exploded to one scalar row per
    point (pt_seq, lon, lat; empty polyline ⇒ sentinel (-1, 0.0, 0.0)) —
    the driver's canonicalizer sorts/hashes every column and cannot
    factorize array cells.  Library callers use plans.match.offmap_traces
    for the array-typed form."""
    from .plans import match as M

    images, segs, tls, jumpers, crossings, samples = _pipeline(spark)
    traces = M.offmap_traces(samples, segs, jumpers, M.decode_fixes(images))
    pts = F.arrays_zip(F.col("lons").alias("lon"), F.col("lats").alias("lat"))
    return traces.select(
        "offmap_id", "trace_key", "trace_id", "start_id", "end_id", "t0", "t1",
        F.posexplode_outer(pts).alias("pos", "pt"),
    ).select(
        "offmap_id", "trace_key", "trace_id", "start_id", "end_id", "t0", "t1",
        F.coalesce(F.col("pos"), F.lit(-1)).cast("long").alias("pt_seq"),
        F.coalesce(F.col("pt.lon"), F.lit(0.0)).alias("lon"),
        F.coalesce(F.col("pt.lat"), F.lit(0.0)).alias("lat"),
    )


@q("traffic_histograms", None)
def traffic_histograms(spark, sf_dir):
    return S.histograms(_pipeline(spark)[5])


@q("traffic_triplines", None)
def traffic_triplines(spark, sf_dir):
    return _pipeline(spark)[2]


@q("traffic_viterbi_match", None)
def traffic_viterbi_match(spark, sf_dir):
    """The north rule's named per-trace Viterbi/HMM map-matching kernel
    (plans/hmm.py): candidate segments by packed-cell equi-join, Gaussian
    emission + continuity transition decoded in one applyInPandas group
    per trace.  The parity pipeline keeps the reference's tripline state
    machine (exactness gate); this is the additional HMM matcher.
    Oracle: pyoracle.viterbi_match_oracle (independent pairing),
    materialized parquet."""
    from .plans import hmm
    from .plans import match as M

    images, segs = _pipeline(spark)[0], _pipeline(spark)[1]
    return hmm.viterbi_match(M.decode_fixes(images), segs)


@q("multimodal_phash_pairs", None)
def multimodal_phash_pairs(spark, sf_dir):
    """Image near-duplicate detection by pHash Hamming ball — the image-
    payload twin of SimHash text dedup, via the generalised
    operators/dedup.hamming_pairs (pigeonhole banding over the int64
    signature, bit_count(xor) verify, all codegen; complete, not
    approximate, for hamming <= 3 with 4 bands over 64 bits).

    The synthetic corpus has no near-dup images, so a 2-bit-perturbed
    copy of every image (id + '_v', phash XOR 9) is unioned in: every
    copy must pair with its source at hamming 2 — the entry proves
    detection, not vacuous emptiness.  Oracle: numpy all-pairs scan,
    materialized parquet (oracle/materialize.py)."""
    images = _pipeline(spark)[0]
    sig = images.select(F.col("image_id").alias("id"), F.col("phash").alias("sig"))
    pert = images.select(
        F.concat(F.col("image_id"), F.lit("_v")).alias("id"),
        F.col("phash").bitwiseXOR(F.lit(9)).alias("sig"),
    )
    return dedup.hamming_pairs(
        sig.unionByName(pert), "id", "sig", bits=64, n_bands=4, max_hamming=3
    )


@q("multimodal_resize", None)
def multimodal_resize(spark, sf_dir):
    """Multimodal resize plumbing (decode → numpy resample → re-encode →
    pHash) over the image table — invariants tested in test_multimodal.

    Driver surface: raw bytes are projected to (byte_len, bytes_md5) so the
    oracle hash compares the exact payload without shipping binary cells
    through the canonicalizer."""
    from .plans import multimodal as MM

    resized = MM.resize_images(_pipeline(spark)[0], 16, 12)
    return resized.select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        "fmt",
        "phash",
        F.length("bytes").cast("long").alias("byte_len"),
        F.md5("bytes").alias("bytes_md5"),
    )


@q("traffic_tile_invariants", None)
def traffic_tile_invariants(spark, sf_dir):
    from .plans import tiles as TI

    return TI.tile_assignments_with_invariants(_pipeline(spark)[0])


@yq("multimodal_image_features", None)
def multimodal_image_features(spark, sf_dir):
    """Image feature extraction (the feature-extract stage of the
    multimodal checklist): decode → intensity mean/std/min/max, 8-bin
    histogram, gradient edge density, pHash — Arrow-batched mapInPandas
    (plans/multimodal.image_features).  Pytest-only: the driver window is
    at its 50-entry cap; gated instead by check_oracle --yardsticks
    against an independent numpy replay (oracle/materialize.py,
    materialized parquet) plus tests/test_multimodal.py.  The histogram
    array is flattened to hist_0..hist_7 for the canonicalizer."""
    from .plans import multimodal as MM

    feats = MM.image_features(_pipeline(spark)[0])
    return feats.select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        "mean",
        "std",
        F.col("p_min").cast("long").alias("p_min"),
        F.col("p_max").cast("long").alias("p_max"),
        *[F.col("hist")[i].alias(f"hist_{i}") for i in range(8)],
        "edge_density",
        "phash",
    )


@yq(
    "tile_pyramid",
    f"""
WITH {PTS_CTE},
leaf AS (
  SELECT {_sql_tile_x('lon', 18)} AS x, {_sql_tile_y('lat', 18)} AS y,
         count(*) AS n, sum(value) AS w_sum
  FROM pts GROUP BY 1, 2
),
lv AS (SELECT unnest(generate_series(11, 18)) AS z)
SELECT z, x >> (18 - z) AS x, y >> (18 - z) AS y,
       CAST(sum(n) AS BIGINT) AS n, sum(w_sum) AS w_sum
FROM leaf, lv
GROUP BY 1, 2, 3
""",
)
def tile_pyramid(spark, sf_dir):
    """Raster tile pyramid (plans/tiles.tile_pyramid): per-tile totals at
    z18 rolled up to every zoom down to z11 — leaf hash-agg first, then
    ONE ancestor-explode (column-amount shiftright) and one re-agg; two
    exchanges, no per-level rescan.  Pytest-only: the driver window is at
    its 50-entry cap; DuckDB-gated here and via check_oracle
    --yardsticks."""
    from .plans.tiles import tile_pyramid as TP

    out = TP(_points(spark, sf_dir), min_zoom=11, max_zoom=18, weight="value")
    return out.select(
        F.col("z").cast("long").alias("z"), "x", "y", "n", "w_sum"
    )


@yq("render_tiles", None)
def render_tiles_q(spark, sf_dir):
    """Vector→raster tile rendering (plans/tiles.render_tiles): the image
    table's geotags rasterized into per-z15-tile 256×256 grayscale density
    PNGs — exact integer pixel addressing (tile math at z+8 minus the
    scaled z tile: inherits the proven slippy bit-parity), integer
    ``count*255//max_count`` intensities, the repo's deterministic PNG
    codec.  Raw bytes are projected to (png_len, png_md5) for the
    canonicalizer, like multimodal_resize.  Pytest-only: the driver window
    is at its 50-entry cap; gated by check_oracle --yardsticks against an
    independent numpy/pandas replay (oracle/materialize.py) plus
    tests/test_multimodal.py."""
    from .plans import tiles as TL
    from .plans.match import CAPTION_RE

    pts = _pipeline(spark)[0].select(
        F.regexp_extract("caption", CAPTION_RE, 3).try_cast("double").alias("lat"),
        F.regexp_extract("caption", CAPTION_RE, 4).try_cast("double").alias("lon"),
    )
    r = TL.render_tiles(pts, zoom=15)
    return r.select(
        "tile_x",
        "tile_y",
        F.col("z").cast("long").alias("z"),
        "n_points",
        "n_pixels",
        "max_count",
        F.length("png").cast("long").alias("png_len"),
        F.md5("png").alias("png_md5"),
    )


@yq("raster_pyramid", None)
def raster_pyramid_q(spark, sf_dir):
    """Raster overview pyramid (plans/tiles.raster_pyramid): the z15
    density tiles composed up to z14/z13 — each parent from its ≤4
    children, 2×2 integer max-pool per child placed at its (x&1, y&1)
    quadrant.  One applyInPandas per level over a geometrically shrinking
    relation; intermediate levels persisted so the leaf render runs once.
    Pytest-only: the driver window is at its 50-entry cap; gated by
    check_oracle --yardsticks against an independent numpy replay
    (oracle/materialize.py) plus tests/test_multimodal.py."""
    from .plans import tiles as TL
    from .plans.match import CAPTION_RE

    pts = _pipeline(spark)[0].select(
        F.regexp_extract("caption", CAPTION_RE, 3).try_cast("double").alias("lat"),
        F.regexp_extract("caption", CAPTION_RE, 4).try_cast("double").alias("lon"),
    )
    pyr = TL.raster_pyramid(TL.render_tiles(pts, zoom=15), base_zoom=15, min_zoom=13)
    return pyr.select(
        "tile_x",
        "tile_y",
        F.col("z").cast("long").alias("z"),
        "n_points",
        "n_pixels",
        "max_count",
        F.length("png").cast("long").alias("png_len"),
        F.md5("png").alias("png_md5"),
    )


@yq(
    "set_ops",
    f"""
WITH {PTS_CTE},
a AS (SELECT CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id % 50 END AS k
      FROM pts WHERE event_id % 3 = 0),
b AS (SELECT CASE WHEN user_id % 13 = 0 THEN NULL ELSE user_id % 50 END AS k
      FROM pts WHERE event_id % 2 = 0)
SELECT 'union_distinct' AS op, k FROM (SELECT k FROM a UNION SELECT k FROM b)
UNION ALL
SELECT 'intersect_distinct' AS op, k
FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
UNION ALL
SELECT 'intersect_all' AS op, k
FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
UNION ALL
SELECT 'except_distinct' AS op, k
FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
UNION ALL
SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
""",
)
def set_ops(spark, sf_dir):
    """§2.6 — ANSI set operations, previously documented-n/a (the
    reference has none).  One tagged output per operator so a single
    DuckDB gate pins ALL the semantics that differ between naive
    implementations: distinct vs multiset (INTERSECT/EXCEPT vs their ALL
    forms) and null-safe grouping equality (NULL keys participate — both
    inputs are built with forced NULLs and forced collisions).  All five
    are single-shuffle hash ops in Spark (partial aggregation map-side);
    nothing here needs a custom operator, which is itself the §2.6
    answer: declare the set op, let Catalyst plan it."""
    pts = _points(spark, sf_dir)
    k = F.when(F.col("user_id") % 11 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 50).alias("k")
    kb = F.when(F.col("user_id") % 13 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 50).alias("k")
    a = pts.filter(F.col("event_id") % 3 == 0).select(k)
    b = pts.filter(F.col("event_id") % 2 == 0).select(kb)

    def tag(name, df):
        return df.select(F.lit(name).alias("op"), "k")

    return (
        tag("union_distinct", a.union(b).distinct())
        .unionByName(tag("intersect_distinct", a.intersect(b)))
        .unionByName(tag("intersect_all", a.intersectAll(b)))
        .unionByName(tag("except_distinct", a.subtract(b)))
        .unionByName(tag("except_all", a.exceptAll(b)))
    )


@yq(
    "pbf_roundtrip",
    f"""
WITH {PTS_CTE}
SELECT user_id % 16 AS source_id, user_id AS vehicle_id, ts_ms AS ts,
       lat, lon, CAST(event_id % 360 AS INT) AS heading,
       CAST(value AS FLOAT) AS speed
FROM pts
""",
)
def pbf_roundtrip(spark, sf_dir):
    """S4 — the protobuf exchange wire format (sources/pbf.py; descriptor
    ExchangeFormat.java:10516-10549): GPS-shaped fixes → one
    VehicleMessageEnvelope payload per source (applyInPandas; the source
    key is the shuffle key and the payload unit) → decoded back to fix
    rows (mapInPandas).  The oracle is the identity selection — a binary
    codec is correct iff encode∘decode is the identity on the multiset,
    which this DuckDB gate checks value-by-value (int64 varints, IEEE
    doubles, optional int32 + float32 fields all traverse the wire).
    Pytest-only: the driver window is at its 50-entry cap; golden-byte
    and BaselineTile layers live in tests/test_pbf.py."""
    from .sources import pbf

    fixes = _points(spark, sf_dir).select(
        (F.col("user_id") % 16).alias("source_id"),
        F.col("user_id").alias("vehicle_id"),
        F.col("ts_ms").alias("ts"),
        "lat",
        "lon",
        (F.col("event_id") % 360).cast("int").alias("heading"),
        F.col("value").cast("float").alias("speed"),
    )
    return pbf.envelopes_to_fixes(pbf.fixes_to_envelopes(fixes))


# ---------------------------------------------------------------------------


# The flagship pipeline family registers FIRST in the driver-visible
# ordering (VERDICT r3 ask #1): the driver's CORRECTNESS snapshot is
# capped, and these are the engine's highest-value outputs.  With the six
# yardsticks retired to YARDSTICKS the registry holds exactly 50 entries,
# but the explicit priority keeps the flagships inside ANY cap.
_FLAGSHIP_FIRST = [
    "traffic_crossings",
    "traffic_speed_samples",
    "traffic_offmap_traces",
    "traffic_histograms",
    "traffic_triplines",
    "traffic_viterbi_match",
    "multimodal_phash_pairs",
    "multimodal_resize",
    "traffic_tile_invariants",
]


def _ordered_registry() -> dict[str, tuple]:
    out = {n: REGISTRY[n] for n in _FLAGSHIP_FIRST if n in REGISTRY}
    out.update((n, v) for n, v in REGISTRY.items() if n not in out)
    return out


def queries():
    return {name: fn for name, (fn, _) in _ordered_registry().items()}


def oracle_sql():
    out = {
        name: sql for name, (fn, sql) in _ordered_registry().items() if sql is not None
    }
    # the pipeline/multimodal family runs on the deterministic synthetic
    # city, not the star schema — its oracle is the pure-Python reference
    # transliteration, materialized to parquet for DuckDB (SURVEY §5 layer
    # 2 made driver-visible).  On any failure fall back to rows-only for
    # these entries rather than poisoning the whole registry.
    try:
        from .oracle.materialize import ensure_pipeline_oracles

        out.update(ensure_pipeline_oracles())
    except Exception as e:  # degradation must be VISIBLE, not silent
        import sys
        import traceback

        print(
            "WARNING: pipeline oracle materialization failed — the "
            "traffic/multimodal entries degrade to rows-only checks: "
            f"{e!r}",
            file=sys.stderr,
        )
        traceback.print_exc(file=sys.stderr)
    return out


def registry_manifest() -> list[dict]:
    """Machine-checkable registry manifest (VERDICT r3 ask #8): one row per
    driver-visible entry plus the pytest-only yardsticks, recording
    position vs the driver's CORRECTNESS cap, oracle provenance, and
    yardstick/scale-twin status."""
    from .oracle.materialize import ENTRIES as _MATERIALIZED

    rows = []
    for pos, (name, (fn, sql)) in enumerate(_ordered_registry().items(), start=1):
        if sql is not None:
            kind = "inline_sql"
        elif name in _MATERIALIZED:
            kind = "materialized_parquet"
        else:
            kind = "rows_only"
        rows.append(
            {
                "name": name,
                "position": pos,
                "driver_visible": True,
                "oracle": kind,
                "yardstick": False,
                "scale_twin": None,
            }
        )
    from .oracle.materialize import YARDSTICK_ENTRIES as _Y_MATERIALIZED

    for name, (fn, sql) in YARDSTICKS.items():
        if sql is not None:
            ykind = "inline_sql"
        elif name in _Y_MATERIALIZED:
            ykind = "materialized_parquet"
        else:
            ykind = "rows_only"
        rows.append(
            {
                "name": name,
                "position": None,
                "driver_visible": False,
                "oracle": ykind,
                "yardstick": True,
                "scale_twin": YARDSTICK_TWINS.get(name),
            }
        )
    return rows


def write_manifest(path: str = None) -> str:
    import json
    import os

    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "REGISTRY_MANIFEST.json",
        )
    with open(path, "w") as f:
        json.dump(registry_manifest(), f, indent=1)
        f.write("\n")
    return path


if __name__ == "__main__":
    # lightweight manifest regeneration (`python -m traffic_engine_spark.queries`)
    # so a registry edit doesn't require a full bench run to satisfy
    # tests/test_yardsticks.py::test_manifest_on_disk_is_fresh
    print(write_manifest())
