"""J9 cluster merge, S6 GeoJSON export, A7 t-crit lookup."""

import json

import pandas as pd
from pyspark.sql import functions as F

from traffic_engine_spark.plans import areas as AR
from traffic_engine_spark.plans import stats as S
from traffic_engine_spark.sources import export as EX


def test_cluster_merge_fixpoint():
    # three areas: A and B overlap after 5% expansion; C is far away
    areas = pd.DataFrame(
        {
            "area_id": [1, 2, 3],
            "min_lon": [0.0, 1.05, 10.0],
            "min_lat": [0.0, 0.0, 10.0],
            "max_lon": [1.0, 2.0, 11.0],
            "max_lat": [1.0, 1.0, 11.0],
        }
    )
    out = AR.build_clusters(areas)
    cid = dict(zip(out.area_id, out.cluster_id))
    assert cid[1] == cid[2] != cid[3]
    # same-name merge: give C the same name as cluster AB via a place
    places = pd.DataFrame(
        {"name": ["X", "X"], "population": [100, 100],
         "lon": [0.5, 10.5], "lat": [0.5, 10.5]}
    )
    out2 = AR.build_clusters(areas, places=places)
    cid2 = dict(zip(out2.area_id, out2.cluster_id))
    assert cid2[1] == cid2[2] == cid2[3]  # merged by shared name


def test_name_for_bounds_maxpop_vs_quirk():
    places = pd.DataFrame(
        {"name": ["small", "big"], "population": [10, 1000],
         "lon": [0.5, 0.6], "lat": [0.5, 0.6]}
    )
    env = (0.0, 0.0, 1.0, 1.0)
    assert AR.name_for_bounds(places, env) == "big"  # fixed: true argmax
    # quirk: last overlapping wins regardless of population (J8)
    assert AR.name_for_bounds(places.iloc[::-1], env, strict_parity=True) == "small"


def test_geojson_export(spark, spark_network, tmp_path):
    segs, _, _ = spark_network
    doc = json.loads(EX.segments_to_geojson(segs.limit(5)))
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == 5
    f = doc["features"][0]
    assert f["geometry"]["type"] == "LineString"
    assert len(f["geometry"]["coordinates"][0]) == 2
    EX.segments_to_geojson_files(segs, str(tmp_path / "gj"))
    loaded = spark.read.text(str(tmp_path / "gj"))
    assert loaded.count() == segs.count()
    one = json.loads(loaded.first().value)
    assert one["properties"]["segment_id"]
    # valid GeoJSON: every position is a 2-element [lon, lat] ARRAY of
    # floats, not an {"lons":…,"lats":…} object (RFC 7946 §3.1.1)
    pos = one["geometry"]["coordinates"][0]
    assert isinstance(pos, list) and len(pos) == 2
    assert all(isinstance(v, float) for v in pos)


def test_offset_curve_display():
    """C10 — parallel offset: every output vertex sits |offset| from its
    source edge line, straight lines stay straight, and the export flag
    offsets only two-way segments."""
    import numpy as np

    from traffic_engine_spark.functions.geodesy import offset_curve_np

    # L-shaped polyline, offset right of travel by 1e-4
    lons = np.array([0.0, 1e-3, 1e-3])
    lats = np.array([0.0, 0.0, 1e-3])
    ox, oy = offset_curve_np(lons, lats, 1e-4)
    # first edge heads +x → right normal is -y
    assert abs(oy[0] - (-1e-4)) < 1e-12 and abs(ox[0]) < 1e-12
    # mitre corner: offset of both edges meet at (1e-3 + 1e-4, -1e-4)
    assert abs(ox[1] - (1e-3 + 1e-4)) < 1e-12 and abs(oy[1] - (-1e-4)) < 1e-12
    # second edge heads +y → right normal is +x
    assert abs(ox[2] - (1e-3 + 1e-4)) < 1e-12 and abs(oy[2] - 1e-3) < 1e-12
    # straight line: pure translation
    sx, sy = offset_curve_np(np.array([0.0, 1e-3]), np.array([0.0, 0.0]), -2e-5)
    assert np.allclose(sy, 2e-5) and np.allclose(sx, [0.0, 1e-3])


def test_geojson_offset_display_flag(spark, spark_network):
    segs, _, _ = spark_network
    sample = segs.orderBy("segment_id").limit(10)
    plain = json.loads(EX.segments_to_geojson(sample))
    off = json.loads(EX.segments_to_geojson(sample, offset_display=True))
    for f0, f1 in zip(plain["features"], off["features"]):
        c0 = f0["geometry"]["coordinates"]
        c1 = f1["geometry"]["coordinates"]
        if f0["properties"]["oneway"]:
            assert c0 == c1  # oneway segments render in place
        else:
            assert c0 != c1
            # every offset vertex moved by ~|DISPLAY_OFFSET_DEG|
            d0 = abs(c0[0][0] - c1[0][0]) + abs(c0[0][1] - c1[0][1])
            assert 0 < d0 < 3 * abs(EX.DISPLAY_OFFSET_DEG)


def test_welch_t_crit_lookup(spark):
    import pandas as pd

    s1 = spark.createDataFrame(
        pd.DataFrame({"segment_id": [1], "count": [10.0], "mean_ms": [12.0], "stddev_ms": [2.0]})
    )
    s2 = spark.createDataFrame(
        pd.DataFrame({"segment_id": [1], "count": [10.0], "mean_ms": [9.0], "stddev_ms": [2.0]})
    )
    out = S.welch_t_test(s1, s2).toPandas().iloc[0]
    # Satterthwaite df = 18 → index 17 → p95 col = 1.734 (NIST table)
    assert abs(out["df"] - 18.0) < 1e-6
    assert abs(out["t_crit"] - 1.734) < 1e-9
    assert out["t_stat"] > out["t_crit"] and bool(out["significant"])
    # negative t ⇒ always true (reference quirk, reproduced)
    out2 = S.welch_t_test(s2, s1).toPandas().iloc[0]
    assert out2["t_stat"] < 0 and bool(out2["significant"])
    # differenceAsPercent: (mean1-mean2)/mean1 as a FRACTION
    # (SummaryStatisticsComparison.java:90-95)
    assert abs(out["pct_diff"] - (12.0 - 9.0) / 12.0) < 1e-12


def test_welch_strict_parity_sd1_substitution_scope(spark):
    """strict_parity reproduces the combinedStdDev bug EXACTLY as scoped in
    the reference (SummaryStatisticsComparison.java:117-121): sd1 replaces
    sd2 only in the combined-stddev numerator (still divided by n2); tCrit
    (:173-177) uses the true sd2 and n2."""
    import math

    s1 = spark.createDataFrame(
        pd.DataFrame({"segment_id": [1], "count": [10.0], "mean_ms": [12.0], "stddev_ms": [2.0]})
    )
    s2 = spark.createDataFrame(
        pd.DataFrame({"segment_id": [1], "count": [20.0], "mean_ms": [9.0], "stddev_ms": [5.0]})
    )
    strict = S.welch_t_test(s1, s2, strict_parity=True).toPandas().iloc[0]
    fixed = S.welch_t_test(s1, s2, strict_parity=False).toPandas().iloc[0]
    # strict combined stddev: sqrt(sd1²/n1 + sd1²/n2) — n2 stays n2
    assert abs(strict["combined_stddev"] - math.sqrt(4.0 / 10 + 4.0 / 20)) < 1e-12
    assert abs(fixed["combined_stddev"] - math.sqrt(4.0 / 10 + 25.0 / 20)) < 1e-12
    # df / t_crit from the TRUE sd2, n2 in both modes → identical
    v1, v2 = 4.0 / 10, 25.0 / 20
    df_true = (v1 + v2) ** 2 / (v1**2 / 9 + v2**2 / 19)
    assert abs(strict["df"] - df_true) < 1e-9
    assert strict["t_crit"] == fixed["t_crit"]


def test_geojson_gate_routes_large_networks_distributed(spark, spark_network, tmp_path,
                                                        monkeypatch):
    """VERDICT r4 #4: above GEOJSON_DRIVER_MAX_ROWS segments_to_geojson
    must NOT collect to the driver — it routes to the per-tile JSONL
    writer (path required) and the distributed offset_display matches the
    driver path's geometry per segment."""
    segs, _, _ = spark_network
    monkeypatch.setattr(EX, "GEOJSON_DRIVER_MAX_ROWS", 3)

    # over the gate without a path: loud refusal, no silent collect
    import pytest as _pytest

    with _pytest.raises(ValueError, match="driver-assembly gate"):
        EX.segments_to_geojson(segs)

    out = str(tmp_path / "gj_auto")
    ret = EX.segments_to_geojson(segs, out, offset_display=True)
    assert ret == out
    dist = {
        json.loads(r.value)["properties"]["segment_id"]:
            json.loads(r.value)["geometry"]["coordinates"]
        for r in spark.read.text(out).collect()
    }
    # driver path (default gate) on the same table: identical geometry,
    # including the two-way display offset
    monkeypatch.undo()
    doc = json.loads(EX.segments_to_geojson(segs, offset_display=True))
    assert len(dist) == len(doc["features"]) == segs.count()
    for f in doc["features"]:
        # driver path stringifies ids (JSON-safe int64), JSONL keeps int
        got = dist[int(f["properties"]["segment_id"])]
        want = f["geometry"]["coordinates"]
        assert len(got) == len(want)
        for (gx, gy), (wx, wy) in zip(got, want):
            assert abs(gx - wx) < 1e-12 and abs(gy - wy) < 1e-12


def test_geojson_simplify_zoom_thins_vertices(spark, spark_network):
    """simplify_zoom composes with both geojson writers: same features,
    same properties, never MORE vertices, and endpoints preserved."""
    import json

    from traffic_engine_spark.sources import export as EX

    segs, _, _ = spark_network
    sample = segs.limit(8)
    plain = json.loads(EX.segments_to_geojson(sample))
    thin = json.loads(EX.segments_to_geojson(sample, simplify_zoom=10))
    by_id = {f["properties"]["segment_id"]: f for f in plain["features"]}
    assert len(thin["features"]) == len(plain["features"])
    for f in thin["features"]:
        p = by_id[f["properties"]["segment_id"]]
        assert f["properties"] == p["properties"]
        pc, tc = p["geometry"]["coordinates"], f["geometry"]["coordinates"]
        assert 2 <= len(tc) <= len(pc)
        assert tc[0] == pc[0] and tc[-1] == pc[-1]
