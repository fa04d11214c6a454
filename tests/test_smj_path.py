"""Planet-scale join path: the J1 cell join with broadcast disabled must
produce identical crossings via sort-merge/shuffle-hash on the cell key —
the strategy used when the tripline index exceeds executor memory — and
the gate that picks it must cost no Spark job once the network's row
counts are known."""

import os

import pandas as pd

from traffic_engine_spark.plans import match as M


def test_sort_merge_join_path_matches_broadcast(spark, spark_network, images_pd):
    from traffic_engine_spark.config import EngineConfig

    segs, tls, _ = spark_network
    images = spark.createDataFrame(images_pd)
    pairs = M.pair_fixes(M.decode_fixes(images))

    bc = M.find_crossings(pairs, tls).toPandas()
    # a zero cap forces the shuffle branch (salted: the probe is batch)
    smj = M.find_crossings(pairs, tls, EngineConfig(broadcast_dim_max_rows=0)).toPandas()

    key = ["trace_id", "seq", "time", "segment_id", "tripline_index", "tripline_id", "tile_x", "tile_y"]
    a = bc[key].sort_values(key).reset_index(drop=True)
    b = smj[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_salted_j1_bounds_hot_cell_task_rows(spark):
    """Skewed fixture (one cell holds ~90% of probe rows): the salted J1
    join must spread the hot cell across salt buckets — max rows per
    shuffle task drops by ~B vs the unsalted shuffle join — while the
    joined row multiset stays identical."""
    import pandas as pd_
    from pyspark.sql import functions as F

    from traffic_engine_spark.plans.skew import salted_join

    hot_n, cold_cells, per_cold = 9000, 50, 20
    probe = pd_.DataFrame({
        "_ck": [7777] * hot_n + [i for i in range(cold_cells) for _ in range(per_cold)],
        "seq": list(range(hot_n + cold_cells * per_cold)),
    })
    build = pd_.DataFrame({
        "_ck": [7777] * 5 + list(range(cold_cells)),
        "tl": list(range(5 + cold_cells)),
    })
    p, b = spark.createDataFrame(probe), spark.createDataFrame(build)

    def max_task_rows(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().agg(F.max("count")).first()[0]
        )

    # force the SMJ regime this salting targets: no auto-broadcast (the
    # fixture build side is tiny but stands in for an over-broadcast-size
    # index) and no AQE skew-split (the runtime backstop would mask the
    # plan-level bound being asserted)
    conf = spark.conf
    saved = {k: conf.get(k) for k in
             ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
              "spark.sql.shuffle.partitions")}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        # enough reduce tasks that distinct (cell, salt) keys rarely
        # collide into one task — the suite default of 8 would re-merge
        # salts by hash collision and mask the spread
        conf.set("spark.sql.shuffle.partitions", "64")
        salted = salted_join(p, b, ["_ck"], probe_key="seq")
        plain = p.join(b, "_ck")
        m_salted, m_plain = max_task_rows(salted), max_task_rows(plain)
        a = salted.toPandas().sort_values(["_ck", "seq", "tl"]).reset_index(drop=True)
        c = plain.toPandas()[a.columns].sort_values(["_ck", "seq", "tl"]).reset_index(drop=True)
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    # hot cell: 9000 x 5 = 45k rows on ONE task unsalted; salted spreads
    # them over SALT_BUCKETS (cell, salt) keys — allow one hash
    # collision of salts into a task, hence /3 rather than /B
    assert m_plain >= hot_n * 5
    assert m_salted <= m_plain / 3, (m_salted, m_plain)
    pd_.testing.assert_frame_equal(a, c, check_exact=True)


def test_j1_broadcast_auto_gate(spark, spark_network, images_pd):
    """find_crossings selects the J1 join strategy by the tripline count
    ×9 against cfg.broadcast_dim_max_rows.  An over-threshold index must
    plan the salted shuffle branch automatically (no broadcast of the
    tripline side) with crossings parity unchanged."""
    from pyspark.sql import functions as F

    from traffic_engine_spark.config import EngineConfig

    _, tls, _ = spark_network
    images = spark.createDataFrame(images_pd)
    pairs = M.pair_fixes(M.decode_fixes(images))

    # under-threshold (default cfg): auto picks broadcast
    auto_bc = M.find_crossings(pairs, tls)
    plan_bc = auto_bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_bc

    # over-threshold: same call, tiny gate — must NOT broadcast the index
    tiny = EngineConfig(broadcast_dim_max_rows=1)
    auto_smj = M.find_crossings(pairs, tls, tiny)
    plan_smj = auto_smj._jdf.queryExecution().executedPlan().toString()
    # the J1 join itself must be the salted shuffle join (salted_join is
    # free to broadcast its tiny hot-cell-id dim internally — that's not
    # the tripline index)
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[_ck#\d+L, _salt", plan_smj), plan_smj

    key = ["trace_id", "seq", "time", "segment_id", "tripline_index",
           "tripline_id", "tile_x", "tile_y"]
    a = auto_bc.toPandas()[key].sort_values(key).reset_index(drop=True)
    b = auto_smj.toPandas()[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_run_pipeline_gates_j1_by_tripline_count(spark, spark_network, images_pd):
    """run_pipeline itself must flip to the non-broadcast branch when the
    tripline table exceeds the dim gate — planet-safe without caller
    knowledge — and produce identical samples either way."""
    from traffic_engine_spark.config import EngineConfig

    segs, tls, jumpers = spark_network
    images = spark.createDataFrame(images_pd)
    cr_def, s_def = M.run_pipeline(spark, images, tls, segs, jumpers)
    tiny = EngineConfig(broadcast_dim_max_rows=1)
    cr_smj, s_smj = M.run_pipeline(spark, images, tls, segs, jumpers, tiny)
    a = cr_def.toPandas()
    key = list(a.columns)
    b = cr_smj.toPandas()[key]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
        check_exact=True,
    )


def test_rebuilding_queries_launches_no_jobs(spark, spark_network, images_pd, tmp_path):
    """Building a DataFrame launches no Spark jobs: once a first build has
    memoised the network's row counts, rebuilding run_pipeline and
    stream_crossings over the same cached network runs nothing."""
    from traffic_engine_spark.streaming.match_stream import FIX_SCHEMA, stream_crossings

    segs, tls, jumpers = spark_network
    images = spark.createDataFrame(images_pd)
    src = str(tmp_path / "src")
    os.makedirs(src)

    def build():
        M.run_pipeline(spark, images, tls, segs, jumpers)
        stream_crossings(spark.readStream.schema(FIX_SCHEMA).parquet(src), tls)

    build()  # warm-up: may count the cached network once
    sc = spark.sparkContext
    group = "rebuild-launches-no-jobs"
    sc.setJobGroup(group, "rebuild run_pipeline and stream_crossings")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
