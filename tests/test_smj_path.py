"""Join strategies are Spark's: with the session's broadcast threshold off
(``spark.sql.autoBroadcastJoinThreshold=-1``) the J1 cell join plans as a
shuffle join on the cell key — the strategy an index too large to
broadcast gets — and must produce identical crossings; at the default
threshold the planner broadcasts every dim of the pipeline from the
network's own statistics, and building the queries launches no Spark
job."""

import os
import re

import pandas as pd

from traffic_engine_spark.plans import hmm
from traffic_engine_spark.plans import match as M
from traffic_engine_spark.plans import stats as S

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
CROSSING_KEY = ["trace_id", "seq", "time", "segment_id", "tripline_index",
                "tripline_id", "tile_x", "tile_y"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted(pdf: pd.DataFrame, key: list[str]) -> pd.DataFrame:
    return pdf[key].sort_values(key).reset_index(drop=True)


def test_sort_merge_join_path_matches_broadcast(spark, spark_network, images_pd):
    _, tls, _ = spark_network
    pairs = M.pair_fixes(M.decode_fixes(spark.createDataFrame(images_pd)))

    bc = M.find_crossings(pairs, tls).toPandas()
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        smj = M.find_crossings(pairs, tls).toPandas()
    finally:
        spark.conf.set(THRESHOLD, old)

    assert len(bc) > 0
    pd.testing.assert_frame_equal(
        _sorted(bc, CROSSING_KEY), _sorted(smj, CROSSING_KEY), check_exact=True
    )


def test_j1_broadcast_auto_gate(spark, spark_network, images_pd):
    """run_pipeline leaves the J1 strategy to Spark's planner: at the
    session threshold it broadcasts the tripline cell index; with the
    threshold off the same call plans a shuffle join on the packed cell
    key — no caller knowledge — and crossings and samples are identical
    either way."""
    segs, tls, jumpers = spark_network
    images = spark.createDataFrame(images_pd)

    cr_bc, s_bc = M.run_pipeline(spark, images, tls, segs, jumpers)
    assert re.search(r"BroadcastHashJoin \[_ck#\d+L\]", _plan(cr_bc)), _plan(cr_bc)
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        cr_smj, s_smj = M.run_pipeline(spark, images, tls, segs, jumpers)
        plan_smj = _plan(cr_smj)
        got_cr, got_s = cr_smj.toPandas(), s_smj.toPandas()
    finally:
        spark.conf.set(THRESHOLD, old)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[_ck#\d+L\]", plan_smj), plan_smj
    assert "BroadcastHashJoin [_ck" not in plan_smj

    want_cr = cr_bc.toPandas()
    assert len(want_cr) > 0
    pd.testing.assert_frame_equal(
        _sorted(want_cr, CROSSING_KEY), _sorted(got_cr, CROSSING_KEY), check_exact=True
    )
    key = ["trace_id", "segment_id", "time", "speed", "source", "end_time"]
    pd.testing.assert_frame_equal(
        _sorted(s_bc.toPandas(), key), _sorted(got_s, key), check_exact=True
    )


def test_default_threshold_broadcasts_every_network_dim(spark, spark_network,
                                                        images_pd, tmp_path):
    """A cached, a localCheckpoint'd and a parquet-read network all carry
    the statistics the planner sizes broadcasts by: at the default
    threshold neither the histograms nor the Viterbi plan holds a
    sort-merge join."""
    images = spark.createDataFrame(images_pd)
    cached = spark_network
    checkpointed = tuple(t.localCheckpoint() for t in cached)
    read = []
    for name, t in zip(("segments", "triplines", "jumpers"), cached):
        t.write.parquet(str(tmp_path / name))
        read.append(spark.read.parquet(str(tmp_path / name)))

    for label, (segs, tls, jumpers) in (
        ("cached", cached), ("localCheckpoint", checkpointed), ("parquet", tuple(read)),
    ):
        hist = S.histograms(M.run_pipeline(spark, images, tls, segs, jumpers)[1])
        vit = hmm.viterbi_match(M.decode_fixes(images), segs)
        for query, df in (("histograms", hist), ("viterbi_match", vit)):
            plan = _plan(df)
            assert "BroadcastHashJoin" in plan, (label, query, plan)
            assert "SortMergeJoin" not in plan, (label, query, plan)


def test_j1_skew_join_bounds_hot_cell_task_rows(spark):
    """Skewed fixture (one cell holds ~90% of probe rows): above the
    broadcast threshold the J1-shaped plain join on the cell key relies
    on AQE's skew-join, which must split the hot cell's partition — max
    rows per join task drops by at least 3× against the unsplit shuffle
    join — while the joined row multiset stays identical."""
    from pyspark.sql import functions as F

    hot_n, cold_cells, per_cold = 9000, 50, 20
    probe = pd.DataFrame({
        "_ck": [7777] * hot_n + [i for i in range(cold_cells) for _ in range(per_cold)],
        "seq": list(range(hot_n + cold_cells * per_cold)),
    })
    build = pd.DataFrame({
        "_ck": [7777] * 5 + list(range(cold_cells)),
        "tl": list(range(5 + cold_cells)),
    })
    p, b = spark.createDataFrame(probe), spark.createDataFrame(build)

    def max_task_rows(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().agg(F.max("count")).first()[0]
        )

    # the shuffle-join regime: no auto-broadcast (the fixture build side
    # is tiny but stands in for an over-threshold index), no coalescing
    # (it would re-merge the split), a skew threshold scaled down to the
    # fixture's KB-sized partitions, and an advisory size below any map
    # block, so the hot partition splits at map-block granularity (its
    # lz4-compressed blocks are ~200 B: at 1 KB, 5 blocks share a task)
    skew = "spark.sql.adaptive.skewJoin.enabled"
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        THRESHOLD, skew, "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )}
    try:
        conf.set(THRESHOLD, "-1")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
        conf.set(skew, "false")
        plain = p.join(b, "_ck")
        m_plain = max_task_rows(plain)
        c = plain.toPandas()
        conf.set(skew, "true")
        split = p.join(b, "_ck")
        m_split = max_task_rows(split)
        a = split.toPandas()
        split_plan = _plan(split)
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in split_plan, split_plan
    # hot cell: 9000 x 5 = 45k rows on ONE task unsplit
    assert m_plain >= hot_n * 5
    assert m_split <= m_plain / 3, (m_split, m_plain)
    key = ["_ck", "seq", "tl"]
    pd.testing.assert_frame_equal(_sorted(a, key), _sorted(c, key), check_exact=True)


def test_rebuilding_queries_launches_no_jobs(spark, city, images_pd, tmp_path):
    """Building a DataFrame launches no Spark jobs: the first build of the
    network tables, and of run_pipeline, stream_crossings and
    viterbi_match over them, runs nothing, with no warm-up."""
    from traffic_engine_spark.plans import network as N
    from traffic_engine_spark.streaming.match_stream import FIX_SCHEMA, stream_crossings

    nodes, ways, _ = city
    ways, nodes = spark.createDataFrame(ways), spark.createDataFrame(nodes)
    images = spark.createDataFrame(images_pd)
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema(FIX_SCHEMA).parquet(src)

    sc = spark.sparkContext
    group = "first-build-launches-no-jobs"
    sc.setJobGroup(group, "first build of the network tables and the queries over them")
    try:
        segs, tls, jumpers = N.build_network_tables(spark, ways, nodes)
        M.run_pipeline(spark, images, tls, segs, jumpers)
        stream_crossings(stream, tls)
        hmm.viterbi_match(M.decode_fixes(images), segs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
