"""Checkpoint/resume, spatial partitioning, streaming kernel, and operator
tests beyond the core parity suite."""

import os
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from traffic_engine_spark.operators import relational, spatial
from traffic_engine_spark.plans import checkpoint as CP
from traffic_engine_spark.plans import match as M
from traffic_engine_spark.plans import network as N
from traffic_engine_spark.plans import stats as S


@pytest.fixture(scope="module")
def pipeline_inputs(spark, spark_network, images_pd):
    segs, tls, jumpers = spark_network
    return spark.createDataFrame(images_pd), segs, tls, jumpers


def test_checkpoint_resume_identical(tmp_path, spark, pipeline_inputs):
    """North rule: kill-after-stage-N resume reproduces identical outputs
    and the lineage row counts sum to table counts."""
    images, segs, tls, jumpers = pipeline_inputs
    root = str(tmp_path / "cp")

    hist1, res1 = CP.run_checkpointed_pipeline(
        spark, images, tls, segs, jumpers, root, fingerprint="v1"
    )
    out1 = hist1.toPandas().sort_values(["segment_id", "week", "hour_of_week", "speed_bin"]).reset_index(drop=True)
    assert not any(r.skipped for r in res1)
    assert all(sum(r.per_partition.values()) == r.rows for r in res1)

    # resume: same fingerprint ⇒ all stages read back, byte-identical
    hist2, res2 = CP.run_checkpointed_pipeline(
        spark, images, tls, segs, jumpers, root, fingerprint="v1"
    )
    out2 = hist2.toPandas().sort_values(["segment_id", "week", "hour_of_week", "speed_bin"]).reset_index(drop=True)
    assert all(r.skipped for r in res2)
    pd.testing.assert_frame_equal(out1, out2, check_exact=True)

    # changed input fingerprint ⇒ stages recompute
    hist3, res3 = CP.run_checkpointed_pipeline(
        spark, images, tls, segs, jumpers, root, fingerprint="v2"
    )
    assert not any(r.skipped for r in res3)

    manifest = CP.CheckpointedPipeline(spark, root).manifest()
    assert len(manifest) == 9  # 3 stages × 3 runs


def test_checkpointed_pipeline_honours_cfg(tmp_path, spark, pipeline_inputs, images_pd):
    """The checkpointed stages are run_pipeline's composition: with the
    anonymity gate on, the checkpointed histograms equal the gated
    pipeline's, and differ from the ungated ones (the fixture really
    exercises the gate)."""
    from traffic_engine_spark.config import EngineConfig

    _, segs, tls, jumpers = pipeline_inputs
    # the first 13 traces: one of the city's two z11 tiles is seen by 9 of
    # them (gated out), the other by 10 (released)
    trace = images_pd["caption"].str.extract(r"trace=(\d+);")[0].astype(int)
    images = spark.createDataFrame(images_pd[trace < 13])
    gated = EngineConfig(apply_anonymity_gate=True)
    key = ["segment_id", "week", "hour_of_week", "speed_bin"]

    def table(hist):
        return hist.select(*key, "n").toPandas().sort_values(key).reset_index(drop=True)

    hist, _ = CP.run_checkpointed_pipeline(
        spark, images, tls, segs, jumpers, str(tmp_path / "cp"), "v1", gated
    )
    got = table(hist)
    want = table(S.histograms(M.run_pipeline(spark, images, tls, segs, jumpers, gated)[1]))
    ungated = table(S.histograms(M.run_pipeline(spark, images, tls, segs, jumpers)[1]))
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()), check_exact=True)
    assert not want.equals(ungated)


def _batch_samples(spark, spark_network, images_pd):
    segs, tls, jumpers = spark_network
    images = spark.createDataFrame(images_pd)
    return (
        M.speed_samples(spark, M.find_crossings(M.pair_fixes(M.decode_fixes(images)), tls),
                        segs, jumpers)
        .toPandas()
    )


def _poll_stream(spark, q, qname=None, expected_rows=None, table_path=None):
    """Poll an availableNow streaming query until it has drained its input,
    then stop it.  A stateful query with ProcessingTimeTimeout NEVER
    self-terminates — it keeps scheduling ~empty timeout-check batches —
    so waiting on isActive alone burns the whole deadline; break on the
    expected row count when known, else on two consecutive zero-input
    batches."""
    import time as _time

    def _in_rows(p):
        try:
            return p["numInputRows"]
        except TypeError:
            return p.numInputRows

    deadline = _time.time() + 300
    while _time.time() < deadline:
        if not q.isActive:
            break
        if expected_rows is not None:
            try:
                if qname is not None:
                    n = spark.sql(f"select count(*) c from {qname}").first().c
                else:
                    n = spark.read.parquet(table_path).count()
            except Exception:
                n = -1
            if n >= expected_rows and not q.status["isDataAvailable"]:
                break
        else:
            prog = q.recentProgress
            if len(prog) >= 2 and all(_in_rows(p) == 0 for p in prog[-2:]):
                break
        _time.sleep(0.5)
    q.stop()


def _run_stream(spark, spark_network, images_pd, qname, n_slices=1, expected_rows=None):
    """Run the PLANET streaming pipeline over the fixes — the documented
    two-query medallion (pairing kernel → declarative J1/J2 → silver
    crossing parquet; crossing kernel → declarative J4 → samples) —
    optionally splitting the input into n_slices time-ordered parquet
    files consumed one per microbatch (maxFilesPerTrigger=1) so per-trace
    state — pending crossings included — must round-trip through the
    GroupState schemas between batches."""
    import tempfile

    from traffic_engine_spark.streaming.match_stream import (
        CROSSING_SCHEMA,
        FIX_SCHEMA,
        jumper_samples_stream,
        stream_crossings,
    )

    segs, tls, jumpers = spark_network
    fixes_pd = M.decode_fixes(spark.createDataFrame(images_pd)).toPandas()

    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as d:
        src = os.path.join(d, "src")
        silver = os.path.join(d, "silver")
        os.makedirs(src)
        if n_slices == 1:
            spark.createDataFrame(fixes_pd).write.mode("overwrite").parquet(src)
        else:
            cuts = fixes_pd["ts"].quantile(
                [i / n_slices for i in range(1, n_slices)]
            ).tolist()
            bounds = [-float("inf")] + cuts + [float("inf")]
            for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                part = fixes_pd[(fixes_pd.ts > lo) & (fixes_pd.ts <= hi)]
                path = os.path.join(src, f"slice_{i:03d}.parquet")
                part.to_parquet(path, index=False)
                # FileStreamSource orders by mod time: make it match slice order
                os.utime(path, (1_000_000 + i, 1_000_000 + i))
        reader = spark.readStream.schema(FIX_SCHEMA)
        if n_slices > 1:
            # one time-slice file per microbatch ⇒ state must round-trip
            reader = reader.option("maxFilesPerTrigger", 1)
        # query 1: fixes → pairing kernel → declarative crossings → silver.
        # coalesce(1) is test-harness-only: one silver file per microbatch
        # so query 2's maxFilesPerTrigger=1 replays exactly the microbatch
        # boundaries (and the suite doesn't grind through 8 tiny files per
        # batch)
        q1 = (
            stream_crossings(reader.parquet(src), tls).coalesce(1)
            .writeStream.format("parquet").option("path", silver)
            .option("checkpointLocation", os.path.join(d, "ck1"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        _poll_stream(spark, q1)
        # query 2: silver crossings → crossing kernel → declarative J4
        cr_reader = spark.readStream.schema(CROSSING_SCHEMA)
        if n_slices > 1:
            cr_reader = cr_reader.option("maxFilesPerTrigger", 1)
        out = jumper_samples_stream(spark, cr_reader.parquet(silver), segs, jumpers)
        q2 = (
            out.writeStream.format("memory").queryName(qname)
            .outputMode("append").option("checkpointLocation", os.path.join(d, "ck2"))
            .trigger(availableNow=True).start()
        )
        _poll_stream(spark, q2, qname=qname, expected_rows=expected_rows)
        return spark.sql(f"select * from {qname}").toPandas()


def _assert_samples_equal(batch_samples, got):
    key = ["trace_id", "segment_id", "time", "speed", "source"]
    a = batch_samples[key].sort_values(key).reset_index(drop=True)
    b = got[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()), check_exact=True)


def test_streaming_kernel_matches_batch(spark, spark_network, images_pd):
    """The applyInPandasWithState kernel on a single-batch stream must emit
    exactly the batch pipeline's speed samples."""
    batch = _batch_samples(spark, spark_network, images_pd)
    got = _run_stream(spark, spark_network, images_pd, "stream_samples",
                      n_slices=1, expected_rows=len(batch))
    _assert_samples_equal(batch, got)


def test_streaming_multi_microbatch_matches_batch(spark, spark_network, images_pd):
    """Cross-microbatch state round-trip parity: 4 time slices, one file per
    trigger, so mid-trace pending crossings (60-bit md5 ids that would be
    corrupted by a float64 state encoding) and last_segment must survive the
    GroupState serialize/deserialize between microbatches."""
    batch = _batch_samples(spark, spark_network, images_pd)
    got = _run_stream(spark, spark_network, images_pd, "stream_samples_mb",
                      n_slices=4, expected_rows=len(batch))
    assert len(got) == len(batch) > 0
    _assert_samples_equal(batch, got)


def test_streaming_kernel_tiny_arrow_batches(spark, spark_network, images_pd):
    """Arrow chunk-split regression: with maxRecordsPerBatch far below the
    per-trace row counts, each stateful kernel receives one group's data
    as MANY chunks — the deterministic scan must span the whole delivered
    batch (concat-then-sort), or pairing/pending order silently breaks."""
    batch = _batch_samples(spark, spark_network, images_pd)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "16")
        got = _run_stream(spark, spark_network, images_pd, "stream_samples_tiny",
                          n_slices=1, expected_rows=len(batch))
    finally:
        spark.conf.set(key, saved)
    _assert_samples_equal(batch, got)


def test_streaming_checkpoint_resume_no_duplicates(spark, spark_network, images_pd, tmp_path):
    """North-rule resumability on the STREAMING path: kill query 1
    mid-stream (after the first microbatch commits) and restart from the
    same checkpoint — the silver crossing log must end up exactly equal to
    the batch crossings, no rows lost, none duplicated (file-sink
    exactly-once via the checkpointed offset/commit log)."""
    from traffic_engine_spark.streaming.match_stream import FIX_SCHEMA, stream_crossings

    segs, tls, jumpers = spark_network
    fixes_pd = M.decode_fixes(spark.createDataFrame(images_pd)).toPandas()
    want = M.find_crossings(
        M.pair_fixes(M.decode_fixes(spark.createDataFrame(images_pd))), tls
    ).toPandas()

    src = str(tmp_path / "src"); os.makedirs(src)
    n_slices = 4
    cuts = fixes_pd["ts"].quantile([i / n_slices for i in range(1, n_slices)]).tolist()
    bounds = [-float("inf")] + cuts + [float("inf")]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        p = os.path.join(src, f"slice_{i:03d}.parquet")
        fixes_pd[(fixes_pd.ts > lo) & (fixes_pd.ts <= hi)].to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    silver, ck = str(tmp_path / "silver"), str(tmp_path / "ck")

    def start():
        return (
            stream_crossings(
                spark.readStream.schema(FIX_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(src),
                tls,
            )
            .writeStream.format("parquet").option("path", silver)
            .option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )

    import time as _time

    q = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if [p for p in q.recentProgress if p["numInputRows"] > 0]:
            break  # at least one data microbatch committed
        _time.sleep(0.2)
    q.stop()  # crash mid-stream
    q2 = start()  # resume from the same checkpoint
    _poll_stream(spark, q2)
    got = spark.read.parquet(silver).toPandas()
    key = list(want.columns)
    # seq is int32 in the batch plan vs long in the silver DDL — values
    # are what matter
    pd.testing.assert_frame_equal(
        want[key].sort_values(key).reset_index(drop=True),
        got[key].sort_values(key).reset_index(drop=True).astype(want.dtypes.to_dict()),
        check_exact=True,
    )


def test_streaming_offmap_matches_batch(spark, spark_network, images_pd):
    """S9 on the stream (medallion wiring): off-map traces derived from the
    multi-microbatch streamed samples must equal the batch plan's rows
    exactly — ids, windows, and polyline coords."""
    segs, tls, jumpers = spark_network
    fixes = M.decode_fixes(spark.createDataFrame(images_pd))

    batch_samples = _batch_samples(spark, spark_network, images_pd)
    streamed = _run_stream(spark, spark_network, images_pd, "stream_offmap_src",
                           n_slices=4, expected_rows=len(batch_samples))
    want = M.offmap_traces(
        spark.createDataFrame(batch_samples), segs, jumpers, fixes
    ).toPandas()
    got = M.offmap_traces(
        spark.createDataFrame(streamed, M.SAMPLE_SCHEMA), segs, jumpers, fixes
    ).toPandas()
    assert len(want) > 0
    for df in (want, got):
        df["lons"] = df["lons"].apply(tuple)
        df["lats"] = df["lats"].apply(tuple)
    key = ["offmap_id"]
    a = want.sort_values(key).reset_index(drop=True)
    b = got[want.columns].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()), check_exact=True)

    # percentile surfacing over the same streamed silver table: the
    # histogram→quartile view must match batch exactly too
    from traffic_engine_spark.plans import stats as S

    want_p = S.percentiles_from_histogram(
        S.histograms(spark.createDataFrame(batch_samples))
    ).toPandas()
    got_p = S.percentiles_from_histogram(
        S.histograms(spark.createDataFrame(streamed[batch_samples.columns]))
    ).toPandas()
    k2 = [c for c in ("segment_id",) if c in want_p.columns]
    pd.testing.assert_frame_equal(
        want_p.sort_values(k2 or list(want_p.columns)).reset_index(drop=True),
        got_p[want_p.columns].sort_values(k2 or list(want_p.columns)).reset_index(drop=True),
        check_exact=True,
    )


def test_streaming_gate_then_kernel_composition(spark, spark_network, images_pd, tmp_path):
    """The documented bronze→silver composition of the two stateful
    operators (one per query): anonymity release gate → parquet silver →
    per-trace kernel.  End-to-end output must equal the batch pipeline
    with the gate enabled, which differs from the ungated pipeline."""
    from traffic_engine_spark.config import EngineConfig
    from traffic_engine_spark.streaming.match_stream import (
        CROSSING_SCHEMA,
        gate_fixes_stream,
        jumper_samples_stream,
        stream_crossings,
    )

    segs, tls, jumpers = spark_network
    # the first 13 traces: one of the city's two z11 tiles is seen by 9 of
    # them (gated out), the other by 10 (released); on the full city both
    # tiles pass the gate and it drops nothing
    trace = images_pd["caption"].str.extract(r"trace=(\d+);")[0].astype(int)
    images = spark.createDataFrame(images_pd[trace < 13])
    fixes_pd = M.decode_fixes(images).toPandas()

    gate_cfg = EngineConfig(apply_anonymity_gate=True)
    _, batch_samples = M.run_pipeline(spark, images, tls, segs, jumpers, gate_cfg)
    want = batch_samples.toPandas()
    ungated = M.run_pipeline(spark, images, tls, segs, jumpers)[1].toPandas()
    key = ["trace_id", "segment_id", "time", "speed", "source"]
    assert not want[key].sort_values(key).reset_index(drop=True).equals(
        ungated[key].sort_values(key).reset_index(drop=True)
    )
    n_gated = M.anonymity_gate(M.decode_fixes(images)).count()

    src = str(tmp_path / "src"); silver = str(tmp_path / "silver")
    os.makedirs(src)
    n_slices = 3
    cuts = fixes_pd["ts"].quantile([i / n_slices for i in range(1, n_slices)]).tolist()
    bounds = [-float("inf")] + cuts + [float("inf")]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        p = os.path.join(src, f"slice_{i:03d}.parquet")
        fixes_pd[(fixes_pd.ts > lo) & (fixes_pd.ts <= hi)].to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    schema = "image_id string, trace_id long, ts long, lat double, lon double"
    import time as _time

    q1 = (
        gate_fixes_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        .writeStream.format("parquet").option("path", silver)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _poll_stream(spark, q1, expected_rows=n_gated, table_path=silver)
    assert spark.read.parquet(silver).count() == n_gated

    # gated silver fixes → the planet two-query kernel pipeline
    silver2 = str(tmp_path / "silver2")
    q2 = (
        stream_crossings(spark.readStream.schema(schema).parquet(silver), tls)
        .coalesce(1)
        .writeStream.format("parquet").option("path", silver2)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _poll_stream(spark, q2)
    q3 = (
        jumper_samples_stream(
            spark, spark.readStream.schema(CROSSING_SCHEMA).parquet(silver2),
            segs, jumpers,
        )
        .writeStream.format("memory").queryName("gate_kernel_samples")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _poll_stream(spark, q3, qname="gate_kernel_samples", expected_rows=len(want))
    got = spark.sql("select * from gate_kernel_samples").toPandas()
    assert len(want) > 0
    _assert_samples_equal(want, got)


def test_spark_submit_pyfiles_job(spark, city, images_pd, tmp_path):
    """The north rule's ship shape, end-to-end for real: `spark-submit
    --py-files dist/traffic_engine_spark.zip examples/pipeline_job.py`
    from a NEUTRAL working directory (the zip, not the repo checkout, must
    provide the package), on the deterministic synthetic city — asserts
    the exact parity row counts (41 speed samples at seed 42)."""
    import shutil
    import subprocess

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("no spark-submit on PATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(["sh", os.path.join(repo, "tools/package_pyfiles.sh")],
                   check=True, capture_output=True)

    nodes, ways, _ = city
    inp = tmp_path / "in"
    spark.createDataFrame(images_pd).write.parquet(str(inp / "images"))
    spark.createDataFrame(ways).write.parquet(str(inp / "ways"))
    spark.createDataFrame(nodes).write.parquet(str(inp / "nodes"))

    out = tmp_path / "out"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", os.path.join(repo, "dist/traffic_engine_spark.zip"),
         os.path.join(repo, "examples/pipeline_job.py"),
         "--images", str(inp / "images"), "--ways", str(inp / "ways"),
         "--nodes", str(inp / "nodes"), "--out", str(out)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    samples = spark.read.parquet(str(out / "speed_samples"))
    assert samples.count() == 41  # exact parity count, seed 42
    assert spark.read.parquet(str(out / "tiles")).count() == len(images_pd)
    assert spark.read.parquet(str(out / "histograms")).count() > 0


def test_streaming_store_sink_replay_safe(spark, spark_network, images_pd, tmp_path):
    """foreachBatch is at-least-once: re-delivering a microbatch (same
    batch_id) must NOT double-apply the histogram increments — the op_id
    in the snapshot log makes the merge idempotent."""
    from traffic_engine_spark.sources.store import SnapshotStore
    from traffic_engine_spark.streaming.match_stream import histograms_to_store_sink

    batch = _batch_samples(spark, spark_network, images_pd)
    samples = spark.createDataFrame(batch)
    store = SnapshotStore(
        spark, str(tmp_path / "replay_store"),
        key_cols=["segment_id", "week", "hour_of_week", "speed_bin"],
    )
    sink = histograms_to_store_sink(store)
    sink(samples, 0)
    once = int(store.read().agg(F.sum("n")).first()[0])
    n_snaps = len(store.snapshots())
    sink(samples, 0)  # crash-replay of the same microbatch
    assert int(store.read().agg(F.sum("n")).first()[0]) == once
    assert len(store.snapshots()) == n_snaps  # no new snapshot committed
    sink(samples, 1)  # a genuinely new batch still applies
    assert int(store.read().agg(F.sum("n")).first()[0]) == 2 * once


def test_range_join_banded_rejects_mixed_type_bounds(spark):
    """DATE bounds band to epoch days, TIMESTAMP points to epoch millis —
    banding across families would silently return no matches, so the
    operator must refuse."""
    from traffic_engine_spark.operators import relational

    o = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("lo", F.to_date("o_orderdate"))
        .withColumn("hi", F.to_date(F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")))
    )
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    with pytest.raises(ValueError, match="type family"):
        relational.range_join(
            o, li, on="o_orderkey", left_lo="lo", left_hi="hi",
            right_point="l_shipdate", band_width=64 * 86_400_000,
        )


def test_streaming_histograms_merge_store(spark, spark_network, images_pd, tmp_path):
    """The always-on stats loop: streamed samples → per-microbatch
    histogram increments MERGE-accumulated into the SnapshotStore.  Final
    table state == batch histograms exactly; the snapshot log shows the
    running accumulation (time travel monotone in total n)."""
    import tempfile

    from traffic_engine_spark.sources.store import SnapshotStore
    from traffic_engine_spark.streaming.match_stream import (
        CROSSING_SCHEMA,
        histograms_to_store_sink,
        jumper_samples_stream,
        stream_crossings,
    )

    segs, tls, jumpers = spark_network
    fixes_pd = M.decode_fixes(spark.createDataFrame(images_pd)).toPandas()
    batch = _batch_samples(spark, spark_network, images_pd)
    want = S.histograms(spark.createDataFrame(batch)).toPandas()

    store = SnapshotStore(
        spark, str(tmp_path / "hist_store"),
        key_cols=["segment_id", "week", "hour_of_week", "speed_bin"],
    )
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        n_slices = 3
        cuts = fixes_pd["ts"].quantile([i / n_slices for i in range(1, n_slices)]).tolist()
        bounds = [-float("inf")] + cuts + [float("inf")]
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            p = os.path.join(src, f"slice_{i:03d}.parquet")
            fixes_pd[(fixes_pd.ts > lo) & (fixes_pd.ts <= hi)].to_parquet(p, index=False)
            os.utime(p, (1_000_000 + i, 1_000_000 + i))
        fixes_stream = (
            spark.readStream.schema(
                "image_id string, trace_id long, ts long, lat double, lon double"
            ).option("maxFilesPerTrigger", 1).parquet(src)
        )
        silver = os.path.join(d, "silver")
        q1 = (
            stream_crossings(fixes_stream, tls).coalesce(1)
            .writeStream.format("parquet").option("path", silver)
            .option("checkpointLocation", os.path.join(d, "ck1"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        _poll_stream(spark, q1)
        crossings_stream = (
            spark.readStream.schema(CROSSING_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(silver)
        )
        q = (
            jumper_samples_stream(spark, crossings_stream, segs, jumpers)
            .writeStream.foreachBatch(histograms_to_store_sink(store))
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        import time as _time

        expected_total = int(want["n"].sum())
        deadline = _time.time() + 300
        while _time.time() < deadline:
            if not q.isActive:
                break
            try:
                total = int(store.read().agg(F.sum("n")).first()[0] or 0)
            except ValueError:
                total = 0
            if total >= expected_total and not q.status["isDataAvailable"]:
                break
            _time.sleep(0.5)
        q.stop()

    got = store.read().toPandas()
    key = ["segment_id", "week", "hour_of_week", "speed_bin"]
    pd.testing.assert_frame_equal(
        want.sort_values(key).reset_index(drop=True),
        got[want.columns].sort_values(key).reset_index(drop=True).astype(
            want.dtypes.to_dict()
        ),
        check_exact=True,
    )
    snaps = [s for s in store.snapshots() if s["operation"] == "merge-sum"]
    assert len(snaps) >= 2  # accumulation actually spanned microbatches
    totals = [
        int(store.read(s["snapshot_id"]).agg(F.sum("n")).first()[0]) for s in snaps
    ]
    assert totals == sorted(totals) and totals[-1] == expected_total


def test_planet_mode_pipeline_identical_no_collect(spark, city, images_pd, monkeypatch):
    """Building the network and building and running the pipeline must
    never collect O(network) data to the driver — asserted by poisoning
    DataFrame.collect and DataFrame.toPandas while the network and the
    plan are built and executed — and the kernel stays exactly one Python
    stage.  Sample values are pinned against the oracle by
    test_parity::test_samples_exact_including_float_speeds and
    test_crossing_state_machine_random_fuzz."""
    nodes, ways, _ = city
    ways_df, nodes_df = spark.createDataFrame(ways), spark.createDataFrame(nodes)
    images = spark.createDataFrame(images_pd)
    # the session's concrete class: it overrides collect and toPandas, so
    # patching pyspark.sql.DataFrame would poison nothing
    SparkDF = type(images)

    def poisoned(self, *args, **kwargs):
        raise AssertionError("the network build and pipeline must not collect to the driver")

    with monkeypatch.context() as mp:
        mp.setattr(SparkDF, "collect", poisoned)
        mp.setattr(SparkDF, "toPandas", poisoned)
        segs, tls, jumpers = N.build_network_tables(spark, ways_df, nodes_df)
        assert jumpers.count() > 0
        _, samples = M.run_pipeline(spark, images, tls, segs, jumpers)
        plan = samples._jdf.queryExecution().executedPlan().toString()
        n = samples.count()
    assert n > 0
    # exactly one Python stage in the match pipeline (the network build's
    # own stages sit below it in the plan): the J3 kernel, whose output
    # carries prev_seg
    kernels = [ln for ln in plan.splitlines() if "MapInPandas" in ln and "prev_seg" in ln]
    assert len(kernels) == 1


def test_jumper_dim_broadcast_gate(spark, spark_network, images_pd):
    """The jumper-pass segment-dim joins are Spark's to size: at the
    session threshold they broadcast (no sort-merge join anywhere in the
    pipeline); with the threshold off they fall back to sort-merge — the
    plan a planet-size segment dim gets — with IDENTICAL output."""
    segs, tls, jumpers = spark_network
    images = spark.createDataFrame(images_pd)

    _, s_bc = M.run_pipeline(spark, images, tls, segs, jumpers)
    plan_bc = s_bc._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[prev_seg#", plan_bc), plan_bc
    assert "SortMergeJoin" not in plan_bc

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, s_smj = M.run_pipeline(spark, images, tls, segs, jumpers)
        plan_smj = s_smj._jdf.queryExecution().executedPlan().toString()
        b = s_smj.toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert re.search(r"SortMergeJoin \[prev_seg#", plan_smj), plan_smj
    assert re.search(r"SortMergeJoin \[segment_id#", plan_smj), plan_smj

    key = ["trace_id", "segment_id", "time", "speed", "source"]
    a = s_bc.toPandas()[key].sort_values(key).reset_index(drop=True)
    b = b[key].sort_values(key).reset_index(drop=True)
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_pip_winding_matches_convex_on_convex_polygons(spark, images_pd):
    from traffic_engine_spark.queries import _POLYGONS

    pts = M.decode_fixes(spark.createDataFrame(images_pd)).select("image_id", "lat", "lon")
    conv = spatial.pip_assign_convex(pts, _POLYGONS).toPandas()
    polys_pd = pd.DataFrame(
        [
            {"poly_id": p["poly_id"], "lons": [c[0] for c in p["coords"]],
             "lats": [c[1] for c in p["coords"]]}
            for p in _POLYGONS
        ]
    )
    wind = spatial.pip_assign_winding(pts, polys_pd).toPandas()
    m = conv.merge(wind, on="image_id", suffixes=("_c", "_w"))
    # boundary points may differ (>= vs strict ray casting); interior match
    inner = m[m.poly_id_c == m.poly_id_w]
    assert len(inner) >= 0.99 * len(m)


def test_knn_cells_matches_broadcast(spark, images_pd):
    fixes = M.decode_fixes(spark.createDataFrame(images_pd))
    pts = fixes.select(F.col("image_id").alias("point_id"), "lat", "lon")
    stations = fixes.limit(20).select(F.col("image_id").alias("station_id"), "lat", "lon")
    bc = spatial.knn_join_broadcast(pts, stations, k=2).toPandas()
    cells = spatial.knn_join_cells(pts, stations, zoom=11, ring=2, k=2).toPandas()
    key = ["point_id", "rank"]
    a = bc.sort_values(key).reset_index(drop=True)
    b = cells.sort_values(key).reset_index(drop=True)
    # ring=2 at z11 covers the whole city ⇒ exact agreement
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_embedding_lsh_recall_vs_brute(spark):
    """The LSH-bucketed near-dup path must be a SUBSET of the brute-force
    pairs (same cosine values) with high recall on the test embeddings —
    brute force is the yardstick, LSH is the registered scale path."""
    from traffic_engine_spark.operators import dedup as D

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    brute = D.embedding_cosine_pairs(emb, min_cosine=0.3).toPandas()
    lsh = D.embedding_lsh_pairs(emb, min_cosine=0.3).toPandas()
    bset = {(a, b): c for a, b, c in brute.itertuples(index=False)}
    lset = {(a, b): c for a, b, c in lsh.itertuples(index=False)}
    assert set(lset) <= set(bset)  # no false positives (exact verify)
    for k, v in lset.items():
        assert v == bset[k]  # identical cosine values
    recall = len(lset) / max(len(bset), 1)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low for 8 planes"


def test_morton_layout_prunes_scan(spark, tmp_path):
    """Spatial file-skipping: a table rewritten by the Morton-clustered
    compact_table + an int-typed cell-range predicate must push the
    bounds into the parquet scan (PushedFilters) and skip most row groups
    (scan numOutputRows << table rows).  Also pins the cast trap: FLOAT
    bounds on the long column defeat pushdown entirely (only IsNotNull
    survives), which would silently read the whole table at 100 TB."""
    from traffic_engine_spark.queries import _points
    from traffic_engine_spark.sources.maintenance import compact_table

    ev = _points(spark, "/root/testdata/sf0.01").select("event_id", "lat", "lon")
    src, out = str(tmp_path / "points"), str(tmp_path / "morton")
    ev.write.parquet(src)
    src_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    stats = compact_table(
        spark, src, out, target_file_mb=src_bytes / 16 / 2**20,
        cluster=("lat", "lon"), keep_cluster_key=True,
    )
    assert stats["files_after"] >= 8, stats
    key = "_morton_cluster_key"
    back = spark.read.parquet(out)
    total = back.count()
    flo, fhi = back.approxQuantile(key, [0.4, 0.45], 0.01)
    lo, hi = int(flo), int(fhi)

    q = back.filter((F.col(key) >= lo) & (F.col(key) <= hi))
    rows = q.collect()
    # the scan node's metadata holds the full filter list; the plan string
    # abbreviates it at spark.sql.maxMetadataStringLength
    scan = q._jdf.queryExecution().executedPlan().collectLeaves().head()
    pushed = scan.metadata().apply("PushedFilters")
    assert f"GreaterThanOrEqual({key}" in pushed and f"LessThanOrEqual({key}" in pushed
    it = scan.metrics().iterator()
    vals = {}
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    assert 0 < len(rows) <= vals["numOutputRows"]
    # the Morton-sorted layout lets min/max stats skip most row groups
    assert vals["numOutputRows"] <= total * 0.3, (vals["numOutputRows"], total)

    # the trap: float literals force a cast on the long column — the range
    # no longer reaches the scan
    qf = back.filter((F.col(key) >= flo) & (F.col(key) <= fhi))
    pf = qf._jdf.queryExecution().executedPlan().collectLeaves().head().metadata()
    assert pf.apply("PushedFilters") == f"[IsNotNull({key})]"


def test_embedding_ivf_pairs_subset_of_brute(spark):
    """The IVF-blocked cosine path (content-blocked alternative to the
    adaptive LSH bands): candidates ⊆ brute with identical cosines and
    usable recall at the dedup threshold using seed centroids."""
    from traffic_engine_spark.operators import dedup as D

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    brute = D.embedding_cosine_pairs(emb, min_cosine=0.3).toPandas()
    ivf = D.embedding_ivf_pairs(emb, centroids, min_cosine=0.3, assign_top=3).toPandas()
    bset = {(a, b): c for a, b, c in brute.itertuples(index=False)}
    iset = {(a, b): c for a, b, c in ivf.itertuples(index=False)}
    assert set(iset) <= set(bset)  # exact verify: no false positives
    for kk, v in iset.items():
        assert v == bset[kk]
    recall = len(iset) / max(len(bset), 1)
    assert recall >= 0.7, f"IVF recall {recall:.2f} too low (top-3 of 16 cells)"


def test_lsh_auto_bands_rule():
    """The adaptive band rule: band cardinality tracks corpus size (bucket
    ≈ LSH_TARGET_BUCKET_ROWS), band count holds recall at the threshold,
    both clipped to sane ranges."""
    from traffic_engine_spark.operators.dedup import LSH_TARGET_BUCKET_ROWS, lsh_auto_bands

    r1, l1 = lsh_auto_bands(1_000, 0.9)
    r2, l2 = lsh_auto_bands(4_000, 0.9)
    r3, l3 = lsh_auto_bands(10_000_000, 0.9)
    assert r1 < r2 < r3 <= 16  # cardinality grows with the corpus
    assert l1 <= l2 <= l3 <= 64  # more bands to hold recall as r rises
    assert lsh_auto_bands(10, 0.9)[0] == 4  # floor
    # expected bucket stays ~constant: n / 2^r ≈ target
    for n, r in ((1_000, r1), (4_000, r2)):
        assert n / (1 << r) <= LSH_TARGET_BUCKET_ROWS


def test_lsh_candidate_growth_linear(spark):
    """VERDICT r3 #3: under the adaptive rule, candidate pairs grow
    ~linearly when the corpus quadruples; at FIXED band_planes they grow
    ~quadratically (the documented 100-TB failure mode)."""
    import numpy as np

    from traffic_engine_spark.operators import dedup as D

    rng = np.random.RandomState(0)

    def corpus(n):
        vecs = rng.randn(n, 64).round(3)
        pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                            "embedding": list(vecs)})
        return spark.createDataFrame(pdf)

    def cand_count(emb, r, L):
        bands = D.lsh_band_keys(emb, band_planes=r, n_bands=L)
        return (
            bands.alias("a").join(bands.alias("b"), ["band", "bval"])
            .filter(F.col("a.id") < F.col("b.id")).count()
        )

    n = 4_096
    small, big = corpus(n), corpus(4 * n)
    r_s, l_s = D.lsh_auto_bands(n, 0.9)
    r_b, l_b = D.lsh_auto_bands(4 * n, 0.9)
    assert r_b == r_s + 2  # 4x corpus -> +2 planes, bucket held constant
    c_small = cand_count(small, r_s, l_s)
    c_big = cand_count(big, r_b, l_b)
    auto_ratio = c_big / max(c_small, 1)
    fixed_ratio = cand_count(big, r_s, l_s) / max(c_small, 1)
    # adaptive: ~linear (4x data, <=8x candidates incl. the band-count
    # rise); fixed planes: ~quadratic (>=12x)
    assert auto_ratio <= 8.0, auto_ratio
    assert fixed_ratio >= 12.0, fixed_ratio


def test_ngram_prefix_matches_quadratic(spark):
    """Prefix filtering (AllPairs) is EXACT: identical (doc_a, doc_b,
    jaccard) rows to the blocked-quadratic path — the hot-block scale
    fallback loses nothing at the threshold."""
    from traffic_engine_spark.operators import dedup as D

    # synthetic near-dup corpus: 60 docs over a sliding word window so
    # neighbours overlap at a spread of jaccard values around the 0.1
    # threshold, in 2 blocks (plus the real sf0.01 table below)
    words = [f"w{i}" for i in range(120)]
    rows = []
    for i in range(60):
        rows.append((i, "en" if i % 2 else "de", f"s{i % 3}",
                     " ".join(words[i: i + 25 + (i % 7)])))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    for frame in (docs, spark.read.parquet("/root/testdata/sf0.01/documents.parquet")):
        quad = D.ngram_jaccard_pairs(frame, block_cols=["lang", "source"]).toPandas()
        pref = D.ngram_jaccard_prefix_pairs(frame, block_cols=["lang", "source"]).toPandas()
        assert len(quad) > 0
        key = ["doc_a", "doc_b"]
        a = quad.sort_values(key).reset_index(drop=True)
        b = pref[quad.columns].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_range_join_banded_matches_postfilter(spark):
    """The banded range join (bounded per-key fan-out) must return exactly
    the post-filter plan's rows — on the TPC-H fixture AND on a skewed
    single-key fixture where the unbanded equi-join would cross the whole
    group."""
    from traffic_engine_spark.operators import relational as R

    sf = "/root/testdata/sf0.01"
    o = spark.read.parquet(f"{sf}/orders.parquet").withColumn(
        "win_end", F.expr("o_orderdate + INTERVAL 60 DAY")
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    args = dict(on="o_orderkey", left_lo="o_orderdate", left_hi="win_end",
                right_point="l_shipdate")
    base = R.range_join(o, li, **args).groupBy("o_orderkey").count().toPandas()
    band = R.range_join(o, li, band_width=64 * 86_400_000, **args).groupBy("o_orderkey").count().toPandas()
    key = ["o_orderkey"]
    pd.testing.assert_frame_equal(
        base.sort_values(key).reset_index(drop=True),
        band.sort_values(key).reset_index(drop=True),
        check_exact=True,
    )

    # skewed: ONE key, 500 intervals × 2000 points — banding must agree,
    # including intervals spanning band boundaries and on=None
    left = spark.range(500).select(
        F.lit(7).alias("k"), (F.col("id") * 13 % 5000).alias("lo"),
        (F.col("id") * 13 % 5000 + 37).alias("hi"),
    )
    right = spark.range(2000).select(
        F.lit(7).alias("k"), (F.col("id") * 7 % 5000).alias("pt"), F.col("id").alias("rid")
    )
    for on in ("k", None):
        a = R.range_join(left, right, on, "lo", "hi", "pt").toPandas()
        b = R.range_join(left, right, on, "lo", "hi", "pt", band_width=32).toPandas()
        keys = ["lo", "hi", "rid"]
        pd.testing.assert_frame_equal(
            a[keys].sort_values(keys).reset_index(drop=True),
            b[keys].sort_values(keys).reset_index(drop=True),
            check_exact=True,
        )


def test_ngram_prefix_random_corpora_and_thresholds(spark):
    """Prefix-filter exactness across seeded random corpora and thresholds
    (the pigeonhole bound must hold for every t, not just the default)."""
    import random

    from traffic_engine_spark.operators import dedup as D

    for seed, t in [(11, 0.1), (23, 0.3), (37, 0.6)]:
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(40)]
        rows = [
            (i, rng.choice(["en", "de"]), "s",
             " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
            for i in range(40)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        )
        quad = D.ngram_jaccard_pairs(
            docs, block_cols=["lang", "source"], min_jaccard=t
        ).toPandas()
        pref = D.ngram_jaccard_prefix_pairs(
            docs, block_cols=["lang", "source"], min_jaccard=t
        ).toPandas()
        key = ["doc_a", "doc_b"]
        pd.testing.assert_frame_equal(
            quad.sort_values(key).reset_index(drop=True),
            pref[quad.columns].sort_values(key).reset_index(drop=True),
            check_exact=True,
        )


def test_range_join_banded_random_widths(spark):
    """Banded == post-filter for random intervals (negative values
    included) across band widths, with and without an equi key."""
    import random

    from traffic_engine_spark.operators import relational as R

    rng = random.Random(5)
    lrows = [(rng.randint(0, 2), rng.randint(-500, 500)) for _ in range(300)]
    left = spark.createDataFrame(
        [(k, lo, lo + rng.randint(0, 90)) for k, lo in lrows], "k long, lo long, hi long"
    )
    right = spark.createDataFrame(
        [(rng.randint(0, 2), rng.randint(-600, 600), i) for i in range(800)],
        "k long, pt long, rid long",
    )
    for on in ("k", None):
        base = R.range_join(left, right, on, "lo", "hi", "pt").toPandas()
        for w in (7, 32, 1000):
            band = R.range_join(left, right, on, "lo", "hi", "pt", band_width=w).toPandas()
            keys = ["k", "lo", "hi", "rid"] if on else ["lo", "hi", "rid"]
            pd.testing.assert_frame_equal(
                base[keys].sort_values(keys).reset_index(drop=True),
                band[keys].sort_values(keys).reset_index(drop=True),
                check_exact=True,
            )


def test_dedup_ops_edge_inputs(spark):
    """Degenerate inputs must not crash or mis-pair: docs shorter than the
    shingle width, empty text, single-doc blocks, and self-loop edges."""
    from traffic_engine_spark.operators import dedup as D
    from traffic_engine_spark.operators.graph import connected_components

    docs = spark.createDataFrame(
        [
            (1, "en", "s", "one two"),          # < k tokens ⇒ 1 short shingle
            (2, "en", "s", ""),                  # empty text
            (3, "en", "s", "   "),               # whitespace only
            (4, "de", "s", "a b c d e"),         # lone doc in its block
            (5, "en", "s", "one two"),           # exact dup of 1
        ],
        "doc_id long, lang string, source string, text string",
    )
    quad = D.ngram_jaccard_pairs(docs, block_cols=["lang", "source"]).toPandas()
    pref = D.ngram_jaccard_prefix_pairs(docs, block_cols=["lang", "source"]).toPandas()
    key = ["doc_a", "doc_b"]
    pd.testing.assert_frame_equal(
        quad.sort_values(key).reset_index(drop=True),
        pref[quad.columns].sort_values(key).reset_index(drop=True),
        check_exact=True,
    )
    assert (1, 5) in set(zip(pref.doc_a, pref.doc_b))  # the dup pair survives

    e = spark.createDataFrame([(7, 7), (7, 8)], "src long, dst long")  # self-loop
    got = {(r.node, r.component) for r in connected_components(e).collect()}
    assert got == {(7, 7), (8, 7)}


def test_kmeans_lloyd_objective_nonincreasing(spark):
    """Lloyd iterations must not increase the k-means objective, every
    vector is assigned exactly once, and centroid ids stay within the
    seeded k."""
    from traffic_engine_spark.operators.ann import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    objs = []
    for iters in (1, 2, 3):
        a = kmeans_lloyd(emb, k=8, iters=iters).toPandas()
        assert len(a) == n
        assert a["vec_id"].is_unique
        assert set(a["centroid_id"]) <= set(range(8))
        objs.append(a["dist2"].sum())
    assert objs[0] >= objs[1] >= objs[2]
    assert objs[2] < objs[0]  # the fixture actually moves


def test_connected_components_exact(spark):
    """Min-label propagation fixpoint vs a driver union-find on a graph
    with chains, a ring, a star, and cross-links; plus the loud
    non-convergence raise on a diameter > max_iter chain."""
    from traffic_engine_spark.operators.graph import connected_components

    edges = (
        [(i, i + 1) for i in range(0, 9)]          # 10-node chain
        + [(100, 101), (101, 102), (102, 100)]      # ring
        + [(200, 201), (200, 202), (200, 203)]      # star
        + [(9, 100)]                                # chain–ring bridge
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.node, r.component)
        for r in connected_components(e, max_iter=20).collect()
    }
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=2)


def test_embedding_cosine_bruteforce_guard(spark):
    """The O(n²) yardstick refuses unbounded inputs: > max_rows raises."""
    from traffic_engine_spark.operators import dedup as D

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    with pytest.raises(ValueError, match="brute-force yardstick"):
        D.embedding_cosine_pairs(emb, min_cosine=0.3, max_rows=10)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """sessionize_stream (session_window, gap+1 boundary shim) must
    produce exactly the batch operator's per-session aggregates, across
    multiple microbatches with late-vs-early file ordering."""
    import tempfile

    from traffic_engine_spark.operators import relational
    from traffic_engine_spark.queries import _points
    from traffic_engine_spark.streaming.match_stream import sessionize_stream

    ev = _points(spark, "/root/testdata/sf0.001").select("user_id", "ts_ms", "event_id")
    batch = (
        relational.sessionize(ev, key="user_id", ts_ms="ts_ms", tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts_ms").alias("first_ts"), F.max("ts_ms").alias("last_ts"))
        .select("user_id", "n_events", "first_ts", "last_ts")
        .toPandas()
    )

    pdf = ev.toPandas().sample(frac=1.0, random_state=7)  # shuffled arrival
    src = tmp_path / "sess_src"
    os.makedirs(src)
    n_slices = 3
    for i in range(n_slices):
        p = str(src / f"s_{i:02d}.parquet")
        pdf.iloc[i::n_slices].to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema("user_id long, ts_ms long, event_id long")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    out = sessionize_stream(stream)
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as d:
        q = (
            out.writeStream.format("memory").queryName("sess_out")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        got = spark.sql("select * from sess_out").toPandas()

    key = ["user_id", "n_events", "first_ts", "last_ts"]
    a = batch[key].sort_values(key).reset_index(drop=True)
    b = got[key].sort_values(key).reset_index(drop=True)
    assert len(a) > 50
    pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)


def test_simhash_64bit_sign_bit(spark):
    """bits=64 must not overflow LongType building the bit-63 literal
    (1 << 63 is not a valid long; its two's-complement value is), and the
    64-bit pair path must run end-to-end."""
    from traffic_engine_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    sig = D.simhash(docs, bits=64).toPandas()
    assert len(sig) == 50
    # the shared hash64 is 60-bit, so bits 60-63 are structurally zero on
    # text signatures — the point here is that the bit-63 LITERAL builds
    # (1 << 63 used to throw NumberFormatException at plan time) and the
    # 64-bit pair path runs end-to-end
    pairs = D.simhash_pairs(docs, bits=64, n_bands=4, max_hamming=3)
    pairs.count()


def test_universe_sampled_join_exact_on_surviving_keys(spark):
    """Universe sampling keeps EVERY pair whose key survives (that's the
    whole point vs per-side sampling), and the 1/p-scaled total is a
    sane estimate of the true pair count."""
    from traffic_engine_spark.operators.relational import universe_sampled_join

    from traffic_engine_spark.functions.cells import tile_x_col, tile_y_col
    from traffic_engine_spark.queries import _points

    pts = _points(spark, "/root/testdata/sf0.01").select(
        "event_id",
        tile_x_col(F.col("lon"), 14).alias("cx"),
        tile_y_col(F.col("lat"), 14).alias("cy"),
    )
    a = pts.filter(F.col("event_id") % 2 == 0)
    b = pts.filter(F.col("event_id") % 2 == 1).withColumnRenamed("event_id", "eb")
    full = a.join(b, ["cx", "cy"]).groupBy("cx", "cy").count().toPandas()
    samp = (
        universe_sampled_join(a, b, ["cx", "cy"], rate=0.3)
        .groupBy("cx", "cy").count().toPandas()
    )
    truth = full.set_index(["cx", "cy"])["count"]
    got = samp.set_index(["cx", "cy"])["count"]
    # exactness: every surviving cell's pair count equals the full join's
    assert (truth.loc[got.index] == got).all()
    # estimator sanity on the additive total
    est = got.sum() / 0.3
    assert 0.5 * truth.sum() <= est <= 1.5 * truth.sum()


def test_hamming_pairs_complete_random_64bit_sigs(spark):
    """hamming_pairs (the generalised banding op behind simhash_pairs and
    multimodal_phash_pairs) must find EVERY pair within the Hamming budget
    on random full-width 64-bit signatures — verified against an all-pairs
    numpy popcount scan, including planted near-pairs."""
    import numpy as np

    from traffic_engine_spark.operators.dedup import hamming_pairs

    rng = np.random.default_rng(7)
    sigs = rng.integers(-(2**63), 2**63, size=150, dtype=np.int64)
    planted = sigs[:25] ^ np.int64(0b1001)  # hamming 2 from their sources
    allsig = np.concatenate([sigs, planted])
    ids = np.arange(len(allsig), dtype=np.int64)

    want = set()
    for i in range(len(allsig)):
        for j in range(i + 1, len(allsig)):
            h = bin(int(allsig[i] ^ allsig[j]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                want.add((int(ids[i]), int(ids[j]), h))
    assert len(want) >= 25  # the planted pairs at minimum

    df = spark.createDataFrame(
        [(int(i), int(s)) for i, s in zip(ids, allsig)], "id long, sig long"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_pairs(df, "id", "sig", bits=64, n_bands=4, max_hamming=3).collect()
    }
    assert got == want


def test_deterministic_sample_nesting_and_stability(spark):
    """Hash sampling must (a) nest across rates (0.1 ⊂ 0.3 ⊂ 0.5), (b) be
    partitioning-independent (repartitioned input → identical sample),
    (c) approximate the rate."""
    from traffic_engine_spark.operators.relational import deterministic_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n = docs.count()
    keep = {}
    for r in (0.1, 0.3, 0.5):
        keep[r] = {x.doc_id for x in deterministic_sample(docs, "doc_id", r).select("doc_id").collect()}
    assert keep[0.1] <= keep[0.3] <= keep[0.5]
    assert abs(len(keep[0.5]) / n - 0.5) < 0.1
    shuffled = {
        x.doc_id
        for x in deterministic_sample(docs.repartition(17), "doc_id", 0.3)
        .select("doc_id").collect()
    }
    assert shuffled == keep[0.3]


def test_contamination_near_dup_catches_truncation(spark):
    """Truncated copies have NO exact-fingerprint match but must be
    flagged by the cross-corpus MinHash sweep at high recall."""
    from traffic_engine_spark.functions.text import ws_tokens
    from traffic_engine_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = ws_tokens(F.col("text"))
    cnt = F.greatest(F.floor(F.size(toks) * 0.6).cast("int"), F.lit(1))
    ev = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), cnt)).alias("text"),
    )
    n_ev = ev.count()
    exact = D.contamination_pairs(docs, ev).count()
    assert exact == 0  # truncation defeats the exact fingerprint
    near = D.contamination_near_dup_pairs(docs, ev, band_size=2, min_jaccard=0.4).toPandas()
    # PAIRWISE recall: the eval doc must be flagged against ITS OWN source
    hits = {
        e for e, t in zip(near.eval_doc_id, near.train_doc_id) if t == e - 10_000
    }
    assert len(hits) >= 0.9 * n_ev  # ≥90% recall at J≈0.6


def test_contamination_pairs_catches_formatting_variants(spark):
    from traffic_engine_spark.operators.dedup import contamination_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit("\t")).alias("text"),
    )
    out = contamination_pairs(docs, ev).toPandas()
    assert len(out) == 5  # every perturbed doc flagged against its source
    assert set(out.train_doc_id + 10_000) == set(out.eval_doc_id)


def test_ngram_jaccard_hot_block_guard(spark):
    """The blocked-quadratic path refuses a block bigger than
    max_block_rows — the scale path is ngram_jaccard_prefix_pairs."""
    from traffic_engine_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="prefix"):
        D.ngram_jaccard_pairs(
            docs, block_cols=["lang", "source"], max_block_rows=5
        )


def test_simhash_pairs_pigeonhole_complete(spark):
    """Banding with n_bands > max_hamming finds EVERY pair within the
    Hamming budget — verified against an all-pairs scan."""
    from traffic_engine_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = D.simhash(docs).toPandas()
    got = D.simhash_pairs(docs, max_hamming=3).toPandas()
    want = set()
    rows = list(sig.itertuples(index=False))
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            hd = bin(int(a.simhash) ^ int(b.simhash)).count("1")
            if hd <= 3:
                x, y = sorted((int(a.doc_id), int(b.doc_id)))
                want.add((x, y, hd))
    assert {(int(r.doc_a), int(r.doc_b), int(r.hamming)) for r in got.itertuples()} == want


def test_jumpers_sharded_matches_global(spark_network, oracle_net):
    """build_network_tables' J5 fold — one union-find task, one fold per
    connected component, zero driver folds — must reproduce the reference's
    one global fold (pyoracle) exactly: merges only occur within
    node-connected chains, so folding per component preserves reference
    semantics bit-for-bit."""
    _, _, jumpers = spark_network
    key = ["start_node_id", "end_node_id"]
    want = pd.DataFrame(
        [(k[0], k[1], j.length, tuple(j.segments)) for k, j in oracle_net.jumpers.items()],
        columns=[*key, "length_m", "segment_ids"],
    ).sort_values(key).reset_index(drop=True)
    got = jumpers.toPandas()
    got["segment_ids"] = got["segment_ids"].apply(tuple)
    got = got[want.columns].sort_values(key).reset_index(drop=True)
    assert len(want) > 5
    # the fixture exercises merges, not only one-segment jumpers
    assert (want["segment_ids"].map(len) >= 2).any()
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_jumpers_independent_of_shuffle_partitions(spark, spark_network):
    """The jumper table is the same whether the shuffle into the fold task
    runs in one partition or eight."""
    segs, _, _ = spark_network
    old = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for n in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            pdf = N.build_jumpers(segs).toPandas()
            pdf["segment_ids"] = pdf["segment_ids"].apply(tuple)
            got.append(pdf.sort_values(["start_node_id", "end_node_id"]).reset_index(drop=True))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(got[0]) > 5
    pd.testing.assert_frame_equal(got[0], got[1], check_exact=True)


def _random_short_segments(rng) -> pd.DataFrame:
    """Short-segment rows of five disjoint components — a chain, a ring, a
    branching star and two of random shape — with random directions,
    reversed twins and node ids, whose rows interleave in (way_id,
    seq_in_way, twin) order and arrive shuffled."""
    edges, n = [], 0
    for shape in ["chain", "ring", "star", *rng.choice(["chain", "ring", "star"], 2)]:
        nodes = list(range(n, n + int(rng.integers(3, 8))))
        n += len(nodes)
        if shape == "chain":
            comp = list(zip(nodes[:-1], nodes[1:]))
        elif shape == "ring":
            comp = list(zip(nodes, nodes[1:] + nodes[:1]))
        else:  # the spokes of a star around nodes[0]
            comp = [(nodes[0], b) for b in nodes[1:]]
        edges += [(a, b) if rng.random() < 0.7 else (b, a) for a, b in comp]
    node_ids = rng.permutation(10_000)[:n] + 1  # random ids, random id order
    slots = rng.permutation(len(edges))  # (way_id, seq_in_way) per edge
    rows = []
    for (a, b), slot in zip(edges, slots):
        a, b = int(node_ids[a]), int(node_ids[b])
        way, seq = int(slot // 3) + 1, int(slot % 3)
        rows.append((a, b, way, seq, 0))
        if rng.random() < 0.4:  # the reversed twin of a two-way street
            rows.append((b, a, way, seq, 1))
    pdf = pd.DataFrame(rows, columns=["start_node_id", "end_node_id", "way_id", "seq_in_way", "twin"])
    pdf["segment_id"] = rng.permutation(10_000)[: len(pdf)] + 1
    pdf["length_m"] = rng.uniform(1.0, 60.0, len(pdf))
    return pdf.sample(frac=1, random_state=int(rng.integers(1 << 30)))


@pytest.mark.parametrize("seed", range(8))
def test_fold_jumpers_equals_one_global_fold(seed):
    """fold_jumpers (union-find components, one fold each) equals pyoracle's
    semantics — one global add_jumper fold over all short segments in
    (way_id, seq_in_way, twin) order — on random chains, rings, stars and
    reversed twins, whatever order the rows arrive in."""
    from traffic_engine_spark.oracle import pyoracle as O

    pdf = _random_short_segments(np.random.default_rng(seed))
    jumpers, s_idx, e_idx = {}, set(), set()
    for s in pdf.sort_values(["way_id", "seq_in_way", "twin"]).itertuples():
        O.add_jumper(jumpers, s_idx, e_idx, O.Jumper(
            int(s.start_node_id), int(s.end_node_id), float(s.length_m), [int(s.segment_id)]
        ))
    key = ["start_node_id", "end_node_id"]
    want = pd.DataFrame(
        [(k[0], k[1], j.length, tuple(j.segments)) for k, j in jumpers.items()],
        columns=[*key, "length_m", "segment_ids"],
    ).sort_values(key).reset_index(drop=True)
    got = N.fold_jumpers(pdf)
    got["segment_ids"] = got["segment_ids"].apply(tuple)
    got = got.sort_values(key).reset_index(drop=True)
    assert (want["segment_ids"].map(len) >= 3).any()  # the graph merges
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_jumpers_empty_without_short_segments(spark, spark_network, images_pd):
    """No short segments ⇒ no jumpers, and run_pipeline → histograms still
    runs, with no jumper samples."""
    from traffic_engine_spark.config import MIN_SEGMENT_LEN

    segs, tls, _ = spark_network
    jumpers = N.build_jumpers(segs.filter(F.col("length_m") > MIN_SEGMENT_LEN))
    assert jumpers.count() == 0
    _, samples = M.run_pipeline(spark, spark.createDataFrame(images_pd), tls, segs, jumpers)
    assert samples.filter(F.col("source") == "jumper").count() == 0
    assert S.histograms(samples).count() > 0


def test_streaming_gate_matches_batch(spark, images_pd):
    """Streaming W3 (the reference's per-tile RELEASE gate,
    VehicleStates.java:188-227) must pass exactly the batch
    anonymity_gate's row set on a finite input: tiles reaching 10 distinct
    traces release their buffer, under-threshold tiles never emit."""
    import tempfile

    from traffic_engine_spark.streaming.match_stream import gate_fixes_stream

    images = spark.createDataFrame(images_pd)
    fixes = M.decode_fixes(images)
    # z16 cells: small enough that the fixture has both gated and passing
    # tiles (at the production z11 every city tile clears the threshold)
    batch = M.anonymity_gate(fixes, zoom=16).toPandas()
    assert 0 < len(batch) < fixes.count()  # the fixture exercises both sides

    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        fixes.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "image_id string, trace_id long, ts long, lat double, lon double"
        ).parquet(src)
        q = (
            gate_fixes_stream(stream, zoom=16)
            .writeStream.format("memory").queryName("gated_fixes")
            .outputMode("append").option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True).start()
        )
        import time as _time

        deadline = _time.time() + 240
        while _time.time() < deadline and q.isActive:
            n = spark.sql("select count(*) c from gated_fixes").first().c
            if n >= len(batch) and not q.status["isDataAvailable"]:
                break
            _time.sleep(2)
        q.stop()
        got = spark.sql("select * from gated_fixes").toPandas()

    key = ["image_id"]
    a = batch[got.columns].sort_values(key).reset_index(drop=True)
    b = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()), check_exact=True)


def test_empty_and_malformed_inputs(spark, spark_network, images_pd):
    """Robustness at the ingest boundary: an empty images table flows
    through the whole pipeline as a schema-preserving no-op, and malformed
    captions (unparseable geotags) are dropped row-wise — never a crash
    (Spark 4 ANSI mode would throw on a plain cast)."""
    segs, tls, jumpers = spark_network

    empty = spark.createDataFrame([], schema=spark.createDataFrame(images_pd).schema)
    crossings, samples = M.run_pipeline(spark, empty, tls, segs, jumpers)
    assert crossings.count() == 0 and samples.count() == 0
    assert [f.name for f in samples.schema.fields] == [
        "trace_id", "segment_id", "time", "speed", "source", "end_time"
    ]

    # corrupt half the captions; the clean half must still produce the
    # same fixes it would alone
    bad = images_pd.copy()
    bad.loc[::2, "caption"] = "not;a;geotag;at-all"
    fixes = M.decode_fixes(spark.createDataFrame(bad))
    clean_rows = len(images_pd) - len(bad.loc[::2])
    assert fixes.count() == clean_rows
    om = M.offmap_traces(
        M.run_pipeline(spark, spark.createDataFrame(bad), tls, segs, jumpers)[1],
        segs, jumpers, fixes,
    )
    om.count()  # plan executes end-to-end on the degraded input


def test_empty_inputs_dedup_ann_viterbi(spark, spark_network):
    """Schema-preserving no-ops on empty inputs for the operator families
    outside the pipeline: dedup, ANN, and the Viterbi matcher."""
    from traffic_engine_spark.operators import ann as A
    from traffic_engine_spark.operators import dedup as D
    from traffic_engine_spark.plans import hmm

    docs = spark.createDataFrame([], "doc_id long, lang string, source string, text string")
    assert D.exact_dedup(docs).count() == 0
    assert D.minhash_lsh_pairs(docs).count() == 0
    assert sorted(D.simhash_pairs(docs).columns) == ["doc_a", "doc_b", "hamming"]
    assert D.simhash_pairs(docs).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert D.embedding_lsh_pairs(emb, min_cosine=0.3, band_planes=4, n_bands=8).count() == 0
    # adaptive path: lsh_auto_bands(0) must not crash (log2 guard)
    assert D.embedding_lsh_pairs(emb, min_cosine=0.9).count() == 0
    assert A.brute_topk(emb, emb, k=3).count() == 0

    segs, _, _ = spark_network
    fixes = spark.createDataFrame(
        [], "image_id string, trace_id long, ts long, lat double, lon double"
    )
    out = hmm.viterbi_match(fixes, segs)
    assert out.count() == 0
    assert [f.split(" ")[0] for f in hmm.MATCH_SCHEMA.split(", ")] == list(out.columns)


def test_brute_topk_query_cap_bounds_collect(spark, monkeypatch):
    """Over the cap, brute_topk raises having collected at most
    max_query_rows + 1 query rows, not the whole query block."""
    from traffic_engine_spark.operators import ann as A

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"), F.array(F.rand(1), F.rand(2)).alias("embedding")
    )
    collected = []
    to_pandas = type(emb).toPandas

    def spy(df):
        pdf = to_pandas(df)
        collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(type(emb), "toPandas", spy)
    with pytest.raises(ValueError, match="max_query_rows=10"):
        A.brute_topk(emb, emb, k=3, max_query_rows=10)
    assert collected == [11]


def test_asof_join_operator(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "ts": [10, 20, 10], "lid": [1, 2, 3]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "ts": [5, 15, 30], "rv": [100, 200, 300]})
    )
    out = relational.asof_join(left, right, on="k").toPandas().sort_values("lid")
    assert list(out["rv_asof"]) == [100, 200, None] or list(out["rv_asof"].fillna(-1)) == [100, 200, -1]

    # 50 right rows tie on (k, ts): the carried value is the last in
    # right_cols order, whatever the partitioning
    rv = np.random.default_rng(7).permutation(50)
    tied = spark.createDataFrame(pd.DataFrame({"k": 1, "ts": 5, "rv": rv}))
    probe = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [10]}))
    carried = {
        relational.asof_join(probe, tied.repartition(n), on="k").first()["rv_asof"]
        for n in (1, 3, 7, 13, 29)
    }
    assert carried == {49}

    # a left column named like a right column survives next to its _asof twin
    ev_left = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [10], "event_id": [7]}))
    ev_right = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [5], "event_id": [3]}))
    row = relational.asof_join(ev_left, ev_right, on="k").first()
    assert (row["event_id"], row["event_id_asof"]) == (7, 3)


def test_lsh_auto_bands_degenerate_threshold():
    """ADVICE r4: min_cosine == -1.0 makes the hyperplane collision
    probability 0 (miss == 1.0) — must return the L cap, not divide by
    log(1) == 0."""
    from traffic_engine_spark.operators.dedup import lsh_auto_bands

    r, L = lsh_auto_bands(1000, min_cosine=-1.0)
    assert 4 <= r <= 16 and L == 64
    # and the other degenerate end: identical-vector threshold
    r2, L2 = lsh_auto_bands(1000, min_cosine=1.0)
    assert L2 == 8


def test_store_op_id_seen_across_instances(spark, tmp_path):
    """ADVICE r4: a second long-lived SnapshotStore on the same path must
    not double-apply an op_id committed by the first AFTER the second's
    cache was warmed (the miss path re-reads the log)."""
    from traffic_engine_spark.sources.store import SnapshotStore

    key = ["k"]
    a = SnapshotStore(spark, str(tmp_path / "xstore"), key_cols=key)
    b = SnapshotStore(spark, str(tmp_path / "xstore"), key_cols=key)
    inc = spark.createDataFrame([(1, 10)], "k long, n long")
    a.merge_sum(inc, ["n"], op_id="op-0")   # warms nothing on b yet
    b.merge_sum(inc, ["n"], op_id="op-1")   # b caches {op-0, op-1}
    a.merge_sum(inc, ["n"], op_id="op-2")   # committed by a, not in b's cache
    out = b.merge_sum(inc, ["n"], op_id="op-2")  # must be detected as replay
    assert out["operation"] == "merge-sum-replay-skip"
    assert int(b.read().agg({"n": "sum"}).first()[0]) == 30


def test_find_crossings_smj_plans_on_stream(spark, spark_network, images_pd, tmp_path):
    """The shuffle path of the J1 join (broadcast threshold off, the plan
    an index too large to broadcast gets) plans and runs on a streaming
    probe — the same plain join as a batch probe — and one availableNow
    run matches the batch crossings exactly."""
    from traffic_engine_spark.streaming.match_stream import (
        FIX_SCHEMA,
        pair_fixes_stream,
    )

    segs, tls, jumpers = spark_network
    fixes_pd = M.decode_fixes(spark.createDataFrame(images_pd)).toPandas()
    src = str(tmp_path / "smj_src"); os.makedirs(src)
    fixes_pd.to_parquet(os.path.join(src, "all.parquet"), index=False)

    out = str(tmp_path / "smj_silver")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = pair_fixes_stream(
            spark.readStream.schema(FIX_SCHEMA).parquet(src)
        )
        cr = M.find_crossings(pairs, tls)
        q = (
            cr.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", str(tmp_path / "smj_ck"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        _poll_stream(spark, q)
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[_ck#\d+L\]", plan), plan
    key = ["trace_id", "seq", "time", "segment_id", "tripline_index",
           "tripline_id", "tile_x", "tile_y"]
    got = spark.read.parquet(out).toPandas()[key]
    want = M.find_crossings(
        M.pair_fixes(M.decode_fixes(spark.createDataFrame(images_pd))), tls
    ).toPandas()[key]
    assert len(want) > 0
    # the stream's pair counter is a long, the batch row_number an int
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.astype(got.dtypes.to_dict()).sort_values(key).reset_index(drop=True),
        check_exact=True,
    )


def test_star_contraction_matches_label_propagation(spark):
    """Star contraction (Kiveris et al.) and min-label propagation must
    agree exactly on mixed graphs, and star must solve a 3000-hop chain
    (diameter far beyond label's default iteration budget) in its
    O(log² n) round budget."""
    import random

    from traffic_engine_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = (
        [(i, i + 1) for i in range(0, 9)]
        + [(100, 101), (101, 102), (102, 100)]
        + [(200, 201), (200, 202), (200, 203)]
        + [(9, 100), (7, 7)]
    )
    rnd = random.Random(11)
    nodes = list(range(300, 400))
    edges += [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(150)]
    e = spark.createDataFrame(edges, "src long, dst long")
    lab = {(r.node, r.component) for r in connected_components(e, max_iter=30).collect()}
    star = {(r.node, r.component) for r in connected_components_star(e).collect()}
    assert lab == star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(3000)], "src long, dst long"
    )
    got = connected_components_star(chain).toPandas()
    assert len(got) == 3001
    assert (got["component"] == 0).all()


def test_dedup_resolution_falls_back_to_star_on_chains(spark):
    """The resolution wrapper must complete (not abort) on a chain-shaped
    duplicate graph whose diameter exceeds label propagation's budget."""
    import warnings as _warnings

    from traffic_engine_spark.operators.graph import dedup_resolution

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    # shrink label's budget indirectly: 200 hops > default 50 iterations
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        out = dedup_resolution(chain).toPandas()
    assert any("star contraction" in str(x.message) for x in w)
    assert len(out) == 201
    assert (out["component_id"] == 0).all()
    assert out[out.keep]["doc_id"].tolist() == [0]


@pytest.mark.parametrize("seed", [101, 202])
def test_streaming_random_fuzz_matches_batch(spark, seed):
    """Streaming twin of the crossing-state-machine fuzz
    (test_parity.py::test_crossing_state_machine_random_fuzz): seeded
    random city + random walks, run through the two-query medallion with
    3 time-sliced microbatches (state — pending crossings included —
    must round-trip GroupState between batches), must equal the batch
    pipeline's samples exactly.  Catches stream-only state-encoding and
    microbatch-boundary bugs on layouts no hand fixture encodes."""
    import numpy as np

    from traffic_engine_spark.datagen.images_gen import images_from_fixes_pd
    from traffic_engine_spark.datagen.osm_gen import generate_city
    from traffic_engine_spark.datagen.trace_gen import generate_traces
    from traffic_engine_spark.plans import network as N

    rng = np.random.RandomState(seed)
    nodes, ways, meta = generate_city(
        seed=seed, n_rows=int(rng.randint(4, 8)), n_cols=int(rng.randint(4, 8))
    )
    fixes = generate_traces(
        meta, seed=seed, n_traces=int(rng.randint(8, 18)),
        n_moves_lo=int(rng.randint(3, 6)), n_moves_hi=int(rng.randint(8, 16)),
    )
    images = images_from_fixes_pd(fixes)
    net = N.build_network_tables(
        spark, spark.createDataFrame(ways), spark.createDataFrame(nodes)
    )
    batch = _batch_samples(spark, net, images)
    assert len(batch) > 0, "draw produced no samples — fuzz not exercising the kernel"
    got = _run_stream(spark, net, images, f"fuzz_stream_{seed}",
                      n_slices=3, expected_rows=len(batch))
    _assert_samples_equal(batch, got)


# ---------------------------------------------------------------------------
# table maintenance — compaction + spatial clustering (Iceberg
# rewrite_data_files / Z-order twin, sources/maintenance.py)
# ---------------------------------------------------------------------------


def _write_fragmented(spark, tmp_path, n_files=40):
    """A 'month of micro-batch appends': the fixes table shattered into
    n_files tiny parquet files."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "image_id": [f"img{i:06d}" for i in range(n)],
            "lat": rng.uniform(45.0, 45.3, n),
            "lon": rng.uniform(-122.8, -122.4, n),
            "caption": [f"cap {i}" for i in range(n)],
        }
    )
    frag = str(tmp_path / "frag")
    spark.createDataFrame(pdf).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(frag)
    return frag, pdf


def test_compact_table_binpack_content_identical(spark, tmp_path):
    """binpack rewrite: file count collapses to the byte-derived target,
    content is row-identical both directions (the Iceberg
    rewrite_data_files contract)."""
    from traffic_engine_spark.sources.maintenance import compact_table

    frag, _ = _write_fragmented(spark, tmp_path)
    out = str(tmp_path / "compact")
    stats = compact_table(spark, frag, out, target_file_mb=1)
    assert stats["files_before"] >= 40
    assert stats["files_after"] == stats["target_files"] < stats["files_before"]
    a = spark.read.parquet(frag)
    b = spark.read.parquet(out)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_compact_table_cluster_disjoint_ranges(spark, tmp_path):
    """clustered rewrite: content identical AND every output file owns a
    DISJOINT Morton range (footer-stats audit — the property that makes
    min/max file-skipping work on spatial predicates)."""
    from traffic_engine_spark.sources.maintenance import (
        cluster_key_file_ranges,
        compact_table,
    )

    frag, _ = _write_fragmented(spark, tmp_path)
    out = str(tmp_path / "clustered")
    stats = compact_table(
        spark, frag, out, target_file_mb=0.25, cluster=("lat", "lon"),
        keep_cluster_key=True,
    )
    assert stats["files_after"] < stats["files_before"]
    a = spark.read.parquet(frag)
    b = spark.read.parquet(out).drop("_morton_cluster_key")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    ranges = sorted(cluster_key_file_ranges(out))
    assert len(ranges) >= 2, "need >1 file for the disjointness claim"
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1 < lo2, "output files must own disjoint key ranges"


def test_read_bbox_skips_files_and_matches_full_scan(spark, tmp_path):
    """Scan-side payoff of the clustered rewrite: read_bbox plans from
    footer stats only, PROVABLY reads a strict subset of the files, and
    its result is row-identical to the brute full-scan bbox filter."""
    from traffic_engine_spark.sources.maintenance import (
        bbox_morton_intervals,
        compact_table,
        read_bbox,
    )

    frag, pdf = _write_fragmented(spark, tmp_path)
    out = str(tmp_path / "clustered_rb")
    compact_table(
        spark, frag, out, target_file_mb=0.25, cluster=("lat", "lon"),
        keep_cluster_key=True,
    )
    box = (45.10, 45.15, -122.70, -122.65)
    df, rep = read_bbox(spark, out, *box, cover_zoom=12)
    got = (
        df.drop("_morton_cluster_key")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    exp = (
        pdf[
            (pdf.lat >= box[0]) & (pdf.lat <= box[1])
            & (pdf.lon >= box[2]) & (pdf.lon <= box[3])
        ]
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 50
    pd.testing.assert_frame_equal(got[list(exp.columns)], exp)
    # the point of the layout: a selective bbox must NOT open every file
    assert 0 < rep["files_read"] < rep["files_total"]

    # interval cover invariants: sorted, disjoint, each a whole quad range
    iv = bbox_morton_intervals(*box, cover_zoom=12)
    assert all(a <= b for a, b in iv)
    assert all(b < a2 for (_, b), (a2, _) in zip(iv, iv[1:]))
    span = 1 << (2 * (18 - 12))
    assert all((b - a + 1) % span == 0 for a, b in iv)

    # a bbox over open ocean touches zero files and returns empty,
    # schema intact
    edf, erep = read_bbox(spark, out, 10.0, 10.1, -150.0, -149.9, cover_zoom=9)
    assert erep["files_read"] == 0 and edf.count() == 0
    assert "image_id" in edf.columns


# ---------------------------------------------------------------------------
# product quantization (operators/ann.py: pq_train / pq_encode / pq_search)
# ---------------------------------------------------------------------------


def _pq_replay_codes(x, books):
    """Independent numpy replay of the encode contract: per subspace,
    6-dp-rounded squared distance, argmin with lowest-code tie-break."""
    import numpy as np

    m = len(books)
    dsub = len(books[0][0])
    out = np.empty((len(x), m), dtype=np.int64)
    for j in range(m):
        s = x[:, j * dsub : (j + 1) * dsub]
        cent = np.array(books[j])
        d2 = np.round(((s[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6)
        out[:, j] = d2.argmin(axis=1)
    return out


def test_pq_encode_and_search_match_numpy_replay(spark):
    """PQ codes and ADC top-k from the JVM plan equal the independent
    numpy replay exactly (6-dp parity contract), and PQ recall@5 vs the
    exact L2 ranking clears a pinned floor on the synthetic embeddings."""
    import numpy as np

    from traffic_engine_spark.operators import ann as A

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = A.pq_train(emb, m=4, k=16, iters=5)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16

    pdf = emb.orderBy("vec_id").toPandas()
    x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    want = _pq_replay_codes(x, books)

    got = A.pq_encode(emb, books).orderBy("vec_id").toPandas()
    assert (np.array(got["codes"].tolist()) == want).all()
    # encode adds no exchange over the scan
    enc = A.pq_encode(emb, books)
    assert enc._jdf.queryExecution().executedPlan().toString().count("Exchange") == 0

    # ADC search vs replay: distances and ranking identical
    queries = emb.filter(F.col("vec_id") < 8)
    res = A.pq_search(queries, A.pq_encode(emb, books), books, topk=5).toPandas()
    assert list(res.columns) == ["query_id", "rank", "neighbor_id", "d2"]
    cent = np.array(books)  # (m, k, dsub)
    m, k, dsub = cent.shape
    ids = pdf["vec_id"].to_numpy()
    for qi in range(8):
        qv = x[ids == qi][0].reshape(m, 1, dsub)
        lut = np.round(((qv - cent) ** 2).sum(axis=2), 6)
        adc = np.round(lut[np.arange(m)[None, :], want].sum(axis=1), 6)
        mask = ids != qi
        order = np.lexsort((ids[mask], adc[mask]))
        exp_ids = ids[mask][order][:5]
        got_q = res[res.query_id == qi].sort_values("rank")
        assert got_q["neighbor_id"].tolist() == exp_ids.tolist()
        assert np.allclose(got_q["d2"].to_numpy(), adc[mask][order][:5])

    # REFINE stage (rerank>0): exact squared distances over the ADC
    # shortlist — recall is then a function of shortlist width alone.
    # With rerank=8 the 40-candidate shortlist on 499 rows must recover
    # most of the exact top-5; raw ADC at m=4,k=16 sits near 0.2 on
    # these unstructured synthetic vectors (documented, not asserted —
    # structureless gaussians are PQ's worst case).
    res_r = A.pq_search(
        queries, A.pq_encode(emb, books), books, topk=5, emb=emb, rerank=8
    ).toPandas()
    hits = tot = 0
    for qi in range(8):
        qv = x[ids == qi][0]
        d2 = ((x - qv) ** 2).sum(axis=1)
        mask = ids != qi
        order = np.lexsort((ids[mask], d2[mask]))
        exact_ids = ids[mask][order][:5]
        got_q = res_r[res_r.query_id == qi].sort_values("rank")
        # refined distances are EXACT for whatever it returns
        rd = {int(n): float(v) for n, v in zip(got_q["neighbor_id"], got_q["d2"])}
        for n, v in rd.items():
            nv = x[ids == n][0]
            want_d2 = np.round(qv @ qv - 2.0 * (qv @ nv) + nv @ nv, 6)
            assert abs(want_d2 - v) < 2e-6  # same form, fold-order tolerance
        hits += len(set(exact_ids.tolist()) & set(rd))
        tot += 5
    recall = hits / tot
    assert recall >= 0.6, f"PQ+refine recall@5 collapsed: {recall}"


def test_ivfpq_search_composition(spark):
    """IVF-PQ equals its parts: probing ALL cells reduces it to pq_search
    (same ADC, same ranking); with refine and full shortlist width it
    recovers the exact L2 top-k restricted to probed candidates; with
    nprobe < all it returns topk rows per query from probed cells only."""
    import pandas as pd

    from traffic_engine_spark.operators import ann as A

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    books = A.pq_train(emb, m=4, k=16, iters=3)
    queries = emb.filter(F.col("vec_id") < 6)

    # all cells probed == plain PQ ADC over the whole corpus
    full = A.ivfpq_search(queries, emb, centroids, books, topk=5, nprobe=8)
    plain = A.pq_search(queries, A.pq_encode(emb, books), books, topk=5)
    cols = ["query_id", "rank", "neighbor_id", "d2"]
    pd.testing.assert_frame_equal(
        full.toPandas()[cols].sort_values(cols[:2]).reset_index(drop=True),
        plain.toPandas()[cols].sort_values(cols[:2]).reset_index(drop=True),
    )

    # partial probes: 5 rows per query, all from probed cells
    part = A.ivfpq_search(queries, emb, centroids, books, topk=5, nprobe=2,
                          rerank=4).toPandas()
    assert (part.groupby("query_id").size() == 5).all()
    cells = A.ivf_assign(emb, centroids).toPandas().set_index("vec_id")["centroid_id"]
    probed = (
        A._centroid_rank(queries, centroids, "vec_id", "embedding")
        .filter(F.col("rn") <= 2).select("vec_id", "centroid_id").toPandas()
    )
    allowed = probed.groupby("vec_id")["centroid_id"].agg(set).to_dict()
    for r in part.itertuples():
        assert cells[r.neighbor_id] in allowed[r.query_id]


def test_compact_table_fuzz_random_shapes(spark, tmp_path):
    """Randomized compaction fuzz: random row counts / fragment counts /
    value ranges (one draw includes NULL coordinates) — content must be
    row-identical both directions every draw, and non-null-keyed output
    files must own disjoint Morton ranges."""
    import numpy as np
    import pandas as pd

    from traffic_engine_spark.sources.maintenance import (
        cluster_key_file_ranges,
        compact_table,
    )

    for seed in (11, 12, 13):
        rng = np.random.RandomState(seed)
        n = int(rng.randint(500, 20000))
        nf = int(rng.randint(2, 40))
        lat = rng.uniform(-80, 80, n)
        lon = rng.uniform(-179, 179, n)
        pdf = pd.DataFrame(
            {
                "image_id": [f"s{seed}_{i}" for i in range(n)],
                "lat": lat,
                "lon": lon,
                "n": rng.randint(0, 1 << 30, n),
            }
        )
        if seed == 13:  # corrupt-corpus posture: a few null coordinates
            idx = rng.choice(n, max(1, n // 100), replace=False)
            pdf.loc[idx, "lat"] = None
        frag = str(tmp_path / f"frag{seed}")
        out = str(tmp_path / f"out{seed}")
        spark.createDataFrame(pdf).repartition(nf).write.mode(
            "overwrite"
        ).parquet(frag)
        compact_table(
            spark, frag, out, target_file_mb=0.2, cluster=("lat", "lon"),
            keep_cluster_key=True,
        )
        a = spark.read.parquet(frag)
        b = spark.read.parquet(out).drop("_morton_cluster_key")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), seed
        ranges = sorted(r for r in cluster_key_file_ranges(out)
                        if r[0] is not None)
        for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 < lo2, (seed, ranges)


def test_streaming_pixel_store_matches_batch_render(spark, tmp_path):
    """The live heatmap: streamed points → per-microbatch pixel-count
    increments MERGE-accumulated into the SnapshotStore; rendering the
    store state yields PNGs BYTE-identical to the batch render_tiles on
    the full input (counts are additive; intensities are a read-side
    view).  A replayed microbatch (same op_id) changes nothing."""
    from traffic_engine_spark.plans.tiles import (
        pixel_counts,
        render_pixel_counts,
        render_tiles,
    )
    from traffic_engine_spark.sources.store import SnapshotStore
    from traffic_engine_spark.streaming.match_stream import (
        pixel_counts_to_store_sink,
    )

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "lat": 37.70 + rng.uniform(0, 0.05, 600),
            "lon": -122.20 + rng.uniform(0, 0.05, 600),
        }
    )
    src = str(tmp_path / "pix_src")
    os.makedirs(src)
    slices = np.array_split(pdf, 3)
    for i, part in enumerate(slices):
        p = os.path.join(src, f"s{i}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    store = SnapshotStore(
        spark, str(tmp_path / "pix_store"),
        key_cols=["tile_x", "tile_y", "px", "py"],
    )
    stream = (
        spark.readStream.schema("lat double, lon double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(pixel_counts_to_store_sink(store, 15))
        .option("checkpointLocation", str(tmp_path / "pix_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(store.snapshots()) >= 3  # one commit per microbatch

    keys = ["tile_x", "tile_y"]
    live = (
        render_pixel_counts(store.read(), 15)
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    want = (
        render_tiles(spark.createDataFrame(pdf), 15)
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    assert len(live) == len(want) >= 2
    assert all(bytes(a) == bytes(b) for a, b in zip(live.png, want.png))
    pd.testing.assert_frame_equal(
        live.drop(columns=["png"]), want.drop(columns=["png"])
    )

    # at-least-once replay: batch 0 re-delivered under its op_id is a no-op
    before = store.current_snapshot_id()
    store.merge_sum(
        pixel_counts(spark.createDataFrame(slices[0]), 15),
        ["cnt"],
        op_id="pixel-counts-z15-0",
    )
    assert store.current_snapshot_id() == before


def test_get_spark_reads_only_deployment_settings_from_env(tmp_path, monkeypatch):
    """`get_spark` takes the cores and the shuffle dir from the
    environment and nothing else: the Arrow batch, scan split and driver
    memory are constants, so the benchmark measures the configuration
    every caller gets.  The builder's options are captured from a patched
    `getOrCreate`, so no second JVM starts."""
    from pyspark.sql import SparkSession

    from traffic_engine_spark.session import get_spark

    class _Context:
        def setLogLevel(self, level):
            pass

    class _Session:
        sparkContext = _Context()

    built = []

    def capture(builder):
        built.append(dict(builder._options))
        return _Session()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    get_spark(cores=2)
    monkeypatch.setenv("SPARK_ARROW_BATCH", "7")
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "3k")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5m")
    get_spark(cores=2)
    assert built[0] == built[1]
    assert built[0]["spark.sql.execution.arrow.maxRecordsPerBatch"] == "32768"
    assert built[0]["spark.sql.files.maxPartitionBytes"] == "16m"
    assert built[0]["spark.driver.memory"] == "16g"
    assert built[0]["spark.local.dir"] == str(tmp_path)


def _readme_layout_paths(repo):
    """Repo-relative paths named in README.md's Layout block, read as an
    indented tree: a line names a path when its first word ends in "/",
    ".py" or ".sh" and sits at most one level (two spaces) below the
    directory that encloses it."""
    with open(os.path.join(repo, "README.md")) as fh:
        block = fh.read().split("## Layout", 1)[1].split("```", 2)[1]
    paths, dirs = [], []
    for line in block.splitlines():
        if not line.strip():
            continue
        word = line.split()[0]
        depth = (len(line) - len(line.lstrip())) // 2
        if depth > len(dirs) or not re.fullmatch(r"[\w.]+(/[\w.]+)*(/|\.py|\.sh)", word):
            continue
        del dirs[depth:]
        paths.append("".join(dirs) + word)
        if word.endswith("/"):
            dirs.append(word)
    return paths


def test_readme_layout_matches_tree():
    """Every module of the package appears in README's Layout block, and
    every path the block names exists."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    named = _readme_layout_paths(repo)
    assert "traffic_engine_spark/plans/match.py" in named
    assert [p for p in named if not os.path.exists(os.path.join(repo, p))] == []
    modules = {
        os.path.relpath(os.path.join(d, f), repo)
        for d, _, files in os.walk(os.path.join(repo, "traffic_engine_spark"))
        for f in files
        if f.endswith(".py") and f != "__init__.py"
    }
    assert sorted(modules - set(named)) == []


def test_coverage_rows_name_live_code_and_tests():
    """Every module, function and registry entry COVERAGE.md credits
    exists, and every test it cites is defined under tests/, so a row
    that a deletion leaves behind fails here instead of going stale."""
    import ast

    from traffic_engine_spark.queries import REGISTRY, YARDSTICKS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "traffic_engine_spark")
    with open(os.path.join(repo, "COVERAGE.md")) as fh:
        text = fh.read()

    # `.py` paths: repo-relative, package-relative (`dir/module.py`) or a
    # bare test file name
    roots = (repo, pkg, os.path.join(repo, "tests"))
    paths = set(re.findall(r"[\w./]*\w\.py\b", text))
    missing = sorted(
        p for p in paths if not any(os.path.exists(os.path.join(r, p)) for r in roots)
    )
    assert missing == []

    # `dir/module.name` references: the module exists and defines the name
    subdirs = "|".join(
        d for d in os.listdir(pkg)
        if os.path.isdir(os.path.join(pkg, d)) and not d.startswith("_")
    )
    refs = set(re.findall(rf"\b({subdirs})/(\w+)(?:\.(\w+)\b(?!\*))?", text))
    assert ("plans", "match", "find_crossings") in refs
    stale = []
    for d, mod, name in sorted(refs):
        src = os.path.join(pkg, d, mod + ".py")
        if not os.path.exists(src):
            stale.append(f"{d}/{mod}")
            continue
        if name in ("", "py"):
            continue
        with open(src) as fh:
            tree = ast.parse(fh.read())
        defined = {
            n.name for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        } | {
            t.id for n in ast.walk(tree) if isinstance(n, ast.Assign)
            for t in n.targets if isinstance(t, ast.Name)
        }
        if name not in defined:
            stale.append(f"{d}/{mod}.{name}")
    assert stale == []

    # `queries.py:<entry>` names a registry entry or a pytest yardstick
    entries = set(re.findall(r"queries\.py:(\w+)\b(?!\*)", text))
    assert entries and sorted(entries - set(REGISTRY) - set(YARDSTICKS)) == []

    # every cited test_* is defined under tests/ (file names excluded)
    cited = set(re.findall(r"\b(test_\w+)\b(?!\.py)", text))
    defined_tests = set()
    for d, _, files in os.walk(os.path.join(repo, "tests")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    defined_tests |= set(re.findall(r"^\s*def (test_\w+)", fh.read(), re.M))
    assert cited and sorted(cited - defined_tests) == []
