#!/usr/bin/env python
"""The shippable spark-submit job (north rule: "ships as spark-submit
--py-files and must hold >=0.8 throughput scaling efficiency between N and
4N executor runs").

    sh tools/package_pyfiles.sh
    spark-submit \
        --py-files dist/traffic_engine_spark.zip \
        --num-executors $N --executor-cores 2 --executor-memory 8g \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        examples/pipeline_job.py \
        --images  s3://bucket/images/        \  # (image_id, bytes, w, h, fmt, caption, phash)
        --ways    s3://bucket/osm_ways/      \  # (way_id, nodes array<long>, tags map)
        --nodes   s3://bucket/osm_nodes/     \  # (node_id, lat, lon)
        --out     s3://bucket/out/           \
        --checkpoint s3://bucket/checkpoints/run1 \

Executor sizing: many small executors (2-4 cores) — measured in BENCH.md
to out-scale few fat ones (per-core throughput holds at 2 cores/JVM).
Outputs: crossings (optional), speed samples, per-(segment, week, hour,
speed-bin) histograms, OffMapTrace polylines, tile assignments — all
deterministic (content-derived ids) so re-runs and different cluster sizes
are byte-identical.
"""

from __future__ import annotations

import argparse


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--ways", required=True)
    ap.add_argument("--nodes", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="stage-resumable root (plans/checkpoint.py)")
    ap.add_argument("--fingerprint", default="v1",
                    help="input-version fingerprint for checkpoint resume")
    ap.add_argument("--anonymity-gate", action="store_true",
                    help="drop fixes in z11 tiles seen by <10 distinct traces (W3)")
    ap.add_argument("--offmap", action="store_true", help="emit OffMapTrace polylines")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from traffic_engine_spark.config import EngineConfig
    from traffic_engine_spark.plans import match as M
    from traffic_engine_spark.plans import network as N
    from traffic_engine_spark.plans import stats as S
    from traffic_engine_spark.plans import tiles as TI

    # spark-submit provides master/executors; only SQL knobs set here
    spark = SparkSession.builder.appName("traffic_engine_spark").getOrCreate()
    cfg = EngineConfig(apply_anonymity_gate=args.anonymity_gate)

    images = spark.read.parquet(args.images)
    ways = spark.read.parquet(args.ways)
    nodes = spark.read.parquet(args.nodes)

    segs, tls, jumpers = N.build_network_tables(spark, ways, nodes)
    segs.write.mode("overwrite").parquet(f"{args.out}/segments")
    tls.write.mode("overwrite").parquet(f"{args.out}/triplines")

    if args.checkpoint:
        from traffic_engine_spark.plans.checkpoint import run_checkpointed_pipeline

        hist, results = run_checkpointed_pipeline(
            spark, images, tls, segs, jumpers, args.checkpoint, args.fingerprint, cfg
        )
        for r in results:
            print(f"stage {r.name}: rows={r.rows} partitions={r.partitions} "
                  f"wall={r.wall_sec}s resumed={r.skipped}")
        hist.write.mode("overwrite").partitionBy("week").parquet(f"{args.out}/histograms")
        samples = spark.read.parquet(f"{args.checkpoint}/samples")
    else:
        crossings, samples = M.run_pipeline(spark, images, tls, segs, jumpers, cfg)
        samples.write.mode("overwrite").parquet(f"{args.out}/speed_samples")
        samples = spark.read.parquet(f"{args.out}/speed_samples")
        S.histograms(samples).write.mode("overwrite").partitionBy("week").parquet(
            f"{args.out}/histograms"
        )

    TI.assign_tiles(images).write.mode("overwrite").parquet(f"{args.out}/tiles")

    if args.offmap:
        M.offmap_traces(samples, segs, jumpers, M.decode_fixes(images)) \
            .write.mode("overwrite").parquet(f"{args.out}/offmap_traces")

    spark.stop()


if __name__ == "__main__":
    main()
