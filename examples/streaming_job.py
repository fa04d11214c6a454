#!/usr/bin/env python
"""The always-on streaming deployment (SURVEY §2.8, planet mode): the
reference's continuously-running stateful processor as a two-query
Structured Streaming medallion — no O(network) driver state anywhere.

    sh tools/package_pyfiles.sh
    # query 1 — bronze -> silver (pairing kernel + declarative J1/J2)
    spark-submit --py-files dist/traffic_engine_spark.zip \
        --conf spark.sql.adaptive.enabled=false \
        examples/streaming_job.py --stage crossings \
        --fixes    s3://bucket/fixes_stream/      \  # (image_id, trace_id, ts, lat, lon)
        --network  s3://bucket/out/               \  # pipeline_job.py's segments/triplines
        --silver   s3://bucket/silver/crossings/  \
        --checkpoint s3://bucket/ck/q1
    # query 2 — silver -> gold (crossing kernel + declarative J4 + store merge)
    spark-submit --py-files dist/traffic_engine_spark.zip \
        examples/streaming_job.py --stage samples \
        --silver   s3://bucket/silver/crossings/  \
        --network  s3://bucket/out/               \
        --store    s3://bucket/stores/histograms  \
        --checkpoint s3://bucket/ck/q2

Two queries are REQUIRED (Spark rejects chained applyInPandasWithState);
the silver crossing log is the hand-off — parquet here, Kafka/Delta in a
real deployment (`.format(...)` is the only change).  The per-query
GroupStates together are exactly the reference's Vehicle fields
(Vehicle.java:29-39); the 5-minute processing-time TTL is W4.  The gold
sink MERGE-accumulates per-microbatch histogram increments with the
microbatch id as the idempotency key, so at-least-once redelivery after a
crash never double-counts (sources/store.merge_sum(op_id=...)).

Optionally front query 1 with a third (bronze) query running the per-tile
RELEASE gate (W3): `--stage gate --fixes <raw> --gated <gated>` writes the
gated-fixes table; point the crossings stage's --fixes at that table.

Wire-format feeds: `--fixes-format pbf` reads the S4 protobuf
VehicleMessageEnvelope payloads instead of parquet fix rows
(sources/pbf.read_envelope_stream — same downstream kernels).
"""

from __future__ import annotations

import argparse


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", choices=["crossings", "samples", "gate"], required=True)
    ap.add_argument("--fixes", help="fix stream source (stage=crossings|gate)")
    ap.add_argument("--network", help="pipeline_job.py output root (segments/, triplines/)")
    ap.add_argument("--silver", help="silver crossing log path")
    ap.add_argument("--gated", help="gated-fixes output (stage=gate)")
    ap.add_argument("--store", help="histogram SnapshotStore root (stage=samples)")
    ap.add_argument(
        "--fixes-format", choices=["parquet", "pbf"], default="parquet",
        help="fix source layout: parquet fix rows, or pbf "
             "VehicleMessageEnvelope payloads (S4 wire format, "
             "sources/pbf.read_envelope_stream)")
    ap.add_argument("--checkpoint", required=True)
    args = ap.parse_args()
    required = {
        "gate": ["fixes", "gated"],
        "crossings": ["fixes", "network", "silver"],
        "samples": ["silver", "network", "store"],
    }[args.stage]
    missing = [f"--{a}" for a in required if getattr(args, a) is None]
    if missing:
        ap.error(f"--stage {args.stage} requires {' '.join(missing)}")

    from pyspark.sql import SparkSession

    from traffic_engine_spark.streaming.match_stream import (
        CROSSING_SCHEMA,
        FIX_SCHEMA,
        gate_fixes_stream,
        histograms_to_store_sink,
        jumper_samples_stream,
        stream_crossings,
    )

    spark = SparkSession.builder.appName(f"traffic_stream_{args.stage}").getOrCreate()
    fix_schema = FIX_SCHEMA

    def read_fixes():
        if args.fixes_format == "pbf":
            from traffic_engine_spark.sources.pbf import read_envelope_stream

            return read_envelope_stream(spark, args.fixes)
        return spark.readStream.schema(fix_schema).parquet(args.fixes)

    if args.stage == "gate":
        q = (
            gate_fixes_stream(read_fixes())
            .writeStream.format("parquet").option("path", args.gated)
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append").start()
        )
    elif args.stage == "crossings":
        tls = spark.read.parquet(f"{args.network}/triplines")
        q = (
            stream_crossings(read_fixes(), tls)
            .writeStream.format("parquet").option("path", args.silver)
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append").start()
        )
    else:  # samples
        from traffic_engine_spark.sources.store import SnapshotStore

        segs = spark.read.parquet(f"{args.network}/segments")
        # rebuild the jumper fold from the stored segments — or read a
        # persisted jumper table
        from traffic_engine_spark.plans.network import build_jumpers

        jumpers = build_jumpers(segs)
        store = SnapshotStore(
            spark, args.store,
            key_cols=["segment_id", "week", "hour_of_week", "speed_bin"],
        )
        q = (
            jumper_samples_stream(
                spark,
                spark.readStream.schema(CROSSING_SCHEMA).parquet(args.silver),
                segs,
                jumpers,
            )
            .writeStream.foreachBatch(histograms_to_store_sink(store))
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append").start()
        )

    q.awaitTermination()


if __name__ == "__main__":
    main()
