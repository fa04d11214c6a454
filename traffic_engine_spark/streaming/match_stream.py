"""Structured Streaming variant of the match pipeline (SURVEY §2.8) — no
O(network) driver state anywhere.

The reference is a continuously-running stateful processor: per-vehicle
queues, 5-minute vehicle TTL (VehicleStates.java:18,232-245), arrival-order
pairing with no watermark — and it holds the WHOLE network in process
memory (VehicleStates.java:174-246).  This recast does better: the network
stays a distributed (static) relation, and the stream composes as the same
medallion the batch path uses:

  query 1 (bronze→silver):  readStream fixes
      → `pair_fixes_stream`        stateful: state = lastPoint (+ a seq
                                   counter), the pairing half of the
                                   Vehicle fields (Vehicle.java:29-33)
      → `stream_crossings`         STATELESS J1/J2 — literally the batch
                                   `find_crossings` (pair bbox cover
                                   explode ⋈ static tripline cell index,
                                   refine inlined) on the pair stream
      → append sink (parquet/Delta/Kafka — the silver crossing log)

  query 2 (silver→gold):    readStream crossings
      → `crossing_samples_stream`  stateful: state = pending crossings +
                                   last segment + last segment time — the
                                   REMAINING Vehicle fields (:34-39); the
                                   two queries' states together are
                                   exactly the reference's, unchanged;
                                   the J3 loop is the batch kernel's
                                   `pair_crossings`
      → `_jumper_samples_declarative`  STATELESS J4 over static dims —
                                   shared verbatim with the batch path
      → samples sink (store merge / memory / …)

Two queries are REQUIRED, not a style choice: Spark rejects chained
applyInPandasWithState operators in one streaming query ("Multiple
applyInPandasWithStates are not supported"), and the candidate join must
sit between the two stateful steps.  Batch==stream exactness on finite
inputs: tests/test_infra.py::test_streaming_kernel_matches_batch (+ the
multi-microbatch variant that forces state round-trips mid-trace).

The anonymity gate (W3, ≥10 vehicles per tile) is implemented as the
reference's per-tile RELEASE gate (`gate_fixes_stream`: buffer a tile's
fixes until MINIMUM_VEHICLE_COUNT distinct traces were seen, then release
and pass through; never-opening tiles TTL-evict their buffer —
VehicleStates.java:188-245).  On a finite input the released row set
equals the batch `anonymity_gate` exactly (test_streaming_gate_matches_
batch); compose gate → pairing as a further bronze stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import (
    DEFAULT_CONFIG,
    MAX_PAIR_DELTA_MS_FIXED,
    MAX_PAIR_DELTA_MS_QUIRK,
    VEHICLE_INVALIDATION_TIME_MS,
    EngineConfig,
)
from ..plans.match import (
    CROSS_SAMPLE_SCHEMA,
    _jumper_samples_declarative,
    find_crossings,
    pair_crossings,
)

# the fix-source DDL every entry point reads with (decode_fixes' output
# shape) — lives here, next to CROSSING_SCHEMA, so examples/tools/tests
# cannot drift from the kernels
FIX_SCHEMA = "image_id string, trace_id long, ts long, lat double, lon double"

# ---------------------------------------------------------------------------
# query 1: stateful pairing (Vehicle.java:29-33) + declarative J1/J2
# ---------------------------------------------------------------------------

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("p_ts", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("p_lat", T.DoubleType(), False),
        T.StructField("p_lon", T.DoubleType(), False),
    ]
)

# lastPoint exactly (Vehicle.java:29-33) plus n_fix, a per-trace fix
# counter that orders crossings deterministically downstream (the batch
# pipeline's `seq`; pure bookkeeping, no network data).
PAIR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.LongType(), True),
        T.StructField("last_lat", T.DoubleType(), True),
        T.StructField("last_lon", T.DoubleType(), True),
        T.StructField("n_fix", T.LongType(), True),
    ]
)


def pair_fixes_stream(
    fixes_stream: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-trace GPS pairing as a minimal stateful stage: state is ONLY the
    last fix — consecutive-fix pairs (after the F5 stationary, F6 max-gap,
    F7 first-point filters, same rules AND the same cfg.strict_parity
    gating as plans/match.pair_fixes) flow out as rows for the declarative
    candidate join."""
    max_gap = (
        MAX_PAIR_DELTA_MS_QUIRK if cfg.strict_parity else MAX_PAIR_DELTA_MS_FIXED
    )

    import numpy as np

    _cols = [f.name for f in PAIR_SCHEMA.fields]

    def kernel(key, pdf_iter, state: GroupState):
        trace_id = key[0]
        if state.hasTimedOut:  # W4 vehicle eviction
            state.remove()
            yield pd.DataFrame(columns=_cols)
            return
        if state.exists:
            last_ts, last_lat, last_lon, n_fix = state.get
        else:
            last_ts = last_lat = last_lon = None
            n_fix = 0
        # Arrow may split one group's microbatch data across chunks
        # (maxRecordsPerBatch); the deterministic scan order must span the
        # WHOLE delivered batch, so concatenate before the single sort
        chunks = [c for c in pdf_iter if len(c)]
        if not chunks:
            state.update((last_ts, last_lat, last_lon, n_fix))
            state.setTimeoutDuration(VEHICLE_INVALIDATION_TIME_MS)
            yield pd.DataFrame(columns=_cols)
            return
        whole = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        whole = whole.sort_values(["ts", "image_id"])
        # VECTORIZED pairing (was a per-row itertuples loop — the measured
        # dominant term of the q1 microbatch at bench scale): the previous
        # fix is always the immediately preceding row in scan order
        # (filters never change what "previous" means), so one shift
        # against the state-carried last fix expresses F5/F6/F7 as masks.
        ts = whole["ts"].to_numpy(np.int64)
        lat = whole["lat"].to_numpy(np.float64)
        lon = whole["lon"].to_numpy(np.float64)
        n = len(ts)
        has_prev = last_ts is not None
        p_ts = np.empty(n, np.int64)
        p_lat = np.empty(n, np.float64)
        p_lon = np.empty(n, np.float64)
        p_ts[1:], p_lat[1:], p_lon[1:] = ts[:-1], lat[:-1], lon[:-1]
        p_ts[0] = last_ts if has_prev else 0
        p_lat[0] = last_lat if has_prev else 0.0
        p_lon[0] = last_lon if has_prev else 0.0
        keep = (ts - p_ts) <= max_gap              # F6 (strict_parity-gated)
        keep &= ~((p_lat == lat) & (p_lon == lon))  # F5
        if not has_prev:
            keep[0] = False                         # F7 first-point
        seq = n_fix + np.arange(n, dtype=np.int64)  # n_fix-1 after increment
        out = pd.DataFrame(
            {
                "trace_id": np.full(int(keep.sum()), trace_id, np.int64),
                "seq": seq[keep],
                "ts": ts[keep],
                "p_ts": p_ts[keep],
                "lat": lat[keep],
                "lon": lon[keep],
                "p_lat": p_lat[keep],
                "p_lon": p_lon[keep],
            }
        )
        state.update((int(ts[-1]), float(lat[-1]), float(lon[-1]), int(n_fix) + n))
        state.setTimeoutDuration(VEHICLE_INVALIDATION_TIME_MS)
        yield out

    return fixes_stream.groupBy("trace_id").applyInPandasWithState(
        kernel,
        outputStructType=PAIR_SCHEMA,
        stateStructType=PAIR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_crossings(
    fixes_stream: DataFrame, triplines: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Query-1 composition: stateful pairing → the BATCH `find_crossings`
    (J1 packed-cell equi-join against the static tripline index + inlined
    J2 refine — shared code, not a streaming re-implementation).  The
    result is the append-mode crossing log to persist as the silver table
    (CROSSING_SCHEMA = find_crossings' output shape)."""
    pairs = pair_fixes_stream(fixes_stream, cfg)
    return find_crossings(pairs, triplines)


CROSSING_SCHEMA = (
    "trace_id long, seq long, time long, segment_id long, tripline_index int, "
    "tripline_id long, dist double, tile_x long, tile_y long"
)


# ---------------------------------------------------------------------------
# query 2: stateful crossing pairing (Vehicle.java:34-39) + declarative J4
# ---------------------------------------------------------------------------

# pending crossings + last segment + last segment time — the remaining
# Vehicle fields (Vehicle.java:34-39); together with PAIR_STATE_SCHEMA the
# reference's state is covered unchanged.  This is `pair_crossings`' state
# as columns.
#
# Pending crossings are (time, tripline_id, segment_id, index, dist)
# tuples.  The ids are md5-derived 60-bit longs (> 2^53): they do NOT
# round-trip through float64, so the state stores them as parallel
# LongType arrays — an array<array<double>> encoding would silently
# corrupt every id at the first microbatch boundary and pending crossings
# would never complete.
CROSS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pend_time", T.ArrayType(T.LongType()), True),
        T.StructField("pend_tl", T.ArrayType(T.LongType()), True),
        T.StructField("pend_seg", T.ArrayType(T.LongType()), True),
        T.StructField("pend_idx", T.ArrayType(T.LongType()), True),
        T.StructField("pend_dist", T.ArrayType(T.DoubleType()), True),
        T.StructField("last_seg", T.LongType(), True),
        T.StructField("last_time", T.LongType(), True),
    ]
)


def crossing_samples_stream(crossings_stream: DataFrame) -> DataFrame:
    """Per-trace J3 crossing pairing over the silver crossing log: the
    batch kernel's state machine (plans/match.pair_crossings, shared with
    plans/match.speed_samples) with its state held in GroupState between
    micro-batches.  Emits crossing samples carrying (prev_seg, prev_time)
    so J4 jumper gap-fill stays a downstream DECLARATIVE join
    (`jumper_samples_stream`) — no network dict anywhere."""
    names = [f.name for f in CROSS_SAMPLE_SCHEMA.fields]

    def kernel(key, pdf_iter, state: GroupState):
        trace_id = key[0]
        if state.hasTimedOut:  # W4 vehicle eviction
            state.remove()
            yield pd.DataFrame(columns=names)
            return
        if state.exists:
            p_time, p_tl, p_seg, p_idx, p_dist, last_seg, last_time = state.get
            pending = [
                (int(t), int(tl), int(sg), int(ix), float(d))
                for t, tl, sg, ix, d in zip(
                    p_time or [], p_tl or [], p_seg or [], p_idx or [], p_dist or []
                )
            ]
            last_seg = int(last_seg) if last_seg is not None else -1
            last_time = int(last_time) if last_time is not None else 0
        else:
            pending, last_seg, last_time = [], -1, 0

        out: tuple[list, ...] = ([], [], [], [], [], [])
        # concatenate Arrow chunks first: the deterministic order below
        # must span the WHOLE delivered batch, not each chunk separately
        # (maxRecordsPerBatch can split one trace's rows across chunks)
        chunks = [c for c in pdf_iter if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            # the batch kernel's deterministic order (B-tree scan parity):
            # fix order, then (time, tile_x, tile_y, tripline_id)
            pdf = pdf.sort_values(
                ["seq", "time", "tile_x", "tile_y", "tripline_id"], kind="mergesort"
            )
            pending, last_seg, last_time = pair_crossings(
                pdf["time"].tolist(), pdf["segment_id"].tolist(),
                pdf["tripline_index"].tolist(), pdf["dist"].tolist(),
                (pending, last_seg, last_time), out,
            )

        pend_cols = [list(c) for c in zip(*pending)] if pending else [[]] * 5
        state.update((*pend_cols, last_seg, last_time))
        state.setTimeoutDuration(VEHICLE_INVALIDATION_TIME_MS)
        yield pd.DataFrame(dict(zip(names, ([trace_id] * len(out[0]), *out))))

    return crossings_stream.groupBy("trace_id").applyInPandasWithState(
        kernel,
        outputStructType=CROSS_SAMPLE_SCHEMA,
        stateStructType=CROSS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def jumper_samples_stream(
    spark, crossings_stream: DataFrame, segments: DataFrame, jumpers: DataFrame
) -> DataFrame:
    """Query-2 composition: crossing kernel → the BATCH
    `_jumper_samples_declarative` (J4 as stream-static joins + the
    combined struct-array explode — shared code).  Returns the final
    append-mode SAMPLE_SCHEMA stream."""
    return _jumper_samples_declarative(
        crossing_samples_stream(crossings_stream), segments, jumpers
    )


def histograms_to_store_sink(store):
    """foreachBatch sink: per-microbatch speed samples → histogram
    increments → MERGE-accumulate into a SnapshotStore — the reference's
    continuously-running StatsDataStore.save loop (StatsDataStore.java:
    140-162) as a streaming upsert.  Each microbatch commits one snapshot
    (time-travel shows the running accumulation); on a finite input the
    final table state equals the batch histograms exactly
    (test_streaming_histograms_merge_store).

    Replay-safe: foreachBatch is at-least-once — a microbatch is
    re-delivered if the driver dies between the store commit and the
    streaming checkpoint commit — so the batch_id rides into the snapshot
    log as the merge's op_id and an already-applied batch is skipped
    instead of double-counted (test_streaming_store_sink_replay_safe)."""
    from ..plans.stats import histograms

    def sink(batch_df, batch_id):
        store.merge_sum(histograms(batch_df), ["n"], op_id=f"hist-batch-{batch_id}")

    return sink


def pixel_counts_to_store_sink(store, zoom: int, resolution: int = 256):
    """foreachBatch sink: streamed points → per-microbatch (tile, px, py)
    count increments → MERGE-accumulate into a SnapshotStore — the live
    heatmap.  Counts are ADDITIVE (unlike the scaled intensities), so the
    store state after any prefix of microbatches equals the batch
    ``plans.tiles.pixel_counts`` over the same prefix, and rendering is a
    pure read-side view: ``render_pixel_counts(store.read())`` yields
    PNGs byte-identical to the batch ``render_tiles`` on the full input
    (test_streaming_pixel_store_matches_batch_render).

    Replay-safe like histograms_to_store_sink: the batch_id rides into
    the snapshot log as the merge op_id, so an at-least-once re-delivery
    is skipped, never double-counted."""
    from ..plans.tiles import pixel_counts

    def sink(batch_df, batch_id):
        store.merge_sum(
            pixel_counts(batch_df, zoom, resolution),
            ["cnt"],
            op_id=f"pixel-counts-z{zoom}-{batch_id}",
        )

    return sink


def sessionize_stream(
    events: DataFrame,
    key: str = "user_id",
    ts_ms: str = "ts_ms",
    gap_ms: int = 1_800_000,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Streaming twin of operators/relational.sessionize: per-session
    aggregates via Spark's built-in ``session_window`` over event time.

    Returns (key, n_events, first_ts, last_ts) — the session-level shape
    a streaming sink can emit (the batch operator's per-event session_id
    is not expressible incrementally without retraction).  Semantics
    parity with the batch gap rule: batch starts a new session when
    ``gap > gap_ms`` (an event at exactly prev + gap_ms stays in the
    session), while session_window merges on strictly-less-than, so the
    window gap is ``gap_ms + 1`` — batch == stream on every boundary
    (test_streaming_sessionize_matches_batch).

    ``watermark_delay`` (e.g. "30 minutes") bounds state for continuous
    streams with append output; a finite replay under complete mode needs
    none.  Works on batch DataFrames too (same code path)."""
    ev = events.withColumn("_ts", F.timestamp_millis(F.col(ts_ms).cast("long")))
    if watermark_delay is not None:
        ev = ev.withWatermark("_ts", watermark_delay)
    return (
        ev.groupBy(F.col(key), F.session_window("_ts", f"{gap_ms + 1} milliseconds"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_ms).alias("first_ts"),
            F.max(ts_ms).alias("last_ts"),
        )
        .select(key, "n_events", "first_ts", "last_ts")
    )


# ---------------------------------------------------------------------------
# W3 — streaming anonymity gate (VehicleStates.java:188-245)
# ---------------------------------------------------------------------------

GATED_FIX_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("trace_id", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)

GATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("open", T.BooleanType(), True),
        T.StructField("traces", T.ArrayType(T.LongType()), True),
        T.StructField("buf_img", T.ArrayType(T.StringType()), True),
        T.StructField("buf_trace", T.ArrayType(T.LongType()), True),
        T.StructField("buf_ts", T.ArrayType(T.LongType()), True),
        T.StructField("buf_lat", T.ArrayType(T.DoubleType()), True),
        T.StructField("buf_lon", T.ArrayType(T.DoubleType()), True),
    ]
)


def gate_fixes_stream(
    fixes_stream: DataFrame, min_vehicles: int = 10, zoom: int = 11
) -> DataFrame:
    """Streaming W3: the reference's RELEASE gate (VehicleStates.java:
    188-227 — a tile's queued points process only once the tile holds
    MINIMUM_VEHICLE_COUNT vehicles; under-threshold tiles buffer and are
    TTL-evicted, :232-245).  Keyed by z11 tile: buffer fixes until
    `min_vehicles` distinct traces were seen in the tile, then release the
    buffer and pass everything through; never-opening tiles drop their
    buffer at the state TTL — on a finite input this yields exactly the
    batch `anonymity_gate` row set (test_streaming_gate_matches_batch)."""
    from ..functions.cells import tile_x_np, tile_y_np

    def kernel(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:  # tile never filled — reference eviction
            state.remove()
            yield pd.DataFrame(columns=[f.name for f in GATED_FIX_SCHEMA.fields])
            return
        if state.exists:
            is_open, traces_raw, bi, bt, bts, bla, blo = state.get
            traces = set(int(t) for t in (traces_raw or []))
            buf = [list(bi or []), list(bt or []), list(bts or []),
                   list(bla or []), list(blo or [])]
        else:
            is_open, traces = False, set()
            buf = [[], [], [], [], []]

        out = [[], [], [], [], []]
        for pdf in pdf_iter:
            for r in pdf.itertuples():
                row = (str(r.image_id), int(r.trace_id), int(r.ts),
                       float(r.lat), float(r.lon))
                if is_open:
                    for i in range(5):
                        out[i].append(row[i])
                    continue
                traces.add(row[1])
                for i in range(5):
                    buf[i].append(row[i])
                if len(traces) >= min_vehicles:
                    is_open = True
                    for i in range(5):
                        out[i].extend(buf[i])
                        buf[i] = []
        state.update(
            (
                is_open, sorted(traces) if not is_open else [],
                buf[0], buf[1], buf[2], buf[3], buf[4],
            )
        )
        state.setTimeoutDuration(VEHICLE_INVALIDATION_TIME_MS)
        yield pd.DataFrame(
            {"image_id": out[0], "trace_id": out[1], "ts": out[2],
             "lat": out[3], "lon": out[4]}
        )

    def add_tile(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["ax"] = tile_x_np(pdf["lon"].to_numpy(), zoom)
            pdf["ay"] = tile_y_np(pdf["lat"].to_numpy(), zoom)
            yield pdf

    with_tile = fixes_stream.mapInPandas(
        add_tile,
        schema="image_id string, trace_id long, ts long, lat double, lon double, ax long, ay long",
    )
    return with_tile.groupBy("ax", "ay").applyInPandasWithState(
        kernel,
        outputStructType=GATED_FIX_SCHEMA,
        stateStructType=GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


