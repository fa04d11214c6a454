"""Per-trace Viterbi/HMM map matching — the north rule's named kernel,
as an applyInPandas operator over the declarative candidate pairing.

The parity pipeline (plans/match.py) is the reference's tripline state
machine (exactness gate); this operator is the ADDITIONAL HMM matcher
the north star describes: candidate OSM segments are proposed per z18
cell ring by an equi-join on the packed cell key (the same J1 machinery,
ints only — no float crosses the JVM/Python boundary except fix
coordinates), and the Gaussian-emission / continuity-transition Viterbi
decode (functions/viterbi.py, Newson & Krumm 2009 shape) runs inside one
``applyInPandas`` group per trace.

Scale shape: the pairing is one bounded-key equi-join (candidates per
fix = segments covering a 3×3 z18 ring — city-block density), the
shuffle key is trace_id, and the kernel is numpy over Arrow batches.
The cover dim's join strategy is Spark's: it broadcasts while the segment
table's size estimate fits the session's broadcast threshold, and above
it shuffles on the packed key with AQE's skew-join splitting dense
cells.  A trace's candidate rows are O(fixes × ring density), never
O(network).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import explode_bbox_cover, pack_xy, tile_x_col, tile_y_col
from ..functions.viterbi import (
    M_PER_DEG,
    Z_HMM,
    point_segment_dist_m_np,
    viterbi_decode_batch_np,
)

MATCH_SCHEMA = (
    "trace_id long, seq long, ts long, segment_id long, dist_m double"
)


def _segment_cover(segments: DataFrame) -> DataFrame:
    """(packed cell, segment endpoint dim): one row per z18 tile (±1 ring)
    a segment's bbox covers."""
    seg = segments.select(
        "segment_id", "start_node_id", "end_node_id",
        F.element_at("lons", 1).alias("ax"), F.element_at("lats", 1).alias("ay"),
        F.element_at("lons", -1).alias("bx"), F.element_at("lats", -1).alias("by"),
    )
    return explode_bbox_cover(
        seg,
        F.least(F.col("ax"), F.col("bx")), F.least(F.col("ay"), F.col("by")),
        F.greatest(F.col("ax"), F.col("bx")), F.greatest(F.col("ay"), F.col("by")),
        zoom=Z_HMM, margin=1,
    ).select(
        pack_xy(F.col("tile_x"), F.col("tile_y")).alias("_ck"),
        "segment_id", "start_node_id", "end_node_id", "ax", "ay", "bx", "by",
    )


def _pruned_candidates(fixes: DataFrame, segments: DataFrame, k: int) -> DataFrame:
    """The JVM half of the matcher: ring-join candidate pairing + the
    conservative per-fix top-k prune, everything codegen — the exact rows
    that cross the Arrow boundary into the kernel."""
    cover = _segment_cover(segments)
    # non-finite coordinates (decode_fixes' try_cast admits 'NaN' and
    # 'Infinity' captions) are garbage for matching AND poison fix
    # identity (NaN != NaN splits runs while the oracle's drop_duplicates
    # merges them) — drop them to mirror the oracle's np.isfinite filter
    fixes = fixes.filter(
        ~F.isnan("lat") & ~F.isnan("lon")
        & (F.abs(F.col("lat")) != float("inf"))
        & (F.abs(F.col("lon")) != float("inf"))
    )
    fx = fixes.select(
        "trace_id", "ts", "lat", "lon",
        pack_xy(
            tile_x_col(F.col("lon"), Z_HMM), tile_y_col(F.col("lat"), Z_HMM)
        ).alias("_ck"),
    )
    # left join: fixes whose ring holds no segment still reach the kernel
    # (they must emit the -1 sentinel and break no chains).  The join key
    # is dropped before the Arrow boundary — at ~19 candidates/fix
    # (measured, bench city z18) the candidate payload is the operator's
    # dominant cost, so every shipped column counts.
    # coalesce the dim columns to sentinels so they stay NON-NULL int64
    # through Arrow: a single null makes pandas materialise the column as
    # float64, which rounds 60-bit md5 segment ids (2^53 ulp) — reproduced
    # as off-by-one ids on mixed covered/uncovered traces
    cand = (
        fx.join(cover, "_ck", "left").drop("_ck")
        .withColumn("segment_id", F.coalesce(F.col("segment_id"), F.lit(-1)))
        .withColumn("start_node_id", F.coalesce(F.col("start_node_id"), F.lit(-1)))
        .withColumn("end_node_id", F.coalesce(F.col("end_node_id"), F.lit(-1)))
        .withColumn("ax", F.coalesce(F.col("ax"), F.lit(0.0)))
        .withColumn("ay", F.coalesce(F.col("ay"), F.lit(0.0)))
        .withColumn("bx", F.coalesce(F.col("bx"), F.lit(0.0)))
        .withColumn("by", F.coalesce(F.col("by"), F.lit(0.0)))
    )

    # JVM-side top-k prune BEFORE the Arrow boundary: at ~19 ring
    # candidates/fix the payload transfer dominates the operator, but the
    # decode only ever uses the k nearest.  A codegen replica of
    # point_segment_dist_m_np ranks candidates per fix and keeps a
    # CONSERVATIVE superset — everything within eps of the k-th JVM
    # distance — so JVM-vs-numpy libm ulp drift (≤ ~1e-11 m here; eps is
    # 1e-6 m) can never cut a true top-k candidate.  The kernel still
    # recomputes the SHARED numpy distance on the survivors and does the
    # exact (dist, segment_id) selection, so the output stays bit-identical
    # to the oracle (and to the unpruned plan).
    kx = F.cos(F.radians(F.col("lat"))) * F.lit(M_PER_DEG)
    px, py = F.col("lon") * kx, F.col("lat") * F.lit(M_PER_DEG)
    axm, aym = F.col("ax") * kx, F.col("ay") * F.lit(M_PER_DEG)
    bxm, bym = F.col("bx") * kx, F.col("by") * F.lit(M_PER_DEG)
    dxx, dyy = bxm - axm, bym - aym
    den = dxx * dxx + dyy * dyy
    t_raw = F.when(den > 0.0, ((px - axm) * dxx + (py - aym) * dyy) / den).otherwise(
        F.lit(0.0)
    )
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    djvm = F.hypot(px - (axm + t * dxx), py - (aym + t * dyy))
    wfix = Window.partitionBy("trace_id", "ts", "lat", "lon")
    # duplicate FIXES (two images with identical captions → identical
    # (trace, ts, lat, lon) rows) would double-count ranks in the top-k
    # window below and cut true top-k candidates — dedupe (fix, segment)
    # first.  The duplicate rows are value-identical in every column, so
    # keeping rank 1 is exact; the window clusters on a superset of
    # trace_id, so it rides the same single exchange.
    wdup = Window.partitionBy(
        "trace_id", "ts", "lat", "lon", "segment_id"
    ).orderBy("segment_id")
    cand = (
        # ONE exchange for the whole operator: hash partitioning on
        # trace_id satisfies the dedup window, the per-fix prune window,
        # AND the kernel's group distribution — everything after the
        # repartition is local sorts
        cand.repartition("trace_id")
        .withColumn("_dup", F.row_number().over(wdup))
        .filter(F.col("_dup") == 1)
        .drop("_dup")
        .withColumn("_djvm", djvm)
        .withColumn(
            "_rk",
            F.row_number().over(wfix.orderBy(F.col("_djvm"), F.col("segment_id"))),
        )
        .withColumn(
            "_kd", F.max(F.when(F.col("_rk") <= k, F.col("_djvm"))).over(wfix)
        )
        .filter(
            (F.col("segment_id") == -1) | (F.col("_djvm") <= F.col("_kd") + F.lit(1e-6))
        )
        .drop("_djvm", "_rk", "_kd")
    )
    return cand


def viterbi_match(
    fixes: DataFrame,
    segments: DataFrame,
    k: int = 4,
    sigma_m: float = 25.0,
    trans_adj: float = 1.0,
    trans_jump: float = 10.0,
) -> DataFrame:
    """(trace_id, seq, ts, segment_id, dist_m): the Viterbi-decoded
    segment per GPS fix (segment_id -1 where no segment covers the fix's
    cell ring).  seq orders fixes by (ts, lon, lat) within the trace.

    Deterministic: candidate order is ascending segment_id, argmin takes
    the first minimum, and all float math is float64 numpy shared with
    the test oracle — output is independent of partitioning and
    parallelism (test_viterbi_partitioning_invariant).
    """
    cand = _pruned_candidates(fixes, segments, k)

    # mapInPandas over the trace-hash-partitioned candidates, NOT a
    # per-trace applyInPandas: one vectorised pass handles every trace in
    # the partition (run-length fix ids, one shared-numpy distance call,
    # one lexsort top-k), so the per-group pandas overhead — measured as
    # the dominant term at 8k traces (17 ms/group ≈ 4.4 s wall) — is paid
    # 32×, not 8000×.  Only the DP itself runs per trace, through the
    # SHARED viterbi_decode_np so engine and oracle stay bit-identical.
    # Correctness needs all rows of a trace in one partition — guaranteed
    # by the repartition("trace_id") inside _pruned_candidates; Arrow may
    # still split a partition across batches, hence the concat.
    def part_kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if pdf.empty:
            return
        # ONE stable sort: (trace, fix key, segment) — everything below is
        # run-length logic over this order.  Fix identity = (ts, lat,
        # lon) exactly (no hashing — a collision would merge two fixes).
        pdf = pdf.sort_values(
            ["trace_id", "ts", "lat", "lon", "segment_id"], kind="mergesort"
        )
        tid = pdf["trace_id"].to_numpy(np.int64)
        ts = pdf["ts"].to_numpy(np.int64)
        la = pdf["lat"].to_numpy(np.float64)
        lo = pdf["lon"].to_numpy(np.float64)
        sg = pdf["segment_id"].to_numpy(np.int64)
        n = len(pdf)
        new_trace = np.ones(n, dtype=bool)
        new_trace[1:] = tid[1:] != tid[:-1]
        new_fix = new_trace.copy()
        new_fix[1:] |= (ts[1:] != ts[:-1]) | (la[1:] != la[:-1]) | (lo[1:] != lo[:-1])
        fi = np.cumsum(new_fix) - 1  # partition-global fix index
        n_fix = int(fi[-1]) + 1
        fix_pos = np.flatnonzero(new_fix)
        fix_tid, fix_ts = tid[fix_pos], ts[fix_pos]
        new_trace_fix = new_trace[fix_pos]
        trace_first_fix = np.maximum.accumulate(
            np.where(new_trace_fix, np.arange(n_fix), 0)
        )
        seq = np.arange(n_fix) - trace_first_fix
        # candidates: drop -1 sentinel rows and (fix, segment) duplicates
        # (adjacent in this sort; duplicate rows are value-identical, so
        # keeping the first matches the old drop_duplicates)
        dup = np.zeros(n, dtype=bool)
        dup[1:] = ~new_fix[1:] & (sg[1:] == sg[:-1])
        keep = (sg >= 0) & ~dup
        out_seg = np.full(n_fix, -1, dtype=np.int64)
        out_d = np.full(n_fix, -1.0, dtype=np.float64)
        if keep.any():
            cfi, cseg = fi[keep], sg[keep]
            cs = pdf["start_node_id"].to_numpy(np.int64)[keep]
            ce = pdf["end_node_id"].to_numpy(np.int64)[keep]
            d = point_segment_dist_m_np(
                lo[keep], la[keep],
                pdf["ax"].to_numpy(np.float64)[keep],
                pdf["ay"].to_numpy(np.float64)[keep],
                pdf["bx"].to_numpy(np.float64)[keep],
                pdf["by"].to_numpy(np.float64)[keep],
            )
            # exact top-k per fix by (dist, segment_id): one lexsort, rank
            # = position within the fix's run
            m = len(cfi)
            ord_ = np.lexsort((cseg, d, cfi))
            cfi_s = cfi[ord_]
            run = np.ones(m, dtype=bool)
            run[1:] = cfi_s[1:] != cfi_s[:-1]
            rk = np.arange(m) - np.maximum.accumulate(np.where(run, np.arange(m), 0))
            sel = ord_[rk < k]
            # DP input order: fix-major, ascending segment_id within fix
            sel = sel[np.lexsort((cseg[sel], cfi[sel]))]
            cfi2, cseg2 = cfi[sel], cseg[sel]
            cs2, ce2, d2 = cs[sel], ce[sel], d[sel]
            tf_starts = np.flatnonzero(new_trace_fix)
            tf_ends = np.append(tf_starts[1:], n_fix)
            # ONE lockstep decode for every trace in the partition — the
            # per-trace viterbi_decode_np loop paid ~10 small-array numpy
            # calls per fix (19.5 s single-threaded at bench scale);
            # bit-identical by construction and pinned by
            # test_viterbi_batch_matches_per_trace
            out_seg, out_d = viterbi_decode_batch_np(
                cfi2, cseg2, cs2, ce2, d2, n_fix,
                tf_starts, tf_ends, k, sigma_m, trans_adj, trans_jump,
            )
        yield pd.DataFrame({
            "trace_id": fix_tid,
            "seq": seq.astype(np.int64),
            "ts": fix_ts,
            "segment_id": out_seg,
            "dist_m": np.round(out_d, 6),
        })

    return cand.mapInPandas(part_kernel, schema=MATCH_SCHEMA)
