#!/usr/bin/env python
"""Benchmark harness: headline traffic pipeline (spatial-join +
tile-assignment rows/sec, per BASELINE.json) at ~0.8M image rows, plus the
headline testdata queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "rows_per_sec": ..., ...}

Host-load guarding (BENCH.md round-4 note: outside-VM stall phases ran
identical commits 1.6-5x slower): every timed entry samples /proc/stat
before/after and attributes CPU to our own process tree vs the rest of
the box (tools/hostload.py).  A window where external CPU or hypervisor
steal exceeds the thresholds is CONTAMINATED: the entry re-runs (fresh
plan — no shuffle-file reuse) up to SPARK_GRAFT_LOAD_RETRIES times, all
attempts are recorded under "load", and "contaminated" lists entries
that never got a clean window.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_TRACES (default 8000; ~0.85M rows),
     SPARK_GRAFT_BENCH_DIR (default /root/repo/.bench_data),
     SPARK_GRAFT_EXT_FRAC (default 0.125 — external busy cores/capacity),
     SPARK_GRAFT_STEAL_FRAC (default 0.02),
     SPARK_GRAFT_LOAD_RETRIES (default 2).
Scaling runs (local[8] vs local[32]): tools/scaling_bench.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def log(msg: str):
    print(msg, file=sys.stderr, flush=True)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_traces = int(os.environ.get("SPARK_GRAFT_BENCH_TRACES", "8000"))
    bench_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/root/repo/.bench_data")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from hostload import LoadMonitor

    from traffic_engine_spark import get_spark
    from traffic_engine_spark.datagen.bench_data import bench_network, ensure_bench_images
    from traffic_engine_spark.plans import match as M
    from traffic_engine_spark.plans import network as N
    from traffic_engine_spark.plans import stats as S
    from traffic_engine_spark.plans import tiles as TI
    from traffic_engine_spark.queries import REGISTRY

    # -Xms=-Xmx + AlwaysPreTouch: commit the whole heap at session start
    # so the first big job doesn't pay first-touch page faults inside a
    # timed section (part of the Viterbi first-run warm-up, BENCH.md).
    spark = get_spark(
        app_name="bench", cores=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xms16g -XX:+AlwaysPreTouch"
        },
    )
    timings: dict[str, float] = {}
    load_ann: dict[str, list] = {}
    mon = LoadMonitor(
        external_frac_limit=float(os.environ.get("SPARK_GRAFT_EXT_FRAC", "0.125")),
        steal_frac_limit=float(os.environ.get("SPARK_GRAFT_STEAL_FRAC", "0.02")),
    )
    max_attempts = 1 + int(os.environ.get("SPARK_GRAFT_LOAD_RETRIES", "2"))

    calm_wait_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "60"))
    fault_min = float(os.environ.get("SPARK_GRAFT_FAULT_MIN", "0.5"))
    fault_wait = float(os.environ.get("SPARK_GRAFT_FAULT_WAIT", "180"))
    from hostload import fault_probe, fault_ramp

    def _wait_calm():
        """The documented stall phases last minutes; an immediate re-run
        lands inside the same phase.  Wait out external CPU (that we can
        only wait on), but RAMP the page-fault credit (which waiting
        would preserve — hostload.fault_ramp).  Bounded; on budget
        exhaustion try anyway and let the annotation record it."""
        deadline = time.time() + calm_wait_s
        while time.time() < deadline:
            s0 = mon.snapshot()
            time.sleep(3)
            if not mon.window(s0, mon.snapshot())["clean"]:
                continue
            fr, _, _ = fault_ramp(fault_min, max(deadline - time.time(), 5.0))
            if fr >= fault_min:
                return True
        return False

    def timed(name: str, fn):
        """Run fn() in a load-attributed window; re-run on contamination.
        fn must rebuild its DataFrames from scratch (fresh plan, fresh
        shuffles) so a re-run measures the same work, not warm leftovers.
        Contamination = external CPU / steal over their limits OR the
        first-touch fault rate below fault_min right after the entry (a
        throttle phase opening mid-run inflated BENCH_r04 entries with
        zero CPU signal — the 64 MiB probe costs ~0.02 s clean)."""
        result = None
        for attempt in range(max_attempts):
            s0 = mon.snapshot()
            t0 = time.time()
            result = fn()
            wall = round(time.time() - t0, 3)
            w = mon.window(s0, mon.snapshot())
            # max of two back-to-back probes: the credit is per-process
            # and the driver idles while the JVM works, so a single cold
            # probe can under-read a healthy window (the second probe
            # rides the first's pressure); a real phase reads low twice
            fr = round(max(fault_probe(mb=64), fault_probe(mb=64)), 3)
            ok = w["clean"] and fr >= fault_min
            load_ann.setdefault(name, []).append(
                {"sec": wall, **w, "fault_gibs": fr, "clean": ok}
            )
            if ok:
                break
            log(
                f"{name}: contaminated window (ext={w['external_frac']}, "
                f"steal={w['steal_frac']}, fault={fr}, load1={w['load1']})"
                " — re-running"
            )
            if attempt < max_attempts - 1:
                _wait_calm()
        timings[name] = wall
        return result

    # --- bench input (cached; generation excluded from timings) -----------
    images_path = os.path.join(bench_dir, f"images_{n_traces}")
    t0 = time.time()
    ensure_bench_images(spark, images_path, n_traces=n_traces)
    log(f"bench images ready in {time.time() - t0:.1f}s")
    images = spark.read.parquet(images_path)
    n_images = images.count()
    # count() touches only row-group stats; fault the columns the pipeline
    # actually scans into the page cache so the FIRST timed pipeline run
    # doesn't pay first-touch I/O the later A/B run then gets for free
    # (the order effect measured as 5.9 s first vs 3.7 s second)
    images.selectExpr("sum(length(caption))", "sum(length(image_id))").collect()
    log(f"bench images rows: {n_images}")

    # warmup: pre-fork Python workers + touch every testdata table so the
    # timed sections measure the operators, not JVM/worker cold start.
    # The worker warm-up also RAMPS each worker's page-allocation credit:
    # the throttle is per-process (hostload.fault_probe_fresh), so the
    # driver-side fault gate below cannot clear the freshly forked
    # pyspark workers that allocate Arrow/pandas buffers inside the timed
    # entries.  Bounded (clean window: one 32 MiB slab, <0.1 s/worker).
    t0 = time.time()
    _ramp_min = float(os.environ.get("SPARK_GRAFT_FAULT_MIN", "1.0"))
    _ramp_budget = float(os.environ.get("SPARK_GRAFT_WORKER_RAMP", "60"))

    def _worker_ramp(it):
        import time as _t

        import numpy as _np
        import pandas as _pd

        t_start = _t.time()
        rate = 0.0
        while _t.time() - t_start < _ramp_budget:
            s = _t.time()
            buf = _np.ones(32 * 1024 * 1024 // 8, dtype=_np.int64)
            rate = 32 / 1024.0 / max(_t.time() - s, 1e-9)
            del buf
            if rate >= _ramp_min:
                break
        for _ in it:
            pass
        yield _pd.DataFrame({"gibs": [round(rate, 3)]})

    worker_ramps = sorted(
        r["gibs"]
        for r in spark.range(cpus, numPartitions=cpus)
        .mapInPandas(_worker_ramp, schema="gibs double")
        .collect()
    )
    log(f"worker ramps (GiB/s): min {worker_ramps[0]}, "
        f"median {worker_ramps[len(worker_ramps) // 2]}")
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        # full-column pre-fault, not count(): count() reads only footers,
        # and a cold page cache (e.g. after a long unrelated run evicted
        # the testdata) then charges first-touch disk I/O to whichever
        # timed entry scans the table first — measured as tpch_q1
        # 0.35 s warm vs 1.3 s cold in back-to-back round-5 runs.  The
        # external-CPU guard cannot see I/O waits, so keep them out of
        # the timed sections entirely.
        spark.read.parquet(f"{sf_dir}/{t}.parquet").selectExpr(
            "count(xxhash64(*))"  # evaluates per row -> faults every column
        ).collect()
    # JIT warm-up on 64-row samples: first execution of the text/dedup
    # operator pipeline pays ~3 s of one-time whole-stage-codegen + JIT
    # (measured: minhash signature 4.3 s cold vs 0.9 s warm at sf0.1) that
    # has nothing to do with per-row throughput; warm it on a sliver so the
    # per-query walls below measure steady state.  Disclosed in BENCH.md.
    from traffic_engine_spark.operators import dedup as D

    docs64 = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    D.minhash_lsh_pairs(docs64).count()
    D.simhash_pairs(docs64).count()
    emb64 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
    D.embedding_lsh_pairs(emb64, min_cosine=0.3).count()
    log(f"warmup {time.time() - t0:.1f}s")

    # --- page-fault-throttle gate ------------------------------------------
    # The host has throttle phases where page ALLOCATION runs 100-500x
    # slower (first-touch 0.02-0.04 GiB/s vs multi-GiB/s clean) while CPU
    # attribution AND the steady copy rate stay clean-looking — the phase
    # the round-4/5 "2-6x slower, no signal" regressions landed in
    # (BENCH.md).  Spark allocates pages continuously, so a snapshot taken
    # inside such a phase measures the host, not the code.  The throttle
    # is REACTIVE (hostload.fault_ramp): allocating through it lifts it,
    # idling preserves it — so RAMP (bounded, disclosed) instead of
    # waiting; on budget exhaustion proceed and mark the snapshot.
    fr, ramp_s, ramp_loops = fault_ramp(fault_min, fault_wait)
    if fr < fault_min:
        log(f"fault gate: ramp budget exhausted at {fr} GiB/s after "
            f"{ramp_s} s — proceeding; snapshot marked throttled_at_start")
    elif ramp_loops > 1:
        log(f"fault gate: ramped to {fr} GiB/s in {ramp_s} s "
            f"({ramp_loops} loops)")
    fault_gate = {
        "min_gibs": fault_min,
        "final_gibs": round(fr, 3),
        "ramp_sec": ramp_s,
        "ramp_loops": ramp_loops,
        "throttled_at_start": fr < fault_min,
    }

    # --- network build (small; timed) -------------------------------------
    net: dict = {}

    def _network_build():
        ways, nodes = bench_network(spark)
        segs, tls, jumpers = N.build_network_tables(spark, ways, nodes)
        # materialize the network dim ONCE, inside this timed section — the
        # reference builds its network store once (OSMDataStore) and every
        # query consumes the stored tables; leaving these lazy made every
        # downstream entry silently re-execute the network lineage (~1 s
        # each at bench scale)
        segs, tls, jumpers = segs.localCheckpoint(), tls.localCheckpoint(), jumpers.localCheckpoint()
        n = tls.count()
        net.update(segs=segs, tls=tls, jumpers=jumpers)
        return n

    n_tl = timed("network_build", _network_build)
    segs, tls, jumpers = net["segs"], net["tls"], net["jumpers"]
    log(f"network: {n_tl} triplines in {timings['network_build']}s")

    # JIT warm-up for the pipeline's codegen units on a 0.6% slice (same
    # rationale as the dedup warm-up above; the slice shares every plan
    # shape with the full run)
    _, s_warm = M.run_pipeline(spark, images.limit(5000), tls, segs, jumpers)
    s_warm.count()

    # --- Viterbi/HMM map matching (the north rule's named kernel) ---------
    from traffic_engine_spark.plans import hmm

    hmm.viterbi_match(M.decode_fixes(images.limit(5000)), segs).count()
    # The first FULL-SIZE execution pays JVM tiered-compilation warm-up on
    # the plan's generated code that no sliver reaches (C2 thresholds are
    # invocation/backedge-count based): measured via CompilationMXBean,
    # the first run logs ~12 s of background compile time, the second
    # ~7 s, the third ~3 s, with GC <0.1 s throughout — walls 9.7/8.4/6.0
    # in the same session.  Policy (same as the sliver codegen warm-ups
    # above): one DISCLOSED full-size warm-up run, then the timed run —
    # its wall is recorded as viterbi_first_sec, never summed.
    t0 = time.time()
    hmm.viterbi_match(M.decode_fixes(images), segs).count()
    viterbi_first = round(time.time() - t0, 3)
    log(f"viterbi full-size JIT warm-up (untimed): {viterbi_first}s")

    def _viterbi():
        return hmm.viterbi_match(M.decode_fixes(images), segs).count()

    n_vit = timed("viterbi_match", _viterbi)
    log(f"viterbi: {n_vit} matched fixes in {timings['viterbi_match']}s")
    t0 = time.time()
    _viterbi()
    viterbi_steady = round(time.time() - t0, 3)
    log(f"viterbi steady-state repeat: {viterbi_steady}s")

    # --- HEADLINE: spatial-join pipeline (decode→pair→join→refine→kernel→hist)
    def _pipeline():
        crossings, samples = M.run_pipeline(spark, images, tls, segs, jumpers)
        return S.histograms(samples).count()

    n_hist = timed("traffic_pipeline", _pipeline)
    log(f"pipeline: {n_hist} hist rows in {timings['traffic_pipeline']}s")

    # --- HEADLINE: tile assignment over every image row -------------------
    n_tiles = timed("tile_assign", lambda: TI.assign_tiles(images).count())
    log(f"tiles: {n_tiles} rows in {timings['tile_assign']}s")

    headline_sec = timings["traffic_pipeline"] + timings["tile_assign"]
    rows_per_sec = int((n_images + n_tiles) / headline_sec) if headline_sec else 0

    # --- testdata headline queries ----------------------------------------
    bench_queries = [
        "tpch_q1", "tpch_q3", "tpch_q5", "cell_join", "knn_join", "knn_join_cells", "pip_assign",
        "speed_histogram", "summary_stats", "sessionize", "asof_join",
        "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
        "dedup_embedding_lsh", "ann_topk", "ann_lsh_topk",
        "text_quality", "text_fingerprint",
    ]
    from traffic_engine_spark.queries import YARDSTICKS

    for name in bench_queries:
        fn = (REGISTRY.get(name) or YARDSTICKS[name])[0]
        cnt = timed(name, lambda fn=fn: fn(spark, sf_dir).count())
        log(f"{name}: {cnt} rows in {timings[name]}s")

    # --- embedding-LSH candidate growth n→4n (VERDICT r3 #3) --------------
    # Under the adaptive band rule candidate pairs must grow ~linearly on a
    # corpus quadrupling (fixed band_planes is ~quadratic).  Deterministic
    # synthetic gaussian vectors (seed 0); counts are the raw band-join
    # output — the structural join size the rule bounds.
    import numpy as np
    import pandas as _pd

    t0 = time.time()
    rng = np.random.RandomState(0)

    def _emb(n):
        vecs = rng.randn(n, 64).round(3)
        return spark.createDataFrame(
            _pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
        )

    def _cands(emb, r, L):
        bands = D.lsh_band_keys(emb, band_planes=r, n_bands=L)
        return (
            bands.alias("a").join(bands.alias("b"), ["band", "bval"])
            .filter("a.id < b.id").count()
        )

    g_n = 4096
    small, big = _emb(g_n), _emb(4 * g_n)
    r_s, l_s = D.lsh_auto_bands(g_n, 0.9)
    r_b, l_b = D.lsh_auto_bands(4 * g_n, 0.9)
    c_s, c_b = _cands(small, r_s, l_s), _cands(big, r_b, l_b)
    growth = {
        "n": g_n, "bands_n": [r_s, l_s], "bands_4n": [r_b, l_b],
        "cand_n": c_s, "cand_4n": c_b,
        "ratio": round(c_b / max(c_s, 1), 2),
        # diagnostic wall, NOT summed into the headline total (it is a
        # scale-behavior check on synthetic vectors, not a headline query
        # — keeping it out preserves round-over-round total comparability)
        "probe_sec": round(time.time() - t0, 3),
    }
    log(f"lsh growth n→4n: {growth}")

    total = round(sum(timings.values()), 3)
    contaminated = sorted(
        name for name, att in load_ann.items() if not att[-1]["clean"]
    )
    # end-of-run canaries: steady copy bandwidth (bounds the window; both
    # clean and mildly-throttled phases read ~30 GiB/s) and the first-touch
    # fault rate (THE phase discriminator — see the gate above)
    from hostload import membw_probe

    membw = round(membw_probe(), 2)
    fault_end = round(fault_probe(), 3)
    log(f"canaries: membw {membw} GiB/s, first-touch {fault_end} GiB/s")
    out = {
        "metric": "spatial-join + tile-assignment + headline queries, total wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "rows_per_sec": rows_per_sec,
        "pipeline_rows": n_images,
        "cpus": cpus,
        "lsh_candidate_growth": growth,
        "viterbi_first_sec": viterbi_first,
        "viterbi_steady_sec": viterbi_steady,
        "load": load_ann,
        "contaminated": contaminated,
        "membw_gibs": membw,
        "fault_gibs_end": fault_end,
        "fault_gate": fault_gate,
        "worker_ramp_gibs": {
            "min": worker_ramps[0],
            "median": worker_ramps[len(worker_ramps) // 2],
        },
    }
    spark.stop()
    # keep the on-disk registry manifest fresh (tested by
    # tests/test_yardsticks.py::test_manifest_on_disk_is_fresh)
    from traffic_engine_spark.queries import write_manifest

    write_manifest()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
