#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of traffic_engine_spark.

    python3 perfbench/run.py --workload traffic --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One process drives a ``local[nproc]``
session through the package's public functions in a closed loop (one
client, each pass waits for the previous one), checks every pass against
an independent oracle, and prints one JSON object as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the
same workload with the Spark event log on and reports per-layer metrics
(spans are the public functions the benchmark calls; see DESIGN.md).
Everything the run writes goes to ``.perfbench_work/`` under the checkout
and is removed at exit.  Progress and a details record go to stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

import eventlog  # this directory is sys.path[0] when run as a script

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()

# Pass 0 is the cold pass.  Warm-up ends at the first pass, from the
# workload's first_warm on, whose wall is within LEVEL_BAND of the pass
# after it; that pair and the passes after it are counted, for --seconds
# and at least MIN_COUNTED passes.  Passes stop once they have taken
# PASS_BUDGET_S and MIN_COUNTED passes from first_warm on are done (the
# last MIN_COUNTED are then counted).
LEVEL_BAND = 0.15
MIN_COUNTED = 2
PASS_BUDGET_S = 45.0
RUN_DEADLINE_S = 170.0
STREAM_TIMEOUT_S = 30.0

NET = "plans.network.build_network_tables"
PIPE = "plans.match.run_pipeline"
HIST = "plans.stats.histograms"
SUMM = "plans.stats.summary_stats"
TILE = "plans.tiles.assign_tiles"
SQ1 = "streaming.match_stream.stream_crossings"
SQ2 = "streaming.match_stream.jumper_samples_stream"
VIT = "plans.hmm.viterbi_match"
SETUP_PASS = -1  # span pass index of set-up work

# registry queries of query_mix: TPC-H, then one per operator module
# (spatial, relational, trajectory, dedup, ann); knn_join, detect_stops and
# ann_topk are registry yardsticks, the others driver-visible entries
QUERIES = ("tpch_q3", "knn_join", "sessionize", "detect_stops",
           "dedup_minhash_lsh", "ann_topk")
QUERY_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

_ACTION = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
           "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks")
# Python exec nodes: body (python_s) and boundary (worker start, rows and
# bytes shipped over Arrow) cost, the split of "Accelerating Python UDFs in
# Vectorized Query Execution" (CIDR 2022)
_PYTHON = ("python_s", "python_boot_s", "python_rows", "arrow_sent_mb")
# per streaming query, from StreamingQuery.recentProgress
_STREAM = ("batches", "batch_s", "add_batch_s", "planning_s", "wal_commit_s",
           "state_rows", "state_mb", "state_commit_s")

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s",
    "rows_per_s": "1/s", "peak_pss_gb": "GB",
}


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    if counter.endswith("ratio") or counter in ("span_coverage", "candidates_per_fix"):
        return "ratio"
    return "count"


PER_LAYER = (
    [f"setup.{c}" for c in ("session_s", "input_s", "oracle_s")]
    + [f"trace.{c}" for c in ("cold_s", "warm_s", "span_coverage", "passes")]
    + [f"{NET}.{c}" for c in ("plan_s", "plan_jobs", "exec_s")]
    + [f"{PIPE}.{c}" for c in ("plan_s", "plan_jobs")]
    + [f"{HIST}.{c}" for c in ("plan_s", "exec_s") + _ACTION + _PYTHON]
    + ["plans.match.j1_hit_ratio"]
    + [f"{SUMM}.{c}" for c in ("plan_s", "exec_s")]
    + [f"{TILE}.{c}" for c in ("plan_s", "exec_s")]
    + [f"{q}.{c}" for q in (SQ1, SQ2) for c in ("plan_s", "exec_s") + _STREAM]
    + [f"{VIT}.{c}" for c in ("plan_s", "plan_jobs", "exec_s") + _ACTION + _PYTHON]
    + ["plans.hmm.candidates_per_fix"]
    + [f"queries.{q}.{c}" for q in QUERIES for c in ("plan_s", "plan_jobs", "exec_s")]
    + ["queries.p50_s", "queries.p90_s"]
)


class BenchError(Exception):
    """A start-up or environment problem: reported, exit code 2, no result."""


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host observation: memory of our process tree, CPU steal
# ---------------------------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it (forked Python workers share most of theirs)."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _tree_pss_bytes(root_pid: int) -> tuple[int, int]:
    """PSS of every descendant of root_pid: (JVM, Python workers).  The
    JVM shares next to none of its pages (its RSS and PSS agree to 0.2%),
    so it is read from statm: smaps_rollup walks its page tables, which
    takes 30-40 ms and holds its memory-map lock while it does.  The JVM
    is root_pid's child; another process named java is Spark's launcher
    or a fork of the JVM before it execs a helper (a fork shares the
    JVM's pages, and counting it would count them twice), and is skipped."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(stat.split("/")[2])] = int(fields[1])
    jvm = py = 0
    frontier = [root_pid]
    while frontier:
        pid = frontier.pop()
        for child, ppid in parent.items():
            if ppid != pid:
                continue
            frontier.append(child)
            try:
                with open(f"/proc/{child}/comm") as f:
                    is_java = f.read().strip() == "java"
                if is_java and pid != root_pid:
                    continue
                pss = _rss_bytes(child) if is_java else _pss_bytes(child)
            except OSError:
                continue
            if is_java:
                jvm += pss
            else:
                py += pss
    return jvm, py


class MemSampler:
    """Peak memory of the JVM plus its Python workers, sampled from /proc."""

    def __init__(self, period_s: float = 0.5):
        self.peak = self.peak_jvm = self.peak_py = 0
        self._stop = threading.Event()
        self._period = period_s
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            jvm, py = _tree_pss_bytes(me)
            self.peak = max(self.peak, jvm + py)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, py)
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_annotation(before: list[int], after: list[int]) -> dict:
    """Steal and busy share of host CPU over the run (annotation only)."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d[:8]), 1)
    idle = d[3] + d[4]
    return {"steal_frac": round(d[7] / total, 4), "busy_frac": round(1 - idle / total, 4)}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Spans:
    """Wall time per (pass, span, phase); every Spark job launched inside a
    span runs under the job group ``<pass>|<span>|<phase>`` (streaming
    queries run their batches under their own job group)."""

    def __init__(self, sc):
        self.sc = sc
        self.wall: dict[tuple[int, str, str], float] = {}

    def __call__(self, pass_idx: int, span: str, phase: str, fn):
        self.sc.setJobGroup(f"{pass_idx}|{span}|{phase}", span)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            key = (pass_idx, span, phase)
            self.wall[key] = self.wall.get(key, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def pass_total(self, pass_idx: int) -> float:
        return sum(v for (p, _, _), v in self.wall.items() if p == pass_idx)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _span_median(spans, passes, span, phase):
    return _median([spans.wall.get((p, span, phase), 0.0) for p in passes])


def _group_median(groups, passes, span, phase, counter):
    return _median([groups.get(f"{p}|{span}|{phase}", {}).get(counter, 0.0) for p in passes])


# ---------------------------------------------------------------------------
# inputs and oracles (set-up only)
# ---------------------------------------------------------------------------


def seeded_fixes(seed: int, n_fixes: int):
    """n_fixes GPS fixes from consecutive seeded traces of the bench
    generator (datagen.bench_data.gen_trace_fixes, the city fixed at seed
    42), the last trace cut short; plus the city's nodes and ways."""
    import pandas as pd

    from traffic_engine_spark.datagen.bench_data import gen_trace_fixes
    from traffic_engine_spark.datagen.osm_gen import generate_city

    nodes, ways, meta = generate_city(seed=42, n_rows=16, n_cols=16)
    frames, total = [], 0
    while total < n_fixes:
        trace = gen_trace_fixes(meta, seed, len(frames), 60, 100).iloc[: n_fixes - total]
        frames.append(trace)
        total += len(trace)
    return pd.concat(frames, ignore_index=True), nodes, ways


def write_images(fixes, path: str, n_files: int):
    """The fixes encoded as the image table (one row per fix), written as
    n_files equal parquet files so that Spark reads n_files partitions;
    returns the table as a pandas frame."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from traffic_engine_spark.datagen.images_gen import images_from_fixes_pd

    frame = images_from_fixes_pd(fixes)
    images = pa.Table.from_pandas(frame, preserve_index=False)
    os.makedirs(path)
    for i, idx in enumerate(np.array_split(np.arange(images.num_rows), n_files)):
        pq.write_table(images.take(idx), os.path.join(path, f"part-{i:03d}.parquet"))
    return frame


def stream_fixes(images):
    """The image table's geotags as the streaming queries' fix rows
    (match_stream.FIX_SCHEMA), parsed from the caption text the batch
    pipeline's decode_fixes reads (seconds coerced to ms the same way)."""
    import pandas as pd

    from traffic_engine_spark.config import SEC_TO_MS_THRESHOLD

    fields = images.caption.str.split(";", expand=True).apply(lambda c: c.str.split("=").str[1])
    ts = fields[1].astype("int64")
    return pd.DataFrame({
        "image_id": images.image_id, "trace_id": fields[0].astype("int64"),
        "ts": ts.where(ts >= SEC_TO_MS_THRESHOLD, ts * 1000),
        "lat": fields[2].astype("float64"), "lon": fields[3].astype("float64"),
    })


def traffic_oracle(fixes, nodes, ways) -> dict:
    from traffic_engine_spark.oracle import pyoracle as O

    crossings, samples = O.process_traces(fixes, O.build_network(nodes, ways))
    hist = O.histograms(samples)
    tiles = O.tile_assignments(fixes)
    return {
        "n_crossings": len(crossings),
        "hist": {k: int(v) for k, v in hist.items()},
        "n_segments_hist": len({k[0] for k in hist}),
        "tiles": {
            f"img_{int(t):06d}_{int(s):05d}": tuple(int(tiles[c][i]) for c in
                                                  ("tile_x11", "tile_y11", "tile_x18", "tile_y18"))
            for i, (t, s) in enumerate(zip(fixes.trace_id, fixes.seq))
        },
    }


def viterbi_oracle(fixes, net, every: int) -> dict:
    """Every n-th trace decoded by the pure-Python Viterbi referee, and
    the matcher's expected row count (distinct finite fixes)."""
    import numpy as np
    import pandas as pd

    from traffic_engine_spark.oracle import pyoracle as O

    segs = pd.DataFrame(
        [(s.segment_id, s.start_node, s.end_node, list(s.lons), list(s.lats))
         for s in net.segments.values()],
        columns=["segment_id", "start_node_id", "end_node_id", "lons", "lats"],
    )
    sample_ids = sorted(fixes.trace_id.unique())[::every]
    want = pd.DataFrame(
        O.viterbi_match_oracle(fixes[fixes.trace_id.isin(sample_ids)], segs),
        columns=["trace_id", "seq", "ts", "segment_id", "dist_m"],
    ).sort_values(["trace_id", "seq"]).reset_index(drop=True)
    finite = fixes[np.isfinite(fixes.lat) & np.isfinite(fixes.lon)]
    n_rows = len(finite[["trace_id", "ts", "lat", "lon"]].drop_duplicates())
    return {"sample_ids": [int(t) for t in sample_ids], "want": want, "n_rows": n_rows}


def frame_mismatch(got, want) -> str | None:
    """Order-insensitive comparison of a Spark result with its DuckDB
    oracle, with the normalisation of tools/check_oracle.py (columns by
    name, floats at 9 dp, µs timestamps, dtype kinds must agree)."""
    import pandas as pd

    tools = os.path.join(ROOT, "tools")
    sys.path.insert(0, tools)
    try:
        from check_oracle import normalize
    finally:
        sys.path.remove(tools)
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    kind = {c: ("i" if a[c].dtype.kind in "iu" else a[c].dtype.kind) for c in a.columns}
    bad = [c for c in a.columns if kind[c] != ("i" if b[c].dtype.kind in "iu" else b[c].dtype.kind)]
    if bad:
        return f"dtype kinds differ in {bad}"
    try:
        pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()), check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as e:
        return " | ".join(str(e).splitlines()[:4])
    return None


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One benchmark workload.  Set-up runs prepare() (pure Python: inputs
    written to files and the oracle, in a thread while the JVM starts),
    then, on the main thread, setup() and load() three times.  run_pass()
    runs one pass and returns the number of checks made and the failed
    ones; final_check() runs once after the passes."""

    # the first pass that may be counted as warm
    first_warm = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx["work"]

    @property
    def spark(self):
        return self.ctx["spark"]

    def setup(self, spans):
        """Spark-side set-up after the session is up (timed into setup_s)."""


def _stream_run(df, out_dir: str) -> list[dict]:
    """Run a streaming query as one micro-batch over all the input there is
    (Trigger.Once), wait for it to end and return its progress records.
    With availableNow these stateful queries never end by themselves:
    their timeouts schedule an empty batch after every batch, and a stop
    waits for the batch in flight or interrupts it, so the drain's wall
    depended on where the stop landed (1.4-3.2 s per query for the same
    work)."""
    q = (df.writeStream.format("parquet").option("path", os.path.join(out_dir, "out"))
         .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
         .outputMode("append").trigger(once=True).start())
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(f"stream did not end in {STREAM_TIMEOUT_S:.0f}s")
        return q.recentProgress
    finally:
        q.stop()


def _stream_stats(progress: list[dict]) -> dict:
    def dur(*keys):
        return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1e3

    last = progress[-1].get("stateOperators") or []
    return {
        "batches": sum(1 for p in progress if p["numInputRows"] > 0),
        "batch_s": dur("triggerExecution"), "add_batch_s": dur("addBatch"),
        "planning_s": dur("queryPlanning"), "wal_commit_s": dur("walCommit", "commitOffsets"),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "state_mb": sum(s.get("memoryUsedBytes", 0) for s in last) / 2**20,
        "state_commit_s": sum(s.get("commitTimeMs", 0) for p in progress
                              for s in p.get("stateOperators") or []) / 1e3,
    }


class Traffic(Workload):
    """The seeded fixes, encoded as the image table, through the traffic
    engine.  One pass, over the network built in set-up: run_pipeline →
    histograms (collected) → summary_stats over them (collected),
    assign_tiles (counted); viterbi_match(decode_fixes(images),
    segments) (counted); then the same fixes, as one parquet file,
    through the two streaming queries, each as one micro-batch:
    stream_crossings (fixes → crossings), then jumper_samples_stream
    (crossings → samples)."""

    fixes = 3200
    # every n-th trace also goes through the single-threaded Viterbi referee
    viterbi_oracle_every = 4

    def prepare(self, seed):
        from traffic_engine_spark.oracle import pyoracle as O

        t0 = time.perf_counter()
        fixes, nodes, ways = seeded_fixes(seed, self.fixes)
        self.write_stream_input(write_images(fixes, os.path.join(self.work, "images"), self.ctx["cores"]))
        self.input_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.want = traffic_oracle(fixes, nodes, ways)
        self.want_vit = viterbi_oracle(fixes, O.build_network(nodes, ways), self.viterbi_oracle_every)
        self.oracle_s = time.perf_counter() - t0

    def load(self):
        """Read the image table back, scanning the columns passes use."""
        self.images = self.spark.read.parquet(os.path.join(self.work, "images"))
        self.input_rows = self.images.selectExpr("count(xxhash64(image_id, caption))").first()[0]

    def setup(self, spans):
        """The road network (static input), built once per session as a
        deployment does: bench_network → build_network_tables, cached."""
        from traffic_engine_spark.datagen.bench_data import bench_network
        from traffic_engine_spark.plans import network as N

        def build_net():
            ways, nodes = bench_network(self.spark)
            return N.build_network_tables(self.spark, ways, nodes)

        self.segs, self.tls, self.jumpers = spans(SETUP_PASS, NET, "plan", build_net)
        spans(SETUP_PASS, NET, "exec", lambda: (self.segs.count(), self.tls.count()))

    def write_stream_input(self, images):
        """The stream's input: the fixes as one parquet file."""
        fixes = stream_fixes(images)
        self.stream_src = os.path.join(self.work, "stream_src")
        os.makedirs(self.stream_src)
        fixes.to_parquet(os.path.join(self.stream_src, "fixes.parquet"), index=False)
        self.n_stream_in = len(fixes)
        self.stream_stats: dict[tuple[int, str], dict] = {}

    def run_pass(self, i, spans):
        from traffic_engine_spark.plans import match as M
        from traffic_engine_spark.plans import stats as S
        from traffic_engine_spark.plans import tiles as TI

        spark = self.spark
        segs, tls, jumpers = self.segs, self.tls, self.jumpers
        _, samples = spans(i, PIPE, "plan", lambda: M.run_pipeline(spark, self.images, tls, segs, jumpers))
        hist = spans(i, HIST, "plan", lambda: S.histograms(samples))
        hist_rows = spans(i, HIST, "exec", hist.collect)
        summ = spans(i, SUMM, "plan", lambda: S.summary_stats(spark.createDataFrame(hist_rows, hist.schema)))
        summ_rows = spans(i, SUMM, "exec", summ.collect)
        tiles = spans(i, TILE, "plan", lambda: TI.assign_tiles(self.images))
        n_tiles = spans(i, TILE, "exec", tiles.count)
        vit = spans(i, VIT, "plan", self._viterbi)
        n_vit = spans(i, VIT, "exec", vit.count)
        n_cross = self._stream_pass(i, spans, segs, tls, jumpers)

        failed = []
        got = {(r.segment_id, r.week, r.hour_of_week, r.speed_bin): r.n for r in hist_rows}
        if got != self.want["hist"]:
            failed.append(f"histograms differ from oracle ({len(got)} vs {len(self.want['hist'])} keys)")
        if len(summ_rows) != self.want["n_segments_hist"]:
            failed.append(f"summary_stats rows {len(summ_rows)} != {self.want['n_segments_hist']}")
        if n_tiles != len(self.want["tiles"]):
            failed.append(f"assign_tiles rows {n_tiles} != {len(self.want['tiles'])}")
        if n_vit != self.want_vit["n_rows"]:
            failed.append(f"viterbi_match rows {n_vit} != {self.want_vit['n_rows']}")
        if n_cross != self.want["n_crossings"]:
            failed.append(f"stream crossings {n_cross} != {self.want['n_crossings']}")
        return 5, failed

    def _viterbi(self):
        from traffic_engine_spark.plans import hmm
        from traffic_engine_spark.plans import match as M

        return hmm.viterbi_match(M.decode_fixes(self.images), self.segs)

    def _stream_pass(self, i, spans, segs, tls, jumpers):
        from traffic_engine_spark.streaming.match_stream import (
            CROSSING_SCHEMA,
            FIX_SCHEMA,
            jumper_samples_stream,
            stream_crossings,
        )

        spark = self.spark
        base = os.path.join(self.work, "stream", str(i))
        if i > 0:  # the last pass's output stays for final_check
            shutil.rmtree(os.path.join(self.work, "stream", str(i - 1)), ignore_errors=True)
        q1 = spans(i, SQ1, "plan", lambda: stream_crossings(
            spark.readStream.schema(FIX_SCHEMA).parquet(self.stream_src), tls))

        progress = spans(i, SQ1, "exec", lambda: _stream_run(q1, os.path.join(base, "q1")))
        consumed = sum(p["numInputRows"] for p in progress)
        if consumed != self.n_stream_in:
            raise RuntimeError(f"stream_crossings consumed {consumed} of {self.n_stream_in} fixes")
        self.stream_stats[(i, SQ1)] = _stream_stats(progress)
        q2 = spans(i, SQ2, "plan", lambda: jumper_samples_stream(
            spark, spark.readStream.schema(CROSSING_SCHEMA).parquet(os.path.join(base, "q1", "out")),
            segs, jumpers))
        # q2 reads everything q1 committed, so the rows it consumed are
        # q1's output rows
        progress = spans(i, SQ2, "exec", lambda: _stream_run(q2, os.path.join(base, "q2")))
        self.stream_stats[(i, SQ2)] = _stream_stats(progress)
        self.last_samples = os.path.join(base, "q2", "out")
        return sum(p["numInputRows"] for p in progress)

    def final_check(self):
        """Exact tile assignments, exact histograms of the last pass's
        stream samples and exact Viterbi decodes of the oracle's trace
        sample, once (the passes count them)."""
        import pandas as pd
        from pyspark.sql import functions as F

        from traffic_engine_spark.plans import stats as S
        from traffic_engine_spark.plans import tiles as TI

        failed = []
        rows = TI.assign_tiles(self.images).select(
            "image_id", "tile_x11", "tile_y11", "tile_x18", "tile_y18").collect()
        got = {r.image_id: (r.tile_x11, r.tile_y11, r.tile_x18, r.tile_y18) for r in rows}
        if got != self.want["tiles"]:
            failed.append("tile assignments differ from oracle")
        hist = S.histograms(self.spark.read.parquet(self.last_samples)).collect()
        got = {(r.segment_id, r.week, r.hour_of_week, r.speed_bin): r.n for r in hist}
        if got != self.want["hist"]:
            failed.append("stream sample histograms differ from oracle")
        want = self.want_vit["want"]
        got = (self._viterbi().filter(F.col("trace_id").isin(self.want_vit["sample_ids"]))
               .toPandas().sort_values(["trace_id", "seq"]).reset_index(drop=True))
        try:
            pd.testing.assert_frame_equal(got[want.columns], want, check_exact=True, check_dtype=False)
        except AssertionError as e:
            failed.append(f"viterbi sample differs from oracle: {str(e)[:200]}")
        return 3, failed

    def per_layer(self, spans, passes, groups):
        out = {f"{NET}.{ph}_s": spans.wall[(SETUP_PASS, NET, ph)] for ph in ("plan", "exec")}
        out[f"{NET}.plan_jobs"] = groups.get(f"{SETUP_PASS}|{NET}|plan", {}).get("jobs", 0.0)
        for span, phases in ((PIPE, ("plan",)), (HIST, ("plan", "exec")),
                             (SUMM, ("plan", "exec")), (TILE, ("plan", "exec")),
                             (VIT, ("plan", "exec")), (SQ1, ("plan", "exec")), (SQ2, ("plan", "exec"))):
            for ph in phases:
                out[f"{span}.{ph}_s"] = _span_median(spans, passes, span, ph)
            out[f"{span}.plan_jobs"] = _group_median(groups, passes, span, "plan", "jobs")
        for span in (HIST, VIT):
            for c in _ACTION + _PYTHON:
                out[f"{span}.{c}"] = _group_median(groups, passes, span, "exec", c)
        out["plans.hmm.candidates_per_fix"] = out[f"{VIT}.python_rows"] / max(self.input_rows, 1)
        probe = _group_median(groups, passes, HIST, "exec", "j1_probe_rows")
        out["plans.match.j1_hit_ratio"] = self.want["n_crossings"] / probe if probe else 0.0
        for q in (SQ1, SQ2):
            for c in _STREAM:
                out[f"{q}.{c}"] = _median([self.stream_stats[(p, q)][c] for p in passes])
        return out


class QueryMix(Workload):
    """One pass: each registry query of QUERIES built (the registry
    function) and collected, in order, over seeded tables (tables.py);
    every result is compared with the query's DuckDB oracle.  Passes 1
    and 2 ran a median 23% and 8% slower than pass 3 (JIT compilation),
    so they are never counted."""

    first_warm = 3

    def prepare(self, seed):
        import tables
        from traffic_engine_spark import queries as Q

        t0 = time.perf_counter()
        self.table_dir = os.path.join(self.work, "tables")
        self.table_rows = tables.write_tables(seed, self.table_dir)
        self.input_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        registry = {**Q.YARDSTICKS, **Q.REGISTRY}
        self.fns = {name: registry[name][0] for name in QUERIES}
        self.want = tables.duckdb_oracle({name: registry[name][1] for name in QUERIES},
                                         self.table_dir, QUERY_TABLES, os.path.join(self.work, "tmp"))
        self.oracle_s = time.perf_counter() - t0

    def load(self):
        """Resolve every table's schema, as each query does first."""
        for t in QUERY_TABLES:
            self.spark.read.parquet(os.path.join(self.table_dir, f"{t}.parquet"))
        self.input_rows = sum(self.table_rows.values())

    def run_pass(self, i, spans):
        failed = []
        for name in QUERIES:
            span = f"queries.{name}"
            df = spans(i, span, "plan", lambda: self.fns[name](self.spark, self.table_dir))
            err = frame_mismatch(spans(i, span, "exec", df.toPandas), self.want[name])
            if err:
                failed.append(f"{name} differs from its DuckDB oracle: {err}"[:300])
        return len(QUERIES), failed

    def final_check(self):
        return 0, []

    def per_layer(self, spans, passes, groups):
        out, lat = {}, []
        for name in QUERIES:
            span = f"queries.{name}"
            for ph in ("plan", "exec"):
                out[f"{span}.{ph}_s"] = _span_median(spans, passes, span, ph)
            out[f"{span}.plan_jobs"] = _group_median(groups, passes, span, "plan", "jobs")
            lat += [spans.wall[(p, span, "plan")] + spans.wall[(p, span, "exec")] for p in passes]
        q = statistics.quantiles(lat, n=10, method="inclusive")
        out["queries.p50_s"], out["queries.p90_s"] = statistics.median(lat), q[8]
        return out


WORKLOADS = {"traffic": Traffic, "query_mix": QueryMix}


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------


def _prepare_env(work: str) -> None:
    if not os.path.isfile(os.path.join(ROOT, "traffic_engine_spark", "__init__.py")):
        raise BenchError(f"package traffic_engine_spark not found under {ROOT}; "
                         "run from the root of a full checkout")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark's Python workers import the package too: put the checkout on
    # their path, and keep every scratch file inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # measure the engine's default configuration: drop the session's tuning knobs
    for knob in ("SPARK_GRAFT_STATESTORE", "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_ARROW_BATCH",
                 "SPARK_DRIVER_MEM"):
        os.environ.pop(knob, None)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)
    try:
        import traffic_engine_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        raise BenchError(f"cannot import the engine: {e}") from e


def _driver_heap_mb() -> int:
    """Driver heap: 1.5 GiB, or a quarter of RAM on hosts under 6 GiB.
    It is fixed (-Xms = -Xmx, no AlwaysPreTouch) so that peak memory does
    not hinge on when G1 grows the heap."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(1536, phys / 2**20 / 4))


def _start_session(work: str, cores: int, traced: bool):
    from traffic_engine_spark import get_spark

    heap_mb = _driver_heap_mb()
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    try:
        return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores,
                         extra_conf=conf)
    except Exception as e:  # JVM launch failures surface as many types
        raise BenchError(f"Spark session failed to start: {e!r}") from e


def _stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def _watchdog(seconds: float, work: str):
    """Abort (exit 3, no result) if the run overstays its time limit."""

    def fire():
        log(f"run exceeded {seconds:.0f}s; aborting")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def run(args, work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    _prepare_env(work)
    cpu0 = _cpu_times()
    spark = None
    ctx = {"work": work, "cores": cores}
    wl = WORKLOADS[args.workload](ctx)
    try:
        with MemSampler() as mem:
            t_setup = time.perf_counter()
            # inputs and oracle are pure Python: build them while the JVM starts
            prep = threading.Thread(target=_prepare, args=(args.seed, wl, ctx), daemon=True)
            prep.start()
            spark = ctx["spark"] = _start_session(work, cores, bool(args.trace))
            session_s = time.perf_counter() - t_setup
            log(f"session local[{cores}] up in {session_s:.2f}s")
            prep.join()
            if "error" in ctx:
                raise ctx["error"]
            result, details, per_layer = _run_workload(wl, ctx, cores, args, session_s, t_setup)
        _stop_session(spark)
        spark = None
        log("session stopped")
        details["peak_pss_gb"] = mem.peak / 2**30
        details["peak_pss_split_gb"] = {"jvm": mem.peak_jvm / 2**30, "python": mem.peak_py / 2**30}
        details["host"] = host_annotation(cpu0, _cpu_times())
        if args.trace:
            log_files = [f for f in glob.glob(os.path.join(work, "eventlog", "**"), recursive=True)
                         if os.path.isfile(f)]
            values = per_layer(eventlog.parse(max(log_files, key=os.path.getsize)))
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": _unit(k.rsplit(".", 1)[1])}
                       for k in PER_LAYER}
        else:
            metrics = {k: {"value": float(details[k]), "unit": u} for k, u in END_TO_END.items()}
        log("details " + json.dumps(details))
        result["metrics"] = metrics
        return result
    finally:
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def _prepare(seed: int, wl: Workload, ctx: dict) -> None:
    """Set-up thread: the workload's inputs and its oracle outputs."""
    try:
        wl.prepare(seed)
    except Exception as e:  # re-raised by the main thread after join()
        ctx["error"] = e


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _run_workload(wl, ctx, cores, args, session_s, t_setup):
    spark = ctx["spark"]
    spans = Spans(spark.sparkContext)
    spark_setup_s = _timed(lambda: wl.setup(spans))
    # load the input several times and count the median once
    loads = [_timed(wl.load) for _ in range(3)]
    setup_s = time.perf_counter() - t_setup - sum(loads) + statistics.median(loads)
    input_s = wl.input_s + statistics.median(loads)
    log(f"setup {setup_s:.2f}s: session {session_s:.2f}s input {input_s:.2f}s "
        f"(load {statistics.median(loads):.2f}s) oracle {wl.oracle_s:.2f}s "
        f"spark set-up {spark_setup_s:.2f}s ({wl.input_rows} input rows)")

    walls, attempted, failures = [], 0, []
    t_start = time.perf_counter()
    starts = []
    first_counted = None
    i = 0
    while True:
        t1 = time.perf_counter()
        starts.append(t1)
        try:
            n_checks, failed = wl.run_pass(i, spans)
        except Exception as e:
            n_checks, failed = 1, [f"pass {i} raised {e!r}"[:300]]
        wall = time.perf_counter() - t1
        attempted += n_checks
        failures += failed
        walls.append(wall)
        cover = spans.pass_total(i) / wall if wall else 0.0
        log(f"pass {i}: {wall:.3f}s (spans cover {cover:.1%})" + (f" FAILED {failed}" if failed else ""))
        if failed and i == 0:
            break  # a broken pipeline fails the same way on every pass
        now = time.perf_counter()
        if first_counted is None and i > wl.first_warm \
                and abs(wall - walls[i - 1]) <= LEVEL_BAND * walls[i - 1]:
            first_counted = i - 1
        i += 1
        if first_counted is not None and i - first_counted >= MIN_COUNTED \
                and now - starts[first_counted] >= args.seconds:
            break
        if now - t_start > PASS_BUDGET_S and i >= wl.first_warm + MIN_COUNTED:
            break
    log("passes done")
    try:
        n_checks, failed = wl.final_check()
    except Exception as e:
        n_checks, failed = 1, [f"final check raised {e!r}"[:300]]
    attempted += n_checks
    failures += failed
    for f in failures:
        log(f"FAILED: {f}")

    if first_counted is None:  # cut short by PASS_BUDGET_S before levelling off
        first_counted = max(wl.first_warm, len(walls) - MIN_COUNTED) if len(walls) > 1 else 0
    counted_passes = list(range(first_counted, len(walls)))
    warm_s = _median([walls[p] for p in counted_passes])
    coverage = min(spans.pass_total(p) / walls[p] for p in range(len(walls)))
    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "input_rows": wl.input_rows, "pass_walls": [round(w, 4) for w in walls],
        "first_counted": first_counted,
        "setup_s": setup_s, "cold_s": walls[0], "warm_s": warm_s,
        "rows_per_s": wl.input_rows / warm_s,
        "session_s": session_s, "input_s": input_s, "oracle_s": wl.oracle_s,
        "span_coverage": coverage,
        "pass_spans": [{f"{span}.{ph}": round(v, 3) for (q, span, ph), v in spans.wall.items() if q == p}
                       for p in range(len(walls))],
    }

    def per_layer(groups: dict) -> dict:
        """Event-log counters per job group → per-layer metric values."""
        out = wl.per_layer(spans, counted_passes, groups)
        out.update({
            "setup.session_s": session_s, "setup.input_s": input_s, "setup.oracle_s": wl.oracle_s,
            "trace.cold_s": walls[0], "trace.warm_s": warm_s,
            "trace.span_coverage": coverage, "trace.passes": len(walls),
        })
        return out

    result = {"correct": not failures, "attempted": attempted, "failed": len(failures)}
    return result, details, per_layer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _watchdog(RUN_DEADLINE_S, work)
    # SIGTERM unwinds like an exception, so the session and work dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
