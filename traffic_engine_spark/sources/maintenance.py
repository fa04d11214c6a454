"""Table maintenance — small-file compaction with optional spatial
clustering (the parquet substitution for Iceberg's
``rewrite_data_files`` + Z-order rewrite; same contract, same knobs).

Why this is an engine operator and not an ops script: the reference's
stores stay read-efficient because MapDB rewrites its B-tree pages in
place (StatsDataStore.java commit cycle).  A 10^12-row Iceberg table
has no such luxury — every streaming micro-batch and every incremental
ingest APPENDS files, and a year of appends turns one logical table
into millions of kilobyte files whose open/footer costs dominate every
scan.  Periodic compaction is what keeps the "spatial-join +
tile-assignment rows/sec" metric meaningful on month two.

Two rewrite shapes, selected by ``cluster``:

* ``cluster=None`` — pure bin-packing.  ``coalesce(n)`` (narrow, no
  shuffle): each output task concatenates whole input splits.  This is
  Iceberg's ``rewrite_data_files(strategy => 'binpack')``.
* ``cluster=("lat", "lon")`` — spatial clustering.  One range-exchange
  on the Morton/Z-order key (``functions.cells.morton_col``), sorted
  within partitions, so every output file owns a DISJOINT Morton range.
  Parquet min/max column stats on the kept key column then let any
  cell-range predicate (J1's packed-cell probes, tile queries) skip
  whole files — Iceberg's ``strategy => 'sort', sort_order => zorder``.

The output-file count is derived from the actual input bytes (what
Iceberg reads from its manifests; here a driver-side metadata listing —
bounded by the file count, which is exactly the thing being reduced),
so the operator needs no row-count pass over the data.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Z_ITEM
from ..functions.cells import morton_col, tile_x_col, tile_y_col

#: sidecar recording how a table was clustered (underscore prefix: Spark
#: and Hadoop readers skip it like _SUCCESS).  read_bbox validates its
#: pruning zoom against this — a zoom mismatch silently breaks the
#: "pruning is a superset" contract otherwise.
_CLUSTER_META = "_te_cluster_meta.json"

#: parquet compresses; size output partitions off the on-disk bytes but
#: leave headroom so one range partition stays one file under
#: maxRecordsPerFile (Iceberg applies the same write.target-file-size
#: fudge when planning binpack groups).
_CLUSTER_KEY = "_morton_cluster_key"


def _dir_bytes_files(path: str) -> tuple[int, int]:
    """(total bytes, data-file count) for a parquet directory —
    metadata-only, no data read (the manifest-scan substitute)."""
    total = 0
    files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def compact_table(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: float = 128,
    cluster: tuple[str, str] | None = None,
    zoom: int = Z_ITEM,
    keep_cluster_key: bool = False,
) -> dict:
    """Rewrite the parquet table at ``path`` into ``out_path`` with
    ~``target_file_mb``-sized files; content is row-identical (asserted
    by tests/test_infra.py::test_compact_table_* via EXCEPT-ALL both
    directions).  With ``cluster=(lat_col, lon_col)`` the rewrite
    range-partitions on the Morton key so output files own disjoint
    key ranges (file-skipping on spatial predicates); pass
    ``keep_cluster_key=True`` to persist the key column for explicit
    min/max pruning audits (Iceberg keeps the equivalent in file-level
    column stats either way).

    Returns ``{"files_before", "files_after", "bytes_before",
    "target_files"}``.  Writes to a NEW directory: at warehouse scale
    the swap is a catalog commit (Iceberg snapshot replace); on raw
    parquet the caller points readers at ``out_path`` once this
    returns — never rewrite a directory a reader may be scanning.
    """
    bytes_before, files_before = _dir_bytes_files(path)
    n = max(1, math.ceil(bytes_before / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if cluster is None:
        # narrow: whole input splits concatenate into n output tasks
        out = df.coalesce(n)
    else:
        lat_col, lon_col = cluster
        # clamp tiles into [0, 2^zoom − 1] BEFORE interleaving: rows at or
        # beyond the slippy domain edge (|lat| > 85.0511, lon == 180.0,
        # junk coords) otherwise get keys outside the clipped cover
        # bbox_morton_intervals produces, and read_bbox could prune a row
        # the exact closed-bbox filter would keep (ADVICE r5)
        edge = (1 << zoom) - 1
        tx = F.least(
            F.greatest(tile_x_col(F.col(lon_col), zoom), F.lit(0)), F.lit(edge)
        )
        ty = F.least(
            F.greatest(tile_y_col(F.col(lat_col), zoom), F.lit(0)), F.lit(edge)
        )
        keyed = df.withColumn(_CLUSTER_KEY, morton_col(tx, ty))
        out = keyed.repartitionByRange(n, _CLUSTER_KEY).sortWithinPartitions(
            _CLUSTER_KEY
        )
        if not keep_cluster_key:
            out = out.drop(_CLUSTER_KEY)
    out.write.mode("overwrite").parquet(out_path)
    if cluster is not None:
        # record the clustering contract for scan-side validation
        with open(os.path.join(out_path, _CLUSTER_META), "w") as f:
            json.dump(
                {
                    "zoom": zoom,
                    "key": _CLUSTER_KEY,
                    "keep_cluster_key": keep_cluster_key,
                },
                f,
            )
    _, files_after = _dir_bytes_files(out_path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "target_files": n,
    }


def _file_key_ranges(out_path: str, key: str = _CLUSTER_KEY) -> list[tuple[str, int, int]]:
    """Per-file (path, min, max) of ``key`` from parquet FOOTER statistics
    only — the manifest-scan substitute a planner uses for file skipping."""
    import pyarrow.parquet as pq

    ranges: list[tuple[str, int, int]] = []
    for root, _dirs, names in os.walk(out_path):
        for nme in sorted(names):
            if not nme.endswith(".parquet"):
                continue
            full = os.path.join(root, nme)
            md = pq.ParquetFile(full).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if key not in idx:
                raise KeyError(
                    f"{key} not in {nme}; compact with keep_cluster_key=True"
                )
            lo = None
            hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[key]).statistics
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            ranges.append((full, lo, hi))
    return ranges


def cluster_key_file_ranges(out_path: str, key: str = _CLUSTER_KEY) -> list[tuple[int, int]]:
    """Per-file (min, max) of ``key`` from parquet FOOTER statistics only
    — the audit a planner runs to prove file-skipping works.  With the
    range-partitioned rewrite these intervals are pairwise disjoint, so
    a predicate on the key touches O(selectivity) files, not all of
    them."""
    return [(lo, hi) for _p, lo, hi in _file_key_ranges(out_path, key)]


def bbox_morton_intervals(
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    cover_zoom: int,
    zoom: int = Z_ITEM,
    max_cells: int = 4096,
) -> list[tuple[int, int]]:
    """Exact Z-order interval cover of a lat/lon bbox.

    Every slippy quad cell at ``cover_zoom`` is one CONTIGUOUS Morton
    range at the clustering ``zoom``: the Morton code interleaves bits
    most-significant first, so the cell's 4^(zoom−cover_zoom) descendant
    codes share the prefix ``morton(cx, cy) << 2s`` and enumerate every
    suffix — [base, base + 4^s − 1] with no gaps.  The bbox cover is the
    tile rectangle spanned by the corner tiles (superset of the bbox —
    callers re-apply the exact lat/lon predicate), adjacent intervals are
    merged, and ``max_cells`` guards the driver against a fine
    ``cover_zoom`` over a continent-sized box (raise → pick it coarser).
    """
    import numpy as np

    from ..functions.cells import morton_np, tile_x_np, tile_y_np

    assert cover_zoom <= zoom, (cover_zoom, zoom)
    n = (1 << cover_zoom) - 1
    x0 = int(np.clip(tile_x_np(np.array([lon_min]), cover_zoom)[0], 0, n))
    x1 = int(np.clip(tile_x_np(np.array([lon_max]), cover_zoom)[0], 0, n))
    # north edge = smaller slippy y
    y0 = int(np.clip(tile_y_np(np.array([lat_max]), cover_zoom)[0], 0, n))
    y1 = int(np.clip(tile_y_np(np.array([lat_min]), cover_zoom)[0], 0, n))
    n_cells = (x1 - x0 + 1) * (y1 - y0 + 1)
    if n_cells > max_cells:
        raise ValueError(
            f"bbox covers {n_cells} z{cover_zoom} cells (> {max_cells}); "
            "use a coarser cover_zoom"
        )
    s = zoom - cover_zoom
    span = 1 << (2 * s)
    xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    bases = np.sort(morton_np(xs.ravel() << s, ys.ravel() << s))
    merged: list[tuple[int, int]] = []
    for b in bases.tolist():
        if merged and b == merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], b + span - 1)
        else:
            merged.append((b, b + span - 1))
    return merged


def read_bbox(
    spark: SparkSession,
    out_path: str,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    cover_zoom: int = 9,
    zoom: int = Z_ITEM,
    key: str = _CLUSTER_KEY,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> tuple[DataFrame, dict]:
    """Spatial read over a Morton-clustered table with FILE-LEVEL skipping
    (the scan-side payoff of ``compact_table(cluster=...)``; Iceberg's
    metadata-pruned scan on a zorder table).

    Planning is metadata-only: the bbox becomes Z-order intervals
    (``bbox_morton_intervals``), parquet footer stats give each file's
    key range, and only intersecting files reach ``spark.read``.  On the
    clustered layout files own disjoint ranges, so the files read scale
    with bbox selectivity, not table size — at 10^12 rows this is the
    difference between opening millions of footers and a handful.  Rows
    then pass the interval predicate (row-group pruning inside kept
    files, pushed to the scan) and the EXACT closed-bbox lat/lon filter,
    so results are identical to a full-scan filter — the pruning is
    provably a superset (cover cells ⊇ bbox, footer ranges ⊇ file
    contents).  Returns (df, report) with files_total/files_read.

    Requires a table compacted with ``compact_table(cluster=...,
    keep_cluster_key=True)`` — the pruning reads footer stats of the
    persisted key column.  The pruning ``zoom`` MUST equal the zoom the
    table was clustered with; both requirements are validated against
    the sidecar ``compact_table`` writes (a mismatched zoom would make
    the file-skipping silently drop matching rows)."""
    import functools

    meta_path = os.path.join(out_path, _CLUSTER_META)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("zoom") != zoom:
            raise ValueError(
                f"read_bbox(zoom={zoom}) on a table clustered at "
                f"zoom={meta.get('zoom')} ({out_path}): pruning would stop "
                "being a superset of the bbox filter — pass the clustering "
                "zoom"
            )
        if key == _CLUSTER_KEY and not meta.get("keep_cluster_key", False):
            raise ValueError(
                f"{out_path} was compacted without keep_cluster_key=True: "
                "no persisted key column to prune on — re-compact with "
                "compact_table(cluster=..., keep_cluster_key=True)"
            )
    intervals = bbox_morton_intervals(
        lat_min, lat_max, lon_min, lon_max, cover_zoom, zoom
    )
    franges = _file_key_ranges(out_path, key)
    kept = [
        p
        for p, lo, hi in franges
        if any(a <= hi and lo <= b for a, b in intervals)
    ]
    report = {
        "files_total": len(franges),
        "files_read": len(kept),
        "intervals": len(intervals),
    }
    exact = (
        (F.col(lat_col) >= lat_min) & (F.col(lat_col) <= lat_max)
        & (F.col(lon_col) >= lon_min) & (F.col(lon_col) <= lon_max)
    )
    if not kept:
        return spark.read.parquet(out_path).where(F.lit(False)), report
    pred = functools.reduce(
        lambda acc, ab: acc | ((F.col(key) >= ab[0]) & (F.col(key) <= ab[1])),
        intervals,
        F.lit(False),
    )
    return spark.read.parquet(*kept).where(pred).where(exact), report
