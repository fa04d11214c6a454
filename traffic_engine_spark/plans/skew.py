"""Skew handling for dense cells (SURVEY §4: the reference's hot-tile-first
scheduling, VehicleStates.java:188-227, recast as data-parallel salting).

Dense urban cells concentrate candidate rows on few shuffle partitions.
plans/match.find_crossings salts its J1 shuffle join this way whenever the
tripline index is too large to broadcast and the probe is a batch
DataFrame.  Strategy:
  1. sample cell frequencies (one cheap agg);
  2. cells above `SKEW_CELL_FRACTION` of total get `SALT_BUCKETS` salts;
  3. the probe side salts rows round-robin (deterministic: hash of row
     key, not rand() — resumability requires it); the build side
     replicates hot-cell rows across all salts;
  4. AQE skew-join splitting stays on as the runtime backstop.

`repartition_by_morton` gives output clustering: range partitioning on the
Morton key keeps spatially-adjacent cells in the same files (the Iceberg
sort-order analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import morton_col, tile_x_col, tile_y_col

# a cell holding more than this fraction of the probe rows is hot
SKEW_CELL_FRACTION = 0.05
# sub-keys each hot cell is salted into
SALT_BUCKETS = 8


def hot_cells(df: DataFrame, cell_cols: list[str], fraction: float) -> DataFrame:
    """Cells holding more than `fraction` of all rows.

    ONE pass over ``df``: the per-cell counts are materialized once
    (eager localCheckpoint — this function is inherently a plan-time
    statistics job), the total comes from summing that tiny grouped
    result, and the threshold filter reads the same materialization —
    a separate ``df.count()`` would re-execute the full upstream lineage
    (at the J1 call site that lineage is the ~20×-exploded probe)."""
    counts = (
        df.groupBy(*cell_cols).agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    total = counts.agg(F.sum("n")).first()[0] or 0
    return counts.filter(F.col("n") > F.lit(int(total * fraction))).select(*cell_cols)


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    cell_cols: list[str],
    probe_key: str,
) -> DataFrame:
    """Equi-join on cell cols with explicit salting of hot cells.

    probe rows in hot cells get salt = pmod(hash(probe_key), B); build rows
    in hot cells are replicated across all B salts.  Cold cells join with
    salt 0 on both sides — plan-identical to the unsalted join for them.

    At volume, pre-pack multi-column cell keys into ONE long before calling
    (cell_cols=["_ck"]) — single-field join-key hashing measured 2× over a
    two-field key on the J1 join (BENCH.md)."""
    B = SALT_BUCKETS
    hot = hot_cells(probe, cell_cols, SKEW_CELL_FRACTION).withColumn(
        "_hot", F.lit(True)
    )
    p = probe.join(F.broadcast(hot), cell_cols, "left").withColumn(
        "_salt",
        F.when(F.col("_hot").isNotNull(), F.pmod(F.xxhash64(probe_key), F.lit(B))).otherwise(F.lit(0)),
    ).drop("_hot")
    b = build.join(F.broadcast(hot), cell_cols, "left").withColumn(
        "_salts",
        F.when(
            F.col("_hot").isNotNull(), F.sequence(F.lit(0), F.lit(B - 1))
        ).otherwise(F.array(F.lit(0))),
    ).withColumn("_salt", F.explode("_salts")).drop("_salts", "_hot")
    return p.join(b, cell_cols + ["_salt"]).drop("_salt")


def repartition_by_morton(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
    zoom: int = 18, num_partitions: int | None = None,
) -> DataFrame:
    """Range partitioning on the Morton/Z-order key: spatial locality in
    output files → partition pruning on cell-range predicates (the
    north rule's 'explicit range partitioning on H3 prefix')."""
    withm = df.withColumn("_morton", morton_col(tile_x_col(F.col(lon_col), zoom),
                                                tile_y_col(F.col(lat_col), zoom)))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return withm.repartitionByRange(n, "_morton")
