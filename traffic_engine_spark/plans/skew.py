"""Spatial output clustering: `repartition_by_morton` range-partitions
on the Morton key, so spatially-adjacent cells land in the same files
(the Iceberg sort-order analogue).

Dense-cell skew in the engine's joins is left to Spark: AQE's skew-join
(on in session.get_spark) splits hot partitions of a shuffle join at run
time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import morton_col, tile_x_col, tile_y_col


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
