"""Partitioning-invariance: results must not depend on the shuffle layout.

On a 1000-executor cluster the partition count, AQE coalescing and
skew-join splitting, and Spark's broadcast-or-shuffle choice for each join
all differ run-to-run and cluster-to-cluster; any operator whose OUTPUT
depends on them (window ties resolved by partition order, LSH band
buckets keyed by task id, kNN ring escalation whose residual set depends
on layout) is silently wrong at scale even when it matches the oracle at
one fixed local layout.

This runs a representative entry per operator family twice in the same
session — once at the suite's shuffle.partitions=8, once at 3 (runtime-
settable; AQE stays on) — and requires value-identical results (floats
to 1e-9 relative, since partial-aggregation ORDER may legitimately vary
by a ulp; everything else exact).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from traffic_engine_spark import queries as Q

SF = "/root/testdata/sf0.001"

# one per family: state machine, spatial joins + escalation, windows/ties,
# anonymity gate, LSH band-bucketing (minhash + embedding), sketch,
# sampling, HMM kernel, multimodal
ENTRIES = [
    "traffic_crossings",
    "traffic_speed_samples",
    "cell_join",
    "knn_join_cells",
    "topk_per_group",
    "anonymity_gate",
    "sessionize",
    # as-of ties: right rows sharing (user, ts) carry the largest event_id
    "asof_join",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "dedup_components",
    "sample_stratified",
    "traffic_viterbi_match",
    "multimodal_phash_pairs",
    # PQ: codebook training (orderBy-pinned sample), encode argmin and ADC
    # ranking must not depend on layout (yardstick registry)
    "ann_pq_refine",
]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic row order regardless of arrival order: lexsort on a
    stringified view (floats rounded so ulp noise cannot reorder)."""
    if not len(pdf):
        return pdf.reset_index(drop=True)
    key = pd.DataFrame({
        c: pdf[c].map(
            lambda v: f"{v:.6g}" if isinstance(v, float) else str(v)
        )
        for c in pdf.columns
    })
    order = key.sort_values(list(key.columns), kind="mergesort").index
    return pdf.loc[order].reset_index(drop=True)


@pytest.mark.parametrize("name", ENTRIES)
def test_result_invariant_to_shuffle_partitioning(spark, name):
    fn = (Q.REGISTRY.get(name) or Q.YARDSTICKS[name])[0]
    base = spark.conf.get("spark.sql.shuffle.partitions")
    a = _canon(fn(spark, SF).toPandas())
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = _canon(fn(spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)

    assert list(a.columns) == list(b.columns), name
    assert len(a) == len(b), (name, len(a), len(b))
    for c in a.columns:
        if a[c].dtype.kind == "f":
            assert np.allclose(
                a[c].to_numpy(), b[c].to_numpy(),
                rtol=1e-9, atol=1e-12, equal_nan=True,
            ), (name, c)
        else:
            av = a[c].map(str).tolist()
            bv = b[c].map(str).tolist()
            assert av == bv, (name, c)
