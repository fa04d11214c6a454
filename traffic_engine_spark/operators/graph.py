"""Distributed connected components — the resolution step of corpus-scale
dedup: near-dup PAIRS (minhash/simhash/embedding LSH) become KEEP decisions
only once transitively-connected docs share one canonical cluster id.

Min-label propagation over the undirected edge set: every node repeatedly
takes the min label among itself and its neighbours; at fixpoint the label
is the component's minimum node id (deterministic, run-order independent).
Each iteration is one bounded-key equi-join + one partial-agg groupBy that
also carries each node's previous label, so the convergence test reads the
checkpointed aggregate instead of joining it again; the iteration count is
the component hop-diameter — small for dedup clusters (near-dup graphs are
dense blobs, not paths).  For adversarial long-chain graphs
`connected_components_star` implements star-contraction (Kiveris et al.,
"Connected Components in MapReduce", SoCC'14): rounds scale with log² of
the diameter, and `dedup_resolution` falls back to it automatically when
label propagation's budget is exceeded.

Each algorithm loudly raises if its own budget is exceeded instead of
silently splitting a component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id of the connected component."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # seeded with the first propagation step, min over (self ∪ neighbours),
    # so the loop runs one iteration fewer
    labels = e.groupBy(F.col("a").alias("node")).agg(
        F.least(F.min("b"), F.col("node")).alias("label")
    )
    for _ in range(max_iter):
        la = labels.select(F.col("node").alias("a"), F.col("label"))
        # every node has exactly one row from ``labels``, so max(old) is its
        # previous label (the neighbour rows carry a null ``old``)
        prop = (
            e.join(la, "a")
            .select(F.col("b").alias("node"), "label")
            .unionByName(labels.withColumn("old", F.col("label")), allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .localCheckpoint()  # cut lineage per iteration
        )
        moving = prop.filter(F.col("label") != F.col("old"))
        labels = prop.select("node", "label")
        if moving.isEmpty():
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        f"({moving.count()} labels still moving): component hop-diameter exceeds "
        "max_iter — raise it, or switch to star-contraction for chain graphs"
    )


def dedup_resolution(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Near-dup pairs → (doc_id, component_id, keep): one canonical
    (minimum-id) keeper per transitive duplicate cluster — the standard
    corpus-dedup keep rule.

    Label propagation first (near-dup graphs are dense blobs — tiny hop
    diameter, cheapest per round); on the loud non-convergence raise
    (adversarial chain-shaped graphs) falls back to star contraction,
    whose round count is O(log² n) in diameter, so the resolution
    completes at planet scale instead of aborting."""
    import warnings

    try:
        comp = connected_components(pairs, src=id_a, dst=id_b)
    except RuntimeError as ex:
        warnings.warn(
            f"label propagation did not converge ({ex}); retrying with "
            "star contraction", RuntimeWarning, stacklevel=2,
        )
        comp = connected_components_star(pairs, src=id_a, dst=id_b)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 40
) -> DataFrame:
    """Star-contraction connected components (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): alternating
    large-star / small-star rounds halve the component DIAMETER roughly
    per round (O(log² n) rounds worst case), where min-label propagation
    needs one round per hop.  This is the chain-graph path the label
    propagator's docstring promises; near-dup blobs (tiny diameter) are
    served equally well by either.

    Same output contract as `connected_components`: (node, component)
    for every node appearing in ``edges``, component = min node id."""
    universe = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def neighbor_mins(cur: DataFrame) -> DataFrame:
        nbr = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        return nbr, (
            nbr.groupBy("a").agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", F.col("a")).alias("m"))
        )

    def one_pass(cur: DataFrame, large: bool) -> DataFrame:
        nbr, mins = neighbor_mins(cur)
        j = nbr.join(mins, "a")
        if large:
            out = j.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("x"), F.col("m").alias("y")
            )
        else:
            out = j.filter(F.col("b") <= F.col("a")).select(
                F.col("b").alias("x"), F.col("m").alias("y")
            ).unionByName(mins.select(F.col("a").alias("x"), F.col("m").alias("y")))
        return (
            out.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()  # cut lineage per pass
        )

    for _ in range(max_rounds):
        nxt = one_pass(one_pass(e, large=True), large=False)
        unchanged = (
            nxt.count() == e.count()
            and nxt.join(e, ["a", "b"], "left_anti").isEmpty()
        )
        e = nxt
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds — raise max_rounds (O(log² n) expected)"
        )
    # at the star fixpoint every node's min over (neighbors ∪ self) is its
    # component's minimum id
    _, labels = neighbor_mins(e)
    return universe.join(
        labels.withColumnRenamed("a", "node"), "node", "left"
    ).select("node", F.coalesce("m", F.col("node")).alias("component"))
