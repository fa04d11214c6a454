"""Approximate-nearest-neighbour search over an embedding column.

Baseline: brute-force cosine top-k as a broadcast join + window rank —
exact, and the yardstick every approximate variant is measured against.
Scale path: hyperplane-LSH bucketing (candidates share a bucket) and an
IVF-style coarse quantiser (assign to nearest of k seed centroids, search
within cell ± neighbouring cells).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot, hyperplane_bucket, norm

# BLAS-vs-sequential summation discrepancy bound used by the top-k /
# threshold PREFILTERS below.  A 64-term float64 dot differs between BLAS
# (pairwise/SIMD order) and the JVM fold (strict left-to-right) by at most
# ~1e-13 relative; the margin is 7+ orders wider, so a prefilter can never
# drop a row the exact rescore would have kept.  The margin only admits a
# few extra candidates — the exact rescore decides, so output is
# bit-identical to the pure-JVM plan.
_BLAS_MARGIN = 1e-6


def _seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Row-wise dot with the JVM fold's EXACT float order: acc starts at
    0.0 and adds one product per element left-to-right (functions.vectors
    .dot is F.aggregate(zip_with(a, b, *), 0.0, +)) — one vectorised add
    per dimension keeps it numpy-fast while preserving bit-identity."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _seq_norm(A: "np.ndarray") -> "np.ndarray":
    """Row norms with functions.vectors.norm's exact fold order."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * A[:, j]
    return np.sqrt(acc)


def brute_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 1_000_000,
) -> DataFrame:
    """Exact cosine top-k: the query block rides to every corpus partition
    and the all-pairs scoring runs as ONE BLAS matmul per Arrow batch
    (guide §4.2 — hand whole batches to native code), with a margin
    prefilter picking each batch's per-query top-k superset and an exact
    sequential-order rescore of just those candidates, so the emitted
    cosines are bit-identical to the JVM fold (`_seq_dot`).  The corpus is
    never shuffled; the final window ranks ~|queries|·k·n_partitions rows.
    Returns (query_id, rank, neighbor_id, cosine).

    r5 shape (broadcast join + per-pair interpreted HOF dot) measured
    53.9 s at sf1.0; the matmul path computes the identical result from
    the same 5·10⁸ pairs in ~2 s.  ``max_query_rows`` bounds the driver
    collect of the query block at ``max_query_rows + 1`` rows (the corpus
    side stays distributed)."""
    qpd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).limit(max_query_rows + 1).toPandas()
    if len(qpd) > max_query_rows:
        raise ValueError(
            f"brute_topk collects the query block to rank against every "
            f"corpus partition: more than max_query_rows={max_query_rows} "
            f"queries; use lsh_topk / ivf_search at this scale"
        )
    spark = corpus.sparkSession
    out_schema = "query_id long, rank int, neighbor_id long, cosine double"
    if len(qpd) == 0:
        return spark.createDataFrame([], out_schema).select(
            "query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
        )
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qids = qpd["qid"].to_numpy()
    qn = _seq_norm(Q)
    Qb = Q / np.linalg.norm(Q, axis=1, keepdims=True)  # prefilter only

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            cids = pdf["neighbor_id"].to_numpy()
            cn = _seq_norm(C)
            cos_b = (C / np.linalg.norm(C, axis=1, keepdims=True)) @ Qb.T  # n × m
            # self-pairs can never qualify (query_id != neighbor_id):
            # mask them below every threshold BEFORE the top-k cut
            self_rows, self_cols = np.nonzero(cids[:, None] == qids[None, :])
            cos_b[self_rows, self_cols] = -np.inf
            rows_sel, cols_sel = [], []
            n = len(cids)
            for j in range(len(qids)):
                col = cos_b[:, j]
                if n > k:
                    kth = np.partition(col, n - k)[n - k]
                    keep = np.nonzero(col >= kth - _BLAS_MARGIN)[0]
                else:
                    keep = np.nonzero(col > -np.inf)[0]
                rows_sel.append(keep)
                cols_sel.append(np.full(len(keep), j, dtype=np.int64))
            R = np.concatenate(rows_sel)
            J = np.concatenate(cols_sel)
            if not len(R):
                continue
            cos_exact = _seq_dot(C[R], Q[J]) / (qn[J] * cn[R])
            yield pd.DataFrame(
                {
                    "query_id": qids[J],
                    "neighbor_id": cids[R],
                    "cosine": cos_exact,
                }
            )

    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).mapInPandas(run, schema="query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def lsh_buckets(
    emb: DataFrame, n_planes: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", dims: int = 64,
) -> DataFrame:
    """(vec_id, bucket): random-hyperplane signature — the ANN partition
    key.  At scale this is the repartition column; same-bucket search is
    a co-partitioned local scan."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        hyperplane_bucket(F.col(vec_col), n_planes, dims).alias("bucket"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    band_planes: int = 4,
    n_bands: int = 8,
) -> DataFrame:
    """Approximate top-k: multi-band hyperplane candidates (any shared
    band bucket), then exact cosine rank over the candidate set.  Recall
    amplifies as 1-(1-p^r)^L.

    r6 plan: candidates AND scoring run inside each (band, bval) bucket —
    one BLAS matmul of the bucket's queries × members, a per-query top-k
    margin cut (any pair in the global candidate top-k is in the top-k of
    every bucket containing it, so the per-bucket cut is a provable
    superset; `_BLAS_MARGIN` covers summation-order skew), then an exact
    sequential-order rescore of the survivors, so emitted cosines are
    bit-identical to the JVM fold.  The old shape shuffled every
    same-bucket (query, member) collision through a distinct and paid an
    interpreted HOF dot per pair."""
    import pyarrow as pa

    from ..operators.dedup import lsh_band_keys

    qb = lsh_band_keys(
        queries, id_col, vec_col, band_planes, n_bands, dims, include_vec=True
    ).withColumn("is_q", F.lit(1))
    cb = lsh_band_keys(
        corpus, id_col, vec_col, band_planes, n_bands, dims, include_vec=True
    ).withColumn("is_q", F.lit(0))

    def _bucket_topk(qids, cids, Q, C, out_q, out_c, out_cos):
        qn, cn = _seq_norm(Q), _seq_norm(C)
        cos_b = (C / np.linalg.norm(C, axis=1, keepdims=True)) @ (
            Q / np.linalg.norm(Q, axis=1, keepdims=True)
        ).T  # n × m
        self_r, self_c = np.nonzero(cids[:, None] == qids[None, :])
        cos_b[self_r, self_c] = -np.inf
        n = len(cids)
        rows_sel, cols_sel = [], []
        for j in range(len(qids)):
            col = cos_b[:, j]
            if n > k:
                kth = np.partition(col, n - k)[n - k]
                keep = np.nonzero(col >= kth - _BLAS_MARGIN)[0]
            else:
                keep = np.nonzero(col > -np.inf)[0]
            rows_sel.append(keep)
            cols_sel.append(np.full(len(keep), j, dtype=np.int64))
        R = np.concatenate(rows_sel)
        J = np.concatenate(cols_sel)
        if not len(R):
            return
        out_q.append(qids[J])
        out_c.append(cids[R])
        out_cos.append(_seq_dot(C[R], Q[J]) / (qn[J] * cn[R]))

    # one Arrow kernel per partition, run-length bucket walking; vectors
    # read from flat Arrow buffers (see dedup.embedding_lsh_pairs)
    def part_kernel(batches):
        idl, bandl, bvall, isql, Ml = [], [], [], [], []
        for b in batches:
            if not b.num_rows:
                continue
            cols = {nm: b.column(i) for i, nm in enumerate(b.schema.names)}
            idl.append(cols["id"].to_numpy(zero_copy_only=False))
            bandl.append(cols["band"].to_numpy(zero_copy_only=False))
            bvall.append(cols["bval"].to_numpy(zero_copy_only=False))
            isql.append(cols["is_q"].to_numpy(zero_copy_only=False))
            Ml.append(
                cols["v"].flatten().to_numpy(zero_copy_only=False).reshape(
                    b.num_rows, dims
                )
            )
        if not idl:
            return
        ids = np.concatenate(idl)
        band = np.concatenate(bandl)
        bval = np.concatenate(bvall)
        isq = np.concatenate(isql) == 1
        M = np.vstack(Ml).astype(np.float64)
        grp = np.lexsort((ids, bval, band))
        band_s, bval_s = band[grp], bval[grp]
        runs = np.ones(len(grp), dtype=bool)
        runs[1:] = (band_s[1:] != band_s[:-1]) | (bval_s[1:] != bval_s[:-1])
        starts = np.flatnonzero(runs)
        ends = np.append(starts[1:], len(grp))
        out_q, out_c, out_cos = [], [], []
        for g0, g1 in zip(starts, ends):
            sel = grp[g0:g1]
            q_mask = isq[sel]
            if not q_mask.any() or q_mask.all():
                continue
            qs, cs = sel[q_mask], sel[~q_mask]
            _bucket_topk(ids[qs], ids[cs], M[qs], M[cs], out_q, out_c, out_cos)
        if out_q:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_c)),
                    pa.array(np.concatenate(out_cos)),
                ],
                ["query_id", "neighbor_id", "cosine"],
            )

    # explicit repartition on the group key (AQE would coalesce the tiny
    # band shuffle under the compute-bound groups — see dedup.hamming_pairs)
    union = qb.unionByName(cb)
    n_part = max(union.sparkSession.sparkContext.defaultParallelism, 16)
    scored = (
        union.repartition(n_part, "band", "bval")
        .mapInArrow(part_kernel, schema="query_id long, neighbor_id long, cosine double")
        .distinct()  # a pair emits identical rows from every shared band
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def _centroid_rank(
    emb: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, centroid_id, rn): every vector ranked against every
    (broadcast) centroid — the shared core of assignment (rn=1) and probe
    selection (rn<=nprobe)."""
    c = centroids.select(F.col("centroid_id"), F.col("cv"), norm(F.col("cv")).alias("cn"))
    scored = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("vn"),
    ).join(F.broadcast(c)).withColumn(
        "cosine", dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("centroid_id"))
    return scored.withColumn("rn", F.row_number().over(w))


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """IVF coarse quantiser: assign each vector to its nearest centroid
    (broadcast centroids, argmax cosine).  (vec_id, centroid_id)."""
    return (
        _centroid_rank(emb, centroids, id_col, vec_col)
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


def ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: corpus vectors live in their nearest-centroid cell
    (inverted lists = the corpus partitioning key at scale); each query
    probes its `nprobe` nearest cells and ranks exact cosine within the
    probed candidates.  Returns (query_id, rank, neighbor_id, cosine).

    Plan: two broadcast centroid argmax passes (no corpus shuffle beyond
    the cell equi-join), candidates bounded by the probed cells' sizes —
    the standard IVF recall/cost dial (nprobe ↑ ⇒ recall ↑)."""
    cells = ivf_assign(corpus, centroids, id_col, vec_col).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    probes = (
        _centroid_rank(queries, centroids, id_col, vec_col)
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    cand = cells.join(F.broadcast(probes), "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id").distinct()
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """IVF TRAINING: Lloyd's k-means over the embedding column, fully
    deterministic so a SQL oracle can replay it — init = the k vectors
    with id < k, squared-Euclidean assignment with (d2, centroid_id)
    tie-break, per-dimension means rounded to 6 decimals each update
    (kills summation-order FP noise between engines; the repo's standard
    float-parity pattern).  Returns the final assignment
    (vec_id, centroid_id, dist2) after ``iters`` assignment passes
    (means update between passes, empty clusters keep their centroid).

    Scale shape (the MLlib plan): centroids are k·dims doubles — they live
    on the DRIVER by design (bounded side data, not O(input)); each
    assignment pass is one scan with a per-row array_min over k candidate
    structs (zero shuffle), and each means update is one posexplode +
    partial-agg groupBy whose shuffle carries ≤ partitions × k × dims
    rows.  d2 = (vv - 2·v·c) + cc with every dot a sequential in-order
    fold — bit-identical in Spark HOFs, Python, and DuckDB
    list_dot_product."""
    v = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vv", dot(F.col("v"), F.col("v")))

    cent = [
        (int(r.vec_id), [float(x) for x in r.v])
        for r in v.filter(F.col("vec_id") < k).select("vec_id", "v").collect()
    ]
    cent.sort()
    if not cent:
        raise ValueError(
            f"kmeans_lloyd seeds its centroids from rows with {id_col} < k={k} "
            "(deterministic init); no such rows exist — remap ids to a dense "
            "0..n-1 range (e.g. row_number() - 1) before calling"
        )

    def assignment(cent_list):
        cand = F.array(*[
            F.struct(
                (
                    (F.col("vv")
                     - F.lit(2.0) * dot(F.col("v"), F.array(*[F.lit(x) for x in cv])))
                    + F.lit(sum(x * x for x in cv))
                ).alias("d2"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, cv in cent_list
        ])
        return v.select("vec_id", "v", F.array_min(cand).alias("best"))

    for it in range(iters):
        assigned = assignment(cent)
        if it == iters - 1:
            return assigned.select(
                "vec_id",
                F.col("best.cid").alias("centroid_id"),
                F.round("best.d2", 6).alias("dist2"),
            )
        means = (
            assigned.select(F.col("best.cid").alias("cid"), F.posexplode("v").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .collect()
        )
        by_cid: dict = {}
        for r in means:
            by_cid.setdefault(int(r.cid), {})[int(r.dim)] = float(r.m)
        cent = [
            (cid, [by_cid[cid][d] for d in range(dims)] if cid in by_cid else cv)
            for cid, cv in cent
        ]


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the 10^12-vector memory-compression path
# ---------------------------------------------------------------------------


def pq_train(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    train_rows: int = 4096,
) -> list[list[list[float]]]:
    """PQ codebook training (Jégou, Douze & Schmid, TPAMI 2011 — the
    FAISS IVF-PQ building block): split each vector into ``m`` equal
    subvectors and train an independent ``k``-word codebook per
    subspace.  Returns ``codebooks[m][k][dims//m]``.

    Scale shape: codebooks are trained on a BOUNDED deterministic
    sample (the ``train_rows`` lowest ids — same convention as
    kmeans_lloyd's id<k seeding) collected to the driver, exactly like
    FAISS trains on ~100k of 10^12 vectors; the full corpus never
    leaves the executors (encode/search below are scans).  Driver
    memory is train_rows × dims doubles; codebooks are m·k·(dims/m)
    doubles of side data.  Lloyd here is numpy with the repo's
    float-parity conventions: init = the first k sample subvectors,
    squared-Euclidean assignment with (d2, code) tie-break, means
    rounded to 6 decimals per update."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m
    rows = (
        emb.select(F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("i")
        .limit(train_rows)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"PQ training needs at least k={k} rows, got {len(rows)}")
    import numpy as np

    x = np.array([r.v for r in rows], dtype=np.float64)
    books: list[list[list[float]]] = []
    for j in range(m):
        s = x[:, j * dsub : (j + 1) * dsub]
        cent = np.round(s[:k].copy(), 6)
        for _ in range(iters):
            d2 = np.round(
                ((s[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6
            )
            code = d2.argmin(axis=1)  # argmin takes the lowest index on ties
            for c in range(k):
                mask = code == c
                if mask.any():
                    cent[c] = np.round(s[mask].mean(axis=0), 6)
        books.append([[float(v) for v in cent[c]] for c in range(k)])
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to ``m`` uint8 codes — ONE zero-shuffle JVM
    scan (the codebooks enter as literal arrays, argmin is array_min
    over (d2, code) structs with the kmeans tie-break; no Python in the
    hot path).  Output (vec_id, codes array<int>): at dims=64 float32 →
    m=4 bytes this is the 64× memory fold that makes a 10^12-vector
    corpus RAM-resident.  d2 is rounded to 6 dp before the argmin so
    the numpy oracle replay is exact."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    v = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    code_cols = []
    for j in range(m):
        s = F.slice(F.col("v"), j * dsub + 1, dsub)
        cand = F.array(*[
            F.struct(
                F.round(
                    dot(s, s)
                    - F.lit(2.0) * dot(s, F.array(*[F.lit(x) for x in cw]))
                    + F.lit(sum(x * x for x in cw)),
                    6,
                ).alias("d2"),
                F.lit(c).alias("code"),
            )
            for c, cw in enumerate(codebooks[j])
        ])
        code_cols.append(F.array_min(cand)["code"])
    return v.select("vec_id", F.array(*code_cols).alias("codes"))


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
    emb: DataFrame | None = None,
    rerank: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) search: per query, the distance to a
    coded vector is the sum over subspaces of a precomputed
    ``LUT[j][code]`` = ||q_j − codebook_j[code]||² — so the corpus scan
    never touches floats, only m small ints and one broadcast m×k
    table per query.  Returns (query_id, rank, neighbor_id, d2) where
    d2 is the ADC approximation (exact squared distance when
    ``rerank`` > 0).

    Plan: LUTs are computed driver-side from the (small, gated —
    ``max_query_rows``) query set, broadcast, and the scan is one BHJ +
    per-query window rank — the corpus is never shuffled, mirroring
    brute_topk's shape but reading m bytes instead of dims floats per
    row.  LUT entries rounded to 6 dp (replay parity).

    ``rerank`` > 0 adds the FAISS-style REFINE stage: ADC shortlists
    ``topk × rerank`` candidates per query, then EXACT squared
    distances (one equi-join of the shortlist back to ``emb`` — at
    10^12 rows this touches only the shortlisted float vectors, never
    the corpus) re-rank to the final top-k.  PQ quantisation error then
    only costs recall when a true neighbour falls outside the
    shortlist, which widening ``rerank`` controls directly."""
    q_rows = queries.select(
        F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v")
    ).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"pq_search builds one m×k LUT per query on the driver; got more "
            f"than max_query_rows={max_query_rows} queries — raise the cap or "
            "batch the query set"
        )
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cent = np.array(codebooks, dtype=np.float64)  # (m, k, dsub)
    lut_rows = []
    for r in q_rows:
        qv = np.array(r.v, dtype=np.float64).reshape(m, 1, dsub)
        lut = np.round(((qv - cent) ** 2).sum(axis=2), 6)  # (m, k)
        lut_rows.append((int(r.i), [[float(x) for x in row] for row in lut]))
    spark = queries.sparkSession
    qlut = spark.createDataFrame(lut_rows, "query_id long, lut array<array<double>>")
    adc = F.round(
        F.aggregate(
            F.zip_with("codes", "lut", lambda c, row: F.element_at(row, c + 1)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = (
        codes.join(F.broadcast(qlut))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", "rank", "neighbor_id", "d2")
        )
    if emb is None:
        raise ValueError("rerank > 0 needs the float table: pass emb=")
    short = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk * rerank)
        .drop("rank")
    )
    qvec = spark.createDataFrame(
        [(int(r.i), [float(x) for x in r.v]) for r in q_rows],
        "query_id long, qv array<double>",
    )
    nvec = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    # qq - 2*qc + cc with sequential-fold dots: the repo's float-parity
    # form (bit-identical to DuckDB list_dot_product — see kmeans_lloyd)
    exact_d2 = F.round(
        dot(F.col("qv"), F.col("qv"))
        - F.lit(2.0) * dot(F.col("qv"), F.col("nv"))
        + dot(F.col("nv"), F.col("nv")),
        6,
    )
    refined = (
        short.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", exact_d2.alias("d2"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "neighbor_id", "d2")
    )


def ivfpq_search(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    topk: int = 5,
    nprobe: int = 2,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF-PQ: the composition that actually serves 10^12 vectors
    (FAISS ``IndexIVFPQ`` shape).  IVF's coarse quantiser bounds WHICH
    rows a query touches (``nprobe`` inverted lists — the corpus
    partitioning key at scale); PQ bounds HOW MUCH each touched row
    costs (m one-byte codes + a broadcast LUT instead of dims floats).
    Optional ``rerank``: exact refine over the ADC shortlist
    (``pq_search`` semantics).  Returns (query_id, rank, neighbor_id,
    d2) — ADC approximation, exact when ``rerank`` > 0.

    Plan: two broadcast centroid argmax passes (ivf_assign/_centroid_rank)
    + one cell equi-join bound the candidates; the ADC scan over
    candidates is a broadcast-LUT projection; refine joins only the
    shortlist back to the float table.  The corpus is never shuffled."""
    cells = ivf_assign(corpus, centroids, id_col, vec_col)
    probes = (
        _centroid_rank(queries, centroids, id_col, vec_col)
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    codes = pq_encode(corpus, codebooks, id_col, vec_col)
    cand_codes = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "codes")
    )
    q_rows = queries.select(
        F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v")
    ).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivfpq_search builds one m×k LUT per query on the driver; got "
            f"more than max_query_rows={max_query_rows} queries"
        )
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cent = np.array(codebooks, dtype=np.float64)
    lut_rows = []
    for r in q_rows:
        qv = np.array(r.v, dtype=np.float64).reshape(m, 1, dsub)
        lut_rows.append(
            (int(r.i),
             [[float(x) for x in row]
              for row in np.round(((qv - cent) ** 2).sum(axis=2), 6)])
        )
    spark = queries.sparkSession
    qlut = spark.createDataFrame(lut_rows, "query_id long, lut array<array<double>>")
    adc = F.round(
        F.aggregate(
            F.zip_with("codes", "lut", lambda c, row: F.element_at(row, c + 1)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = cand_codes.join(F.broadcast(qlut), "query_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", "rank", "neighbor_id", "d2")
        )
    short = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk * rerank)
        .drop("rank")
    )
    qvec = spark.createDataFrame(
        [(int(r.i), [float(x) for x in r.v]) for r in q_rows],
        "query_id long, qv array<double>",
    )
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    exact_d2 = F.round(
        dot(F.col("qv"), F.col("qv"))
        - F.lit(2.0) * dot(F.col("qv"), F.col("nv"))
        + dot(F.col("nv"), F.col("nv")),
        6,
    )
    refined = (
        short.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", exact_d2.alias("d2"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "neighbor_id", "d2")
    )
