"""Deduplication operators over a documents table — the training-data
pipeline family: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine.  All native Spark SQL (explodes + hash joins + window); at 100 TB
each stage is a shuffle on a bounded key (band bucket / block / hash) with
partial aggregation — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash64, shingles_from_tokens, ws_tokens
from ..functions.vectors import cosine, hyperplane_bucket


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash → one row per distinct content with its
    cardinality and canonical (min) doc_id.  Map-side partial agg makes
    this a single cheap shuffle at any scale."""
    return (
        docs.select(F.col("doc_id"), hash64(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1; keeps a*h+b < 2^62 (no bigint overflow
# in either Spark or DuckDB, so the SQL oracle is bit-identical)


def _minhash_coeffs(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine coefficients from the shared md5 hash."""
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    a = [(h(f"mh_a_{j}") % (MINHASH_PRIME - 2)) + 1 for j in range(n_hashes)]
    b = [h(f"mh_b_{j}") % MINHASH_PRIME for j in range(n_hashes)]
    return a, b


def _shingle_explode(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, s): one row per k-word shingle, with the shingle string
    built by a TOP-LEVEL codegen'd projection (posexplode of the index
    sequence, then concat_ws(slice(toks, i, k))) rather than inside a
    higher-order transform() lambda — HOF lambdas are interpreted per
    element in Spark, which made the shingle materialisation the dominant
    cost of the MinHash signature (measured, see BENCH.md).  Output rows
    and values are identical to exploding `shingles_from_tokens`."""
    n = F.size(F.col("toks"))
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return (
        docs.select("doc_id", ws_tokens(F.col(text_col)).alias("toks"))
        .select("doc_id", "toks", F.explode(idx).alias("i"))
        .select("doc_id", F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), k)).alias("s"))
    )


def minhash_signature_array(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """(doc_id, sig: array<bigint>[n_hashes]): the full minhash signature as
    ONE explode + ONE hash aggregation carrying all n_hashes minima as
    parallel codegen'd min() columns — no seed explode (the round-1 plan
    multiplied the shuffle input n_hashes×), and no per-element HOF lambdas
    (an aggregate(zip_with(...)) formulation was measured 2× slower than
    this: interpreted lambda eval loses to whole-stage-codegen min()).
    Map-side partial aggregation means the shuffle carries |docs| rows of
    n_hashes columns regardless of document length.

    One md5 per shingle, then the j-th hash is the affine rehash
    (a_j·h₀ + b_j) mod p — the standard cheap MinHash family.

    r6 plan (guide §4.2/§4.5): like `simhash`, a document's shingles
    never leave their scan partition, so the signature runs in ONE
    mapInPandas pass with ZERO shuffles: `pd.factorize` dedupes the
    partition's shingle strings, md5 + all n_hashes affine rehashes run
    once per DISTINCT shingle (~28k distinct for 2.6M occurrences on the
    bench corpus), and per-document minima come from minimum.reduceat
    over document runs.  Integer ops only — values bit-identical to the
    old explode + n_hashes-parallel-min aggregation."""
    import numpy as np
    import pandas as pd

    a, b = _minhash_coeffs(n_hashes)
    a_np = np.array(a, dtype=np.int64)
    b_np = np.array(b, dtype=np.int64)
    # spread docs across cores when the scan under-splits (see simhash)
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    sh = _shingle_explode(docs, text_col, shingle_k)

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if not len(pdf):
            return
        codes, uniques = pd.factorize(pdf["s"], sort=False)
        uh0 = _hash64_uniques_np(np.asarray(uniques, dtype=object)) % MINHASH_PRIME
        # n_hashes affine rehashes per DISTINCT shingle: a·h0 < 2^62, no
        # int64 overflow (MINHASH_PRIME bound, same as the SQL oracle)
        uH = (uh0[:, None] * a_np[None, :] + b_np[None, :]) % MINHASH_PRIME
        H = uH[codes]  # n × n_hashes
        tid = pdf["doc_id"].to_numpy()
        new_doc = np.ones(len(tid), dtype=bool)
        new_doc[1:] = tid[1:] != tid[:-1]
        starts = np.flatnonzero(new_doc)
        mins = np.minimum.reduceat(H, starts, axis=0)
        yield pd.DataFrame({"doc_id": tid[starts], "sig": list(mins)})

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return sh.mapInPandas(kernel, schema=f"doc_id {id_type}, sig array<bigint>")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """MinHash → LSH band buckets → candidate self-join → exact Jaccard
    verify.  Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The band-bucket join keys are md5 digests of each band's signature
    slice — a bounded-cardinality equi-join (the canonical LSH shuffle).
    With the one-pass signature array, band keys are slice+md5 projections:
    the whole plan up to the bucket groupBy is shuffle-free."""
    assert n_hashes % band_size == 0, (
        f"band_size {band_size} must divide n_hashes {n_hashes} — a partial "
        "trailing band would silently drop candidate recall"
    )
    sig = minhash_signature_array(docs, text_col, n_hashes, shingle_k)
    n_bands = n_hashes // band_size
    band_keys = F.array(*[
        F.md5(F.concat_ws(",", F.slice(F.col("sig"), i * band_size + 1, band_size)))
        for i in range(n_bands)
    ])
    bands = sig.select("doc_id", F.posexplode(band_keys).alias("band", "bkey"))
    # bucket-explode instead of a self-join: one pass over the signature
    # plan, and the shuffle key is (band, bkey) — bounded buckets.  Pairs
    # come from an in-bucket combination explode (ids sorted ⇒ a < b).
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_combos).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
        # candidates are tiny; materialise them so the signature chain
        # runs exactly once (it would otherwise re-run for the broadcast
        # cand_ids subquery AND the verify join).  Not lazy under AQE:
        # the call runs the distinct's shuffle-map stages at once
        .localCheckpoint(eager=False)
    )
    # exact verify — shingle sets computed only for candidate docs
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    sh = (
        docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select("doc_id", ws_tokens(F.col(text_col)).alias("toks"))
        .select(
            "doc_id",
            F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_k)).alias("sh"),
        )
        # tiny (≤ 2·|cand| docs) — materialise once so the two
        # broadcast verify sides don't each re-run the candidate
        # tokenisation.  Not lazy under AQE: the call runs its input's
        # shuffle-map stages (the cand_ids distinct) at once
        .localCheckpoint(eager=False)
    )
    verified = (
        # candidate shingle sets are tiny (≤ 2·|cand| docs) — broadcast both
        # verify sides so no shuffle follows the bucket stage
        cand.join(F.broadcast(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a")), "doc_a")
        .join(F.broadcast(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")).cast("double"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def _hash64_uniques_np(uniques) -> "np.ndarray":
    """`functions.text.hash64` (md5-prefix → int64) over an array of
    UNIQUE strings, exactly: int(md5(utf8)[:15 hex], 16) — bit-identical
    to conv(substring(md5(x), 1, 15), 16, 10)."""
    import hashlib

    import numpy as np

    out = np.empty(len(uniques), dtype=np.int64)
    for i, s in enumerate(uniques):
        out[i] = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    return out


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash): sign-sum SimHash over whitespace tokens using the
    shared md5 hash.

    r6 plan (guide §4.2/§4.5): tokens of one document never leave their
    scan partition (explode is row-local), so the whole signature runs in
    ONE mapInPandas pass with ZERO shuffles: `pd.factorize` dedupes the
    partition's token strings at C speed, md5 runs once per DISTINCT
    token (`_hash64_uniques_np` — the measured corpus has ~31 distinct
    tokens for 2.7M occurrences; a distinct-heavy corpus degrades to one
    md5 per occurrence, same as the old plan), per-bit sums come from
    unpackbits + add.reduceat over document runs, and the sign-sum
    decision `2·set_count > n_tokens` reconstructs the signature.
    Values bit-identical to the old 32-parallel-codegen-sums aggregation
    (integer ops only); warm sf1.0 3.3 s → sub-second."""
    import numpy as np
    import pandas as pd

    from ..functions.text import ws_tokens

    # the kernel's parallelism is the SCAN's (no shuffle follows): a
    # benchmark-sized parquet scan may plan 1-2 splits, so spread docs
    # across the session's cores first; at warehouse scale the scan
    # already has more splits than cores and this is a no-op
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    toks = docs.select("doc_id", F.explode(ws_tokens(F.col(text_col))).alias("t"))
    # bit weights; bit 63 is the signed-long sign bit → two's complement
    weights = np.array(
        [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)], dtype=np.int64
    )
    n_bytes = (bits + 7) // 8

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if not len(pdf):
            return
        codes, uniques = pd.factorize(pdf["t"], sort=False)
        uh = _hash64_uniques_np(np.asarray(uniques, dtype=object))
        h = uh[codes]
        # per-token bit rows: low `bits` bits of h, little-endian unpack
        hb = (
            h.view(np.uint64)
            .reshape(-1, 1)
            .view(np.uint8)[:, :n_bytes]
            .copy()
        )
        bit_rows = np.unpackbits(hb, axis=1, bitorder="little")[:, :bits]
        tid = pdf["doc_id"].to_numpy()
        new_doc = np.ones(len(tid), dtype=bool)
        new_doc[1:] = tid[1:] != tid[:-1]
        starts = np.flatnonzero(new_doc)
        counts = np.diff(np.append(starts, len(tid)))
        # reduceat in ~1M-cell slices of whole documents: a single
        # astype(int64) of the full bit matrix is a |tokens|×bits×8B
        # temporary (allocation-bound on this host — hamming_pairs
        # measurement); int64 accumulators are still required (doc token
        # counts can exceed uint8)
        n_docs = len(starts)
        sums = np.empty((n_docs, bits), dtype=np.int64)
        doc_step = max(1, (1 << 20) // (bits * 64))
        for d0 in range(0, n_docs, doc_step):
            d1 = min(d0 + doc_step, n_docs)
            r0 = starts[d0]
            r1 = starts[d1] if d1 < n_docs else len(tid)
            sums[d0:d1] = np.add.reduceat(
                bit_rows[r0:r1].astype(np.int64), starts[d0:d1] - r0, axis=0
            )
        sig = ((2 * sums > counts[:, None]) * weights).sum(axis=1)
        yield pd.DataFrame({"doc_id": tid[starts], "simhash": sig})

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return toks.mapInPandas(kernel, schema=f"doc_id {id_type}, simhash long")


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", bits: int = 32,
    n_bands: int = 4, max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: banding join over the signature → exact
    Hamming verify (doc_a < doc_b, hamming <= max_hamming).

    By the pigeonhole principle, any pair within Hamming distance
    n_bands - 1 shares at least one intact band, so banding with
    n_bands > max_hamming finds ALL qualifying pairs (exact, not
    approximate).  The band equi-join is the canonical bounded-key LSH
    shuffle; the Hamming check is bit_count(xor) — pure codegen."""
    sig = simhash(docs, text_col, bits).withColumnRenamed("simhash", "sig")
    return hamming_pairs(sig, "doc_id", "sig", bits, n_bands, max_hamming)


def hamming_pairs(
    sigs: DataFrame, id_col: str = "doc_id", sig_col: str = "sig",
    bits: int = 32, n_bands: int = 4, max_hamming: int = 3,
) -> DataFrame:
    """EXACT Hamming-ball pair join over ANY integer-signature column
    (SimHash text signatures, image pHashes, …): pigeonhole banding →
    bounded (band, bval) equi-join → bit_count(xor) verify, all codegen.
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, hamming ≤
    max_hamming.  With n_bands > max_hamming AND the bands covering every
    bit, any qualifying pair shares at least one intact band — complete,
    not approximate."""
    assert n_bands > max_hamming, "pigeonhole completeness requires n_bands > max_hamming"
    assert bits % n_bands == 0, (
        f"n_bands {n_bands} must divide bits {bits} — uncovered top bits "
        "would break the exact-completeness guarantee"
    )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sig = sigs.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig"))
    bands = sig.select(
        "doc_id", "sig",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("sig"), i * band_bits)
                .bitwiseAND(F.lit(mask))
                for i in range(n_bands)
            ])
        ).alias("band", "bval"),
    )
    # r6 (guide §2.3/§2.4 + §4.2): the old shape equi-joined the band
    # tables and streamed EVERY same-bucket collision (272M rows / 17 s of
    # codegen at sf1.0) through the Hamming verify and a distinct.  The
    # whole candidate+verify step is bucket-local, so run it INSIDE each
    # (band, bval) group as vectorised numpy — XOR + 16-bit-table popcount
    # over the bucket block — and emit each qualifying pair EXACTLY ONCE,
    # from its first intact band (the pigeonhole guarantee says one
    # exists), which removes the cross-band distinct entirely.  Output
    # identical: same pairs, same Hamming values (integer ops).
    import numpy as np
    import pandas as pd

    pop16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)
    n_b, b_bits, b_mask, max_h = n_bands, band_bits, np.uint64(mask), max_hamming
    narrow = bits <= 32  # uint32 XOR matrix + 2 table lookups, not 4
    # ids keep their input type (pHash entries use string image ids);
    # string ids order by UTF-8 bytes, matching Spark's binary comparison
    id_type = sigs.schema[id_col].dataType.simpleString()
    str_ids = id_type == "string"

    one = np.uint32(1) if narrow else np.uint64(1)
    m16 = np.uint32(0xFFFF) if narrow else np.uint64(0xFFFF)
    s16 = np.uint32(16) if narrow else np.uint64(16)

    def _group_pairs(ids, sg, this_band, out_a, out_b, out_h):
        """All qualifying pairs of ONE bucket (ids pre-sorted ascending,
        sg the matching uint signatures); appends to the out_* lists."""
        n = len(ids)
        # ~1M-cell blocks: every temporary stays L2-resident — measured 9×
        # over 16M-cell blocks on this host (allocation/page-fault bound
        # otherwise)
        step = max(1, (1 << 20) // max(n, 1))
        cols = np.arange(n)
        for i0 in range(0, n, step):
            i1 = min(i0 + step, n)
            x = sg[i0:i1, None] ^ sg[None, :]
            # prescreen: popcount(x) <= max_h  ⟺  clearing the max_h
            # lowest set bits leaves 0 — a handful of vectorised int ops,
            # no table gathers; the exact Hamming is looked up only for
            # the survivors
            if max_h == 0:
                y = x
            else:
                y = x & (x - one)
                for _ in range(max_h - 1):
                    y &= y - one
            sel = (y == 0) & (cols[None, :] > np.arange(i0, i1)[:, None])
            r, c = np.nonzero(sel)
            if not len(r):
                continue
            xs = x[r, c]
            # first intact band of the XOR — emit only from that band
            fm = np.full(len(r), n_b, dtype=np.int64)
            for j in range(n_b - 1, -1, -1):
                fm = np.where(
                    ((xs >> np.uint64(j * b_bits)) & b_mask) == 0, j, fm
                )
            keep = fm == this_band
            if not keep.any():
                continue
            xs = xs[keep]
            r, c = r[keep], c[keep]
            ham_sel = pop16[xs & m16].astype(np.int32) + pop16[(xs >> s16) & m16]
            if not narrow:
                ham_sel += pop16[(xs >> np.uint64(32)) & m16]
                ham_sel += pop16[xs >> np.uint64(48)]
            out_a.append(ids[r + i0])
            out_b.append(ids[c])
            out_h.append(ham_sel.astype(np.int32))

    # ONE Python invocation per PARTITION (mapInPandas), not per group:
    # groupBy().applyInPandas pays an Arrow batch + pandas DataFrame per
    # bucket (~1 ms × L·2^band_bits buckets — 1.5 s of pure framing at
    # sf0.1), the same per-group overhead plans/hmm.py eliminated.  The
    # kernel sorts its partition by (band, bval) and walks bucket runs in
    # numpy; the repartition pins all rows of a bucket to one partition.
    def part_kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if len(pdf) < 2:
            return
        band = pdf["band"].to_numpy()
        bval = pdf["bval"].to_numpy()
        ids_raw = pdf["doc_id"].to_numpy()
        if str_ids:
            id_key = np.array([s.encode("utf-8") for s in ids_raw], dtype=object)
            grp = np.lexsort((bval, band))
            # stable id order within each group, applied per run below
        else:
            id_key = ids_raw
            grp = np.lexsort((id_key, bval, band))
        band_s, bval_s = band[grp], bval[grp]
        runs = np.ones(len(grp), dtype=bool)
        runs[1:] = (band_s[1:] != band_s[:-1]) | (bval_s[1:] != bval_s[:-1])
        starts = np.flatnonzero(runs)
        ends = np.append(starts[1:], len(grp))
        sg_all = pdf["sig"].to_numpy().astype(np.int64).view(np.uint64)
        if narrow:
            sg_all = sg_all.astype(np.uint32)
        out_a, out_b, out_h = [], [], []
        for g0, g1 in zip(starts, ends):
            if g1 - g0 < 2:
                continue
            sel = grp[g0:g1]
            if str_ids:
                # object keys: sort the run by UTF-8 bytes here
                sub = np.argsort(id_key[sel], kind="stable")
                sel = sel[sub]
            _group_pairs(
                ids_raw[sel], sg_all[sel], int(band_s[g0]), out_a, out_b, out_h
            )
        if out_a:
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a),
                    "doc_b": np.concatenate(out_b),
                    "hamming": np.concatenate(out_h),
                }
            )

    # explicit repartition on the group key: the band-table shuffle is a
    # few MB, so AQE's coalescing would pack these COMPUTE-bound groups
    # into 2-3 partitions (measured: 3 straggler tasks carrying the whole
    # stage at sf1.0); a user-specified partition count is exempt from
    # coalescing.  Scale-adaptive (session parallelism, not a constant);
    # exactly one wave of tasks — local-mode Python tasks cost ~12 ms of
    # framing each, so over-partitioning 4x cost ~1 s at sf0.1.
    n_part = max(bands.sparkSession.sparkContext.defaultParallelism, 16)
    return bands.repartition(n_part, "band", "bval").mapInPandas(
        part_kernel, schema=f"doc_a {id_type}, doc_b {id_type}, hamming int"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.1,
    max_block_rows: int = 100_000,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard: pairs share the blocking key
    (e.g. (lang, source)), the quadratic blow-up is bounded per block.
    Guarded like the cosine yardstick: raises if any block exceeds
    ``max_block_rows`` (one cheap groupBy count before the self-join), so
    a hot block cannot silently launch an in-block cartesian at corpus
    scale.  The scale path is `ngram_jaccard_prefix_pairs` — exact same
    output, prefix-filtered candidates instead of the block cross."""
    hot = (
        docs.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_block_rows)
        .limit(1)
        .collect()
    )
    if hot:
        r = hot[0]
        raise ValueError(
            f"ngram_jaccard_pairs is quadratic within a block: block "
            f"{tuple(r[c] for c in block_cols)} has {r._n} rows > "
            f"max_block_rows={max_block_rows}; use ngram_jaccard_prefix_pairs "
            "(exact, prefix-filtered) at this scale"
        )
    sh = docs.select(
        *block_cols, "doc_id", ws_tokens(F.col(text_col)).alias("toks")
    ).select(
        *block_cols, "doc_id",
        F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_k)).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    return (
        a.join(b, on)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("inter", F.size(F.array_intersect("a.sh", "b.sh")).cast("double"))
        .withColumn("uni", F.size(F.array_union("a.sh", "b.sh")).cast("double"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "jaccard",
        )
    )


def ngram_jaccard_prefix_pairs(
    docs: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.1,
) -> DataFrame:
    """Scale path for blocked n-gram Jaccard: prefix filtering
    (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. WWW'08) instead
    of the in-block cartesian product — EXACT, not approximate, so the
    output is identical to `ngram_jaccard_pairs` at any scale (tested:
    test_ngram_prefix_matches_quadratic).

    Under a global shingle order, any pair with |A∩B| ≥ ⌈t·max(|A|,|B|)⌉
    (implied by J ≥ t) must collide on the first |X| - ⌈t·|X|⌉ + 1
    shingles of each side, so candidates come from an equi-join on
    (block, prefix shingle) only.  Ordering shingles by ascending document
    frequency puts the RAREST shingles in the prefixes, which is what
    bounds the join fan-out on a skewed hot block: a shingle shared by
    every doc of a 10⁷-doc block lands in essentially no prefix, while the
    quadratic path would cross the whole block.  Per-block df keeps the
    order consistent within every candidate pair (pairs never span
    blocks).  Shuffles: shingle explode → df agg → rank window →
    candidate equi-join → verify joins.  The df-lookup join hashes on
    (block, shingle): a planet-hot shingle piles its occurrences on one
    reducer — an equi-join, so AQE skew-split (enabled in session.py)
    partitions it automatically."""
    sh = docs.select(
        *block_cols, "doc_id", ws_tokens(F.col(text_col)).alias("toks")
    ).select(
        *block_cols, "doc_id",
        F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_k)).alias("sh"),
    )
    # the tokenise+shingle projection is the expensive pass (BENCH.md) and
    # feeds FOUR consumers below (df agg, prefix probe, both verify
    # joins): materialise it once.  No job at call time only while
    # `docs` holds no shuffle: under AQE the call runs its input's
    # shuffle-map stages at once
    sh = sh.localCheckpoint(eager=False)
    ex = sh.select(
        *block_cols, "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("s")
    )
    df_tab = ex.groupBy(*block_cols, "s").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy(*block_cols, "doc_id").orderBy("df", "s")
    # FP-safe ceil: t·sz can land at 3.0000000000000004 (shorter prefix =
    # recall loss), so nudge below the integer before ceiling
    need = F.ceil(F.lit(min_jaccard) * F.col("sz").cast("double") - F.lit(1e-9))
    pref = (
        ex.join(df_tab, [*block_cols, "s"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("sz") - need + 1)
        .select(*block_cols, "doc_id", "s")
    )
    a, b = pref.alias("a"), pref.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols] + [
        F.col("a.s") == F.col("b.s")
    ]
    cand = (
        a.join(b, on)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = sh.select("doc_id", "sh")
    return (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")).cast("double"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def contamination_near_dup_pairs(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """NEAR-DUP train/eval contamination (paraphrase / truncation
    leakage the exact-fingerprint sweep misses): MinHash band keys on
    BOTH corpora, a cross-corpus band equi-join (train never self-joins),
    then exact Jaccard verify over the candidate shingle sets.

    Returns (eval_doc_id, train_doc_id, jaccard), one row per qualifying
    pair.  Scale shape mirrors `minhash_lsh_pairs`: the train side is
    scanned once into signatures, the join key is the bounded (band,
    bkey) bucket, and the verify joins touch only candidate docs — with
    a benchmark-sized eval set the bucket join broadcasts the eval bands
    and the sweep is one pass over the training corpus."""
    assert n_hashes % band_size == 0
    n_bands = n_hashes // band_size

    def bands_of(docs, id_alias):
        sig = minhash_signature_array(docs, text_col, n_hashes, shingle_k)
        band_keys = F.array(*[
            F.md5(F.concat_ws(",", F.slice(F.col("sig"), i * band_size + 1, band_size)))
            for i in range(n_bands)
        ])
        return sig.select(
            F.col("doc_id").alias(id_alias),
            F.posexplode(band_keys).alias("band", "bkey"),
        )

    cand = (
        bands_of(train, "train_doc_id")
        .join(F.broadcast(bands_of(eval_docs, "eval_doc_id")), ["band", "bkey"])
        .select("eval_doc_id", "train_doc_id")
        .distinct()
        # reuse-only materialisation.  Not lazy under AQE: the call runs
        # the distinct's shuffle-map stages at once, so building the
        # operator launches jobs
        .localCheckpoint(eager=False)
    )

    def sets_of(docs, id_alias, ids):
        return (
            docs.join(F.broadcast(ids), docs["doc_id"] == ids[id_alias], "left_semi")
            # materialise toks BEFORE the shingle HOF — an inline tokenise
            # is re-evaluated per shingle (shingles_from_tokens perf note)
            .select(F.col("doc_id").alias(id_alias), ws_tokens(F.col(text_col)).alias("toks"))
            .select(
                id_alias,
                F.array_distinct(
                    shingles_from_tokens(F.col("toks"), shingle_k)
                ).alias("sh"),
            )
        )

    t_sets = sets_of(train, "train_doc_id", cand.select("train_doc_id").distinct())
    e_sets = sets_of(eval_docs, "eval_doc_id", cand.select("eval_doc_id").distinct())
    return (
        cand.join(F.broadcast(e_sets.withColumnRenamed("sh", "sh_e")), "eval_doc_id")
        # NO broadcast hint on the train sets: candidate train docs grow
        # with the corpus when contamination is widespread — exactly this
        # operator's use case — and a forced broadcast of unbounded
        # shingle arrays would kill the driver; AQE broadcasts when small
        .join(t_sets.withColumnRenamed("sh", "sh_t"), "train_doc_id")
        .withColumn("inter", F.size(F.array_intersect("sh_e", "sh_t")).cast("double"))
        .withColumn("uni", F.size(F.array_union("sh_e", "sh_t")).cast("double"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("eval_doc_id", "train_doc_id", "jaccard")
    )


def contamination_pairs(
    train: DataFrame, eval_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Train/eval contamination sweep: (eval_doc_id, train_doc_id) for
    every eval row whose normalised-text fingerprint (functions.text
    .fingerprint — lower, strip punctuation, collapse whitespace) appears
    in the training corpus; train_doc_id is the minimum matching id, one
    row per contaminated eval doc.

    Scale shape: one equi-join on the 60-bit fingerprint + a partial-agg
    min — the train side is scanned once and never crossed; when the eval
    set is benchmark-sized (the usual case) broadcast it and the sweep is
    a single map-side pass over 100 TB of train.  Near-dup contamination
    (paraphrase leakage) composes from the same fingerprint swap: join on
    `minhash_lsh_pairs` candidates instead of exact fp."""
    from ..functions.text import fingerprint

    t = train.select(
        F.col("doc_id").alias("train_doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    e = eval_docs.select(
        F.col("doc_id").alias("eval_doc_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    return (
        e.join(t, "fp")
        .groupBy("eval_doc_id")
        .agg(F.min("train_doc_id").alias("train_doc_id"))
    )


def embedding_cosine_pairs(
    emb: DataFrame, min_cosine: float = 0.9, id_col: str = "vec_id", vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold (a < b).

    Brute-force O(n²) yardstick — the exact-recall baseline for small or
    pre-blocked sets; the scale path is `embedding_lsh_pairs` (multi-band
    bucketed candidates).  Guarded: raises if the input exceeds
    ``max_rows`` so a caller cannot accidentally launch an unbounded
    cartesian product at corpus scale (one cheap count() before the plan —
    negligible next to the n² join it fences)."""
    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_cosine_pairs is the O(n²) brute-force yardstick: "
            f"{n} input vectors > max_rows={max_rows}; use "
            "embedding_lsh_pairs (bucketed LSH) at this scale"
        )
    from ..functions.vectors import dot, norm

    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), norm(F.col(vec_col)).alias("na")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), norm(F.col(vec_col)).alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


# Adaptive banding: expected hyperplane-bucket population the auto rule
# aims for.  Hyperplane buckets are GEOMETRY-bounded, not content-bounded
# (a band has only 2^band_planes values), so holding this constant as the
# corpus grows is what keeps the candidate self-join ~linear in n instead
# of ~n²/2^band_planes.
LSH_TARGET_BUCKET_ROWS = 64


def lsh_auto_bands(n_rows: int, min_cosine: float = 0.9) -> tuple[int, int]:
    """(band_planes, n_bands) for a corpus of ``n_rows`` vectors.

    band_planes scales with the corpus so the expected bucket stays at
    ~``LSH_TARGET_BUCKET_ROWS`` rows (candidate pairs per band ≈
    n·bucket/2 → LINEAR in n; a fixed band_planes is ~n²/2^planes, the
    100-TB failure mode), clipped to [4, 16].  n_bands then rises with the
    planes to hold ~95% recall at the verify threshold:
    recall = 1 − (1 − p^r)^L with p = 1 − acos(cos)/π (the hyperplane
    collision probability), solved for L and clipped to [8, 64].

    The L cap matters at LOW thresholds (p^r tiny — e.g. broad similarity
    at cosine 0.3 with r ≥ 6 would want hundreds of bands): there, pin the
    band shape explicitly or use the ANN/IVF operators instead."""
    import math

    if n_rows > LSH_TARGET_BUCKET_ROWS:
        r = math.ceil(math.log2(n_rows / LSH_TARGET_BUCKET_ROWS))
    else:
        r = 4
    r = int(min(16, max(4, r)))
    p = 1.0 - math.acos(min(max(min_cosine, -1.0), 1.0)) / math.pi
    miss = 1.0 - p ** r
    if miss <= 0.0:
        L = 8
    elif miss >= 1.0:
        # p == 0 (min_cosine == -1): no band can ever collide on purpose;
        # return the L cap rather than divide by log(1) == 0.
        L = 64
    else:
        L = math.ceil(math.log(0.05) / math.log(miss))
    return r, int(min(64, max(8, L)))


def embedding_ivf_pairs(
    emb: DataFrame,
    centroids: DataFrame,
    min_cosine: float = 0.9,
    assign_top: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-blocked cosine near-dup — the CONTENT-blocked alternative to
    `embedding_lsh_pairs` for corpus-scale dedup (the adaptive band rule
    is the other path; this one blocks by learned cells).

    Every vector joins its ``assign_top`` nearest centroid cells
    (multi-assignment — the nprobe dial: a near-dup pair at cosine ≥
    ``min_cosine`` almost always lands in one of each other's top cells;
    measured recall on the sf0.01 corpus at threshold 0.3: 0.50 at top-2,
    0.76 at top-3 of 16 seed cells — rises with both dials), candidate
    pairs share a cell, exact cosine verifies.  Cell population follows the DATA
    distribution (centroids from `ann.kmeans_lloyd` / seed vectors)
    rather than hyperplane LSH's fixed 2^planes geometry, and the
    bucket-cardinality dial is k itself — pick k ≈ n / target_cell_rows
    and candidates stay ~linear in n.  Approximate candidates, exact
    verify: output ⊆ brute force with identical cosines
    (test_embedding_ivf_pairs_subset_of_brute).

    ``centroids``: (centroid_id, cv) — typically `kmeans_lloyd`-trained
    means or deterministic seed vectors (the registered IVF entries'
    convention)."""
    from .ann import _centroid_rank
    from ..functions.vectors import dot, norm

    cells = (
        _centroid_rank(emb, centroids, id_col, vec_col)
        .filter(F.col("rn") <= assign_top)
        .select("vec_id", "centroid_id")
    )
    cand = (
        cells.alias("a")
        .join(cells.alias("b"), "centroid_id")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    vdim = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    return (
        cand.join(
            vdim.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")),
            "id_a",
        )
        .join(
            vdim.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")),
            "id_b",
        )
        .withColumn("cosine", F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def lsh_band_keys(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    band_planes: int = 4, n_bands: int = 8, dims: int = 64,
    include_vec: bool = False, include_bvals: bool = False,
) -> DataFrame:
    """(id, band, bval): multi-band hyperplane LSH — n_bands independent
    tables of band_planes sign bits each, sliced from one
    (band_planes × n_bands)-bit signature.  Single-table hyperplane LSH has
    recall p^planes (≈1.6% at cosine 0.3 with 8 planes); banding lifts it
    to 1-(1-p^r)^L (≈66% for r=4, L=8) — the same banding amplification
    MinHash-LSH uses.

    Signatures come from ONE Arrow-batched numpy matmul (n×dims @
    dims×planes) — ~1000× faster per row than the interpreted HOF dot
    chain; the JVM `hyperplane_bucket` remains the bit-reference (the
    matmul's summation order can differ only when |dot| ~ 1e-12·|terms|,
    verified unreachable on real-valued embeddings: min |dot| on the test
    corpora is ~1e-2, and test parity is exact).

    r6: runs as ``mapInArrow`` with the replicated vector / band-value
    arrays built from FLAT numpy buffers (`pa.ListArray.from_arrays`) —
    the pandas path materialised one Python object per list cell, and at
    n_bands× replication that object churn alone cost ~2.7 s on the 20k
    sf1.0 corpus (~10 µs/row) vs ~0.1 s for the buffer build."""
    import numpy as np
    import pyarrow as pa

    from ..functions.vectors import plane_weight

    n_planes = band_planes * n_bands
    W = np.array(
        [[plane_weight(j, k) for k in range(dims)] for j in range(n_planes)],
        dtype=np.float64,
    ).T  # dims × planes
    # band values are assembled PER BAND from the bit matrix, never packed
    # through one global int64 signature: band_planes × n_bands routinely
    # exceeds 63 under the adaptive rule, and an int64 pack silently
    # wraps the shifts — reproduced as the top bands collapsing to 2
    # buckets (n²/2 candidates) before this was restructured
    band_shifts = np.arange(band_planes, dtype=np.int64)

    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def run(batches):
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            cols = {nm: b.column(i) for i, nm in enumerate(b.schema.names)}
            ids = cols["id"].to_numpy(zero_copy_only=False)
            # flatten() honours list offsets: the result is exactly the
            # row-major concatenation of the n dims-length vectors, in
            # the ORIGINAL element dtype (no value change)
            Mf = cols["v"].flatten().to_numpy(zero_copy_only=False).reshape(n, dims)
            bits = ((Mf.astype(np.float64) @ W) > 0).astype(np.int64)
            bvals = (
                bits.reshape(n, n_bands, band_planes) << band_shifts
            ).sum(axis=2)
            arrays = [
                pa.array(np.repeat(ids, n_bands)),
                pa.array(np.tile(np.arange(n_bands, dtype=np.int32), n)),
                pa.array(bvals.reshape(-1)),
            ]
            names = ["id", "band", "bval"]
            if include_vec:
                # carry the ORIGINAL vector (untouched values/dtype) so
                # bucket-local verify stages can rescore without a join
                vals = pa.array(np.repeat(Mf, n_bands, axis=0).ravel())
                offs = pa.array(np.arange(n * n_bands + 1, dtype=np.int32) * dims)
                arrays.append(pa.ListArray.from_arrays(offs, vals))
                names.append("v")
            if include_bvals:
                # the vector's FULL band-value array, computed once here —
                # bucket-local exactly-once emission (first shared band)
                # reads these instead of re-deriving signatures, so the
                # membership a row was bucketed under and the membership
                # the emission rule sees can never diverge
                bvv = pa.array(np.repeat(bvals, n_bands, axis=0).ravel())
                offs2 = pa.array(
                    np.arange(n * n_bands + 1, dtype=np.int32) * n_bands
                )
                arrays.append(pa.ListArray.from_arrays(offs2, bvv))
                names.append("bvals")
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = "id long, band int, bval long"
    if include_vec:
        # element type mirrors the input column exactly (float corpora
        # stay float — no silent widening/narrowing of the verify values)
        schema += f", v {emb.schema[vec_col].dataType.simpleString()}"
    if include_bvals:
        schema += ", bvals array<bigint>"
    return src.mapInArrow(run, schema=schema)


def embedding_lsh_pairs(
    emb: DataFrame, min_cosine: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding", dims: int = 64,
    band_planes: int | None = None, n_bands: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: multi-band hyperplane candidates
    (bounded (band, bval) equi-join keys), distinct pairs, exact cosine
    verify — the corpus is never crossed, the shuffle carries only
    same-band-bucket pairs.  LSH ⊆ brute-force with identical cosines
    (test_embedding_lsh_recall_vs_brute).

    Candidates deliberately use a SELF-JOIN, not minhash_lsh_pairs'
    in-bucket collect_list combination explode: a band here has only
    2^band_planes possible values, so buckets are FAT by construction
    (n/16 rows on clustered corpora) — a collect_list row would grow
    unboundedly with corpus size, while the self-join's hot (band, bval)
    keys are exactly what AQE skew-split partitions automatically
    (measured neutral at sf0.1; structurally required at 100 TB).
    MinHash band keys are content-derived md5s, so its buckets stay
    bounded and the explode shape is safe there.

    ``band_planes``/``n_bands`` default to the ADAPTIVE rule
    (`lsh_auto_bands`): band cardinality grows with the corpus so
    candidate pairs stay ~linear in n, band count holds ~95% recall at
    ``min_cosine``.  The auto path runs one count() on the input at plan
    construction (a deliberate statistics job); pass both explicitly to
    stay lazy and pinned (the registered driver entry does, so its DuckDB
    oracle stays byte-stable)."""
    if band_planes is None or n_bands is None:
        auto_r, auto_l = lsh_auto_bands(emb.count(), min_cosine)
        band_planes = auto_r if band_planes is None else band_planes
        n_bands = auto_l if n_bands is None else n_bands
    # r6 plan: the old shape self-joined the band keys, shuffled EVERY
    # same-bucket collision (~n²·L/2^planes pair rows at fat buckets, then
    # a distinct over them), joined vectors back on and paid an
    # interpreted HOF dot per pair — 98 s at sf1.0 under the pinned 8×4
    # bands.  Candidates and verify now run INSIDE each (band, bval)
    # bucket: one BLAS matmul over the bucket block prefilters at
    # min_cosine − margin (ann._BLAS_MARGIN rationale: the margin is ~7
    # orders wider than any BLAS-vs-fold summation discrepancy, so no
    # qualifying pair can be missed), survivors are rescored with the
    # EXACT JVM fold order (ann._seq_dot), and only qualifying pairs ever
    # leave the bucket — the distinct dedupes the (bit-identical) copies a
    # pair emits from each shared band.  Output identical to the
    # join-based plan; the shuffle now carries ~|output| rows.
    import numpy as np
    import pyarrow as pa

    from .ann import _BLAS_MARGIN, _seq_dot, _seq_norm

    bands_v = lsh_band_keys(
        emb, id_col, vec_col, band_planes, n_bands, dims,
        include_vec=True, include_bvals=True,
    )
    thresh = min_cosine - _BLAS_MARGIN
    nb = n_bands

    def _bucket(ids, V, BV, this_band, out_a, out_b, out_cos):
        """Qualifying pairs of ONE bucket (ids pre-sorted ascending)."""
        n = len(ids)
        nrm_seq = _seq_norm(V)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        # ~2M-cell G blocks: keeps the matmul output and the selection
        # temporaries cache-resident (same measurement as hamming_pairs'
        # block sizing — large blocks are allocation-bound on this host)
        step = max(1, (1 << 21) // max(n, 1))
        for i0 in range(0, n, step):
            i1 = min(i0 + step, n)
            G = Vn[i0:i1] @ Vn.T  # (i1-i0) × n
            # ids ascending ⇒ (row global index < col) is exactly id_a < id_b
            cols = np.arange(n)[None, :]
            rows_g = np.arange(i0, i1)[:, None]
            sel = (G >= thresh) & (cols > rows_g)
            r, c = np.nonzero(sel)
            if not len(r):
                continue
            r = r + i0
            # exactly-once emission: keep the pair only in its FIRST
            # shared band (same rule as hamming_pairs — removes the
            # cross-band distinct; band values come from lsh_band_keys'
            # one-time signature computation, so they cannot diverge from
            # the bucketing)
            first_shared = np.argmax(BV[r] == BV[c], axis=1)
            keep = first_shared == this_band
            r, c = r[keep], c[keep]
            if not len(r):
                continue
            cos = _seq_dot(V[r], V[c]) / (nrm_seq[r] * nrm_seq[c])
            out_a.append(ids[r])
            out_b.append(ids[c])
            out_cos.append(cos)

    # ONE Arrow kernel per partition with run-length bucket walking (the
    # hamming_pairs shape): mapInArrow reads the replicated vector and
    # band-value arrays straight from the flat Arrow buffers — the former
    # per-group pandas path materialised one Python object per list cell
    def part_kernel(batches):
        idl, bandl, bvall, Ml, BVl = [], [], [], [], []
        for b in batches:
            if not b.num_rows:
                continue
            cols = {nm: b.column(i) for i, nm in enumerate(b.schema.names)}
            idl.append(cols["id"].to_numpy(zero_copy_only=False))
            bandl.append(cols["band"].to_numpy(zero_copy_only=False))
            bvall.append(cols["bval"].to_numpy(zero_copy_only=False))
            Ml.append(
                cols["v"].flatten().to_numpy(zero_copy_only=False).reshape(
                    b.num_rows, dims
                )
            )
            BVl.append(
                cols["bvals"].flatten().to_numpy(zero_copy_only=False).reshape(
                    b.num_rows, nb
                )
            )
        if not idl:
            return
        ids = np.concatenate(idl)
        band = np.concatenate(bandl)
        bval = np.concatenate(bvall)
        M = np.vstack(Ml).astype(np.float64)
        BV = np.vstack(BVl)
        grp = np.lexsort((ids, bval, band))
        band_s, bval_s = band[grp], bval[grp]
        runs = np.ones(len(grp), dtype=bool)
        runs[1:] = (band_s[1:] != band_s[:-1]) | (bval_s[1:] != bval_s[:-1])
        starts = np.flatnonzero(runs)
        ends = np.append(starts[1:], len(grp))
        out_a, out_b, out_cos = [], [], []
        for g0, g1 in zip(starts, ends):
            if g1 - g0 < 2:
                continue
            sel = grp[g0:g1]  # ids ascending within the run (lexsort)
            _bucket(ids[sel], M[sel], BV[sel], int(band_s[g0]), out_a, out_b, out_cos)
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a)),
                    pa.array(np.concatenate(out_b)),
                    pa.array(np.concatenate(out_cos)),
                ],
                ["id_a", "id_b", "cosine"],
            )

    # explicit repartition on the group key — same rationale as
    # hamming_pairs: the band shuffle is tiny in BYTES but the groups are
    # compute-bound, and AQE coalescing would serialise them onto a
    # handful of tasks; a user repartition is exempt.  One task wave.
    n_part = max(bands_v.sparkSession.sparkContext.defaultParallelism, 16)
    emitted = bands_v.repartition(n_part, "band", "bval").mapInArrow(
        part_kernel, schema="id_a long, id_b long, cosine double"
    )
    return (
        emitted.withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    min_cosine: float = 0.9,
    assign_top: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings by nearest centroid, call
    within-cluster pairs above ``min_cosine`` semantic duplicates, and
    keep ONE representative per transitive duplicate group.  Composition
    of the engine's existing scale pieces — IVF-blocked cosine pairs
    (`embedding_ivf_pairs`: candidates never leave their cells, exact
    verify) + `graph.dedup_resolution` (min-label components with the
    star-contraction chain-graph fallback) — so the 100-TB shape is
    inherited, not re-derived.

    Returns one row per INPUT vector: (vec_id, component_id, keep) —
    singletons are their own component with keep=true.  The keeper is the
    minimum id per component (deterministic, run-order independent); the
    paper keeps the member farthest from the centroid — swap the keep
    rule by joining centroid distance and ranking, the components are the
    expensive part.

    ``assign_top`` > 1 (multi-assignment / nprobe) trades extra candidate
    pairs for recall across cell boundaries, exactly as in
    `embedding_ivf_pairs`."""
    from .graph import dedup_resolution

    pairs = embedding_ivf_pairs(
        emb, centroids, min_cosine, assign_top, id_col, vec_col
    )
    # dedup_resolution = label propagation with the star-contraction
    # fallback, so a chain-shaped duplicate graph resolves instead of
    # aborting (same keep rule: minimum id per component)
    res = dedup_resolution(pairs, id_a="id_a", id_b="id_b")
    ids = emb.select(F.col(id_col).alias("vec_id"))
    return ids.join(
        res.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("component_id", F.col("vec_id")).alias("component_id"),
        F.coalesce("keep", F.lit(True)).alias("keep"),
    )
