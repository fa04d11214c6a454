"""General relational operators the reference implies but Spark must
express declaratively: as-of join, range join, top-k per group,
sessionization (gaps-and-islands).  All window/join compositions — no
custom physical operators, Catalyst plans them with the standard
exchange + sort machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, the latest right row with the same key and
    right_ts ≤ left_ts — the union-tag-window formulation: one shuffle on
    the key, no range cross product (the classic scalable as-of plan;
    generalises the reference's pending-crossing pairing J3 to arbitrary
    streams).

    Right rows that share a key and a timestamp tie; the tie resolves to
    the last of them in ``right_cols`` order (the window orders by
    (ts, side, *right_cols)), so the answer does not depend on how the
    input is partitioned.  Each right column comes back as
    ``<name><suffix>``; a left column that shares a right column's name
    is kept."""
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    l_tag = left.withColumn("_side", F.lit(1)).withColumn("_ats", F.col(left_ts))
    r_tag = (
        right.select(on, F.col(right_ts).alias("_ats"), *right_cols)
        .withColumn("_side", F.lit(0))
    )
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("_ats", "_side", *right_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(c + suffix)
            for c in right_cols
        ],
    )
    right_only = [c for c in right_cols if c not in left.columns]
    return carried.filter(F.col("_side") == 1).drop("_side", "_ats", *right_only)


def _range_long(df: DataFrame, col: str):
    """Numeric image of a range-join bound: dates → epoch days,
    timestamps → epoch millis, numerics → as-is (double-safe)."""
    t = dict(df.dtypes)[col]
    c = F.col(col)
    if t == "date":
        return F.unix_date(c)
    if t.startswith("timestamp"):
        # NTZ needs an explicit instant cast first (session TZ is UTC
        # throughout the engine, so this is deterministic)
        return F.unix_millis(c.cast("timestamp"))
    return c


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str | None,
    left_lo: str,
    left_hi: str,
    right_point: str,
    band_width: int | None = None,
) -> DataFrame:
    """Equi-key + interval containment.

    ``band_width=None``: the equi-join with the range as a post-filter —
    fine when the equi key alone bounds the fan-out.  With ``band_width``
    set (in the bound's native units: days for dates, ms for timestamps),
    each left interval explodes over the bands it covers and each right
    point carries its single band ``floor(point/width)``, so the join key
    becomes (on, band): a skewed equi key no longer crosses its whole
    group, only the rows within ± one band of each interval.  EXACT — a
    qualifying pair shares exactly the point's band (no dedup needed), and
    the containment post-filter drops same-band non-matches.  Pick
    band_width ≈ the typical interval span: each interval then covers ≤ 2
    bands (bounded explode).  ``on=None`` gives the pure interval join
    (band is the whole key)."""
    if band_width is None:
        return left.join(right, on).filter(
            F.col(right_point).between(F.col(left_lo), F.col(left_hi))
        )
    def _family(df, col):
        t = dict(df.dtypes)[col]
        return "date" if t == "date" else ("ts" if t.startswith("timestamp") else "num")

    # keyed by ROLE, not column name — left_lo and right_point may share a
    # name while having different types across the two tables
    fams = {
        "left_lo": _family(left, left_lo),
        "left_hi": _family(left, left_hi),
        "right_point": _family(right, right_point),
    }
    if len(set(fams.values())) != 1:
        # a DATE bound maps to epoch DAYS while a TIMESTAMP point maps to
        # epoch MILLIS — their bands would never collide and the join
        # would silently drop every match (or explode ~20k bands/row the
        # other way round).  Refuse loudly instead.
        raise ValueError(
            f"range_join band columns must share one type family "
            f"(date | timestamp | numeric), got {fams} — cast the bounds "
            "to a common type before banding"
        )
    lo, hi = _range_long(left, left_lo), _range_long(left, left_hi)
    bands = F.sequence(
        F.floor(lo / F.lit(band_width)), F.floor(hi / F.lit(band_width))
    )
    l_banded = left.withColumn("_band", F.explode(bands))
    r_banded = right.withColumn(
        "_band", F.floor(_range_long(right, right_point) / F.lit(band_width))
    )
    keys = ["_band"] if on is None else [on, "_band"]
    return (
        l_banded.join(r_banded, keys)
        .filter(F.col(right_point).between(F.col(left_lo), F.col(left_hi)))
        .drop("_band")
    )


def universe_sampled_join(
    left: DataFrame, right: DataFrame, on: list[str], rate: float
) -> DataFrame:
    """Universe (join-key) sampling for approximate join aggregates
    ("Random Sampling over Spatial Range Joins", ICDE 2025; the
    quickr/ApproxJoin universe-sample family).  Sampling each SIDE of a
    join independently at rate p keeps only ~p² of the matching pairs and
    biases every join aggregate; sampling the KEY UNIVERSE instead — keep
    a key iff pmod(hash64(key), 10^6) < p·10^6, the SAME deterministic
    hash on both sides — keeps every pair whose key survives, so
    per-group COUNT/SUM estimates scale by exactly 1/p.  Deterministic
    (shared md5 family ⇒ DuckDB-exact oracle, no rand()), and the filter
    pushes below the shuffle on both sides: at 100 TB the sampled join
    scans, shuffles and joins only the sampled universe.  Callers scale
    additive aggregates by 1/rate."""
    from ..functions.text import hash64

    thr = F.lit(int(round(rate * 1_000_000)))

    def keep(df: DataFrame) -> DataFrame:
        key = F.concat_ws(",", *[F.col(c).cast("string") for c in on])
        return df.filter(F.pmod(hash64(key), F.lit(1_000_000)) < thr)

    return keep(left).join(keep(right), on)


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    rate: float | None = None,
    strata_col: str | None = None,
    rates: dict | None = None,
) -> DataFrame:
    """Content-hash sampling for training-data curation: a row is kept iff
    ``pmod(hash64(key), 10^6) < rate·10^6`` — the keep decision is a pure
    function of the row's key, so the sample is REPRODUCIBLE across runs,
    cluster sizes, partitionings and engines (no rand(), no seed state;
    the shared md5 hash family makes the DuckDB oracle bit-exact), and
    samples at different rates NEST (rate 0.1 ⊂ rate 0.5 — the standard
    hash-sampling property corpus ablations rely on).  Per-stratum rates
    (the downsample-by-source/language curriculum) via ``rates`` keyed on
    ``strata_col`` values; strata absent from the dict fall back to
    ``rate`` (or 0 — dropped — when no default is given).  Zero shuffles:
    a codegen'd filter on a scan."""
    from ..functions.text import hash64

    default_thr = F.lit(int(round((rate or 0.0) * 1_000_000)))
    if rates:
        assert strata_col is not None, "rates requires strata_col"
        thr = default_thr
        for val, r in sorted(rates.items()):
            thr = F.when(
                F.col(strata_col) == F.lit(val), F.lit(int(round(r * 1_000_000)))
            ).otherwise(thr)
    else:
        thr = default_thr
    h = F.pmod(hash64(F.col(key_col).cast("string")), F.lit(1_000_000))
    return df.filter(h < thr)


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, k: int,
    descending: bool = True, tiebreak: str | None = None,
) -> DataFrame:
    order = [F.col(order_col).desc() if descending else F.col(order_col)]
    if tiebreak:
        order.append(F.col(tiebreak))
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sessionize(
    events: DataFrame, key: str = "user_id", ts_ms: str = "ts_ms", gap_ms: int = 1_800_000,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: new session when the gap to the
    previous event exceeds gap_ms; session_id = running sum of boundaries.
    One shuffle on the key; the streaming twin is a session window with
    watermark (streaming/match_stream.py).  Pass a unique ``tiebreak``
    column when timestamps can repeat within a key — otherwise the window
    order (and hence session assignment at gap boundaries) is
    engine-dependent."""
    order = [ts_ms] if tiebreak is None else [ts_ms, tiebreak]
    w = Window.partitionBy(key).orderBy(*order)
    flagged = events.withColumn(
        "_new",
        F.when(
            F.col(ts_ms) - F.lag(ts_ms).over(w) > gap_ms, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_first", F.when(F.lag(ts_ms).over(w).isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    return flagged.withColumn(
        "session_id",
        F.sum(F.col("_new") + F.col("_first")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).drop("_new", "_first")
