"""Relational operators Spark lacks as single calls (SURVEY §2.3-2.6).

Plain joins/aggs/windows/sorts are used directly via the DataFrame API in
the query registry — Catalyst already plans those optimally. This module
holds the compositions that need care: as-of join (J7), interval/range join
(J6), top-k per group, keep-latest dedup (X1), and batch sessionization.

Every helper is shuffle-conscious: the as-of join is a union + single
window pass (ONE shuffle on the key, no per-row lookup); top-k per group is
window + filter (partial ranking pushed map-side by Spark's WindowExec);
nothing collects to the driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. Spark plans TakeOrderedAndProject: each task keeps a
    k-row heap, driver merges — O(k) memory regardless of input size."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(df: DataFrame, keys: Sequence[str],
                    order_by: Sequence[Column], k: int,
                    rank_col: str = "rnk") -> DataFrame:
    """Per-group top-k via row_number ≤ k. Single shuffle on `keys`.
    Callers should include a unique tie-breaker in `order_by` for
    deterministic output."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
              .filter(F.col(rank_col) <= k))


def dedupe_latest(df: DataFrame, keys: Sequence[str],
                  order_by: Sequence[Column]) -> DataFrame:
    """X1 exact dedup, keep-first-by-order (e.g. latest timestamp): the
    standard row_number()==1 formulation. One shuffle on `keys`."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str, right_ts: str,
              right_value_cols: Sequence[str],
              strict: bool = False) -> DataFrame:
    """J7 as-of (latest-before) join: for each left row, attach the right
    row with the greatest ``right_ts`` <= ``left_ts`` (or < when strict),
    matching DuckDB's ``ASOF JOIN`` semantics (left rows with no match are
    kept with NULLs).

    Spark has no native as-of operator. Instead of a per-group
    ``pd.merge_asof`` (Python boundary, skew-fragile), we union the two
    inputs tagged by side and run ONE window pass partitioned by the key:
    ``last(right_value, ignorenulls=True)`` over rows up to the current
    timestamp carries the most recent right-side values forward. Cost: one
    shuffle of (|L|+|R|) rows — scales linearly, no driver involvement,
    and AQE handles key skew.

    Tie-breaking: right rows sort before left rows at equal timestamps
    (non-strict), so an exact-timestamp match is visible to the left row,
    as in DuckDB. If `right` has duplicate (key, ts) rows the last one in
    (ts, side) order wins — dedupe first for full determinism.
    """
    on = list(on)
    # side=0 rows (right) sort before side=1 (left) at equal ts => a right
    # row AT the left row's timestamp is "before" it (inclusive semantics).
    # strict=True flips the order so equal-ts right rows are not visible.
    lhs = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_value_cols],
    )
    rhs = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(2 if strict else 0).alias("__side"),
        F.lit(None).cast(lhs.schema["__l"].dataType).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
    )
    w = (Window.partitionBy(*on).orderBy("__ts", "__side")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = lhs.unionByName(rhs).select(
        "*",
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__v_{c}")
          for c in right_value_cols],
    )
    out = carried.filter(F.col("__l").isNotNull()).select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__v_{c}").alias(c) for c in right_value_cols],
    )
    return out


def range_join(left: DataFrame, right: DataFrame,
               predicate: Column, broadcast_right: bool = True) -> DataFrame:
    """J6 interval/range join. With a small interval dimension (calendars,
    buckets, SLA bands) broadcast the right side: Spark plans
    BroadcastNestedLoopJoin — a per-row scan of the broadcast table, no
    shuffle of the big side, which is the correct 100 TB plan. For two
    large sides, pre-bucket both on a coarsened range key and equi-join on
    the bucket before applying the residual predicate."""
    rhs = F.broadcast(right) if broadcast_right else right
    return left.join(rhs, predicate)


def bucketed_range_join(left: DataFrame, right: DataFrame,
                        left_point: str, right_lo: str, right_hi: str,
                        bucket_width: Column,
                        extra_keys: Sequence[str] = ()) -> DataFrame:
    """Large×large range join: explode each right interval into the coarse
    buckets it overlaps, equi-join on bucket (+ optional keys), then apply
    the exact range predicate. Turns a nested-loop into a hash join whose
    fan-out is interval_width/bucket_width."""
    lb = left.withColumn("__bucket",
                         F.floor(F.col(left_point).cast("double") / bucket_width))
    rb = right.withColumn(
        "__bucket",
        F.explode(F.sequence(
            F.floor(F.col(right_lo).cast("double") / bucket_width),
            F.floor(F.col(right_hi).cast("double") / bucket_width))))
    joined = lb.join(rb, ["__bucket", *extra_keys])
    return joined.filter(
        (F.col(left_point) >= F.col(right_lo))
        & (F.col(left_point) <= F.col(right_hi))).drop("__bucket")


def sessionize(df: DataFrame, key: str, ts: str,
               gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (gaps-and-islands): new session when the gap
    from the previous event of the same key exceeds the threshold;
    session_id = cumulative count of session starts. One shuffle on key.
    The streaming equivalent is ``F.session_window`` (streaming/windows)."""
    w = Window.partitionBy(key).orderBy(ts)
    gap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return (df.withColumn("__new", is_new)
              .withColumn("session_seq",
                          F.sum("__new").over(
                              w.rowsBetween(Window.unboundedPreceding, 0)))
              .drop("__new"))



def _hash_key(df: DataFrame, key_col: str):
    """Hash-input normalization for the Bloom key ops: integral types
    widen to BIGINT so INT and BIGINT sides of the same value hash
    identically (xxhash64 is type-sensitive); other types pass
    through as-is."""
    t = dict(df.dtypes)[key_col]
    if t in ("tinyint", "smallint", "int"):
        return F.col(key_col).cast("bigint")
    return F.col(key_col)


def key_bloom(df: DataFrame, key_col: str, *, m_bits: int = 1 << 22,
              k_hashes: int = 3) -> DataFrame:
    """Bloom bitmap of a column's (non-NULL) value set, as a DataFrame
    of packed 64-bit words ``(word_idx, word)`` — at most ``m_bits/64``
    rows whatever the input size. The join-key sibling of
    ``corpus.shingle_bloom``: built entirely engine-side, ONE shuffle
    keyed on word_idx (bit_or is idempotent, so duplicates need no
    pre-distinct — partial aggregation combines them map-side)."""
    if k_hashes < 1:
        raise ValueError("k_hashes must be >= 1")
    if m_bits < 64:
        raise ValueError("m_bits must be >= 64 (one packed word)")
    pos = (df.select(_hash_key(df, key_col).alias("__k"))
           .filter(F.col("__k").isNotNull())
           .select(F.explode(F.array(
               *[F.pmod(F.xxhash64("__k", F.lit(i)), F.lit(m_bits))
                 for i in range(k_hashes)])).alias("__pos")))
    return (pos.groupBy(F.expr("__pos div 64").alias("word_idx"))
            .agg(F.expr("bit_or(shiftleft(1L, cast(__pos % 64 as int)))")
                  .alias("word")))


def bloom_semi_filter(fact: DataFrame, build: DataFrame,
                      fact_key: str, build_key: str | None = None, *,
                      m_bits: int = 1 << 22,
                      k_hashes: int = 3) -> DataFrame:
    """Semi-join REDUCTION (the classic distributed-DB trick): filter a
    huge fact scan against a fixed-size Bloom bitmap of the build
    side's join keys BEFORE any shuffle or join, so the downstream
    join moves only rows that can possibly match. One-sided error:
    never drops a matching row (every true key hashes to set bits);
    passes false positives at the standard Bloom rate, which the real
    join then discards — so ``bloom_semi_filter(fact, build) ⋉ build``
    is VALUE-IDENTICAL to ``fact ⋉ build``, just cheaper. NULL fact
    keys are dropped (a NULL key never equi-matches anyway — this is
    an inner/semi-join reducer, not a left-join one).

    Scale shape: the bitmap (≤ m_bits/64 rows, size chosen up front,
    independent of build cardinality) broadcasts; the probe is
    k_hashes chained broadcast hash joins over the fact scan —
    whole-stage-codegen'd, the fact never shuffles here. Use when the
    build side is too big to broadcast raw but its KEY SET fits a
    bitmap — the regime between broadcast-hash-join and full
    shuffle-hash-join.

    Key types must hash identically on both sides — xxhash64 is
    type-sensitive (hash(5::INT) != hash(5::BIGINT)), so a silent type
    mismatch would drop true matches. Both hash INPUTS are therefore
    normalized (integral keys widened to BIGINT — lossless, output
    columns untouched); a non-integral differing pair raises."""
    bk = build_key or fact_key
    ft = dict(fact.dtypes)[fact_key]
    bt = dict(build.dtypes)[bk]
    integral = {"tinyint", "smallint", "int", "bigint"}
    if ft != bt and not (ft in integral and bt in integral):
        raise ValueError(
            f"fact key type {ft!r} != build key type {bt!r}: "
            "xxhash64 is type-sensitive, so mismatched types would "
            "silently drop true matches — cast one side first")
    bloom = key_bloom(build, bk, m_bits=m_bits, k_hashes=k_hashes)
    probe = fact.filter(F.col(fact_key).isNotNull())
    fk = _hash_key(fact, fact_key)
    hit = F.lit(True)
    temp = []
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(fk, F.lit(i)), F.lit(m_bits))
        b = F.broadcast(
            bloom.select(F.col("word_idx").alias(f"__w{i}"),
                         F.col("word").alias(f"__word{i}")))
        # word index and bit mask derive from the SAME materialized
        # position column (the r6 ADVICE discipline from
        # bloom_decontaminate): one shared __p{i} makes silent drift
        # between the two hash derivations impossible
        probe = (probe
                 .withColumn(f"__p{i}", p)
                 .withColumn(f"__w{i}", F.expr(f"__p{i} div 64"))
                 .withColumn(f"__b{i}", F.expr(
                     f"shiftleft(1L, cast(pmod(__p{i}, 64) as int))"))
                 .join(b, f"__w{i}", "left"))
        hit = hit & (F.col(f"__word{i}").isNotNull()
                     & (F.col(f"__word{i}")
                         .bitwiseAND(F.col(f"__b{i}")) != 0))
        temp += [f"__p{i}", f"__w{i}", f"__b{i}", f"__word{i}"]
    return probe.filter(hit).drop(*temp)
