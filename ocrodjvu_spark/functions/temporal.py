"""Temporal join operators Spark lacks natively: as-of join and
bounded range join, in shuffle-safe formulations.

Spark's DataFrame API has no ASOF JOIN (DuckDB/Pandas/kdb all do). The
naive encodings — a `l.ts >= r.ts` theta-join (Catalyst plans a
BroadcastNestedLoopJoin or cartesian: candidate count O(|L|x|R|) per
key) or a per-key ``applyInPandas`` merge (Python in the hot path) —
both die at scale. The operators here use equi-join-only shapes:
union + window carry-forward for as-of, bucket equi-join for bounded
ranges. Both shuffle once on the key, keep everything JVM-side, and
parallelize across keys/buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# both sides are events: (event_id, user_id, ts[, value]) keyed by
# user_id; the as-of joins carry this right-side payload
ASOF_PAYLOAD = ('event_id', 'ts', 'value')


def _tagged_union(left: DataFrame, right: DataFrame, strict: bool):
    """(right rows with payload ``_rp``, the ``_side``-tagged union, the
    carry order: ts, side, payload)."""
    payload = F.struct(*[F.col(c) for c in ASOF_PAYLOAD])
    rt = right.select(
        F.col('user_id'), F.col('ts'), payload.alias('_rp'),
        F.lit(0).alias('_side'))
    lt = left.withColumn('_side', F.lit(1))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    side = F.col('_side').desc() if strict else F.col('_side').asc()
    return rt, unioned, (F.col('ts').asc(), side, F.col('_rp').asc())


def _matched(joined: DataFrame, left: DataFrame) -> DataFrame:
    """Every left column plus ``matched_<c>`` from ``_match``."""
    return joined.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f'_match.{c}').alias(f'matched_{c}') for c in ASOF_PAYLOAD])


def asof_join(left: DataFrame, right: DataFrame,
              strict: bool = False) -> DataFrame:
    """As-of (backward) join: attach to each left row the most recent
    right row with ``right.ts <= left.ts`` (``<`` when ``strict``) for
    the same key; left rows with no prior right row keep nulls.

    Matches DuckDB ``ASOF LEFT JOIN`` semantics (the gate oracle uses
    the native operator).

    Scale shape: tag the two sides, union them, and carry the right
    payload forward with ``last(payload, ignorenulls=True)`` over a
    (key, ts)-ordered running window — ONE hash shuffle on the key and
    a per-partition sort, never a range theta-join (no
    BroadcastNestedLoopJoin, no O(|L|x|R|) candidate blowup) and no
    Python. At equal timestamps the side tag orders the right row
    before the left row (after, when ``strict``), which is exactly the
    <=/< distinction; among equal-(key, ts) right rows the payload
    struct is the deterministic tiebreak (lexicographic max wins).

    Output: every left column plus ``matched_<c>`` for each ``c`` in
    ``ASOF_PAYLOAD``.
    """
    _, unioned, order = _tagged_union(left, right, strict)
    w = (Window.partitionBy('user_id').orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = unioned.withColumn(
        '_match', F.last('_rp', ignorenulls=True).over(w))
    return _matched(carried.where(F.col('_side') == 1), left)


def asof_join_bucketed(left: DataFrame, right: DataFrame,
                       strict: bool = False,
                       bucket_sec: int = 86_400) -> DataFrame:
    """Skew-proof as-of join: identical semantics to ``asof_join``, but
    the carry-forward runs as a segmented scan over (key, time-bucket).

    Why: ``asof_join``'s window partitions by key alone, so one hot key
    (a bot user with 10^9 events) becomes a single sort task — the
    classic window-skew ceiling. Here the running carry happens within
    (key, ``floor(epoch/bucket_sec)``) segments, and a second,
    bucket-LEVEL pass (one row per non-empty (key, bucket) — orders of
    magnitude smaller) carries each bucket's final right payload across
    bucket boundaries. Rows whose segment had no prior right row
    coalesce to their key's latest earlier-bucket payload. Parallelism
    becomes key x bucket; the extra shuffles are on the same
    (key, bucket) grain and all operate on bounded segments. This is
    the standard segmented prefix-scan decomposition; pick
    ``bucket_sec`` so a (key, bucket) segment fits a task comfortably.
    """
    b_of = lambda c: F.floor(F.unix_timestamp(c) / bucket_sec)
    rt, unioned, order = _tagged_union(left, right, strict)
    unioned = unioned.withColumn('_b', b_of(F.col('ts')))
    w_seg = (Window.partitionBy('user_id', '_b').orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    seg = unioned.withColumn(
        '_partial', F.last('_rp', ignorenulls=True).over(w_seg))

    # bucket-level pass: final right payload per (key, bucket) — max by
    # (ts, payload) matches the row-level tiebreak — carried to every
    # later bucket that appears on either side
    rb = (rt.withColumn('_b', b_of(F.col('ts')))
          .groupBy('user_id', '_b')
          .agg(F.max(F.struct(F.col('ts'), F.col('_rp'))).alias('_m')))
    buckets = unioned.select('user_id', '_b').distinct()
    w_carry = (Window.partitionBy('user_id').orderBy('_b')
               .rowsBetween(Window.unboundedPreceding, -1))
    prev = (buckets.join(rb, ['user_id', '_b'], 'left')
            .withColumn('_prev',
                        F.last('_m', ignorenulls=True).over(w_carry))
            .select('user_id', '_b', F.col('_prev._rp').alias('_pp')))

    joined = (seg.where(F.col('_side') == 1)
              .join(prev, ['user_id', '_b'], 'left')
              .withColumn('_match', F.coalesce('_partial', '_pp')))
    return _matched(joined, left)


def range_join(left: DataFrame, right: DataFrame,
               window_sec: int = 600) -> DataFrame:
    """Bounded range join: all (left, right) pairs with the same key and
    ``|left.ts - right.ts| <= window_sec``.

    Scale shape: the standard interval-bucketing trick — assign every
    row to ``floor(epoch / window_sec)`` buckets, expand the LEFT side
    to its bucket and both neighbors, then a pure equi-join on
    (key, bucket) and an exact ``abs(delta) <= window`` filter. A pair
    within the window is at most one bucket apart, so recall is exact;
    candidates are bounded by per-bucket density, not |L|x|R|, and the
    join parallelizes across (key, bucket). This is how range joins
    survive 100 TB; a ``ts BETWEEN`` theta-join does not.

    Output: (user_id, ts, near_ts, delta_sec).
    """
    bucket = lambda c: F.floor(F.unix_timestamp(c) / window_sec)
    lt = left.select(
        F.col('user_id'), F.col('ts'),
        F.explode(F.array(bucket(F.col('ts')) - 1,
                          bucket(F.col('ts')),
                          bucket(F.col('ts')) + 1)).alias('_b'))
    rt = right.select(
        F.col('user_id'), F.col('ts').alias('near_ts'),
        bucket(F.col('ts')).alias('_b'))
    delta = F.unix_timestamp('near_ts') - F.unix_timestamp('ts')
    return (lt.join(rt, ['user_id', '_b'])
            .where(F.abs(delta) <= window_sec)
            .select('user_id', 'ts', 'near_ts',
                    delta.alias('delta_sec')))
