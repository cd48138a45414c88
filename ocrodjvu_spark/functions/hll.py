"""Engine-portable HyperLogLog distinct-count sketch.

Flajolet et al. 2007 ("HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm"). Spark ships
``approx_count_distinct`` (its own HLL++), but that sketch's internals
are opaque to the oracle harness; this one is built on the repo's
portable fold hash so the ENTIRE register table is integer-exact across
engines — the driver gate compares registers, not a float estimate,
and the estimator's accuracy is asserted separately with a tolerance.

Shapes (the same scale story as the Bloom filter):

* **Sketch build**: one projection (register, rank) per key + one
  ``groupBy(register).agg(max(rank))`` — map-side partial max bounds
  the shuffle at m rows per task regardless of corpus size.

Register/rank derivation (p register bits, W = 31 - p payload bits):
h = two multiplicative finalization rounds over the fold hash —
REQUIRED, because the raw fold of a short key never fills 31 bits
(a 3-char key folds below 2^17, so its payload would fake ~14 leading
zeros and explode the estimate ~4x; the rounds spread small values
across the full range). Then register = h mod m, payload w = h div m,
rank = W + 1 - bit_length(w) (w = 0 → W + 1). ``bit_length`` is
``length(bin(w))`` — minimal-length binary strings in both Spark and
DuckDB, no floating log2 at integer boundaries.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import HASH_MOD, rolling_hash

HASH_BITS = 31
# finalization constants — the SimHash derived-word family
FIN = ((48271, 11), (69621, 7))


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _finalized_hash(key: Column) -> Column:
    """The fold hash of ``key`` after the ``FIN`` rounds."""
    h = rolling_hash(key)
    for mul, add in FIN:
        h = (h * mul + add) % HASH_MOD
    return h


def register_rank_cols(key: Column, p: int):
    """(register, rank) of one key."""
    m = 1 << p
    w_bits = HASH_BITS - p
    h = _finalized_hash(key)
    w = F.floor(h / m).cast('long')
    rank = F.when(w == 0, F.lit(w_bits + 1)) \
            .otherwise(F.lit(w_bits + 1) - F.length(F.bin(w))) \
            .cast('int')
    return (h % m).cast('int').alias('register'), rank.alias('rank')


def hll_sketch(keys: DataFrame, p: int = 6) -> DataFrame:
    """Keys (a ``key`` column) -> the (register, max_rank) table (only
    registers that were hit; absent registers are rank 0 by
    convention)."""
    reg, rank = register_rank_cols(F.col('key'), p)
    return (keys.select(reg, rank)
            .groupBy('register')
            .agg(F.max('rank').alias('max_rank')))


def estimate_from_ranks(ranks: dict, p: int) -> float:
    """The HLL estimator over a plain {register: max_rank} dict — the
    driver-side face shared with metadata consumers (the snapshot
    store's manifest NDV) that already hold the registers in hand."""
    m = 1 << p
    total = sum(2.0 ** -ranks.get(j, 0) for j in range(m))
    est = _alpha(m) * m * m / total
    zeros = sum(1 for j in range(m) if ranks.get(j, 0) == 0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est
