"""Distributed Bloom filter: build + probe as DataFrames, JVM-only.

The classic pre-filter for web-scale dedup/decontamination (Bloom 1970;
double hashing per Kirsch & Mitzenmacher 2006: position_i =
(h1 + i*h2 + i^2) mod m needs only two base hashes for k probes). The
bitmap lives as a DataFrame of ``(word_idx, bits)`` int64 words, so:

* **Build** is one explode (k positions per key) + one ``bit_or``
  groupBy. Map-side partial aggregation collapses every task's
  contribution to at most ``m/64`` rows before the shuffle — the
  shuffle volume is bounded by the BITMAP size, not the corpus size,
  at any scale.
* **Probe** is a broadcast join on ``word_idx`` (a 2^33-bit filter is
  ~128 M rows — still tiny next to the corpus it guards). A key is
  reported present iff ALL k probed bits are set; Bloom semantics: no
  false negatives, false positives at the designed rate
  (~(1 - e^{-kn/m})^k).

Each int64 word holds 63 bits (shifts capped at 62): the sign bit stays
clear, which keeps every mask/aggregate value positive and the whole
filter portable to engines that raise on ``1 << 63`` overflow (DuckDB).

Hashes are the repo's engine-portable character-fold (``textops.
rolling_hash``), so the whole filter has an exact DuckDB oracle —
including its false positives.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import HASH_MOD, rolling_hash

# second base hash: the same derived-word constants the SimHash key uses
H2_MUL = 48271
H2_ADD = 11


class BloomFilter(NamedTuple):
    """A built filter WITH its parameters — probing with the wrong
    (m_bits, k) silently produces false negatives, so the bitmap never
    travels without them."""
    bitmap: DataFrame
    m_bits: int
    k: int


def _probe_positions(h1: Column, k: int, m: int, dtype: str) -> Column:
    """The k positions ``(h1 + i*h2 + i^2) mod m``, cast to ``dtype``."""
    h2 = (h1 * H2_MUL + H2_ADD) % HASH_MOD
    return F.array(*[
        ((h1 + F.lit(i) * h2 + F.lit(i * i)) % m).cast(dtype)
        for i in range(k)
    ])


def positions_col(key: Column, k: int, m_bits: int) -> Column:
    """The k probe positions of one key (double hashing)."""
    return _probe_positions(rolling_hash(key), k, m_bits, 'long')


def _word_and_mask() -> list:
    """A probe position ``pos`` as its bitmap word and in-word bit."""
    return [(F.col('pos') / 63).cast('long').alias('word_idx'),
            F.expr('shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))')
             .alias('mask')]


def bloom_build(
    keys: DataFrame,
    m_bits: int = 4096,
    k: int = 3,
) -> BloomFilter:
    """Keys (a ``key`` column) -> a BloomFilter (bitmap words
    (word_idx, bits) + the parameters bound to them). Duplicate keys are
    free (bit_or is idempotent), so no distinct pass is needed."""
    pos = F.explode(positions_col(F.col('key'), k, m_bits)).alias('pos')
    bitmap = (keys
              .select(pos)
              .select(*_word_and_mask())
              .groupBy('word_idx')
              .agg(F.bit_or('mask').alias('bits')))
    return BloomFilter(bitmap, m_bits, k)


def bloom_probe(probes: DataFrame, bloom: BloomFilter) -> DataFrame:
    """Membership test: (key, maybe_present), probed with the filter's
    own bound (m_bits, k) and a broadcast of its bitmap."""
    k = bloom.k
    pos = F.explode(positions_col(F.col('key'), k, bloom.m_bits))
    # distinct FIRST: a duplicated probe key would explode to 2k rows
    # and fail the count==k membership test — a false negative the
    # Bloom contract forbids
    probed = (probes
              .select('key').distinct()
              .select('key', pos.alias('pos'))
              .select('key', *_word_and_mask()))
    joined = probed.join(F.broadcast(bloom.bitmap), 'word_idx', 'left')
    bit_set = (F.col('bits').isNotNull()
               & (F.col('bits').bitwiseAND(F.col('mask')) != 0))
    return (joined
            .groupBy('key')
            .agg((F.count(F.when(bit_set, 1)) == k)
                 .alias('maybe_present')))
