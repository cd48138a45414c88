"""Engine-portable Count-Min Sketch: distributed frequency estimation.

Cormode & Muthukrishnan 2005 ("An improved data stream summary: the
count-min sketch and its applications"). Completes the repo's portable
sketch trio — Bloom (membership), HyperLogLog (cardinality), CMS
(frequency) — all on the same fold-hash family so every structure has
an integer-exact DuckDB oracle.

* **Build**: each key occurrence increments d counters (one per row,
  positions via the same Kirsch-Mitzenmacher double hashing the Bloom
  filter uses, salted per row). One explode (d rows per occurrence) +
  one ``groupBy(row, pos).count()`` — map-side partial counting bounds
  the shuffle at d*w rows per task, independent of corpus size.
* **Estimate**: min over the key's d counters (join against the d*w-row
  counter table — broadcast at practical sizes). One-sided error:
  estimate >= true count always; overshoot bounded by eN/w with
  probability 1 - (1/2)^d for w = e/eps counters.

The finalized hash (HLL's two multiplicative rounds) is reused so short
keys spread over the full range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bloom import _probe_positions
from .hll import _finalized_hash


def _positions(key: Column, d: int, w: int) -> Column:
    """Array of d counter positions (row j uses the j-salted probe)."""
    return _probe_positions(_finalized_hash(key), d, w, 'int')


CMS_DEPTH = 3  # d: counter rows, one hash each


def cms_build(keys: DataFrame, w: int = 256) -> DataFrame:
    """Key occurrences (a ``key`` column) -> the (row, pos, n) counter
    table."""
    pos = F.posexplode(_positions(F.col('key'), CMS_DEPTH, w))
    return (keys
            .select(pos.alias('row', 'pos'))
            .groupBy('row', 'pos')
            .agg(F.count('*').alias('n')))


def cms_estimate(probes: DataFrame, sketch: DataFrame,
                 w: int = 256) -> DataFrame:
    """(key, est) — the min of the key's d counters; 0 if any counter
    row is absent (key never inserted and its cells never collided)."""
    pos = F.posexplode(_positions(F.col('key'), CMS_DEPTH, w))
    probed = probes.select('key', pos.alias('row', 'pos'))
    return (probed
            .join(F.broadcast(sketch), ['row', 'pos'], 'left')
            .groupBy('key')
            .agg(F.min(F.coalesce(F.col('n'), F.lit(0)))
                 .alias('est')))


