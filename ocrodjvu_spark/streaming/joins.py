"""Watermarked stream-stream joins (the correlation face of the events
pipeline: e.g. every click joined to the errors that follow it).

Structured Streaming only admits a stream-stream inner join when the
condition carries (a) an equi-key and (b) a time-range bound against
watermarked event-time columns — that pair is what lets the engine
evict join state older than the watermark, so state is bounded by
(arrival rate x horizon) instead of growing with the streams. An
unbounded-condition stream join is rejected by the analyzer for
exactly the reason it would die at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_stream(left: DataFrame, right: DataFrame,
                         watermark: str = '24 hours') -> DataFrame:
    """Streaming interval join: (left, right) pairs with the same key
    and ``left.ts <= right.ts <= left.ts + 60 minutes``.

    Both sides are watermarked on event time; the range predicate bounds
    how long each side's rows are retained as join state. ``watermark``
    is the lateness budget: a row arriving more than that behind the
    stream's max seen event time can be dropped, so a drained replay is
    guaranteed equal to the batch join only when the horizon exceeds
    the replayed data's full time-span (the gate passes one explicitly)
    — with a production-sized horizon, equality instead relies on
    arrival order being roughly event-time order.

    Output: (left_id, user_id, left_ts, right_id, right_ts).
    """
    lt = (left.select(F.col('event_id').alias('left_id'),
                      F.col('user_id'), F.col('ts').alias('left_ts'))
          .withWatermark('left_ts', watermark))
    rt = (right.select(F.col('event_id').alias('right_id'),
                       F.col('user_id').alias('_rk'),
                       F.col('ts').alias('right_ts'))
          .withWatermark('right_ts', watermark))
    cond = ((F.col('user_id') == F.col('_rk'))
            & (F.col('right_ts') >= F.col('left_ts'))
            & (F.col('right_ts') <=
               F.col('left_ts') + F.expr('INTERVAL 60 minutes')))
    return (lt.join(rt, cond, 'inner')
            .select('left_id', 'user_id', 'left_ts', 'right_id', 'right_ts'))
