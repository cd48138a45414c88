"""Streaming extraction: transcripts arriving as files -> extracted turns.

The reference is a pure batch transform (SURVEY.md §2.9: no stateful
streaming in scope), but a 10^12-turn table is fed continuously, so the
engine exposes the same extraction as a Structured Streaming flow:

* ``readStream`` over the transcripts location (file source here; Kafka /
  Iceberg-CDC in production) with the same schema;
* the identical extraction operator, ``pipeline.extract_turns``, applied
  to the unbounded DataFrame — scalar Arrow UDFs are streaming-safe
  (stateless projection);
* ``foreachBatch``/file sink for the extracted output, partitioned like
  the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTS_DDL


def read_transcripts_stream(spark: SparkSession, input_path: str,
                            max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream
        .schema(TRANSCRIPTS_DDL)
        .option('maxFilesPerTrigger', max_files_per_trigger)
        .parquet(input_path)
    )


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: the streaming face of the batch
    ``dedup_exact`` operator.

    ``dropDuplicatesWithinWatermark`` on the normalized-text hash keeps
    the FIRST arrival of each key and suppresses re-deliveries and
    duplicate turns that arrive within the 10-minute watermark horizon;
    state for keys older than the watermark is evicted, so memory is bounded by
    (arrival rate x horizon) instead of growing with the corpus — the
    only dedup shape that survives an unbounded 10^12-turn feed.
    Exactly-once upstream delivery composes with this for end-to-end
    dedup; duplicates farther apart than the horizon belong to the
    batch compaction pass (``dedup_exact``).
    """
    from ..functions.textops import norm_text
    keyed = stream.withColumn('text_hash', F.md5(norm_text()))
    return (keyed.withWatermark('ts', '10 minutes')
            .dropDuplicatesWithinWatermark(['text_hash']))


def run_to_parquet(extracted: DataFrame, output_path: str,
                   checkpoint_path: str):
    """Drain the stream to parquet (availableNow processes the backlog
    and stops — the streaming analogue of a batch catch-up run)."""
    writer = (
        extracted.writeStream
        .format('parquet')
        .option('path', output_path)
        .option('checkpointLocation', checkpoint_path)
        .outputMode('append')
        .trigger(availableNow=True)
    )
    return writer.start()
