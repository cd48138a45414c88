"""Streaming incremental ingestion: durable cross-batch dedup.

``dedup_stream`` (dropDuplicatesWithinWatermark) bounds its state by
the watermark horizon — duplicates farther apart in event time than the
horizon pass through. This module is the other half of the production
ingestion story: a ``foreachBatch`` writer that dedups every
micro-batch against a DURABLE seen-keys registry (a snapshot-manifest
table), so the dedup memory is unbounded in time while living on
storage, not in executor state.

Per micro-batch (foreachBatch runs batches sequentially, so batch N+1
observes N's commits):

1. ``textops.incremental_dedup`` anti-joins the batch's content hashes
   against the registry HEAD (batch-internal keep-first included);
2. the surviving rows append to the corpus table;
3. their keys append to the registry.

Both appends are TAGGED with the batch id, so a batch replayed after a
crash (Structured Streaming's at-least-once foreachBatch contract)
re-commits nothing — the snapshot store's tag check turns at-least-once
delivery into exactly-once table state.

At 100 TB the registry is a hash-keyed table far smaller than the
corpus; the anti-join is one shuffle per batch (or less with the
bloom prefilter seam in ``incremental_dedup``), and commits are O(new
files) manifest swaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textops
from ..plans.snapstore import SnapshotTable

KEY_COL = 'content_hash'


def seed_registry(spark: SparkSession, registry_root: str,
                  keys: DataFrame) -> int:
    """Initialize (or extend) the seen-keys registry from a prior
    corpus snapshot's hashes."""
    return SnapshotTable(registry_root).append(
        keys.select(F.col(KEY_COL)).distinct())


def run_incremental_ingest(
    stream: DataFrame,
    corpus_root: str,
    registry_root: str,
    checkpoint_path: str,
):
    """Start the ingestion query (an ``availableNow`` trigger: drain what
    the source holds, then stop); returns the StreamingQuery.

    ``stream`` must carry ``doc_id`` (batch-internal keep-first key)
    and ``text``; all columns are persisted for survivors.
    """
    corpus = SnapshotTable(corpus_root)
    registry = SnapshotTable(registry_root)

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        seen = registry.read(spark)
        if seen is None:
            seen = spark.createDataFrame([], f'{KEY_COL} string')
        survivors = textops.incremental_dedup(batch, seen)
        rows = batch.join(survivors.select('doc_id'), 'doc_id', 'left_semi')
        # batch-internal duplicate ids (full-copy re-deliveries inside
        # one batch) collapse to one row
        rows = rows.dropDuplicates(['doc_id'])
        corpus.append(rows, tag=f'ingest-{batch_id}-corpus')
        registry.append(survivors.select(KEY_COL),
                        tag=f'ingest-{batch_id}-keys')

    writer = (stream.writeStream
              .foreachBatch(ingest_batch)
              .option('checkpointLocation', checkpoint_path))
    return writer.trigger(availableNow=True).start()
