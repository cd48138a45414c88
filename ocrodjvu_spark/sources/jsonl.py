"""JSONL (JSON Lines) source and sink — the exchange format of
training corpora (each line one UTF-8 JSON document).

Spark's native json reader/writer IS line-delimited by default, so
both directions stay JVM-side (no Python in the data path) and scale
like any other file scan: one task per split, predicate/column
pruning on read via the explicit schema. The helpers here pin the
conventions a corpus pipeline needs:

* **Explicit schema on read** (``read_jsonl``): never schema-infer in
  production — inference costs an extra full scan and silently widens
  types on dirty data. Pass the table schema; corrupt lines land in
  ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job,
  mirroring the typed error channel of the extraction pipeline.
* **Deterministic field order on write** (``write_jsonl``): JSON
  object keys follow the DataFrame schema, so a stable ``select``
  yields byte-stable records per row (modulo value encoding), which
  keeps exports diffable and hash-comparable across engines.

Cross-engine compatibility is asserted in the ``jsonl_roundtrip``
gate: DuckDB ``read_json`` parses the exact files Spark wrote.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def write_jsonl(df: DataFrame, path: str,
                shards: Optional[int] = None) -> None:
    """Export ``df`` as sharded JSONL under ``path`` (overwrite).

    ``shards`` coalesces the output to a fixed file count (None keeps
    the upstream partitioning — the right default at scale; use an
    explicit repartition upstream for size-targeted shards).
    """
    if shards is not None:
        df = df.coalesce(shards)
    df.write.mode('overwrite').json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read JSONL with an explicit schema; malformed lines survive as
    rows with only ``_corrupt_record`` set (PERMISSIVE), so ingest jobs
    can split the error channel off with one filter instead of dying
    mid-scan. ``schema`` may be a DDL string or a StructType; the
    corrupt column is appended automatically when absent."""
    from pyspark.sql.types import StructType, StructField, StringType
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if '_corrupt_record' not in [f.name for f in schema.fields]:
        schema = StructType(
            list(schema.fields)
            + [StructField('_corrupt_record', StringType(), True)])
    return (spark.read
            .schema(schema)
            .option('mode', 'PERMISSIVE')
            .option('columnNameOfCorruptRecord', '_corrupt_record')
            .json(path))
