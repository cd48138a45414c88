"""Idempotent, resumable extraction with a per-partition lineage sidecar.

The unit of lineage is a **bucket**: ``pmod(xxhash64(conv_id), n_buckets)``.
Each run:

1. reads the sidecar table and computes the pending bucket set
   (anti-join on completed lineage keys);
2. extracts only pending buckets, writing the output table with *dynamic
   partition overwrite* on the bucket column — re-processing a bucket
   replaces exactly its own files, so a crashed run can simply be rerun;
3. appends one sidecar row per completed bucket with its run metrics
   (``pipeline.run_metric_terms``: turns, errors, spans, chars). They
   are observed on the write itself (``DataFrame.observe``), so the
   written data is never read back.

This mirrors the reference's crash behavior (temp results preserved,
resume skips done pages — lib/cli/ocrodjvu.py:494-501,596-603) at table
granularity. On a real deployment both tables are Iceberg (atomic commit
+ snapshot isolation); the parquet emulation here keeps the same
idempotency contract via dynamic partition overwrite.

Reader-visibility contract of the parquet stand-in (tested in
``tests/test_checkpoint.py::test_reader_across_overwrite_never_mixes``):
a reader snapshots the file listing when the DataFrame is created, so a
reader that *starts* after a commit sees the overwritten bucket fully
new and every other bucket untouched (atomic per-bucket visibility); a
reader whose listing *spans* a commit either returns the old snapshot
or fails loudly with FileNotFoundException once the old files are
swapped out — it can never silently return a row-level old/new mix of
one bucket, because parquet files are immutable and the committer
replaces a partition's file set, not file contents. The remaining gap
vs real Iceberg — an in-flight reader should SUCCEED on its pinned
snapshot instead of failing — is closed by ``snapstore.SnapshotTable``
(Iceberg-style manifest commits; see that module and the
``checkpoint_snapshot`` gate): commits there add immutable files and
atomically swap a manifest version, so pinned readers keep working
until ``expire_snapshots``. This module keeps the plain-parquet
dynamic-overwrite path as the zero-metadata default.
"""

from __future__ import annotations

import datetime
from typing import List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import pipeline

BUCKET_COL = 'bucket'


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.expr(
        f'CAST(pmod(xxhash64(conv_id), {int(n_buckets)}) AS INT)'))


def completed_buckets(spark: SparkSession, sidecar_path: str,
                      table_format: str = 'parquet') -> List[int]:
    sidecar = read_table(spark, sidecar_path, table_format)
    if sidecar is None:
        return []
    # one row per completed bucket and run: deduplicated on the driver,
    # since a distinct() is a second job under AQE
    return sorted({r[0] for r in sidecar.select(BUCKET_COL).collect()})


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    sidecar_path: str,
    n_buckets: int = 64,
    max_buckets: Optional[int] = None,
    salt_buckets: Optional[int] = None,
    raw_output_path: Optional[str] = None,
    raw_template: str = '{id}/p{page+1}',
    table_format: str = 'parquet',
    **extract_kwargs,
) -> List[int]:
    """Run (or resume) the extraction job; returns buckets processed.

    ``max_buckets`` limits how many pending buckets this invocation
    processes (used to exercise resume in tests; production leaves it
    None). ``salt_buckets`` salts the pre-extraction repartition so a
    mega-conversation spreads over that many tasks (skew split); the
    extraction UDF then runs on the salted layout before the final
    by-bucket exchange for the partitioned write.

    ``table_format``: ``'parquet'`` commits via dynamic partition
    overwrite (zero metadata, loud in-flight-reader failures);
    ``'snapshot'`` commits output and sidecar through
    ``snapstore.SnapshotTable`` (atomic manifest swap — pinned readers
    keep working across a resumed bucket's re-commit, time travel,
    optimistic concurrency). The idempotency/resume contract is
    identical in both.
    """
    if table_format not in ('parquet', 'snapshot'):
        raise ValueError(f'unknown table_format: {table_format!r}')
    snap_out = snap_side = None
    if table_format == 'snapshot':
        from .snapstore import SnapshotTable
        snap_out = SnapshotTable(output_path)
        snap_side = SnapshotTable(sidecar_path)
    done = set(completed_buckets(spark, sidecar_path, table_format))
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return []

    # plans built from SQL text: one parse on the JVM instead of a py4j
    # call per Column
    src = with_bucket(transcripts, n_buckets).where(
        '{} IN ({})'.format(BUCKET_COL, ', '.join(map(str, pending))))
    if raw_output_path:
        # S9 sidecar restricted to this run's pending buckets (dynamic
        # overwrite — resumes never rescan or clobber completed buckets)
        save_raw_payloads(src, raw_output_path, template=raw_template)
    extracted = pipeline.extract_turns(
        src, keep_columns=('role', 'tool', 'ts', BUCKET_COL),
        salt_buckets=salt_buckets, **extract_kwargs)

    shaped = extracted.repartition(max(len(pending), 1), BUCKET_COL)
    # the run metrics ride on the write itself, in the result stage after
    # the last exchange, where Spark merges each task's accumulators once
    # however often the task is retried. Per metric ONE observed array of
    # conditional sums of its per-row term, one element per pending
    # bucket: one parsed expression per metric, whatever the bucket count.
    terms = pipeline.run_metric_terms(shaped)
    observation = Observation('run_metrics')
    shaped = shaped.observe(observation, *(
        F.expr('array({}) AS {}'.format(', '.join(
            f'sum(if({BUCKET_COL} = {b}, ({term}), NULL))'
            for b in pending), n))
        for n, term in terms.items()))
    _write_output(shaped, output_path, snap_out)

    # lineage + metrics, appended only after the bucket data is durable;
    # empty buckets get a zero row so they are marked complete too. The
    # few rows are built on the driver as Arrow, run_ts from the driver
    # clock; the snapshot store appends the table itself (no Spark job),
    # the parquet format writes it through Spark's Hadoop filesystem.
    observed = observation.get
    run_ts = datetime.datetime.now(datetime.timezone.utc)
    table = pa.Table.from_arrays(
        [pa.array(pending, pa.int32())]
        + [pa.array([v or 0 for v in observed[n]], pa.int64()) for n in terms]
        + [pa.array([run_ts] * len(pending), pa.timestamp('us', 'UTC'))],
        schema=pa.schema(
            [pa.field(BUCKET_COL, pa.int32())]
            + [pa.field(n, pa.int64(), nullable=False) for n in terms]
            + [pa.field('run_ts', pa.timestamp('us', 'UTC'),
                        nullable=False)]))
    if snap_side is not None:
        snap_side.append(table)
    else:
        # one file per run, not one per partition of the Arrow frame
        spark.createDataFrame(table).coalesce(1).write.mode(
            'append').parquet(sidecar_path)
    return pending


def _write_output(shaped: DataFrame, output_path: str, snap_out) -> None:
    """Commit the pending buckets' rows, replacing exactly their
    partitions of the output table."""
    if snap_out is not None:
        snap_out.replace_partitions(shaped, BUCKET_COL)
    else:
        (shaped
         .write
         .partitionBy(BUCKET_COL)
         .option('partitionOverwriteMode', 'dynamic')
         .mode('overwrite')
         .parquet(output_path))


def template_path_expr(template: str):
    """Compile a ``{page+1}``-style filename template into ONE Catalyst
    expression, so per-row expansion stays JVM-side at scale (T13).

    Field mapping for the transcripts model: ``page`` -> turn_idx,
    ``id`` / ``id-ext`` -> conv_id (conversation ids carry no file
    extension). Offset arithmetic (``{page+1}``) follows the reference's
    template grammar (lib/cli/ocrodjvu.py:145-174); the pure-Python
    reference is ``tests/oracles.expand_template``.
    """
    import string

    from ..kernel.utils import _TEMPLATE_OFFSET_RE

    def field_expr(field):
        if field in ('id', 'id-ext'):
            return F.col('conv_id')
        if field == 'page':
            return F.col('turn_idx')
        m = _TEMPLATE_OFFSET_RE.match(field)
        if m is not None and m.group('base') == 'page':
            off = int(m.group('off'), 10)
            if m.group('sign') == '-':
                off = -off
            return F.col('turn_idx') + off
        raise ValueError(f'unknown template field: {field!r}')

    parts = []
    for literal, field, spec, conv in string.Formatter().parse(template):
        if literal:
            parts.append(F.lit(literal))
        if field is not None:
            if spec or conv:
                # keep parity with the per-row reference grammar instead of
                # silently emitting differently-formatted names
                raise ValueError(
                    'format specs/conversions are not supported in '
                    f'Catalyst template compilation: {template!r}')
            parts.append(field_expr(field).cast('string'))
    return F.concat(*parts)


def save_raw_payloads(transcripts: DataFrame, path: str,
                      template: str = '{id}/p{page+1}') -> None:
    """S9 raw-OCR side output: persist the raw (pre-extraction) per-turn
    payload, named via the filename template.

    The reference writes one raw engine-output file per page under an
    expanded template (lib/cli/ocrodjvu.py:428-439); at table scale the
    same artifact is a debug sidecar keyed by (conv_id, turn_idx) whose
    ``raw_name`` column carries the expanded template value.

    If the frame carries the lineage bucket column the write partitions
    by it with dynamic overwrite, so a resumed run touching only pending
    buckets rewrites only those buckets' raw files (and a crash never
    destroys completed ones). A bucket-less frame does a plain overwrite.
    """
    cols = ['conv_id', 'turn_idx',
            template_path_expr(template).alias('raw_name'),
            F.col('text').alias('payload')]
    if BUCKET_COL in transcripts.columns:
        (transcripts.select(*cols, BUCKET_COL)
         .write
         .partitionBy(BUCKET_COL)
         .option('partitionOverwriteMode', 'dynamic')
         .mode('overwrite')
         .parquet(path))
    else:
        transcripts.select(*cols).write.mode('overwrite').parquet(path)


def read_table(spark: SparkSession, path: str,
               table_format: str) -> Optional[DataFrame]:
    """The output or sidecar table at ``path`` in ``table_format``; None
    when it holds no data yet.

    A snapshot table reads its HEAD through ``SnapshotTable.read``. A
    parquet table is opened through Spark itself (works on any Hadoop
    filesystem — HDFS/S3/local — unlike a driver-side os.path probe,
    which on a cluster deployment would always miss and silently degrade
    resume into full reprocessing). A missing path, checked through the
    path's Hadoop ``FileSystem``, or one that holds no data (an
    AnalysisException) means 'no table yet'. The existence check keeps
    the common first run from failing analysis, which a session that has
    used an ``Observation`` logs as a listener error with a stack trace.
    """
    if table_format == 'snapshot':
        from .snapstore import SnapshotTable
        return SnapshotTable(path).read(spark)
    from pyspark.errors import AnalysisException
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(jpath):
        return None
    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution eagerly
        return df
    except AnalysisException:
        return None
