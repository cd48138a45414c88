"""SparkSession factory tuned for the extraction workload.

Local mode stands in for a multi-executor cluster; the knobs below are the
ones that matter at 100 TB too (AQE for runtime re-planning and skew-join
splitting, Arrow batching for the Arrow-UDF kernel, shuffle-partition
sizing relative to parallelism).

``SESSION_CONF`` holds the settings every session of the package needs,
whoever builds it: ``get_spark`` applies it, and so does
``tools/run_pipeline.py`` under spark-submit. Besides the output format
it turns off pyspark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``, on by default in
pyspark 4.1). With capture on, every ``F.col`` and every ``Column``
method call on the driver also looks up the active session and a JVM
class, reads a conf, and sets and clears an origin in the JVM: about six
extra py4j round trips per call, for a call site that only error
messages show. Plans and results do not change.

Caveat: pyspark reads the setting once per process, from the active
session at the first wrapped call
(``pyspark.errors.utils.is_debugging_enabled``), and keeps it for the
life of the process; a process whose first session leaves capture on
keeps it on in every later session.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# settings every session of the package needs, whoever builds it
# (``get_spark``, or ``tools/run_pipeline.py`` under spark-submit, which
# keeps the submitted master):
SESSION_CONF = {
    # pin the session timezone: date_trunc/date_format gates must not
    # depend on the host TZ (DuckDB oracles compute in UTC)
    'spark.sql.session.timeZone': 'UTC',
    # int64 micros instead of legacy INT96 for TIMESTAMP columns: INT96
    # carries no parquet min/max stats, which would blind the snapshot
    # store's time-range file skipping (and every other engine's
    # row-group pruning) on ltz timestamp columns
    'spark.sql.parquet.outputTimestampType': 'TIMESTAMP_MICROS',
    # no call-site capture on driver-side Column calls (module docstring)
    'spark.python.sql.dataFrameDebugging.enabled': 'false',
}


def get_spark(
    app_name: str = 'ocrodjvu-spark',
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get('SPARK_GRAFT_CPUS', '0') or 0) or None
    master = f'local[{cpus}]' if cpus else 'local[*]'
    if shuffle_partitions is None:
        shuffle_partitions = cpus * 2 if cpus else 32
    builder = (
        SparkSession.builder
        .appName(app_name)
        .master(master)
        .config(map=SESSION_CONF)
        # AQE: runtime coalescing + skew-join splitting; at cluster scale
        # this is what absorbs conv_id skew after the salted repartition.
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        # Arrow batching for the Arrow-UDF extraction kernel. 512 rows
        # per batch beats 2048 by ~20-25% on the extraction hot path
        # (measured at sf0.1: flagship 3.0->2.5s, word_spans 3.9->3.1s):
        # more batches per task means the JVM->Python->JVM stages
        # pipeline instead of serializing, and span-struct Arrow buffers
        # stay cache-sized. 128 is too small (per-batch overhead wins).
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '512')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        # keep scans wide enough to parallelize but small enough to fit
        # executor memory at high SF (tune per deployment)
        .config('spark.sql.files.maxPartitionBytes', '134217728')
        .config('spark.ui.enabled', 'false')
        # Python workers fork from ``worker_daemon``: pyspark's daemon
        # minus the per-task re-read of pyspark.zip (see that module)
        .config('spark.python.daemon.module',
                'ocrodjvu_spark.worker_daemon')
        .config('spark.driver.memory',
                os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g'))
    )
    # the Python workers import this package from where the driver did,
    # whatever the working directory (the daemon is one of its modules)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in site.getsitepackages():
        builder = builder.config('spark.executorEnv.PYTHONPATH', root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
