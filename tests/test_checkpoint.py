"""Resumable extraction: sidecar lineage, idempotent bucket overwrite."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocrodjvu_spark.plans import checkpoint
from ocrodjvu_spark.plans.snapstore import SnapshotTable
from ocrodjvu_spark.sources import transcripts as T

SF_DIR = '/root/testdata/sf0.001'
N_BUCKETS = 8


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / 'out'), str(tmp_path / 'sidecar')


def test_resume_after_partial_run(spark, paths):
    out, side = paths
    df = T.synthesize_transcripts(spark, SF_DIR)
    total = df.count()

    # first run: only 3 buckets (simulates a crash partway)
    first = checkpoint.run_extraction(
        spark, df, out, side, n_buckets=N_BUCKETS, max_buckets=3)
    assert len(first) == 3
    assert checkpoint.completed_buckets(spark, side) == sorted(first)

    # resume: processes exactly the remaining buckets
    second = checkpoint.run_extraction(
        spark, df, out, side, n_buckets=N_BUCKETS)
    assert sorted(first + second) == list(range(N_BUCKETS))
    # the sidecar grows by one file per run, not one per partition
    assert len(SnapshotTable(side).snapshot()['files']) == 2

    # third run: nothing pending -> no-op
    assert checkpoint.run_extraction(
        spark, df, out, side, n_buckets=N_BUCKETS) == []

    # output is complete and keyed correctly
    result = SnapshotTable(out).read(spark)
    assert result.count() == total
    assert result.select('conv_id', 'turn_idx').distinct().count() == total

    # sidecar metrics add up
    metrics = SnapshotTable(side).read(spark)
    agg = metrics.agg(F.sum('n_turns'), F.sum('n_errors')).first()
    assert agg[0] == total
    assert agg[1] == 0


def test_table_formats_other_than_snapshot_raise(paths):
    out, side = paths
    with pytest.raises(ValueError, match='parquet'):
        checkpoint.completed_buckets(None, side, 'parquet')
    with pytest.raises(ValueError, match='parquet'):
        checkpoint.run_extraction(None, None, out, side,
                                  table_format='parquet')


def test_plain_parquet_sidecar_raises(paths):
    # a sidecar left by the deleted parquet format is refused, not
    # silently read as an empty snapshot table
    out, side = paths
    os.makedirs(side)
    pq.write_table(pa.table({'bucket': [0]}), os.path.join(side, 'p.parquet'))
    with pytest.raises(ValueError, match='plain parquet'):
        checkpoint.completed_buckets(None, side)
    with pytest.raises(ValueError, match='plain parquet'):
        checkpoint.run_extraction(None, None, out, side)
    assert not os.path.exists(os.path.join(side, 'manifests'))
    assert not os.path.exists(out)


def test_rerun_bucket_is_idempotent(spark, paths):
    out, side = paths
    df = T.synthesize_transcripts(spark, SF_DIR)
    checkpoint.run_extraction(spark, df, out, side, n_buckets=4)
    before = SnapshotTable(out).read(spark).count()

    # wipe the sidecar -> everything looks pending -> full reprocess;
    # replacing the buckets' partitions must not duplicate rows
    import shutil
    shutil.rmtree(side)
    checkpoint.run_extraction(spark, df, out, side, n_buckets=4)
    after = SnapshotTable(out).read(spark).count()
    assert before == after


def test_racing_resume_runs_stay_idempotent(spark, tmp_path):
    # worst-case race: a second worker starts from a stale snapshot in
    # which NO lineage exists (its own empty sidecar), so it reprocesses
    # every bucket into the same output table the first worker already
    # filled. Replacing whole partitions keeps the table exactly-once.
    out = str(tmp_path / 'out')
    side_a = str(tmp_path / 'sideA')
    side_b = str(tmp_path / 'sideB')
    df = T.synthesize_transcripts(spark, SF_DIR)
    total = df.count()
    checkpoint.run_extraction(spark, df, out, side_a, n_buckets=4)
    checkpoint.run_extraction(spark, df, out, side_b, n_buckets=4)
    res = SnapshotTable(out).read(spark)
    assert res.count() == total
    assert res.select('conv_id', 'turn_idx').distinct().count() == total


def test_raw_payload_sidecar(spark, tmp_path):
    # S9: raw per-turn payload persisted with template-expanded names,
    # expansion compiled to a Catalyst expression (no per-row Python)
    from ocrodjvu_spark.plans.checkpoint import save_raw_payloads
    df = spark.createDataFrame(
        [('conv-1', 1, 'raw one', 0), ('conv-1', 2, 'raw two', 0),
         ('conv-2', 1, 'raw three', 1)],
        'conv_id string, turn_idx int, text string, bucket int')
    out = str(tmp_path / 'raw')
    save_raw_payloads(df, out, template='{id}/p{page+1}')
    rows = {(r.conv_id, r.turn_idx): (r.raw_name, r.payload)
            for r in SnapshotTable(out).read(spark).collect()}
    assert rows[('conv-1', 1)] == ('conv-1/p2', 'raw one')
    assert rows[('conv-1', 2)] == ('conv-1/p3', 'raw two')
    assert rows[('conv-2', 1)] == ('conv-2/p2', 'raw three')


def test_template_path_expr_matches_kernel(spark):
    # the Catalyst compilation and the pure-Python grammar agree
    from pyspark.sql import functions as F
    from tests.oracles import expand_template
    from ocrodjvu_spark.plans.checkpoint import template_path_expr
    df = spark.createDataFrame(
        [('docA', 4), ('docB', 9)], 'conv_id string, turn_idx int')
    tpl = 'x/{id}_{page-1}_{page+3}'
    got = {r.conv_id: r.name for r in df.select(
        'conv_id', template_path_expr(tpl).alias('name')).collect()}
    for cid, tix in [('docA', 4), ('docB', 9)]:
        assert got[cid] == expand_template(tpl, tix, cid)


def test_raw_sidecar_bucketed_resume(spark, tmp_path):
    # the raw payload sidecar written through run_extraction only touches
    # pending buckets: a resume neither rescans nor clobbers completed
    # buckets' raw files
    out = str(tmp_path / 'out')
    side = str(tmp_path / 'side')
    raw = str(tmp_path / 'raw')
    df = T.synthesize_transcripts(spark, SF_DIR)
    total = df.count()

    first = checkpoint.run_extraction(
        spark, df, out, side, n_buckets=N_BUCKETS, max_buckets=3,
        raw_output_path=raw)
    raw1 = SnapshotTable(raw).read(spark)
    assert sorted(r.bucket for r in
                  raw1.select('bucket').distinct().collect()) == \
        sorted(first)
    n_first = raw1.count()

    checkpoint.run_extraction(
        spark, df, out, side, n_buckets=N_BUCKETS, raw_output_path=raw)
    raw2 = SnapshotTable(raw).read(spark)
    assert raw2.count() == total
    # completed buckets' rows unchanged (not rewritten to something else)
    assert raw2.where(F.col('bucket').isin(first)).count() == n_first
    sample = raw2.select('conv_id', 'turn_idx', 'raw_name').first()
    assert sample.raw_name == \
        f'{sample.conv_id}/p{sample.turn_idx + 1}'


def test_run_extraction_with_packed_spans_metrics(spark, tmp_path):
    # regression (review finding): the sidecar metrics aggregation
    # hardcoded F.col('spans') and crashed AFTER the data write when
    # emit_spans='packed' flowed through extract_kwargs — n_spans must
    # come from either emission shape
    out = str(tmp_path / 'out')
    side = str(tmp_path / 'side')
    tr = T.synthesize_transcripts(spark, '/root/testdata/sf0.001')
    done = checkpoint.run_extraction(
        spark, tr, out, side, n_buckets=4,
        emit_spans='packed', emit_sexpr=False)
    assert len(done) == 4
    side_df = SnapshotTable(side).read(spark)
    total_spans = side_df.agg(F.sum('n_spans')).first()[0]
    # the synthetic corpus has one span per word; must be non-zero and
    # equal the decoded span count
    from ocrodjvu_spark import pipeline
    decoded = pipeline.word_spans(SnapshotTable(out).read(spark)).count()
    assert total_spans == decoded > 0


# -- run metrics observed on the write --------------------------------------

# the sidecar layout every existing sidecar was written in
SIDECAR_DTYPES = [('bucket', 'int'), ('n_turns', 'bigint'),
                  ('n_errors', 'bigint'), ('n_spans', 'bigint'),
                  ('n_chars', 'bigint'), ('run_ts', 'timestamp')]


def _rows_by_bucket(df):
    return {r[0]: tuple(r[1:]) for r in df.collect()}


def _expected_sidecar(spark, out, buckets):
    """``run_metrics`` grouped by bucket over the written output, with a
    zero row for each bucket that holds no rows."""
    from ocrodjvu_spark import pipeline
    written = SnapshotTable(out).read(spark)
    got = {} if written is None else _rows_by_bucket(
        written.groupBy(checkpoint.BUCKET_COL)
        .agg(*pipeline.run_metrics(written)))
    return {b: got.get(b, (0, 0, 0, 0)) for b in buckets}


class _PlanNodes:
    """(name, description) of the plan nodes of the SQL executions a
    session starts after the last mark, read from Spark's SQL status
    store."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._ids()

    def _ids(self):
        execs = self.store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    def since_mark(self):
        # the status store is fed by the listener bus; drain it first
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        found = []
        for eid in sorted(self._ids() - self.seen):
            nodes = self.store.planGraph(eid).allNodes()
            found.extend((nodes.apply(i).name(), nodes.apply(i).desc())
                         for i in range(nodes.size()))
        self.seen = self._ids()
        return found


@pytest.mark.parametrize('table_format', ['snapshot'])
def test_sidecar_metrics_observed_without_rescan(spark, tmp_path,
                                                 table_format):
    # the sidecar's per-bucket metrics come from the write itself: no
    # execution of run_extraction reads the output table back, yet the
    # sidecar equals run_metrics grouped over the written output —
    # including zero rows for empty pending buckets and for a run whose
    # pending buckets are all empty. The snapshot store appends the
    # sidecar from the driver: no execution writes it
    tr = T.synthesize_transcripts(spark, SF_DIR)
    few = tr.where(F.col('conv_id').isin('conv-1', 'conv-2', 'conv-3'))
    runs = [('full', tr, N_BUCKETS, 3), ('sparse', few, 16, None),
            ('empty', tr.limit(0), 4, None)]
    key = 'spark.sql.maxMetadataStringLength'
    old = spark.conf.get(key)
    spark.conf.set(key, '100000')  # untruncated scan locations
    try:
        for name, df, n_buckets, max_buckets in runs:
            out = str(tmp_path / name / 'out')
            side = str(tmp_path / name / 'side')
            plan_nodes = _PlanNodes(spark)
            done = checkpoint.run_extraction(
                spark, df, out, side, n_buckets=n_buckets,
                max_buckets=max_buckets, table_format=table_format,
                emit_spans='packed')
            if max_buckets:
                done += checkpoint.run_extraction(
                    spark, df, out, side, n_buckets=n_buckets,
                    table_format=table_format, emit_spans='packed')
            nodes = plan_nodes.since_mark()
            descs = [d for n, d in nodes if n.startswith('Scan')]
            if name != 'empty':  # the reader sees the input scan
                assert any('sf0.001' in d for d in descs), name
            assert not [d for d in descs if out in d], name
            side_writes = [d for n, d in nodes
                           if not n.startswith('Scan') and side in d]
            assert not side_writes, name
            assert sorted(done) == list(range(n_buckets))
            sidecar = SnapshotTable(side).read(spark)
            assert sidecar.dtypes == SIDECAR_DTYPES
            got = _rows_by_bucket(sidecar.drop('run_ts'))
            assert got == _expected_sidecar(
                spark, out, range(n_buckets)), name
            if name == 'full':
                assert sum(v[0] for v in got.values()) == tr.count()
            else:
                assert any(v == (0, 0, 0, 0) for v in got.values())
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize('table_format', ['snapshot'])
def test_resume_from_sidecar_in_existing_layout(spark, tmp_path,
                                                table_format):
    # sidecars written before the metrics were observed on the write
    # (all-nullable metric columns) still drive a resume
    out, side = str(tmp_path / 'out'), str(tmp_path / 'side')
    old = spark.createDataFrame(
        [(0, 5, 0, 0, 40), (1, 7, 1, 0, 60)],
        'bucket int, n_turns bigint, n_errors bigint, n_spans bigint, '
        'n_chars bigint').withColumn('run_ts', F.current_timestamp())
    SnapshotTable(side).append(old)
    tr = T.synthesize_transcripts(spark, SF_DIR)
    done = checkpoint.run_extraction(spark, tr, out, side, n_buckets=4,
                                     table_format=table_format)
    assert done == [2, 3]
    assert checkpoint.completed_buckets(
        spark, side, table_format) == [0, 1, 2, 3]
    sidecar = SnapshotTable(side).read(spark)
    assert sidecar.dtypes == SIDECAR_DTYPES
    got = _rows_by_bucket(sidecar.drop('run_ts'))
    assert got[0] == (5, 0, 0, 40) and got[1] == (7, 1, 0, 60)
    assert {b: got[b] for b in done} == _expected_sidecar(spark, out, done)


_RETRY_SCRIPT = r'''
import json, os, sys
from pyspark.sql import SparkSession, functions as F
from ocrodjvu_spark import pipeline
from ocrodjvu_spark.plans import checkpoint
from ocrodjvu_spark.plans.snapstore import SnapshotTable
from ocrodjvu_spark.sources import transcripts as T

root, sf_dir = sys.argv[1], sys.argv[2]
# local[2,2]: two task slots, and every task may fail once
spark = (SparkSession.builder.master('local[2,2]')
         .config('spark.sql.shuffle.partitions', '4')
         .config('spark.ui.enabled', 'false').getOrCreate())
spark.sparkContext.setLogLevel('FATAL')
write_output = checkpoint._write_output


def fail_first_attempt(shaped, output_path):
    """Hand the write a frame that keeps every row but fails attempt 0
    of the first non-empty partition to run it."""
    marker = output_path + '.failed'

    def keep(bucket):
        from pyspark import TaskContext
        if TaskContext.get().attemptNumber() == 0:
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
            except FileExistsError:
                return True
            raise RuntimeError('planted first-attempt failure')
        return True

    write_output(shaped.where(F.udf(keep, 'boolean')('bucket')),
                 output_path)


checkpoint._write_output = fail_first_attempt
tr = T.synthesize_transcripts(spark, sf_dir)
out, side = os.path.join(root, 'out'), os.path.join(root, 'side')
done = checkpoint.run_extraction(spark, tr, out, side, n_buckets=4,
                                 emit_spans='packed')
written = SnapshotTable(out).read(spark)
sidecar = SnapshotTable(side).read(spark)
print(json.dumps({
    'done': done,
    'failed': os.path.exists(out + '.failed'),
    'sidecar': sorted(list(r) for r in sidecar.drop('run_ts').collect()),
    'expected': sorted(list(r) for r in written.groupBy('bucket').agg(
        *pipeline.run_metrics(written)).collect()),
    'turns': tr.count(),
}))
'''


def test_observed_metrics_count_retried_rows_once(tmp_path):
    # the sidecar is lineage: a write task that fails once and is retried
    # must leave each row counted once in the observed metrics
    import json
    import os
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, '-c', _RETRY_SCRIPT, str(tmp_path), SF_DIR],
        capture_output=True, text=True, cwd=repo,
        env=dict(os.environ, PYTHONPATH=repo), timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got['failed']  # the planted failure fired
    assert got['done'] == [0, 1, 2, 3]
    assert got['sidecar'] == got['expected']
    assert sum(row[1] for row in got['sidecar']) == got['turns']


_PROBE_SCRIPT = r'''
import os, sys
sys.path.insert(0, sys.argv[3])
from ocrodjvu_spark.plans import checkpoint
from ocrodjvu_spark.session import get_spark
from ocrodjvu_spark.sources import transcripts as T

root, sf_dir = sys.argv[1], sys.argv[2]
spark = get_spark('probe', cpus=2, shuffle_partitions=2)
tr = T.synthesize_transcripts(spark, sf_dir)
for name in ('first', 'second'):
    done = checkpoint.run_extraction(
        spark, tr, os.path.join(root, name, 'out'),
        os.path.join(root, name, 'side'), n_buckets=2)
    assert done == [0, 1], done
'''


def test_runs_probe_missing_sidecar_quietly_from_any_cwd(tmp_path):
    # once a session has used an Observation (the first run does), a
    # query that fails analysis makes Spark's listener bus log an ERROR
    # with a stack trace: the second run's probe of its missing sidecar
    # must not fail analysis. The session starts in a directory without
    # the package on PYTHONPATH, and its Python workers (the daemon and
    # the extraction UDF) still import the package
    import os
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != 'PYTHONPATH'}
    env['SPARK_GRAFT_DRIVER_MEM'] = '1g'
    r = subprocess.run(
        [sys.executable, '-c', _PROBE_SCRIPT, str(tmp_path / 'runs'),
         SF_DIR, repo],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert 'ExecutionListenerBus' not in r.stderr, r.stderr[-3000:]
