"""Smoke protection for the driver-facing tools.

A broken import or signature in bench.py / run_pipeline.py would zero a
round's benchmark record, so pin them here (no timed work).
"""

import glob
import importlib
import importlib.util
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_imports_and_helpers(tmp_path, spark):
    sys.path.insert(0, REPO_ROOT)
    bench = importlib.import_module('bench')
    path = bench.materialize_transcripts(
        spark, '/root/testdata/sf0.001', str(tmp_path))
    assert spark.read.parquet(path).count() > 0
    rep = bench.replicate_transcripts(spark, path, 2)
    assert spark.read.parquet(rep).count() == 2 * spark.read.parquet(
        path).count()


def test_run_pipeline_arg_parsing():
    sys.path.insert(0, os.path.join(REPO_ROOT, 'tools'))
    rp = importlib.import_module('run_pipeline')
    with pytest.raises(SystemExit):
        rp.main(['--help'])
    with pytest.raises(SystemExit):
        rp.main([])  # missing required args


SCRIPTS = sorted(
    os.path.relpath(p, REPO_ROOT)
    for p in glob.glob(os.path.join(REPO_ROOT, 'tools', '*.py'))
) + ['bench.py', '__spark_entry__.py']


@pytest.mark.parametrize('script', SCRIPTS)
def test_script_imports(script):
    # every script must import against the current package, so a
    # deleted name one of them still uses fails here, not in a sweep
    name = '_import_smoke_' + os.path.splitext(os.path.basename(script))[0]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO_ROOT, script))
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_check_correctness_helpers():
    sys.path.insert(0, os.path.join(REPO_ROOT, 'tools'))
    cc = importlib.import_module('check_correctness')
    assert cc.normalize_cell(float('nan')) == 'nan'
    assert cc.normalize_cell(0.1234567891) == '0.123456789'
    assert cc.normalize_cell('x') == 'x'


def test_run_pipeline_jsonl_input_end_to_end(spark, tmp_path):
    # JSONL ingestion through the production path: corrupt lines are
    # counted and dropped, clean rows extract identically to parquet
    import json as _json
    import subprocess
    from ocrodjvu_spark.sources import transcripts as T, jsonl as J
    inp = str(tmp_path / 'in')
    tr = T.synthesize_transcripts(spark, '/root/testdata/sf0.001')
    n = tr.count()
    J.write_jsonl(tr, inp, shards=2)
    with open(os.path.join(inp, 'zz-corrupt.json'), 'w') as fh:
        fh.write('{"conv_id": broken\n')
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, 'tools',
                                      'run_pipeline.py'),
         '--input', inp, '--input-format', 'jsonl',
         '--output', str(tmp_path / 'out'),
         '--sidecar', str(tmp_path / 'side'),
         '--buckets', '4'],
        capture_output=True, text=True, env=env, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    summary = _json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith('{')][-1])
    assert summary['corrupt_input_lines'] == 1
    assert summary['total_turns'] == n
    # the CLI's session writes int64-micros timestamps, so every output
    # file records ts stats for time-range file skipping
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    files = SnapshotTable(str(tmp_path / 'out')).snapshot()['files']
    assert files and all('ts' in f['stats'] for f in files)


_CAPTURE_SCRIPT = r'''
import json, sys
sys.path.insert(0, sys.argv[1])
import run_pipeline
from pyspark.errors.utils import is_debugging_enabled
from ocrodjvu_spark.plans import checkpoint

seen = []
real = checkpoint.run_extraction


def spy(spark, *args, **kwargs):
    seen.append(is_debugging_enabled())
    return real(spark, *args, **kwargs)


checkpoint.run_extraction = spy
run_pipeline.main(sys.argv[2:])
print(json.dumps(seen))
'''


def test_sessions_run_without_call_site_capture(spark, tmp_path):
    # pyspark's per-Column call-site capture costs py4j round trips on
    # every plan-building call: get_spark sessions and the CLI's session
    # (a fresh process, so pyspark's process-wide cache is unset) run
    # with it off
    import datetime
    import json as _json
    import subprocess
    from pyspark.errors.utils import is_debugging_enabled
    assert spark.conf.get(
        'spark.python.sql.dataFrameDebugging.enabled') == 'false'
    assert is_debugging_enabled() is False
    inp = str(tmp_path / 'in')
    page = ('<html><head><meta name="ocr-capabilities" content="x"/>'
            '</head><body><div class="ocr_page" title="bbox 0 0 100 100">'
            '<span class="ocr_line" title="bbox 1 1 9 9">hi</span>'
            '</div></body></html>')
    spark.createDataFrame(
        [(f'c{i}', 1, 'user', page, None, datetime.datetime(2025, 1, 1))
         for i in range(4)],
        'conv_id string, turn_idx int, role string, text string, '
        'tool string, ts timestamp').write.parquet(inp)
    r = subprocess.run(
        [sys.executable, '-c', _CAPTURE_SCRIPT,
         os.path.join(REPO_ROOT, 'tools'), '--input', inp,
         '--output', str(tmp_path / 'out'),
         '--sidecar', str(tmp_path / 'side'), '--buckets', '2'],
        capture_output=True, text=True, cwd=REPO_ROOT,
        env=dict(os.environ, PYTHONPATH=REPO_ROOT), timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    assert _json.loads(r.stdout.strip().splitlines()[-1]) == [False]


def test_run_pipeline_snapshot_input_end_to_end(spark, tmp_path):
    # snapshot-table INPUT through the production path: the 10^12-turn
    # source is itself an Iceberg-style table — extraction reads a
    # pinned published ref with merge-on-read deletes applied
    import json as _json
    import subprocess
    from pyspark.sql import functions as F
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    from ocrodjvu_spark.sources import transcripts as T
    tr = T.synthesize_transcripts(spark, '/root/testdata/sf0.001')
    src = SnapshotTable(str(tmp_path / 'src'))
    src.append(tr)
    # a takedown lands as a merge-on-read delete; publish the result
    src.delete_positions(spark, (F.col('conv_id') == 'conv-0')
                         & (F.col('turn_idx') == 1))
    src.set_ref('published', src.current_version())
    src.append(tr.limit(5))  # unaudited commit AFTER the publish
    want = tr.count() - 1
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, 'tools',
                                      'run_pipeline.py'),
         '--input', str(tmp_path / 'src'),
         '--input-format', 'snapshot', '--input-ref', 'published',
         '--output', str(tmp_path / 'out'),
         '--sidecar', str(tmp_path / 'side'),
         '--buckets', '4'],
        capture_output=True, text=True, env=env, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    summary = _json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith('{')][-1])
    assert summary['total_turns'] == want
