"""CLI parity: tools/hocr2djvused.py and tools/djvused2hocr.py against
the reference corpus — the same invocations a reference user runs."""

import io
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))

import djvused2hocr  # noqa: E402
import hocr2djvused  # noqa: E402

from ocrodjvu_spark.kernel import sexpr
from tests.corpus import (
    DJVU2HOCR_DIR, HOCR2DJVUSED_DIR, NESTING_DJVUSED, ONE_PAGE_HOCR,
    REFERENCE_PRESENT, golden_cases, needs_reference_corpus)

# a representative golden per dialect family, each driven by ITS OWN
# header's CLI args (the same line the reference harness feeds its
# command); compared value-level like tests/test_kernel_golden.py.
# With the reference corpus present, the full 68-case sweep runs at
# kernel level and these pin the CLI wiring: arg mapping, block format,
# multi-page numbering. Without it, these cases and the sweep are
# skipped; multi-file numbering and the djvused -> hOCR -> djvused
# round trip below still run on the in-repo inputs of tests/corpus.py.
_CLI_CASES = [
    'alice_tesseract3.00.test1',
    'alice_cuneiform0.8.test2',
    'alice_tesseract3.00.test3',   # uax29 variant
    'alice_tesseract3.00+charboxes.test4',  # makebox sidecar path
    'multipage_ocropus0.3.1.test1',         # multi-page numbering
]


def _load_case(test_name):
    path = os.path.join(HOCR2DJVUSED_DIR, test_name)
    lines = open(path, encoding='UTF-8').read().split('\n')
    header = lines[0]
    assert header.startswith('#')
    args = header[1:].split()
    html = os.path.join(
        HOCR2DJVUSED_DIR, test_name.rsplit('.', 1)[0] + '.html')
    return args, html, '\n'.join(lines[1:])


def _parse_blocks(script):
    pages, cur, in_sexpr = [], [], False
    for line in script.split('\n'):
        if line.startswith('set-txt'):
            in_sexpr, cur = True, []
        elif line == '.' and in_sexpr:
            pages.append(sexpr.parse('\n'.join(cur)))
            in_sexpr = False
        elif in_sexpr:
            cur.append(line)
    return pages


@needs_reference_corpus
@pytest.mark.parametrize('test_name', _CLI_CASES, ids=_CLI_CASES)
def test_hocr2djvused_cli_matches_golden(test_name):
    args, html, golden = _load_case(test_name)
    out = io.StringIO()
    rc = hocr2djvused.main(args + [html], out=out)
    assert rc == 0
    got = _parse_blocks(out.getvalue())
    want = _parse_blocks(golden)
    assert got and got == want


def test_hocr2djvused_multifile_numbers_pages_continuously(tmp_path):
    paths = [str(tmp_path / name) for name in ('a.html', 'b.html')]
    for path in paths:
        with open(path, 'wb') as f:
            f.write(ONE_PAGE_HOCR)
    runs = [paths]
    if REFERENCE_PRESENT:
        path = os.path.join(HOCR2DJVUSED_DIR, 'alice_tesseract3.00.html')
        runs.append([path, path])
    for files in runs:
        out = io.StringIO()
        hocr2djvused.main(['--page-size=2488x3507'] + files, out=out)
        text = out.getvalue()
        assert 'select 1\n' in text and 'select 2\n' in text


def test_djvused2hocr_roundtrips_through_hocr2djvused(tmp_path):
    in_repo = tmp_path / 'nesting.djvused'
    in_repo.write_text(NESTING_DJVUSED, encoding='UTF-8')
    sources = [str(in_repo)]
    if REFERENCE_PRESENT:
        sources.append(os.path.join(DJVU2HOCR_DIR, 'nesting.djvused'))
    for n, src in enumerate(sources):
        html = io.StringIO()
        djvused2hocr.main([src], out=html)
        html_path = tmp_path / f'roundtrip{n}.html'
        html_path.write_text(html.getvalue())
        script = io.StringIO()
        hocr2djvused.main(['--page-size=100x100', str(html_path)],
                          out=script)
        got = _parse_blocks(script.getvalue())
        want = _parse_blocks(open(src, encoding='UTF-8').read())
        assert got == want


@needs_reference_corpus
def test_golden_cases_importable():
    # keep the shared corpus loader import exercised from this module
    assert len(list(golden_cases())) == 68


def test_snapshot_admin_metadata_and_changelog(spark, tmp_path, capsys):
    from pyspark.sql import Row, functions as F
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    sys.path.insert(0, '/root/repo/tools')
    import snapshot_admin

    root = str(tmp_path / 't')
    t = SnapshotTable(root)
    t.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 2) for i in range(8)]),
        partition_col='bucket')
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=5)]),
                  ['doc_id'])

    assert snapshot_admin.main([root, 'log']) == 0
    out = capsys.readouterr().out
    assert 'append' in out and 'delete-keys' in out

    assert snapshot_admin.main([root, 'manifests']) == 0
    out = capsys.readouterr().out
    assert 'manifest files' in out and 'partition=' in out
    assert '[pending delete]' in out and "keys=['doc_id']" in out

    assert snapshot_admin.main([root, 'changelog', '--from', '0']) == 0
    out = capsys.readouterr().out
    assert 'inserts: 8' in out and 'deletes: 1' in out

    t.delete_positions(spark, F.col('doc_id') == 6)
    assert snapshot_admin.main([root, 'changelog', '--from', '2']) == 0
    out = capsys.readouterr().out
    assert 'deletes: 1' in out

    # a request the table rejects ends in one error line, not a trace
    assert snapshot_admin.main([root, 'compact']) == 1
    err = capsys.readouterr().err
    assert 'error: table is partitioned' in err
    assert 'Traceback' not in err
    assert snapshot_admin.main(
        [root, 'compact', '--partition-col', 'bucket']) == 0
    capsys.readouterr()
    assert snapshot_admin.main([root, 'changelog', '--from', '0']) == 1
    err = capsys.readouterr().err
    assert "error: read_changelog: snapshot v4 is a 'compact'" in err
    assert 'Traceback' not in err

    # not-a-table guard
    assert snapshot_admin.main([str(tmp_path), 'log']) == 1


def test_snapshot_admin_zorder_rejects_string_column(spark, tmp_path,
                                                     capsys):
    # the extraction output table (the writer run_pipeline drives):
    # conv_id is a string, turn_idx an int; a z-order over the string
    # column ends in one error line naming it, not a Spark traceback
    import snapshot_admin
    from ocrodjvu_spark.plans import checkpoint

    turns = spark.createDataFrame(
        [(f'conv-{i % 5}', i, ONE_PAGE_HOCR.decode('UTF-8'))
         for i in range(20)], 'conv_id string, turn_idx int, text string')
    root = str(tmp_path / 'out')
    checkpoint.run_extraction(spark, turns, root, str(tmp_path / 'side'),
                              n_buckets=4, table_format='snapshot')
    assert snapshot_admin.main(
        [root, 'compact', '--partition-col', 'bucket',
         '--zorder-by', 'conv_id,turn_idx']) == 1
    err = capsys.readouterr().err
    assert [ln for ln in err.splitlines() if ln.startswith('error:')] == [
        "error: zorder_by: column 'conv_id' is string; z-order needs "
        'numeric, date or timestamp columns']
    assert 'Traceback' not in err
    assert snapshot_admin.main(
        [root, 'compact', '--partition-col', 'bucket',
         '--zorder-by', 'turn_idx']) == 0
    assert 'compacted -> v' in capsys.readouterr().out
