"""Snapshot-manifest table format: commit protocol + isolation tests.

A reader pinned to a snapshot must keep working across a concurrent
overwrite (real-Iceberg behavior, which a parquet directory committed by
dynamic partition overwrite lacks), and concurrent commits must rebase
instead of clobbering each other.
"""

import os
import threading

import pytest
from pyspark.sql import Row, functions as F

from ocrodjvu_spark.plans import checkpoint
from ocrodjvu_spark.plans.snapstore import CommitConflict, SnapshotTable
from ocrodjvu_spark.sources import transcripts as T

SF_DIR = '/root/testdata/sf0.001'


def _partitions(t):
    """The partition values HEAD's files carry."""
    return {f.get('partition') for f in t.snapshot()['files']}


def _docs(spark, ver, n=20, bucket_mod=4):
    return spark.createDataFrame(
        [Row(doc_id=i, bucket=i % bucket_mod, ver=ver) for i in range(n)])


def test_append_and_read_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    assert t.current_version() == 0
    assert t.read(spark) is None
    t.append(_docs(spark, 'a'))
    t.append(_docs(spark, 'b'))
    assert t.current_version() == 2
    got = t.read(spark)
    assert got.count() == 40
    assert {r.ver for r in got.select('ver').distinct().collect()} == \
        {'a', 'b'}
    # manifest row counts match the data
    assert sum(f['rows'] for f in t.snapshot()['files']) == 40


def test_overwrite_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'))
    t.overwrite(_docs(spark, 'v2', n=7))
    assert t.read(spark).count() == 7
    # time travel: version 1 is still fully readable after the overwrite
    old = t.read(spark, version=1)
    assert old.count() == 20
    assert {r.ver for r in old.select('ver').distinct().collect()} == {'v1'}


def test_replace_partitions_swaps_only_target(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.replace_partitions(_docs(spark, 'v1'), 'bucket')
    target = _docs(spark, 'v2').where(F.col('bucket') == 2)
    t.replace_partitions(target, 'bucket')
    per = {r.bucket: set(r.ws) for r in
           t.read(spark).groupBy('bucket')
            .agg(F.collect_set('ver').alias('ws')).collect()}
    assert per[2] == {'v2'}
    for b in (0, 1, 3):
        assert per[b] == {'v1'}


def test_pinned_reader_survives_replace(spark, tmp_path):
    # THE gap vs a plain parquet directory: the pinned reader must SUCCEED
    # with the old snapshot (not FileNotFoundException, not a mix),
    # because commits add files without deleting old ones.
    t = SnapshotTable(str(tmp_path / 't'))
    t.replace_partitions(_docs(spark, 'v1'), 'bucket')
    pinned = t.read(spark)  # file list resolved at version 1
    t.replace_partitions(
        _docs(spark, 'v2').where(F.col('bucket') == 1), 'bucket')
    t.overwrite(_docs(spark, 'v3', n=4))
    vers = {r.ver for r in pinned.select('ver').distinct().collect()}
    assert vers == {'v1'}
    assert pinned.count() == 20
    # and a fresh reader sees HEAD
    assert {r.ver for r in
            t.read(spark).select('ver').distinct().collect()} == {'v3'}


def test_partition_pruning_at_manifest(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.replace_partitions(_docs(spark, 'v1'), 'bucket')
    all_files = t.snapshot()['files']
    pruned = t.read(spark, partition_values=[2])
    # driver-side pruning: only bucket-2 files are handed to Spark
    n_b2_files = sum(1 for f in all_files if f['partition'] == '2')
    assert 0 < n_b2_files < len(all_files)
    assert pruned.count() == 5
    assert {r.bucket for r in pruned.select('bucket').collect()} == {2}
    assert sorted(_partitions(t)) == ['0', '1', '2', '3']


def test_commit_race_rebases_append(spark, tmp_path):
    # Deterministic race: writer A observes HEAD=v1, but a competing
    # commit lands v2 before A claims — A must rebase onto v2 and land
    # as v3 with BOTH datasets present.
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'base', n=4))
    competitor = _docs(spark, 'competitor', n=6)
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            other = SnapshotTable(t.root)
            other.append(competitor)
            # our first claim must now collide and trigger a rebase
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    t.append(_docs(spark, 'mine', n=8))
    assert t.current_version() == 3
    got = t.read(spark)
    assert got.count() == 4 + 6 + 8
    assert {r.ver for r in got.select('ver').distinct().collect()} == \
        {'base', 'competitor', 'mine'}


def test_commit_race_rebases_disjoint_partition_swaps(spark, tmp_path):
    # A replaces bucket 0 while B replaces bucket 1: both swaps land.
    t = SnapshotTable(str(tmp_path / 't'))
    t.replace_partitions(_docs(spark, 'v1'), 'bucket')
    b_df = _docs(spark, 'writerB').where(F.col('bucket') == 1)
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            SnapshotTable(t.root).replace_partitions(b_df, 'bucket')
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    t.replace_partitions(
        _docs(spark, 'writerA').where(F.col('bucket') == 0), 'bucket')
    per = {r.bucket: set(r.ws) for r in
           t.read(spark).groupBy('bucket')
            .agg(F.collect_set('ver').alias('ws')).collect()}
    assert per[0] == {'writerA'}
    assert per[1] == {'writerB'}
    assert per[2] == per[3] == {'v1'}


def test_concurrent_threaded_appends_all_land(spark, tmp_path):
    # Probabilistic companion to the deterministic race tests: four
    # threads appending concurrently through independent table handles;
    # optimistic retry must land all four commits.
    t = SnapshotTable(str(tmp_path / 't'))
    frames = {v: _docs(spark, v, n=5) for v in 'abcd'}
    errors = []

    def work(ver):
        try:
            SnapshotTable(t.root).append(frames[ver])
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(v,)) for v in 'abcd']
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.current_version() == 4
    got = t.read(spark)
    assert got.count() == 20
    assert {r.ver for r in got.select('ver').distinct().collect()} == \
        set('abcd')


def test_tagged_append_is_idempotent(spark, tmp_path):
    # the exactly-once seam for foreachBatch writers: replaying a
    # tagged commit is a no-op
    t = SnapshotTable(str(tmp_path / 't'))
    v1 = t.append(_docs(spark, 'a'), tag='batch-0')
    v2 = t.append(_docs(spark, 'a'), tag='batch-0')  # replay
    assert v1 == v2 == 1
    assert t.current_version() == 1
    assert t.read(spark).count() == 20
    assert t.find_tag('batch-0') == 1
    assert t.find_tag('batch-1') is None
    t.append(_docs(spark, 'b'), tag='batch-1')
    assert t.read(spark).count() == 40


def test_tagged_append_race_commits_once(spark, tmp_path):
    # twin committers with the same tag (a replayed batch racing its
    # original): the loser must observe the winner's tag on rebase and
    # commit nothing
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'base', n=4))
    twin_df = _docs(spark, 'twin', n=6)
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            SnapshotTable(t.root).append(twin_df, tag='batch-7')
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    v = t.append(twin_df, tag='batch-7')
    assert v == t.current_version() == 2
    assert t.read(spark).count() == 4 + 6  # twin landed exactly once
    # and the loser's staged files were reclaimed: every file on disk
    # is referenced by the HEAD manifest (no orphan leak)
    import os
    on_disk = {f'data/{n}' for n in os.listdir(t.data_dir)
               if n.endswith('.parquet')}
    referenced = {f['path'] for f in t.snapshot()['files']}
    assert on_disk == referenced


def test_expire_snapshots_keeps_live_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'))
    t.overwrite(_docs(spark, 'v2', n=6))
    t.append(_docs(spark, 'v3', n=4))
    deleted = t.expire_snapshots(keep_last=1)
    # v1's files are dead (overwritten); v2's files are still referenced
    # by HEAD (v3 appended on top of them) and must survive
    assert deleted  # something was collected
    assert t.versions() == [3]
    got = t.read(spark)
    assert got.count() == 10
    assert {r.ver for r in got.select('ver').distinct().collect()} == \
        {'v2', 'v3'}
    with pytest.raises(Exception):
        t.read(spark, version=1).count()


def test_compact_rewrites_files_preserving_rows(spark, tmp_path):
    # ten tiny appends -> compact -> far fewer files, identical rows;
    # the pre-compaction snapshot stays readable until expiry
    t = SnapshotTable(str(tmp_path / 't'))
    for i in range(10):
        t.append(_docs(spark, f'v{i}', n=4))
    head = t.current_version()
    n_files_before = len(t.snapshot()['files'])
    before = sorted(map(tuple, t.read(spark).collect()))
    v = t.compact(spark)
    assert v == head + 1
    n_files_after = len(t.snapshot()['files'])
    assert n_files_after < n_files_before
    assert sorted(map(tuple, t.read(spark).collect())) == before
    # time travel to the un-compacted snapshot still works
    assert t.read(spark, version=head).count() == 40
    # expiry reclaims the small files
    deleted = t.expire_snapshots(keep_last=1)
    assert len(deleted) >= n_files_before - n_files_after
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_compact_partitioned_keeps_partition_pruning(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    for v in ('a', 'b', 'c'):  # several appends -> many small files
        t.append(_docs(spark, v), partition_col='bucket')
    before = sorted(map(tuple, t.read(spark).collect()))
    n_before = len(t.snapshot()['files'])
    t.compact(spark, partition_col='bucket')
    assert len(t.snapshot()['files']) < n_before
    assert sorted(map(tuple, t.read(spark).collect())) == before
    pruned = t.read(spark, partition_values=[1])
    assert {r.bucket for r in pruned.collect()} == {1}
    # partition values survived the rewrite (manifest pruning intact)
    assert {f['partition'] for f in t.snapshot()['files']} == \
        {'0', '1', '2', '3'}


def test_compact_requires_partition_col_on_partitioned_table(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a'), partition_col='bucket')
    with pytest.raises(ValueError, match='partitioned'):
        t.compact(spark)


def test_compact_is_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    for v in 'abc':
        t.append(_docs(spark, v, n=4))
    v1 = t.compact(spark)
    # an already-compacted table is NOT rewritten again (a maintenance
    # cron must not duplicate the data every run)
    assert t.compact(spark) == v1
    assert t.current_version() == v1


def test_compact_race_keeps_concurrent_append(spark, tmp_path):
    # the lost-update regression: an append lands while compact is
    # staging — compact must retry on the new base, never commit a
    # snapshot missing the appended rows
    t = SnapshotTable(str(tmp_path / 't'))
    for v in 'ab':
        t.append(_docs(spark, v, n=4))
    late = _docs(spark, 'late', n=6)
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            SnapshotTable(t.root).append(late)
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    t.compact(spark)
    got = t.read(spark)
    assert got.count() == 4 + 4 + 6
    assert {r.ver for r in got.select('ver').distinct().collect()} == \
        {'a', 'b', 'late'}
    # no orphans: every file on disk is referenced by SOME snapshot
    # (the aborted rewrite's staged files were reclaimed; older
    # snapshots legitimately keep their files until expiry)
    import os
    on_disk = {f'data/{n}' for n in os.listdir(t.data_dir)
               if n.endswith('.parquet')}
    referenced = set()
    for v in t.versions():
        referenced |= {f['path'] for f in t.snapshot(v)['files']}
    assert on_disk == referenced


def test_delete_where_copy_on_write(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a'))
    v1 = t.current_version()
    t.delete_where(spark, F.col('doc_id') % 2 == 0)
    assert t.read(spark).count() == 10
    assert t.read(spark).where('doc_id % 2 = 0').count() == 0
    # pre-delete snapshot still holds everything until expiry
    assert t.read(spark, version=v1).count() == 20
    t.expire_snapshots(keep_last=1)
    assert t.versions() == [t.current_version()]


def test_delete_where_race_keeps_concurrent_append(spark, tmp_path):
    # concurrent append during the delete's rewrite: the delete must
    # retry on the new base, and the appended rows (which also match
    # the predicate) are deleted too — semantics apply to the snapshot
    # the commit actually lands on
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    late = _docs(spark, 'late', n=6)
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            SnapshotTable(t.root).append(late)
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    t.delete_where(spark, F.col('ver') == 'a')
    got = t.read(spark)
    assert got.count() == 6
    assert {r.ver for r in got.select('ver').distinct().collect()} == \
        {'late'}


def test_delete_where_partitioned_requires_partition_col(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a'), partition_col='bucket')
    with pytest.raises(ValueError, match='partitioned'):
        t.delete_where(spark, F.col('doc_id') == 1)
    t.delete_where(spark, F.col('doc_id') < 4, partition_col='bucket')
    assert t.read(spark).count() == 16
    assert {f['partition'] for f in t.snapshot()['files']} == \
        {'0', '1', '2', '3'}


def test_null_partition_value_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    df = spark.createDataFrame(
        [Row(doc_id=1, k='x'), Row(doc_id=2, k=None)])
    t.replace_partitions(df, 'k')
    assert t.read(spark).count() == 2
    assert set(_partitions(t)) == {'x', None}
    # replacing the null partition swaps only the null rows
    t.replace_partitions(
        spark.createDataFrame([(9, None)], 'doc_id bigint, k string'), 'k')
    rows = {(r.doc_id, r.k) for r in t.read(spark).collect()}
    assert rows == {(1, 'x'), (9, None)}


def test_exhausted_retries_raise(spark, tmp_path, monkeypatch):
    from ocrodjvu_spark.plans import snapstore
    monkeypatch.setattr(snapstore, '_COMMIT_RETRIES', 2)
    t = SnapshotTable(str(tmp_path / 't'))
    t._claim_version = lambda version, manifest: False
    with pytest.raises(CommitConflict):
        t.append(_docs(spark, 'x', n=1))


def test_run_extraction_snapshot_backend_resumes(spark, tmp_path):
    # the checkpoint driver on the snapshot store: phase 1 commits 3
    # buckets (snapshot v1+v2: data + sidecar), phase 2 resumes the
    # rest; final HEAD equals a clean full recompute, sidecar marks all
    # 8 buckets, and a reader pinned before phase 2 still reads
    # phase 1's snapshot afterwards.
    from ocrodjvu_spark import pipeline
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    out = str(tmp_path / 'out')
    side = str(tmp_path / 'side')
    tr = T.synthesize_transcripts(spark, SF_DIR)
    done1 = checkpoint.run_extraction(
        spark, tr, out, side, n_buckets=8, max_buckets=3,
        emit_spans=False, emit_sexpr=False)
    assert len(done1) == 3
    pinned = SnapshotTable(out).read(spark)
    n_phase1 = pinned.count()
    done2 = checkpoint.run_extraction(
        spark, tr, out, side, n_buckets=8,
        emit_spans=False, emit_sexpr=False)
    assert sorted(done1 + done2) == list(range(8))
    # resume is idempotent: nothing pending on a third run
    assert checkpoint.run_extraction(
        spark, tr, out, side, n_buckets=8,
        emit_spans=False, emit_sexpr=False) == []
    full = pipeline.extract_turns(
        checkpoint.with_bucket(tr, 8),
        keep_columns=(checkpoint.BUCKET_COL,),
        emit_spans=False, emit_sexpr=False).count()
    assert SnapshotTable(out).read(spark).count() == full
    # pinned reader unaffected by phase 2's commits
    assert pinned.count() == n_phase1
    sidecar = SnapshotTable(side).read(spark)
    assert sidecar.select(checkpoint.BUCKET_COL).distinct().count() == 8


def test_extraction_into_snapshot_table(spark, tmp_path):
    # End-to-end: bucketed extraction committed per-run via
    # replace_partitions carries the checkpoint idempotency contract on
    # the snapshot store (re-running a bucket swaps exactly its files).
    t = SnapshotTable(str(tmp_path / 't'))
    df = checkpoint.with_bucket(T.synthesize_transcripts(spark, SF_DIR), 4)
    from ocrodjvu_spark import pipeline
    extracted = pipeline.extract_turns(
        df, keep_columns=(checkpoint.BUCKET_COL,),
        emit_spans=False, emit_sexpr=False)
    t.replace_partitions(
        extracted.where(F.col(checkpoint.BUCKET_COL).isin([0, 1])),
        checkpoint.BUCKET_COL)
    t.replace_partitions(
        extracted.where(F.col(checkpoint.BUCKET_COL).isin([1, 2, 3])),
        checkpoint.BUCKET_COL)
    full = extracted.count()
    assert t.read(spark).count() == full
    # resumed bucket 1 was swapped, not doubled
    direct = extracted.where(F.col(checkpoint.BUCKET_COL) == 1).count()
    got = t.read(spark, partition_values=[1]).count()
    assert got == direct


# -- MERGE INTO (upsert) ----------------------------------------------------


def test_merge_into_upsert_updates_and_inserts(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    v1 = t.current_version()
    src = _docs(spark, 'b', n=16)  # 0..9 match (update), 10..15 insert
    t.merge_into(spark, src, ['doc_id'])
    got = t.read(spark)
    assert got.count() == 16
    # every surviving row carries the source version
    assert {r.ver for r in got.select('ver').distinct().collect()} == {'b'}
    # time travel: the pre-merge snapshot is untouched
    pre = t.read(spark, version=v1)
    assert pre.count() == 10
    assert {r.ver for r in pre.select('ver').distinct().collect()} == {'a'}


def test_merge_into_ambiguous_source_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=4))
    dup = _docs(spark, 'b', n=4).union(_docs(spark, 'c', n=2))
    with pytest.raises(ValueError, match='not unique'):
        t.merge_into(spark, dup, ['doc_id'])
    # table unchanged by the failed merge
    assert {r.ver for r in
            t.read(spark).select('ver').distinct().collect()} == {'a'}


def test_merge_into_missing_columns_raise(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=4))
    with pytest.raises(ValueError, match='lacks target columns'):
        t.merge_into(spark, _docs(spark, 'b', n=2).drop('ver'), ['doc_id'])


def test_merge_into_empty_table_is_insert(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.merge_into(spark, _docs(spark, 'b', n=5), ['doc_id'])
    assert t.read(spark).count() == 5
    assert t.snapshot()['operation'] == 'append'


def test_merge_into_partitioned_requires_partition_col(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8), partition_col='bucket')
    with pytest.raises(ValueError, match='partitioned'):
        t.merge_into(spark, _docs(spark, 'b', n=4), ['doc_id'])
    t.merge_into(spark, _docs(spark, 'b', n=4), ['doc_id'],
                 partition_col='bucket')
    assert t.read(spark).count() == 8
    # manifest partition values survive the rewrite (pruning intact)
    assert {f['partition'] for f in t.snapshot()['files']} == \
        {'0', '1', '2', '3'}
    assert t.read(spark, partition_values=[1]).count() == 2


def test_merge_into_race_keeps_concurrent_append(spark, tmp_path):
    # a concurrent append lands mid-merge: the merge must throw away its
    # stale rewrite and retry on the new base, so the appended rows are
    # merged too (here: late doc_ids 20..25 do not match the source and
    # are carried forward)
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    late = spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='late') for i in range(20, 26)])
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            SnapshotTable(t.root).append(late)
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    t.merge_into(spark, _docs(spark, 'b', n=8), ['doc_id'])
    got = t.read(spark)
    assert got.count() == 14
    by_ver = {r.ver: r.n for r in
              got.groupBy('ver').agg(F.count('*').alias('n')).collect()}
    assert by_ver == {'b': 8, 'late': 6}


# -- column stats + file-level data skipping --------------------------------


def _range_docs(spark, ver, n=30, files=3):
    # range-clustered staging: each staged file covers a disjoint
    # doc_id range, so manifest stats can actually prune
    return _docs(spark, ver, n=n).repartitionByRange(files, 'doc_id')


def test_manifest_records_column_stats(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    files = t.snapshot()['files']
    assert len(files) == 3
    ids = set()
    for f in files:
        st = f['stats']
        assert set(st) >= {'doc_id', 'bucket', 'ver'}
        lo, hi = st['doc_id']
        assert 0 <= lo <= hi <= 29
        ids.update(range(lo, hi + 1))
        assert st['ver'] == ['a', 'a']
    # the three files' ranges tile 0..29 (range partitioning is disjoint)
    assert ids == set(range(30))


def test_stats_filters_prune_and_read_correctly(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    files = t.snapshot()['files']
    filters = [('doc_id', '>=', 25)]
    surviving = [f for f in files if file_may_match(f, filters)]
    assert 0 < len(surviving) < len(files)  # pruning actually happened
    got = t.read(spark, stats_filters=filters).where(F.col('doc_id') >= 25)
    assert sorted(r.doc_id for r in got.collect()) == list(range(25, 30))


def test_stats_filters_in_op_and_equality(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    files = t.snapshot()['files']
    eq = [('doc_id', '=', 3)]
    assert sum(file_may_match(f, eq) for f in files) == 1
    got = t.read(spark, stats_filters=eq).where(F.col('doc_id') == 3)
    assert got.count() == 1
    inf = [('doc_id', 'in', [2, 3])]
    assert sum(file_may_match(f, inf) for f in files) == 1
    got = t.read(spark, stats_filters=inf) \
        .where(F.col('doc_id').isin([2, 3]))
    assert got.count() == 2


def test_stats_missing_column_keeps_every_file(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    # no stats recorded for an unknown column -> conservative keep-all
    got = t.read(spark, stats_filters=[('no_such_col', '=', 1)])
    assert got.count() == 30


def test_file_may_match_type_mismatch_is_conservative():
    from ocrodjvu_spark.plans.snapstore import file_may_match
    entry = {'stats': {'k': [10, 20], 's': ['a', 'm']}}
    # un-orderable value vs recorded bounds: keep the file
    assert file_may_match(entry, [('k', '=', 'ten')])
    assert file_may_match(entry, [('s', '>', 5)])
    # orderable: prune works on both kinds
    assert not file_may_match(entry, [('k', '<', 10)])
    assert file_may_match(entry, [('k', '<=', 10)])
    assert not file_may_match(entry, [('s', '>=', 'z')])
    # bool is its own kind, never ordered against int bounds
    assert file_may_match(entry, [('k', '=', True)])
    # 'in' with one un-orderable member keeps the file
    assert file_may_match(entry, [('k', 'in', [99, 'x'])])
    assert not file_may_match(entry, [('k', 'in', [99, 100])])


def test_merge_into_prunes_unmatched_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    before = {f['path']: f for f in t.snapshot()['files']}
    # source touches only doc_ids 25..29 -> the file(s) covering the
    # low ranges must be carried forward BY REFERENCE (same path)
    src = spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b') for i in range(25, 32)])
    t.merge_into(spark, src, ['doc_id'])
    after = {f['path'] for f in t.snapshot()['files']}
    carried = [p for p in before
               if p in after]
    rewritten = [p for p in before if p not in after]
    assert carried and rewritten  # some pruned, some rewritten
    for p in carried:  # carried files provably out of the source range
        lo, hi = before[p]['stats']['doc_id']
        assert hi < 25
    got = t.read(spark)
    assert got.count() == 32
    by_ver = {r.ver: r.n for r in
              got.groupBy('ver').agg(F.count('*').alias('n')).collect()}
    assert by_ver == {'a': 25, 'b': 7}


def test_merge_into_disjoint_source_is_pure_insert(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    before = {f['path'] for f in t.snapshot()['files']}
    src = spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b') for i in range(100, 105)])
    t.merge_into(spark, src, ['doc_id'])
    after = {f['path'] for f in t.snapshot()['files']}
    assert before <= after  # nothing rewritten: every base file carried
    assert t.read(spark).count() == 35


def test_delete_where_prune_filters_carry_files_forward(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    before = {f['path']: f for f in t.snapshot()['files']}
    t.delete_where(spark, F.col('doc_id') >= 27,
                   prune_filters=[('doc_id', '>=', 27)])
    after = {f['path'] for f in t.snapshot()['files']}
    carried = [p for p in before if p in after]
    assert carried  # low-range files untouched
    for p in carried:
        lo, hi = before[p]['stats']['doc_id']
        assert hi < 27
    got = t.read(spark)
    assert sorted(r.doc_id for r in got.collect()) == list(range(27))


def test_delete_where_prune_no_match_is_noop(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_range_docs(spark, 'a', n=30, files=3))
    v = t.current_version()
    assert t.delete_where(spark, F.col('doc_id') >= 1000,
                          prune_filters=[('doc_id', '>=', 1000)]) == v
    assert t.current_version() == v  # no commit at all


# -- incremental (CDC) append scans -----------------------------------------


def test_changelog_append_window_inserts_are_appended_rows(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    v1 = t.current_version()
    t.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b') for i in range(10, 16)]))
    t.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='c') for i in range(16, 20)]))
    got = t.read_changelog(spark, v1).collect()
    assert {r._change_type for r in got} == {'insert'}
    assert sorted(r.doc_id for r in got) == list(range(10, 20))
    # a narrower window sees only its own snapshot's additions
    mid = t.read_changelog(spark, v1, to_version=v1 + 1)
    assert {r.ver for r in mid.select('ver').distinct().collect()} == {'b'}
    with pytest.raises(ValueError, match='newer than'):
        t.read_changelog(spark, v1 + 3, to_version=v1)


# -- additive schema evolution ----------------------------------------------


def test_append_adds_column_old_files_read_null(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))
    t.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b', lang='en')
         for i in range(6, 10)]))
    got = t.read(spark)
    assert set(got.columns) == {'doc_id', 'bucket', 'ver', 'lang'}
    rows = {r.doc_id: r.lang for r in got.collect()}
    assert all(rows[i] is None for i in range(6))
    assert all(rows[i] == 'en' for i in range(6, 10))
    # the incremental scan of the new batch carries the evolved schema
    changes = t.read_changelog(spark, 1)
    assert set(changes.columns) == {'doc_id', 'bucket', 'ver', 'lang',
                                    '_change_type', '_commit_version'}


def test_unchanged_schema_recorded_as_one_string(spark, tmp_path):
    # appends that do not change the schema record it byte for byte as
    # the first one did (pyspark's DataType.json serialization)
    t = SnapshotTable(str(tmp_path / 't'))
    batches = [_docs(spark, v, n=4) for v in 'abc']
    for df in batches:
        t.append(df)
    assert {t.snapshot(v)['schema'] for v in (1, 2, 3)} == {
        batches[0].schema.json()}


def test_append_dropping_or_retyping_column_raises(spark, tmp_path):
    import os
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=4))
    v = t.current_version()
    with pytest.raises(ValueError, match='drops column'):
        t.append(spark.createDataFrame(
            [Row(doc_id=9, bucket=1)]))  # no 'ver'
    with pytest.raises(ValueError, match='changes type'):
        t.append(spark.createDataFrame(
            [Row(doc_id=9, bucket=1, ver=42)]))  # ver int, was string
    assert t.current_version() == v  # nothing committed
    # ...and the rejected appends' staged files were reclaimed
    live = {f['path'] for f in t.snapshot()['files']}
    on_disk = {f'data/{n}' for n in os.listdir(t.data_dir)}
    assert on_disk == live


# -- clustered / z-ordered compaction ---------------------------------------


def test_compact_cluster_by_tightens_file_ranges(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'))
    # append-ordered layout: round-robin repartition scatters doc_ids,
    # so every file spans (nearly) the whole key domain -> no pruning
    t.append(_docs(spark, 'a', n=40).repartition(4))
    before = t.snapshot()['files']
    point = [('doc_id', '=', 7)]
    assert sum(file_may_match(f, point) for f in before) > 1
    t.compact(spark, cluster_by=['doc_id'], target_partitions=4)
    after = t.snapshot()['files']
    assert len(after) == 4
    # clustered: exactly one file can hold any given key
    assert sum(file_may_match(f, point) for f in after) == 1
    got = t.read(spark)
    assert sorted(r.doc_id for r in got.collect()) == list(range(40))


def test_compact_zorder_prunes_on_both_dimensions(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'))
    # two independent dimensions: y enumerates a grid against x, so
    # lexicographic clustering on x would leave y unprunable
    rows = [Row(x=i, y=(i * 7) % 64, payload=f'p{i}') for i in range(64)]
    t.append(spark.createDataFrame(rows).repartition(4))
    t.compact(spark, zorder_by=['x', 'y'], target_partitions=4)
    files = t.snapshot()['files']
    assert len(files) == 4
    assert all('__zv' not in (f['stats'] or {}) for f in files)
    # z-order: BOTH single-dimension scans skip at least one file
    assert sum(file_may_match(f, [('x', '<', 16)]) for f in files) < 4
    assert sum(file_may_match(f, [('y', '<', 16)]) for f in files) < 4
    got = t.read(spark)
    assert set(got.columns) == {'x', 'y', 'payload'}
    assert got.count() == 64


def test_compact_cluster_and_zorder_mutually_exclusive(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    with pytest.raises(ValueError, match='mutually exclusive'):
        t.compact(spark, cluster_by=['doc_id'], zorder_by=['doc_id'])


# -- incremental materialized-view refresh ----------------------------------


def test_refresh_incremental_exactly_once(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    transform = lambda df: df.where(F.col('doc_id') % 2 == 0) \
        .select('doc_id', 'ver')
    src.append(_docs(spark, 'a', n=10))
    key = ['doc_id']
    assert refresh_incremental(spark, src, mv, transform, key) is not None
    assert sorted(r.doc_id for r in mv.read(spark).collect()) == \
        [0, 2, 4, 6, 8]
    # already current: no-op, no new sink version
    v = mv.current_version()
    assert refresh_incremental(spark, src, mv, transform, key) is None
    assert mv.current_version() == v
    # second source batch refreshes incrementally (only new rows read)
    src.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b') for i in range(10, 14)]))
    refresh_incremental(spark, src, mv, transform, key)
    got = {(r.doc_id, r.ver) for r in mv.read(spark).collect()}
    assert got == {(0, 'a'), (2, 'a'), (4, 'a'), (6, 'a'), (8, 'a'),
                   (10, 'b'), (12, 'b')}


def test_refresh_incremental_replay_is_idempotent(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=6))
    v1 = refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    # a crashed refresher restarts and replays the SAME window: the
    # tagged append dedupes, so no rows double-apply
    assert refresh_incremental(spark, src, mv, lambda df: df,
                               ['doc_id']) is None
    assert mv.current_version() == v1
    assert mv.read(spark).count() == 6


def test_refresh_incremental_rejects_rewritten_window(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=6))
    refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    src.delete_where(spark, F.col('doc_id') >= 4)
    src.append(_docs(spark, 'b', n=2))
    with pytest.raises(ValueError, match="'delete'"):
        refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    # the documented fallback: full rebuild
    mv.overwrite(src.read(spark))
    assert mv.read(spark).count() == src.read(spark).count()


def test_refresh_incremental_resumes_after_rebuild(spark, tmp_path):
    # the documented recovery after a rewrite commit: rebuild the view
    # from one source version under the cursor tag, then keep refreshing
    # incrementally. Without the tag the cursor stays behind the delete
    # and every later refresh raises again.
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    transform = lambda df: df.where(F.col('doc_id') % 2 == 0) \
        .select('doc_id', 'ver')
    src.append(_docs(spark, 'a', n=10))
    refresh_incremental(spark, src, mv, transform, ['doc_id'])
    src.delete_where(spark, F.col('doc_id') >= 6)
    v = src.current_version()
    rebuilt = mv.overwrite(transform(src.read(spark, version=v)),
                           tag=f'mv@{v}')
    assert mv.last_consumed('mv') == v
    # replaying the rebuild is a no-op, like a replayed tagged append
    assert mv.overwrite(transform(src.read(spark, version=v)),
                        tag=f'mv@{v}') == rebuilt
    src.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b') for i in range(10, 14)]))
    assert refresh_incremental(spark, src, mv, transform,
                               ['doc_id']) is not None
    assert mv.last_consumed('mv') == src.current_version()
    got = sorted(tuple(r) for r in mv.read(spark).collect())
    assert got == sorted(tuple(r) for r in
                         transform(src.read(spark)).collect())
    assert got == [(0, 'a'), (2, 'a'), (4, 'a'), (10, 'b'), (12, 'b')]


def test_refresh_incremental_racing_different_heads(spark, tmp_path):
    # two refreshers share the cursor (lo=0) but observed DIFFERENT
    # source heads: A saw v1, B saw v1+v2. Tag idempotence alone would
    # let both commit (different tags) and double-apply v1's rows. The
    # loser must re-derive the cursor and append only the remainder.
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=4))          # v1 (A's head)
    src.append(spark.createDataFrame(            # v2 (B's head)
        [Row(doc_id=i, bucket=i % 4, ver='b') for i in range(4, 7)]))
    orig_claim = mv._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            # refresher A commits its (0, v1] window first, through a
            # separate handle (it never saw v2)
            a_mv = SnapshotTable(mv.root)
            a_src = SnapshotTable(src.root)
            a_mv.append(a_src.read(spark, version=1), tag='mv@1')
        return orig_claim(version, manifest)

    mv._claim_version = racing_claim
    # refresher B runs with the full window (0, v2]; it must lose the
    # race, re-derive lo=1, and append ONLY v2's rows
    refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    got = mv.read(spark)
    assert got.count() == 7  # 4 + 3, no double-applied rows
    by_ver = {r.ver: r.n for r in
              got.groupBy('ver').agg(F.count('*').alias('n')).collect()}
    assert by_ver == {'a': 4, 'b': 3}
    assert mv.last_consumed('mv') == 2


def test_file_may_match_nan_never_prunes():
    from ocrodjvu_spark.plans.snapstore import file_may_match
    entry = {'stats': {'k': [1.0, 2.0]}}
    # Spark orders NaN greatest and NaN = NaN is true, but parquet
    # writers may omit NaN from stats — a NaN probe must keep the file
    nan = float('nan')
    assert file_may_match(entry, [('k', '=', nan)])
    assert file_may_match(entry, [('k', '>', nan)])
    assert file_may_match(entry, [('k', 'in', [nan])])


def test_timestamp_stats_prune_time_windows(spark, tmp_path):
    import datetime
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'))
    base = datetime.datetime(2024, 3, 1)
    rows = [Row(eid=i, ts=base + datetime.timedelta(hours=i))
            for i in range(48)]
    t.append(spark.createDataFrame(rows).repartitionByRange(4, 'ts'))
    files = t.snapshot()['files']
    # temporal bounds recorded as epoch micros (JSON-portable ints)
    assert all(isinstance(f['stats']['ts'][0], int) for f in files)
    day2 = [('ts', '>=', base + datetime.timedelta(hours=24))]
    kept = [f for f in files if file_may_match(f, day2)]
    assert 0 < len(kept) < len(files)
    got = t.read(spark, stats_filters=day2) \
        .where(F.col('ts') >= F.lit('2024-03-02')).count()
    assert got == 24
    # date probes normalize to midnight-UTC epoch micros — ONE axis
    # with timestamp stats, matching Spark's date->timestamp cast
    assert file_may_match(
        files[0], [('ts', '>=', datetime.date(2024, 3, 1))])
    # the directions the old epoch-days encoding got wrong: a date
    # upper bound / equality against a timestamp column covering that
    # date must KEEP the file (days vs micros cross-compare pruned it)
    first = min(files, key=lambda f: f['stats']['ts'][0])
    assert file_may_match(first, [('ts', '<', datetime.date(2024, 3, 2))])
    assert file_may_match(first, [('ts', '=', datetime.date(2024, 3, 1))])
    assert file_may_match(first, [('ts', 'in', [datetime.date(2024, 3, 1)])])
    # ...and completeness survives: a date strictly before the data
    # still prunes every file
    assert not any(
        file_may_match(f, [('ts', '<', datetime.date(2024, 3, 1))])
        for f in files)
    # the equivalent pruned read returns every matching row
    got = t.read(spark, stats_filters=[
        ('ts', '<', datetime.date(2024, 3, 2))]) \
        .where(F.col('ts') < F.lit('2024-03-02')).count()
    assert got == 24


def test_date_column_stats_one_axis_with_datetime_probes(spark, tmp_path):
    # the mirror direction: a DATE column probed with datetimes
    import datetime
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'))
    rows = [Row(eid=i, d=datetime.date(2024, 3, 1)
                + datetime.timedelta(days=i)) for i in range(8)]
    t.append(spark.createDataFrame(rows).repartitionByRange(2, 'd'))
    files = t.snapshot()['files']
    first = min(files, key=lambda f: f['stats']['d'][0])
    # a datetime inside day 1 must keep the file holding day 1
    probe = datetime.datetime(2024, 3, 1, 12, 0, 0)
    assert file_may_match(first, [('d', '<=', probe)])
    assert file_may_match(first, [('d', '>=',
                                   datetime.datetime(2024, 3, 1))])
    # a datetime before all data prunes everything
    assert not any(
        file_may_match(f, [('d', '<=',
                            datetime.datetime(2024, 2, 28, 23))])
        for f in files)


def test_in_probe_one_shot_iterable_not_drained(spark, tmp_path):
    # a generator probe value must not be drained by the bloom branch
    # and read as empty by the stats branch (any([]) would unsoundly
    # prune every file on a column that has BOTH bloom and stats)
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'), bloom_cols=['h'])
    t.append(spark.createDataFrame(
        [Row(doc_id=i, h=f'k{i}') for i in range(10)]).coalesce(1))
    f = t.snapshot()['files'][0]
    assert 'h' in f['bloom'] and 'h' in f['stats']
    assert file_may_match(f, [('h', 'in', (v for v in ['k3']))])
    assert not file_may_match(f, [('h', 'in', (v for v in ['zz']))])


def test_bloom_probe_type_cross_check(spark, tmp_path):
    # probing an int column with a non-canonical string ('05'), or a
    # str column with an int, must NOT consult the bloom: Spark's
    # cast-equality row filter could still match ('05' casts to 5;
    # '05' text equals int 5 after column cast), so pruning on the
    # canonical-key miss would drop matching rows
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 'ti'), bloom_cols=['k'])
    t.append(spark.createDataFrame([Row(k=5), Row(k=7)]).coalesce(1))
    f = t.snapshot()['files'][0]
    assert f['bloom']['k']['type'] == 'int'
    assert file_may_match(f, [('k', '=', '05')])   # non-canonical: keep
    assert file_may_match(f, [('k', '=', '5')])    # canonical, present
    assert not file_may_match(f, [('k', '=', '6')])  # canonical, absent
    assert file_may_match(f, [('k', '=', 'zz')])   # uncastable: keep
    assert not file_may_match(f, [('k', '=', 6)])
    ts = SnapshotTable(str(tmp_path / 'ts'), bloom_cols=['s'])
    ts.append(spark.createDataFrame([Row(s='05'), Row(s='7')]).coalesce(1))
    fs = ts.snapshot()['files'][0]
    assert fs['bloom']['s']['type'] == 'str'
    # int probe on a str column: column-side cast makes '05' match 5,
    # but the stored key is '05' != str(5) — bloom must not prune
    assert file_may_match(fs, [('s', '=', 5)])
    assert file_may_match(fs, [('s', '=', '05')])
    assert not file_may_match(fs, [('s', '=', 'absent')])


def test_expire_tombstone_truncated_file_does_not_brick_tags(
        spark, tmp_path):
    # a truncated tombstone (crash mid-write before the fsync+link fix,
    # or disk corruption) must not break every tag lookup forever
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=3), tag='batch-1')       # v1
    t.append(_docs(spark, 'b', n=2))                      # v2
    bad = os.path.join(t.manifest_dir, 'x99.json')
    with open(bad, 'w', encoding='utf-8') as fh:
        fh.write('{"version": 99, "ta')  # truncated JSON
    fresh = SnapshotTable(t.root)
    assert fresh.find_tag('batch-1') == 1  # lookup still works
    t.expire_snapshots(keep_last=1)
    assert SnapshotTable(t.root).find_tag('batch-1') == 1  # tombstoned


@pytest.mark.parametrize('root', [
    'hdfs://nn/t', 's3a://bucket/t', 'file:///tmp/t', 'file:/tmp/t'])
def test_uri_roots_raise(tmp_path, monkeypatch, root):
    # the store stages and commits with os calls on the driver, so a
    # Hadoop URI is refused before anything is created
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match='POSIX'):
        SnapshotTable(root)
    assert os.listdir(tmp_path) == []


def test_staged_write_elsewhere_raises(tmp_path):
    # a Spark write resolved on another filesystem (a cluster's
    # fs.defaultFS) leaves no local stage directory: refuse to commit
    t = SnapshotTable(str(tmp_path / 't'))
    with pytest.raises(RuntimeError, match='not on this filesystem'):
        t._stage_files(lambda stage_dir: None)
    assert t.versions() == []


def test_expire_crash_after_file_removal_leaves_only_orphans(
        spark, tmp_path):
    # expiry unlinks a version before removing its files: a crash while
    # the files go leaves no version that references missing files, so
    # later expiries and orphan sweeps still work
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'))
    t.overwrite(_docs(spark, 'v2', n=6))
    remove = t._remove

    def crash(rels):
        remove(rels)
        raise RuntimeError('planted crash after removing files')

    t._remove = crash
    with pytest.raises(RuntimeError, match='planted'):
        t.expire_snapshots(keep_last=1)
    del t._remove
    assert t.versions() == [2]
    t.remove_orphans(older_than_sec=0)
    assert t.expire_snapshots(keep_last=1) == []
    assert t.read(spark).count() == 6


_MF_SUMMARY_SCRIPT = r'''
import json
from ocrodjvu_spark.plans.snapstore import SnapshotTable
entry = {'rows': 1,
         'stats': {c: [0, 1] for c in ('body', 'id', 'score', 'ts')}}
print(json.dumps(list(SnapshotTable._mf_summary('m', [entry])['stats'])))
'''


def test_manifest_list_stats_order_ignores_hash_seed():
    # a manifest-list item's stats keys follow the column names, not the
    # interpreter's string hash, so one history writes the same bytes
    import json
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    orders = []
    for seed in ('1', '2'):
        r = subprocess.run(
            [sys.executable, '-c', _MF_SUMMARY_SCRIPT],
            capture_output=True, text=True, cwd=repo, timeout=120,
            env=dict(os.environ, PYTHONPATH=repo, PYTHONHASHSEED=seed))
        assert r.returncode == 0, r.stderr[-3000:]
        orders.append(json.loads(r.stdout))
    assert orders[0] == orders[1] == ['body', 'id', 'score', 'ts']


# -- review-pass regressions ------------------------------------------------


def test_refresh_stale_validate_cannot_slip_through(spark, tmp_path):
    # TOCTOU guard: the cursor check runs AFTER the base read, so a
    # twin that commits between our (stale-passing) validate and our
    # claim bumps HEAD past our base — the claim fails and the retry
    # re-validates. A validate-before-base-read ordering would let the
    # stale precondition through and double-apply the shared window.
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=3))           # v1
    src.append(_docs(spark, 'b', n=2))           # v2
    orig_last = mv.last_consumed
    raced = {'done': False}

    def stale_last_consumed(name):
        val = orig_last(name)
        if not raced['done']:
            raced['done'] = True
            # twin commits window (0, v1] AFTER we observed cursor 0
            twin = SnapshotTable(mv.root)
            twin.append(SnapshotTable(src.root).read(spark, version=1),
                        tag='mv@1')
            return val  # stale answer: cursor still looked like 0
        return orig_last(name)

    mv.last_consumed = stale_last_consumed
    refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    got = mv.read(spark)
    assert got.count() == 5  # 3 + 2, window prefix not double-applied
    by_ver = {r.ver: r.n for r in
              got.groupBy('ver').agg(F.count('*').alias('n')).collect()}
    assert by_ver == {'a': 3, 'b': 2}


def test_delete_where_null_condition_keeps_rows(spark, tmp_path):
    # SQL DELETE semantics: a NULL condition keeps the row. Rows from
    # pre-evolution files read the new column as NULL — deleting on
    # that column must not wipe the old corpus.
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))  # no 'lang' column yet
    t.append(spark.createDataFrame(
        [Row(doc_id=i, bucket=i % 4, ver='b', lang=('xx' if i == 7
                                                    else 'en'))
         for i in range(6, 10)]))
    t.delete_where(spark, F.col('lang') == 'xx')
    got = t.read(spark)
    assert sorted(r.doc_id for r in got.collect()) == \
        [0, 1, 2, 3, 4, 5, 6, 8, 9]  # only doc 7 deleted


def test_expire_preserves_tags_as_tombstones(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=4))
    refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    mv.compact(spark)  # untagged commit on top of the tagged one
    mv.expire_snapshots(keep_last=1)
    # cursor survives expiry via the tombstone...
    fresh = SnapshotTable(mv.root)  # no warm cache
    assert fresh.last_consumed('mv') == 1
    assert fresh.find_tag('mv@1') == 1
    # ...so a refresh with no new source data stays a no-op
    assert refresh_incremental(spark, src, fresh, lambda df: df,
                               ['doc_id']) is None
    assert fresh.read(spark).count() == 4
    # and a tagged APPEND replay after expiry is still idempotent
    v = fresh.current_version()
    fresh.append(_docs(spark, 'dup', n=2), tag='mv@1')
    assert fresh.current_version() == v


def test_compact_zorder_all_null_column(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    t.append(spark.createDataFrame(  # adds an (almost) all-NULL column
        [Row(doc_id=99, bucket=0, ver='b', extra=None)],
        'doc_id long, bucket long, ver string, extra long'))
    # all-NULL dimension: constant bucket, no crash, rows preserved
    t.compact(spark, zorder_by=['doc_id', 'extra'],
              target_partitions=2)
    assert t.read(spark).count() == 9


# -- hidden partitioning (partition transforms) -----------------------------


def _ts_rows(spark, n=12, tag='a'):
    import datetime
    base = datetime.datetime(2024, 5, 1)
    return spark.createDataFrame(
        [Row(eid=i, ts=base + datetime.timedelta(hours=6 * i), ver=tag)
         for i in range(n)])  # 12 rows spanning 3 days, 4 rows/day


def test_hidden_partitioning_day_transform(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_ts_rows(spark), partition_col='ts',
             partition_transform='day')
    assert sorted(_partitions(t)) == \
        ['2024-05-01', '2024-05-02', '2024-05-03']
    assert t.snapshot()['partition_transform'] == 'day'
    # manifest pruning at day granularity
    one_day = t.read(spark, partition_values=['2024-05-02'])
    assert one_day.count() == 4
    # replace ONE day with a re-crawl (transform inherited from HEAD)
    recrawl = _ts_rows(spark, tag='b').where(
        F.col('eid').between(4, 7))
    t.replace_partitions(recrawl, 'ts')
    got = {r.ver: r.n for r in t.read(spark).groupBy('ver')
           .agg(F.count('*').alias('n')).collect()}
    assert got == {'a': 8, 'b': 4}
    # a later append with a DIFFERENT spec is partition evolution: no
    with pytest.raises(ValueError, match='evolution'):
        t.append(_ts_rows(spark), partition_col='ts',
                 partition_transform='month')
    # ...but appends naming the same spec (or none) are fine
    t.append(_ts_rows(spark, n=2, tag='c'), partition_col='ts')
    assert t.snapshot()['partition_transform'] == 'day'


def test_hidden_partitioning_survives_rewrites(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_ts_rows(spark), partition_col='ts',
             partition_transform='day')
    t.compact(spark, partition_col='ts')
    assert t.snapshot()['partition_transform'] == 'day'
    assert sorted(_partitions(t)) == \
        ['2024-05-01', '2024-05-02', '2024-05-03']
    t.delete_where(spark, F.col('eid') == 0, partition_col='ts')
    assert t.snapshot()['partition_transform'] == 'day'
    assert t.read(spark, partition_values=['2024-05-01']).count() == 3


def test_bucket_and_truncate_transforms(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 'b'))
    t.append(spark.createDataFrame(
        [Row(k=f'key{i}', v=i) for i in range(40)]),
        partition_col='k', partition_transform='bucket[4]')
    parts = _partitions(t)
    assert set(parts) <= {'0', '1', '2', '3'} and len(parts) > 1
    t2 = SnapshotTable(str(tmp_path / 'tr'))
    t2.append(spark.createDataFrame(
        [Row(k=f'ab{i}', v=i) for i in range(6)]),
        partition_col='k', partition_transform='truncate[2]')
    assert _partitions(t2) == {'ab'}
    t3 = SnapshotTable(str(tmp_path / 'tri'))
    t3.append(spark.createDataFrame(
        [Row(k=i, v=i) for i in range(25)]),
        partition_col='k', partition_transform='truncate[10]')
    assert sorted(_partitions(t3)) == ['0', '10', '20']


# -- per-file bloom skipping ------------------------------------------------


def test_bloom_skipping_on_hash_column(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'), bloom_cols=['h'])
    values = {i: f'hash-{i * 7919 % 997:03d}' for i in range(60)}
    df = spark.createDataFrame(
        [Row(doc_id=i, h=values[i]) for i in range(60)])
    t.append(df.repartitionByRange(4, 'doc_id'))
    files = t.snapshot()['files']
    assert all('h' in (f.get('bloom') or {}) for f in files)
    present = values[7]
    # an IN-RANGE absent value: inside every file's [min, max] (the
    # values span 'hash-0xx'..'hash-9xx' in each range file), so the
    # stats path alone provably CANNOT prune it — only the bloom can
    taken = set(values.values())
    absent = next(f'hash-{n:03d}' for n in range(100, 997)
                  if f'hash-{n:03d}' not in taken)
    stats_only = [{'stats': f['stats']} for f in files]
    assert all(file_may_match(e, [('h', '=', absent)])
               for e in stats_only)
    kept_absent = [f for f in files
                   if file_may_match(f, [('h', '=', absent)])]
    assert len(kept_absent) == 0  # definitely nowhere (bloom, not stats)
    kept_present = [f for f in files
                    if file_may_match(f, [('h', '=', present)])]
    assert kept_present  # never prunes a real value (no false negatives)
    got = t.read(spark, stats_filters=[('h', '=', present)]) \
        .where(F.col('h') == present)
    assert got.count() >= 1
    # IN probes prune only when EVERY member is provably absent
    absent2 = next(f'hash-{n:03d}' for n in range(996, 0, -1)
                   if f'hash-{n:03d}' not in taken)
    assert not any(file_may_match(f, [('h', 'in', [absent, absent2])])
                   for f in files)
    assert any(file_may_match(f, [('h', 'in', [absent, present])])
               for f in files)


def test_bloom_int_column_and_unsupported_types(spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import file_may_match
    t = SnapshotTable(str(tmp_path / 't'), bloom_cols=['k', 'x'])
    t.append(spark.createDataFrame(
        [Row(k=i * 1000, x=float(i)) for i in range(20)]))
    f = t.snapshot()['files'][0]
    assert 'k' in f['bloom']
    assert 'x' not in f.get('bloom', {})  # float: bloom-less, never skipped
    # a value INSIDE the file's own [min, max] but off the 1000-grid:
    # stats keep it, the bloom prunes it
    mid = f['stats']['k'][0] + 500
    assert not file_may_match(f, [('k', '=', mid)])
    assert file_may_match({'stats': f['stats']}, [('k', '=', mid)])
    assert file_may_match(f, [('k', '=', f['stats']['k'][0])])


def test_racing_conflicting_specs_surface_as_commit_conflict(
        spark, tmp_path):
    # two first-writers race an empty table with DIFFERENT transforms:
    # the loser must NOT commit a manifest whose spec contradicts the
    # winner's files — it surfaces as CommitConflict instead
    t = SnapshotTable(str(tmp_path / 't'))
    orig_claim = t._claim_version
    raced = {'done': False}

    def racing_claim(version, manifest):
        if not raced['done']:
            raced['done'] = True
            SnapshotTable(t.root).append(
                _ts_rows(spark, tag='winner'), partition_col='ts',
                partition_transform='month')
        return orig_claim(version, manifest)

    t._claim_version = racing_claim
    with pytest.raises(CommitConflict, match='transform changed'):
        t.append(_ts_rows(spark, tag='loser'), partition_col='ts',
                 partition_transform='day')
    # the winner's commit is intact and day files never mixed in
    assert t.snapshot()['partition_transform'] == 'month'
    assert t.read(spark).count() == 12
    assert {r.ver for r in t.read(spark).select('ver')
            .distinct().collect()} == {'winner'}


# -- manifest NDV (per-file HLL registers) ----------------------------------


def test_manifest_ndv_merges_to_whole_scan_sketch(spark, tmp_path):
    from ocrodjvu_spark.functions import hll
    t = SnapshotTable(str(tmp_path / 't'), ndv_cols=['doc_id'],
                      ndv_p=8)
    df = spark.createDataFrame(
        [Row(doc_id=i % 130, v=i) for i in range(300)])  # 130 distinct
    t.append(df.repartitionByRange(4, 'doc_id'))
    t.append(spark.createDataFrame(
        [Row(doc_id=i, v=i) for i in range(130, 180)]))  # +50 distinct
    # the monoid property: per-file registers merged driver-side ==
    # the whole-scan sketch, register for register
    merged = t.ndv_registers('doc_id')
    whole = {r.register: r.max_rank for r in hll.hll_sketch(
        t.read(spark).select(F.col('doc_id').cast('string')
                             .alias('key')), p=8).collect()}
    assert merged == whole
    est = t.ndv('doc_id')
    assert abs(est - 180) / 180 < 0.2  # ~1.04/sqrt(256) expected error


def test_manifest_ndv_missing_sketch_returns_none(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))  # no ndv_cols on this handle
    t.append(_docs(spark, 'a', n=10))
    t2 = SnapshotTable(t.root, ndv_cols=['doc_id'], ndv_p=8)
    assert t2.ndv('doc_id') is None  # unsketched files: no silent lie
    t2.append(_docs(spark, 'b', n=5))
    assert t2.ndv('doc_id') is None  # still one unsketched file


def test_write_props_are_table_properties(spark, tmp_path):
    # sketch configs persist in the manifest: a maintenance handle
    # constructed WITHOUT them (admin compact) adopts them, so
    # rewrites preserve the per-file sketches instead of silently
    # stripping them; ndv() works off the recorded p
    t = SnapshotTable(str(tmp_path / 't'), bloom_cols=['h'],
                      ndv_cols=['doc_id'], ndv_p=8)
    t.append(spark.createDataFrame(
        [Row(doc_id=i, h=f'k{i}') for i in range(40)]).repartition(4))
    plain = SnapshotTable(t.root)  # no sketch config at all
    assert plain.write_props()['ndv_cols'] == ['doc_id']
    plain.compact(spark, target_partitions=1)
    f = plain.snapshot()['files'][0]
    assert 'h' in f['bloom'] and 'doc_id' in f['ndv']
    assert plain.ndv('doc_id') is not None  # p adopted from manifest
    # explicit [] overrides and re-records (stops sketching)
    off = SnapshotTable(t.root, bloom_cols=[], ndv_cols=[])
    off.append(spark.createDataFrame([Row(doc_id=99, h='x')]))
    assert off.write_props()['ndv_cols'] == []


def test_ndv_skips_unsketchable_float_column(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'), ndv_cols=['score'])
    t.append(spark.createDataFrame(
        [Row(doc_id=i, score=float(i)) for i in range(10)]))
    # float NDV would count cast artifacts ('0.0' vs '-0.0'); the
    # column stays unsketched and ndv() refuses rather than lies
    assert 'score' not in (t.snapshot()['files'][0].get('ndv') or {})
    assert t.ndv('score') is None


# -- merge-on-read equality deletes ------------------------------------------


def test_delete_keys_merge_on_read_basic(spark, tmp_path):
    # a key delete commits a tiny delete file; NO data file is
    # rewritten, and reads anti-join it away
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    data_paths = sorted(f['path'] for f in t.snapshot()['files'])
    t.delete_keys(spark, spark.createDataFrame(
        [Row(doc_id=3), Row(doc_id=7)]), ['doc_id'])
    m = t.snapshot()
    assert sorted(f['path'] for f in m['files']) == data_paths  # untouched
    assert len(m['deletes']) == 1 and m['deletes'][0]['rows'] == 2
    got = t.read(spark)
    assert got.count() == 8
    assert {r.doc_id for r in got.collect()} == set(range(10)) - {3, 7}
    # time travel: the pre-delete snapshot still has every row
    assert t.read(spark, version=1).count() == 10


def test_delete_keys_sequencing_spares_later_appends(spark, tmp_path):
    # Iceberg v2 data-sequence contract: a row appended AFTER the
    # delete with the same key survives it
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=5))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=2)]),
                  ['doc_id'])
    t.append(spark.createDataFrame(
        [Row(doc_id=2, bucket=99, ver='later')]))
    got = t.read(spark).where(F.col('doc_id') == 2).collect()
    assert len(got) == 1 and got[0].ver == 'later'


def test_delete_keys_stack_and_compact_materializes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=1)]),
                  ['doc_id'])
    t.append(_docs(spark, 'b', n=3))  # doc_id 0..2 again, post-delete
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=2)]),
                  ['doc_id'])
    got = t.read(spark)
    # delete#1 hits only batch a's 1; delete#2 hits BOTH batches' 2
    rows = {(r.doc_id, r.ver) for r in got.collect()}
    assert (1, 'a') not in rows and (2, 'a') not in rows
    assert (2, 'b') not in rows and (1, 'b') in rows
    n_before = got.count()
    # compact materializes: same rows, zero pending deletes, and the
    # delete parquet is reclaimed by expiry
    del_paths = [d['path'] for d in t.snapshot()['deletes']]
    t.compact(spark, target_partitions=2)
    m = t.snapshot()
    assert not m.get('deletes')
    assert t.read(spark).count() == n_before
    assert {(r.doc_id, r.ver) for r in t.read(spark).collect()} == rows
    t.expire_snapshots(keep_last=1)
    for p in del_paths:
        assert not os.path.exists(os.path.join(t.root, p))


def test_delete_keys_expiry_keeps_live_delete_files(spark, tmp_path):
    # a pending delete file referenced by HEAD must survive expiry
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))
    t.append(_docs(spark, 'b', n=2))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=5)]),
                  ['doc_id'])
    del_path = t.snapshot()['deletes'][0]['path']
    t.expire_snapshots(keep_last=1)
    assert os.path.exists(os.path.join(t.root, del_path))
    got = t.read(spark)
    assert got.where(F.col('doc_id') == 5).count() == 0
    assert got.count() == 7


def test_delete_keys_null_keys_never_targeted(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(spark.createDataFrame(
        [Row(doc_id=1, k='a'), Row(doc_id=2, k=None)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k='a')]), ['k'])
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0].doc_id == 2  # NULL key row survives


def test_delete_keys_empty_set_is_noop(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=3))
    v = t.current_version()
    docs = spark.createDataFrame([Row(doc_id=99)])
    assert t.delete_keys(spark, docs.where(F.col('doc_id') < 0),
                         ['doc_id']) == v
    assert t.current_version() == v  # no empty-delete commit


def test_delete_where_does_not_resurrect_key_deleted_rows(
        spark, tmp_path):
    # a copy-on-write rewrite re-stages files with a NEW seq (exempt
    # from older deletes) — it must apply pending deletes first
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=4)]),
                  ['doc_id'])
    t.delete_where(spark, F.col('doc_id') >= 8)
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == set(range(8)) - {4}


def test_merge_into_does_not_resurrect_key_deleted_rows(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=1)]),
                  ['doc_id'])
    src = spark.createDataFrame(
        [Row(doc_id=0, bucket=42, ver='v2')])
    t.merge_into(spark, src, ['doc_id'])
    got = {(r.doc_id, r.ver) for r in t.read(spark).collect()}
    assert (1, 'a') not in got and (0, 'v2') in got
    assert len(got) == 5


# -- manifest list: per-partition manifest files ------------------------------
# Iceberg spec §"Manifest lists" (https://iceberg.apache.org/spec/), the
# amortization the single-JSON design documented as its seam: a commit
# touching one partition rewrites O(that partition), not O(all files).


def test_manifest_list_carries_unchanged_partitions_by_reference(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'), partition_col='bucket')  # buckets 0-3
    doc1 = t._snapshot_doc(1)
    assert 'manifest_list' in doc1 and 'files' not in doc1
    by_pv1 = {str(m['partition']): m['path']
              for m in doc1['manifest_list']}
    assert len(by_pv1) == 4 and all(m.get('uniform')
                                    for m in doc1['manifest_list'])
    # second append touches ONLY bucket 2
    t.append(_docs(spark, 'v2').where(F.col('bucket') == 2),
             partition_col='bucket')
    doc2 = t._snapshot_doc(2)
    by_pv2 = {}
    for m in doc2['manifest_list']:
        by_pv2.setdefault(str(m['partition']), []).append(m['path'])
    for pv, path in by_pv1.items():
        assert path in by_pv2[pv]  # untouched manifests carried as-is
    new = [p for ps in by_pv2.values() for p in ps
           if p not in by_pv1.values()]
    assert len(new) == 1  # exactly ONE new manifest file was written
    assert t.read(spark).count() == 25


def test_manifest_list_partition_read_loads_one_manifest(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'), partition_col='bucket')
    fresh = SnapshotTable(str(tmp_path / 't'))  # cold cache
    loaded = []
    orig = fresh._load_manifest_file
    fresh._load_manifest_file = (
        lambda rel: (loaded.append(rel), orig(rel))[1])
    got = fresh.read(spark, partition_values=[2])
    assert got.count() == 5
    assert len(set(loaded)) == 1  # list-level pruning skipped the rest


def test_expire_reclaims_only_unreferenced_manifest_files(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'), partition_col='bucket')
    shared = {m['path'] for m in t._snapshot_doc(1)['manifest_list']}
    t.append(_docs(spark, 'v2').where(F.col('bucket') == 0),
             partition_col='bucket')  # v2 references v1's manifests
    t.overwrite(_docs(spark, 'v3', n=4))
    v3_mfs = {m['path'] for m in t._snapshot_doc(3)['manifest_list']}
    t.expire_snapshots(keep_last=1)
    for rel in shared:  # expired with BOTH referencing versions gone
        assert not os.path.exists(os.path.join(t.root, rel))
    for rel in v3_mfs:
        assert os.path.exists(os.path.join(t.root, rel))
    fresh = SnapshotTable(str(tmp_path / 't'))
    assert fresh.read(spark).count() == 4


def test_expire_keeps_manifest_files_shared_with_live_version(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1'), partition_col='bucket')
    v1_mfs = {m['path'] for m in t._snapshot_doc(1)['manifest_list']}
    t.append(_docs(spark, 'v2').where(F.col('bucket') == 1),
             partition_col='bucket')
    t.expire_snapshots(keep_last=1)  # v1 snapshot goes, HEAD shares
    for rel in v1_mfs:
        assert os.path.exists(os.path.join(t.root, rel))
    fresh = SnapshotTable(str(tmp_path / 't'))
    assert fresh.read(spark).count() == 25


# -- merge-on-read POSITION deletes (Iceberg v2 position delete files)


def test_delete_positions_merge_on_read_basic(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    data_paths = sorted(f['path'] for f in t.snapshot()['files'])
    t.delete_positions(spark, F.col('doc_id').isin(3, 7))
    m = t.snapshot()
    assert sorted(f['path'] for f in m['files']) == data_paths
    assert len(m['deletes']) == 1
    assert m['deletes'][0]['positions'] and m['deletes'][0]['rows'] == 2
    got = t.read(spark)
    assert {r.doc_id for r in got.collect()} == set(range(10)) - {3, 7}
    assert t.read(spark, version=1).count() == 10  # time travel


def test_delete_positions_sequencing_spares_later_appends(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))
    t.delete_positions(spark, F.col('doc_id') < 2)
    t.append(_docs(spark, 'b', n=6))  # same doc_ids, later files
    got = {(r.doc_id, r.ver) for r in t.read(spark).collect()}
    assert (0, 'a') not in got and (1, 'a') not in got
    assert (0, 'b') in got and (1, 'b') in got
    assert len(got) == 10


def test_delete_positions_null_condition_rows_kept(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(spark.createDataFrame(
        [Row(doc_id=0, flag=True), Row(doc_id=1, flag=None),
         Row(doc_id=2, flag=False)]))
    t.delete_positions(spark, F.col('flag'))
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == {1, 2}  # NULL condition keeps the row (SQL DELETE)


def test_delete_positions_no_match_is_noop(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=4))
    v = t.delete_positions(spark, F.col('doc_id') > 99)
    assert v == 1 and not t.snapshot().get('deletes')
    assert t.read(spark).count() == 4


def test_delete_positions_compact_materializes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    t.delete_positions(spark, F.col('doc_id') % 2 == 0)
    t.compact(spark)
    m = t.snapshot()
    assert not m.get('deletes')
    assert {r.doc_id for r in t.read(spark).collect()} == {1, 3, 5, 7}


def test_delete_positions_stack_with_equality_deletes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=10))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=1)]),
                  ['doc_id'])
    t.delete_positions(spark, F.col('doc_id').isin(4, 5))
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == set(range(10)) - {1, 4, 5}


def test_delete_positions_rewrite_applies_pending(spark, tmp_path):
    # a copy-on-write delete_where over files with PENDING position
    # deletes must not resurrect the position-deleted rows
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    t.delete_positions(spark, F.col('doc_id') == 2)
    t.delete_where(spark, F.col('doc_id') >= 6)
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == {0, 1, 3, 4, 5}


# -- changelog scan (CDC with merge-on-read deletes) --------------------------


def test_changelog_inserts_and_deletes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))                         # v1
    t.delete_keys(spark, spark.createDataFrame(
        [Row(doc_id=1), Row(doc_id=2)]), ['doc_id'])         # v2
    t.append(_docs(spark, 'b', n=3))                         # v3
    t.delete_positions(spark, (F.col('doc_id') == 0)
                       & (F.col('ver') == 'b'))              # v4
    log = t.read_changelog(spark, 0)
    rows = {(r.doc_id, r.ver, r._change_type, r._commit_version)
            for r in log.collect()}
    inserts = {r for r in rows if r[2] == 'insert'}
    deletes = {r for r in rows if r[2] == 'delete'}
    assert len(inserts) == 9  # 6 at v1 + 3 at v3
    assert deletes == {(1, 'a', 'delete', 2), (2, 'a', 'delete', 2),
                       (0, 'b', 'delete', 4)}
    # replaying the log reconstructs the visible state
    visible = {(r.doc_id, r.ver) for r in t.read(spark).collect()}
    replay = {(d, v) for d, v, op, _ in inserts} \
        - {(d, v) for d, v, op, _ in deletes}
    assert replay == visible


def test_changelog_double_delete_emits_once(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=4))
    keys = spark.createDataFrame([Row(doc_id=3)])
    t.delete_keys(spark, keys, ['doc_id'])        # v2: deletes the row
    t.delete_keys(spark, keys, ['doc_id'])        # v3: already gone
    log = t.read_changelog(spark, 1)
    dels = [(r.doc_id, r._commit_version) for r in log.collect()
            if r._change_type == 'delete']
    assert dels == [(3, 2)]  # the second delete emits NOTHING


def test_changelog_window_and_rejects_rewrites(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=4))              # v1
    t.append(_docs(spark, 'b', n=2))              # v2
    log = t.read_changelog(spark, 1)              # window (1, 2]
    assert {r.ver for r in log.collect()} == {'b'}
    assert t.read_changelog(spark, 2) is None     # empty window
    t.compact(spark)                              # v3: a rewrite
    with pytest.raises(ValueError, match='compact'):
        t.read_changelog(spark, 1)


def test_changelog_delete_after_later_append_spares_new_rows(
        spark, tmp_path):
    # sequencing flows through the changelog: the delete at v3 targets
    # only rows visible at v2, not same-key rows appended at v4
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=3))                       # v1,v2? no: v1
    t.append(_docs(spark, 'x', n=1))                       # v2
    t.delete_keys(spark, spark.createDataFrame(
        [Row(doc_id=0)]), ['doc_id'])                      # v3
    t.append(_docs(spark, 'y', n=1))                       # v4
    log = t.read_changelog(spark, 0)
    dels = {(r.doc_id, r.ver) for r in log.collect()
            if r._change_type == 'delete'}
    assert dels == {(0, 'a'), (0, 'x')}  # (0,'y') inserted after, spared


def test_remove_orphans_sweeps_only_unreferenced_old_files(
        spark, tmp_path):
    import time as _time
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=1)]),
                  ['doc_id'])
    old = _time.time() - 7200
    # a crashed writer's never-committed staging file + stage dir
    orphan = os.path.join(t.data_dir, 'deadbeef-9.parquet')
    open(orphan, 'wb').write(b'junk')
    os.utime(orphan, (old, old))
    stage = os.path.join(t.data_dir, '.stage-deadbeef')
    os.makedirs(stage)
    open(os.path.join(stage, 'part.parquet'), 'wb').write(b'junk')
    os.utime(stage, (old, old))
    # a FRESH unreferenced file is protected by the age floor
    fresh = os.path.join(t.data_dir, 'cafebabe-0.parquet')
    open(fresh, 'wb').write(b'junk')

    # a crashed commit's never-referenced manifest file
    mf_orphan = os.path.join(t.manifest_dir, 'm-deadbeef.json')
    open(mf_orphan, 'w').write('{"entries": []}')
    os.utime(mf_orphan, (old, old))

    removed = t.remove_orphans(older_than_sec=3600)
    assert sorted(removed) == ['data/.stage-deadbeef',
                               'data/deadbeef-9.parquet',
                               'manifests/m-deadbeef.json']
    assert not os.path.exists(orphan) and not os.path.exists(stage)
    assert not os.path.exists(mf_orphan)
    assert os.path.exists(fresh)  # too young to judge
    # referenced data + delete files untouched; table fully readable
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == set(range(6)) - {1}
    assert t.read(spark, version=1).count() == 6


def test_commit_summary_records_file_deltas(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=6))
    s1 = t._snapshot_doc(1)['summary']
    assert s1['added_rows'] == 6 and s1['removed_files'] == 0
    t.overwrite(_docs(spark, 'b', n=2))
    s2 = t._snapshot_doc(2)['summary']
    assert s2['added_rows'] == 2 and s2['removed_rows'] == 6
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=0)]),
                  ['doc_id'])
    s3 = t._snapshot_doc(3)['summary']
    assert s3 == {'added_files': 0, 'added_rows': 0,
                  'removed_files': 0, 'removed_rows': 0}


def test_manifest_list_stats_pruning_skips_whole_manifests(
        spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(spark.createDataFrame(
        [Row(doc_id=i, v='lo') for i in range(100)]))
    t.append(spark.createDataFrame(
        [Row(doc_id=i, v='hi') for i in range(500, 600)]))
    fresh = SnapshotTable(str(tmp_path / 't'))
    loaded = []
    orig = fresh._load_manifest_file
    fresh._load_manifest_file = (
        lambda rel: (loaded.append(rel), orig(rel))[1])
    got = fresh.read(spark, stats_filters=[('doc_id', '>=', 550)])
    assert got.where(F.col('doc_id') >= 550).count() == 50
    assert len(set(loaded)) == 1  # the 'lo' manifest never loaded
    # conservative when a column is absent from the summary
    assert fresh.read(
        spark, stats_filters=[('nope', '>=', 1)]).count() == 200


def test_refs_publish_gate_and_expiry_pinning(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'v1', n=4))
    t.set_ref('published', 1)         # audit passed: publish v1
    t.append(_docs(spark, 'v2', n=2))  # unaudited commits pile up
    t.overwrite(_docs(spark, 'v3', n=1))
    # consumers on the ref never see unaudited commits
    pub = t.read(spark, ref='published')
    assert pub.count() == 4
    assert {r.ver for r in pub.select('ver').distinct().collect()} \
        == {'v1'}
    # expiry keeps the ref-pinned snapshot even outside the window
    t.expire_snapshots(keep_last=1)
    assert 1 in t.versions() and 2 not in t.versions()
    fresh = SnapshotTable(str(tmp_path / 't'))
    assert fresh.read(spark, ref='published').count() == 4
    assert fresh.refs() == {'published': 1}
    # publish advances; drop unpins
    fresh.set_ref('published', 3)
    assert fresh.read(spark, ref='published').count() == 1
    fresh.drop_ref('published')
    with pytest.raises(ValueError, match='unknown ref'):
        fresh.read(spark, ref='published')
    with pytest.raises(ValueError, match='does not exist'):
        fresh.set_ref('x', 99)
    with pytest.raises(ValueError, match='invalid ref name'):
        fresh.set_ref('../escape', 1)
    with pytest.raises(ValueError, match='mutually exclusive'):
        fresh.read(spark, version=3, ref='published')


# -- CDC-driven incremental MV (mutating source) ------------------------------


def _mv_state(spark, t):
    df = t.read(spark)
    if df is None:
        return set()
    return {(r.doc_id, r.ver) for r in df.collect()}


def test_refresh_incremental_cdc_tracks_mutating_source(
        spark, tmp_path):
    # key_cols is a PRIMARY KEY of the source (the CDC-upsert
    # contract) — every batch uses fresh or explicitly-reused ids
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))

    def batch(ids, ver):
        return spark.createDataFrame(
            [Row(doc_id=i, ver=ver) for i in ids])

    def transform(df):
        return df.where(F.col('doc_id') % 2 == 0) \
                 .select('doc_id', 'ver')

    src.append(batch(range(8), 'a'))
    assert refresh_incremental(
        spark, src, mv, transform, ['doc_id']) is not None
    assert _mv_state(spark, mv) == {(d, 'a') for d in (0, 2, 4, 6)}
    # idempotent replay: nothing new
    assert refresh_incremental(
        spark, src, mv, transform, ['doc_id']) is None

    # one window with a delete, a same-key REINSERT, and fresh inserts
    src.delete_keys(spark, spark.createDataFrame(
        [Row(doc_id=2), Row(doc_id=4)]), ['doc_id'])
    src.append(batch([2, 8, 9, 10], 'b'))  # 2 reborn as 'b'
    assert refresh_incremental(
        spark, src, mv, transform, ['doc_id']) is not None
    want = {(r.doc_id, r.ver)
            for r in transform(src.read(spark)).collect()}
    assert _mv_state(spark, mv) == want
    assert (2, 'b') in _mv_state(spark, mv)
    assert (4, 'a') not in _mv_state(spark, mv)

    # insert-then-delete INSIDE one window must not reach the sink;
    # a key delete of an old row must evict its sink derivative
    src.append(batch(range(20, 26), 'c'))
    src.delete_positions(spark, F.col('ver') == 'c')
    src.delete_keys(spark, spark.createDataFrame(
        [Row(doc_id=6)]), ['doc_id'])
    assert refresh_incremental(
        spark, src, mv, transform, ['doc_id']) is not None
    want = {(r.doc_id, r.ver)
            for r in transform(src.read(spark)).collect()}
    assert _mv_state(spark, mv) == want
    state = _mv_state(spark, mv)
    assert (6, 'a') not in state
    assert not any(v == 'c' for _d, v in state)

    # compact materializes the sink's accumulated delete files
    mv.compact(spark)
    assert not mv.snapshot().get('deletes')
    assert _mv_state(spark, mv) == want


def test_refresh_incremental_cdc_rejects_key_dropping_transform(
        spark, tmp_path):
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=2))
    with pytest.raises(ValueError, match='dropped key'):
        refresh_incremental(
            spark, src, mv, lambda df: df.select('ver'), ['doc_id'])


def test_refresh_append_only_window_commits_plain_append(
        spark, tmp_path):
    # a window without a delete commit runs no delete-key work: the
    # view commits a plain 'append' with no delete file, so its own
    # history stays readable by read_changelog
    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    src = SnapshotTable(str(tmp_path / 'src'))
    mv = SnapshotTable(str(tmp_path / 'mv'))
    src.append(_docs(spark, 'a', n=6))
    src.append(_docs(spark, 'b', n=2))
    v = refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    assert mv.snapshot(v)['operation'] == 'append'
    assert not mv.snapshot(v).get('deletes')
    assert not [n for n in os.listdir(mv.data_dir)
                if n.endswith('-del.parquet')]
    assert mv.read_changelog(spark, 0).count() == 8
    # a window holding a delete commit takes the CDC path
    src.delete_keys(spark, spark.createDataFrame([Row(doc_id=1)]),
                    ['doc_id'])
    v = refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    assert mv.snapshot(v)['operation'] == 'cdc-refresh'
    assert {r.doc_id for r in mv.read(spark).collect()} == {0, 2, 3, 4, 5}


def test_compact_racing_mor_delete_rebases_not_drops(spark, tmp_path):
    # a delete_keys landing between compact's base read and its claim
    # changes NO data-file path — the path-set check alone would let
    # the stale rewrite commit and silently DROP the pending delete.
    # The deletes-list validator must force a rebase instead.
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    interloper = SnapshotTable(str(tmp_path / 't'))
    orig_claim = t._claim_version
    fired = {}

    def claim(version, manifest):
        if not fired:
            fired['x'] = True
            interloper.delete_keys(
                spark, spark.createDataFrame([Row(doc_id=3)]),
                ['doc_id'])
        return orig_claim(version, manifest)
    t._claim_version = claim
    t.compact(spark)
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == set(range(8)) - {3}  # the takedown survived compact
    assert not t.snapshot().get('deletes')  # and was materialized


def test_delete_where_racing_mor_delete_rebases(spark, tmp_path):
    # same interleave against delete_where: without the validator the
    # rewritten files' fresh seq would EXEMPT them from the racing
    # delete, resurrecting its rows inside the touched files
    t = SnapshotTable(str(tmp_path / 't'))
    t.append(_docs(spark, 'a', n=8))
    interloper = SnapshotTable(str(tmp_path / 't'))
    orig_claim = t._claim_version
    fired = {}

    def claim(version, manifest):
        if not fired:
            fired['x'] = True
            interloper.delete_keys(
                spark, spark.createDataFrame([Row(doc_id=2)]),
                ['doc_id'])
        return orig_claim(version, manifest)
    t._claim_version = claim
    t.delete_where(spark, F.col('doc_id') >= 6)
    got = {r.doc_id for r in t.read(spark).collect()}
    assert got == {0, 1, 3, 4, 5}  # both deletes hold


def test_legacy_ordinal_date_stats_never_prune(spark, tmp_path):
    # pre-v2 manifests stored DATE stats as day ordinals; a
    # micros-normalized temporal probe must treat such bounds as
    # undecidable and KEEP the file (regression for the round-6
    # stats re-encoding)
    import datetime
    from ocrodjvu_spark.plans.snapstore import file_may_match
    legacy = {'path': 'data/x.parquet', 'rows': 10,
              'stats': {'d': [738900, 738910]}}  # day ordinals, no sv
    probe = [('d', '=', datetime.date(2024, 1, 22))]
    assert file_may_match(legacy, probe)         # kept: undecidable
    assert file_may_match(legacy, [('d', '<', datetime.datetime(
        2024, 1, 1))])                           # any direction kept
    # v2 stats (micros) prune normally
    import time as _t
    lo = datetime.datetime(2024, 1, 20,
                           tzinfo=datetime.timezone.utc).timestamp()
    hi = datetime.datetime(2024, 1, 21,
                           tzinfo=datetime.timezone.utc).timestamp()
    v2 = {'path': 'data/y.parquet', 'rows': 10, 'sv': 2,
          'stats': {'d': [int(lo * 1e6), int(hi * 1e6)]}}
    assert not file_may_match(v2, probe)         # provably outside
    # non-temporal probes on legacy entries still prune
    assert not file_may_match(legacy, [('d', '>', 10**9)])


def test_arrow_append_records_what_a_dataframe_append_does(spark, tmp_path):
    # a pyarrow.Table is written by the driver as one file, with no SQL
    # execution, and records the manifest schema JSON, row count, stats
    # and NDV registers that a DataFrame append of the same rows records
    import datetime
    import pyarrow as pa
    ts = datetime.datetime(2024, 3, 1, 12, tzinfo=datetime.timezone.utc)
    table = pa.Table.from_arrays(
        [pa.array([0, 1, None], pa.int32()),
         pa.array([5, 7, 0], pa.int64()),
         pa.array(['a', None, 'c']),
         pa.array([ts] * 3, pa.timestamp('us', 'UTC'))],
        schema=pa.schema([
            pa.field('bucket', pa.int32()),
            pa.field('n', pa.int64(), nullable=False),
            pa.field('s', pa.string()),
            pa.field('run_ts', pa.timestamp('us', 'UTC'),
                     nullable=False)]))
    by_frame = SnapshotTable(str(tmp_path / 'frame'), ndv_cols=['bucket'],
                             ndv_p=4)
    by_frame.append(spark.createDataFrame(table).coalesce(1))
    by_arrow = SnapshotTable(str(tmp_path / 'arrow'))
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    n_executions = store.executionsList().size()
    by_arrow.append(table)
    bus.waitUntilEmpty()
    assert store.executionsList().size() == n_executions
    assert by_arrow.snapshot()['schema'] == by_frame.snapshot()['schema']
    # NDV registers are built by Spark over the driver-written file
    sketched = SnapshotTable(by_arrow.root, ndv_cols=['bucket'], ndv_p=4)
    sketched.append(table)

    def entry(t):
        f = t.snapshot()['files'][-1]
        return f['rows'], f['stats'], f['ndv']

    assert entry(sketched) == entry(by_frame)
    assert sorted(by_arrow.read(spark).collect(), key=str) == sorted(
        by_frame.read(spark).collect() * 2, key=str)
    with pytest.raises(ValueError):
        by_arrow.append(table, partition_col='bucket')


def test_refresh_rejects_hidden_partitioned_sink(spark, tmp_path):
    # the refresh stages its rows unpartitioned, so a sink with a
    # partition transform must refuse them as an unpartitioned append
    # does, before anything is staged
    import datetime

    from ocrodjvu_spark.plans.snapstore import refresh_incremental
    day0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = spark.createDataFrame([
        Row(doc_id=i, ts=day0 + datetime.timedelta(days=i % 2))
        for i in range(4)])
    src = SnapshotTable(str(tmp_path / 'src'))
    src.append(rows)
    mv = SnapshotTable(str(tmp_path / 'mv'))
    mv.append(rows.where('doc_id < 2'), partition_col='ts',
              partition_transform='day')
    staged = sorted(os.listdir(mv.data_dir))
    with pytest.raises(ValueError,
                       match=r"table is hidden-partitioned \('day'\)"):
        mv.append(rows)
    with pytest.raises(ValueError,
                       match=r"table is hidden-partitioned \('day'\)"):
        refresh_incremental(spark, src, mv, lambda df: df, ['doc_id'])
    assert mv.current_version() == 1
    assert sorted(os.listdir(mv.data_dir)) == staged


def test_changelog_of_a_delete_on_an_empty_table_is_empty(spark, tmp_path):
    # nothing was visible before the delete, so it removed no row
    t = SnapshotTable(str(tmp_path / 't'))
    t.delete_keys(spark, spark.createDataFrame([Row(doc_id=1)]),
                  ['doc_id'])
    assert t.read_changelog(spark, 0) is None
