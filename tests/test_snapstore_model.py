"""Model-based randomized testing of the snapshot table: arbitrary
operation sequences must keep HEAD equal to a pure-Python model, every
data file referenced by some snapshot, and partition pruning exact."""

import os
import random
from collections import Counter

from pyspark.sql import Row, functions as F

from ocrodjvu_spark.plans.snapstore import SnapshotTable, refresh_incremental

N_BUCKETS = 3


def _batch(spark, rng, tag):
    rows = [(rng.randrange(1000), rng.randrange(N_BUCKETS), tag)
            for _ in range(rng.randrange(1, 8))]
    df = spark.createDataFrame(
        [Row(doc_id=d, bucket=b, ver=v) for d, b, v in rows])
    return df, rows


def _table_rows(spark, t):
    df = t.read(spark)
    if df is None:
        return Counter()
    return Counter((r.doc_id, r.bucket, r.ver) for r in df.collect())


def _check_invariants(spark, t, model):
    assert _table_rows(spark, t) == model
    # every on-disk file referenced by some snapshot (no orphans, no
    # dangling references); delete files count as referenced
    on_disk = {f'data/{n}' for n in os.listdir(t.data_dir)
               if n.endswith('.parquet')}
    referenced = set()
    for v in t.versions():
        m = t.snapshot(v)
        referenced |= {f['path'] for f in m['files']}
        referenced |= {d['path'] for d in (m.get('deletes') or [])}
    assert on_disk == referenced
    # manifest pruning returns exactly the bucket's rows
    if model:
        some_bucket = next(iter(model))[1]
        pruned = t.read(spark, partition_values=[some_bucket])
        want = Counter((d, b, v) for (d, b, v) in model.elements()
                       if b == some_bucket)
        got = Counter() if pruned is None else Counter(
            (r.doc_id, r.bucket, r.ver) for r in pruned.collect())
        assert got == want
    # stats skipping is file-level-conservative: pruned read + the
    # row filter must equal the model filtered, whatever the layout
    if model:
        cut = next(iter(model))[0]
        skipped = t.read(spark, stats_filters=[('doc_id', '>=', cut)])
        want = Counter((d, b, v) for (d, b, v) in model.elements()
                       if d >= cut)
        got = Counter() if skipped is None else Counter(
            (r.doc_id, r.bucket, r.ver)
            for r in skipped.where(F.col('doc_id') >= cut).collect())
        assert got == want


def test_random_operation_sequences_match_model(spark, tmp_path):
    for seed in (3, 17):
        rng = random.Random(seed)
        t = SnapshotTable(str(tmp_path / f't{seed}'))
        model = Counter()
        ops_run = []
        for step in range(10):
            op = rng.choice(
                ['append', 'append', 'replace', 'delete', 'compact',
                 'expire', 'merge', 'delete_pruned', 'cluster',
                 'delete_keys', 'delete_positions'])
            ops_run.append(op)
            if op == 'append':
                df, rows = _batch(spark, rng, f's{step}')
                t.append(df, partition_col='bucket')
                model.update(rows)
            elif op == 'replace':
                df, rows = _batch(spark, rng, f's{step}')
                t.replace_partitions(df, 'bucket')
                replaced = {b for _, b, _ in rows}
                model = Counter({k: n for k, n in model.items()
                                 if k[1] not in replaced})
                model.update(rows)
            elif op == 'delete':
                if not model:
                    continue
                m = rng.randrange(2, 5)
                t.delete_where(spark, F.col('doc_id') % m == 0,
                               partition_col='bucket')
                model = Counter({k: n for k, n in model.items()
                                 if k[0] % m != 0})
            elif op == 'merge':
                # key-unique source; update replaces EVERY target row
                # sharing the doc_id, insert adds unmatched keys
                df, rows = _batch(spark, rng, f's{step}')
                uniq = {}
                for d, b, v in rows:
                    uniq[d] = (d, b, v)
                rows = list(uniq.values())
                df = spark.createDataFrame(
                    [Row(doc_id=d, bucket=b, ver=v) for d, b, v in rows])
                t.merge_into(spark, df, ['doc_id'],
                             partition_col='bucket')
                keys = {d for d, _, _ in rows}
                model = Counter({k: n for k, n in model.items()
                                 if k[0] not in keys})
                model.update(rows)
            elif op == 'delete_keys':
                # merge-on-read equality delete of EXISTING matching
                # rows; later appends are free to re-add the keys
                if not model:
                    continue
                m = rng.randrange(2, 5)
                keys = sorted({d for (d, _b, _v) in model
                               if d % m == 0})
                if not keys:
                    continue
                t.delete_keys(spark, spark.createDataFrame(
                    [Row(doc_id=k) for k in keys]), ['doc_id'])
                model = Counter({k: n for k, n in model.items()
                                 if k[0] % m != 0})
            elif op == 'delete_positions':
                # merge-on-read position delete via predicate
                if not model:
                    continue
                m = rng.randrange(2, 5)
                t.delete_positions(spark, F.col('doc_id') % m == 1)
                model = Counter({k: n for k, n in model.items()
                                 if k[0] % m != 1})
            elif op == 'delete_pruned':
                if not model:
                    continue
                cut = rng.randrange(1000)
                t.delete_where(spark, F.col('doc_id') >= cut,
                               partition_col='bucket',
                               prune_filters=[('doc_id', '>=', cut)])
                model = Counter({k: n for k, n in model.items()
                                 if k[0] < cut})
            elif op == 'cluster':
                t.compact(spark, partition_col='bucket',
                          cluster_by=['doc_id'])
            elif op == 'compact':
                t.compact(spark, partition_col='bucket')
            elif op == 'expire':
                t.expire_snapshots(keep_last=2)
            _check_invariants(spark, t, model)
        assert len(ops_run) == 10, ops_run


def test_changelog_replay_reconstructs_every_version(spark, tmp_path):
    """Randomized append / delete_keys / delete_positions histories:
    replaying read_changelog(0, v) must reconstruct read(version=v)
    exactly, for every v — the CDC-consumer contract. A keyed view
    refreshed after every step, and one refreshed once over the whole
    history, must equal the transform of the visible state. Every
    delete here removes all rows sharing a doc_id, so doc_id serves
    as the views' key even where it repeats."""
    def transform(df):
        return df.where(F.col('bucket') != 0).select('doc_id', 'ver')

    def view_rows(df):
        return Counter() if df is None else Counter(
            (r.doc_id, r.ver) for r in df.collect())

    def refreshed(view):
        refresh_incremental(spark, t, view, transform, ['doc_id'])
        want = t.read(spark)
        assert view_rows(view.read(spark)) == view_rows(
            None if want is None else transform(want))

    for seed in (5, 23):
        rng = random.Random(seed)
        t = SnapshotTable(str(tmp_path / f'cl{seed}'))
        step_view = SnapshotTable(str(tmp_path / f'mv{seed}'))
        t.append(_batch(spark, rng, 's0')[0])
        refreshed(step_view)
        for step in range(1, 6):
            op = rng.choice(['append', 'delete_keys',
                             'delete_positions'])
            if op == 'append':
                t.append(_batch(spark, rng, f's{step}')[0])
            elif op == 'delete_keys':
                m = rng.randrange(2, 5)
                t.delete_keys(
                    spark,
                    spark.createDataFrame(
                        [Row(doc_id=k) for k in range(0, 1000, m)]),
                    ['doc_id'])
            else:
                m = rng.randrange(2, 5)
                t.delete_positions(spark, F.col('doc_id') % m == 1)
            refreshed(step_view)
        refreshed(SnapshotTable(str(tmp_path / f'whole{seed}')))
        for v in t.versions():
            log = t.read_changelog(spark, 0, v)
            replay = Counter()
            if log is not None:
                for r in sorted(log.collect(),
                                key=lambda r: r['_commit_version']):
                    key = (r.doc_id, r.bucket, r.ver)
                    if r['_change_type'] == 'insert':
                        replay[key] += 1
                    else:
                        # one delete event per removed row INSTANCE
                        replay[key] -= 1
                        if replay[key] == 0:
                            del replay[key]
            visible = Counter()
            df = t.read(spark, version=v)
            if df is not None:
                visible = Counter((r.doc_id, r.bucket, r.ver)
                                  for r in df.collect())
            assert replay == visible, f'seed {seed} v{v}'
