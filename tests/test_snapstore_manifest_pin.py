"""Pin the snapshot store's metadata documents.

One scripted history runs on a temp table (every write operation, a
ref, expiry over tagged versions and an orphan sweep) and every
``v<N>.json``, ``m-*.json``, ``x<N>.json`` and ``r-*.json`` document it
writes is compared with ``tests/data/snapstore_manifests.json``, as
text, key order included.

Four things a run cannot reproduce are normalized away:

* uuid-derived names (``data/<uuid>-<i>.parquet``, ``<uuid>-del``,
  ``manifests/m-<uuid>.json``) are renumbered ``u<k>`` by first
  appearance;
* ``committed_at`` (a wall-clock stamp) is dropped;
* a manifest list and a manifest file's entries are sorted by their
  content without the path, because the store orders carried manifests
  by their uuid names;
* a manifest list item's ``stats`` keys are sorted (the store has
  collected them in a set).

Adaptive query execution is off during the history: it re-plans a join
from whichever shuffle stage finishes first, so the number of files a
rewrite writes would follow timing.

Regenerate the expected file (only for an intended format change) with
``python tests/test_snapstore_manifest_pin.py``.
"""

import datetime
import json
import os
import re

import pyarrow as pa
from pyspark.sql import Row, functions as F

from ocrodjvu_spark.plans.snapstore import SnapshotTable

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        'data', 'snapstore_manifests.json')
_UUID_NAME = re.compile(r'[0-9a-f]{32}(?:-\d+)?')
_DOC_NAME = re.compile(r'[vx]\d+\.json|r-.+\.json')
_DAY0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _rows(spark, ids, day_of):
    """One row per id, ``ts`` on day ``day_of(id)`` (distinct values per
    id, so every staged file has distinct stats)."""
    return spark.createDataFrame([
        Row(id=i,
            ts=_DAY0 + datetime.timedelta(days=day_of(i), minutes=i),
            score=i * 0.5,
            body=f'turn {i:03d}')
        for i in ids])


def _content_key(item):
    return json.dumps({k: v for k, v in item.items() if k != 'path'},
                      sort_keys=True)


class _Pin:
    """Collects the normalized documents of one or more tables."""

    def __init__(self):
        self.names = {}
        self.seen = set()
        self.steps = []

    def norm(self, value):
        text = json.dumps(value)
        return json.loads(_UUID_NAME.sub(
            lambda m: self.names.setdefault(m.group(),
                                            f'u{len(self.names)}'),
            text))

    def _doc(self, t, rel):
        with open(os.path.join(t.root, rel), encoding='utf-8') as fh:
            doc = json.load(fh)
        doc.pop('committed_at', None)
        for m in doc.get('manifest_list', ()):
            if 'stats' in m:
                m['stats'] = dict(sorted(m['stats'].items()))
        for key in ('manifest_list', 'entries'):
            if key in doc:
                doc[key] = sorted(doc[key], key=_content_key)
        return doc

    def step(self, label, t, result=None):
        """Record ``result`` and every document ``t`` gained since the
        last step, in a canonical order: versions ascending, each
        followed by the manifest files it adds, then tombstones and
        refs."""
        docs = {}

        def add(rel):
            self.seen.add(os.path.join(t.root, rel))
            doc = self._doc(t, rel)
            docs[self.norm(rel)] = self.norm(doc)
            return doc

        names = [n for n in os.listdir(t.manifest_dir)
                 if _DOC_NAME.fullmatch(n)
                 and os.path.join(t.manifest_dir, n) not in self.seen]
        order = {'v': 0, 'x': 1}
        for n in sorted(names, key=lambda n: (
                order.get(n[0], 2),
                int(n[1:-5]) if n[0] in order else 0, n)):
            doc = add(f'manifests/{n}')
            for m in doc.get('manifest_list', ()):
                if os.path.join(t.root, m['path']) not in self.seen:
                    add(m['path'])
        self.steps.append({'step': label,
                           'table': os.path.basename(t.root),
                           'result': self.norm(result),
                           'documents': docs})

    def listing(self, t):
        return {d: sorted(self.norm(f'{d}/{n}')
                          for n in os.listdir(os.path.join(t.root, d)))
                for d in ('manifests', 'data')}


def run_history(spark, root):
    """The scripted history; returns the normalized record."""
    key = 'spark.sql.adaptive.enabled'
    adaptive = spark.conf.get(key)
    spark.conf.set(key, 'false')
    try:
        return _history(spark, root)
    finally:
        spark.conf.set(key, adaptive)


def _history(spark, root):
    pin = _Pin()
    t = SnapshotTable(os.path.join(root, 't'))
    pin.step('append day-partitioned', t, t.append(
        _rows(spark, range(12), lambda i: i // 4).repartition(2, 'id'),
        partition_col='ts', partition_transform='day', tag='batch-1'))
    pin.step('append', t, t.append(
        _rows(spark, range(12, 18), lambda i: 2 + (i - 12) // 3)
        .coalesce(1), partition_col='ts', tag='batch-2'))
    pin.step('replace_partitions', t, t.replace_partitions(
        _rows(spark, range(100, 104), lambda i: 1).coalesce(1), 'ts'))
    pin.step('delete_keys', t, t.delete_keys(
        spark, spark.createDataFrame([Row(id=1), Row(id=13)]), ['id']))
    pin.step('delete_positions', t, t.delete_positions(
        spark, F.col('id') == 9))
    pin.step('delete_where', t, t.delete_where(
        spark, F.col('id') >= 16, partition_col='ts',
        prune_filters=[('id', '>=', 16)]))
    pin.step('merge_into', t, t.merge_into(
        spark, _rows(spark, [2, 200], lambda i: 0).coalesce(1), ['id'],
        partition_col='ts'))
    pin.step('compact', t, t.compact(
        spark, partition_col='ts', zorder_by=['id', 'score']))
    t.set_ref('published', 7)
    pin.step('set_ref', t)
    pin.step('expire_snapshots', t, sorted(
        pin.norm(t.expire_snapshots(keep_last=2))))
    os.makedirs(os.path.join(t.data_dir, '.stage-deadbeef'))
    for rel in ('data/orphan.parquet', 'manifests/m-orphan.json'):
        with open(os.path.join(t.root, rel), 'w') as fh:
            fh.write('{}')
    pin.step('remove_orphans', t, sorted(
        pin.norm(t.remove_orphans(older_than_sec=0))))
    side = SnapshotTable(os.path.join(root, 'side'))
    for i, tag in enumerate((None, 'sidecar-1')):
        pin.step('append arrow', side, side.append(pa.table(
            {'bucket': pa.array([i, i + 10], pa.int32()),
             'n_rows': pa.array([5 + i, 7], pa.int64())}), tag=tag))
    return {'steps': pin.steps,
            'listing': {'t': pin.listing(t), 'side': pin.listing(side)}}


def _text(record):
    """The record as JSON lines, with each list of scalars and each
    innermost object on one line."""
    text = re.sub(r'\[\s+([^\[\]{}]*?)\s+\]',
                  lambda m: '[' + re.sub(r',\s+', ', ', m.group(1)) + ']',
                  json.dumps(record, indent=1))
    return re.sub(r'\{\n([^{}]*?)\n *\}',
                  lambda m: '{' + ' '.join(
                      line.strip() for line in m.group(1).split('\n')) + '}',
                  text).splitlines()


def test_manifest_documents_match_the_pin(spark, tmp_path):
    with open(EXPECTED, encoding='utf-8') as fh:
        expected = json.load(fh)
    assert _text(run_history(spark, str(tmp_path))) == _text(expected)


if __name__ == '__main__':
    import tempfile

    from ocrodjvu_spark.session import get_spark
    session = get_spark('manifest-pin', cpus=4, shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as tmp:
        record = run_history(session, tmp)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, 'w', encoding='utf-8') as fh:
        fh.write('\n'.join(_text(record)) + '\n')
    print('wrote', EXPECTED)
