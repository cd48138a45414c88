"""Admin CLI for snapshot-manifest tables (plans/snapstore.py).

Usage:
    python tools/snapshot_admin.py <table_root> log
    python tools/snapshot_admin.py <table_root> describe [--version N]
    python tools/snapshot_admin.py <table_root> show [--version N] [-n N]
    python tools/snapshot_admin.py <table_root> compact [--partition-col C]
        [--cluster-by A,B | --zorder-by A,B] [--target-partitions N]
    python tools/snapshot_admin.py <table_root> changelog --from N [--to M]
    python tools/snapshot_admin.py <table_root> manifests [--version N]
    python tools/snapshot_admin.py <table_root> diff --from N [--to M]
    python tools/snapshot_admin.py <table_root> ndv <column> [--ndv-p P]
    python tools/snapshot_admin.py <table_root> expire [--keep-last N]
    python tools/snapshot_admin.py <table_root> orphans [--older-than-sec S]
    python tools/snapshot_admin.py <table_root> refs | set-ref <name> <V>
        | drop-ref <name>

`log` / `describe` are metadata-only (no Spark); `show` / `compact` /
`changelog` start a local session. `changelog` prints the row changes
of an append / merge-on-read-delete window as insert and delete
events. A path without a manifests/ directory is rejected (the CLI
never creates a table as a side effect of a typo), and a request the
table rejects (say, `changelog` across a rewrite commit) prints one
`error:` line and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    parser = argparse.ArgumentParser(
        description='snapshot-manifest table admin')
    parser.add_argument('root')
    sub = parser.add_subparsers(dest='cmd', required=True)
    sub.add_parser('log')
    p = sub.add_parser('describe')
    p.add_argument('--version', type=int, default=None)
    p = sub.add_parser('show')
    p.add_argument('--version', type=int, default=None)
    p.add_argument('-n', type=int, default=20)
    p = sub.add_parser('compact')
    p.add_argument('--partition-col', default=None)
    p.add_argument('--cluster-by', default=None,
                   help='comma-separated sort columns (tight file ranges)')
    p.add_argument('--zorder-by', default=None,
                   help='comma-separated z-order columns '
                        '(multi-dimensional skipping)')
    p.add_argument('--target-partitions', type=int, default=1)
    p = sub.add_parser('changelog')
    p.add_argument('--from', dest='from_version', type=int, required=True)
    p.add_argument('--to', dest='to_version', type=int, default=None)
    p.add_argument('-n', type=int, default=20)
    p = sub.add_parser('manifests')
    p.add_argument('--version', type=int, default=None)
    p = sub.add_parser('diff')
    p.add_argument('--from', dest='from_version', type=int, required=True)
    p.add_argument('--to', dest='to_version', type=int, default=None)
    p = sub.add_parser('ndv')
    p.add_argument('column')
    p.add_argument('--ndv-p', type=int, default=None,
                   help='override the recorded register exponent')
    p = sub.add_parser('expire')
    p.add_argument('--keep-last', type=int, default=1)
    p = sub.add_parser('orphans')
    p.add_argument('--older-than-sec', type=float, default=3600.0)
    sub.add_parser('refs')
    p = sub.add_parser('set-ref')
    p.add_argument('name')
    p.add_argument('version', type=int)
    p = sub.add_parser('drop-ref')
    p.add_argument('name')
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(args.root, 'manifests')):
        print(f'error: {args.root} is not a snapshot table '
              '(no manifests/ directory)', file=sys.stderr)
        return 1

    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    try:
        return _run(args, SnapshotTable(args.root))
    except ValueError as exc:  # the table rejected the request
        print(f'error: {exc}', file=sys.stderr)
        return 1


def _run(args, t):
    if args.cmd == 'log':
        import datetime
        for v in t.versions():
            m = t.snapshot(v)
            rows = sum(f.get('rows', 0) for f in m['files'])
            tag = f" tag={m['tag']}" if m.get('tag') else ''
            at = m.get('committed_at')
            when = ('' if at is None else datetime.datetime
                    .fromtimestamp(at, datetime.timezone.utc)
                    .strftime('  %Y-%m-%d %H:%M:%SZ'))
            s = m.get('summary')
            delta = ('' if not s else
                     f"  (+{s['added_files']}f/+{s['added_rows']}r"
                     f" -{s['removed_files']}f/-{s['removed_rows']}r)")
            print(f"v{v}  {m['operation']:<20} "
                  f"files={len(m['files']):>4} rows={rows:>10}"
                  f"{when}{delta}{tag}")
        return 0

    if args.cmd == 'describe':
        print(json.dumps(t.snapshot(args.version), indent=2))
        return 0

    if args.cmd == 'ndv':
        # metadata-only: approx COUNT(DISTINCT) from manifest
        # sketches; p comes from the table's recorded write props
        # unless overridden
        from ocrodjvu_spark.plans.snapstore import SnapshotTable
        tn = SnapshotTable(args.root, ndv_p=args.ndv_p)
        est = tn.ndv(args.column)
        if est is None:
            print(f'no complete ndv sketch for {args.column!r} '
                  '(write with ndv_cols to record one)',
                  file=sys.stderr)
            return 1
        print(f'{args.column}: ~{est:.0f} distinct '
              f"(zero data I/O, p={tn.write_props()['ndv_p']})")
        return 0

    if args.cmd == 'manifests':
        # metadata-only: the snapshot's manifest list with per-manifest
        # aggregates
        doc = t._snapshot_doc(args.version)
        mlist = doc['manifest_list']
        print(f"v{doc['version']}: {len(mlist)} manifest files")
        for m in mlist:
            part = (f" partition={m['partition']}" if m.get('uniform')
                    else ' (mixed partitions)')
            print(f"  {m['path']}  files={m['n_files']:>4} "
                  f"rows={m['rows']:>10}{part}")
        for d in (doc.get('deletes') or []):
            kind = ('positions' if d.get('positions')
                    else f"keys={d['key_cols']}")
            print(f"  [pending delete] {d['path']} rows={d['rows']} "
                  f"seq={d['seq']} {kind}")
        return 0

    if args.cmd == 'diff':
        # metadata-only: file/row delta between two snapshots
        a = t.snapshot(args.from_version)
        b = t.snapshot(args.to_version)
        af = {f['path']: f for f in a['files']}
        bf = {f['path']: f for f in b['files']}
        added = [p for p in bf if p not in af]
        removed = [p for p in af if p not in bf]
        print(f"v{a['version']} -> v{b['version']}: "
              f"+{len(added)} files ({sum(bf[p]['rows'] for p in added)} "
              f"rows), -{len(removed)} files "
              f"({sum(af[p]['rows'] for p in removed)} rows)")
        for p in added:
            print(f'  + {p} rows={bf[p]["rows"]} '
                  f'partition={bf[p].get("partition")}')
        for p in removed:
            print(f'  - {p} rows={af[p]["rows"]} '
                  f'partition={af[p].get("partition")}')
        if a.get('schema') != b.get('schema'):
            print('  schema changed')
        return 0

    if args.cmd == 'expire':
        deleted = t.expire_snapshots(keep_last=args.keep_last)
        print(f'expired: {len(deleted)} data files reclaimed; '
              f'versions kept: {t.versions()}')
        return 0

    if args.cmd == 'refs':
        for name, v in sorted(t.refs().items()):
            print(f'{name} -> v{v}')
        return 0

    if args.cmd == 'set-ref':
        t.set_ref(args.name, args.version)
        print(f'{args.name} -> v{args.version}')
        return 0

    if args.cmd == 'drop-ref':
        t.drop_ref(args.name)
        print(f'dropped {args.name}')
        return 0

    if args.cmd == 'orphans':
        removed = t.remove_orphans(older_than_sec=args.older_than_sec)
        print(f'orphans reclaimed: {len(removed)}')
        for rel in removed:
            print(f'  {rel}')
        return 0

    from ocrodjvu_spark.session import get_spark
    spark = get_spark('snapshot-admin', cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel('ERROR')

    if args.cmd == 'show':
        df = t.read(spark, args.version)
        if df is None:
            print('(empty table)')
            return 0
        df.show(args.n, truncate=40)
        print('rows:', df.count())
        return 0

    if args.cmd == 'compact':
        split = lambda s: [c for c in s.split(',') if c] if s else None
        v = t.compact(spark, partition_col=args.partition_col,
                      cluster_by=split(args.cluster_by),
                      zorder_by=split(args.zorder_by),
                      target_partitions=args.target_partitions)
        print(f'compacted -> v{v} '
              f'({len(t.snapshot(v)["files"])} files)')
        return 0

    if args.cmd == 'changelog':
        df = t.read_changelog(spark, args.from_version, args.to_version)
        if df is None:
            print('(no changes in window)')
            return 0
        df.orderBy('_commit_version').show(args.n, truncate=40)
        from pyspark.sql import functions as SF
        counts = {r['_change_type']: r['n'] for r in
                  df.groupBy('_change_type')
                    .agg(SF.count('*').alias('n')).collect()}
        print(f"inserts: {counts.get('insert', 0)}  "
              f"deletes: {counts.get('delete', 0)}")
        return 0

    return 2


if __name__ == '__main__':
    raise SystemExit(main())
