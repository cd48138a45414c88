"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and the matching
``oracle_sql()`` in DuckDB over the same parquet files, then compares
row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--json out]

``--json`` also records, for every gate (rows-only ones included), the
sha256 of the Spark side's column names and sorted normalized rows, so
two sweeps' row equality is a diff of their JSON files.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, '.')

TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings')


def normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return 'nan'
        return f'{v:.9g}'
    return v


def frame_to_rows(df):
    cols = sorted(df.columns)
    rows = [
        tuple(normalize_cell(row[c]) for c in cols)
        for row in df.to_dict('records')
    ]
    return cols, sorted(map(repr, rows))


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if '--json' in argv:
        i = argv.index('--json')
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else '/root/testdata/sf0.01'
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from ocrodjvu_spark.session import get_spark

    spark = get_spark('correctness-check', cpus=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        s_cols, s_rows = frame_to_rows(fn(spark, sf_dir).toPandas())
        digest = hashlib.sha256('\n'.join(
            [repr(s_cols), *s_rows]).encode()).hexdigest()
        entry = record[name] = {'rows': len(s_rows), 'sha256': digest}
        if name not in oracles:
            print(f'{name}: rows-only check, {len(s_rows)} rows')
            entry['status'] = 'rows-only'
            continue
        oracle_df = con.execute(oracles[name]).df()
        o_cols, o_rows = frame_to_rows(oracle_df)
        status = []
        if s_cols != o_cols:
            status.append(f'SCHEMA spark={s_cols} oracle={o_cols}')
        if len(s_rows) != len(o_rows):
            status.append(f'COUNT spark={len(s_rows)} oracle={len(o_rows)}')
        elif s_rows != o_rows:
            bad = next(
                (i for i, (a, b) in enumerate(zip(s_rows, o_rows))
                 if a != b), None)
            status.append(
                f'VALUES first diff at sorted row {bad}:\n'
                f'  spark : {s_rows[bad][:400]}\n'
                f'  oracle: {o_rows[bad][:400]}')
        if status:
            failures += 1
            print(f'{name}: FAIL', *status, sep='\n  ')
            entry.update(status='FAIL', detail=status)
        else:
            print(f'{name}: OK ({len(s_rows)} rows)')
            entry['status'] = 'OK'
    print('FAILURES:', failures)
    if json_out:
        import json as _json
        with open(json_out, 'w') as fh:
            _json.dump({'sf_dir': sf_dir, 'failures': failures,
                        'results': record}, fh, indent=1)
    return 1 if failures else 0


if __name__ == '__main__':
    raise SystemExit(main())
