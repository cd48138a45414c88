"""Driver-contract parity: queries() vs oracle_sql() via DuckDB at sf0.001.

A fast in-suite replica of the driver's correctness gate (the full sweep
lives in tools/check_correctness.py and runs at sf0.01).
"""

import math
import sys

import duckdb
import pytest

sys.path.insert(0, '/root/repo')

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = '/root/testdata/sf0.001'
TABLES = ('region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings')

# fast representative subset (full sweep in tools/check_correctness.py)
SUBSET = (
    'extract_text', 'extract_word_spans', 'extract_sexpr',
    'conversation_reassembly', 'dedup_exact', 'dedup_minhash_lsh',
    'simhash', 'language_id', 'ann_cosine_topk',
    # sf-agnostic late-r5 gates (most snapshot gates carry sf0.01-tuned
    # in-gate pruning assertions and run only in the full sweep)
    'sampled_quantiles', 'jsonl_roundtrip',
    # the engine adapters and the uax29 gates through the one
    # extraction loop
    'extract_orf_gocr', 'extract_cuneiform', 'extract_uax29_thai',
)


@pytest.fixture(scope='module')
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def _norm(v):
    if isinstance(v, float):
        return 'nan' if math.isnan(v) else f'{v:.9g}'
    return v


def _rows(df):
    cols = sorted(df.columns)
    return cols, sorted(
        repr(tuple(_norm(r[c]) for c in cols))
        for r in df.to_dict('records'))


@pytest.mark.parametrize('name', SUBSET)
def test_query_matches_oracle(spark, ddb, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    s_cols, s_rows = _rows(fn(spark, SF_DIR).toPandas())
    o_cols, o_rows = _rows(ddb.execute(sql).df())
    assert s_cols == o_cols
    assert len(s_rows) == len(o_rows)
    assert s_rows == o_rows


def test_every_query_has_oracle_or_is_flagged():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles <= qs
    # all current queries are SQL-expressible; when a genuinely
    # non-SQL-expressible op lands, list it here explicitly
    assert qs == oracles


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert 'extracted_text' in df.columns


def test_vector_index_roundtrip_and_versioning(spark, tmp_path):
    from pyspark.sql import Row
    from ocrodjvu_spark.functions import similarity
    emb = spark.createDataFrame([
        Row(vec_id=i, embedding=[float(i % 3), float(i % 5), 1.0])
        for i in range(12)])
    cents = similarity.kmeans_centroids(emb)
    root = str(tmp_path / 'ivf')
    assert similarity.save_vector_index(spark, root, cents) == 1
    loaded, quant = similarity.load_vector_index(spark, root)
    assert quant == 1000
    assert loaded == {c: [int(x) for x in v] for c, v in cents.items()}
    # assignment under the loaded index == kmeans_labels' own final
    # assignment (identical tie-break contract)
    got = {(r.vec_id, r.cluster) for r in
           similarity.assign_to_centroids(emb, loaded).collect()}
    want = {(r.vec_id, r.cluster) for r in
            similarity.kmeans_labels(emb, k=8, iterations=3).collect()}
    assert got == want
    # publishing again bumps the version; the old pin stays readable
    assert similarity.save_vector_index(spark, root, {0: [1, 2, 3]}) == 2
    old, q1 = similarity.load_vector_index(spark, root, version=1)
    assert old == loaded and q1 == 1000
    new, q2 = similarity.load_vector_index(spark, root)
    assert new == {0: [1, 2, 3]} and q2 == 1000
