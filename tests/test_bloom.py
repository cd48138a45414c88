"""Bloom filter: no-false-negative property, pure-Python bit-level
equivalence, and the plan shapes the scale story relies on."""

import random

from pyspark.sql import Row, functions as F

from ocrodjvu_spark.functions import bloom
from ocrodjvu_spark.functions.textops import HASH_MOD


def _ref_hash(s):
    acc = 0
    for c in s:
        acc = (acc * 31 + ord(c)) % HASH_MOD
    return acc


def _ref_positions(key, k, m):
    h1 = _ref_hash(key)
    h2 = (h1 * bloom.H2_MUL + bloom.H2_ADD) % HASH_MOD
    return [(h1 + i * h2 + i * i) % m for i in range(k)]


def _ref_bloom(keys, k, m):
    bits = set()
    for key in keys:
        bits.update(_ref_positions(key, k, m))
    return bits


def _rand_keys(rng, n):
    return [''.join(rng.choice('abcdefgh')
                    for _ in range(rng.randrange(2, 8)))
            for _ in range(n)]


def test_no_false_negatives(spark):
    rng = random.Random(7)
    keys = list(set(_rand_keys(rng, 80)))
    df = spark.createDataFrame([Row(key=x) for x in keys])
    filt = bloom.bloom_build(df, m_bits=512, k=3)
    got = {r.key: r.maybe_present
           for r in bloom.bloom_probe(df, filt).collect()}
    assert all(got[x] for x in keys)


def test_probe_matches_python_reference_bitwise(spark):
    # every probe outcome — including false positives — must equal the
    # reference bit-set simulation
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        members = list(set(_rand_keys(rng, 40)))
        probes = list(set(_rand_keys(rng, 60)) | set(members[:10]))
        m, k = 256, 3
        ref_bits = _ref_bloom(members, k, m)
        want = {p: all(pos in ref_bits for pos in _ref_positions(p, k, m))
                for p in probes}
        filt = bloom.bloom_build(
            spark.createDataFrame([Row(key=x) for x in members]),
            m_bits=m, k=k)
        got = {r.key: r.maybe_present for r in bloom.bloom_probe(
            spark.createDataFrame([Row(key=x) for x in probes]),
            filt).collect()}
        assert got == want, f'seed {seed}'
        # sanity: the parameters actually exercise the FP path
        fps = [p for p in probes if want[p] and p not in members]
        assert fps, f'seed {seed}: no false positives to check'


def test_duplicate_probe_keys_keep_no_false_negatives(spark):
    # regression: a duplicated probe key must not explode to 2k rows
    # and fail the count==k membership test
    keys = ['apple', 'pear']
    filt = bloom.bloom_build(
        spark.createDataFrame([Row(key=x) for x in keys]),
        m_bits=512, k=3)
    probes = spark.createDataFrame(
        [Row(key=x) for x in ['apple', 'apple', 'apple', 'pear']])
    got = {r.key: r.maybe_present
           for r in bloom.bloom_probe(probes, filt).collect()}
    assert got == {'apple': True, 'pear': True}


def test_incremental_dedup_prefilter_is_lossless(spark):
    # the bloom-prefiltered survivor set must equal the plain anti-join
    # (no-false-negative guarantee composed end-to-end), across seeds
    # where the filter does produce false positives
    from ocrodjvu_spark.functions import textops
    rng = random.Random(5)
    texts = [' '.join(_rand_keys(rng, rng.randrange(1, 6)))
             for _ in range(60)]
    texts += texts[:15]  # genuine cross/batch dupes
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    seen = (docs.where((docs.doc_id % 4) == 0)
            .select(F.md5(textops.norm_text())
                    .alias('content_hash')))
    filt = bloom.bloom_build(
        seen.select(seen.content_hash.alias('key')).distinct(),
        m_bits=128, k=3)
    plain = textops.incremental_dedup(docs, seen)
    fast = textops.incremental_dedup(docs, seen, bloom_filter=filt)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, fast.collect()))


def test_build_plan_has_partial_bitmap_aggregation(spark):
    # shuffle volume must be bounded by bitmap size: partial bit_or
    # before the exchange
    df = spark.createDataFrame([Row(key='a'), Row(key='b')])
    plan = (bloom.bloom_build(df, m_bits=256, k=3).bitmap
            ._jdf.queryExecution().executedPlan().toString())
    assert 'partial_bit_or' in plan


def test_probe_plan_broadcasts_bitmap(spark):
    df = spark.createDataFrame([Row(key='a'), Row(key='b')])
    filt = bloom.bloom_build(df, m_bits=256, k=3)
    plan = (bloom.bloom_probe(df, filt)
            ._jdf.queryExecution().executedPlan().toString())
    assert 'BroadcastHashJoin' in plan
