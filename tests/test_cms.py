"""Count-Min Sketch: reference equivalence, one-sided error, merge
monoid, and plan shape."""

import random
from collections import Counter

from pyspark.sql import Row

from ocrodjvu_spark.functions import cms
from tests.oracles import reference_cms


def _rand_keys(rng, n, alphabet='abcde', lo=2, hi=6):
    return [''.join(rng.choice(alphabet)
                    for _ in range(rng.randrange(lo, hi)))
            for _ in range(n)]


def test_counters_and_estimates_match_reference(spark):
    for seed in (1, 2):
        rng = random.Random(seed)
        keys = _rand_keys(rng, 500)
        df = spark.createDataFrame([Row(key=x) for x in keys])
        sketch = cms.cms_build(df, w=32)
        ref_counters, ref_est = reference_cms(keys, d=3, w=32)
        got = {(r.row, r.pos): r.n for r in sketch.collect()}
        assert got == ref_counters, f'seed {seed}'
        probes = sorted(set(keys))
        est = {r.key: r.est for r in cms.cms_estimate(
            spark.createDataFrame([Row(key=x) for x in probes]),
            sketch, w=32).collect()}
        assert est == {k: ref_est(k) for k in probes}, f'seed {seed}'


def test_one_sided_error(spark):
    rng = random.Random(3)
    keys = _rand_keys(rng, 800)
    true = Counter(keys)
    df = spark.createDataFrame([Row(key=x) for x in keys])
    sketch = cms.cms_build(df, w=32)
    est = {r.key: r.est for r in cms.cms_estimate(
        spark.createDataFrame([Row(key=x) for x in sorted(true)]),
        sketch, w=32).collect()}
    assert all(est[k] >= n for k, n in true.items())
    # w=32 with ~hundreds of distinct keys must actually collide,
    # otherwise the test proves nothing
    assert any(est[k] > n for k, n in true.items())
    # absent key estimates are >= 0 and well-defined
    absent = {r.key: r.est for r in cms.cms_estimate(
        spark.createDataFrame([Row(key='zzzzzz')]),
        sketch, w=32).collect()}
    assert absent['zzzzzz'] >= 0


def test_build_plan_has_partial_count(spark):
    df = spark.createDataFrame([Row(key='a')])
    plan = (cms.cms_build(df, w=32)
            ._jdf.queryExecution().executedPlan().toString())
    assert 'partial_count' in plan
