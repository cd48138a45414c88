"""HyperLogLog: register-level equivalence vs the pure-Python
reference, merge-monoid property, and estimator accuracy."""

import random

from pyspark.sql import Row

from ocrodjvu_spark.functions import hll
from tests.oracles import reference_sketch


def _rand_keys(rng, n):
    return [''.join(rng.choice('abcdefghij')
                    for _ in range(rng.randrange(3, 10)))
            for _ in range(n)]


def test_sketch_matches_reference_randomized(spark):
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        keys = _rand_keys(rng, 300)
        df = spark.createDataFrame([Row(key=x) for x in keys])
        got = {r.register: r.max_rank
               for r in hll.hll_sketch(df, p=6).collect()}
        assert got == reference_sketch(keys, p=6), f'seed {seed}'


def test_estimate_within_tolerance(spark):
    # p=8 -> 256 registers, standard error ~6.5%; assert within 4 sigma
    rng = random.Random(4)
    keys = list(set(_rand_keys(rng, 3000)))
    df = spark.createDataFrame([Row(key=x) for x in keys])
    ranks = {r.register: r.max_rank
             for r in hll.hll_sketch(df, p=8).collect()}
    est = hll.estimate_from_ranks(ranks, p=8)
    rel = abs(est - len(keys)) / len(keys)
    assert rel < 4 * 1.04 / (256 ** 0.5), (est, len(keys))


def test_duplicates_do_not_change_sketch(spark):
    rng = random.Random(11)
    keys = _rand_keys(rng, 100)
    once = spark.createDataFrame([Row(key=x) for x in keys])
    thrice = spark.createDataFrame([Row(key=x) for x in keys * 3])
    assert sorted(map(tuple, hll.hll_sketch(once, p=6).collect())) == \
        sorted(map(tuple, hll.hll_sketch(thrice, p=6).collect()))


def test_sketch_plan_has_partial_max(spark):
    df = spark.createDataFrame([Row(key='a'), Row(key='b')])
    plan = (hll.hll_sketch(df, p=6)
            ._jdf.queryExecution().executedPlan().toString())
    assert 'partial_max' in plan
