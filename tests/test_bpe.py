"""Distributed BPE: randomized equivalence vs the pure-Python reference
trainer/tokenizer, plus the structural properties the bracketed
string-replace merge encoding relies on."""

import random
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from ocrodjvu_spark.functions import bpe
from tests.oracles import (
    reference_norm, reference_tokenize, reference_train)

_ALPHABET = 'abcd'


def _random_corpus(rng, n_docs=12, max_words=10, max_len=6):
    docs = []
    for _ in range(n_docs):
        words = [''.join(rng.choice(_ALPHABET)
                         for _ in range(rng.randrange(1, max_len)))
                 for _ in range(rng.randrange(1, max_words))]
        # messy whitespace + stray structural chars to exercise the
        # normalization both sides share
        sep = '  ' if rng.random() < 0.3 else ' '
        text = sep.join(words)
        if rng.random() < 0.2:
            text = ' ' + text + rng.choice('|<>/')
        docs.append(text)
    return docs


def _toks(toks_str):
    return re.findall('<([^<>]*)>', toks_str)


def test_train_matches_reference_randomized(spark):
    for seed in range(6):
        rng = random.Random(seed)
        texts = _random_corpus(rng)
        df = spark.createDataFrame([Row(doc_id=i, text=t)
                                    for i, t in enumerate(texts)])
        got = bpe.train(df, 8, min_count=1)
        want = reference_train(texts, 8, min_count=1)
        assert got == want, f'seed {seed}: {got} != {want}'


def test_tokenize_matches_reference_randomized(spark):
    rng = random.Random(99)
    texts = _random_corpus(rng, n_docs=20)
    df = spark.createDataFrame([Row(doc_id=i, text=t)
                                for i, t in enumerate(texts)])
    merges = bpe.train(df, 10, min_count=1)
    got = {r.doc_id: r for r in bpe.tokenize(df, merges).collect()}
    for i, t in enumerate(texts):
        want = reference_tokenize(t, merges)
        assert _toks(got[i].toks_str) == want, f'doc {i}'
        assert got[i].n_tokens == len(want)


def test_tokenize_roundtrip_decodes_to_text(spark):
    # lossless: stripping brackets recovers the normalized text with
    # word boundaries (the '/' marker) intact
    df = spark.createDataFrame(
        [Row(doc_id=0, text='  the fast   the fast key ')])
    merges = bpe.train(df, 4, min_count=1)
    row = bpe.tokenize(df, merges).head()
    decoded = (row.toks_str.replace(bpe.OPEN, '')
               .replace(bpe.CLOSE, '').replace(bpe.BOUND, ' '))
    assert decoded == 'the fast the fast key'


def test_merge_handles_runs_canonically(spark):
    # THE encoding trap a shared-separator representation fails:
    # consecutive occurrences of the merged pair. Brackets make each
    # match self-contained, so the replace chain is exactly one
    # canonical left-to-right pass.
    df = spark.createDataFrame([Row(doc_id=0, text='abab bbbbb aaa')])
    out = bpe.tokenize(df, [('a', 'b')]).head()
    assert out.toks_str == '<ab><ab>/<b><b><b><b><b>/<a><a><a>'
    out = bpe.tokenize(df, [('b', 'b')]).head()
    assert out.toks_str == '<a><b><a><b>/<bb><bb><b>/<a><a><a>'
    out = bpe.tokenize(df, [('a', 'a')]).head()
    assert out.toks_str == '<a><b><a><b>/<b><b><b><b><b>/<aa><a>'


def test_merge_never_crosses_word_boundary(spark):
    # pair ('a','b') adjacent across the boundary must not merge
    df = spark.createDataFrame([Row(doc_id=0, text='xa b ab')])
    out = bpe.tokenize(df, [('a', 'b')]).head()
    assert out.toks_str == '<x><a>/<b>/<ab>'


def test_merge_never_matches_token_suffix(spark):
    # after ('x','a') -> 'xa', a later ('a','b') merge must not match
    # the 'a' inside 'xa'
    df = spark.createDataFrame([Row(doc_id=0, text='xab')])
    out = bpe.tokenize(df, [('x', 'a'), ('a', 'b')]).head()
    assert out.toks_str == '<xa><b>'


def test_early_stop_below_min_count(spark):
    # every pair unique -> with min_count=2 nothing merges
    df = spark.createDataFrame([Row(doc_id=0, text='ab cd')])
    assert bpe.train(df, 5, min_count=2) == []
    assert bpe.train(df, 5, min_count=1) != []


@st.composite
def _words_and_merges(draw):
    words = draw(st.lists(
        st.text(alphabet='ab', min_size=1, max_size=8),
        min_size=1, max_size=6))
    # merges build progressively over the growing token alphabet, like
    # a real training run
    tokens = ['a', 'b']
    merges = []
    for _ in range(draw(st.integers(0, 6))):
        a = draw(st.sampled_from(tokens))
        b = draw(st.sampled_from(tokens))
        merges.append((a, b))
        tokens.append(a + b)
    return words, merges


@given(_words_and_merges())
@settings(max_examples=300, deadline=None)
def test_bracket_replace_equals_canonical_merge_pass(wm):
    # the load-bearing encoding claim, pinned without Spark: Python
    # str.replace has the same left-to-right non-overlapping semantics
    # as JVM replace, so simulating the bracketed encoding here proves
    # one replace('<a><b>' -> '<ab>') == one canonical merge pass for
    # ARBITRARY words and progressively-built merge tables (runs,
    # prefix tokens, repeated pairs included)
    words, merges = wm
    for w in words:
        s = ''.join(f'<{c}>' for c in w)
        toks = list(w)
        for a, b in merges:
            s = s.replace(f'<{a}><{b}>', f'<{a}{b}>')
            toks = bpe._merge_pass(toks, a, b)
        assert re.findall('<([^<>]*)>', s) == toks, (w, merges)


def test_plan_is_map_only_jvm(spark):
    # the apply path must stay inside whole-stage codegen: no
    # BatchEvalPython/ArrowEvalPython, no shuffle
    df = spark.createDataFrame([Row(doc_id=0, text='ab cd')])
    plan = (bpe.tokenize(df, [('a', 'b')])
            ._jdf.queryExecution().executedPlan().toString())
    assert 'EvalPython' not in plan
    assert 'Exchange' not in plan


def test_distributed_and_local_train_paths_agree(spark):
    # max_local_state=0 forces the per-merge distributed loop; both
    # paths must produce the identical merge table (same tie-breaks)
    for seed in (7, 8):
        rng = random.Random(seed)
        texts = _random_corpus(rng)
        df = spark.createDataFrame([Row(doc_id=i, text=t)
                                    for i, t in enumerate(texts)])
        local = bpe.train(df, 8, min_count=1)
        dist = bpe.train(df, 8, min_count=1, max_local_state=0)
        assert local == dist == reference_train(
            texts, 8, min_count=1), f'seed {seed}'


def test_train_from_counts_matches_reference_many_merges(spark):
    # deep merge run: the incremental index must stay consistent as
    # merged tokens themselves merge again (runs, overlaps, singletons)
    for seed in range(4):
        rng = random.Random(100 + seed)
        texts = _random_corpus(rng)
        from collections import Counter
        counts = Counter()
        for t in texts:
            for w in reference_norm(t).split(' '):
                if w:
                    counts[w] += 1
        got = bpe._train_from_counts(dict(counts), 40, min_count=1)
        want = reference_train(texts, 40, min_count=1)
        assert got == want, f'seed {seed}'
