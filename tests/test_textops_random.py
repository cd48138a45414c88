"""Randomized equivalence for the newer document operators, against
plain-Python references (beyond the synthetic-injection oracle gates).
"""

import hashlib
import random
import re

import pytest

from ocrodjvu_spark.functions import similarity, textops

_WORDS = ['alpha', 'beta', 'it', 'x', 'the', 'gamma', 'word', 'no']
_ENDINGS = ['.', '!', '?', '"', '', ' ', ':']


def _random_doc(rng):
    lines = []
    for _ in range(rng.randrange(1, 7)):
        words = [rng.choice(_WORDS) for _ in range(rng.randrange(0, 8))]
        line = ' ' * rng.randrange(0, 2) + ' '.join(words) \
            + rng.choice(_ENDINGS)
        if rng.random() < 0.2:
            line += '\r'
        lines.append(line)
    text = '\n'.join(lines)
    if rng.random() < 0.2:
        text += ' { brace'
    if rng.random() < 0.2:
        text += ' Lorem IPSUM'
    return text


def _brute_c4(text, min_words=5, min_kept=3):
    lines = re.split(r'\r?\n', text)
    kept = [ln for ln in lines
            if len(ln.strip().split()) >= min_words
            and re.search(r'[.!?"]$', ln.strip())]
    keep = int(len(kept) >= min_kept
               and '{' not in text
               and 'lorem ipsum' not in text.lower())
    return (len(lines), len(kept), '\n'.join(kept), keep)


def test_c4_rules_matches_brute_force(spark):
    rng = random.Random(7)
    texts = [_random_doc(rng) for _ in range(120)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], 'doc_id long, text string')
    got = {r.doc_id: (r.n_lines, r.n_kept_lines, r.kept_text, r.keep)
           for r in textops.c4_rules(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _brute_c4(t), f'doc {i}: {t!r}'
    # sanity: the random corpus exercises both verdicts
    assert {v[3] for v in got.values()} == {0, 1}


def test_quantize_matches_numpy_reference(spark):
    import numpy as np
    rng = random.Random(11)
    vecs = [[rng.uniform(-2, 2) for _ in range(16)] for _ in range(60)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        'vec_id long, embedding array<float>')
    got = {r.vec_id: r for r in
           similarity.quantize_embeddings(emb).collect()}
    for i, v in enumerate(vecs):
        # mirror the float32 storage the operator reads
        v32 = np.array(v, dtype=np.float32).astype(np.float64)
        m = float(np.max(np.abs(v32)))
        q = [int(np.floor(x * 127 / m + 0.5)) for x in v32]  # HALF_UP
        err = max(abs(x - qi * m / 127) for x, qi in zip(v32, q))
        q_hash = hashlib.md5(','.join(map(str, q)).encode()).hexdigest()
        assert abs(got[i].scale - m / 127) < 5e-7
        assert got[i].q_hash == q_hash, f'vec {i}'
        assert abs(got[i].max_abs_err - err) < 5e-7


def _brute_spans(token_lists, n=5, min_df=2):
    from collections import defaultdict
    df = defaultdict(set)
    for d, toks in enumerate(token_lists):
        for p in range(max(0, len(toks) - n + 1)):
            df[tuple(toks[p:p + n])].add(d)
    out = []
    for d, toks in enumerate(token_lists):
        hits = [p for p in range(max(0, len(toks) - n + 1))
                if len(df[tuple(toks[p:p + n])]) >= min_df]
        start = end = None
        for p in hits:
            # merge rule mirrors the operator: strictly overlapping
            # windows merge; an adjacent window (p == end) starts a new
            # island
            if end is not None and p < end:
                end = max(end, p + n)
            else:
                if end is not None:
                    out.append((d, start, end, end - start))
                start, end = p, p + n
        if end is not None:
            out.append((d, start, end, end - start))
    return sorted(out)


def test_duplicated_spans_matches_brute_force(spark):
    rng = random.Random(5)
    vocab = ['a', 'b', 'c', 'd']
    token_lists = [[rng.choice(vocab)
                    for _ in range(rng.randrange(0, 25))]
                   for _ in range(40)]
    docs = spark.createDataFrame(
        [(i, ' '.join(t)) for i, t in enumerate(token_lists)],
        'doc_id long, text string')
    got = sorted((r.doc_id, r.span_start, r.span_end, r.n_tokens)
                 for r in textops.duplicated_spans(
                     docs).collect())
    assert got == _brute_spans(token_lists, n=5, min_df=2)
    assert len(got) > 10  # the random corpus genuinely exercises it


def _ref_winnow(text, n=3, window=4, cap=1 << 20):
    """Sequential winnowing reference (Schleimer et al. 2003 fig. 5
    semantics with leftmost-min tie-break via the composite key)."""
    toks = re.sub(r'\s+', ' ', text.strip()).split(' ')
    toks = [t for t in toks if t]

    def h(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % 2147483647
        return acc

    hs = [h(t) for t in toks]
    if len(hs) < n:
        return set()
    sh = []
    for i in range(len(hs) - n + 1):
        v = hs[i]
        for j in range(1, n):
            v = (v * 1009 + hs[i + j]) % 2147483647
        sh.append(v)
    keys = [s * cap + p for p, s in enumerate(sh)]
    m = len(keys)
    out = set()
    for start in range(max(m - window, 0) + 1):
        out.add(min(keys[start:start + window]))
    return {(k % cap, k >> 20) for k in out}


def test_winnowing_matches_sequential_reference(spark):
    rng = random.Random(42)
    rows = []
    for i in range(40):
        n_tok = rng.randint(0, 30)
        rows.append((i, ' '.join(
            rng.choice(['alpha', 'beta', 'gamma', 'delta', 'x'])
            for _ in range(n_tok))))
    df = spark.createDataFrame(rows, 'doc_id int, text string')
    got = {}
    for r in textops.winnowing_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_pos, r.fp))
    for i, text in rows:
        assert got.get(i, set()) == _ref_winnow(text), f'doc {i}'


def test_winnowing_guarantee_shared_substring(spark):
    # any shared substring of >= window + n - 1 = 6 tokens must yield
    # at least one SHARED fingerprint hash (position-independent)
    shared = 'one two three four five six'
    df = spark.createDataFrame(
        [(0, 'prefix junk ' + shared + ' tail a'),
         (1, shared + ' completely different ending here')],
        'doc_id int, text string')
    fps = textops.winnowing_fingerprints(df).collect()
    a = {r.fp for r in fps if r.doc_id == 0}
    b = {r.fp for r in fps if r.doc_id == 1}
    assert a & b


def test_winnowing_short_doc_keeps_global_min(spark):
    # fewer shingles than one full window -> exactly one fingerprint
    df = spark.createDataFrame([(0, 'a b c d')],  # 2 shingles < 4
                               'doc_id int, text string')
    fps = textops.winnowing_fingerprints(df).collect()
    assert len(fps) == 1
