"""Pure-Python reference implementations the sketch and tokenizer
tests compare the Spark operators against."""

from typing import List

from ocrodjvu_spark.functions.bloom import H2_ADD, H2_MUL
from ocrodjvu_spark.functions.bpe import PAIR_SEP, _merge_pass, _ref_norm
from ocrodjvu_spark.functions.hll import FIN, HASH_BITS
from ocrodjvu_spark.functions.textops import HASH_MOD


def reference_cms(keys, d: int = 3, w: int = 256):
    """Pure-Python reference (tests only): counter dict + estimator."""
    counters = {}
    pos_cache = {}

    def positions(key):
        if key not in pos_cache:
            acc = 0
            for c in key:
                acc = (acc * 31 + ord(c)) % HASH_MOD
            for mul, add in FIN:
                acc = (acc * mul + add) % HASH_MOD
            h2 = (acc * H2_MUL + H2_ADD) % HASH_MOD
            pos_cache[key] = [(acc + j * h2 + j * j) % w
                              for j in range(d)]
        return pos_cache[key]

    for key in keys:
        for j, p in enumerate(positions(key)):
            counters[(j, p)] = counters.get((j, p), 0) + 1

    def estimate(key):
        return min(counters.get((j, p), 0)
                   for j, p in enumerate(positions(key)))

    return counters, estimate


def reference_sketch(keys, p: int = 6):
    """Pure-Python reference (tests only)."""
    m = 1 << p
    w_bits = HASH_BITS - p
    regs = {}
    for key in keys:
        acc = 0
        for c in key:
            acc = (acc * 31 + ord(c)) % 2147483647
        for mul, add in FIN:
            acc = (acc * mul + add) % 2147483647
        j, w = acc % m, acc // m
        rank = (w_bits + 1) if w == 0 else (w_bits + 1 - w.bit_length())
        regs[j] = max(regs.get(j, 0), rank)
    return regs


def reference_train(texts, n_merges: int, min_count: int = 2):
    """Sequential BPE trainer with identical semantics, for the
    randomized equivalence tests."""
    from collections import Counter
    counts = Counter()
    for t in texts:
        for w in _ref_norm(t).split(' '):
            if w:
                counts[w] += 1
    state = {tuple(w): c for w, c in counts.items()}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for toks, c in state.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += c
        if not pc:
            break
        # tie-break on the delimited pair LABEL ('a|b'), the
        # engine/oracle convention (note '|' sorts above ASCII letters,
        # so this differs from tuple order when one token prefixes
        # another)
        best = min(pc.items(),
                   key=lambda kv: (-kv[1],
                                   kv[0][0] + PAIR_SEP + kv[0][1]))
        if best[1] < min_count:
            break
        (a, b), _n = best
        merges.append((a, b))
        new_state = {}
        for toks, c in state.items():
            key = tuple(_merge_pass(list(toks), a, b))
            new_state[key] = new_state.get(key, 0) + c
        state = new_state
    return merges


def reference_tokenize(text: str, merges) -> List[str]:
    """Apply merges in rank order (one canonical left-to-right pass
    each), the same spec the replace chain implements."""
    out: List[str] = []
    for w in _ref_norm(text).split(' '):
        if not w:
            continue
        toks = list(w)
        for a, b in merges:
            toks = _merge_pass(toks, a, b)
        out.extend(toks)
    return out
