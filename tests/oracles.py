"""Reference implementations the sketch, tokenizer, SimHash,
filename-template and Arrow-UDF tests compare the Spark operators
against."""

import os
import re
import string
from typing import List

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ocrodjvu_spark.functions.bloom import H2_ADD, H2_MUL
from ocrodjvu_spark.functions.bpe import PAIR_SEP, _STRIP_RE, _merge_pass
from ocrodjvu_spark.functions.hll import FIN, HASH_BITS
from ocrodjvu_spark.functions.textops import (
    HASH_MOD, SIMHASH_BITS, SIMHASH_W1, SIMHASH_W2, rolling_hash)
from ocrodjvu_spark.kernel.utils import _TEMPLATE_OFFSET_RE


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
        for w in reference_norm(t).split(' '):
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
    for w in reference_norm(text).split(' '):
        if not w:
            continue
        toks = list(w)
        for a, b in merges:
            toks = _merge_pass(toks, a, b)
        out.extend(toks)
    return out


def reference_norm(text: str) -> str:
    return re.sub(r'\s+', ' ', re.sub(_STRIP_RE, '', text)).strip()


def _token_bit64(h: Column, j: int) -> Column:
    """Bit j (0..63) of a token's 64-bit SimHash key.

    ``rolling_hash`` yields 31 usable bits, so the 64-bit key is pieced
    from three derived words: bits 0..30 from h itself, 31..61 from
    (h*48271+11) mod p, 62..63 from (h*69621+7) mod p. The derived-word
    expressions are rebuilt per bit (Catalyst does no CSE inside lambda
    bodies) but each is just mul+add+mod — noise next to the O(64) vote
    fold they feed.
    """
    if j < 31:
        src, k = h, j
    elif j < 62:
        src = (h * SIMHASH_W1[0] + SIMHASH_W1[1]) % HASH_MOD
        k = j - 31
    else:
        src = (h * SIMHASH_W2[0] + SIMHASH_W2[1]) % HASH_MOD
        k = j - 62
    return F.shiftright(src, k) % 2


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash over token rolling hashes (+1/-1 bit votes).

    Manku et al. (WWW'07) fingerprint width: 64 bits split into 4
    16-bit bands gives 2^16 bucket keys per band (the 32-bit/8-bit
    variant capped band parallelism at 256 keys — a quadratic blowup at
    web scale). Bit 63's weight is -(2^63) so the fingerprint occupies
    the full signed-long range exactly as DuckDB's BIGINT does; Hamming
    distance via ``bit_count(a XOR b)`` is sign-agnostic.

    The bit-vote fold and the final bits->long reduction both live in a
    single ``F.aggregate`` (the reduction as its *finish* lambda, where
    the vote array is a bound lambda variable evaluated once) — Catalyst
    performs no CSE for lambda expressions, so referencing the vote
    aggregate 64 times in a projection would recompute the whole
    O(tokens*64) fold once per output bit.
    """
    token_hashes = F.transform(tokens_col, lambda t: rolling_hash(t))
    weights = F.array(
        *[F.lit(1 << j).cast('long') for j in range(63)],
        F.lit(-(1 << 63)).cast('long'))
    return F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0).cast('long'), SIMHASH_BITS),
        lambda acc, h: _zip_votes(acc, h),
        # positive weights fold first, so the running sum peaks at
        # 2^63-1 before bit 63's negative weight lands — no ANSI-mode
        # long overflow
        lambda votes: F.aggregate(
            F.zip_with(votes, weights,
                       lambda v, w: F.when(v > 0, w)
                                     .otherwise(F.lit(0).cast('long'))),
            F.lit(0).cast('long'),
            lambda acc, x: acc + x,
        ),
    )


def _zip_votes(acc: Column, h: Column) -> Column:
    bits = F.array(*[
        F.when(_token_bit64(h, j) == 1, F.lit(1).cast('long'))
         .otherwise(F.lit(-1).cast('long'))
        for j in range(SIMHASH_BITS)
    ])
    return F.zip_with(acc, bits, lambda a, b: a + b)


def expand_template(template: str, page_no: int, page_id: str) -> str:
    """Expand a ``{page+1}``-style filename template.

    Grammar per the reference's raw-OCR save path
    (lib/cli/ocrodjvu.py:145-174): fields ``page`` (int), ``id`` and
    ``id-ext`` (strings), plus ``{base+N}`` / ``{base-N}`` integer offset
    arithmetic on any int-valued field. Unknown or non-integer offset
    fields are left to the formatter (a KeyError surfaces like any bad
    format string).
    """
    values = {
        'page': page_no,
        'id': page_id,
        'id-ext': os.path.splitext(page_id)[0],
    }
    fmt = string.Formatter()
    for _literal, field, _spec, _conv in fmt.parse(template):
        if field is None or field in values:
            continue
        m = _TEMPLATE_OFFSET_RE.match(field)
        if m is None:
            continue
        base = values.get(m.group('base'))
        if not isinstance(base, int):
            continue
        delta = int(m.group('off'), 10)
        values[field] = base + delta if m.group('sign') == '+' else \
            base - delta
    return fmt.vformat(template, (), values)


def pandas_route(rows, schema: StructType):
    """The Arrow result column a Python UDF returning ``rows`` (dicts
    shaped like ``schema``) gave Spark through the retired pandas route:
    ``pd.DataFrame(rows)`` through pyspark's pandas-UDF serializer, as
    the worker built it for a scalar pandas UDF."""
    import pandas as pd
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type
    ser = ArrowStreamPandasUDFSerializer(
        'UTC', False, True, df_for_struct=True, arrow_cast=True)
    frame = pd.DataFrame(rows, columns=schema.fieldNames())
    return ser._create_batch([(frame, to_arrow_type(schema))]).column(0)
