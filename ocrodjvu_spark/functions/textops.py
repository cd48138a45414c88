"""Training-data-pipeline text operators, all JVM-side Catalyst expressions.

Everything here is built from ``pyspark.sql.functions`` only — no Python
UDFs — so the operators stay inside whole-stage codegen and scale linearly
with executors. Hashes are engine-portable (character-fold rolling hash,
md5) so every operator has an exact DuckDB oracle.

Operators:
* word shingles + rolling hash (the shared primitive; ``bind_once`` is
  the shared no-lambda-CSE idiom)
* MinHash signatures + LSH banding -> band buckets grouped (no join, no
  broadcast) -> pairs per bucket -> exact-Jaccard verification
  (near-duplicate detection at scale; hot-bucket cap)
* SimHash (64-bit, Manku WWW'07) fingerprints + banded near-dup pairs
* n-gram Jaccard similarity pairs (exact, shingle-join)
* connected components (alternating large/small-star) -> dedup clusters
* bottom-k document fingerprint
* language ID (stopword-hit + char-trigram variants)
* quality scoring (length / token / stopword / non-alpha ratios)
* Gopher-style repetition stats (dup-token / top-bigram fractions)
* Gopher-rule document filter (length / symbol / alpha / stopword
  bounds -> keep verdict)
* corpus char-trigram LM quality score (CCNet/KenLM-style)
* cross-split contamination pairs (train/test n-gram leakage)
* PII scrub (email/phone redaction + counts)
* domain mix weights (target token-mixture sampling table)
* sliding-window document chunking (pretraining/RAG splitting)

Every operator reads its documents as ``doc_id`` and ``text`` columns.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)

# MinHash permutation parameters: h_k(x) = (a_k * x + b_k) mod HASH_MOD.
# Fixed, deterministic, coprime with the modulus.
MINHASH_PARAMS = [
    (1 + 2 * k, 10007 * (k + 1) % HASH_MOD) for k in range(16)
]
LSH_BAND_SIZE = 4  # 16 hashes -> 4 bands of 4


def norm_text() -> Column:
    return F.regexp_replace(F.trim('text'), r'\s+', ' ')


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once and hand it to ``fn`` as a bound lambda
    variable: ``element_at(transform(array(col), fn), 1)``.

    Catalyst performs no CSE for lambda expressions and inlines
    duplicated higher-order expressions on projection collapse, so an
    expression referenced K times inside ``fn`` would otherwise be
    recomputed K times (the trap measured at ~4x on the MinHash
    pipeline and ~O(n^2) on the bigram transform). Wrapping the value
    in a 1-element array makes it a lambda-bound variable, evaluated
    exactly once per row.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def tokens() -> Column:
    return F.split(norm_text(), ' ')


def rolling_hash(str_col: Column) -> Column:
    """Portable string hash: fold (acc*31 + ascii(ch)) % (2^31-1).

    Identical to DuckDB's
    ``list_reduce(list_prepend(0, list_transform(string_split(s, ''),
    c -> ascii(c))), (acc, x) -> (acc * 31 + x) % 2147483647)``.
    """
    return F.aggregate(
        F.split(str_col, ''),
        F.lit(0).cast('long'),
        lambda acc, c: (acc * 31 + F.ascii(c)) % HASH_MOD,
    )


SHINGLE_COMBINE = 1009  # odd multiplier for combining token hashes
SHINGLE_N = 3  # words per shingle: MinHash, Jaccard, fingerprints, leakage


def shingle_hashes(tokens_col: Column) -> Column:
    """Distinct word n-gram shingle hashes.

    Each token is rolling-hashed ONCE, then a shingle's hash combines
    its n token hashes arithmetically (fold by ``acc*1009 + h, mod p``).
    The naive alternative — concatenate the shingle string and
    char-fold it — re-hashes every character ~n times and builds n-gram
    strings just to throw them away; on the sf0.1 corpus that was ~4x
    slower and dominated the whole MinHash pipeline. The token-hash
    array is bound once as a lambda variable (wrapped in a 1-element
    array) because Catalyst inlines duplicated higher-order expressions
    on projection collapse (no CSE for lambdas).

    Short docs (< n tokens) fold all their token hashes into one
    shingle; for exactly n tokens that fold equals the regular combine,
    so the fallback is consistent.
    """
    hs = F.transform(tokens_col, lambda t: rolling_hash(t))

    def combos(h):
        joined = F.transform(F.sequence(F.lit(0), F.size(h) - SHINGLE_N),
                             lambda i: _shingle_at(h, i, SHINGLE_N))
        whole = F.aggregate(h, F.lit(0).cast('long'), _combine)
        return F.array_distinct(
            F.when(F.size(h) >= SHINGLE_N, joined).otherwise(F.array(whole)))

    return bind_once(hs, combos)


def _combine(acc: Column, h: Column) -> Column:
    """One step of the shingle fold over token hashes."""
    return (acc * SHINGLE_COMBINE + h) % HASH_MOD


def _shingle_at(h: Column, i: Column, n: int) -> Column:
    """The fold of the ``n`` token hashes of ``h`` from 0-based ``i``."""
    out = F.element_at(h, (i + 1).cast('int'))
    for j in range(1, n):
        out = _combine(out, F.element_at(h, (i + j + 1).cast('int')))
    return out


def _minhash_aggs() -> list:
    """The signature aggregates mh0..mhK-1 over a ``shingle`` column."""
    return [F.min((F.col('shingle') * a + b) % HASH_MOD).alias(f'mh{k}')
            for k, (a, b) in enumerate(MINHASH_PARAMS)]


def minhash_signature_table(docs: DataFrame) -> DataFrame:
    """(id, mh0..mhK-1): minhash signature via explode + aggregate."""
    return doc_shingle_table(docs).groupBy('doc_id').agg(*_minhash_aggs())


def _band_keys() -> Column:
    """The LSH band keys 'band_idx:h1-h2-...' of a row's mh0..mhK-1
    signature columns, as an array in band order."""
    n_bands = len(MINHASH_PARAMS) // LSH_BAND_SIZE
    return F.array(*[
        F.concat_ws(
            ':', F.lit(str(b)),
            F.concat_ws('-', *[
                F.col(f'mh{b * LSH_BAND_SIZE + j}').cast('string')
                for j in range(LSH_BAND_SIZE)
            ]))
        for b in range(n_bands)
    ])


def minhash_band_table(sig: DataFrame) -> DataFrame:
    """(id, band): one row per LSH band key 'band_idx:h1-h2-...'."""
    return sig.select('doc_id', F.explode(_band_keys()).alias('band'))


# Multipliers deriving the 2nd/3rd 31-bit words of a token's 64-bit
# SimHash key from its rolling hash (classic LCG multipliers; any odd
# constants coprime with the modulus work — mirrored in the oracle SQL).
SIMHASH_W1 = (48271, 11)
SIMHASH_W2 = (69621, 7)
SIMHASH_BITS = 64


def simhash_table(docs: DataFrame, keep_null_docs: bool = True
                  ) -> DataFrame:
    """(id, sim) rows: the 64-bit SimHash of ``tokens(text)``, bit-exact
    with the column-form reference ``tests/oracles.simhash64``.

    The column form's higher-order fold evaluates its lambdas
    interpreted, per token, per bit — O(tokens x 64) interpreted
    expression evaluations per document. This form explodes token
    hashes to rows, derives each of the three 31-bit key words ONCE
    per token, and folds the 64 bit votes as codegen'd SUM aggregates
    (the same explode+groupBy shape as the minhash signatures) — one
    shuffle, whole-stage codegen, ~8x faster on the bench corpus.
    Docs whose token array is NULL (null text) keep a NULL ``sim`` via
    the join-back, exactly like the column form. Bit-exactness is
    pinned by test_simhash_table_matches_column_form.
    """
    w0 = F.col('_w0')
    rows = docs.select(
        F.col('doc_id'), F.explode(tokens()).alias('_tok'),
    ).select(
        F.col('doc_id'), rolling_hash(F.col('_tok')).alias('_w0'),
    ).select(
        # the derived words come from the materialized _w0 attribute,
        # so the expensive char fold runs once per token (CollapseProject
        # keeps non-cheap expressions un-duplicated; double-checked in
        # the committed plan: one 'aggregate(split' per branch)
        F.col('doc_id'), w0,
        ((w0 * SIMHASH_W1[0] + SIMHASH_W1[1]) % HASH_MOD).alias('_w1'),
        ((w0 * SIMHASH_W2[0] + SIMHASH_W2[1]) % HASH_MOD).alias('_w2'),
    )

    def vote(j: int):
        if j < 31:
            src, k = F.col('_w0'), j
        elif j < 62:
            src, k = F.col('_w1'), j - 31
        else:
            src, k = F.col('_w2'), j - 62
        bit = F.shiftright(src, k) % 2
        return F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f'_v{j}')

    votes = rows.groupBy('doc_id').agg(*[vote(j) for j in range(64)])
    weights = [1 << j for j in range(63)] + [-(1 << 63)]
    sim = None
    for j in range(64):
        term = F.when(F.col(f'_v{j}') > 0,
                      F.lit(weights[j]).cast('long')) \
                .otherwise(F.lit(0).cast('long'))
        sim = term if sim is None else sim + term
    sims = votes.select(F.col('doc_id'), sim.alias('sim'))
    if not keep_null_docs:
        # a NULL fingerprint can neither band-join nor rank — callers
        # that only pair (the band table) skip the join-back
        return sims
    # join-back so null-text docs keep their NULL sim row (parity with
    # the column form; explode dropped them)
    return docs.select('doc_id').join(sims, 'doc_id', 'left')


SIMHASH_BANDS = 4  # 4 x 16 bits


def _simhash_band_table(docs: DataFrame) -> DataFrame:
    """(id, sim, band) rows: one per 16-bit band key of the 64-bit
    fingerprint. Arithmetic shiftright + mask extracts the band
    correctly for negative fingerprints (the mask kills the
    sign-extension bits)."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    # null-fingerprint docs are dropped here rather than joined back:
    # their band keys are all NULL, which can never equi-join
    sims = simhash_table(docs, keep_null_docs=False)
    band_keys = F.array(*[
        F.concat(F.lit(f'{b}:'),
                 (F.shiftright(F.col('sim'), b * band_bits)
                  .bitwiseAND(F.lit(mask))).cast('string'))
        for b in range(SIMHASH_BANDS)
    ])
    return sims.select(F.col('doc_id'), 'sim',
                       F.explode(band_keys).alias('band'))


def simhash_neardup_pairs(docs: DataFrame,
                          max_bucket_size: Optional[int] = None
                          ) -> DataFrame:
    """SimHash near-duplicate pairs via banded bucket join + Hamming verify.

    The 64-bit SimHash splits into ``SIMHASH_BANDS`` bands (4 x 16
    bits = 65,536 distinct keys per band, so band-join parallelism
    scales with the cluster instead of capping at the key count);
    candidate pairs share at least one identical band (an equi-join on
    the band key — never a cross join), then the exact Hamming distance
    filters to <= 3. With 3 < 4 bands recall is EXACT by pigeonhole:
    fewer differing bits than bands means some band is untouched, so
    every qualifying pair collides somewhere; a distance of 4 or more
    would turn the operator into an approximation.

    ``max_bucket_size`` (skew guard, same contract as
    ``minhash_dedup_pairs``): a band bucket holding k near-identical
    fingerprints produces k^2/2 candidate rows; with the cap set,
    buckets larger than ``max_bucket_size`` are excluded from candidate
    generation (their members belong to exact/near-exact dedup
    upstream). Default None = exact (what the oracle checks at small SF).

    Output: (doc_a, doc_b, hamming_dist) with doc_a < doc_b.
    """
    # the band rows CARRY the fingerprint, so the verify step needs no
    # extra joins back to sims and the O(tokens*64) SimHash fold runs in
    # one plan subtree (the band self-join's two sides are the identical
    # exchange, which Spark reuses)
    bands = _simhash_band_table(docs)
    if max_bucket_size is not None:
        small = (bands.groupBy('band')
                 .agg(F.count('*').alias('_bsz'))
                 .where(F.col('_bsz') <= max_bucket_size)
                 .select('band'))
        bands = bands.join(small, 'band')
    a = bands.alias('a')
    b = bands.alias('b')
    return (
        a.join(b, (F.col('a.band') == F.col('b.band'))
               & (F.col('a.doc_id') < F.col('b.doc_id')))
        .select(F.col('a.doc_id').alias('doc_a'),
                F.col('b.doc_id').alias('doc_b'),
                F.bit_count(F.col('a.sim').bitwiseXOR(F.col('b.sim')))
                 .alias('hamming_dist'))
        .where(F.col('hamming_dist') <= 3)
        .distinct()
    )


def doc_shingle_table(docs: DataFrame) -> DataFrame:
    """Exploded distinct (doc_id, shingle_hash) pairs.

    Explicitly repartitioned by ``doc_id`` BEFORE the distinct: a
    hash partitioning on the id satisfies the clustered-distribution
    requirement of every downstream keyed operation in this family —
    the distinct on (id, shingle), the per-doc signature aggregation,
    and the per-doc size count — so they all share this one exchange
    instead of chaining a second (id-only) shuffle after a
    (id, shingle) one. Trade-off: within-doc duplicate shingles travel
    through the shuffle un-deduped (each doc is one input row, so the
    duplicates were map-local anyway); measured net win on the bench
    and strictly fewer shuffles at scale.

    The NULL filter is a no-op on the rows (shingles are never NULL),
    but it pins the plan: a self-join on ``shingle`` infers the same
    ``isnotnull`` predicate and would push it below the exchange on
    that branch only, and the two exchanges would then no longer be
    reused as one.
    """
    return docs.select(
        F.col('doc_id'),
        F.explode(shingle_hashes(tokens())).alias('shingle'),
    ).where(F.col('shingle').isNotNull()).repartition('doc_id').distinct()


def _doc_shingle_sets(sh: DataFrame, *aggs: Column) -> DataFrame:
    """(doc_id, shingles, *aggs): one row per document, its distinct
    shingles as an array, in one aggregate over ``doc_shingle_table``."""
    return sh.groupBy('doc_id').agg(
        *aggs, F.collect_list('shingle').alias('shingles'))


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                  max_df: Optional[int] = None) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via shingle self-join.

    Shuffle pattern: one exchange on shingle (the join), one on the pair
    key (the count); sizes broadcast back. Candidate generation never
    materializes the full cross product.

    ``max_df`` (scale knob): drop shingles shared by more than max_df
    documents from *candidate generation* — a shingle with document
    frequency f contributes O(f^2) join rows, and ultra-frequent
    shingles are the least informative. Jaccard values are still
    computed over the full shingle sets (``_score_candidates``), so
    pairs that remain are scored exactly; pairs whose only common shingles are ultra-frequent
    are missed (the standard web-dedup approximation). Default None =
    exact (what the oracle checks).
    """
    sh = doc_shingle_table(docs)
    if max_df is not None:
        rare = (sh.groupBy('shingle')
                .agg(F.count('*').alias('df'))
                .where(F.col('df') <= max_df)
                .select('shingle'))
        candidates = _pairs_sharing(sh.join(rare, 'shingle'), 'shingle')
        return _score_candidates(candidates.distinct(),
                                 _doc_shingle_sets(sh), threshold)
    sizes = sh.groupBy('doc_id').agg(F.count('*').alias('n_shingles'))
    inter = (_pairs_sharing(sh, 'shingle').groupBy('doc_a', 'doc_b')
             .agg(F.count('*').alias('n_common')))
    sa = sizes.select(F.col('doc_id').alias('doc_a'),
                      F.col('n_shingles').alias('size_a'))
    sb = sizes.select(F.col('doc_id').alias('doc_b'),
                      F.col('n_shingles').alias('size_b'))
    return _jaccard_rows(inter.join(sa, 'doc_a').join(sb, 'doc_b'),
                         threshold)


def _pairs_sharing(rows: DataFrame, key: str) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: a self-join of (doc_id, key) rows
    on ``key``, one row per key value the two documents share."""
    a, b = rows.alias('a'), rows.alias('b')
    return a.join(b, (F.col(f'a.{key}') == F.col(f'b.{key}'))
                  & (F.col('a.doc_id') < F.col('b.doc_id'))).select(
        F.col('a.doc_id').alias('doc_a'), F.col('b.doc_id').alias('doc_b'))


def _jaccard_rows(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) from ``n_common``, ``size_a`` and
    ``size_b`` columns, at or above ``threshold``."""
    return (
        pairs.withColumn(
            'jaccard',
            F.round(F.col('n_common')
                    / (F.col('size_a') + F.col('size_b')
                       - F.col('n_common')), 6))
        .where(F.col('jaccard') >= threshold)
        .select('doc_a', 'doc_b', 'jaccard')
    )


def _score_candidates(candidates: DataFrame, sets: DataFrame,
                      threshold: float) -> DataFrame:
    """Exact Jaccard of each (doc_a, doc_b) candidate over the two
    documents' full shingle sets (``_doc_shingle_sets``). Cost scales
    with |candidates|, never with a hot shingle's df^2. A pair with no
    shingle in common gives no row, at any threshold."""
    sa = sets.select(F.col('doc_id').alias('doc_a'),
                     F.col('shingles').alias('sh_a'))
    sb = sets.select(F.col('doc_id').alias('doc_b'),
                     F.col('shingles').alias('sh_b'))
    pairs = candidates.join(sa, 'doc_a').join(sb, 'doc_b').select(
        'doc_a', 'doc_b',
        F.size(F.array_intersect('sh_a', 'sh_b')).alias('n_common'),
        F.size('sh_a').alias('size_a'), F.size('sh_b').alias('size_b'))
    return _jaccard_rows(pairs.where(F.col('n_common') > 0), threshold)


def positioned_shingle_hashes(tokens_col: Column, n: int = 3) -> Column:
    """Array of (pos, shingle-hash) structs, one per n-gram START
    position (0-based) — the positional variant of ``shingle_hashes``
    (no distinct, no short-doc fallback: docs with < n tokens have no
    n-token substring to report)."""
    hs = F.transform(tokens_col, lambda t: rolling_hash(t))

    def combos(h):
        def one(i):
            return F.struct(i.cast('int').alias('pos'),
                            _shingle_at(h, i, n).alias('sh'))
        return F.when(
            F.size(h) >= n,
            F.transform(F.sequence(F.lit(0), F.size(h) - n), one)
        ).otherwise(F.array().cast('array<struct<pos:int,sh:bigint>>'))

    return bind_once(hs, combos)


def _positioned_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, sh) rows: the ``n``-token shingles of each text."""
    return docs.select(
        F.col('doc_id'),
        F.explode(positioned_shingle_hashes(tokens(), n)).alias('p')
    ).select(F.col('doc_id'), F.col('p.pos').alias('pos'),
             F.col('p.sh').alias('sh'))


WINNOW_WINDOW = 4  # consecutive shingle hashes per winnowing window
WINNOW_POS_CAP = 1 << 20  # max token positions per doc in the
# winnowing composite key (31-bit hash + 20-bit pos < 2^51, exact in
# int64 AND in a float64 engine); a 1M-token doc should be chunked
# long before fingerprinting


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm;
    re-expressed distributed, not copied).

    Positioned n-gram hashes → per-document sliding window of
    ``WINNOW_WINDOW`` consecutive ``SHINGLE_N``-word shingle hashes →
    each full window selects its
    MINIMUM (ties broken by leftmost position via the composite
    ``hash * POS_CAP + pos`` key) → the distinct selections are the
    fingerprint set. The winnowing guarantee: two documents sharing
    any substring of >= ``WINNOW_WINDOW + SHINGLE_N - 1`` tokens share at
    least one fingerprint, while only ~2/(window+1) of all n-gram hashes
    are
    stored — the position-aware middle ground between the full
    positioned-shingle index (``duplicated_spans``) and the
    position-blind ``doc_fingerprint`` bottom-k sketch. Docs shorter
    than one full window keep their single global minimum (every
    non-empty doc gets >= 1 fingerprint).

    Scale shape: one positioned-shingle explode (corpus token count
    rows), one per-document window min (doc-bounded partitions — the
    conv_id-style key, not a hot global window), one distinct on
    (doc, key). Output is ~2/(window+1) of the shingle count.

    Output: (id, fp_pos, fp) — the selected position and its n-gram
    hash.
    """
    pos_sh = _positioned_shingles(docs, SHINGLE_N).select(
        'doc_id', 'pos',
        (F.col('sh') * WINNOW_POS_CAP + F.col('pos')).alias('key'))
    # the composite key is only injective below the cap — fail LOUDLY
    # on a >= 2^20-token doc rather than corrupt its fingerprints
    # (chunk such docs first; see doc_chunks)
    pos_sh = pos_sh.select(
        'doc_id', 'pos', 'key',
        F.assert_true(F.col('pos') < WINNOW_POS_CAP,
                      F.lit('winnowing: document exceeds '
                            'WINNOW_POS_CAP positions'))
         .alias('__chk')).drop('__chk')
    w_doc = Window.partitionBy('doc_id')
    w_slide = (Window.partitionBy('doc_id').orderBy('pos')
               .rowsBetween(Window.currentRow, WINNOW_WINDOW - 1))
    selected = (pos_sh
                .select(F.col('doc_id'), 'pos',
                        F.min('key').over(w_slide).alias('wmin'),
                        F.count('*').over(w_doc).alias('m'))
                .where(F.col('pos')
                       <= F.greatest(F.col('m') - WINNOW_WINDOW, F.lit(0)))
                .select(F.col('doc_id'), F.col('wmin'))
                .distinct())
    return selected.select(
        F.col('doc_id'),
        F.col('wmin').bitwiseAND(WINNOW_POS_CAP - 1)
         .cast('int').alias('fp_pos'),
        F.shiftright('wmin', 20).alias('fp'))


SPAN_N = 5  # words: the shortest duplicated span reported


def duplicated_spans(docs: DataFrame,
                     max_df: Optional[int] = None) -> DataFrame:
    """Exact-substring duplicate regions: per-document token spans
    covered by ``SPAN_N``-word n-grams that appear in >= 2 distinct
    documents.

    The span-level exact dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better" — their suffix-array
    pass removes repeated >= 50-token substrings); the distributed
    re-expression replaces the suffix array with positioned n-gram
    hashes: an m-token duplicated region is exactly a maximal run of
    m-n+1 consecutive duplicated n-grams, so merging overlapping
    duplicated windows (gaps-and-islands per document) recovers the
    same spans. ``SPAN_N`` is the minimum duplicated length reported.

    ``max_df`` is the stop-gram cap, the skew guard for the join-back:
    an n-gram occurring in more than ``max_df`` documents (a
    boilerplate phrase in 10^8 docs) would land every one of its
    occurrence rows on a single join key, so hashes with
    df > ``max_df`` are excluded from the duplicated set — mirroring
    Lee et al.'s practice of dropping ultra-common substrings.  Use
    :func:`oversized_ngrams` to observe what a given cap excludes.
    Default ``None`` (no cap) keeps the exact semantics for
    moderate-scale corpora.

    Scale shape: positioned-shingle explode (corpus token count rows) →
    distinct (doc, hash) → df count on the hash key → join back on the
    hash → one window per document for the island merge. Every shuffle
    is on a high-cardinality key; no driver state. Output rows are
    linear in duplicated-occurrence count (no pair explosion).

    Output: (id, span_start, span_end, n_tokens) with end exclusive,
    spans disjoint per document, ordered by construction. Two maximal
    runs that touch without overlapping (previous span's exclusive end
    == next duplicated window's start) are reported as two adjacent
    spans, not merged into one: the island break is ``pos >=
    prev_max``, which is what the SQL oracle and the randomized
    brute-force reference pin. Coverage (the union of reported token
    ranges) is identical either way.
    """
    pos_sh = _positioned_shingles(docs, SPAN_N)
    df_counts = (pos_sh.select('doc_id', 'sh').distinct()
                 .groupBy('sh').agg(F.count('*').alias('df'))
                 .where(F.col('df') >= 2))
    if max_df is not None:
        df_counts = df_counts.where(F.col('df') <= max_df)
    df_counts = df_counts.select('sh')
    dup = pos_sh.join(df_counts, 'sh').select(
        'doc_id', 'pos', (F.col('pos') + SPAN_N).alias('end'))
    w_order = Window.partitionBy('doc_id').orderBy('pos')
    prev_max = F.max('end').over(
        w_order.rowsBetween(Window.unboundedPreceding, -1))
    islands = dup.select(
        'doc_id', 'pos', 'end',
        F.sum(F.when(prev_max.isNull() | (F.col('pos') >= prev_max), 1)
              .otherwise(0)).over(w_order).alias('island'))
    return (islands.groupBy('doc_id', 'island')
            .agg(F.min('pos').alias('span_start'),
                 F.max('end').alias('span_end'))
            .select(
                'doc_id',
                F.col('span_start').cast('int').alias('span_start'),
                F.col('span_end').cast('int').alias('span_end'),
                (F.col('span_end') - F.col('span_start')).cast('int')
                 .alias('n_tokens')))


def remove_duplicated_spans(docs: DataFrame) -> DataFrame:
    """The *apply* side of :func:`duplicated_spans` (Lee et al. 2022's
    actual dedup step): drop every token covered by a duplicated span
    and reassemble the document.

    Scale shape: the span table is tiny relative to the corpus (one row
    per duplicated region), so it is grouped to one array per document
    (bounded: spans are disjoint, ≤ n_tokens/n per doc) and joined back
    on the document key; token filtering then happens inside a single
    projection with higher-order functions — no token-level shuffle.
    Documents with no duplicated spans keep their normalized text
    through the left join.

    Output: (id, clean_text, n_tokens, n_removed) with clean_text the
    space-joined surviving tokens.
    """
    spans = duplicated_spans(docs)
    per_doc = spans.groupBy('doc_id').agg(
        F.collect_list(F.struct('span_start', 'span_end')).alias('_spans'))
    joined = docs.join(per_doc, 'doc_id', 'left').select(
        F.col('doc_id'),
        tokens().alias('_toks'),
        F.coalesce(
            '_spans',
            F.array().cast(
                'array<struct<span_start:int,span_end:int>>'))
         .alias('_spans'))
    kept = F.filter(
        F.col('_toks'),
        lambda t, i: ~F.exists(
            F.col('_spans'),
            lambda s: (i >= s['span_start']) & (i < s['span_end'])))
    return joined.select(
        F.col('doc_id'),
        F.inline(F.transform(F.array(kept), lambda k: F.struct(
            F.array_join(k, ' ').alias('clean_text'),
            F.size(k).alias('n_tokens'),
        ))),
        (F.size('_toks')).alias('_total'),
    ).select(
        'doc_id', 'clean_text', 'n_tokens',
        (F.col('_total') - F.col('n_tokens')).cast('int')
         .alias('n_removed'))


def oversized_ngrams(docs: DataFrame, max_df: int) -> DataFrame:
    """(sh, df) for n-gram hashes above the stop-gram cap —
    observability hook for what ``duplicated_spans(max_df=...)``
    excludes. Same shuffle shape as the df-count stage itself (one
    distinct + one groupBy on the hash key), so it is safe to run at
    any corpus size before committing to a cap."""
    pos_sh = _positioned_shingles(docs, SPAN_N).select('doc_id', 'sh')
    return (pos_sh.distinct()
            .groupBy('sh').agg(F.count('*').alias('df'))
            .where(F.col('df') > max_df))


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.5,
                        max_bucket_size: Optional[int] = None) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    One linear plan, no join and no broadcast: shingle -> one aggregate
    per document (minhash signature and shingle set) -> one row per
    (document, band), carrying the document's band keys and shingle set
    -> ``groupBy(band)`` collects each bucket's members, sorted by id ->
    pairs streamed per bucket (``posexplode`` the members, then explode
    the members after each one, so doc_a < doc_b and no k^2/2 array is
    built) -> exact Jaccard of each pair over its two shingle sets. Each
    set crosses the band exchange once per band (4 times); in return the
    shingle exchange is read once and the per-document aggregate runs
    once. This is the scale path; ``jaccard_pairs`` is the exact
    baseline.

    A pair that shares several bands meets in several buckets. It is
    kept only in the first band the two documents share (the first
    equal entry of their band-key arrays), so every pair comes out once
    with no distinct. The score is computed inside the pair generator,
    which the score filters cannot be pushed below, so
    ``array_intersect`` runs once per pair.

    ``max_bucket_size`` (skew guard): a band bucket holding k documents
    (k near-identical docs all sharing a minhash band) produces k^2/2
    candidate rows; at web scale one hot bucket can dominate the whole
    job. With the cap set, buckets larger than ``max_bucket_size`` are
    excluded from candidate generation (their members are by definition
    near-identical — exact dedup upstream is the right tool for them).
    The bucket sizes are counted by a window over the band rows before
    the collect, so a hot bucket is never gathered into one row. A pair
    whose first shared band is a dropped bucket can still meet in a
    later one, so the capped path keeps every surviving bucket's pairs
    and takes a distinct instead of the first-band rule. Default None =
    exact (every colliding bucket considered; what the oracle checks at
    small SF).
    """
    sets = _doc_shingle_sets(doc_shingle_table(docs), *_minhash_aggs())
    # a NULL id would sort first in its buckets and pair with the rest;
    # a document without an id pairs with nothing
    rows = sets.where(F.col('doc_id').isNotNull()).select(
        'doc_id', _band_keys().alias('keys'), 'shingles',
    ).select('*', F.posexplode('keys').alias('bi', 'band'))
    if max_bucket_size is not None:
        rows = rows.withColumn(
            '_bsz', F.count('*').over(Window.partitionBy('band')),
        ).where(F.col('_bsz') <= max_bucket_size)
    buckets = rows.groupBy('band').agg(
        F.first('bi').alias('bi'),
        F.array_sort(F.collect_list(F.struct('doc_id', 'keys', 'shingles')))
         .alias('m'),
    ).where(F.size('m') > 1)
    a = F.col('a')
    later = F.slice('m', F.col('i') + 2, F.size('m'))
    if max_bucket_size is None:
        later = F.filter(later, lambda b: F.array_position(
            F.zip_with(a['keys'], b['keys'], lambda x, y: x == y), True)
            == F.col('bi') + 1)
    members = buckets.select('bi', 'm', F.posexplode('m').alias('i', 'a'))
    pairs = members.select(
        a['doc_id'].alias('doc_a'), F.size(a['shingles']).alias('size_a'),
        F.inline(F.transform(later, lambda b: F.struct(
            b['doc_id'].alias('doc_b'),
            F.size(F.array_intersect(a['shingles'], b['shingles']))
             .alias('n_common'),
            F.size(b['shingles']).alias('size_b')))))
    out = _jaccard_rows(pairs.where(F.col('n_common') > 0), threshold)
    return out if max_bucket_size is None else out.distinct()


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        # local-mode default; a cluster deployment should point this at
        # durable storage (HDFS/S3) via sparkContext.setCheckpointDir and
        # set spark.cleaner.referenceTracking.cleanCheckpoints=true so
        # superseded per-round edge sets are reclaimed as their RDDs are
        # GC'd. The temp dir we create ourselves is removed at process
        # exit — reliable checkpoints are otherwise never deleted.
        import atexit
        import shutil
        import tempfile
        path = tempfile.mkdtemp(prefix='ocrodjvu-spark-cc-')
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        sc.setCheckpointDir(path)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: link every strictly-larger neighbor of u to
    min(N(u) + {u}). Edges must be a distinct undirected pair set."""
    bidir = edges.union(
        edges.select(F.col('v').alias('u'), F.col('u').alias('v')))
    mins = bidir.groupBy('u').agg(F.min('v').alias('mv')) \
        .select('u', F.least('mv', 'u').alias('m'))
    return (bidir.join(mins, 'u')
            .where(F.col('v') > F.col('u'))
            .select(F.col('v').alias('u'), F.col('m').alias('v'))
            .where(F.col('u') != F.col('v'))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small, then link every
    smaller neighbor (and u itself) to the group minimum."""
    directed = edges.select(
        F.greatest('u', 'v').alias('u'), F.least('u', 'v').alias('v'))
    mins = directed.groupBy('u').agg(F.min('v').alias('m'))
    relink = (directed.join(mins, 'u')
              .where(F.col('v') != F.col('m'))
              .select(F.col('v').alias('u'), F.col('m').alias('v')))
    self_link = mins.select('u', F.col('m').alias('v'))
    return relink.union(self_link).where(F.col('u') != F.col('v')) \
        .distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star.

    The map-reduce CC algorithm of Kiveris et al. (KDD'14): each round
    is two shuffles (a groupBy-min and a re-link join per star step) and
    the edge set contracts toward a star per component in O(log n)
    rounds *independent of component diameter* — a 1M-node chain
    converges in ~20 rounds where min-label propagation needs 1M.
    Reliable ``checkpoint()`` (not localCheckpoint) truncates lineage
    each round and survives executor loss. Convergence is detected on
    the checkpointed edge set itself (count + set-difference), so no
    extra lineage is dragged along.

    Returns (v, cluster_id = component minimum) for every vertex.
    """
    edges = edges.select(F.col('doc_a').alias('u'),
                         F.col('doc_b').alias('v')) \
        .where(F.col('u') != F.col('v')).distinct()
    _ensure_checkpoint_dir(edges)
    cur = edges.checkpoint()
    cur_count = cur.count()
    for _ in range(25):
        nxt = _small_star(_large_star(cur)).checkpoint()
        nxt_count = nxt.count()
        if nxt_count == cur_count and nxt.subtract(cur).isEmpty():
            # fixed point: every edge is (v, component_min)
            stars = nxt
            labels = stars.select(F.col('u').alias('v'),
                                  F.col('v').alias('cluster_id'))
            roots = stars.select(F.col('v').alias('v'),
                                 F.col('v').alias('cluster_id')).distinct()
            return labels.union(roots).distinct()
        cur, cur_count = nxt, nxt_count
    raise RuntimeError(
        'connected_components did not converge in 25 alternating star '
        'rounds (expected O(log n))')


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Near-duplicate clusters: connected components over MinHash pairs.

    Pair generation is the LSH-banded ``minhash_dedup_pairs``; component
    labeling is the O(log n)-round alternating-star algorithm (see
    ``connected_components``). Output: (doc_id, cluster_id = min doc_id
    of the component) for every document with at least one near-dup.
    """
    edges = minhash_dedup_pairs(docs) \
        .select('doc_a', 'doc_b')
    cc = connected_components(edges)
    return cc.select(F.col('v').alias('doc_id'), 'cluster_id')


def dedup_cluster_apply(docs: DataFrame) -> DataFrame:
    """Keep-one-per-cluster corpus filter — the apply side of
    :func:`dedup_clusters`: every document outside any near-dup cluster
    survives, and each cluster keeps its minimum-id representative.

    Scale shape: the cluster labels (already linear in clustered docs)
    shrink to the non-representative members, then one left-anti join
    on the high-cardinality document key drops them — no broadcast of
    anything corpus-sized, no second pass over text.
    """
    labels = dedup_clusters(docs)
    losers = labels.where(F.col('doc_id') != F.col('cluster_id')) \
        .select('doc_id')
    return docs.join(losers, 'doc_id', 'left_anti') \
        .select(F.col('doc_id'), F.col('text'))


# --- language ID + quality -------------------------------------------------

STOPWORDS = {
    'en': ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'that', 'for'),
    'de': ('der', 'die', 'das', 'und', 'ist', 'von', 'mit', 'den', 'im',
           'ein'),
    'fr': ('le', 'la', 'les', 'et', 'de', 'un', 'une', 'est', 'dans',
           'pour'),
    'es': ('el', 'la', 'los', 'y', 'de', 'un', 'una', 'es', 'en', 'por'),
}
LANG_ORDER = ('en', 'de', 'fr', 'es')


def stopword_hits(tokens_col: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens_col,
                           lambda t: F.array_contains(words, t)))


def _argmax(labels, col_name: str, none_label: str):
    """(best, label) over the columns ``col_name.format(label)``: the
    greatest value, and the first label in ``labels`` order reaching it
    (``none_label`` when the best is <= 0)."""
    best = F.greatest(*[F.col(col_name.format(lb)) for lb in labels])
    pred = F.when(best <= 0, F.lit(none_label))
    for lb in labels:
        pred = pred.when(F.col(col_name.format(lb)) == best, F.lit(lb))
    return best, pred


def _lang_pred(scored: DataFrame, n_col: str, ratio_name: str) -> DataFrame:
    """The language classifiers' output: the hit columns, the argmax
    ``lang_pred`` and the best hit count per ``n_col``."""
    best, pred = _argmax(LANG_ORDER, 'hits_{}', 'und')
    return scored.select(
        'doc_id', n_col, *[f'hits_{lang}' for lang in LANG_ORDER],
        pred.alias('lang_pred'),
        F.round(best / F.greatest(F.col(n_col), F.lit(1)), 6)
         .alias(ratio_name))


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language classifier with deterministic tie-break.

    argmax over LANG_ORDER; 'und' (undetermined) when no stopword hits.
    """
    toks = tokens()
    hits = [stopword_hits(toks, lang).alias(f'hits_{lang}')
            for lang in LANG_ORDER]
    scored = docs.select(F.col('doc_id'), F.size(toks).alias('n_tokens'),
                         *hits)
    return _lang_pred(scored, 'n_tokens', 'stopword_ratio')


# Character-trigram profiles (ASCII): the most frequent trigrams of each
# language's running text, including space-adjacent ones. A deliberately
# tiny profile — the operator shape (per-row trigram scan vs broadcast
# profiles) is what matters; production swaps in bigger tables.
TRIGRAM_PROFILES = {
    'en': ('the', 'he ', ' th', 'and', 'ing', 'ion', ' of'),
    'de': ('der', 'ein', 'sch', 'ich', 'nde', 'die', 'und'),
    'fr': ('es ', 'de ', 'ent', 'le ', 'nt ', 'que', 'les'),
    'es': ('de ', 'os ', ' de', 'la ', ' la', 'que', 'ado'),
}


def language_id_ngram(docs: DataFrame) -> DataFrame:
    """Character-n-gram language classifier (profile-hit heuristic).

    Counts how many of the text's character trigrams appear in each
    language's profile and takes the argmax (ties in LANG_ORDER; 'und'
    when nothing hits). Complements the stopword classifier
    (``language_id``): n-gram profiles also fire on inflected forms and
    unsegmented text. JVM-side per-row scan, no shuffle.
    """
    norm = norm_text()
    scored = docs.select(F.col('doc_id'), norm.alias('norm'))
    positions = F.sequence(F.lit(1), F.length('norm') - 2)

    def hits(lang):
        profile = F.array(*[F.lit(t) for t in TRIGRAM_PROFILES[lang]])
        return F.size(F.filter(
            positions,
            lambda i: F.array_contains(
                profile, F.col('norm').substr(i, F.lit(3)))))

    scored = scored.select(
        'doc_id',
        (F.length('norm') - 2).cast('int').alias('n_trigrams'),
        *[hits(lang).alias(f'hits_{lang}') for lang in LANG_ORDER])
    return _lang_pred(scored, 'n_trigrams', 'trigram_ratio')


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality features + a combined score."""
    norm = norm_text()
    toks = tokens()
    n_tokens = F.size(toks)
    n_chars = F.length(norm)
    alpha_chars = F.length(F.regexp_replace(norm, r'[^a-zA-Z]', ''))
    punct_chars = F.length(F.regexp_replace(norm, r'[^.,;:!?]', ''))
    stop_hits = stopword_hits(toks, 'en')
    mean_tok = (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1))
    alpha_ratio = alpha_chars / F.greatest(n_chars, F.lit(1))
    punct_ratio = punct_chars / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + (F.lit(1.0) - punct_ratio) * 0.25
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.25
    )
    return docs.select(
        'doc_id',
        n_tokens.alias('n_tokens'),
        F.round(mean_tok, 6).alias('mean_token_len'),
        F.round(alpha_ratio, 6).alias('alpha_ratio'),
        F.round(punct_ratio, 6).alias('punct_ratio'),
        F.round(stop_ratio, 6).alias('stopword_ratio'),
        F.round(score, 6).alias('quality_score'),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals per document.

    * ``dup_token_frac``: 1 - distinct/total tokens — computed as a pure
      array projection (``array_distinct``), no explode, no shuffle;
    * ``top_bigram_frac``: share of bigram occurrences taken by the most
      frequent bigram — the classic boilerplate/spam signal; one explode
      + (doc, bigram) groupBy with map-side partials, then a doc-level
      rollup. One tokenize pass total (the token-level stats ride along
      as grouping-invariant columns, not a second explode — the TF-IDF
      double-tokenize lesson).

    Repetitive machine-generated text scores high on both; Rae et al.
    (Gopher, 2021) appendix A cut documents on exactly these families of
    thresholds.
    """
    toks = tokens()

    # bind the token array ONCE as a lambda variable (the shingle_hashes
    # pattern): Catalyst inlines duplicated higher-order expressions on
    # projection collapse, so referencing `toks` inside the per-bigram
    # lambda would re-tokenize the document per bigram — O(n_tokens^2)
    def stats(t):
        bigrams = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.concat(
                    F.element_at(t, (i + 1).cast('int')), F.lit(' '),
                    F.element_at(t, (i + 2).cast('int'))))
        ).otherwise(F.array().cast('array<string>'))
        return F.struct(
            F.size(t).alias('n_tokens'),
            F.size(F.array_distinct(t)).alias('n_distinct'),
            bigrams.alias('bigrams'))

    base = docs.select(
        F.col('doc_id'),
        F.inline(F.array(bind_once(toks, stats)))
    ).select(
        F.col('doc_id'), 'n_tokens', 'n_distinct',
        F.explode_outer('bigrams').alias('bigram'))
    per_bigram = base.groupBy(
        'doc_id', 'n_tokens', 'n_distinct', 'bigram').agg(
        F.count('*').alias('c'))
    not_null = F.col('bigram').isNotNull()
    per_doc = per_bigram.groupBy('doc_id', 'n_tokens', 'n_distinct').agg(
        F.sum(F.when(not_null, F.col('c')).otherwise(0))
         .alias('n_bigrams'),
        F.max(F.when(not_null, F.col('c')).otherwise(0))
         .alias('top_bigram_count'))
    return per_doc.select(
        'doc_id',
        F.col('n_tokens').cast('int').alias('n_tokens'),
        F.round(1.0 - F.col('n_distinct')
                / F.greatest(F.col('n_tokens'), F.lit(1)), 6)
         .alias('dup_token_frac'),
        F.col('n_bigrams').cast('int').alias('n_bigrams'),
        F.round(F.col('top_bigram_count')
                / F.greatest(F.col('n_bigrams'), F.lit(1)), 6)
         .alias('top_bigram_frac'),
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style document filter (Rae et al. 2021, appendix A).

    Per document: word-count bounds (20 to 100,000), mean word length
    bounds (3 to 10), symbol-to-word ratio (``#`` and ``...``, at most
    0.1), fraction of words with at least one alphabetic character (at
    least 0.8), and a minimum of 2 English stopword hits — plus the
    combined ``keep`` verdict. One tokenize pass (every token
    statistic is folded from a single bound lambda variable), a pure
    map-side projection: no shuffle, scales linearly with executors.
    """
    norm = norm_text()
    hash_chars = F.length(norm) - F.length(F.replace(norm, F.lit('#')))
    ellipses = F.size(F.regexp_extract_all(norm, F.lit(r'\.\.\.'), 0))

    def stats(t):
        return F.struct(
            F.size(t).alias('n_words'),
            F.aggregate(t, F.lit(0).cast('long'),
                        lambda acc, w: acc + F.length(w)).alias('sum_len'),
            F.size(F.filter(t, lambda w: w.rlike('[a-zA-Z]')))
             .alias('n_alpha_words'),
            stopword_hits(t, 'en').alias('stop_hits'),
        )

    feat = docs.select(
        F.col('doc_id'),
        F.inline(F.array(bind_once(tokens(), stats))),
        hash_chars.alias('hash_chars'), ellipses.alias('ellipses'))
    n_words = F.col('n_words')
    mean_word_len = F.col('sum_len') / F.greatest(n_words, F.lit(1))
    symbol_ratio = ((F.col('hash_chars') + F.col('ellipses'))
                    / F.greatest(n_words, F.lit(1)))
    alpha_frac = F.col('n_alpha_words') / F.greatest(n_words, F.lit(1))
    keep = (
        (n_words >= 20) & (n_words <= 100_000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (F.col('stop_hits') >= 2)
    )
    return feat.select(
        'doc_id',
        n_words.cast('int').alias('n_words'),
        F.round(mean_word_len, 6).alias('mean_word_len'),
        F.round(symbol_ratio, 6).alias('symbol_word_ratio'),
        F.round(alpha_frac, 6).alias('alpha_word_frac'),
        F.col('stop_hits').cast('int').alias('stop_hits'),
        keep.cast('int').alias('keep'),
    )


QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.95)


def _stratum_quantiles(docs: DataFrame, count_name: str) -> DataFrame:
    """(stratum, ``count_name``, p25..p95) of ``n_chars`` per ``lang``."""
    probs = F.array(*[F.lit(p) for p in QUANTILE_PROBS])
    return (docs.groupBy(F.col('lang').alias('stratum'))
            .agg(F.count('*').alias(count_name),
                 F.percentile('n_chars', probs).alias('q'))
            .select('stratum', count_name,
                    *[F.round(F.element_at('q', i + 1), 6)
                      .alias(f'p{int(p * 100)}')
                      for i, p in enumerate(QUANTILE_PROBS)]))


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Per-stratum length distribution (the data-card table): p25 / p50 /
    p75 / p95 of ``n_chars`` per ``lang`` plus the document count.

    The exact interpolating ``percentile`` aggregate buffers every group
    value in the aggregation buffer — fine up to millions of rows per
    stratum and bit-comparable to the SQL oracle's ``quantile_cont``.
    ``sampled_quantiles`` is the bounded-memory path.
    """
    return _stratum_quantiles(docs, 'n_docs')


def sampled_quantiles(docs: DataFrame) -> DataFrame:
    """Deterministic hash-sampled quantiles: the bounded-memory quantile
    path — oracle-exact like ``length_quantiles`` and memory-bounded.

    The sample is the rows whose portable rolling hash of the key is
    ``0 (mod 4)``: deterministic (no RNG — stable across retries,
    partitionings, and engines, so DuckDB draws the IDENTICAL sample),
    uniform under the hash, and MERGEABLE — the sample of a corpus
    union is the union of the samples, so per-snapshot/per-partition
    samples compose exactly like the Bloom/HLL/CMS monoids
    (completing the portable sketch family with quantiles). The exact
    interpolating percentile then buffers only ~1/4 of each stratum; at
    100 TB the modulus would grow so strata sample to ~10^6 rows.
    Unlike ``approx_percentile`` (Greenwald-Khanna, engine-specific
    internals), every step here is reproducible in plain SQL.
    """
    h = rolling_hash(F.col('doc_id').cast('string'))
    return _stratum_quantiles(docs.where(h % F.lit(4) == 0), 'n_sampled')


def dedup_lines(docs: DataFrame) -> DataFrame:
    """C4's cross-document span dedup at line granularity (Raffel et
    al. 2020 deduplicate repeated three-sentence spans corpus-wide;
    the line is the natural span unit for transcript markup): every
    line of at least 10 characters is kept only at its
    FIRST occurrence in the corpus (ordered by document id, then line
    position); later occurrences are dropped and each document is
    reassembled from its surviving lines. Short lines are exempt —
    deduping "yes." corpus-wide would shred the documents.

    Scale shape: one line explode, then keep-first as a min-struct
    AGGREGATION on the line content key — ``groupBy(line).agg(min(
    struct(id, idx)))`` — NOT a ``row_number`` window. Boilerplate
    lines are exactly the skewed keys, and a window partitioned on the
    line would ship every duplicate of a 10^8-occurrence footer line
    through one task with no partial aggregation; the min aggregate
    collapses the hot key map-side to one row per partition, and the
    join back to the exploded lines is a plain equi-join AQE can
    skew-split. Short lines are exempt up front (never enter the
    build side), keeping "yes." off the hot path entirely. One
    groupBy per document reassembles.

    Output: (id, clean_text, n_lines, n_removed).
    """
    lines = docs.select(
        F.col('doc_id'),
        F.posexplode(F.split('text', r'\r?\n'))
         .alias('line_idx', 'line'))
    firsts = (lines
              .where(F.length('line') >= 10)
              .groupBy('line')
              .agg(F.min(F.struct(F.col('doc_id'), F.col('line_idx')))
                    .alias('_first')))
    marked = (lines
              .join(firsts, 'line', 'left')
              .select(
                  'doc_id', 'line_idx', 'line',
                  F.when(F.length('line') < 10, F.lit(True))
                   .otherwise(F.struct(F.col('doc_id'), F.col('line_idx'))
                              == F.col('_first')).alias('_keep')))
    return (marked.groupBy('doc_id')
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.when(
                            F.col('_keep'),
                            F.struct('line_idx', 'line')))),
                        lambda s: s['line']), '\n').alias('clean_text'),
                F.sum(F.when(F.col('_keep'), 1).otherwise(0)).cast('int')
                 .alias('n_lines'),
                F.sum(F.when(F.col('_keep'), 0).otherwise(1)).cast('int')
                 .alias('n_removed')))


def incremental_dedup(
    new_docs: DataFrame,
    seen_keys: DataFrame,
    bloom_filter=None,
) -> DataFrame:
    """Cross-snapshot dedup: which new-crawl documents survive against
    an existing corpus snapshot?

    Survivors are documents whose normalized-content hash (a) does not
    appear in ``seen_keys`` (one column named ``content_hash``) and (b) are
    the first occurrence of their hash inside this batch (min id —
    the skew-safe min-struct aggregation, not a window).

    ``bloom_filter`` (the ``bloom.bloom_build`` result over the seen
    keys — the BloomFilter carries its own (m_bits, k), so a parameter
    mismatch with build time cannot silently corrupt the result)
    is the scale path: keys the filter rejects are DEFINITELY unseen
    (no false negatives) and skip the anti-join entirely; only the
    ``maybe_present`` minority — true dupes plus the designed FP rate —
    reaches the exact check. At 100 TB the anti-join's shuffle shrinks
    by whatever fraction of the batch is genuinely new, for the cost
    of a broadcast-sized bitmap probe. The result is provably
    IDENTICAL with or without the prefilter, which is exactly what the
    driver gate checks (its oracle is bloom-agnostic).
    """
    keyed = new_docs.select(
        F.col('doc_id'), F.md5(norm_text()).alias('content_hash'))
    seen = seen_keys.select(F.col('content_hash')).distinct()
    if bloom_filter is not None:
        from .bloom import bloom_probe
        probed = bloom_probe(
            keyed.select(F.col('content_hash').alias('key')),
            bloom_filter)
        flagged = keyed.join(
            probed.withColumnRenamed('key', 'content_hash'), 'content_hash')
        fast = (flagged.where(~F.col('maybe_present'))
                .select('doc_id', 'content_hash'))
        slow = (flagged.where(F.col('maybe_present'))
                .select('doc_id', 'content_hash')
                .join(seen, 'content_hash', 'left_anti'))
        unseen = fast.unionByName(slow)
    else:
        unseen = keyed.join(seen, 'content_hash', 'left_anti')
    return (unseen
            .groupBy('content_hash')
            .agg(F.min(F.col('doc_id')).alias('doc_id'))
            .select('doc_id', 'content_hash'))


SCRIPT_CLASSES = (
    # (name, Java regex class, RE2/DuckDB regex class) — order is the
    # deterministic tie-break for the dominant script
    ('latin', r'\p{IsLatin}', r'\p{Latin}'),
    ('cyrillic', r'\p{IsCyrillic}', r'\p{Cyrillic}'),
    ('cjk', r'\p{IsHan}', r'\p{Han}'),
    ('thai', r'\p{IsThai}', r'\p{Thai}'),
)


def script_profile(docs: DataFrame) -> DataFrame:
    """Per-document script composition + dominant script — the routing
    signal for script-specific downstream stages (which segmentation
    locale to use, which LM to score with, whether dictionary breaking
    applies). All counting is JVM-side regex char-class stripping
    (count = length before minus length after removing the class), one
    projection, no shuffle, no Python.

    Output: (id, n_chars, latin_frac..thai_frac rounded to 6dp,
    dominant) with dominant = argmax fraction over SCRIPT_CLASSES order
    ('other' when no class fires).
    """
    def frac(t, java_cls):
        return (F.length(t)
                - F.length(F.regexp_replace(t, java_cls, ''))) \
            / F.greatest(F.length(t), F.lit(1))

    t = F.col('_t')
    staged = docs.select(F.col('doc_id'), norm_text().alias('_t')) \
        .select('doc_id', F.length('_t').alias('n_chars'),
                *[F.round(frac(t, cls), 6).alias(f'{name}_frac')
                  for name, cls, _ in SCRIPT_CLASSES])
    _, dominant = _argmax([n for n, _, _ in SCRIPT_CLASSES], '{}_frac',
                          'other')
    return staged.select(
        'doc_id', 'n_chars',
        *[f'{n}_frac' for n, _, _ in SCRIPT_CLASSES],
        dominant.alias('dominant'))


def quality_buckets(docs: DataFrame, vocab_size: int = 50000) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): corpus
    tercile thresholds over the LM quality score split documents into
    head / middle / tail; docs with no score (zero trigrams) are
    'unscored'.

    Scale shape: the thresholds are ONE aggregate row broadcast back
    over the corpus (no global sort / ntile — a single-partition window
    would serialize the corpus through one task at 100 TB). The exact
    interpolating ``percentile`` is oracle-comparable.
    """
    scored = lm_score(docs, vocab_size)
    # cuts rounded to 6dp (same convention as lm_score itself): Spark
    # F.percentile and DuckDB quantile_cont interpolate in different
    # fp orders, so un-rounded cuts could bucket a doc sitting exactly
    # at a threshold differently between engine and oracle
    cuts = scored.agg(
        F.round(F.percentile('lm_score', F.lit(1.0 / 3)), 6).alias('q33'),
        F.round(F.percentile('lm_score', F.lit(2.0 / 3)), 6).alias('q66'))
    return (scored.crossJoin(F.broadcast(cuts))
            .select(
                'doc_id', 'lm_score',
                F.when(F.col('lm_score').isNull(), 'unscored')
                 .when(F.col('lm_score') >= F.col('q66'), 'head')
                 .when(F.col('lm_score') >= F.col('q33'), 'middle')
                 .otherwise('tail').alias('bucket')))


def c4_rules(docs: DataFrame) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, section 2.2): line-level
    filtering plus document-level exclusions.

    A line survives iff it ends in terminal punctuation (``. ! ? "``)
    and has at least 5 words; the document survives iff
    at least 3 lines survive AND the text contains no
    ``{`` (code marker) and no ``lorem ipsum`` (boilerplate marker).
    The paper's dirty-word list and three-sentence-span dedup are
    covered elsewhere (``pii_scrub`` / ``duplicated_spans``).

    One pass over the line array (the split and the filtered array are
    each evaluated exactly once via bound lambda variables — Catalyst
    has no CSE for lambdas), pure map-side projection: no shuffle,
    scales linearly with executors.

    Output: (doc_id, n_lines, n_kept_lines, kept_text, keep).
    """
    def line_ok(ln):
        # full whitespace trim (bound once), not F.trim: a bare trailing
        # \r (no \n after it) would otherwise both let Java's `$` match
        # before the \r AND add a trailing empty token that inflates the
        # word count past the 5-word minimum; an all-whitespace line counts
        # as zero words
        return bind_once(
            F.regexp_replace(ln, r'^\s+|\s+$', ''),
            lambda t: ((t != '')
                       & (F.size(F.split(t, r'\s+')) >= 5)
                       & t.rlike('[.!?"]$')))

    def stats(ls):
        return F.struct(
            F.size(ls).alias('n_lines'),
            bind_once(
                F.filter(ls, line_ok),
                lambda kept: F.struct(
                    F.size(kept).alias('n_kept_lines'),
                    F.array_join(kept, '\n').alias('kept_text'))
            ).alias('k'))

    # split on \r?\n so CRLF documents don't leave a trailing \r on each
    # line: F.trim strips only spaces, and Java's `$` would still match
    # before a final \r while the documented RE2/oracle semantics don't
    lines = F.split(F.col('text'), r'\r?\n')
    feat = docs.select(
        F.col('doc_id'),
        F.inline(F.array(bind_once(lines, stats))),
        F.col('text').contains('{').alias('has_brace'),
        F.lower(F.col('text')).contains('lorem ipsum').alias('has_lorem'))
    keep = ((F.col('k.n_kept_lines') >= 3)
            & ~F.col('has_brace') & ~F.col('has_lorem'))
    return feat.select(
        'doc_id',
        F.col('n_lines').cast('int').alias('n_lines'),
        F.col('k.n_kept_lines').cast('int').alias('n_kept_lines'),
        F.col('k.kept_text').alias('kept_text'),
        keep.cast('int').alias('keep'),
    )


SAMPLE_DENOM = 10_000


def stratified_sample(docs: DataFrame, rates: dict,
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-stratum downsampling (the data-mix resampling
    step): keep a document iff its salted rolling text hash mod
    ``SAMPLE_DENOM`` falls under the stratum's threshold.

    No RNG and no driver state, so the sample is reproducible across
    runs, engines and repartitionings — the property a training-data
    card needs. Rates are converted to integer thresholds here (driver
    side, exact) so both Spark and the SQL oracle compare integers;
    a rate of 0 excludes the stratum entirely. Map-only filter +
    projection: no shuffle, scales linearly with executors.
    """
    thresholds = {s: int(round(r * SAMPLE_DENOM)) for s, r in rates.items()}
    thr_map = F.create_map(
        *[F.lit(x) for kv in thresholds.items() for x in kv])
    thr = F.coalesce(thr_map[F.col('lang')],
                     F.lit(int(round(default_rate * SAMPLE_DENOM))))
    bucket = rolling_hash(
        F.concat(F.lit('sample:'), F.col('lang'), F.lit(':'),
                 norm_text())) % SAMPLE_DENOM
    return (docs
            .select(F.col('doc_id'), F.col('lang').alias('stratum'),
                    bucket.cast('int').alias('sample_bucket'), thr.alias('_thr'))
            .where(F.col('sample_bucket') < F.col('_thr'))
            .drop('_thr'))


def contamination_pairs(train: DataFrame, test: DataFrame,
                        min_common: int = 1) -> DataFrame:
    """Cross-split n-gram leakage: (test_doc, train_doc) pairs sharing
    word shingles, with the contaminated fraction of the test document.

    The train/test contamination check every LLM data pipeline runs
    before evaluation (n-gram overlap methodology per the GPT-3 /
    PaLM / Gopher data cards; they use 8-13-gram windows at web scale,
    this operator ``SHINGLE_N``-word shingles). Scale shape: shingle
    equi-join — the test side is orders of magnitude smaller and
    pre-aggregated per shingle; ``min_common`` prunes incidental
    single-shingle collisions before the pair rollup.

    Output: (test_doc, train_doc, n_common_shingles, contamination)
    where contamination = shared/test-doc-total shingles.
    """
    sh_tr = doc_shingle_table(train).select(
        F.col('doc_id').alias('train_doc'), 'shingle')
    sh_te = doc_shingle_table(test).select(
        F.col('doc_id').alias('test_doc'), 'shingle')
    te_sizes = sh_te.groupBy('test_doc').agg(
        F.count('*').alias('n_test_shingles'))
    pairs = (sh_te.join(sh_tr, 'shingle')
             .groupBy('test_doc', 'train_doc')
             .agg(F.count('*').alias('n_common_shingles'))
             .where(F.col('n_common_shingles') >= min_common))
    return (pairs.join(te_sizes, 'test_doc')
            .select('test_doc', 'train_doc', 'n_common_shingles',
                    F.round(F.col('n_common_shingles')
                            / F.col('n_test_shingles'), 6)
                     .alias('contamination')))


# deliberately narrow, engine-portable patterns (Java regex == RE2 ==
# POSIX here): the operator's value is the scrub plumbing; production
# deployments swap in their PII pattern pack
PII_EMAIL_RE = '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'
PII_PHONE_RE = '[0-9]{3}-[0-9]{3}-[0-9]{4}'


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails / phone-shaped numbers, keeping match counts.

    Pure JVM-side ``regexp_replace``/``regexp_count`` projection — no
    shuffle, no UDF; scales as a map-only stage and pushes column
    pruning to the scan. Counts feed the pipeline's observability
    (how much PII a source emits is itself a quality signal).
    """
    norm = norm_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(norm, PII_EMAIL_RE, '<EMAIL>'),
        PII_PHONE_RE, '<PHONE>')
    return docs.select(
        F.col('doc_id'),
        F.regexp_count(norm, F.lit(PII_EMAIL_RE)).cast('int')
         .alias('n_emails'),
        F.regexp_count(norm, F.lit(PII_PHONE_RE)).cast('int')
         .alias('n_phones'),
        scrubbed.alias('scrubbed_text'),
    )


def domain_mix_weights(docs: DataFrame, targets: dict) -> DataFrame:
    """Per-domain sampling weights to hit a target token mix.

    The domain-reweighting step of a pretraining data pipeline (the
    Pile / Gopher / LLaMA data cards all publish exactly this table):
    given target token shares per domain, weight = target_share /
    current_share, so sampling each domain's documents with its weight
    yields the target mixture. Domains absent from ``targets`` get
    weight 0 (excluded from the mix).

    Scale shape: ONE map-side-combined groupBy on the domain key — the
    corpus is scanned and tokenized once. The grand total is a window
    sum over the aggregated frame (domains-sized, so its
    single-partition exchange moves a handful of rows); deriving it
    with a second agg + cross join would re-execute the whole
    scan→tokenize subtree, since column pruning makes the two partial
    aggregates differ and defeats ReuseExchange (the tf/df trap).
    """
    tgt = F.create_map(*[
        F.lit(x) for kv in targets.items() for x in kv])
    per = docs.groupBy('source').agg(
        F.count('*').alias('n_docs'),
        F.sum(F.size(tokens())).alias('n_tokens'))
    w_all = Window.partitionBy()
    total = F.sum('n_tokens').over(w_all).cast('double')
    share = F.col('n_tokens') / total
    return per.select(
        'source', 'n_docs', 'n_tokens',
        F.round(share, 6).alias('token_share'),
        F.round(
            F.coalesce(tgt[F.col('source')], F.lit(0.0)) / share,
            6).alias('mix_weight'))


CHUNK_WINDOW = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (16 overlap)


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Sliding-window token chunks with overlap (pretraining/RAG prep).

    Chunk k covers tokens [k*CHUNK_STRIDE, k*CHUNK_STRIDE +
    CHUNK_WINDOW); the last window clamps at the end of the document,
    and every document emits at least one chunk. Pure Catalyst — a
    per-row sequence of slices exploded to rows, no UDF, no shuffle
    (the array is bound once as a lambda variable; no lambda-CSE
    recompute).

    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    toks = tokens()

    def chunks(t):
        n = F.size(t)
        n_chunks = (F.lit(1) + F.ceil(
            F.greatest(n - CHUNK_WINDOW, F.lit(0)) / F.lit(CHUNK_STRIDE))
        ).cast('int')
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda k: F.struct(
                k.cast('int').alias('chunk_idx'),
                F.slice(t, (k * CHUNK_STRIDE + 1).cast('int'), CHUNK_WINDOW)
                 .alias('_toks')))

    exploded = docs.select(
        F.col('doc_id'),
        F.explode(bind_once(toks, chunks)).alias('c'))
    return exploded.select(
        'doc_id',
        F.col('c.chunk_idx').alias('chunk_idx'),
        F.size('c._toks').cast('int').alias('n_tokens'),
        F.array_join('c._toks', ' ').alias('chunk_text'))


LM_QUANT = 1_000_000  # log-prob quantization grid (1e-6 nats)


def lm_score(docs: DataFrame, vocab_size: int = 50000) -> DataFrame:
    """Corpus char-trigram LM quality score (CCNet/KenLM-style filter).

    The classic model-based quality signal: score each document by the
    mean log-probability of its character trigrams under a unigram-
    over-trigrams model trained on the corpus itself — fluent text
    reuses common trigrams, garbage/binary/boilerplate does not.

    Scale shape: one explode+groupBy builds the trigram counts; the
    vocabulary is capped at the top ``vocab_size`` trigrams (ties by
    trigram), so the model table is bounded and broadcastable at any
    corpus size — AQE picks the broadcast join of doc-trigrams against
    it. Out-of-vocabulary trigrams get the floor log-prob
    ln(0.5/total).

    Engine portability: log-probs are quantized to a 1e-6 grid and
    summed as LONGs — exact, order-independent sums — so the DuckDB
    oracle matches bit-for-bit with no float summation-order hazard
    (same trick as the k-means integer grid); only the final division
    is floating point.

    Output: (id, n_trigrams, lm_score) with lm_score = mean quantized
    log-prob in nats, rounded to 6dp. A document with no trigrams at
    all (shorter than 3 chars after normalization) has no evidence to
    score, so ``lm_score`` is NULL — not the OOV floor; a quality
    filter should treat contentless docs as unscored, not as
    worst-possible. The corpus-wide degenerate case (no doc has any
    trigram → no model) also yields NULL via the NULL ``total``.
    """
    # explode trigram START POSITIONS, then slice with a row-level
    # substr: the per-position substring runs in whole-stage codegen
    # instead of an interpreted higher-order lambda (same rows — the
    # NULL-position row keeps the short-doc NULL-trigram semantics)
    base = docs.select(F.col('doc_id'), norm_text().alias('_t'))
    positions = F.when(
        F.length('_t') >= 3,
        F.sequence(F.lit(1), F.length('_t') - 2)
    ).otherwise(F.array(F.lit(None).cast('int')))
    # the explicit repartition makes the counts pass and the scoring
    # pass sit above ONE identical exchange subtree, which Spark
    # reuses — the trigram explode runs once instead of twice
    # (measured 19% off lm_score; rows identical). The key is
    # (tri, salt-from-id): tri alone would hot-spot ultra-frequent
    # trigrams at scale (aggregations get no AQE skew split), so the
    # deterministic salt bounds any one trigram's share per partition;
    # the counts aggregation re-merges through a vocabulary-sized
    # second exchange. The salt takes one value per shuffle partition:
    # more values could not spread a trigram any further
    salts = int(docs.sparkSession.conf.get('spark.sql.shuffle.partitions'))
    tris = (base
            .select(F.col('doc_id'), '_t', F.explode(positions).alias('_i'))
            .select(F.col('doc_id'),
                    F.col('_t').substr(F.col('_i'), F.lit(3)).alias('tri'))
            .repartition(F.col('tri'),
                         F.pmod(F.xxhash64('doc_id'), F.lit(salts))))
    counts = tris.where(F.col('tri').isNotNull()) \
        .groupBy('tri').agg(F.count('*').alias('c'))
    total = counts.agg(F.sum('c').cast('double').alias('total'))
    vocab = (counts.crossJoin(F.broadcast(total))
             .orderBy(F.col('c').desc(), 'tri').limit(vocab_size)
             .select(
                 'tri',
                 F.round(F.log(F.col('c') / F.col('total')) * LM_QUANT, 0)
                  .cast('long').alias('logp_q')))
    floor_q = F.round(F.log(0.5 / F.col('total')) * LM_QUANT, 0) \
        .cast('long')
    scored = (tris
              .join(F.broadcast(vocab), 'tri', 'left')
              .crossJoin(F.broadcast(total))
              .select(
                  'doc_id',
                  F.col('tri'),
                  F.coalesce(F.col('logp_q'), floor_q).alias('lp')))
    return (scored.groupBy('doc_id')
            .agg(F.count(F.col('tri')).cast('int').alias('n_trigrams'),
                 F.sum('lp').alias('_s'), F.count('*').alias('_n'))
            .select(
                'doc_id', 'n_trigrams',
                F.when(F.col('n_trigrams') > 0,
                       F.round(F.col('_s') / F.col('_n') / LM_QUANT, 6))
                 .alias('lm_score')))


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Bottom-4 sketch fingerprint over shingle hashes (string-joined).

    ``shingle_hashes`` already returns a distinct array. The three
    output columns derive from it through one ``inline`` over a bound
    lambda variable, so the shingle pipeline is evaluated once per row
    (three plain column references would each inline a full recompute —
    Catalyst has no CSE for lambda expressions).
    """
    hashes = shingle_hashes(tokens())
    return docs.select(
        F.col('doc_id'),
        F.inline(F.transform(F.array(hashes), lambda h: F.struct(
            F.array_join(
                F.transform(F.slice(F.array_sort(h), 1, 4),
                            lambda x: x.cast('string')), '-')
             .alias('fingerprint'),
            F.array_min(h).alias('fp_min'),
            F.size(h).alias('n_shingles'),
        ))),
    )
