"""Direct unit checks on the text operators (beyond the SQL oracles)."""

import os
import sys

from ocrodjvu_spark.functions import textops
from tests.oracles import simhash64

sys.path.insert(0, os.path.join(os.path.dirname(__file__), '..', 'tools'))

import explain_audit  # noqa: E402


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], 'doc_id long, text string')


def test_simhash_table_matches_column_form(spark):
    # the explode+aggregate fingerprint (codegen'd vote sums) must be
    # bit-exact with the higher-order-fold column form, including the
    # null-text (NULL sim via join-back), empty, whitespace-only and
    # single-token edges
    docs = spark.createDataFrame(
        [(1, 'alpha beta gamma'), (2, 'alpha beta zeta'),
         (3, None), (4, ''), (5, '   '), (6, 'one'),
         (7, 'a b  c'), (8, 'x' * 300), (9, 'répé tition tëst')],
        'doc_id long, text string')
    table = sorted(map(tuple, textops.simhash_table(docs).collect()))
    column = sorted(map(tuple, docs.select(
        'doc_id',
        simhash64(textops.tokens()).alias('sim'),
    ).collect()))
    assert table == column


def test_jaccard_max_df_keeps_exact_scores(spark):
    base = 'alpha beta gamma delta epsilon zeta eta theta'
    docs = _docs(spark, [
        base,
        base + ' iota',          # near dup of 0
        'one two three four five six seven eight',
        base,                    # exact dup of 0
    ])
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in textops.jaccard_pairs(docs, threshold=0.3).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard
              for r in textops.jaccard_pairs(
                  docs, threshold=0.3, max_df=10).collect()}
    assert exact == capped  # cap above every df: identical results
    assert exact[(0, 3)] == 1.0
    assert 0.3 <= exact[(0, 1)] < 1.0
    # jaccard values stay full-set even when the cap drops shingles
    capped2 = {(r.doc_a, r.doc_b): r.jaccard
               for r in textops.jaccard_pairs(
                   docs, threshold=0.3, max_df=2).collect()}
    for pair, j in capped2.items():
        assert j == exact[pair]


def test_minhash_superset_of_high_jaccard(spark):
    base = 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
    docs = _docs(spark, [
        base,
        base + ' tail',
        'unrelated words entirely different from the others here now',
    ])
    pairs = {(r.doc_a, r.doc_b)
             for r in textops.minhash_dedup_pairs(
                 docs, threshold=0.5).collect()}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)


def _pair_rows(df):
    return sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())


def _set_scorer_docs(spark):
    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lambda mu nu xi omicron pi rho sigma tau upsilon')
    edit = base.split()
    edit[-1] = 'UPSILON'
    rows = [
        (0, base),
        (1, base),                          # identical
        (2, ' '.join(edit)),                # last token replaced
        (3, base + ' phi'),                 # one-token insert
        (4, base.split(' ', 1)[1]),         # one-token delete
        (5, 'short doc'),                   # < SHINGLE_N tokens
        (6, 'short doc'),
        (7, 'x y z x y z x y z x y z'),     # repeats its shingles
        (8, 'x y z x y z'),
        (9, None),
        (10, 'one two three four five six seven eight nine ten eleven '
             'twelve thirteen fourteen fifteen sixteen'),
        (10, 'one two three four five six seven eight nine ten eleven '
             'twelve thirteen fourteen fifteen sixteen'),  # row twice
        (11, 'one two three four five six seven eight nine ten eleven '
             'twelve thirteen fourteen fifteen'),  # last token deleted
        (12, 'unrelated words entirely different from the others'),
        (None, base),                       # no id: pairs with nothing
    ]
    return spark.createDataFrame(rows, 'doc_id long, text string')


def test_minhash_set_scorer_matches_jaccard_pairs(spark):
    # every pair at or above the threshold shares a band, so the LSH
    # path must return exactly the exact pairs, with the same values
    assert textops.SHINGLE_N == 3
    docs = _set_scorer_docs(spark)
    exact = _pair_rows(textops.jaccard_pairs(docs, threshold=0.5))
    bands = {}
    for r in textops.minhash_band_table(
            textops.minhash_signature_table(docs)).collect():
        bands.setdefault(r.doc_id, set()).add(r.band)
    assert all(bands[a] & bands[b] for a, b, _ in exact)
    pairs = {(a, b) for a, b, _ in exact}
    assert {(0, 1), (0, 2), (0, 3), (0, 4), (5, 6), (7, 8),
            (10, 11)} <= pairs
    assert not any(9 in p or 12 in p for p in pairs)
    assert _pair_rows(textops.minhash_dedup_pairs(
        docs, threshold=0.5)) == exact
    # the max_df candidate path scores with the same set scorer
    assert _pair_rows(textops.jaccard_pairs(
        docs, threshold=0.5, max_df=100)) == exact


def test_set_scorer_drops_pairs_without_common_shingles(spark):
    docs = _set_scorer_docs(spark)
    sets = textops._doc_shingle_sets(textops.doc_shingle_table(docs))
    candidates = spark.createDataFrame(
        [(0, 1), (0, 12), (5, 10), (3, 9)], 'doc_a long, doc_b long')
    assert _pair_rows(textops._score_candidates(
        candidates, sets, threshold=0.0)) == [(0, 1, 1.0)]


def _shingle_shuffles(df):
    """Non-reused exchanges over the shingle explode in the final
    adaptive plan, read after the query ran."""
    df.collect()
    return explain_audit.explode_shuffles(
        explain_audit.final_plan(explain_audit.plan_of(df)))


def test_dedup_plans_shuffle_the_shingle_explode_once(spark):
    docs = _set_scorer_docs(spark)
    assert _shingle_shuffles(textops.minhash_dedup_pairs(docs)) == 1
    assert _shingle_shuffles(textops.jaccard_pairs(docs)) == 1


def test_explode_shuffles_counts_each_shingle_shuffle_once(spark):
    # two shingle shuffles under a third exchange: the descent below the
    # top exchange stops at the shingle stages, so it adds nothing
    docs = _set_scorer_docs(spark)
    two = textops.doc_shingle_table(docs.where('doc_id < 6')).union(
        textops.doc_shingle_table(docs.where('doc_id >= 6')))
    assert _shingle_shuffles(two.groupBy('shingle').count()) == 2


def test_minhash_plan_groups_buckets_in_one_aggregate_per_document(spark):
    # no broadcast build of bands or sets, and the signature and the
    # shingle set come from one aggregate over the shingle exchange
    pairs = textops.minhash_dedup_pairs(_set_scorer_docs(spark))
    pairs.collect()
    plan = explain_audit.final_plan(explain_audit.plan_of(pairs))
    assert 'BroadcastExchange' not in plan
    aggs = explain_audit.doc_aggregates(plan)
    assert len(aggs) == 1
    assert 'min(' in aggs[0] and 'collect_list(' in aggs[0]


def test_simhash_similar_docs_close(spark):
    docs = _docs(spark, [
        'alpha beta gamma delta epsilon',
        'alpha beta gamma delta zeta',
        'qqq www eee rrr ttt',
    ])
    rows = {r.doc_id: r.simhash for r in docs.select(
        'doc_id',
        simhash64(textops.tokens()).alias('simhash'),
    ).collect()}

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count('1')

    assert hamming(rows[0], rows[1]) < hamming(rows[0], rows[2])


def test_language_id_und_for_no_stopwords(spark):
    docs = _docs(spark, ['zzz qqq xxx', 'the cat and the hat'])
    rows = {r.doc_id: r.lang_pred
            for r in textops.language_id(docs).collect()}
    assert rows[0] == 'und'
    assert rows[1] == 'en'


def test_dedup_clusters_transitive_chain(spark):
    # a -> b -> c chain where a and c share little directly: the cluster
    # must still merge via transitivity (propagation depth > 1)
    base = ['alpha beta gamma delta epsilon zeta eta theta iota kappa',
            None, None]
    base[1] = base[0] + ' lam mu'         # near-dup of 0 (J = 0.8)
    base[2] = base[1] + ' nu xi omicron'  # near-dup of 1 (J = 0.77); no
    # direct 0-2 edge survives the LSH banding at these hash values, so
    # the merge below genuinely requires transitivity
    docs = _docs(spark, base + ['unrelated words entirely different set'])
    out = {r.doc_id: r.cluster_id
           for r in textops.dedup_clusters(docs).collect()}
    assert out.get(0) == 0 and out.get(1) == 0
    # deterministic input: the 1-2 edge must exist, so the transitive
    # merge is asserted unconditionally
    assert out[2] == 0
    assert 3 not in out  # singleton never appears


def test_connected_components_long_chain(spark):
    # a 64-node path graph has diameter 63: min-label propagation needs
    # 63 rounds, alternating large/small-star needs O(log n) — assert
    # the whole component resolves well inside the 25-round bound
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], 'doc_a long, doc_b long')
    out = {r.v: r.cluster_id
           for r in textops.connected_components(edges).collect()}
    assert len(out) == 64
    assert all(c == 0 for c in out.values())


def test_connected_components_multiple_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)],
        'doc_a long, doc_b long')
    out = {r.v: r.cluster_id
           for r in textops.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_minhash_bucket_cap_bounds_hot_buckets(spark):
    # 1000 identical documents share every LSH band bucket: uncapped
    # candidate generation would emit ~500k pairs per band; with the cap
    # the hot buckets are excluded and the job stays linear. A distinct
    # near-dup pair in its own (small) buckets must survive the cap.
    base = 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
    rows = [(i, 'spam spam wonderful spam lovely spam baked beans spam')
            for i in range(1000)]
    rows += [(5000, base), (5001, base + ' tail')]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    pairs = {(r.doc_a, r.doc_b)
             for r in textops.minhash_dedup_pairs(
                 docs, threshold=0.5, max_bucket_size=32).collect()}
    assert (5000, 5001) in pairs
    assert all(a >= 5000 for a, _ in pairs)  # hot bucket fully dropped


def test_minhash_bucket_cap_keeps_pairs_met_again_in_a_small_bucket(spark):
    # found by a seeded search: docs 0 and 1 share bands 0, 1 and 3;
    # doc 2 shares band 0 only. With the cap at 2 the band-0 bucket (3
    # docs) is dropped, so the pair's first shared band is gone, and it
    # must still come out (once) from its band-1 and band-3 buckets
    docs = _docs(spark, [
        'alder pine rowan oak rowan birch fir oak spruce spruce fir birch',
        'maple rowan rowan oak rowan birch fir oak spruce spruce fir birch',
        'maple hazel rowan oak rowan birch fir oak spruce spruce fir birch',
    ])
    bands = {}
    for r in textops.minhash_band_table(
            textops.minhash_signature_table(docs)).collect():
        bands.setdefault(r.doc_id, set()).add(r.band)
    assert sorted(b[0] for b in bands[0] & bands[1]) == ['0', '1', '3']
    assert [b[0] for b in bands[2] & bands[0]] == ['0']
    assert [b[0] for b in bands[2] & bands[1]] == ['0']
    assert _pair_rows(textops.minhash_dedup_pairs(
        docs, threshold=0.5, max_bucket_size=2)) == [(0, 1, 0.666667)]
    assert len(_pair_rows(textops.minhash_dedup_pairs(
        docs, threshold=0.5))) == 3


def test_simhash_pairs_banding_is_exact(spark):
    # pigeonhole guarantee: banded candidates == brute-force all-pairs
    # at max_dist 3 < 4 bands
    texts = ['alpha beta gamma delta epsilon',
             'alpha beta gamma delta epsilon',     # exact dup -> d=0
             'alpha beta gamma delta zeta',        # near
             'qqq www eee rrr ttt',
             'one two three four five six']
    docs = _docs(spark, texts)
    got = {(r.doc_a, r.doc_b): r.hamming_dist
           for r in textops.simhash_neardup_pairs(docs).collect()}
    sims = {r.doc_id: r.simhash for r in docs.select(
        'doc_id',
        simhash64(textops.tokens()).alias('simhash'))
        .collect()}

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count('1')

    brute = {(a, b): hamming(sims[a], sims[b])
             for a in sims for b in sims if a < b
             if hamming(sims[a], sims[b]) <= 3}
    assert got == brute
    assert got[(0, 1)] == 0


def test_simhash_band_key_cardinality_and_width(spark):
    # the scale property the 32-bit variant lacked: 64-bit fingerprint,
    # 4 bands x 16 bits -> 65,536 possible keys per band (not 256)
    assert textops.SIMHASH_BITS == 64
    band_bits = textops.SIMHASH_BITS // 4
    assert 2 ** band_bits == 65536
    # fingerprints actually use the full width: across a modest corpus
    # the top 32 bits must not be constant (they were all-zero in the
    # 32-bit implementation)
    docs = _docs(spark, [f'word{i} alpha beta gamma text number {i}'
                         for i in range(20)])
    sims = [r.s for r in docs.select(
        simhash64(textops.tokens()).alias('s')).collect()]
    high_halves = {(s >> 32) & 0xFFFFFFFF for s in sims}
    assert len(high_halves) > 1


def test_simhash_bucket_cap_bounds_hot_buckets(spark):
    # mirror of the minhash cap test: 1000 identical docs share every
    # band bucket; with the cap those buckets are excluded while a
    # distinct near-dup pair in its own small buckets survives
    base = 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
    rows = [(i, 'spam spam wonderful spam lovely spam baked beans spam')
            for i in range(1000)]
    rows += [(5000, base), (5001, base + ' tail')]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    pairs = {(r.doc_a, r.doc_b)
             for r in textops.simhash_neardup_pairs(
                 docs, max_bucket_size=32).collect()}
    assert all(a >= 5000 for a, _ in pairs)  # hot bucket fully dropped


def test_auto_banding_meets_miss_target():
    import math

    from ocrodjvu_spark.functions.similarity import auto_banding
    # the VERDICT-r2 acceptance case: at threshold 0.9 the computed
    # banding must push per-pair miss probability under 1e-5
    n_bands, band_size = auto_banding(0.9, target_miss=1e-5)
    p1 = 1 - math.acos(0.9) / math.pi
    miss = (1 - p1 ** band_size) ** n_bands
    assert miss <= 1e-5
    assert n_bands <= 64 and 1 <= band_size <= 8
    # higher threshold -> deeper/cheaper banding than lower threshold
    nb_hi, bs_hi = auto_banding(0.99, target_miss=1e-5)
    assert bs_hi >= band_size or nb_hi < n_bands
    # degenerate inputs are rejected, not silently mis-sized
    import pytest
    with pytest.raises(ValueError):
        auto_banding(1.5)
    with pytest.raises(ValueError):
        auto_banding(0.9, target_miss=0.0)


def test_neardup_auto_banding_finds_planted_pair(spark):
    from ocrodjvu_spark.functions import similarity
    # two nearly-identical vectors (cos ~0.999) plus unrelated noise:
    # the auto-sized banding at 0.9/1e-5 must surface the planted pair
    import math
    rows = []
    base = [math.sin(0.7 * i) for i in range(64)]
    rows.append((0, [float(x) for x in base]))
    rows.append((1, [float(x * 1.001 + (0.001 if i == 3 else 0))
                     for i, x in enumerate(base)]))
    for j in range(2, 12):
        rows.append((j, [float(math.sin(97.0 * j + 3.1 * i))
                         for i in range(64)]))
    emb = spark.createDataFrame(
        rows, 'vec_id long, embedding array<float>')
    pairs = {(r.vec_a, r.vec_b)
             for r in similarity.neardup_pairs(
                 emb, threshold=0.9, n_bands='auto',
                 target_miss=1e-5).collect()}
    assert (0, 1) in pairs


def test_kmeans_two_blobs(spark):
    from ocrodjvu_spark.functions import similarity
    # vec_ids 0,1 seed the two clusters; points sit near one of two
    # orthogonal corners of the grid
    rows = []
    for i in range(12):
        blob = i % 2
        base = [4.0, 0.1] if blob == 0 else [0.1, 4.0]
        vec = [base[0] + 0.01 * i, base[1]] + [0.0] * 62
        rows.append((i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, 'vec_id long, embedding array<float>')
    out = {r.vec_id: r.cluster
           for r in similarity.kmeans_labels(emb, k=2, iterations=3)
           .collect()}
    assert set(out.values()) == {0, 1}
    for i in range(12):
        assert out[i] == out[i % 2]


def test_semantic_dedup_pairs_within_cluster_and_cap(spark):
    from ocrodjvu_spark.functions import similarity
    # two orthogonal blobs; within each blob vectors are near-identical
    # (cos ~ 1), across blobs cos ~ 0 — so SemDeDup must pair within
    # clusters only
    rows = []
    for i in range(12):
        blob = i % 2
        base = [4.0, 0.1] if blob == 0 else [0.1, 4.0]
        vec = [base[0] + 0.01 * i, base[1]] + [0.0] * 62
        rows.append((i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, 'vec_id long, embedding array<float>')
    pairs = similarity.semantic_dedup_pairs(
        emb, k=2, iterations=3).collect()
    assert len(pairs) == 2 * (6 * 5 // 2)  # all within-blob pairs
    for r in pairs:
        assert r.vec_a % 2 == r.vec_b % 2 and r.cos_sim > 0.99
    # cap: both clusters have 6 members; cap at 5 excludes both
    # instead of going quadratic
    capped = similarity.semantic_dedup_pairs(
        emb, k=2, iterations=3, max_cluster_size=5)
    assert capped.count() == 0


def test_language_id_ngram_profiles(spark):
    docs = _docs(spark, [
        'the cat and the dog sing along with the band',
        'der hund und die katze singen ein schoenes lied',
        'zz qq xx',
    ])
    rows = {r.doc_id: r.lang_pred
            for r in textops.language_id_ngram(docs).collect()}
    assert rows[0] == 'en'
    assert rows[1] == 'de'
    assert rows[2] == 'und'


def test_repetition_stats_separates_spam(spark):
    docs = _docs(spark, [
        'spam spam spam spam spam spam',
        'every word here is completely unique today',
        'one',
    ])
    out = {r.doc_id: r for r in textops.repetition_stats(docs).collect()}
    assert out[0].dup_token_frac > 0.8
    assert out[0].top_bigram_frac == 1.0  # 'spam spam' is every bigram
    assert out[1].dup_token_frac == 0.0
    assert out[1].top_bigram_frac < 0.5
    # single-token doc: no bigrams, fractions well-defined
    assert out[2].n_bigrams == 0 and out[2].top_bigram_frac == 0.0


def test_gopher_rules_each_rule_fires(spark):
    long_clean = (
        'the quick brown fox jumps over lazy dogs and that ' * 3).strip()
    docs = _docs(spark, [
        long_clean,                                   # passes everything
        'short doc the and',                          # < min_words
        long_clean + ' ## ### #### ... ... ... ...',  # symbol spam
        long_clean + ' 0 1 2 3 4 5 6 7 8 9 0 1 2 3',  # digit run
        ('zz ' * 40).strip(),                         # no stopwords
    ])
    out = {r.doc_id: r for r in textops.gopher_rules(docs).collect()}
    assert out[0].keep == 1
    assert out[1].keep == 0 and out[1].n_words < 20
    assert out[2].keep == 0 and out[2].symbol_word_ratio > 0.1
    assert out[3].keep == 0 and out[3].alpha_word_frac < 0.8
    assert out[4].keep == 0 and out[4].stop_hits == 0
    # mean word length is a real mean, not chars/words-with-separators
    assert abs(out[0].mean_word_len - 4.0) < 1e-9


def test_c4_rules_line_and_doc_filters(spark):
    good = 'this line has exactly five words no wait seven.'
    docs = _docs(spark, [
        '\n'.join([good, 'no terminal punctuation on this line',
                   'short one.', good, 'he said "stop right there now"']),
        '\n'.join([good, good, good]) + '\nint main() { return 0; }',
        ('Lorem Ipsum dolor sit amet consectetur.\n' + good + '\n'
         + good + '\n' + good),
        'single line doc without punctuation at all',
    ])
    out = {r.doc_id: r for r in textops.c4_rules(docs).collect()}
    # doc 0: kept = two `good` lines + the quote-terminated line = 3
    assert out[0].n_lines == 5 and out[0].n_kept_lines == 3
    assert out[0].keep == 1
    assert out[0].kept_text.count('\n') == 2
    # doc 1: 3 kept lines but a brace -> excluded
    assert out[1].n_kept_lines == 3 and out[1].keep == 0
    # doc 2: 4 kept lines but lorem ipsum (case-insensitive) -> excluded
    assert out[2].n_kept_lines == 4 and out[2].keep == 0
    # doc 3: one line, nothing kept
    assert out[3].n_lines == 1 and out[3].n_kept_lines == 0
    assert out[3].keep == 0 and out[3].kept_text == ''


def test_contamination_pairs_detects_leak(spark):
    train = _docs(spark, [
        'alpha beta gamma delta epsilon zeta eta theta',
        'unrelated training document with other words',
    ])
    test = spark.createDataFrame(
        [(100, 'prefix alpha beta gamma delta epsilon suffix'),
         (101, 'totally clean evaluation document xyz abc')],
        'doc_id long, text string')
    out = textops.contamination_pairs(train, test).collect()
    pairs = {(r.test_doc, r.train_doc): r for r in out}
    assert (100, 0) in pairs
    hit = pairs[(100, 0)]
    assert hit.n_common_shingles >= 3
    assert 0 < hit.contamination <= 1
    assert all(t != 101 for t, _ in pairs)


def test_pii_scrub_redacts_and_counts(spark):
    docs = _docs(spark, [
        'mail me at a.b-c@test.org or call 123-456-7890 now',
        'no pii in this one 3.14 x-y',
    ])
    out = {r.doc_id: r for r in textops.pii_scrub(docs).collect()}
    assert out[0].n_emails == 1 and out[0].n_phones == 1
    assert '<EMAIL>' in out[0].scrubbed_text
    assert '<PHONE>' in out[0].scrubbed_text
    assert 'test.org' not in out[0].scrubbed_text
    assert out[1].n_emails == 0 and out[1].n_phones == 0
    assert out[1].scrubbed_text == 'no pii in this one 3.14 x-y'


def test_lm_score_separates_fluent_from_garbage(spark):
    fluent = 'the quick brown fox jumps over the lazy dog and then '
    docs = _docs(spark, [
        fluent * 3,
        fluent * 3 + 'zq xv qq jzx wqx vvq ',  # mostly fluent
        'zq{~ #!xv @@qq^ jzx&* %%wqx [] vvq;; ==++ ~~!!',  # garbage
    ])
    out = {r.doc_id: r for r in textops.lm_score(docs).collect()}
    assert out[0].lm_score > out[1].lm_score > out[2].lm_score
    assert out[0].n_trigrams > 0
    # degenerate: a corpus with no trigrams at all has no model —
    # score is null (not a crash, not an arbitrary number)
    short = _docs(spark, ['ab'])
    row = textops.lm_score(short).collect()[0]
    assert row.n_trigrams == 0 and row.lm_score is None
    # a short doc WITHIN a real corpus is unscored (NULL), not floored:
    # zero trigrams is zero evidence, and a quality filter must be able
    # to tell "contentless" apart from "confidently garbage"
    mixed = _docs(spark, ['ab', 'the quick brown fox jumps here'])
    rows = {r.doc_id: r for r in textops.lm_score(mixed).collect()}
    assert rows[0].n_trigrams == 0 and rows[0].lm_score is None
    assert rows[1].n_trigrams > 0 and rows[1].lm_score is not None


def test_domain_mix_weights(spark):
    docs = spark.createDataFrame(
        [(0, 'a b c d', 's1'), (1, 'e f', 's1'),
         (2, 'g h i j k l', 's2'), (3, 'm n o p q r s t', 's3')],
        'doc_id long, text string, source string')
    out = {r.source: r for r in textops.domain_mix_weights(
        docs, {'s1': 0.5, 's2': 0.5}).collect()}
    # 20 tokens total: s1 has 6 (share .3), s2 has 6 (.3), s3 has 8 (.4)
    assert out['s1'].n_tokens == 6 and out['s1'].n_docs == 2
    assert abs(out['s1'].mix_weight - 0.5 / 0.3) < 1e-5
    assert abs(out['s2'].mix_weight - 0.5 / 0.3) < 1e-5
    assert out['s3'].mix_weight == 0.0  # absent from targets


def test_stratified_sample_deterministic_rates(spark):
    rows = [(i, f'document number {i} with some text', lang)
            for i, lang in enumerate(['en'] * 40 + ['zh'] * 5 + ['de'] * 5)]
    docs = spark.createDataFrame(
        rows, 'doc_id long, text string, lang string')
    rates = {'en': 0.5, 'zh': 1.0, 'de': 0.0}
    out = textops.stratified_sample(docs, rates).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.stratum, []).append(r)
    # keep-all stratum keeps every row; rate-0 stratum is excluded
    assert len(by_stratum['zh']) == 5
    assert 'de' not in by_stratum
    # downsampled stratum keeps a strict, hash-determined subset
    assert 0 < len(by_stratum['en']) < 40
    for r in out:
        assert 0 <= r.sample_bucket < textops.SAMPLE_DENOM
    # deterministic: identical keep-set on re-run and after repartition
    again = textops.stratified_sample(docs.repartition(7), rates).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in out)
    # default_rate covers strata absent from the rate map
    dflt = textops.stratified_sample(docs, {'zh': 1.0}, default_rate=0.0)
    assert sorted(r.doc_id for r in dflt.collect()) == [40, 41, 42, 43, 44]


def test_chunk_documents_overlap_and_clamp(spark):
    toks = [f't{i}' for i in range(100)]
    docs = _docs(spark, [' '.join(toks), 'solo'])
    out = textops.chunk_documents(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c0 = sorted(by_doc[0], key=lambda r: r.chunk_idx)
    # 100 tokens, window 64, stride 48 -> starts 0, 48; the second
    # chunk overlaps the first by 16 tokens and clamps at the end
    assert [r.chunk_text for r in c0] == [
        ' '.join(toks[:64]), ' '.join(toks[48:])]
    assert [r.n_tokens for r in c0] == [64, 52]
    # single-token doc -> one (clamped) chunk
    assert [(r.chunk_idx, r.n_tokens, r.chunk_text)
            for r in by_doc[1]] == [(0, 1, 'solo')]


def test_chunk_documents_invariants_random_sizes(spark):
    # one Spark job over ~60 docs of adversarial sizes: every token
    # index is covered, every chunk is the exact slice, and the chunk
    # count matches the closed-form formula
    import math
    import random
    rng = random.Random(42)
    sizes = [1, 2, 47, 48, 49, 63, 64, 65, 111, 112, 113] + [
        rng.randint(1, 300) for _ in range(50)]
    docs = _docs(spark, [' '.join(f'w{j}' for j in range(n))
                         for n in sizes])
    window, stride = textops.CHUNK_WINDOW, textops.CHUNK_STRIDE
    out = textops.chunk_documents(docs)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    for doc_id, n in enumerate(sizes):
        toks = [f'w{j}' for j in range(n)]
        chunks = by_doc[doc_id]
        expect_k = 1 + math.ceil(max(n - window, 0) / stride)
        assert sorted(chunks) == list(range(expect_k))
        covered = set()
        for k, r in chunks.items():
            want = toks[k * stride:k * stride + window]
            assert r.chunk_text.split(' ') == want
            assert r.n_tokens == len(want)
            covered.update(range(k * stride, k * stride + len(want)))
        assert covered == set(range(n))


def test_duplicated_spans_merges_overlapping_windows(spark):
    # docs 0 and 1 share a 7-token run -> one merged span of 7 tokens
    # (3 overlapping 5-gram windows), plus doc 1's distinct tail is
    # clean; doc 2 shares nothing
    shared = 'alpha beta gamma delta epsilon zeta eta'
    docs = _docs(spark, [
        'intro words here ' + shared + ' closing bits',
        shared + ' completely different ending tokens now',
        'unrelated text with no overlap whatsoever at all',
    ])
    out = {}
    for r in textops.duplicated_spans(docs).collect():
        out.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_tokens))
    # doc 0: shared run starts at token 3, 7 tokens long
    assert out[0] == [(3, 10, 7)]
    # doc 1: shared run at the start
    assert out[1] == [(0, 7, 7)]
    assert 2 not in out


def test_duplicated_spans_separate_islands(spark):
    # two disjoint shared regions in one doc stay two spans
    a = 'one two three four five'
    b = 'six seven eight nine ten'
    docs = _docs(spark, [
        a + ' xxa xxb xxc ' + b,
        a + ' unrelated middle yyy zzz ' + b,
    ])
    out = {}
    for r in textops.duplicated_spans(docs).collect():
        out.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end))
    assert sorted(out[0]) == [(0, 5), (8, 13)]


def test_remove_duplicated_spans_apply(spark):
    shared = 'alpha beta gamma delta epsilon zeta eta'
    docs = _docs(spark, [
        'intro words here ' + shared + ' closing bits',
        shared + ' completely different ending tokens now',
        'unrelated text with no overlap whatsoever at all',
    ])
    out = {r.doc_id: r for r in
           textops.remove_duplicated_spans(docs).collect()}
    # the 7-token shared run is excised, surroundings survive in order
    assert out[0].clean_text == 'intro words here closing bits'
    assert out[0].n_removed == 7 and out[0].n_tokens == 5
    assert out[1].clean_text == 'completely different ending tokens now'
    # untouched doc passes through whole
    assert out[2].n_removed == 0
    assert out[2].clean_text == 'unrelated text with no overlap ' \
                                'whatsoever at all'
    # fully-duplicated doc -> empty string, everything removed
    dup2 = _docs(spark, [shared, shared])
    rows = textops.remove_duplicated_spans(dup2).collect()
    assert all(r.clean_text == '' and r.n_tokens == 0 and r.n_removed == 7
               for r in rows)


def test_script_profile_dominant_and_fractions(spark):
    docs = _docs(spark, [
        'plain english words only here',
        'สวัสดีครับ ผมรักประเทศไทย',
        '日本語の漢字文',
        'mixed привет text',
        '123 456 !!!',                    # no letter scripts -> other
    ])
    out = {r.doc_id: r for r in textops.script_profile(docs).collect()}
    assert out[0].dominant == 'latin' and out[0].thai_frac == 0.0
    assert out[1].dominant == 'thai' and out[1].latin_frac == 0.0
    assert out[2].dominant == 'cjk'
    # latin outnumbers cyrillic in doc 3
    assert out[3].dominant == 'latin' and out[3].cyrillic_frac > 0
    assert out[4].dominant == 'other'
    # fractions are over normalized char count (incl. spaces/digits)
    assert 0 < out[1].thai_frac < 1
    # NULL text propagates NULL fractions and NULL dominant on both
    # Spark and oracle sides (the when-chain has no otherwise; the SQL
    # CASE has no ELSE) — neither side may invent a script
    nulls = spark.createDataFrame([(0, None)], 'doc_id long, text string')
    row = textops.script_profile(nulls).collect()[0]
    assert row.dominant is None and row.latin_frac is None


def test_dot_cols_takes_only_bare_columns(spark):
    # an expression argument would be inlined once per term of the
    # flat chain, so dot_cols refuses it instead of running 2x slower
    import pytest
    from pyspark.sql import functions as F
    from ocrodjvu_spark.functions import similarity
    similarity.dot_cols(F.col('vec'), F.col('a.vec'))
    doubled = F.transform('vec', lambda x: x * 2)
    for a, b in ((doubled, F.col('vec')), (F.col('vec'), doubled)):
        with pytest.raises(ValueError, match='UnresolvedFunction'):
            similarity.dot_cols(a, b)


def test_ann_recall_bounds(spark):
    from ocrodjvu_spark.functions import similarity
    from ocrodjvu_spark.sources import transcripts as T
    emb = T.load_table(spark, '/root/testdata/sf0.001', 'embeddings')
    rows = similarity.ann_recall(emb).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert r.n_exact == 5 and 0 <= r.n_hit <= 5
        assert r.recall == round(r.n_hit / r.n_exact, 6)
    # probing every list recovers the exact answer (IVF sanity bound)
    labels = emb.select('label').distinct().count()
    full = similarity.ann_recall(emb, nprobe=labels).collect()
    assert all(r.recall == 1.0 for r in full)


def test_ann_recall_learned_quantizer(spark):
    # the production composition: k-means-trained coarse quantizer
    # feeding the IVF probe; nprobe = n_lists must provably recover
    # recall 1.0 (candidate set = whole corpus, same tie-breaks)
    from pyspark.sql import functions as F
    from ocrodjvu_spark.functions import similarity
    from ocrodjvu_spark.sources import transcripts as T
    emb = T.load_table(spark, '/root/testdata/sf0.001', 'embeddings')
    k_lists = 4
    lab = similarity.kmeans_labels(emb, k=k_lists, iterations=2)
    relabeled = (emb.select('vec_id', 'embedding').join(lab, 'vec_id')
                 .select('vec_id', 'embedding',
                         F.col('cluster').alias('label')))
    full = similarity.ann_recall(relabeled, nprobe=k_lists).collect()
    assert len(full) == 10
    assert all(r.recall == 1.0 for r in full)
    # nprobe=1 is a strict subset of the scan: recall can only drop
    one = similarity.ann_recall(relabeled, nprobe=1).collect()
    assert all(0.0 <= r.recall <= 1.0 for r in one)


def test_dedup_lines_cross_document(spark):
    docs = _docs(spark, [
        'unique first line alpha\nshared boilerplate line here\nok',
        'different opening line beta\nshared boilerplate line here',
        'third document text gamma\nanother unique closing line',
    ])
    out = {r.doc_id: r for r in textops.dedup_lines(docs).collect()}
    # doc 0 keeps the shared line (first occurrence); doc 1 loses it
    assert out[0].clean_text == \
        'unique first line alpha\nshared boilerplate line here\nok'
    assert out[0].n_removed == 0
    # 'ok' is short (< 10 chars): exempt from dedup, always kept
    assert out[1].clean_text == 'different opening line beta'
    assert out[1].n_removed == 1 and out[1].n_lines == 1
    assert out[2].n_removed == 0
    # short duplicate lines are never deduped
    shorts = _docs(spark, ['yes.\nlong enough line here one',
                           'yes.\nother long enough line two'])
    rows = {r.doc_id: r for r in textops.dedup_lines(shorts).collect()}
    assert rows[0].clean_text.startswith('yes.')
    assert rows[1].clean_text.startswith('yes.')


def test_quality_buckets_terciles(spark):
    fluent = 'the quick brown fox jumps over the lazy dog and then '
    docs = _docs(spark, [
        fluent * 4,                                   # head
        fluent * 2 + 'zq xv qq jzx wqx vvq ',         # middle-ish
        'zq{~ #!xv @@qq^ jzx&* %%wqx [] vvq;; ==',    # garbage tail
        'ab',                                         # no trigrams
    ])
    out = {r.doc_id: r for r in
           textops.quality_buckets(docs).collect()}
    assert out[3].bucket == 'unscored' and out[3].lm_score is None
    scored = [out[i] for i in (0, 1, 2)]
    assert {r.bucket for r in scored} == {'head', 'middle', 'tail'}
    ranked = sorted(scored, key=lambda r: -r.lm_score)
    assert [r.bucket for r in ranked] == ['head', 'middle', 'tail']


def test_dedup_cluster_apply_keeps_representatives(spark):
    base = 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
    docs = _docs(spark, [
        base,                          # cluster rep (min id)
        base + ' tail',                # near dup of 0 -> dropped
        'unrelated words entirely different from the others here now',
        base + ' tail',                # exact dup of 1 -> dropped
    ])
    out = sorted(r.doc_id for r in
                 textops.dedup_cluster_apply(docs)
                 .collect())
    assert out == [0, 2]


def test_duplicated_spans_stop_gram_cap(spark):
    # the boilerplate-phrase skew case: a 5-gram shared by EVERY doc
    # (df = n_docs) would put all its occurrence rows on one join key;
    # max_df excludes it while genuinely-duplicated low-df runs survive
    boiler = 'standard footer text applies here'      # df = 39
    rare = 'alpha beta gamma delta epsilon'           # df = 2
    texts = [boiler + ' filler%d extra words' % i for i in range(40)]
    texts[0] = rare + ' ' + boiler + ' more words'
    texts[1] = rare + ' other unique closing tokens now'  # no boiler
    docs = _docs(spark, texts)
    capped = {}
    for r in textops.duplicated_spans(
            docs, max_df=10).collect():
        capped.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end))
    # boilerplate span gone everywhere; the df=2 run is still reported
    assert capped == {0: [(0, 5)], 1: [(0, 5)]}
    # uncapped: every doc reports its boilerplate span
    uncapped = textops.duplicated_spans(docs).collect()
    assert len({r.doc_id for r in uncapped}) == 40
    # observability companion sees exactly the dropped hash
    over = textops.oversized_ngrams(docs, max_df=10).collect()
    assert len(over) == 1 and over[0].df == 39
    # cap above every df: identical to uncapped (same row multiset)
    wide = textops.duplicated_spans(
        docs, max_df=1000).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, uncapped))


def test_asof_join_semantics(spark):
    from datetime import datetime
    from ocrodjvu_spark.functions import temporal
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(100, 1, t(10)), (101, 1, t(20)), (102, 2, t(5)), (103, 3, t(9))],
        'event_id long, user_id long, ts timestamp')
    right = spark.createDataFrame(
        [(0, 1, t(8), 1.0), (1, 1, t(20), 2.0), (2, 2, t(6), 3.0)],
        'event_id long, user_id long, ts timestamp, value double')
    out = {r.event_id: r for r in temporal.asof_join(left, right).collect()}
    assert out[100].matched_event_id == 0          # latest ts<=10 is t(8)
    assert out[101].matched_event_id == 1          # equal ts matches (<=)
    assert out[101].matched_value == 2.0
    assert out[102].matched_event_id is None       # right t(6) > left t(5)
    assert out[103].matched_event_id is None       # user 3: no right rows
    # strict: the equal-ts right row no longer matches
    s = {r.event_id: r
         for r in temporal.asof_join(left, right, strict=True).collect()}
    assert s[101].matched_event_id == 0
    # deterministic tie-break among equal-(key, ts) right rows: max payload
    right2 = right.union(spark.createDataFrame(
        [(9, 1, t(20), 7.0)], right.schema))
    t2 = {r.event_id: r for r in temporal.asof_join(left, right2).collect()}
    assert t2[101].matched_event_id == 9


def test_range_join_bucket_boundary_recall(spark):
    from datetime import datetime
    from ocrodjvu_spark.functions import temporal
    # window=60 buckets on the minute; pairs straddling a bucket edge and
    # pairs exactly at the window bound must both be found
    ts = lambda m, s: datetime(2024, 1, 1, 0, m, s)
    left = spark.createDataFrame(
        [(1, ts(1, 1)), (2, ts(5, 0))], 'user_id long, ts timestamp')
    right = spark.createDataFrame(
        [(1, ts(0, 59)),   # adjacent bucket, delta -2
         (1, ts(2, 1)),    # delta exactly +60 (inclusive bound)
         (1, ts(2, 2)),    # delta +61 -> out
         (2, ts(5, 30))],  # same bucket, delta +30
        'user_id long, ts timestamp')
    out = {(r.user_id, r.delta_sec)
           for r in temporal.range_join(left, right, window_sec=60)
           .collect()}
    assert out == {(1, -2), (1, 60), (2, 30)}


def test_length_quantiles_exact(spark):
    docs = spark.createDataFrame(
        [(i, 'x', 'en', (i + 1) * 10) for i in range(99)]
        + [(100, 'x', 'de', 7)],
        'doc_id long, text string, lang string, n_chars long')
    out = {r.stratum: r for r in textops.length_quantiles(docs).collect()}
    # 99 values 10..990: interpolated quantiles are exact landmarks
    assert out['en'].n_docs == 99
    assert out['en'].p50 == 500.0
    assert out['en'].p25 == 255.0 and out['en'].p75 == 745.0
    assert out['de'].p95 == 7.0  # single-value stratum: all quantiles equal


def test_asof_join_bucketed_equals_plain(spark):
    from datetime import datetime, timedelta
    from ocrodjvu_spark.functions import temporal
    # adversarial layout for the segmented scan: matches within a
    # bucket, across one bucket gap, across MANY empty buckets, and
    # none at all; bucket_sec=60 forces all cross-bucket paths
    t0 = datetime(2024, 1, 1)
    at = lambda s: t0 + timedelta(seconds=s)
    left = spark.createDataFrame(
        [(i, u, at(s)) for i, (u, s) in enumerate(
            [(1, 30), (1, 95), (1, 1000), (2, 10), (3, 50), (1, 65)])],
        'event_id long, user_id long, ts timestamp')
    right = spark.createDataFrame(
        [(100, 1, at(20), 1.0), (101, 1, at(64), 2.0),
         (102, 1, at(65), 3.0), (103, 2, at(11), 4.0)],
        'event_id long, user_id long, ts timestamp, value double')
    for strict in (False, True):
        plain = sorted(map(tuple, temporal.asof_join(
            left, right, strict=strict).collect()))
        seg = sorted(map(tuple, temporal.asof_join_bucketed(
            left, right, strict=strict, bucket_sec=60).collect()))
        assert seg == plain
    # spot-check the cross-empty-bucket carry explicitly
    out = {r.event_id: r.matched_event_id
           for r in temporal.asof_join_bucketed(
               left, right, bucket_sec=60).collect()}
    assert out[2] == 102   # left at s=1000 reaches back many buckets
    assert out[4] is None  # user 3 has no right rows


def test_quantize_embeddings_bounds_and_determinism(spark):
    from ocrodjvu_spark.functions import similarity
    emb = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25, 0.127]),
         (1, [0.001, 0.002, -0.003, 0.0005])],
        'vec_id long, embedding array<float>')
    out = {r.vec_id: r
           for r in similarity.quantize_embeddings(emb).collect()}
    # scale = max|x| / 127 (output rounded to 6dp); reconstruction
    # error bounded by half a quantization step
    assert abs(out[0].scale - 1.0 / 127) < 5e-7
    for r in out.values():
        assert r.max_abs_err <= r.scale / 2 + 5e-7
    # fingerprint is stable and code-exact: the max component quantizes
    # to exactly +/-127, so identical inputs give identical hashes
    again = {r.vec_id: r.q_hash
             for r in similarity.quantize_embeddings(emb).collect()}
    assert again == {k: v.q_hash for k, v in out.items()}
    # a zero vector must yield a null row, not an ANSI DIVIDE_BY_ZERO
    zero = spark.createDataFrame([(9, [0.0, 0.0, 0.0])],
                                 'vec_id long, embedding array<float>')
    z = similarity.quantize_embeddings(zero).collect()[0]
    assert z.scale is None and z.q_hash is None and z.max_abs_err is None


def test_sampled_quantiles_deterministic_and_mergeable(spark):
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(
        [(i, 'xx' if i % 2 else 'yy', float(i * 3 % 97))
         for i in range(200)],
        'doc_id long, lang string, n_chars double')
    a = sorted(map(tuple,
                   textops.sampled_quantiles(docs).collect()))
    # partitioning-invariant (the hash sample has no RNG/partition
    # dependence, unlike df.sample)
    b = sorted(map(tuple, textops.sampled_quantiles(
        docs.repartition(7)).collect()))
    assert a == b
    # sampling commutes with union: per-shard samples merge exactly
    lo = docs.where(F.col('doc_id') < 100)
    hi = docs.where(F.col('doc_id') >= 100)
    c = sorted(map(tuple, textops.sampled_quantiles(
        lo.unionByName(hi)).collect()))
    assert a == c
    # the sample is a real subsample, not the full data
    n_sampled = sum(r[1] for r in a)
    assert 0 < n_sampled < 200


def test_topk_rankers_tie_order_self_exclusion_and_k(spark):
    # one hand-made corpus through the three top-k rankers: ids 4 and 7
    # are positive multiples of query 0 (cos 1.0, like query 0 itself),
    # ids 2 and 5 tie just below them, the others score lower, id 10 is
    # query 0's opposite; one IVF list holds every vector
    import random
    from pyspark.sql import functions as F
    from ocrodjvu_spark.functions import similarity
    rnd = random.Random(10)
    base = [float(rnd.randint(1, 4)) for _ in range(similarity.EMBED_DIM)]
    assert base[0] == base[3]  # so the bumps of 2 and 5 tie exactly

    def bump(i, c):
        v = list(base)
        v[i] += c
        return v

    vecs = {0: base, 4: [3 * x for x in base], 7: [2 * x for x in base],
            2: bump(0, 0.5), 5: bump(3, 0.5), 1: bump(10, 3.0),
            3: bump(20, -2.0), 6: bump(30, 4.0), 8: bump(40, -3.0),
            9: bump(50, 2.5), 10: [-x for x in base], 11: bump(60, 3.5)}
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in sorted(vecs.items())],
        'vec_id long, embedding array<float>, label int')
    # the small bumps keep query 0's sign-LSH bucket
    buckets = dict(emb.select('vec_id', similarity.lsh_bucket(
        similarity.as_double(F.col('embedding')))).collect())
    assert all(buckets[i] == buckets[0] for i in (2, 4, 5, 7))
    assert buckets[10] != buckets[0]

    def ranked(df, k):
        by_query = {}
        for r in df.collect():
            by_query.setdefault(r.query_id, []).append(r)
        for q, rows in by_query.items():
            rows.sort(key=lambda r: r.rank)
            assert len(rows) <= k
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            assert all(r.neighbor_id != q for r in rows)
            keys = [(-r.cos_sim, r.neighbor_id) for r in rows]
            assert keys == sorted(keys)
        return {q: [r.neighbor_id for r in rows]
                for q, rows in by_query.items()}

    brute = ranked(similarity.cosine_topk(emb, n_queries=2, k=3), 3)
    assert sorted(brute) == [0, 1]
    assert brute[0] == [4, 7, 2]
    ivf = ranked(similarity.ivf_topk(emb), 5)
    lsh = ranked(similarity.lsh_topk(emb), 5)
    assert sorted(ivf) == list(range(10))
    for top in (ivf, lsh):
        assert top[0][:4] == [4, 7, 2, 5]
