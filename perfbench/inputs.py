"""Seeded input generators for the benchmark workloads.

Every table is built from the seed alone: the seed drives the words,
which turns are long, the conversation-size skew, which turns are
malformed, and the replica perturbations. The markup is
built with the package's public ``sources.transcripts`` helpers
(``tokens_col``, ``hocr_markup_col``, ``turn_key_exprs``), so the
program under test sees only ordinary transcripts / documents /
embeddings tables. The expected outputs go to separate files the
program never reads.

Inputs are written as ``n_files`` parquet files of near-equal size
(greedy by text bytes), so each scan task gets the same work. Sizes
(words per turn or document) are seeded permutations of fixed
multisets, so the total work is the same for every seed.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocrodjvu_spark.schema import TRANSCRIPTS_COLUMNS
from ocrodjvu_spark.sources import transcripts as T

# Error the kernel reports for a page whose bbox does not start at (0, 0)
# (FIXTURES.md section 2); the planted malformed turns must yield exactly it.
MALFORMED_ERROR = "MalformedHocr: page's bounding box should start with (0, 0)"

# HTML-special tokens ride along so the escape/decode path is covered.
_SPECIAL_WORDS = ('AT&T', 'x<y', 'a>b', 'say"hi"')


def vocabulary():
    """A fixed 400-word vocabulary (independent of the workload seed)."""
    rng = random.Random(0x0C0D)
    syllables = ['ka', 'lo', 'mi', 'ne', 'ru', 'sa', 'ti', 'vo', 'ze', 'pa',
                 'do', 'gu', 'fe', 'hi', 'jo', 'be', 'qu', 'xi', 'wa', 'yu']
    words = set()
    while len(words) < 396:
        words.add(''.join(rng.choice(syllables)
                          for _ in range(rng.randint(1, 4))))
    return sorted(words) + list(_SPECIAL_WORDS)


def _spread(rng, lo, hi, n):
    """``n`` values cycling over lo..hi, in seeded order: the seed moves
    where each size goes, never the total."""
    vals = [lo + i % (hi - lo + 1) for i in range(n)]
    rng.shuffle(vals)
    return vals


def _words(rng, vocab, n):
    return ' '.join(rng.choice(vocab) for _ in range(n))


def _write_split(table: pa.Table, out: str, sub: str, n_files: int,
                 sizes, warm_rows: int) -> None:
    """Write ``table`` as ``n_files`` files of near-equal ``sizes`` total
    under ``out/full/sub``, keeping row order inside each file, and the
    first ``warm_rows`` rows of each file under ``out/warmup/sub``."""
    loads = [0] * n_files
    owner = [0] * len(sizes)
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        f = min(range(n_files), key=loads.__getitem__)
        owner[i] = f
        loads[f] += sizes[i]
    for part in ('full', 'warmup'):
        os.makedirs(os.path.join(out, part, sub))
    for f in range(n_files):
        rows = table.take([i for i, o in enumerate(owner) if o == f])
        name = f'part-{f:05d}.parquet'
        pq.write_table(rows, os.path.join(out, 'full', sub, name))
        pq.write_table(rows.slice(0, warm_rows),
                       os.path.join(out, 'warmup', sub, name))


def _write_transcripts(table: pa.Table, rng, out, n_files, warm_rows):
    """Transcripts columns only, rows in seeded order."""
    order = list(range(table.num_rows))
    rng.shuffle(order)
    table = table.take(order).select(list(TRANSCRIPTS_COLUMNS))
    _write_split(table, out, 'input', n_files,
                 [len(t.encode('utf-8'))
                  for t in table.column('text').to_pylist()], warm_rows)


def _with_keys(df):
    """Add the transcripts key and metadata columns to a frame with a
    ``doc_id`` column.

    ``doc_id`` feeds ``turn_key_exprs`` (conversation of root r holds
    turns r^2 .. (r+1)^2 - 1), so choosing which ids exist chooses the
    conversation sizes.
    """
    conv_id, turn_idx, role, ts = T.turn_key_exprs()
    return df.select(
        '*',
        conv_id.alias('conv_id'), turn_idx.alias('turn_idx'),
        role.alias('role'),
        F.when(role == 'tool', F.lit('search')).alias('tool'),
        ts.alias('ts'))


def _turns_table(spark, rows, rng, out, n_files, warm_rows):
    """(doc_id, words, bad) rows -> one-page transcripts plus expected.

    A ``bad`` turn's page bbox is moved off (0, 0), which the kernel
    must report as ``MALFORMED_ERROR``.
    """
    doc_id, words, bad = zip(*rows)
    df = _with_keys(spark.createDataFrame(pa.table({
        'doc_id': pa.array(doc_id, pa.int64()), 'words': words,
        'bad': bad})))
    markup = T.hocr_markup_col(T.tokens_col('words'))
    table = df.select(
        '*',
        F.when(F.col('bad'),
               F.replace(markup, F.lit('bbox 0 0 '), F.lit('bbox 5 5 ')))
        .otherwise(markup).alias('text'),
        F.when(~F.col('bad'), F.array_join(T.tokens_col('words'), ' '))
        .alias('expected_text')).toArrow().sort_by('doc_id')
    _write_transcripts(table, rng, out, n_files, warm_rows)
    pq.write_table(
        table.select(['conv_id', 'turn_idx', 'bad', 'expected_text']),
        os.path.join(out, 'full', 'expected.parquet'))


def gen_checkpoint(spark, seed, out, n_files, n_turns=1500, long_share=0.1,
                   malformed_share=0.01):
    """Chat-like transcripts: one conversation of 1,001-1,199 turns among
    many short ones (at most 199 turns), mostly short turns (1-8 words)
    with a fixed share of long ones (100-300 words), and a fixed share of
    malformed turns."""
    rng = random.Random(seed)
    vocab = vocabulary()
    roots = [rng.randrange(500, 600)]
    small = list(range(1, 100))
    rng.shuffle(small)
    ids = [i for r in roots + small
           for i in range(r * r, (r + 1) * (r + 1))][:n_turns]
    bad = set(rng.sample(ids, round(malformed_share * n_turns)))
    n_long = round(long_share * n_turns)
    lengths = (_spread(rng, 1, 8, n_turns - n_long)
               + _spread(rng, 100, 300, n_long))
    rng.shuffle(lengths)
    rows = [(i, _words(rng, vocab, n), i in bad)
            for i, n in zip(ids, lengths)]
    _turns_table(spark, rows, rng, out, n_files, warm_rows=20)


def gen_corpus(spark, seed, out, n_files, n_orig=1000, n_replicas=200,
               n_vectors=1500, dim=64):
    """Documents with planted near-duplicate replicas, plus embeddings.

    Each replica copies a distinct original and applies one seeded token
    edit (replace, insert or delete); exact copies would put every band
    of a pair in one LSH bucket.
    """
    rng = random.Random(seed)
    vocab = vocabulary()
    docs = [_words(rng, vocab, n).split()
            for n in _spread(rng, 30, 80, n_orig)]
    planted = []
    for src in rng.sample(range(n_orig), n_replicas):
        toks = list(docs[src])
        pos = rng.randrange(len(toks))
        edit = rng.choice(('replace', 'insert', 'delete'))
        if edit == 'replace':
            toks[pos] = rng.choice([w for w in vocab if w != toks[pos]])
        elif edit == 'insert':
            toks.insert(pos, rng.choice(vocab))
        else:
            del toks[pos]
        planted.append((src, len(docs)))
        docs.append(toks)
    ids = list(range(len(docs)))
    rng.shuffle(ids)  # doc_id of generated doc k is ids[k]
    texts = [None] * len(docs)
    for k, d in enumerate(docs):
        texts[ids[k]] = ' '.join(d)
    table = pa.table({'doc_id': pa.array(range(len(texts)), pa.int64()),
                      'text': texts})
    _write_split(table, out, 'docs', n_files,
                 [len(t) for t in texts], warm_rows=20)
    vecs = np.random.default_rng(seed).standard_normal(
        (n_vectors, dim)).astype(np.float32)
    emb = pa.table({
        'vec_id': pa.array(np.arange(n_vectors), pa.int64()),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32()))})
    _write_split(emb, out, 'embeddings', n_files, [1] * n_vectors,
                 warm_rows=20)
    with open(os.path.join(out, 'full', 'planted.json'), 'w') as f:
        json.dump(sorted((min(ids[a], ids[b]), max(ids[a], ids[b]))
                         for a, b in planted), f)


GENERATORS = {
    'checkpoint_resume': gen_checkpoint,
    'corpus_dedup': gen_corpus,
}


def generate_inputs(spark, workload, seed, out, n_files):
    """Write the inputs for (workload, seed) under ``out``: ``full/``
    (the measured inputs and the expected outputs) and ``warmup/`` (a
    few rows of every input file, for the untimed warm-up execution)."""
    os.makedirs(out)
    GENERATORS[workload](spark, seed, out, n_files)
    return out
