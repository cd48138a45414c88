"""The workloads: one closed-loop execution each, plus its checks.

A workload reads the tables under ``data`` (the generator's ``full``
or ``warmup`` directory). ``execute`` runs one execution and returns
the input rows it completed (the set-up's untimed warm-up execution is
an ``execute`` over the warm-up inputs); ``after`` does the untimed clean-up
between executions; ``check`` verifies the outputs against the
generator's expected files and returns a list of failures (empty when
correct).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocrodjvu_spark.functions import similarity, textops
from ocrodjvu_spark.plans import checkpoint
from ocrodjvu_spark.plans.snapstore import SnapshotTable

from inputs import MALFORMED_ERROR


def noop(df):
    df.write.format('noop').mode('overwrite').save()


def _expected_turns(path):
    """{(conv_id, turn_idx): (bad, expected_text)} from expected.parquet."""
    t = pq.read_table(path).to_pydict()
    return {(c, i): (b, e) for c, i, b, e in zip(
        t['conv_id'], t['turn_idx'], t['bad'], t['expected_text'])}


def _rows(path):
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path))


def _du(root):
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _check_pages(rows, expected, failures, label):
    """Compare extracted page rows with {(conv, turn): (bad, text)}."""
    seen = {}
    for r in rows:
        key = (r.conv_id, r.turn_idx)
        bad, text = expected.get(key, (None, None))
        if bad is None:
            failures.append(f'{label}: unexpected turn {key}')
        elif bad:
            if r.error != MALFORMED_ERROR or r.page_idx is not None:
                failures.append(f'{label}: {key} expected error row, got '
                                f'{r.error!r} page {r.page_idx}')
        elif r.error is not None or r.extracted_text != text:
            failures.append(f'{label}: {key} text mismatch '
                            f'(error {r.error!r})')
        seen[key] = seen.get(key, 0) + 1
    missing = set(expected) - set(seen)
    dup = [k for k, n in seen.items() if n != 1]
    if missing:
        failures.append(f'{label}: {len(missing)} turns missing')
    if dup:
        failures.append(f'{label}: {len(dup)} turns with several rows')


class Workload:
    kernel_options = None   # extract_one kwargs when the kernel runs
    python_stage = True     # the plan runs Python workers
    sample_size = 0         # turns in the kernel-layer sample
    warm_executions = 0     # untimed full-size executions before timing

    def __init__(self, data, work_dir, seed, cores):
        self.inputs = data
        self.work_dir = work_dir
        self.seed = seed
        self.partitions = cores
        self.parts = {}

    def after(self):
        pass

    def layers(self, n_executions, nodes):
        return {}

    def trace_extras(self, spark):
        return {}

    def kernel_sample(self):
        t = pq.read_table(os.path.join(self.inputs, 'input'),
                          columns=['text'])
        texts = t.column('text').to_pylist()
        return random.Random(self.seed).sample(
            texts, min(self.sample_size, len(texts)))


class CheckpointResume(Workload):
    name = 'checkpoint_resume'
    kernel_options = {'emit_spans': 'packed', 'emit_sexpr': True}
    sample_size = 1024
    n_buckets = 8
    salt_buckets = 16   # salted into one partition per core
    warm_executions = 1
    runs = 0        # executions so far; each writes fresh tables
    kept = None     # newest output root, kept for ``check``

    def prepare(self, spark):
        self.src = spark.read.parquet(os.path.join(self.inputs, 'input'))
        self.rows = _rows(os.path.join(self.inputs, 'input'))
        self.input_bytes = sum(
            len(t.encode('utf-8')) for t in pq.read_table(
                os.path.join(self.inputs, 'input'),
                columns=['text']).column('text').to_pylist())

    def _paths(self, root):
        return os.path.join(root, 'out'), os.path.join(root, 'sidecar')

    def _invoke(self, spark, root, max_buckets=None):
        out, side = self._paths(root)
        return checkpoint.run_extraction(
            spark, self.src, out, side, n_buckets=self.n_buckets,
            max_buckets=max_buckets, salt_buckets=self.salt_buckets,
            num_partitions=self.partitions, table_format='snapshot',
            emit_spans='packed')

    def execute(self, spark):
        self.runs += 1
        root = os.path.join(self.work_dir, f'ckpt-{self.runs}')
        t0 = time.perf_counter()
        first = self._invoke(spark, root, self.n_buckets // 2)
        t1 = time.perf_counter()
        rest = self._invoke(spark, root)
        t2 = time.perf_counter()
        if (len(first) != self.n_buckets // 2
                or sorted(first + rest) != list(range(self.n_buckets))):
            raise RuntimeError(f'buckets processed: {first} then {rest}')
        self.parts = {'checkpoint.first_s': t1 - t0,
                      'checkpoint.resume_s': t2 - t1}
        self.current = root
        return self.rows

    def after(self):
        """Keep the newest output tables for ``check``; delete the rest."""
        if self.kept and self.kept != self.current:
            shutil.rmtree(self.kept, ignore_errors=True)
        self.kept = self.current
        files, size = _du(self.kept)
        self.stored = {'snapstore.files_written': float(files),
                       'snapstore.bytes_written': float(size),
                       'snapstore.bytes_per_input_byte':
                           size / self.input_bytes}

    def layers(self, n_executions, nodes):
        return dict(self.parts, **{
            'checkpoint.sql_executions': float(n_executions),
            'checkpoint.rescan_bytes': sum(
                m['size of files read'][0] for name, desc, m in nodes
                if name.startswith('Scan') and self.work_dir in desc
                and 'size of files read' in m),
        })

    def check(self, spark):
        failures = []
        out, side = self._paths(self.kept)
        t0 = time.perf_counter()
        rows = SnapshotTable(out).read(spark).select(
            'conv_id', 'turn_idx', 'page_idx', 'error', 'extracted_text'
        ).collect()
        self.parts['snapstore.read_s'] = time.perf_counter() - t0
        _check_pages(rows, _expected_turns(
            os.path.join(self.inputs, 'expected.parquet')),
            failures, 'checkpoint_resume')
        t0 = time.perf_counter()
        done = checkpoint.completed_buckets(spark, side, 'snapshot')
        self.parts['checkpoint.probe_s'] = time.perf_counter() - t0
        n_turns = SnapshotTable(side).read(spark).agg(
            F.sum('n_turns')).first()[0]
        if done != list(range(self.n_buckets)) or n_turns != self.rows:
            failures.append(f'checkpoint_resume: sidecar has buckets '
                            f'{done} and {n_turns} turns of {self.rows}')
        again = self._invoke(spark, self.kept)
        if again:
            failures.append(f'checkpoint_resume: third invocation '
                            f'processed buckets {again}')
        return failures


class CorpusDedup(Workload):
    name = 'corpus_dedup'
    python_stage = False
    warm_executions = 3     # JVM-only plans take longer to reach steady JIT
    threshold = 0.5
    min_planted_recall = 0.9

    def prepare(self, spark):
        self.docs = spark.read.parquet(os.path.join(self.inputs, 'docs'))
        self.emb = spark.read.parquet(os.path.join(self.inputs, 'embeddings'))
        self.pairs = textops.minhash_dedup_pairs(
            self.docs, threshold=self.threshold)
        self.topk = similarity.cosine_topk(self.emb, n_queries=10, k=5)
        self.rows = _rows(os.path.join(self.inputs, 'docs'))

    def execute(self, spark):
        t0 = time.perf_counter()
        noop(self.pairs)
        t1 = time.perf_counter()
        noop(self.topk)
        self.parts = {'textops.minhash_s': t1 - t0,
                      'similarity.topk_s': time.perf_counter() - t1}
        return self.rows

    def layers(self, n_executions, nodes):
        return dict(self.parts)

    def _pairs(self, df):
        return {(r.doc_a, r.doc_b): r.jaccard for r in df.collect()}

    def check(self, spark):
        with open(os.path.join(self.inputs, 'planted.json')) as f:
            planted = {tuple(p) for p in json.load(f)}
        failures = []
        found = self._pairs(self.pairs)
        self.parts['textops.pairs_out'] = float(len(found))
        # precision: inside a sample (an eighth of the documents plus
        # every planted one) the pairs are exact-Jaccard pairs
        ids = sorted({d for p in planted for d in p})
        sample = self.docs.where(
            (F.pmod(F.col('doc_id'), F.lit(8)) == self.seed % 8)
            | F.col('doc_id').isin(ids))
        in_sample = {d for d in range(self.rows)
                     if d % 8 == self.seed % 8}.union(ids)
        exact = self._pairs(textops.jaccard_pairs(
            sample, threshold=self.threshold))
        lsh = {p: j for p, j in found.items() if set(p) <= in_sample}
        if not lsh.items() <= exact.items():
            failures.append(f'corpus_dedup: {len(lsh.keys() - exact.keys())}'
                            ' sampled LSH pairs are not exact pairs')
        # recall: planted replicas above the threshold whose signatures
        # share a band must all be found; LSH may miss the others, so
        # for those only the overall planted recall is bounded
        above = {p for p in exact if p in planted}
        bands = {}
        for r in textops.minhash_band_table(textops.minhash_signature_table(
                self.docs.where(F.col('doc_id').isin(ids)))).collect():
            bands.setdefault(r.doc_id, set()).add(r.band)
        colliding = {p for p in above if bands[p[0]] & bands[p[1]]}
        if colliding - found.keys():
            failures.append(f'corpus_dedup: {len(colliding - found.keys())}'
                            ' band-sharing planted pairs not found')
        recall = len(above & found.keys()) / max(len(above), 1)
        if recall < self.min_planted_recall or not above:
            failures.append(f'corpus_dedup: planted recall {recall:.3f} '
                            f'over {len(above)} pairs')
        failures += self._check_topk()
        return failures

    def trace_extras(self, spark):
        """Verified pairs over candidates (distinct pairs sharing an LSH
        band, rebuilt from the public signature and band tables)."""
        bands = textops.minhash_band_table(
            textops.minhash_signature_table(self.docs))
        a, b = bands.alias('a'), bands.alias('b')
        candidates = (a.join(b, (F.col('a.band') == F.col('b.band'))
                             & (F.col('a.doc_id') < F.col('b.doc_id')))
                      .select('a.doc_id', 'b.doc_id').distinct().count())
        return {'textops.verified_share':
                self.parts['textops.pairs_out'] / max(candidates, 1)}

    def _check_topk(self):
        t = pq.read_table(os.path.join(self.inputs, 'embeddings'))
        t = t.take(np.argsort(t.column('vec_id').to_numpy()))
        vecs = np.array(t.column('embedding').to_pylist(), dtype=np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        rows = self.topk.collect()
        failures = [] if len(rows) == 10 * 5 else [
            f'corpus_dedup: {len(rows)} top-k rows, expected 50']
        for r in rows:
            cos = float(unit[r.query_id] @ unit[r.neighbor_id])
            sims = unit @ unit[r.query_id]
            sims[r.query_id] = -np.inf
            kth = np.sort(sims)[::-1][r.rank - 1]
            if abs(cos - r.cos_sim) > 2e-6 or abs(kth - r.cos_sim) > 2e-6:
                failures.append(f'corpus_dedup: top-k {r.query_id} rank '
                                f'{r.rank} cos {r.cos_sim} vs {kth:.6f}')
        return failures


WORKLOADS = {w.name: w for w in (CheckpointResume, CorpusDedup)}
