"""Streaming incremental ingestion: cross-batch registry dedup and the
exactly-once replay guarantee (tagged snapshot commits)."""

import os
import shutil
import time

from pyspark.sql import Row, functions as F

from ocrodjvu_spark.functions import textops
from ocrodjvu_spark.plans.snapstore import SnapshotTable
from ocrodjvu_spark.streaming import ingest as IG


def _write_batches(spark, base, batches):
    src = os.path.join(base, 'src')
    os.makedirs(src, exist_ok=True)
    now = time.time()
    for i, rows in enumerate(batches):
        tmp = os.path.join(base, f'tmp_{i}')
        df = spark.createDataFrame([Row(doc_id=d, text=t)
                                    for d, t in rows])
        df.coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith('.parquet')][0]
        dst = os.path.join(src, f'b{i}.parquet')
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))
    return src


def _run(spark, src, base, ckpt_name):
    stream = (spark.readStream
              .schema('doc_id bigint, text string')
              .option('maxFilesPerTrigger', 1)
              .parquet(src))
    IG.run_incremental_ingest(
        stream,
        os.path.join(base, 'corpus'),
        os.path.join(base, 'registry'),
        os.path.join(base, ckpt_name)).awaitTermination()


def test_cross_batch_registry_dedup(spark, tmp_path):
    base = str(tmp_path)
    src = _write_batches(spark, base, [
        [(1, 'alpha beta'), (2, 'gamma delta')],
        [(3, 'alpha beta'), (4, 'epsilon zeta')],  # 3 dups batch 1's 1
    ])
    _run(spark, src, base, 'ckpt')
    corpus = SnapshotTable(os.path.join(base, 'corpus')).read(spark)
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2, 4]
    registry = SnapshotTable(os.path.join(base, 'registry')).read(spark)
    assert registry.distinct().count() == 3


def test_replayed_batches_commit_nothing_twice(spark, tmp_path):
    # simulate a lost streaming checkpoint (worst-case at-least-once
    # replay: EVERY batch re-runs): tagged commits must keep corpus and
    # registry byte-identical, at the same versions
    base = str(tmp_path)
    src = _write_batches(spark, base, [
        [(1, 'alpha beta'), (2, 'gamma delta')],
        [(3, 'epsilon zeta')],
    ])
    _run(spark, src, base, 'ckpt1')
    corpus = SnapshotTable(os.path.join(base, 'corpus'))
    registry = SnapshotTable(os.path.join(base, 'registry'))
    v_corpus, v_reg = corpus.current_version(), registry.current_version()
    rows = sorted(map(tuple, corpus.read(spark).collect()))

    _run(spark, src, base, 'ckpt2')  # fresh checkpoint -> full replay
    assert corpus.current_version() == v_corpus
    assert registry.current_version() == v_reg
    assert sorted(map(tuple, corpus.read(spark).collect())) == rows


def test_seeded_registry_blocks_preingested(spark, tmp_path):
    base = str(tmp_path)
    seed_df = spark.createDataFrame(
        [Row(text='alpha beta')]).select(
        F.md5(textops.norm_text()).alias(IG.KEY_COL))
    IG.seed_registry(spark, os.path.join(base, 'registry'), seed_df)
    src = _write_batches(spark, base, [
        [(1, 'alpha beta'), (2, 'fresh doc')],
    ])
    _run(spark, src, base, 'ckpt')
    corpus = SnapshotTable(os.path.join(base, 'corpus')).read(spark)
    assert [r.doc_id for r in corpus.collect()] == [2]
