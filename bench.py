"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Untimed prep: materialize the synthetic transcripts table to parquet once
(models the stored Iceberg input; generation is not part of the measured
pipeline). Timed: each headline query end-to-end into a noop sink (full
materialization, no driver collect).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ocrodjvu_spark import pipeline  # noqa: E402
from ocrodjvu_spark.session import get_spark  # noqa: E402
from ocrodjvu_spark.sources import transcripts as T  # noqa: E402


def materialize_transcripts(spark, sf_dir: str, cache_dir: str,
                            replicate: int = 1) -> str:
    path = os.path.join(
        cache_dir, 'transcripts_' + os.path.basename(sf_dir.rstrip('/')))
    marker = os.path.join(path, '_SUCCESS')
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        (T.synthesize_transcripts(spark, sf_dir)
         .repartition(32, 'conv_id')
         .write.mode('overwrite').parquet(path))
    if replicate > 1:
        path = replicate_transcripts(spark, path, replicate)
    return path


def replicate_transcripts(spark, tpath: str, factor: int) -> str:
    """Deterministically replicate the input so each timed query runs
    long enough to amortize fixed scheduling/worker-pool costs (the
    sandbox analogue of a real-size table scan)."""
    rpath = f'{tpath}_x{factor}'
    if not os.path.exists(os.path.join(rpath, '_SUCCESS')):
        reps = spark.range(factor).select(
            F.col('id').cast('int').alias('rep'))
        (spark.read.parquet(tpath)
         .crossJoin(reps)
         .withColumn('conv_id', F.concat_ws('-r', 'conv_id',
                                            F.col('rep').cast('string')))
         .drop('rep')
         .repartition(128, 'conv_id')
         .write.mode('overwrite').parquet(rpath))
    return rpath


def run_noop(df, reps: int = 1) -> float:
    """Best-of-``reps`` end-to-end time into the noop sink (full
    materialization, no driver collect). Best-of-N reports steady-state
    throughput and suppresses the 10-25% run-to-run noise this shared
    box shows; the first full pipeline run is already warmed separately.
    """
    best = None
    for _ in range(max(reps, 1)):
        t0 = time.perf_counter()
        df.write.format('noop').mode('overwrite').save()
        elapsed = time.perf_counter() - t0
        best = elapsed if best is None else min(best, elapsed)
    return best


def main():
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
    cpus = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
    cache_dir = os.environ.get(
        'SPARK_GRAFT_BENCH_CACHE', '/tmp/spark_graft_bench')
    os.makedirs(cache_dir, exist_ok=True)
    sf = os.path.basename(sf_dir.rstrip('/')).replace('sf', '')
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir

    spark = get_spark(
        'bench', cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            # size scan splits for a small-file local benchmark so the
            # UDF stage gets ~1 task per core (on a real cluster the input
            # is TB-scale and the default 128 MB splits already give
            # thousands of tasks)
            'spark.sql.files.maxPartitionBytes': str(1 << 20),
            'spark.sql.files.openCostInBytes': str(64 << 10),
        })
    spark.sparkContext.setLogLevel('ERROR')

    replicate = int(os.environ.get('SPARK_GRAFT_BENCH_REPLICATE', '8'))
    tpath = materialize_transcripts(spark, sf_dir, cache_dir,
                                    replicate=replicate)
    transcripts = spark.read.parquet(tpath)
    n_turns = transcripts.count()

    # warmup: one full untimed extraction — spins up the whole python
    # worker pool (AQE coalesces tiny warmups to one task) + JVM codegen
    run_noop(pipeline.extract_turns(transcripts, emit_spans=False,
                                    emit_sexpr=False))

    reps = int(os.environ.get('SPARK_GRAFT_BENCH_REPS', '3'))
    from ocrodjvu_spark.functions import similarity, textops

    docs = T.load_table(spark, sf_dir, 'documents')
    docs.count()  # untimed: warm the documents scan (q5/q6 input)
    norm = F.regexp_replace(F.trim('text'), r'\s+', ' ')
    emb = T.load_table(spark, sf_dir, 'embeddings')
    ann = similarity.cosine_topk(emb, n_queries=10, k=5)
    # untimed: q7 is the only query over the embeddings table, so its
    # first execution otherwise pays the cold scan + codegen of the
    # whole BNLJ+window plan (observed 4-7s cold vs 0.5-1.3s steady)
    run_noop(ann)

    queries = [
        # q1: flagship full extraction (words detail) into noop sink;
        # consumes text + sexpr only, so the spans payload is elided at
        # the UDF (Catalyst cannot prune inside the result struct)
        ('extract_text',
         pipeline.extract_turns(transcripts, emit_spans=False)
         .select('conv_id', 'turn_idx', 'dialect', 'error',
                 'extracted_text', 'extracted_sexpr')),
        # q2: word-span explode (spans fan-out path); emit_spans='packed'
        # prunes non-word spans at the UDF — the query reads nothing else
        ('extract_word_spans',
         pipeline.word_spans(
             pipeline.extract_turns(transcripts, emit_spans='packed',
                                    emit_sexpr=False))),
        # q3: extraction + stable conversation reassembly (the one shuffle)
        ('conversation_reassembly',
         pipeline.reassemble_conversations(
             pipeline.extract_turns(transcripts, emit_spans=False,
                                    emit_sexpr=False))),
        # q4: uax29 segmentation variant of the kernel (text only)
        ('extract_text_uax29',
         pipeline.extract_turns(transcripts, uax29=True, emit_spans=False,
                                emit_sexpr=False)
         .select('conv_id', 'turn_idx', 'extracted_text')),
        # q5: exact dedup over documents (hash groupBy)
        ('dedup_exact',
         docs.groupBy(F.md5(norm).alias('text_hash')).agg(
             F.min('doc_id').alias('rep_doc_id'),
             F.count('*').alias('n_dupes'))),
        # q6: MinHash+LSH near-dup pairs (shingle -> sig -> band -> verify)
        ('dedup_minhash_lsh',
         textops.minhash_dedup_pairs(docs.select('doc_id', 'text'),
                                     threshold=0.5)),
        # q7: brute-force cosine top-k over embeddings
        ('ann_cosine_topk', ann),
    ]

    # Interleaved passes: run the whole list ``reps`` times and keep the
    # per-query minimum ACROSS passes. Ambient load on this shared box
    # decays over minutes, so back-to-back reps of one query all land in
    # the same slow window; interleaving decorrelates the noise and the
    # min converges on steady-state per query.
    timings = {}
    for _ in range(max(reps, 1)):
        for name, df in queries:
            t = run_noop(df)
            timings[name] = min(timings.get(name, t), t)

    total = sum(timings.values())
    result = {
        'metric': 'headline_queries_total_sec',
        'value': round(total, 3),
        'unit': 'sec',
        'queries': {k: round(v, 3) for k, v in timings.items()},
        'sf': sf,
        'n_turns': n_turns,
        'turns_per_sec': round(n_turns / timings['extract_text'], 1),
        'cpus': cpus,
        # methodology markers so cross-round comparisons are explicit:
        # best-of-`reps` per query, flagship elides the spans payload
        'reps': reps,
        'flagship': 'extract_text+sexpr (spans elided)',
        # host-drift normalizer: a fixed 10M-iteration fold-arithmetic
        # loop on one core. This shared box drifts (measured 1.40-1.45s
        # slow state vs faster earlier states); divide totals by the
        # control ratio before reading a cross-run delta as a
        # regression (see BENCH/BASELINE.md host-drift section).
        'host_ctl_sec': round(_host_control(), 3),
    }
    print(json.dumps(result))


def _host_control() -> float:
    import time as _time
    best = float('inf')
    for _ in range(2):
        t0 = _time.time()
        s = 0
        for i in range(10_000_000):
            s = (s * 31 + i) % 2147483647
        best = min(best, _time.time() - t0)
    return best


if __name__ == '__main__':
    main()
