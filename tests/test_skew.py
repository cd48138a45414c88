"""Skew handling: salted repartition spreads mega-conversations.

The north rule calls for explicit skew splitting: without salt, a
mega-conversation's turns land in one shuffle partition; with
``pmod(hash(turn_idx), S)`` in the repartition key they spread across S
buckets while staying joinable on conv_id downstream.
"""

import datetime

from pyspark.sql import functions as F

from ocrodjvu_spark import pipeline
from ocrodjvu_spark.functions import textops
from ocrodjvu_spark.schema import TRANSCRIPTS_DDL


def _skewed_df(spark, mega_turns=400, small_convs=20):
    rows = []
    ts = datetime.datetime(2025, 1, 1)
    markup = ('<html><head><meta name="ocr-capabilities" content="x"/>'
              '</head><body><div class="ocr_page" title="bbox 0 0 100 100">'
              '<span class="ocr_line" title="bbox 1 1 9 9">hi</span>'
              '</div></body></html>')
    for t in range(1, mega_turns + 1):
        rows.append(('mega', t, 'user', markup, None, ts))
    for c in range(small_convs):
        rows.append((f'small-{c}', 1, 'user', markup, None, ts))
    return spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)


def test_salted_repartition_spreads_mega_conv(spark):
    df = _skewed_df(spark)
    n_parts = 8

    unsalted = df.repartition(n_parts, F.col('conv_id'))
    salted = pipeline.salted_repartition(df, num_partitions=n_parts,
                                         salt_buckets=8)

    def mega_partition_counts(d):
        counts = (
            d.withColumn('pid', F.spark_partition_id())
            .where(F.col('conv_id') == 'mega')
            .groupBy('pid').count().collect())
        return {r.pid: r['count'] for r in counts}

    assert len(mega_partition_counts(unsalted)) == 1  # the hotspot
    spread = mega_partition_counts(salted)
    assert len(spread) >= 4  # spread across most partitions
    assert max(spread.values()) <= 400 * 0.5  # no partition holds half


def test_salted_extraction_results_unchanged(spark):
    df = _skewed_df(spark, mega_turns=50, small_convs=5)
    plain = {(r.conv_id, r.turn_idx): r.extracted_text
             for r in pipeline.extract_turns(df).collect()}
    salted = {(r.conv_id, r.turn_idx): r.extracted_text
              for r in pipeline.extract_turns(
                  df, salt_buckets=8, num_partitions=8).collect()}
    assert plain == salted
    # reassembly remains stable after salting
    out = pipeline.reassemble_conversations(
        pipeline.extract_turns(df, salt_buckets=8)).collect()
    mega = next(r for r in out if r.conv_id == 'mega')
    assert mega.n_turns == 50
    assert mega.conversation_text == '\n'.join(['hi'] * 50)


def test_dedup_lines_boilerplate_skew_shape(spark):
    # the 100-TB straggler scenario: ONE footer line in EVERY document.
    # Correctness: the footer survives only at its first occurrence
    # (min doc_id, min line_idx); every other doc loses it. Shape: the
    # keep-first decision must be a min-struct AGGREGATION (map-side
    # partial agg collapses the hot line key) — not a row_number window
    # that funnels all duplicates through one task.
    footer = 'this boilerplate footer appears in every single document'
    docs = spark.range(500).select(
        F.col('id').alias('doc_id'),
        F.concat(F.lit('unique line for doc '), F.col('id'),
                 F.lit('\n'), F.lit(footer)).alias('text'))
    out = textops.dedup_lines(docs)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 500
    assert rows[0].clean_text == 'unique line for doc 0\n' + footer
    assert rows[0].n_removed == 0
    for d in (1, 250, 499):
        assert rows[d].clean_text == f'unique line for doc {d}'
        assert rows[d].n_removed == 1
    # plan shape: partial_min on the line key before the shuffle, and
    # no Window operator anywhere in the dedup
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert 'partial_min' in plan
    assert 'Window' not in plan
