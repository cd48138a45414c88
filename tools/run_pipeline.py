"""spark-submit entrypoint for the extraction pipeline.

Deploy (north rule: two cluster sizes, resumable, lineage sidecar):

    zip -r ocrodjvu_spark.zip ocrodjvu_spark
    spark-submit --py-files ocrodjvu_spark.zip tools/run_pipeline.py \\
        --input <transcripts parquet/jsonl/snapshot-table path> \\
        --output <extracted table path> \\
        --sidecar <lineage table path> \\
        [--details words] [--uax29] [--rotation 0] \\
        [--buckets 64] [--max-buckets N] [--salt 16] [--pages 17,37-42] \\
        [--input-format snapshot --input-ref published] \\
        [--table-format snapshot]

On a cluster, master/executors come from spark-submit flags
(--num-executors etc.); rerunning after a failure resumes from the
sidecar (only pending buckets are processed).
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument('--input', required=True)
    parser.add_argument('--output', required=True)
    parser.add_argument('--sidecar', required=True)
    parser.add_argument('--details', default='words',
                        choices=('lines', 'words', 'chars'))
    parser.add_argument('--word-segmentation', default='simple',
                        choices=('simple', 'uax29'), dest='segmentation')
    parser.add_argument('--language', default='eng')
    parser.add_argument('--rotation', type=int, default=0)
    parser.add_argument('--fix-utf8', action='store_true')
    parser.add_argument('--buckets', type=int, default=64)
    parser.add_argument('--max-buckets', type=int, default=None)
    parser.add_argument('--salt', type=int, default=None,
                        help='skew-split factor: spread each conv_id '
                             'over this many tasks before extraction')
    parser.add_argument('--raw-output', default=None,
                        help='also save the raw per-turn payload sidecar '
                             'to this path')
    parser.add_argument('--raw-template', default='{id}/p{page+1}',
                        help="raw sidecar name template, e.g. "
                             "'{id}/p{page+1}'")
    parser.add_argument('--pages', default=None,
                        help="turn ranges, e.g. '17,37-42'")
    parser.add_argument('--input-format', default='parquet',
                        choices=('parquet', 'jsonl', 'snapshot'),
                        dest='input_format',
                        help='transcripts input encoding; jsonl reads '
                             'line-JSON with the transcript schema and '
                             'drops corrupt lines (counted in the '
                             'summary); snapshot reads a snapshot-'
                             'manifest table (pinned file list, '
                             'merge-on-read deletes applied; pin a '
                             'version with --input-version or a '
                             'published pointer with --input-ref)')
    parser.add_argument('--input-version', type=int, default=None,
                        help='snapshot input: time-travel to this '
                             'version (default HEAD)')
    parser.add_argument('--input-ref', default=None,
                        help="snapshot input: read a published ref "
                             "(e.g. 'published') instead of HEAD")
    parser.add_argument('--table-format', default='parquet',
                        choices=('parquet', 'snapshot'),
                        dest='table_format',
                        help='output/sidecar commit protocol: plain '
                             'dynamic-partition overwrite, or the '
                             'snapshot-manifest store (atomic commits, '
                             'pinned readers, time travel)')
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ocrodjvu_spark.kernel.iso639 import normalize_language
    from ocrodjvu_spark.kernel.utils import parse_page_numbers
    from ocrodjvu_spark.plans import checkpoint
    from ocrodjvu_spark.schema import TRANSCRIPTS_DDL
    from ocrodjvu_spark.session import SESSION_CONF

    normalize_language(args.language)  # validate config early

    # master and resources come from spark-submit; the session settings
    # are the package's (UTC, int64-micros timestamps with stats, no
    # call-site capture). pyspark's stock worker daemon: under
    # --py-files the package may not be importable when the daemon
    # starts
    spark = SparkSession.builder.appName('ocrodjvu-spark-extract') \
        .config(map=SESSION_CONF).getOrCreate()
    n_corrupt = 0
    if args.input_format == 'jsonl':
        from ocrodjvu_spark.sources import jsonl as J
        raw = J.read_jsonl(spark, args.input, TRANSCRIPTS_DDL).cache()
        n_corrupt = raw.where(
            F.col('_corrupt_record').isNotNull()).count()
        transcripts = raw.where(F.col('_corrupt_record').isNull()) \
            .drop('_corrupt_record')
    elif args.input_format == 'snapshot':
        from ocrodjvu_spark.plans.snapstore import SnapshotTable
        src = SnapshotTable(args.input)
        transcripts = src.read(spark, version=args.input_version,
                               ref=args.input_ref)
        if transcripts is None:
            print(json.dumps({'error': 'empty snapshot input',
                              'input': args.input}))
            return 1
    else:
        transcripts = spark.read.parquet(args.input)
    pages = parse_page_numbers(args.pages)
    if pages is not None:
        transcripts = transcripts.where(F.col('turn_idx').isin(pages))

    t0 = time.time()
    processed = checkpoint.run_extraction(
        spark, transcripts, args.output, args.sidecar,
        n_buckets=args.buckets, max_buckets=args.max_buckets,
        salt_buckets=args.salt,
        raw_output_path=args.raw_output, raw_template=args.raw_template,
        table_format=args.table_format,
        details=args.details,
        uax29=(args.language if args.segmentation == 'uax29' else None),
        rotation=args.rotation, fix_utf8=args.fix_utf8,
    )
    elapsed = time.time() - t0
    metrics = checkpoint.read_table(
        spark, args.sidecar, args.table_format) if processed else None
    summary = {
        'buckets_processed': len(processed),
        'elapsed_sec': round(elapsed, 2),
    }
    if args.input_format == 'jsonl':
        summary['corrupt_input_lines'] = n_corrupt
    if metrics is not None:
        # only this run's buckets — the sidecar accumulates rows from
        # every previous (possibly partial) run
        agg = metrics.where(
            F.col(checkpoint.BUCKET_COL).isin(processed)).agg(
            F.sum('n_turns'), F.sum('n_errors')).first()
        summary['total_turns'] = agg[0]
        summary['total_errors'] = agg[1]
        if elapsed > 0 and processed:
            summary['turns_per_sec'] = round((agg[0] or 0) / elapsed, 1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == '__main__':
    main()
