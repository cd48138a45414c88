"""Physical-plan audit: dump the executed plans of the key queries and
check the properties that matter at 100 TB.

Writes PLANS.md with, per query: the `.explain(formatted)`-style plan
plus automated assertions (filter pushdown at the scan, column pruning,
broadcast for small sides, no shuffle in the extract stage).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ocrodjvu_spark import pipeline  # noqa: E402
from ocrodjvu_spark.functions import similarity, temporal, textops  # noqa: E402
from ocrodjvu_spark.session import get_spark  # noqa: E402
from ocrodjvu_spark.sources import transcripts as T  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_RUN_SPECIFIC = ((re.compile(r'#(\d+)'), '#{}'),
                 (re.compile(r'plan_id=(\d+)'), 'plan_id={}'),
                 (re.compile(r'(?<=lambda [xyz]_)(\d+)'), '{}'))
_SNAP_FILE = re.compile(r'plan-audit-snap-\w+/t/data/[0-9a-f]*')


def stable_text(plan: str) -> str:
    """The plan as PLANS.md records it: expression, plan and lambda
    variable ids renumbered by first appearance and the audit's
    temporary paths masked, so the file changes only when a plan does.
    The checks read the raw text."""
    for pattern, fmt in _RUN_SPECIFIC:
        ids = {}
        plan = pattern.sub(
            lambda m: fmt.format(ids.setdefault(m.group(1), len(ids))), plan)
    return _SNAP_FILE.sub('plan-audit-snap-<tmp>/t/data/<file>', plan)


def final_plan(plan: str) -> str:
    """The final adaptive plan of a query that has run."""
    assert 'isFinalPlan=true' in plan, 'run the query before reading it'
    return plan.split('== Initial Plan ==')[0]


def explode_shuffles(plan: str) -> int:
    """Non-reused exchanges with a ``Generate explode`` in their own
    stage: the descent below each exchange stops at the next
    ``Exchange`` or ``ShuffleQueryStage``, so an exchange above another
    shuffle does not count that shuffle's explode again."""
    lines = plan.split('\n')
    nodes = [ln.lstrip(' :+-') for ln in lines]
    depth = [len(ln) - len(node) for ln, node in zip(lines, nodes)]

    def end(i):
        return next((j for j in range(i + 1, len(lines))
                     if depth[j] <= depth[i]), len(lines))

    found = 0
    for i, node in enumerate(nodes):
        if not node.startswith('Exchange '):
            continue
        j, stop = i + 1, end(i)
        while j < stop and 'Generate explode' not in nodes[j]:
            j = (end(j) if nodes[j].startswith(
                ('Exchange ', 'ShuffleQueryStage ')) else j + 1)
        found += j < stop
    return found


_DOC_AGGREGATE = re.compile(
    r'Aggregate\(keys=\[doc_id#\d+L?\], functions=\[(.*)\], output=')


def doc_aggregates(plan: str) -> list:
    """The function lists of the aggregates keyed on ``doc_id`` alone,
    one per per-document aggregate (partial aggregates are skipped)."""
    found = (_DOC_AGGREGATE.search(node) for node in plan.split('\n'))
    return [m.group(1) for m in found
            if m and 'partial_' not in m.group(1)]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    # untruncated scan filters: Spark cuts metadata text at a fixed
    # length while the ids are still raw, so the cut point would move
    # with the id widths of earlier sections
    spark = get_spark(
        'plan-audit', cpus=4, shuffle_partitions=4,
        extra_conf={'spark.sql.maxMetadataStringLength': '100000'})
    spark.sparkContext.setLogLevel('ERROR')

    # a stored transcripts table (models the Iceberg input)
    tpath = '/tmp/spark_graft_plans/transcripts'
    if not os.path.exists(os.path.join(tpath, '_SUCCESS')):
        T.synthesize_transcripts(spark, sf_dir).write.mode(
            'overwrite').parquet(tpath)
    tr = spark.read.parquet(tpath)

    sections = []
    checks = []

    def audit(name, df, requirements):
        plan = plan_of(df)
        results = []
        for desc, pred in requirements:
            ok = pred(plan)
            results.append((desc, ok))
            checks.append((name, desc, ok))
        sections.append((name, plan, results))

    audit(
        'turn_filter + extract (pushdown, pruning, single python stage)',
        pipeline.extract_turns(
            tr.where((F.col('turn_idx') >= 2) & (F.col('turn_idx') <= 5)),
            emit_spans=False, emit_sexpr=False)
        .select('conv_id', 'turn_idx', 'extracted_text'),
        [
            ('turn_idx predicate pushed to the scan',
             lambda p: 'PushedFilters: [IsNotNull(turn_idx)' in p
             or 'GreaterThanOrEqual(turn_idx,2)' in p),
            ('scan reads only conv_id, turn_idx, text',
             lambda p: 'ReadSchema: struct<conv_id:string,turn_idx:int,'
             'text:string>' in p),
            ('no shuffle in the extract stage',
             lambda p: 'Exchange' not in p),
            ('exactly one Arrow python stage',
             lambda p: p.count('ArrowEvalPython') == 1),
        ])

    from ocrodjvu_spark.kernel.utils import parse_page_numbers
    audit(
        'turn_filter (page-list grammar pushes as In)',
        tr.where(F.col('turn_idx').isin(parse_page_numbers('17,37-42')))
          .select('conv_id', 'turn_idx'),
        [
            ("'17,37-42' expands to an In(turn_idx, ...) pushed filter",
             lambda p: 'In(turn_idx' in p),
        ])

    audit(
        'conversation reassembly (single partial-aggregated shuffle)',
        pipeline.reassemble_conversations(
            pipeline.extract_turns(tr, emit_spans=False,
                                   emit_sexpr=False)),
        [
            ('one shuffle total',
             lambda p: p.count('Exchange hashpartitioning') == 1),
            ('map-side partial aggregation before the shuffle',
             lambda p: p.count('HashAggregate') >= 2
             or p.count('ObjectHashAggregate') >= 2
             or p.count('SortAggregate') >= 2),
        ])

    emb = T.load_table(spark, sf_dir, 'embeddings')
    audit(
        'ann cosine top-k (broadcast queries, no shuffle join)',
        similarity.cosine_topk(emb),
        [
            ('query side broadcast',
             lambda p: 'BroadcastExchange' in p),
            ('no sort-merge join',
             lambda p: 'SortMergeJoin' not in p),
        ])

    docs = T.load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    minhash = textops.minhash_dedup_pairs(docs)
    minhash.collect()  # the final adaptive plan shows exchange reuse
    audit(
        'minhash LSH dedup (band buckets grouped, no join, one aggregate '
        'per document)',
        minhash,
        [
            ('no BroadcastExchange and no join',
             lambda p: 'BroadcastExchange' not in final_plan(p)
             and 'Join' not in final_plan(p)),
            ('one per-document aggregate computes both min and collect_list',
             lambda p: [('min(' in f, 'collect_list(' in f)
                        for f in doc_aggregates(final_plan(p))]
             == [(True, True)]),
            ('one shuffle of the shingle explode',
             lambda p: explode_shuffles(final_plan(p)) == 1),
        ])

    audit(
        'embedding neardup (banded LSH equi-join, no all-pairs broadcast)',
        similarity.neardup_pairs(emb),
        [
            ('no BroadcastNestedLoopJoin over the corpus',
             lambda p: 'BroadcastNestedLoopJoin' not in p),
            ('no cartesian product',
             lambda p: 'CartesianProduct' not in p),
        ])

    ev = T.load_table(spark, sf_dir, 'events')
    audit(
        'as-of join (union + window carry, no range theta-join)',
        temporal.asof_join(
            ev.where(F.col('event_type') == 'click')
              .select('event_id', 'user_id', 'ts'),
            ev.where(F.col('event_type') == 'purchase')),
        [
            ('no nested-loop / cartesian join anywhere',
             lambda p: 'BroadcastNestedLoopJoin' not in p
             and 'CartesianProduct' not in p
             and 'SortMergeJoin' not in p),
            ('single hash shuffle on the key',
             lambda p: p.count('Exchange hashpartitioning') == 1),
        ])

    audit(
        'range join (interval-bucketed equi-join)',
        temporal.range_join(
            ev.where(F.col('event_type') == 'click'),
            ev.where(F.col('event_type') == 'error')),
        [
            ('pairing is an equi-join on (key, bucket), not a theta-join',
             lambda p: 'BroadcastNestedLoopJoin' not in p
             and 'CartesianProduct' not in p),
        ])

    audit(
        'embedding quantization (map-only projection)',
        similarity.quantize_embeddings(emb),
        [
            ('no shuffle, no join — pure projection over the scan',
             lambda p: 'Exchange' not in p and 'Join' not in p),
        ])

    audit(
        'semantic dedup (within-cluster equi-join, never all-pairs)',
        similarity.semantic_dedup_pairs(emb, k=4, iterations=1),
        [
            ('pairing is an equi-join on cluster id, not a nested loop',
             lambda p: 'BroadcastNestedLoopJoin' not in p
             and 'CartesianProduct' not in p),
        ])

    audit(
        'simhash near-dup pairs (band equi-join carrying fingerprints)',
        textops.simhash_neardup_pairs(docs),
        [
            ('no cartesian product / broadcast nested loop',
             lambda p: 'CartesianProduct' not in p
             and 'BroadcastNestedLoopJoin' not in p),
            ('single band self-join, no fingerprint re-join',
             lambda p: p.count('Join') <= 2),
            ('16-bit band keys: mask 65535 in the band projection '
             '(2^16 bucket keys per band, not 256)',
             lambda p: p.count('65535') >= 4),
        ])

    audit(
        'repetition stats (single tokenize pass, bound-once lambda)',
        textops.repetition_stats(docs),
        [
            ('corpus tokenized once (one regexp_replace in the plan)',
             lambda p: p.count('regexp_replace') == 1),
            ('two-level aggregation, no extra scan',
             lambda p: p.count('FileScan') == 1),
        ])

    audit(
        'split contamination (shingle equi-join, test side aggregated)',
        textops.contamination_pairs(
            docs.where(F.col('doc_id') % 10 < 8),
            docs.where(F.col('doc_id') % 10 >= 9), min_common=2),
        [
            ('no cartesian product / broadcast nested loop',
             lambda p: 'CartesianProduct' not in p
             and 'BroadcastNestedLoopJoin' not in p),
        ])

    audit(
        'gopher rules (map-only, single tokenize pass)',
        textops.gopher_rules(docs),
        [
            ('no shuffle at all', lambda p: 'Exchange' not in p),
            ('no python UDF', lambda p: 'Python' not in p),
            ('corpus tokenized once (one regexp_replace feeding split)',
             lambda p: p.count('split(regexp_replace') == 1),
        ])

    audit(
        'pii scrub (map-only projection)',
        textops.pii_scrub(docs),
        [
            ('no shuffle at all', lambda p: 'Exchange' not in p),
            ('no python UDF', lambda p: 'Python' not in p),
        ])

    audit(
        'script profile (map-only regex char-class counting)',
        textops.script_profile(docs),
        [
            ('no shuffle at all', lambda p: 'Exchange' not in p),
            ('no python UDF', lambda p: 'Python' not in p),
        ])

    audit(
        'quality buckets (tercile thresholds broadcast, no global sort)',
        textops.quality_buckets(docs, vocab_size=200),
        [
            # a global-sort ntile would show a SinglePartition range
            # exchange over the corpus; the threshold row is the only
            # single-partition aggregate
            ('no window over a single range partition',
             lambda p: 'rangepartitioning' not in p.lower()),
            ('no cartesian product',
             lambda p: 'CartesianProduct' not in p),
        ])

    audit(
        'cross-document line dedup (keep-first min-struct aggregation)',
        textops.dedup_lines(docs),
        [
            ('no cartesian product / broadcast nested loop',
             lambda p: 'CartesianProduct' not in p
             and 'BroadcastNestedLoopJoin' not in p),
            ('no python UDF', lambda p: 'Python' not in p),
            ('no single-partition exchange',
             lambda p: 'SinglePartition' not in p),
            # skew guard: keep-first must be a partial (map-side) min
            # aggregation on the line key, never a hot-key row_number
            # window that ships every duplicate through one task
            ('partial aggregation before the line-key shuffle',
             lambda p: 'partial_min' in p),
            ('no window operator', lambda p: 'Window' not in p),
        ])

    audit(
        'doc chunking (sequence-of-slices explode, map-only)',
        textops.chunk_documents(docs),
        [
            ('no shuffle at all', lambda p: 'Exchange' not in p),
            ('no python UDF', lambda p: 'Python' not in p),
            ('single tokenize (one regexp_replace)',
             lambda p: p.count('regexp_replace') == 1),
        ])

    audit(
        'duplicated spans w/ stop-gram cap (df filter before join-back)',
        textops.duplicated_spans(docs, max_df=64),
        [
            # the cap must reach the df-count side BEFORE the join back
            # onto occurrences — that filter is what keeps a boilerplate
            # n-gram's 10^8 occurrence rows off a single join key
            ('df cap filters the build side before the join-back',
             lambda p: '(df' in p and '<= 64)' in p),
            ('no cartesian product / broadcast nested loop',
             lambda p: 'CartesianProduct' not in p
             and 'BroadcastNestedLoopJoin' not in p),
            ('all shuffles on hash keys (no single-partition exchange '
             'outside the final island window)',
             lambda p: p.count('SinglePartition') == 0),
        ])

    audit(
        'duplicated-span removal (apply): span arrays join on the doc '
        'key, token filter in-projection',
        textops.remove_duplicated_spans(docs),
        [
            ('no cartesian product / broadcast nested loop',
             lambda p: 'CartesianProduct' not in p
             and 'BroadcastNestedLoopJoin' not in p),
            ('no python UDF anywhere',
             lambda p: 'Python' not in p),
            ('no single-partition exchange (all shuffles keyed)',
             lambda p: 'SinglePartition' not in p),
        ])

    audit(
        'lm quality (capped vocab broadcast to the scoring join)',
        textops.lm_score(docs, vocab_size=200),
        [
            # the scoring join itself must be a BroadcastHashJoin — a
            # bare 'BroadcastExchange in plan' would be satisfied by the
            # 1-row total's IdentityBroadcastMode alone
            ('doc trigrams join the vocab via BroadcastHashJoin',
             lambda p: 'BroadcastHashJoin' in p),
            ('no shuffle/sort-merge of doc trigrams against the vocab',
             lambda p: 'SortMergeJoin' not in p
             and 'ShuffledHashJoin' not in p),
        ])

    audit(
        'domain mix weights (single scan; window total over the '
        'domains-sized aggregate)',
        textops.domain_mix_weights(docs.withColumn('source', F.lit('s')),
                                   {'s': 1.0}),
        [
            ('corpus scanned and tokenized once (one FileScan)',
             lambda p: p.count('FileScan') == 1),
        ])

    audit(
        'k-means final assignment (broadcast-centroid projection)',
        similarity.kmeans_labels(emb, k=4, iterations=1),
        [
            ('no join at all — centroids are inlined literals',
             lambda p: 'Join' not in p),
            ('no shuffle in the assignment',
             lambda p: 'Exchange' not in p),
        ])

    import __spark_entry__ as entrymod

    from ocrodjvu_spark.functions import bloom, bpe  # noqa: E402
    docs = T.load_table(spark, sf_dir, 'documents')

    audit(
        'BPE tokenize (map-only JVM replace chain)',
        bpe.tokenize(docs, [('t', 'h'), ('th', 'e'), ('e', 'r')]),
        [
            ('no Python stage (merges are JVM string replaces)',
             lambda p: 'EvalPython' not in p),
            ('no shuffle (pure projection)',
             lambda p: 'Exchange' not in p),
            ('scan reads only doc_id and text',
             lambda p: 'ReadSchema: struct<doc_id:bigint,text:string>'
             in p),
        ])

    _bpe_state = bpe.word_counts(docs).select(
        bpe.word_repr_col(F.col('word')).alias('toks_str'), 'cnt')
    audit(
        'BPE pair counts (training inner loop)',
        bpe.pair_counts(_bpe_state),
        [
            ('map-side partial count before the pair shuffle',
             lambda p: 'partial_sum' in p or 'partial' in p),
            ('pair explode via Generate (no repeated higher-order '
             'array expression)',
             lambda p: 'Generate explode' in p),
        ])

    _vocab = docs.select(
        F.explode(textops.tokens()).alias('key')).where(
        F.col('key') != '').distinct()
    _filt = bloom.bloom_build(_vocab, m_bits=4096, k=3)
    audit(
        'bloom build (shuffle bounded by bitmap size)',
        _filt.bitmap,
        [
            ('partial bit_or before the word_idx shuffle',
             lambda p: 'partial_bit_or' in p),
        ])
    audit(
        'bloom probe (broadcast bitmap, no bitmap-side shuffle)',
        bloom.bloom_probe(_vocab, _filt),
        [
            ('bitmap joins as BroadcastHashJoin',
             lambda p: 'BroadcastHashJoin' in p),
        ])

    from ocrodjvu_spark.functions import cms, hll  # noqa: E402
    _words = docs.select(
        F.explode(textops.tokens()).alias('key')).where(
        F.col('key') != '')
    audit(
        'HLL sketch build (shuffle bounded at m registers)',
        hll.hll_sketch(_words, p=6),
        [
            ('partial max before the register shuffle',
             lambda p: 'partial_max' in p),
        ])
    audit(
        'CMS build (shuffle bounded at d*w cells)',
        cms.cms_build(_words, w=64),
        [
            ('partial count before the cell shuffle',
             lambda p: 'partial_count' in p),
        ])

    audit(
        'conversation packing (partition-local window, no global sort)',
        entrymod.queries()['conversation_packing'](spark, sf_dir),
        [
            ('window shuffles on conv_id only (no single-partition '
             'exchange)',
             lambda p: 'SinglePartition' not in p),
            ('exactly one exchange',
             lambda p: p.count('Exchange hashpartitioning') == 1),
        ])
    from ocrodjvu_spark.plans import snapstore as SS
    _zdocs = T.load_table(spark, sf_dir, 'documents') \
        .select('doc_id', 'n_chars')
    audit(
        'z-order clustering value (pure JVM, map-only)',
        _zdocs.withColumn('__zv',
                          SS.zorder_expr(_zdocs, ['doc_id', 'n_chars'])),
        [
            ('no Python eval in the z-value projection',
             lambda p: 'EvalPython' not in p),
            ('no shuffle (map-only projection)',
             lambda p: 'Exchange' not in p),
            ('whole-stage codegen covers the interleave',
             lambda p: '*(1) Project' in p),
            ('bucket CASE-chain evaluated once per column '
             '(15 cuts once, not once per bit)',
             lambda p: p.count('CASE WHEN (doc_id') == 15),
        ])

    audit(
        'winnowing fingerprints (doc-bounded window, one shuffle, '
        'no Python)',
        textops.winnowing_fingerprints(docs),
        [
            ('no Python eval anywhere',
             lambda p: 'EvalPython' not in p),
            ('window partitions on the doc key (no single-partition '
             'exchange)',
             lambda p: 'SinglePartition' not in p),
            ('exactly one exchange feeds the window + distinct '
             '(same doc_id key reused)',
             lambda p: p.count('Exchange hashpartitioning') <= 2),
        ])
    import tempfile
    from pyspark.sql import Row
    from ocrodjvu_spark.plans.snapstore import SnapshotTable
    _snap = SnapshotTable(os.path.join(
        tempfile.mkdtemp(prefix='plan-audit-snap-'), 't'))
    _snap.append(spark.createDataFrame(
        [Row(doc_id=i, v=i % 3) for i in range(64)]))
    _snap.delete_keys(spark, spark.createDataFrame(
        [Row(doc_id=3)]), ['doc_id'])
    _snap.delete_positions(spark, F.col('doc_id') == 7)
    audit(
        'merge-on-read scan (pending equality + position deletes)',
        _snap.read(spark),
        [
            ('delete files apply as BROADCAST anti-joins '
             '(no shuffle join against tiny delete sets)',
             lambda p: p.count('BroadcastHashJoin') >= 2
             and 'LeftAnti' in p),
            ('no sort-merge join anywhere in the MoR plan',
             lambda p: 'SortMergeJoin' not in p),
            ('no Python eval in the delete application',
             lambda p: 'EvalPython' not in p),
        ])

    _emb = T.load_table(spark, sf_dir, 'embeddings')
    audit(
        'assign_to_centroids (serving path: map-only, centroid '
        'literals inlined)',
        similarity.assign_to_centroids(
            _emb, {0: [0] * 64, 1: [1000] * 64}),
        [
            ('no Python eval in the assignment',
             lambda p: 'EvalPython' not in p),
            ('no shuffle (map-only projection)',
             lambda p: 'Exchange' not in p),
        ])

    # df comes from a window count over tf's term partition, so there is
    # no tf|><|df join to mis-broadcast; the only join left is the 1-row
    # n_docs cross join (hinted broadcast, which is correct). Hints
    # print in the optimized logical plan as 'strategy=broadcast'.
    tfidf_df = entrymod.queries()['tfidf_top_terms'](spark, sf_dir)
    tfidf_opt = tfidf_df._jdf.queryExecution().optimizedPlan().toString()
    checks.append((
        'tfidf top terms',
        'no tf-df join: df is a window count over the term partition',
        not any('Join Inner' in ln and 'term#' in ln
                for ln in tfidf_opt.splitlines())))
    checks.append((
        'tfidf top terms',
        'only the 1-row n_docs cross join is broadcast-hinted',
        tfidf_opt.count('strategy=broadcast') == 1))
    checks.append((
        'tfidf top terms',
        'corpus tokenized once (exactly one Generate explode)',
        tfidf_opt.count('Generate explode') == 1))
    sections.append(('tfidf top terms (optimized logical plan)',
                     tfidf_opt, []))

    # new sections go last: Spark truncates DataFilters text before the
    # ids are renumbered, so a section planned after a new one can change
    # in PLANS.md while its plan does not
    audit(
        'ann ivf top-k (broadcast centroids and probes, no shuffle join)',
        similarity.ivf_topk(emb),
        [
            ('centroid side broadcast to the probe cross join',
             lambda p: 'BroadcastNestedLoopJoin BuildRight, Cross' in p),
            ('probe side broadcast to the inverted-list join',
             lambda p: 'BroadcastHashJoin [list_id#' in p),
            ('no sort-merge join',
             lambda p: 'SortMergeJoin' not in p),
        ])
    audit(
        'ann lsh top-k (broadcast queries, no shuffle join)',
        similarity.lsh_topk(emb),
        [
            ('query side broadcast to the bucket join',
             lambda p: 'BroadcastHashJoin [bucket#' in p),
            ('no sort-merge join',
             lambda p: 'SortMergeJoin' not in p),
        ])

    lines = ['# PLANS — physical-plan audit (auto-generated)\n',
             f'Generated by `python tools/explain_audit.py {sf_dir}`.\n']
    n_fail = 0
    lines.append('## Checks\n')
    lines.append('| query | property | ok |')
    lines.append('|---|---|---|')
    for name, desc, ok in checks:
        n_fail += (not ok)
        lines.append(f'| {name.split("(")[0].strip()} | {desc} | '
                     f'{"✅" if ok else "❌"} |')
    lines.append('')
    for name, plan, results in sections:
        lines.append(f'## {name}\n')
        lines.append('```')
        lines.append(stable_text(plan.strip()))
        lines.append('```\n')
    with open('PLANS.md', 'w') as f:
        f.write('\n'.join(lines))
    print('checks failed:', n_fail)
    return 1 if n_fail else 0


if __name__ == '__main__':
    raise SystemExit(main())
