"""End-to-end Spark pipeline tests.

The decisive test feeds the reference's real hOCR fixtures through the
*Spark* pipeline as a transcripts table — one turn per golden case — and
asserts per-turn sexpr equality against the goldens (per-turn text
equality under stable turn ordering, per BASELINE.json input_hint).
Where the reference corpus is absent it feeds the in-repo pages of
``tests/corpus.py`` instead, against the kernel's own extraction.
"""

import datetime

import pytest
from pyspark.sql import Row

from ocrodjvu_spark import pipeline
from ocrodjvu_spark.kernel import hocr, sexpr
from ocrodjvu_spark.schema import TRANSCRIPTS_DDL

from tests.corpus import (IN_REPO_HOCR_PAGES, REFERENCE_PRESENT,
                          golden_cases, needs_reference_corpus)


def _cases(details, uax29):
    """(hOCR bytes, expected page sexprs) per turn for one config.

    Where the reference corpus is present: its golden cases. Where it is
    absent: the in-repo pages, whose expected pages are the kernel's own
    extraction, so the Spark shell around the kernel (salting, Arrow
    batching, page explode, per-turn order) is still checked.
    """
    level = hocr.DETAILS_BY_NAME[details]
    if not REFERENCE_PRESENT:
        for html_bytes in IN_REPO_HOCR_PAGES:
            yield html_bytes, hocr.extract_sexprs(
                html_bytes, details=level, uax29=uax29)
        return
    for _case_id, html_bytes, kwargs, expected_pages in golden_cases():
        if kwargs['details'] != level:
            continue
        if bool(kwargs['uax29']) != bool(uax29):
            continue
        if kwargs.get('page_size') is not None:
            continue  # page-size configs tested at kernel level
        yield html_bytes, [sexpr.parse(p) for p in expected_pages]


def _corpus_transcripts(spark, details='words', uax29=None):
    """One conversation per fixture config; turns = cases."""
    rows = []
    expected = {}
    for i, (html_bytes, expected_pages) in enumerate(
            _cases(details, uax29)):
        conv_id = f'conv-{i % 4}'
        turn_idx = i // 4 + 1
        rows.append(Row(
            conv_id=conv_id,
            turn_idx=turn_idx,
            role='assistant',
            text=html_bytes.decode('UTF-8', 'replace'),
            tool=None,
            ts=datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=i),
        ))
        expected[(conv_id, turn_idx)] = expected_pages
    df = spark.createDataFrame(rows, schema=','.join([
        'conv_id string', 'turn_idx int', 'role string', 'text string',
        'tool string', 'ts timestamp']))
    return df, expected


@pytest.mark.parametrize('details,uax29', [
    ('words', None), ('lines', None), ('chars', None),
    ('words', True), ('chars', True),
])
def test_golden_corpus_through_spark(spark, details, uax29):
    df, expected = _corpus_transcripts(spark, details, uax29)
    assert expected, 'no case for this config: the corpus is partial'
    out = pipeline.extract_turns(
        df, details=details, uax29=uax29, salt_buckets=4)
    got = out.select(
        'conv_id', 'turn_idx', 'page_idx', 'extracted_sexpr', 'error',
    ).collect()
    by_turn = {}
    for r in got:
        assert r.error is None, (r.conv_id, r.turn_idx, r.error)
        by_turn.setdefault((r.conv_id, r.turn_idx), {})[r.page_idx] = (
            r.extracted_sexpr)
    assert set(by_turn) == set(expected)
    for key, pages in expected.items():
        got_pages = [by_turn[key][i] for i in sorted(by_turn[key])]
        assert len(got_pages) == len(pages)
        for got_page, want in zip(got_pages, pages):
            assert sexpr.parse(got_page) == want, key


@needs_reference_corpus
def test_page_size_dialects_through_spark(spark):
    """cuneiform 0.7/0.8 fixtures (need --page-size) through the UDF.

    page_size is per-run config, so group the golden cases by it and
    run one extraction per distinct page size.
    """
    by_size = {}
    for case_id, html_bytes, kwargs, expected_pages in golden_cases():
        if kwargs.get('page_size') is None or kwargs['details'] != 2 \
                or kwargs['uax29']:
            continue
        by_size.setdefault(kwargs['page_size'], []).append(
            (html_bytes, expected_pages))
    assert by_size, 'corpus must contain page-size golden configs'
    for page_size, cases in by_size.items():
        rows, expected = [], {}
        for i, (html_bytes, expected_pages) in enumerate(cases):
            rows.append(('conv-ps', i + 1, 'user',
                         html_bytes.decode('UTF-8', 'replace'), None,
                         datetime.datetime(2025, 1, 1)))
            expected[i + 1] = [sexpr.parse(p) for p in expected_pages]
        df = spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)
        out = pipeline.extract_turns(df, details='words',
                                     page_size=page_size)
        got = {}
        for r in out.collect():
            assert r.error is None, (r.turn_idx, r.error)
            got.setdefault(r.turn_idx, []).append(
                (r.page_idx, sexpr.parse(r.extracted_sexpr)))
        for turn_idx, pages in expected.items():
            assert [p for _, p in sorted(got[turn_idx])] == pages


def test_error_channel_resume(spark):
    """--on-error resume semantics: bad rows keep error, good rows flow."""
    rows = [
        ('c1', 1, 'user',
         '<html><head><meta name="ocr-capabilities" content="x"/></head>'
         '<body><div class="ocr_page" title="bbox 0 0 100 100">'
         '<span class="ocr_line" title="bbox 1 1 9 9">hi</span>'
         '</div></body></html>', None, datetime.datetime(2025, 1, 1)),
        ('c1', 2, 'user',
         '<html><head><meta name="ocr-capabilities" content="x"/></head>'
         '<body><div class="ocr_page">'
         'no bbox</div></body></html>', None, datetime.datetime(2025, 1, 1)),
        ('c1', 3, 'user', None, None, datetime.datetime(2025, 1, 1)),
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)
    out = pipeline.extract_turns(df).orderBy('turn_idx').collect()
    assert out[0].error is None
    assert out[0].extracted_text == 'hi'
    assert 'MalformedHocr' in out[1].error
    assert out[1].extracted_text is None
    assert out[2].error == 'null input'
    assert len(out) == 3  # no rows dropped


def test_reassembly_order(spark):
    rows = []
    # deliberately shuffled turn order
    for turn_idx in (3, 1, 2):
        rows.append((
            'c9', turn_idx, 'user',
            '<html><head><meta name="ocr-capabilities" content="x"/></head>'
            '<body><div class="ocr_page" title="bbox 0 0 100 100">'
            f'<span class="ocr_line" title="bbox 1 1 9 9">t{turn_idx}</span>'
            '</div></body></html>', None, datetime.datetime(2025, 1, 1)))
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)
    out = pipeline.reassemble_conversations(
        pipeline.extract_turns(df)).collect()
    assert len(out) == 1
    assert out[0].conversation_text == 't1\nt2\nt3'
    assert out[0].n_turns == 3


def test_word_spans_order(spark):
    rows = [(
        'c1', 1, 'user',
        '<html><head><meta name="ocr-capabilities" content="x"/></head>'
        '<body><div class="ocr_page" title="bbox 0 0 300 100">'
        '<span class="ocr_line">'
        '<span class="ocr_word" title="bbox 10 10 90 60">aa</span> '
        '<span class="ocr_word" title="bbox 110 10 190 60">bb</span>'
        '</span></div></body></html>', None, datetime.datetime(2025, 1, 1))]
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)
    out = pipeline.word_spans(pipeline.extract_turns(df)) \
        .orderBy('word_idx').collect()
    assert [(r.word, r.x0, r.y0, r.x1, r.y1) for r in out] == [
        ('aa', 10, 40, 90, 90), ('bb', 110, 40, 190, 90)]


def test_packed_spans_match_struct_spans(spark):
    # the packed word-span mode (one delimited string per page,
    # JVM-side decode) must reproduce the FULL struct
    # path (emit_spans=True, word_spans filters to word zones)
    # byte-for-byte on the synthetic corpus
    from ocrodjvu_spark.sources import transcripts as T
    df = T.synthesize_transcripts(spark, '/root/testdata/sf0.001') \
        .limit(200)
    a = pipeline.word_spans(
        pipeline.extract_turns(df, emit_spans=True, emit_sexpr=False))
    b = pipeline.word_spans(
        pipeline.extract_turns(df, emit_spans='packed', emit_sexpr=False))
    assert a.columns == b.columns
    assert sorted(map(tuple, a.collect())) == \
        sorted(map(tuple, b.collect()))
    # the packed decode stays JVM-side: no Python stage beyond the ones
    # the struct path already has (corpus synthesizer + extract UDF)
    plan_a = a._jdf.queryExecution().executedPlan().toString()
    plan_b = b._jdf.queryExecution().executedPlan().toString()
    assert plan_b.count('ArrowEvalPython') == \
        plan_a.count('ArrowEvalPython')


def test_extraction_metrics_packed_matches_struct(spark):
    # one metric definition for both span shapes: under 'packed' the
    # run emits word spans only, so n_spans is the word count while
    # turns, errors and chars match the full struct run (a malformed
    # and a null turn ride along to exercise n_errors)
    from pyspark.sql import functions as F

    from ocrodjvu_spark.sources import transcripts as T
    docs = spark.createDataFrame(
        [(i, ' '.join(f'w{i}x{j}' for j in range(1 + i % 7)))
         for i in range(60)], 'doc_id long, text string')
    good = docs.select(
        F.concat(F.lit('c'), (F.col('doc_id') % 5).cast('string'))
         .alias('conv_id'),
        F.col('doc_id').cast('int').alias('turn_idx'),
        T.hocr_markup_col(T.tokens_col('text')).alias('text'))
    bad = spark.createDataFrame([
        ('bad', 1, '<html><body><div class="ocr_page">no bbox'
         '</div></body></html>'),
        ('bad', 2, None),
    ], 'conv_id string, turn_idx int, text string')
    df = good.unionByName(bad)
    struct = pipeline.extract_turns(df, emit_spans=True, emit_sexpr=False)
    packed = pipeline.extract_turns(df, emit_spans='packed',
                                    emit_sexpr=False)
    want = {r.conv_id: r for r in
            pipeline.extraction_metrics(struct).collect()}
    got = {r.conv_id: r for r in
           pipeline.extraction_metrics(packed).collect()}
    words = dict(pipeline.word_spans(struct).groupBy('conv_id').count()
                 .collect())
    assert got and got.keys() == want.keys()
    assert got['bad'].n_errors == 2
    for conv_id, g in got.items():
        w = want[conv_id]
        assert (g.n_turns, g.n_errors, g.n_chars) == \
            (w.n_turns, w.n_errors, w.n_chars), conv_id
        assert g.n_spans == words.get(conv_id, 0), conv_id
    assert sum(g.n_spans for g in got.values()) == \
        sum(1 + i % 7 for i in range(60))


@pytest.mark.parametrize('shape', ['spans', 'spans_packed'])
def test_run_metrics_pinned_on_hand_built_rows(spark, shape):
    # the metric definition against literal numbers, not against itself:
    # a multi-page turn counts once, an error row counts as a turn with
    # no spans or chars, and a NULL payload (and a '' packed string)
    # adds no span
    from ocrodjvu_spark.functions.extract import SPAN_FS, SPAN_RS

    def packed(n):
        return SPAN_RS.join(SPAN_FS.join(['0', '0', '1', '1', f'w{i}'])
                            for i in range(n))

    span = ('page', 'x')
    payload = {
        'spans': ([span, span], [span], [span] * 3, None, []),
        'spans_packed': (packed(2), packed(1), packed(3), None, ''),
    }[shape]
    ddl = {'spans': 'array<struct<zone_type:string,text:string>>',
           'spans_packed': 'string'}[shape]
    rows = [
        # conv_id, turn_idx, page_idx, error, extracted_text, spans
        ('a', 1, 0, None, 'ab cd', payload[0]),
        ('a', 2, 0, None, 'x', payload[1]),   # a two-page turn
        ('a', 2, 1, None, 'yz', payload[2]),
        ('a', 3, None, 'unparsable', None, None),  # an error row
        ('b', 1, 0, None, None, payload[3]),  # NULL text and spans
        ('b', 2, 0, None, '', payload[4]),    # '' text, no span
    ]
    df = spark.createDataFrame(
        rows, 'conv_id string, turn_idx int, page_idx int, error string, '
              f'extracted_text string, {shape} {ddl}')
    by_conv = {r.conv_id: tuple(r)[1:] for r in
               pipeline.extraction_metrics(df).collect()}
    # (n_turns, n_errors, n_spans, n_chars)
    assert by_conv == {'a': (3, 1, 6, 8), 'b': (2, 0, 0, 0)}
    assert tuple(df.agg(*pipeline.run_metrics(df)).first()) == (5, 1, 6, 8)


@pytest.mark.parametrize('option,value', [
    pytest.param('emit_spans', 'words', id='words'),
    pytest.param('emit_spans', 'Packed', id='Packed'),
    pytest.param('emit_spans', None, id='None'),
    pytest.param('engine', 'tesseract', id='engine-tesseract'),
    pytest.param('details', 'word', id='details-word'),
])
def test_make_extract_udf_rejects_unknown_emit_spans(option, value):
    from ocrodjvu_spark.functions.extract import make_extract_udf
    with pytest.raises(ValueError):
        make_extract_udf(**{option: value})


def test_packed_spans_null_word_text_matches_struct(spark):
    # details='chars': word zones carry their text in child char zones,
    # so the word span's own text is NULL — the packed 4-field record
    # must decode back to NULL, not '' (review finding: `text or ''`
    # silently coerced)
    from ocrodjvu_spark.sources import transcripts as T
    df = T.synthesize_transcripts(spark, '/root/testdata/sf0.001') \
        .limit(40)
    a = pipeline.word_spans(
        pipeline.extract_turns(df, details='chars',
                               emit_spans=True, emit_sexpr=False))
    b = pipeline.word_spans(
        pipeline.extract_turns(df, details='chars',
                               emit_spans='packed', emit_sexpr=False))
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b
    # and the scenario is real: chars detail produces NULL word text
    assert a.where(a.word.isNull()).count() > 0


def test_packed_spans_separator_bytes_in_word_text(spark):
    # separator bytes inside markup text: the segmenter already breaks
    # on C0 controls, so packed and struct paths agree through Spark...
    markup = (
        '<html><head><meta name="ocr-capabilities" content="x"/></head>'
        '<body><div class="ocr_page" title="bbox 0 0 300 100">'
        '<span class="ocr_line">'
        '<span class="ocr_word" title="bbox 10 10 90 60">a\x1eb\x1fc</span>'
        '</span></div></body></html>')
    rows = [('c1', 1, 'user', markup, None, datetime.datetime(2025, 1, 1))]
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)
    packed = pipeline.word_spans(
        pipeline.extract_turns(df, emit_spans='packed')).collect()
    struct = pipeline.word_spans(
        pipeline.extract_turns(df, emit_spans=True)).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, struct))
    assert [r.word for r in sorted(packed, key=lambda r: r.word_idx)] \
        == ['a', 'b', 'c']
    # ...and the belt-and-braces U+FFFD replacement guards the direct
    # serializer for any zone source that bypasses segmentation
    from ocrodjvu_spark.functions import extract as EX
    from ocrodjvu_spark.kernel.zones import Zone, ZONE_LINE, ZONE_WORD
    w = Zone(ZONE_WORD, (1, 2, 3, 4), ['a\x1eb\x1fc'])
    rec = EX.pack_word_spans(Zone(ZONE_LINE, (1, 2, 3, 4), [w]))
    assert rec.count(EX.SPAN_FS) == 4 and EX.SPAN_RS not in rec
    assert rec.endswith('a�b�c')


def test_extract_stage_has_no_shuffle(spark):
    """The extract projection must pipeline into the scan stage."""
    rows = [('c1', 1, 'user', '<html/>', None,
             datetime.datetime(2025, 1, 1))]
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_DDL)
    plan = pipeline.extract_turns(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'Exchange' not in plan


def test_synthesizer_escapes_html_specials(spark):
    # the Catalyst markup wrapper must entity-escape token text so the
    # kernel's entity decode returns the raw document text (otherwise a
    # corpus with &/< tokens silently desyncs Spark from the oracle)
    from pyspark.sql import functions as F

    from ocrodjvu_spark.sources import transcripts as T
    docs = spark.createDataFrame(
        [(0, 'a&b <tag> "quoted" x>y plain')], 'doc_id long, text string')
    df = docs.select(
        F.lit('conv-0').alias('conv_id'),
        F.lit(1).alias('turn_idx'),
        T.hocr_markup_col(T.tokens_col('text')).alias('text'))
    out = pipeline.extract_turns(
        df, emit_spans=False, emit_sexpr=False).collect()[0]
    assert out.error is None
    assert out.extracted_text == 'a&b <tag> "quoted" x>y plain'


def test_corpus_tokens_free_of_sexpr_specials():
    # the sexpr-building oracles embed raw tokens inside "..." string
    # literals; the kernel's sexpr printer escapes '"' and '\', so those
    # oracles assume the corpora carry neither. Pin that invariant here —
    # if a future testdata generation breaks it, this fails loudly
    # instead of the gate hash silently diverging.
    import duckdb
    for sf in ('/root/testdata/sf0.001', '/root/testdata/sf0.01'):
        bad = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{sf}/documents.parquet') "
            "WHERE contains(text, '\"') OR contains(text, chr(92)) "
            "OR regexp_matches(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')"
        ).fetchone()[0]
        assert bad == 0, f'{sf}: {bad} documents with sexpr-special chars'
