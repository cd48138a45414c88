"""ocrad ORF and gocr XML adapter tests.

The reference ships no ORF/gocr fixtures; vectors here are built from the
format grammar its parsers implement (lib/engines/ocrad.py:48-99,
lib/engines/gocr.py:54-109) and assert full zone trees.
"""

import pytest

from ocrodjvu_spark.functions.extract import (
    ENGINES, SPAN_FS, SPAN_RS, extract_one, flatten_zone, zone_text)
from ocrodjvu_spark.kernel.engines import gocr_scan, ocrad_scan
from ocrodjvu_spark.kernel.zones import MalformedOcrOutput

ORF = """\
# Ocrad results file
source file test.pnm
total text blocks 1
text block 1 5 5 90 40
lines 2
line 1 8 2 20 10
10 10 8 10; 1, 'h'0
18 10 8 10; 1, 'i'0
line 2 25 4 40 10
10 28 8 10; 1, 'y'0
18 28 8 10; 1, 'o'0
26 28 8 10; 0
34 28 8 10; 2, 'u'0, 'v'1
"""


def test_ocrad_words():
    page = ocrad_scan(ORF, page_size=(100, 60))
    s = page.sexpr()
    assert s[0] == 'page' and s[1:5] == [0, 0, 100, 60]
    [region] = s[5:]
    assert region[0] == 'region'
    assert region[1:5] == [5, 15, 95, 55]  # y-flip: 60-45=15, 60-5=55
    lines = region[5:]
    assert [ln[0] for ln in lines] == ['line', 'line']
    # line 1: one word "hi"
    [word] = lines[0][5:]
    assert word[0] == 'word' and word[5] == 'hi'
    # line 2: unknown char becomes replacement character
    [word2] = lines[1][5:]
    assert word2[5] == 'yo\N{REPLACEMENT CHARACTER}u'


def test_ocrad_char_details():
    page = ocrad_scan(ORF, details=1, page_size=(100, 60))
    s = page.sexpr()
    [region] = s[5:]
    [word] = region[5][5:]
    chars = word[5:]
    assert [c[0] for c in chars] == ['char', 'char']
    assert [c[5] for c in chars] == ['h', 'i']


def test_ocrad_malformed():
    with pytest.raises(MalformedOcrOutput):
        ocrad_scan('garbage line\n', page_size=(10, 10))


GOCR_XML = """\
<document>
<page>
<block x="5" y="5" dx="90" dy="20">
<line>
<box x="10" y="10" dx="8" dy="10" value="h"/>
<box x="18" y="10" dx="8" dy="10" value="i"/>
<space x="26" y="10" dx="4" dy="10"/>
<box x="30" y="10" dx="8" dy="10" value="u"/>
</line>
</block>
<barcode x="0" y="0" dx="1" dy="1"/>
</page>
</document>
"""


def test_gocr_words():
    page = gocr_scan(GOCR_XML, page_size=(100, 40))
    s = page.sexpr()
    assert s[0] == 'page' and s[1:5] == [0, 0, 100, 40]
    [region] = s[5:]
    [line] = region[5:]
    words = line[5:]
    assert [w[5] for w in words] == ['hi', 'u']
    # char bboxes y-flipped against 40-high page: y0=40-20=20, y1=40-10=30
    assert words[0][1:5] == [10, 20, 26, 30]


def test_gocr_line_details():
    page = gocr_scan(GOCR_XML, details=3, page_size=(100, 40))
    [region] = page.sexpr()[5:]
    [line] = region[5:]
    assert line[5] == 'hi u'


def test_gocr_malformed_depth():
    with pytest.raises(MalformedOcrOutput):
        gocr_scan('<document><line><box x="1" y="1" dx="1" dy="1" value="x"/>'
                  '</line></document>', page_size=(10, 10))


# (engine, kernel scan, document, page size) for extract_one's engine
# branch
ENGINE_DOCS = [
    pytest.param('ocrad', ocrad_scan, ORF, (100, 60), id='ocrad'),
    pytest.param('gocr', gocr_scan, GOCR_XML, (100, 40), id='gocr'),
]


@pytest.mark.parametrize('engine', ENGINES)
def test_extract_one_null_input_is_one_error_row(engine):
    assert extract_one(None, engine=engine) == {
        'pages': None, 'dialect': None, 'error': 'null input'}


@pytest.mark.parametrize('engine,scan,doc,page_size', ENGINE_DOCS)
def test_extract_one_engine_matches_kernel_scan(engine, scan, doc,
                                                page_size):
    zone = scan(doc, page_size=page_size)
    res = extract_one(doc, engine=engine, page_size=page_size)
    assert res['error'] is None and res['dialect'] == engine
    [page] = res['pages']
    assert page['extracted_text'] == zone_text(zone)
    assert page['extracted_sexpr'] == zone.compact_sexpr()
    assert page['spans'] == flatten_zone(zone)
    # packed word spans decode to the struct word spans
    [packed] = extract_one(doc, engine=engine, page_size=page_size,
                           emit_spans='packed')['pages']
    decoded = [rec.split(SPAN_FS)
               for rec in packed['spans_packed'].split(SPAN_RS)]
    assert decoded == [
        [str(x0), str(y0), str(x1), str(y1), text]
        for kind, _, _, x0, y0, x1, y1, text in page['spans']
        if kind == 'word']


@pytest.mark.parametrize('engine,scan,doc,page_size', ENGINE_DOCS)
def test_extract_one_engine_needs_page_size(engine, scan, doc, page_size):
    res = extract_one(doc, engine=engine)
    assert res['pages'] is None and res['dialect'] == engine
    assert res['error'].startswith('MalformedOcrOutput: ')
