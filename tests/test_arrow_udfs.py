"""The Arrow boundary of the Python UDFs: each UDF's ``.func`` builds
the same Arrow array the retired pandas route gave Spark
(``oracles.pandas_route``), whether it is called with a ``pa.Array``,
as Spark calls it, or with a ``pd.Series``, as perfbench does."""

import pandas as pd
import pyarrow as pa
import pytest

from ocrodjvu_spark.functions import emit, extract, multimodal
from ocrodjvu_spark.kernel import hocr_emit, sexpr
from ocrodjvu_spark.schema import EXTRACT_RESULT, EXTRACT_RESULT_PACKED

from tests.corpus import IN_REPO_HOCR_PAGES, ONE_PAGE_HOCR
from tests.oracles import pandas_route
from tests.test_engines import GOCR_XML, ORF

# (engine, details, page_size, batch): each batch ends with a NULL, an
# empty and a malformed row
_HOCR_BATCH = (*IN_REPO_HOCR_PAGES, None, b'',
               b'<div class="ocr_page">no bbox</div>')
BATCHES = [
    pytest.param('hocr', 'words', None, _HOCR_BATCH, id='hocr-words'),
    # word zones under chars detail carry NULL text
    pytest.param('hocr', 'chars', None, _HOCR_BATCH, id='hocr-chars'),
    pytest.param('ocrad', 'words', (100, 60),
                 (ORF, None, '', 'garbage line\n'), id='ocrad'),
    pytest.param('gocr', 'words', (100, 40),
                 (GOCR_XML, None, '', '<document><line><box x="1" y="1" '
                  'dx="1" dy="1" value="x"/></line></document>'), id='gocr'),
]


@pytest.mark.parametrize('emit_sexpr', (True, False))
@pytest.mark.parametrize('emit_spans', extract.EMIT_SPANS)
@pytest.mark.parametrize('engine,details,page_size,batch', BATCHES)
def test_extract_udf_matches_pandas_route(engine, details, page_size, batch,
                                          emit_spans, emit_sexpr):
    options = dict(details=details, page_size=page_size, engine=engine,
                   emit_spans=emit_spans, emit_sexpr=emit_sexpr)
    func = extract.make_extract_udf(**options).func
    schema = (EXTRACT_RESULT_PACKED if emit_spans == 'packed'
              else EXTRACT_RESULT)
    expected = pandas_route(
        [extract.extract_one(t, **options) for t in batch], schema)
    got = func(pa.array(batch))
    assert got.equals(expected)
    assert func(pd.Series(batch)).equals(got)


def test_emit_udf_matches_pandas_route():
    [page] = extract.extract_one(ONE_PAGE_HOCR)['pages']
    valid = page['extracted_sexpr']
    sexprs = [valid, None, '(page 0 0']
    widths, heights = [2488] * 3, [3507] * 3
    func = emit.make_emit_hocr_udf().func
    with pytest.raises(sexpr.ExpressionSyntaxError) as bad:
        sexpr.parse(sexprs[2])
    expected = pandas_route([
        {'hocr': hocr_emit.sexpr_to_hocr_document(
            [(sexpr.parse(valid), 2488, 3507)]), 'error': None},
        {'hocr': None, 'error': 'null input'},
        {'hocr': None, 'error': f'ExpressionSyntaxError: {bad.value}'},
    ], emit.EMIT_RESULT)
    got = func(pa.array(sexprs), pa.array(widths, pa.int32()),
               pa.array(heights, pa.int32()))
    assert got.equals(expected)
    assert func(pd.Series(sexprs), pd.Series(widths),
                pd.Series(heights)).equals(got)


def test_emit_udf_null_page_size_is_an_error_row():
    # an emit_spans=False extraction has no page span to size the page
    [page] = extract.extract_one(ONE_PAGE_HOCR)['pages']
    got = emit.make_emit_hocr_udf().func(
        pa.array([page['extracted_sexpr']]), pa.array([None], pa.int32()),
        pa.array([3507], pa.int32())).to_pylist()
    assert got[0]['hocr'] is None
    assert got[0]['error'].startswith('TypeError: ')


def test_frame_byte_sum_is_exact_and_keeps_null():
    frames = [b'\x01\x02\xff', None, b'']
    got = multimodal.frame_byte_sum.func(pa.array(frames, pa.binary()))
    assert got.equals(pa.array([258, None, 0], pa.int64()))
