"""Golden-corpus parity: the 68 hOCR extraction goldens from the reference.

Each case runs the pure-Python extraction kernel over the reference's own
fixture and compares parsed s-expression *values* against the golden —
the same normalization the reference's harness uses (re-parse both sides;
tests/hocr2djvused/test.py:68-73 there), made stricter by comparing
structure instead of printed bytes.
"""

import pytest

from ocrodjvu_spark.kernel import hocr, sexpr

from tests.corpus import golden_cases, needs_reference_corpus, rough_cases

GOLDEN = list(golden_cases())
ROUGH = list(rough_cases())


@pytest.mark.parametrize('html5', [False, True], ids=['default', 'html5'])
@pytest.mark.parametrize(
    'case_id,html_bytes,kwargs,expected',
    GOLDEN,
    ids=[c[0] for c in GOLDEN],
)
def test_golden(case_id, html_bytes, kwargs, expected, html5):
    # the reference harness re-runs every golden with --html5
    # (tests/hocr2djvused/test.py:122-123): 68 x {default, html5} = 136
    got = hocr.extract_sexprs(html_bytes, html5=html5, **kwargs)
    expected_values = [sexpr.parse(p) for p in expected]
    assert len(got) == len(expected_values)
    for got_page, expected_page in zip(got, expected_values):
        assert got_page == expected_page


@pytest.mark.parametrize(
    'case_id,html_bytes,kwargs',
    ROUGH,
    ids=[c[0] for c in ROUGH],
)
def test_rough_no_crash(case_id, html_bytes, kwargs):
    result = hocr.extract_sexprs(html_bytes, **kwargs)
    assert result  # at least one page zone


@needs_reference_corpus
def test_golden_count():
    # the reference ships 68 golden cases; make silent corpus loss loud
    assert len(GOLDEN) == 68


