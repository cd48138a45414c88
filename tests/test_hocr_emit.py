"""Inverse-direction tests: sexpr -> hOCR (djvu2hocr semantics).

1. Structural parity with the reference's 4 djvu2hocr goldens
   (nesting, upside-down, non-xml-characters x2). The goldens were
   produced via ``xmllint --format``, so we compare parsed trees with
   whitespace-only text nodes dropped — the same information content,
   independent of pretty-printing.
2. Round-trip fixed point: forward-extracted page sexprs -> hOCR ->
   forward extraction again must reproduce the same sexpr (text-layer
   round-trip per the north star).
"""

import os

import pytest

from ocrodjvu_spark.kernel import hocr, hocr_emit, htmldom, sexpr

from tests.corpus import (
    DJVU2HOCR_DIR, REFERENCE_PRESENT, TESSERACT_MAKEBOX_HOCR, golden_cases,
    needs_reference_corpus)

EMPTY_DJVU_SIZE = (1000, 1000)  # tests/data/empty.djvu page size


def load_djvused_pages(path):
    """Parse ``select N / set-txt / (sexpr) / .`` blocks."""
    pages, cur, in_sexpr = [], [], False
    for line in open(path, encoding='UTF-8').read().split('\n'):
        if line.startswith('set-txt'):
            in_sexpr, cur = True, []
        elif line == '.' and in_sexpr:
            pages.append(sexpr.parse('\n'.join(cur)))
            in_sexpr = False
        elif in_sexpr:
            cur.append(line)
    return pages


def canonical(elem):
    """(tag, class, title, collapsed-text, children) ignoring pure-ws."""
    if not isinstance(elem.tag, str):
        return None
    text = (elem.text or '')
    out_children = []
    for child in elem:
        c = canonical(child)
        if c is not None:
            out_children.append(c)
        text += child.tail or ''
    text = ' '.join(text.split())
    return (elem.tag, elem.get('class'), elem.get('title'), text,
            tuple(out_children))


def body_canonical(markup: str):
    root = htmldom.parse_html(markup)
    body = root.find('body')
    return tuple(
        canonical(c) for c in body if isinstance(c.tag, str))


@needs_reference_corpus
@pytest.mark.parametrize('name,uax29', [
    ('nesting', None),
    ('upside-down', None),
    ('non-xml-characters', None),
    ('non-xml-characters', True),
])
def test_djvu2hocr_golden(name, uax29):
    djvused = os.path.join(DJVU2HOCR_DIR, f'{name}.djvused')
    test_idx = 2 if uax29 else 1
    golden = os.path.join(DJVU2HOCR_DIR, f'{name}.test{test_idx}')
    pages = load_djvused_pages(djvused)
    w, h = EMPTY_DJVU_SIZE
    got = hocr_emit.sexpr_to_hocr_document(
        [(p, w, h) for p in pages], uax29=uax29)
    expected_raw = open(golden, encoding='UTF-8').read()
    # golden first line is the CLI arg comment ('#' or '# --word-seg...')
    _, _, expected = expected_raw.partition('\n')
    assert body_canonical(got) == body_canonical(expected)


def _roundtrippable_goldens():
    for case_id, html_bytes, kwargs, expected_pages in golden_cases():
        if kwargs.get('page_size') is not None:
            continue
        if kwargs.get('uax29'):
            continue
        if kwargs['details'] == 1:
            continue  # char detail emits via break_chars, not a fixed point
        yield case_id, html_bytes, kwargs


ROUNDTRIP = list(_roundtrippable_goldens())


@pytest.mark.parametrize(
    'case_id,html_bytes,kwargs', ROUNDTRIP,
    ids=[c[0] for c in ROUNDTRIP])
def test_roundtrip_fixed_point(case_id, html_bytes, kwargs):
    """extract -> emit hOCR -> extract again reproduces the same sexprs."""
    pages = hocr.extract_sexprs(html_bytes, **kwargs)
    doc = hocr_emit.sexpr_to_hocr_document(
        [(p, p[3], p[4]) for p in pages])
    again = hocr.extract_sexprs(
        doc.encode('UTF-8'), details=kwargs['details'])
    assert again == pages


def test_charboxes_roundtrip_words():
    """char-detail sexpr -> hOCR via break_chars -> word-detail extract."""
    cases = [(TESSERACT_MAKEBOX_HOCR,
              dict(details=hocr.DETAILS_BY_NAME['chars']))]
    if REFERENCE_PRESENT:
        case_id, html_bytes, kwargs, expected_pages = next(
            c for c in golden_cases()
            if c[0] == 'alice_tesseract3.00+charboxes.test4')
        cases.append((html_bytes, kwargs))

    # word texts survive the char-level round trip in order
    def word_texts(v):
        if isinstance(v, list):
            if v[0] == 'word' and isinstance(v[5], str):
                yield v[5]
            for c in v[5:]:
                yield from word_texts(c)
    for html_bytes, kwargs in cases:
        pages = hocr.extract_sexprs(html_bytes, **kwargs)  # chars detail
        doc = hocr_emit.sexpr_to_hocr_document(
            [(p, p[3], p[4]) for p in pages])
        words = hocr.extract_sexprs(doc.encode('UTF-8'), details=2)
        orig = hocr.extract_sexprs(html_bytes, details=2)
        assert [w for p in words for w in word_texts(p)] == \
            [w for p in orig for w in word_texts(p)]


def test_non_xml_char_placeholder():
    page = ['page', 0, 0, 100, 100, 'eggs\x07spam']
    markup = hocr_emit.sexpr_to_hocr_page(page, 1000, 1000)
    assert 'class="djvu_char"' in markup
    assert 'title="#x07"' in markup
    assert 'eggs' in markup and 'spam' in markup


def test_upside_down_y_flip():
    page = ['page', 0, 0, 100, 200,
            ['region', 0, 100, 100, 200, 'eggs'],
            ['region', 0, 0, 100, 100, 'spam']]
    markup = hocr_emit.sexpr_to_hocr_page(page, 1000, 1000)
    assert 'bbox 0 800 100 900' in markup  # eggs region
    assert 'bbox 0 900 100 1000' in markup  # spam region
    assert 'bbox 0 0 1000 1000' in markup  # page uses real size
