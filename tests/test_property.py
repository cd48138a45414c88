"""Property-based robustness: the kernels never crash unexpectedly.

* arbitrary text/markup into the extraction kernel -> either pages or a
  typed MalformedHocr/MalformedOcrOutput error, never another exception;
* sexpr print -> parse round-trips arbitrary zone trees;
* both HTML tokenizers agree on arbitrary tag-soup built from corpus
  vocabulary;
* UAX#29 boundaries are strictly increasing and end at len(text).
"""

import string

from hypothesis import given, settings, strategies as st

from ocrodjvu_spark.kernel import hocr, htmldom, sexpr
from ocrodjvu_spark.kernel.segment import (
    simple_word_break_iterator, uax29_word_break_iterator)
from ocrodjvu_spark.kernel.zones import MalformedHocr, MalformedOcrOutput

# -- extraction never raises untyped errors --------------------------------

tag_soup = st.text(
    alphabet=string.ascii_letters + string.digits + ' <>/"=\'&;#-\n\t.',
    max_size=400,
)


@given(tag_soup)
@settings(max_examples=200, deadline=None)
def test_extract_never_crashes_untyped(text):
    try:
        pages = hocr.extract_sexprs(
            '<html><body><div class="ocr_page" title="bbox 0 0 100 100">'
            + text + '</div></body></html>')
        assert isinstance(pages, list)
    except (MalformedHocr, MalformedOcrOutput):
        pass  # typed error channel


@given(st.binary(max_size=300))
@settings(max_examples=100, deadline=None)
def test_extract_arbitrary_bytes(data):
    try:
        hocr.extract_sexprs(data, fix_utf8=True, page_size=(10, 10))
    except (MalformedHocr, MalformedOcrOutput):
        pass


# -- sexpr round trip -------------------------------------------------------

leaf_text = st.text(max_size=30)
coords = st.integers(min_value=-10_000, max_value=10_000)


def zone_values(depth):
    head = st.sampled_from(['page', 'column', 'region', 'para', 'line',
                            'word', 'char'])
    if depth == 0:
        children = st.lists(leaf_text, min_size=1, max_size=3)
    else:
        children = st.lists(
            st.one_of(leaf_text, zone_values(depth - 1)),
            min_size=1, max_size=3)
    return st.tuples(head, coords, coords, coords, coords, children).map(
        lambda t: [t[0], t[1], t[2], t[3], t[4]] + t[5])


@given(zone_values(2))
@settings(max_examples=300, deadline=None)
def test_sexpr_roundtrip(value):
    printed = sexpr.print_compact(value)
    assert sexpr.parse(printed) == value
    pretty = sexpr.print_pretty(value)
    assert sexpr.parse(pretty) == value


# -- tokenizer agreement -----------------------------------------------------

fragments = st.lists(st.sampled_from([
    '<div class="ocr_page" title="bbox 0 0 9 9">', '</div>',
    '<span class="ocr_line">', '</span>',
    '<span title="bbox 1 2 3 4">', '<p>', '</p>', '<h3>', '</h3>',
    'text', ' ', '&amp;', '&#65;', '<img src=x>', '<!-- c -->',
    '<script>z</script>', '<meta name="m" content="c"/>',
]), max_size=25).map(''.join)


def _canon(e):
    if not isinstance(e.tag, str):
        return ('#c', e.text, e.tail)
    return (e.tag, dict(e.attrib), e.text, e.tail,
            tuple(_canon(c) for c in e))


@given(fragments)
@settings(max_examples=300, deadline=None)
def test_tokenizers_agree(markup):
    assert _canon(htmldom.parse_html(markup, fast=True)) == \
        _canon(htmldom.parse_html(markup, fast=False))


# -- segmentation invariants --------------------------------------------------

@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_break_offsets_monotone(text):
    for it in (simple_word_break_iterator(text),
               uax29_word_break_iterator(text)):
        offsets = list(it)
        if text:
            assert offsets[-1] == len(text)
            assert all(a < b for a, b in zip(offsets, offsets[1:]))
            assert all(0 < o <= len(text) for o in offsets)
        else:
            assert offsets == []
