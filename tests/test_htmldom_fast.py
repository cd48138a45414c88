"""Fast regex tokenizer == stdlib html.parser over the whole corpus.

Both feed the same _TreeBuilder, so recovery semantics are shared; this
pins the tokenizers to byte-identical DOMs on the in-repo hOCR pages,
every reference fixture where the corpus is present, and adversarial
fragments.
"""

import pytest

from ocrodjvu_spark.kernel import htmldom

from tests.corpus import hocr_inputs

HOCR_INPUTS = list(hocr_inputs())

ADVERSARIAL = [
    '',
    'plain text only',
    '<p>unclosed paragraph <span>x',
    '<p>a<h3>b</h3>c</p>',
    '<div title="a < b">angle in attr</div>',
    '<span title=unquoted>u</span>',
    "<meta name='single' content='quotes'>",
    '<script type="t">raw < & content</script>tail',
    '<!-- comment -->tail<div>x</div>',
    '<b>&amp;&#8216;&nbsp;</b>',
    '< notatag <div>y</div>',
    '<div/><p/>',
    '<DIV CLASS="UP">case</DIV>',
    '<div title="bbox 1 2 3 4"><img src=x></div>',
    '</stray></p><div>after stray</div>',
    '<td>cell</td>',
    "<div title=don't>x</div>",       # quote inside unquoted value
    '<div title="a > b">x</div>',     # '>' inside quoted value
    "<div title='it<>s'>y</div>",
    '<div title=bare"quote>z</div>',
    '<p a=1/>tail</p>',               # unquoted value before '/>'
    "<p a=don't/>tail</p>",           # same, via the slow path
    '<script>var a;</scripting>x</script>tail',  # CDATA non-matching end
    '<script>y</script >z',
]


def canon(e):
    if not isinstance(e.tag, str):
        return ('#comment', e.text, e.tail)
    return (e.tag, dict(e.attrib), e.text, e.tail,
            tuple(canon(c) for c in e))


@pytest.mark.parametrize('html_bytes', [b for _n, b in HOCR_INPUTS],
                         ids=[n for n, _b in HOCR_INPUTS])
def test_corpus_equivalence(html_bytes):
    text = html_bytes.decode('UTF-8', 'replace')
    assert canon(htmldom.parse_html(text, fast=True)) == \
        canon(htmldom.parse_html(text, fast=False))


@pytest.mark.parametrize('fragment', ADVERSARIAL)
def test_adversarial_equivalence(fragment):
    assert canon(htmldom.parse_html(fragment, fast=True)) == \
        canon(htmldom.parse_html(fragment, fast=False))


def test_truncated_inputs_fast_behavior():
    """Documented divergence on EOF-truncated garbage: the fast tokenizer
    behaves like libxml2 (keeps unterminated script text, drops a
    truncated tag) where html.parser drops/keeps the opposite way."""
    root = htmldom.parse_html('<script>never closed', fast=True)
    [script] = root.find('body')
    assert script.text == 'never closed'
    root = htmldom.parse_html('<div', fast=True)
    assert root.find('body') is None  # truncated tag dropped entirely
    root = htmldom.parse_html('<div att="unterminated', fast=True)
    assert root.find('body') is None


def test_gt_inside_quoted_attribute():
    """'>' inside a quoted attribute must not truncate the tag."""
    markup = ('<div class="ocr_page" title="bbox 0 0 9 9; note a > b">'
              'x</div>')
    for fast in (True, False):
        root = htmldom.parse_html(markup, fast=fast)
        [div] = list(root.find('body'))
        assert div.get('title') == 'bbox 0 0 9 9; note a > b'
        assert div.text == 'x'
    assert canon(htmldom.parse_html(markup, fast=True)) == \
        canon(htmldom.parse_html(markup, fast=False))
