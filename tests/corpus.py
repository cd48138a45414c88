"""Shared access to the reference golden corpus (read-only fixtures).

The reference's own test corpus at /root/reference/tests/ is the oracle:
20 hOCR fixture files with 68 ``.testN`` golden djvused outputs
(tests/hocr2djvused/test.py:75-131 in the reference describes the
harness semantics we mirror: first line = CLI args, rest = expected
djvused script, compared after s-expression normalization), plus 4
djvu2hocr goldens.

The corpus is not part of this repository. Where it is absent:

* the tests marked ``needs_reference_corpus`` compare against (or count)
  its goldens and are skipped with a reason that says so;
* the parametrized golden sweeps (``test_golden``,
  ``test_roundtrip_fixed_point``) collect no cases;
* the round-trip and serialization tests whose subject does not depend
  on the corpus run on the in-repo inputs below (``ONE_PAGE_HOCR``,
  ``EMPTY_PAGE_HOCR``, ``TESSERACT_MAKEBOX_HOCR``, ``NESTING_DJVUSED``).
  Where the corpus is present they run on its files as well. So do the
  sweeps that need no golden output (``rough_cases`` and the tokenizer
  equivalence sweep over ``hocr_inputs``).
"""

from __future__ import annotations

import glob
import os
import shlex

import pytest

from ocrodjvu_spark.kernel import hocr

HOCR2DJVUSED_DIR = '/root/reference/tests/hocr2djvused'
DJVU2HOCR_DIR = '/root/reference/tests/djvu2hocr'
REFERENCE_TESTS_DIR = os.path.dirname(HOCR2DJVUSED_DIR)
REFERENCE_PRESENT = os.path.isdir(REFERENCE_TESTS_DIR)

needs_reference_corpus = pytest.mark.skipif(
    not REFERENCE_PRESENT,
    reason=f'reference corpus {REFERENCE_TESTS_DIR} is absent: its 68 '
           'hocr2djvused and 4 djvu2hocr golden outputs are not run')

# --- in-repo inputs (used whether or not the corpus is present) -----------

_TESSERACT_HEAD = (b"<html><head><meta name='ocr-system' "
                   b"content='tesseract 3.00'></head><body>")

#: one tesseract page on a 2488x3507 sheet; its second line holds a word
#: with a zero-width box, one with an inverted box and one with a
#: zero-height box
ONE_PAGE_HOCR = _TESSERACT_HEAD + b'''\
<div class="ocr_page" title="bbox 0 0 2488 3507">
<p class="ocr_par" title="bbox 470 582 1995 700">
<span class="ocr_line" title="bbox 470 582 1995 633">\
<span class="ocr_word" title="bbox 470 582 602 622">Down</span> \
<span class="ocr_word" title="bbox 624 582 700 622">the</span> \
<span class="ocr_word" title="bbox 722 582 1995 633">Rabbit-Hole</span>\
</span>
<span class="ocr_line" title="bbox 470 650 900 700">\
<span class="ocr_word" title="bbox 470 650 470 700">I</span> \
<span class="ocr_word" title="bbox 600 700 500 650">was</span> \
<span class="ocr_word" title="bbox 620 675 900 675">here</span>\
</span>
</p>
</div></body></html>'''

#: a page with no text: extracts to ``(page 0 0 2488 3507 "")``
EMPTY_PAGE_HOCR = _TESSERACT_HEAD + (
    b'<div class="ocr_page" title="bbox 0 0 2488 3507"></div></body></html>')


def _tesseract_makebox_page(text: str) -> bytes:
    """Tesseract hOCR + makebox sidecar in the char-grid layout of
    ``sources/engine_synth.synthesize_tesseract_makebox``: on a 5000x1000
    page the char at offset g has hOCR box (10+10g, 20, 18+10g, 40) and
    makebox cell (10+10g, 960, 18+10g, 980), the DjVu bottom-left frame.
    """
    spans, start = [], 0
    for word in text.split(' '):
        end = start + len(word) - 1
        spans.append(f'<span class="ocr_word" title="bbox {10 + 10 * start} '
                     f'20 {18 + 10 * end} 40">{word}</span>')
        start = end + 2
    cells = '\n'.join(f'{c} {10 + 10 * g} 960 {18 + 10 * g} 980 0'
                      for g, c in enumerate(text) if c != ' ')
    return _TESSERACT_HEAD + (
        '<div class="ocr_page" title="bbox 0 0 5000 1000">'
        f'<span class="ocr_line" title="bbox 10 20 '
        f'{18 + 10 * (len(text) - 1)} 40">'
        + ' '.join(spans) + '</span></div>'
        "<script type='application/x-ocrodjvu-tesseract'>" + cells
        + '</script></body></html>').encode('UTF-8')


TESSERACT_MAKEBOX_HOCR = _tesseract_makebox_page('eggs spam ham')

IN_REPO_HOCR_PAGES = (ONE_PAGE_HOCR, EMPTY_PAGE_HOCR, TESSERACT_MAKEBOX_HOCR)

#: FIXTURES.md section 5 "nesting": all six zone levels on a 100x100 page,
#: each box strictly inside its parent and off-centre in y, so a missed
#: y-flip shows
NESTING_DJVUSED = '''\
select 1
set-txt
(page 0 0 100 100
  (column 5 5 95 85
    (region 10 10 90 75
      (para 15 15 85 65 (line 20 20 80 40 (word 25 25 45 35 "eggs"))))))
.
'''


def parse_cli_args(arg_line: str) -> dict:
    """Translate a golden file's ``# --details=...`` header to kwargs."""
    args = shlex.split(arg_line)
    assert args and args[0] == '#', arg_line
    kw = dict(details=hocr.DETAILS_BY_NAME['words'], uax29=None,
              page_size=None)
    for a in args[1:]:
        if a.startswith('--details='):
            kw['details'] = hocr.DETAILS_BY_NAME[a.split('=', 1)[1]]
        elif a.startswith('--word-segmentation='):
            kw['uax29'] = True if a.split('=', 1)[1] == 'uax29' else None
        elif a.startswith('--page-size='):
            w, h = a.split('=', 1)[1].split('x')
            kw['page_size'] = (int(w), int(h))
        elif a.startswith('--rotation='):
            kw['rotation'] = int(a.split('=', 1)[1])
        elif a == '--html5':
            kw['html5'] = True
        else:
            raise ValueError(f'unknown golden arg: {a}')
    return kw


def golden_page_sexprs(expected_script: str) -> list:
    """Split a djvused script into its per-page sexpr text blocks."""
    pages, cur, in_sexpr = [], [], False
    for line in expected_script.split('\n'):
        if line.startswith('set-txt'):
            in_sexpr, cur = True, []
        elif line == '.' and in_sexpr:
            pages.append('\n'.join(cur))
            in_sexpr = False
        elif in_sexpr:
            cur.append(line)
    return pages


def golden_cases():
    """Yield (case_id, html_bytes, kwargs, [expected_sexpr_text...])."""
    for test_file in sorted(
            glob.glob(os.path.join(HOCR2DJVUSED_DIR, '*.test[0-9]'))):
        base = test_file[:-6]
        with open(test_file, 'rb') as f:
            raw = f.read().decode('UTF-8')
        arg_line, _, expected = raw.partition('\n')
        with open(base + '.html', 'rb') as f:
            html_bytes = f.read()
        yield (
            os.path.basename(test_file),
            html_bytes,
            parse_cli_args(arg_line),
            golden_page_sexprs(expected),
        )


def hocr_inputs():
    """Yield (name, html_bytes) of the in-repo hOCR pages, then of every
    reference fixture (named by its file name) where the corpus is
    present."""
    yield from zip(('one_page', 'empty_page', 'tesseract_makebox'),
                   IN_REPO_HOCR_PAGES)
    for html_file in sorted(
            glob.glob(os.path.join(HOCR2DJVUSED_DIR, '*.html'))):
        with open(html_file, 'rb') as f:
            yield os.path.basename(html_file), f.read()


def rough_cases():
    """Yield (case_id, html_bytes, kwargs) for the inputs without
    goldens, under five configs each."""
    known = {
        os.path.basename(t)[:-6] + '.html'
        for t in glob.glob(os.path.join(HOCR2DJVUSED_DIR, '*.test[0-9]'))
    }
    configs = [dict(details=hocr.DETAILS_BY_NAME['lines'])] + [
        dict(details=hocr.DETAILS_BY_NAME[d], uax29=(True if u else None))
        for d in ('words', 'chars') for u in (0, 1)
    ]
    for name, html_bytes in hocr_inputs():
        if name in known:
            continue
        base = name[:-5] if name.endswith('.html') else name
        for i, cfg in enumerate(configs):
            kw = dict(cfg)
            if base.endswith(('cuneiform0.7', 'cuneiform0.8')):
                kw['page_size'] = (1000, 1000)
            yield (f'{base}-cfg{i}', html_bytes, kw)
