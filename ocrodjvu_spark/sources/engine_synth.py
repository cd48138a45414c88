"""Deterministic engine-dialect payload synthesizers (Catalyst-only).

Like the hOCR transcripts synthesizer, these wrap ``documents`` text into
alternate engine formats so the dialect parsers can be verified
end-to-end against SQL oracles:

* ocrad ORF / gocr XML (kernel/engines.py): char i of the line sits at
  ``x = 10 + 10*i, y = 10, w = 8, h = 10`` on a 1000x100 page;
* the three hOCR engine dialects (kernel/hocr.py quirk paths): a shared
  char grid on a 5000x1000 page — char at global line offset g (spaces
  counted) occupies hOCR box ``(10+10g, 20, 18+10g, 40)``, i.e. DjVu
  ``(10+10g, 960, 18+10g, 980)`` after the y-flip:
  - Cuneiform <= 0.8: no hOCR classes; body/p/bare-span markup, one span
    per character (reference sample tests/hocr2djvused/
    alice_cuneiform0.8.html; classification lib/hocr.py:57-61);
  - Cuneiform >= 0.9 ("openocr"): line charboxes hidden in an empty
    ``span.ocr_cinfo`` child's ``x_bboxes`` title, whitespace boxed as
    ``-1 -1 -1 -1`` sentinels (lib/hocr.py:317-322);
  - Tesseract + makebox: hOCR word spans plus an appended
    ``script[type=application/x-ocrodjvu-tesseract]`` carrying per-char
    DjVu-frame boxes, zipped positionally against the text
    (lib/hocr.py:404-416, injection lib/engines/tesseract.py:43-50).

Only the first MAX_TOKENS tokens are wrapped (bounded payload size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .transcripts import _html_escape, load_table, tokens_col

PAGE_W = 1000
PAGE_H = 100
CHAR_X0 = 10
CHAR_PITCH = 10
CHAR_W = 8
CHAR_Y = 10
CHAR_H = 10
MAX_TOKENS = 5


def line_text_col() -> Column:
    return F.array_join(F.slice(tokens_col('text'), 1, MAX_TOKENS), ' ')


def _char_records_orf(line_text: Column) -> Column:
    chars = F.split(line_text, '')
    recs = F.transform(
        chars,
        lambda c, i: F.concat(
            (F.lit(CHAR_X0) + i * CHAR_PITCH).cast('string'),
            F.lit(f' {CHAR_Y} {CHAR_W} {CHAR_H}; 1, \''), c, F.lit('\'0'),
        ),
    )
    return F.array_join(recs, '\n')


def synthesize_orf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    line = line_text_col()
    orf = F.concat(
        F.lit('total text blocks 1\n'
              f'text block 1 0 0 {PAGE_W} {PAGE_H}\n'
              'lines 1\n'
              'line 1 8 '),
        F.length(line).cast('string'),
        F.lit(f' {PAGE_W} {PAGE_H}\n'),
        _char_records_orf(line),
        F.lit('\n'),
    )
    return docs.select('doc_id', orf.alias('text'))


def _char_records_gocr(line_text: Column) -> Column:
    chars = F.split(line_text, '')
    recs = F.transform(
        chars,
        lambda c, i: F.when(
            c == ' ',
            F.concat(
                F.lit('<space x="'),
                (F.lit(CHAR_X0) + i * CHAR_PITCH).cast('string'),
                F.lit(f'" y="{CHAR_Y}" dx="{CHAR_W}" dy="{CHAR_H}"/>'),
            ),
        ).otherwise(
            F.concat(
                F.lit('<box x="'),
                (F.lit(CHAR_X0) + i * CHAR_PITCH).cast('string'),
                F.lit(f'" y="{CHAR_Y}" dx="{CHAR_W}" dy="{CHAR_H}" value="'),
                c, F.lit('"/>'),
            ),
        ),
    )
    return F.array_join(recs, '')


def synthesize_gocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    line = line_text_col()
    xml = F.concat(
        F.lit('<document><page><block x="0" y="0" '
              f'dx="{PAGE_W}" dy="{PAGE_H}"><line>'),
        _char_records_gocr(line),
        F.lit('</line></block></page></document>'),
    )
    return docs.select('doc_id', xml.alias('text'))


# DuckDB oracle fragment: word spans implied by the char layout.
# Word k (1-based, over the first MAX_TOKENS tokens): chars occupy global
# offsets [s_k, e_k) where s_k = (sum of previous token lengths) + (k-1);
# x0 = 10 + 10*s_k, x1 = 18 + 10*(e_k - 1); y flips against PAGE_H:
# y0 = 100 - 20 = 80, y1 = 100 - 10 = 90.
SQL_ENGINE_WORDS = f'''
WITH tok AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\\s+')[1:{MAX_TOKENS}] AS toks
    FROM documents
),
w AS (
    SELECT doc_id, t.tok AS word,
           CAST(t.i - 1 AS INTEGER) AS word_idx,
           CAST(sum(length(t.tok))
                OVER (PARTITION BY doc_id ORDER BY t.i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT) AS prev_chars
    FROM tok,
         LATERAL (
            SELECT UNNEST(toks) AS tok,
                   generate_subscripts(toks, 1) AS i
         ) AS t
),
spans AS (
    SELECT doc_id, word_idx, word,
           COALESCE(prev_chars, 0) + word_idx AS s_k,
           COALESCE(prev_chars, 0) + word_idx + length(word) AS e_k
    FROM w
)
SELECT doc_id, word_idx, word,
       CAST({CHAR_X0} + {CHAR_PITCH} * s_k AS INTEGER) AS x0,
       CAST({PAGE_H - CHAR_Y - CHAR_H} AS INTEGER) AS y0,
       CAST({CHAR_X0 + CHAR_W} + {CHAR_PITCH} * (e_k - 1) AS INTEGER) AS x1,
       CAST({PAGE_H - CHAR_Y} AS INTEGER) AS y1
FROM spans
'''


# --------------------------------------------------------------------------
# hOCR engine dialects over a shared char grid (5000x1000 page)
# --------------------------------------------------------------------------

GRID_PAGE_W = 5000
GRID_PAGE_H = 1000
GRID_X0 = 10
GRID_PITCH = 10
GRID_CHAR_W = 8
GRID_Y0 = 20  # hOCR top-left frame; DjVu y = 1000 - {40,20} = 960..980
GRID_Y1 = 40


def _grid_x0(i: Column) -> Column:
    return (F.lit(GRID_X0) + i * GRID_PITCH).cast('string')


def _grid_x1(i: Column) -> Column:
    return (F.lit(GRID_X0 + GRID_CHAR_W) + i * GRID_PITCH).cast('string')


def synthesize_cuneiform08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuneiform <= 0.8 markup: no metas, body/p/bare char spans.

    Exercises: missing-meta dialect sniffing, bare-tag classification,
    the external page_size fallback (the page has no bbox), and the
    char-run -> word regrouping (T4/A3) at paragraph level.
    """
    docs = load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    line = line_text_col()
    chars = F.split(line, '')
    spans = F.transform(
        chars,
        lambda c, i: F.when(c == ' ', F.lit(' ')).otherwise(F.concat(
            F.lit('<span title="bbox '), _grid_x0(i),
            F.lit(f' {GRID_Y0} '), _grid_x1(i), F.lit(f' {GRID_Y1}">'),
            _html_escape(c), F.lit('</span>'))),
    )
    markup = F.concat(
        F.lit('<html><head><title></title></head><body><p>'),
        F.array_join(spans, ''),
        F.lit('</p></body></html>'),
    )
    return docs.select('doc_id', markup.alias('text'))


def synthesize_cuneiform09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuneiform >= 0.9 ("openocr") markup with hidden x_bboxes charboxes.

    Exercises: openocr dialect sniffing, the bare-<p> paragraph fallback,
    the ocr_cinfo title stash, the x_bboxes substring match, and the
    (-1,-1,-1,-1) whitespace sentinels.
    """
    docs = load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    line = line_text_col()
    # pad one boxed trailing space: the kernel rstrips it, leaving one
    # surplus x_bboxes cell — the Cuneiform >= 0.9 whitespace-surplus
    # reconciliation rule (lib/hocr.py:147-149) must absorb it
    chars = F.split(F.concat(line, F.lit(' ')), '')
    cells = F.transform(
        chars,
        lambda c, i: F.when(c == ' ', F.lit('-1 -1 -1 -1')).otherwise(
            F.concat(_grid_x0(i), F.lit(f' {GRID_Y0} '), _grid_x1(i),
                     F.lit(f' {GRID_Y1}'))),
    )
    line_x1 = _grid_x1(F.length(line) - 1)
    markup = F.concat(
        F.lit('<html><head>'
              "<meta name='ocr-system' content='openocr'>"
              '</head><body>'
              f'<div class="ocr_page" title="bbox 0 0 {GRID_PAGE_W} '
              f'{GRID_PAGE_H}">'
              f'<p><span class="ocr_line" title="bbox {GRID_X0} {GRID_Y0} '),
        line_x1, F.lit(f' {GRID_Y1}">'), _html_escape(line), F.lit(' '),
        F.lit('<span class="ocr_cinfo" title="x_bboxes '),
        F.array_join(cells, ' '),
        F.lit('"></span></span></p></div></body></html>'),
    )
    return docs.select('doc_id', markup.alias('text'))


def synthesize_ocropus_surplus(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Generic-hOCR line with an inline ``bboxes`` list and one spare box.

    Emulates OCRopus's hyphen-surplus output shape: the reconciliation
    rule keys on exactly one surplus box for a non-Cuneiform dialect on
    a line without an embedded newline (lib/hocr.py:150-152) — the spare
    box must be silently dropped.
    """
    docs = load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    line = line_text_col()
    chars = F.split(line, '')
    cells = F.transform(
        chars,
        lambda c, i: F.concat(_grid_x0(i), F.lit(f' {GRID_Y0} '),
                              _grid_x1(i), F.lit(f' {GRID_Y1}')))
    line_x1 = _grid_x1(F.length(line) - 1)
    markup = F.concat(
        F.lit('<html><head>'
              "<meta name='ocr-system' content='OCRopus 0.3.1'>"
              '</head><body>'
              f'<div class="ocr_page" title="bbox 0 0 {GRID_PAGE_W} '
              f'{GRID_PAGE_H}">'
              f'<span class="ocr_line" title="bbox {GRID_X0} {GRID_Y0} '),
        line_x1, F.lit(f' {GRID_Y1}; bboxes '),
        F.array_join(cells, ', '),
        F.lit(', 0 0 5 5">'),  # the spare box
        _html_escape(line),
        F.lit('</span></div></body></html>'),
    )
    return docs.select('doc_id', markup.alias('text'))


def synthesize_tesseract_makebox(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Tesseract hOCR + makebox charbox script (DjVu-frame, y-flipped).

    Exercises: tesseract dialect sniffing, the makebox sidecar harvest,
    the stateful per-word charbox zip with character verification (J1),
    and the upside-down y-mirror (T7).
    """
    docs = load_table(spark, sf_dir, 'documents').select('doc_id', 'text')
    toks = F.slice(tokens_col('text'), 1, MAX_TOKENS)
    line = F.array_join(toks, ' ')
    # word spans need each token's global char offset: fold once
    word_spans = F.aggregate(
        toks,
        F.struct(F.lit(0).alias('g'), F.lit('').alias('out')),
        lambda acc, t: F.struct(
            (acc.g + F.length(t) + 1).alias('g'),
            F.concat(
                acc.out,
                F.when(acc.g > 0, F.lit(' ')).otherwise(F.lit('')),
                F.lit('<span class="ocr_word" title="bbox '),
                _grid_x0(acc.g), F.lit(f' {GRID_Y0} '),
                _grid_x1(acc.g + F.length(t) - 1), F.lit(f' {GRID_Y1}">'),
                _html_escape(t), F.lit('</span>'),
            ).alias('out')),
        lambda acc: acc.out,
    )
    # makebox cells: one line per non-space char, DjVu bottom-left frame
    cells = F.array_join(F.filter(
        F.transform(
            F.split(line, ''),
            lambda c, i: F.when(c != ' ', F.concat(
                c, F.lit(' '), _grid_x0(i),
                F.lit(f' {GRID_PAGE_H - GRID_Y1} '), _grid_x1(i),
                F.lit(f' {GRID_PAGE_H - GRID_Y0} 0')))),
        lambda r: r.isNotNull()), '\n')
    line_x1 = _grid_x1(F.length(line) - 1)
    markup = F.concat(
        F.lit('<html><head>'
              "<meta name='ocr-system' content='tesseract 3.00'>"
              '</head><body>'
              f'<div class="ocr_page" title="bbox 0 0 {GRID_PAGE_W} '
              f'{GRID_PAGE_H}">'
              f'<span class="ocr_line" title="bbox {GRID_X0} {GRID_Y0} '),
        line_x1, F.lit(f' {GRID_Y1}">'),
        word_spans,
        F.lit('</span></div>'
              "<script type='application/x-ocrodjvu-tesseract'>"),
        cells,
        F.lit('</script></body></html>'),
    )
    return docs.select('doc_id', markup.alias('text'))


# --- matching DuckDB oracle fragments (grid geometry) ----------------------

#: capped tokens with each word's global char offsets on the grid line
SQL_GRID_SPANS = f'''
tok AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\\s+')[1:{MAX_TOKENS}] AS toks
    FROM documents
),
w AS (
    SELECT doc_id, t.tok AS word, CAST(t.i AS INTEGER) AS word_no,
           CAST(coalesce(sum(length(t.tok)) OVER (
                PARTITION BY doc_id ORDER BY t.i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t.i - 1 AS BIGINT) AS s_k
    FROM tok,
         LATERAL (
            SELECT UNNEST(toks) AS tok,
                   generate_subscripts(toks, 1) AS i
         ) AS t
),
spans AS (
    SELECT doc_id, word_no, word, s_k, s_k + length(word) AS e_k,
           {GRID_X0} + {GRID_PITCH} * s_k AS wx0,
           {GRID_X0 + GRID_CHAR_W} + {GRID_PITCH} * (s_k + length(word) - 1)
               AS wx1
    FROM w
)
'''

GRID_DJVU_Y0 = GRID_PAGE_H - GRID_Y1  # 960
GRID_DJVU_Y1 = GRID_PAGE_H - GRID_Y0  # 980

#: '(word wx0 960 wx1 980 "tok")' list + the line/para union box
SQL_GRID_WORD_LIST = f'''
line_agg AS (
    SELECT doc_id,
           string_agg('(word ' || CAST(wx0 AS VARCHAR) || ' {GRID_DJVU_Y0} '
                      || CAST(wx1 AS VARCHAR) || ' {GRID_DJVU_Y1} "'
                      || word || '")', ' ' ORDER BY word_no) AS words,
           min(wx0) AS ux0, max(wx1) AS ux1
    FROM spans GROUP BY doc_id
)
'''
