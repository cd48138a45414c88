"""Inverse direction: DjVu hidden-text s-expression -> hOCR markup.

Re-implements the observable semantics of the reference's djvu2hocr
converter (ocrodjvu lib/cli/djvu2hocr.py:74-291) with a different
factoring: a ``_Emitter`` drives the depth-first element build, and both
"re-segment words by hand" modes share one segmentation loop
(``_segment_words``) parameterized by how a word's title attribute is
derived (char-grid union + ``bboxes`` list vs proportional slice of the
leaf box).

Pinned behaviors, with reference citations so parity stays checkable:

* zone types map to (tag, class): page->div.ocr_page,
  column->div.ocr_carea, region->div.ocrx_block, para->p.ocr_par,
  line->span.ocrx_line, word->span.ocrx_word (lib/hocr.py:63-73);
* DjVu bottom-left y coordinates flip against the *real DjVu page
  height*, which may differ from the text layer's page bbox
  (lib/cli/djvu2hocr.py:88-94 — the upside-down golden pins this);
* a zone bottoming out in CHARACTER zones re-segments its words by hand:
  per-char boxes interpolated with float ``int(x0 + w*i/n + 0.5)``
  rounding — deliberately a different rounding rule than the forward
  path's ``//`` (lib/cli/djvu2hocr.py:146-185);
* with UAX#29 enabled, word/line text leaves are re-segmented too
  (lib/cli/djvu2hocr.py:187-209);
* word elements get a single-space tail except the last child, and any
  line-or-finer child newline-terminates its parent's tail
  (lib/cli/djvu2hocr.py:214-262);
* control characters in text become
  ``<span class="djvu_char" title="#xNN"> </span>`` placeholders
  (lib/cli/djvu2hocr.py:123-144).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from typing import List, Optional, Tuple

from .segment import word_break_iterator
from .zones import (
    BBox,
    MalformedOcrOutput,
    ZONE_BY_NAME,
    ZONE_CHARACTER,
    ZONE_LINE,
    ZONE_PAGE,
    ZONE_WORD,
)
from .hocr import djvu_zone_to_hocr


class SexprZone:
    """Read-side zone wrapper over a parsed sexpr value, with y-flip."""

    __slots__ = ('_value', '_page_height')

    def __init__(self, value: list, page_height: int):
        self._value = value
        self._page_height = page_height

    @property
    def type(self) -> int:
        return ZONE_BY_NAME[self._value[0]]

    @property
    def bbox(self) -> BBox:
        v = self._value
        return BBox(
            v[1],
            self._page_height - v[4],
            v[3],
            self._page_height - v[2],
        )

    @property
    def text(self) -> str:
        if len(self._value) != 6:
            raise TypeError(
                f'list of {len(self._value)} (!= 6) elements')
        if not isinstance(self._value[5], str):
            raise TypeError('last element is not a string')
        return self._value[5]

    @property
    def n_children(self) -> int:
        n = len(self._value) - 5
        if n <= 0:
            raise TypeError(f'list of {len(self._value)} (< 6) elements')
        return n

    @property
    def children(self):
        for child in self._value[5:]:
            if isinstance(child, list):
                yield SexprZone(child, self._page_height)
            else:
                yield self.text
                return


# characters XML 1.0 cannot carry (everything below 0x20 except \t \n \r)
_CONTROL_CHAR = re.compile('([\x00-\x08\x0b\x0c\x0e-\x1f])')


def _write_text(element: ET.Element, text: str):
    """Write text into an element, encoding each control character as a
    ``span.djvu_char`` placeholder whose title names the codepoint."""
    pieces = _CONTROL_CHAR.split(text)
    anchor = None  # safe text goes to element.text until a span exists
    for idx, piece in enumerate(pieces):
        if idx % 2:  # odd pieces are single control characters
            anchor = ET.SubElement(element, 'span', {
                'class': 'djvu_char',
                'title': '#x{0:02x}'.format(ord(piece)),
            })
            anchor.text = ' '
        elif piece:
            if anchor is None:
                element.text = (element.text or '') + piece
            else:
                anchor.tail = (anchor.tail or '') + piece


def _fmt_box(bbox) -> str:
    return ' '.join(str(c) for c in bbox)


def _slice_point(lo: int, hi: int, i: int, n: int) -> int:
    """Proportional coordinate with the inverse path's float rounding."""
    return int(lo + (hi - lo) * 1.0 * i / n + 0.5)


def _segment_words(text: str, title_of, uax29):
    """Yield ``span.ocrx_word`` elements per word-break segment.

    ``title_of(i, j)`` supplies the title attribute for text[i:j].
    Whitespace segments don't produce elements; they put a single-space
    tail on the word already emitted (if any).
    """
    prev = None
    lo = 0
    for hi in word_break_iterator(text, uax29):
        part = text[lo:hi]
        lo = hi
        if part.isspace():
            if prev is not None:
                prev.tail = ' '
            continue
        prev = ET.Element('span', {
            'class': 'ocrx_word',
            'title': title_of(hi - len(part), hi),
        })
        _write_text(prev, part)
        yield prev


def _words_from_char_grid(zones, uax29):
    """Re-segment a run of CHARACTER zones into word spans.

    Each char zone's box is sliced per character; word titles carry both
    the union box and the per-char ``bboxes`` list.
    """
    boxes: List[BBox] = []
    parts: List[str] = []
    for z in zones:
        zb = z.bbox
        ztext = z.text
        if not ztext:
            continue
        n = len(ztext)
        for i in range(n):
            boxes.append(BBox(
                _slice_point(zb.x0, zb.x1, i, n), zb.y0,
                _slice_point(zb.x0, zb.x1, i + 1, n), zb.y1))
        parts.append(ztext)

    def title_of(i, j):
        union = BBox()
        for b in boxes[i:j]:
            union.update(b)
        return 'bbox {0}; bboxes {1}'.format(
            _fmt_box(union), ', '.join(_fmt_box(b) for b in boxes[i:j]))

    return _segment_words(''.join(parts), title_of, uax29)


def _words_from_leaf_text(text: str, bbox: BBox, uax29):
    """Re-segment a plain text leaf; each word gets a proportional slice
    of the leaf's box (no per-char information exists here)."""
    n = len(text)

    def title_of(i, j):
        return 'bbox ' + _fmt_box(BBox(
            _slice_point(bbox.x0, bbox.x1, i, n), bbox.y0,
            _slice_point(bbox.x0, bbox.x1, j, n), bbox.y1))

    return _segment_words(text, title_of, uax29)


class _Emitter:
    """Depth-first sexpr-zone -> hOCR-element build.

    DjVu's own word segmentation is kept except where hOCR has no
    counterpart: (a) a zone whose children are CHARACTER zones rebuilds
    words from the char grid into its *parent* (the zone element itself
    is dropped); (b) with UAX#29 requested, word/line text leaves are
    re-segmented the same way.
    """

    def __init__(self, page_bbox: BBox, uax29):
        self.page_bbox = page_bbox
        self.uax29 = uax29

    def emit(self, zone: SexprZone, parent: Optional[ET.Element],
             last: bool) -> Optional[ET.Element]:
        kind = zone.type
        if kind <= ZONE_LINE and parent is not None:
            # any line-or-finer sibling newline-terminates what came
            # before it in the parent
            parent.tail = '\n'
        if kind == ZONE_CHARACTER:
            raise MalformedOcrOutput(
                'character zone with no owning zone to re-segment')
        tag, css = djvu_zone_to_hocr[kind]
        box = self.page_bbox if kind == ZONE_PAGE else zone.bbox
        element = ET.Element(tag, {'class': css,
                                   'title': 'bbox ' + _fmt_box(box)})
        n_children = zone.n_children

        item = None
        for n, item in enumerate(zone.children):
            if not isinstance(item, SexprZone):
                break  # a text leaf ends the child list
            if item.type == ZONE_CHARACTER:
                # char-level detail: discard this element (and any
                # children already emitted into it), rebuild words from
                # the full char grid directly under the parent
                return self._pour_words(
                    _words_from_char_grid(zone.children, self.uax29),
                    parent, kind, last)
            self.emit(item, element, last=(n == n_children - 1))

        if isinstance(item, str):
            if kind >= ZONE_WORD and self.uax29 is not None \
                    and parent is not None:
                return self._pour_words(
                    _words_from_leaf_text(item, box, self.uax29),
                    parent, kind, last)
            _write_text(element, item)
            if kind == ZONE_WORD and not last:
                element.tail = ' '
        if parent is not None:
            parent.append(element)
        return element

    @staticmethod
    def _pour_words(words, parent, kind, last):
        """Append re-segmented word spans directly to the parent; the
        original zone element is dropped (returns None). A non-final
        word zone still contributes its separating space."""
        poured = None
        for poured in words:
            parent.append(poured)
        if poured is not None and kind == ZONE_WORD and not last:
            poured.tail = ' '
        return None


def sexpr_to_hocr_page(page_value: list, page_w: int, page_h: int,
                       uax29=None) -> str:
    """One page sexpr value -> hOCR page element markup (string).

    ``page_w``/``page_h`` are the real DjVu page dimensions (the reference
    reads them from ``djvused -e size``); y coordinates flip against
    ``page_h`` and the emitted page bbox is ``0 0 page_w page_h``.
    """
    if uax29 is True:
        uax29 = 'en-US-POSIX'
    emitter = _Emitter(BBox(0, 0, page_w, page_h), uax29)
    element = emitter.emit(SexprZone(page_value, page_h), None, last=True)
    if element is None:
        return ''
    return ET.tostring(element, encoding='unicode', method='xml')


HOCR_CAPABILITIES = ' '.join(sorted(
    cls for tag, cls in djvu_zone_to_hocr.values()))

_DOC_HEADER = '''\
<?xml version="1.0" encoding="UTF-8"?>
<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN" "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">
<html xmlns="http://www.w3.org/1999/xhtml">
<head>
  <meta http-equiv="Content-Type" content="text/html; charset=UTF-8" />
  <meta name="ocr-system" content="ocrodjvu-spark" />
  <meta name="ocr-capabilities" content="{ocr_capabilities}" />
  <title>{title}</title>
</head>
<body>
'''

_DOC_FOOTER = '''
</body>
</html>
'''


def sexpr_to_hocr_document(pages: List[Tuple[list, int, int]], uax29=None,
                           title='DjVu hidden text layer') -> str:
    """Multiple (page_value, page_w, page_h) -> complete hOCR document."""
    body = ''.join(
        sexpr_to_hocr_page(value, w, h, uax29=uax29)
        for value, w, h in pages
    )
    header = _DOC_HEADER.format(
        ocr_capabilities=HOCR_CAPABILITIES,
        title=title,
    )
    return header + body + _DOC_FOOTER
