"""Alternate OCR-engine output parsers: ocrad ORF and gocr XML.

These are the reference's non-hOCR input dialects (engine adapters E3/E4
in SURVEY.md §2.8), each producing the same zone tree as the hOCR path:

* **ocrad ORF** (lib/engines/ocrad.py:46-99): line-oriented recursive
  descent over ``total text blocks N`` / ``text block n x y w h`` /
  ``lines N`` / ``line _ _ _ n _ _`` / per-char ``x y w h; n '<ch>'...``
  records; characters regroup into words via the shared ``group_words``.
* **gocr XML** (lib/engines/gocr.py:54-109): event stream over
  ``page/block/line/box/space`` elements with a depth stack; ``box``
  carries ``value`` + ``x y dx dy``; barcode/img skipped.

Both need an external page size (the reference knows it from the rendered
image) and rotate through the page-level transform like hOCR pages.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from typing import Iterator, List

from .segment import word_break_iterator
from .zones import (
    BBox,
    MalformedOcrOutput,
    TEXT_DETAILS_WORD,
    ZONE_CHARACTER,
    ZONE_LINE,
    ZONE_PAGE,
    ZONE_REGION,
    Zone,
    group_words,
)

REPLACEMENT_CHARACTER = '\N{REPLACEMENT CHARACTER}'

_character_re = re.compile(r"^[0-9]+, '('|[^']*)'[0-9]+")


class _Lines:
    def __init__(self, text: str):
        self._it = iter(text.splitlines())
        self.last = None

    def __iter__(self):
        return self

    def __next__(self):
        self.last = next(self._it)
        return self.last


def ocrad_scan(stream, details=TEXT_DETAILS_WORD, uax29=None,
               page_size=None, rotation=0) -> Zone:
    """Parse an ocrad ORF document into a page zone."""
    if isinstance(stream, str):
        stream = _Lines(stream)
    breaker = lambda t: word_break_iterator(t, uax29)  # noqa: E731

    def scan(stream):
        line = None
        for line in stream:
            if line.startswith('#'):
                continue
            if line.startswith('source '):
                continue
            if line.startswith('total text blocks '):
                [n] = line.split()[3:]
                n = int(n)
                if page_size is None:
                    raise MalformedOcrOutput('ocrad output needs page_size')
                bbox = BBox(0, 0, page_size[0], page_size[1])
                children = [c for c in (scan(stream) for _ in range(n)) if c]
                zone = Zone(ZONE_PAGE, bbox, children)
                zone.rotate(rotation)
                return zone
            if line.startswith('text block '):
                n, x, y, w, h = map(int, line.split()[2:])
                bbox = BBox(x, y, x + w, y + h)
                [children] = [scan(stream) for _ in range(n)]
                return Zone(ZONE_REGION, bbox, children)
            if line.startswith('lines '):
                [n] = line.split()[1:]
                n = int(n)
                return [c for c in (scan(stream) for _ in range(n)) if c]
            if line.startswith('line '):
                _, _, _, n, _, _ = line.split()
                n = int(n)
                children = [c for c in (scan(stream) for _ in range(n)) if c]
                if not children:
                    return None
                bbox = BBox()
                for child in children:
                    bbox.update(child.bbox)
                children = group_words(children, details, breaker)
                return Zone(ZONE_LINE, bbox, children)
            line = line.lstrip()
            if line[:1].isdigit():
                coords, line = line.split('; ', 1)
                x, y, w, h = map(int, coords.split())
                bbox = BBox(x, y, x + w, y + h)
                if line[0] == '0':
                    # no interpretations proposed for this character
                    text = REPLACEMENT_CHARACTER
                else:
                    m = _character_re.match(line)
                    if not m:
                        raise MalformedOcrOutput(
                            f'bad character description: {line!r}')
                    [text] = m.groups()
                return Zone(ZONE_CHARACTER, bbox, [text])
            raise MalformedOcrOutput(f'unexpected line: {line!r}')
        raise MalformedOcrOutput(f'unexpected line at EOF: {line!r}')

    return scan(stream)


def gocr_scan(xml_text: str, details=TEXT_DETAILS_WORD, uax29=None,
              page_size=None, rotation=0) -> Zone:
    """Parse gocr XML output into a page zone."""
    breaker = lambda t: word_break_iterator(t, uax29)  # noqa: E731
    stack: List[list] = [[], [], []]
    # iterate end events like the reference's etree.iterparse(stream)
    root = ET.fromstring(xml_text)
    for element in _end_events(root):
        tag = element.tag
        if tag in ('barcode', 'img'):
            continue
        if tag == 'page':
            if len(stack) != 1:
                raise MalformedOcrOutput('<page> at unexpected depth')
            children = stack.pop()
            if page_size is None:
                raise MalformedOcrOutput('gocr output needs page_size')
            bbox = BBox(0, 0, page_size[0], page_size[1])
            zone = Zone(ZONE_PAGE, bbox, children)
            zone.rotate(rotation)
            return zone
        elif tag == 'block':
            if len(stack) != 2:
                raise MalformedOcrOutput('<block> at unexpected depth')
            children = stack.pop()
            if len(children) == 0:
                raise MalformedOcrOutput('<block> has no children')
            bbox = BBox()
            for child in children:
                bbox.update(child.bbox)
            stack[-1].append(Zone(ZONE_REGION, bbox, children))
        elif tag == 'line':
            if len(stack) != 3:
                raise MalformedOcrOutput('<line> at unexpected depth')
            children = stack.pop()
            if len(children) == 0:
                raise MalformedOcrOutput('<line> has no children')
            bbox = BBox()
            for child in children:
                bbox.update(child.bbox)
            children = group_words(children, details, breaker)
            stack[-1].append(Zone(ZONE_LINE, bbox, children))
        elif tag in ('box', 'space'):
            if len(stack) > 3:
                raise MalformedOcrOutput(f'<{tag}> at unexpected depth')
            while len(stack) < 3:
                stack.append([])
            text = ' ' if tag == 'space' else element.get('value')
            x, y, w, h = (int(element.get(k)) for k in ('x', 'y', 'dx', 'dy'))
            bbox = BBox(x, y, x + w, y + h)
            stack[-1].append(Zone(ZONE_CHARACTER, bbox, [text]))
        else:
            raise MalformedOcrOutput(f'unexpected <{tag}>')
    raise MalformedOcrOutput('<page> not found')


def _end_events(element) -> Iterator[ET.Element]:
    """Depth-first end-tag order, like etree.iterparse end events."""
    for child in element:
        yield from _end_events(child)
    yield element
