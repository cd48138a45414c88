"""hOCR -> zone-tree extraction kernel.

Re-implements the observable semantics of the reference's extraction core
(ocrodjvu lib/hocr.py:96-472) with a different factoring: a dialect-aware
``_Scanner`` drives one DOM traversal per document, a ``_Mix`` summary
classifies each element's assembled content, and leaf text is reshaped
into word/character zones by a small pipeline of pure helpers
(tail-strip -> detail early-out -> box harvest -> count reconciliation ->
word/char burst). Pure Python, stdlib-only, deterministic — designed to
run inside Arrow-batched UDFs.

Behaviors pinned by the golden corpus (tests/), with reference citations
so parity stays checkable:

* zone classes: ocr_page/ocr_column/ocr_carea/ocr_par/ocr_line/ocr_word/
  ocrx_block/ocrx_line/ocrx_word (lib/hocr.py:45-55); Cuneiform <= 0.8 maps
  bare body/p/span -> page/para/char (lib/hocr.py:57-61).
* ``title="bbox x0 y0 x1 y1"`` and ``bboxes ...`` parsing by substring
  regex search — deliberately matching ``x_bboxes`` too (lib/hocr.py:75-89).
* Tesseract strips only a trailing ``\\n\\s+``; other engines full rstrip
  (lib/hocr.py:91-111).
* box-count vs text-length reconciliation: exact, Cuneiform >= 0.9 extra
  whitespace boxes, OCRopus hyphen extra box (lib/hocr.py:144-154).
* single-string zones are demoted to CHARACTER for later regrouping
  (lib/hocr.py:304-308); char runs regroup into words via ``group_words``.
* page without bbox needs an external page size; page bbox must start at
  (0, 0) (lib/hocr.py:241-253).
* OCRopus 0.2 zones with no bbox and no element children are dropped
  silently (lib/hocr.py:356-367).
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from . import htmldom
from .segment import word_break_iterator
from .utils import sanitize_utf8
from .zones import (
    BBox,
    MalformedHocr,
    MalformedOcrOutput,
    TEXT_DETAILS_CHARACTER,
    TEXT_DETAILS_LINE,
    TEXT_DETAILS_WORD,
    ZONE_CHARACTER,
    ZONE_LINE,
    ZONE_PAGE,
    ZONE_PARAGRAPH,
    ZONE_WORD,
    ZONE_COLUMN,
    ZONE_REGION,
    Zone,
    group_words,
)

# --------------------------------------------------------------------------
# format vocabulary
# --------------------------------------------------------------------------

#: hOCR ``class`` attribute -> zone kind (the hOCR spec's element
#: vocabulary; same mapping as lib/hocr.py:45-55).
_CLASS_KIND = {
    'ocr_page': ZONE_PAGE,
    'ocr_column': ZONE_COLUMN,
    'ocr_carea': ZONE_COLUMN,
    'ocr_par': ZONE_PARAGRAPH,
    'ocr_line': ZONE_LINE,
    'ocr_word': ZONE_WORD,
    'ocrx_block': ZONE_REGION,
    'ocrx_line': ZONE_LINE,
    'ocrx_word': ZONE_WORD,
}

#: Cuneiform <= 0.8 emits no hOCR classes at all: bare tags carry the
#: roles (lib/hocr.py:57-61). The 'p' entry doubles as the paragraph
#: fallback for Cuneiform >= 0.9, which marks everything but paragraphs.
_BARE_TAG_KIND = {
    'body': ZONE_PAGE,
    'p': ZONE_PARAGRAPH,
    'span': ZONE_CHARACTER,
}

#: zone kind -> (tag, class) for the inverse (hOCR-emitting) direction.
djvu_zone_to_hocr = {
    ZONE_PAGE: ('div', 'ocr_page'),
    ZONE_COLUMN: ('div', 'ocr_carea'),
    ZONE_REGION: ('div', 'ocrx_block'),
    ZONE_PARAGRAPH: ('p', 'ocr_par'),
    ZONE_LINE: ('span', 'ocrx_line'),
    ZONE_WORD: ('span', 'ocrx_word'),
}

# Substring *search*, not full match: titles like "x_bboxes ..." must be
# accepted too (the reference's regexes behave the same way,
# lib/hocr.py:75-89, and the golden corpus exercises it).
_BOX_RE = re.compile(
    r'bbox\s+(-?\d+)\s+(-?\d+)\s+(-?\d+)\s+(-?\d+)')
_BOX_LIST_RE = re.compile(
    r'bboxes\s+((?:-?\d+\s+-?\d+\s+-?\d+\s+-?\d+)'
    r'(?:,?\s*(?:-?\d+\s+-?\d+\s+-?\d+\s+-?\d+))*)')

_TRAILING_NEWLINE_RUN = re.compile(r'\n\s+$')

TESSERACT_SCRIPT_TYPE = 'application/x-ocrodjvu-tesseract'


class ExtractSettings:
    """Extraction configuration (parity: lib/hocr.py:385-402).

    details: ZONE_LINE | ZONE_WORD | ZONE_CHARACTER — coarsest zone level
        emitted with coordinates.
    uax29: None for simple space-run segmentation, or a locale string /
        True for UAX #29 word segmentation.
    page_size: (w, h) fallback when the page has no bbox (Cuneiform <= 0.8).
    rotation: 0/90/180/270.
    html5 / fix_utf8: parser options (single lenient parser here; fix_utf8
        additionally scrubs control characters).
    """

    def __init__(self, rotation=0, details=TEXT_DETAILS_WORD, uax29=None,
                 html5=False, fix_utf8=False, page_size=None):
        self.rotation = rotation
        self.details = details
        if uax29 is True:
            uax29 = 'en-US-POSIX'
        self.uax29 = uax29
        self.html5 = html5
        self.fix_utf8 = fix_utf8
        self.page_size = page_size
        self.cuneiform: Optional[Tuple[int, int]] = None
        self.tesseract: Optional[bool] = None
        self.bbox_data = None  # shared stateful charbox stream (makebox)


# --------------------------------------------------------------------------
# leaf reshaping: text + boxes -> [text] | word zones | char zones
# --------------------------------------------------------------------------

def _strip_engine_tail(text: str, settings) -> Tuple[str, int]:
    """Engine-specific trailing-whitespace strip; returns (text, n_cut).

    Tesseract represents unrecognized characters as spaces, so only a
    trailing newline run may go; everything else rstrips fully (Cuneiform
    pads lines with junk whitespace). Parity: lib/hocr.py:101-111.
    """
    if settings.tesseract:
        kept = _TRAILING_NEWLINE_RUN.sub('', text)
    else:
        kept = text.rstrip()
    return kept, len(text) - len(kept)


def _parse_box_list(prop: str) -> Optional[List[tuple]]:
    """4-tuples from a ``bboxes x0 y0 x1 y1, ...`` title property."""
    m = _BOX_LIST_RE.search(prop)
    if m is None:
        return None
    nums = [int(v) for v in m.group(1).replace(',', ' ').split()]
    return [tuple(nums[i:i + 4]) for i in range(0, len(nums) - 3, 4)]


def _drain_charboxes(feed, text: str, page_size) -> List[tuple]:
    """Consume one makebox cell per character from the shared stream.

    The stream is stateful across leaves — each line's zone pulls exactly
    ``len(text)`` cells, in document order (the zip stops on the text).
    Cells carry their own expected character (None = unknown) and a
    bottom-left flag that needs a y-mirror against the page height.
    Parity: lib/hocr.py:131-143.
    """
    out = []
    for got, (expect, box, flipped) in zip(text, feed):
        if expect is not None and got != expect:
            raise MalformedOcrOutput(
                'hOCR text and "makebox" output do not match')
        if flipped < 0:
            x0, y0, x1, y1 = box
            _, h = page_size
            box = (x0, h - y1, x1, h - y0)
        out.append(box)
    return out


def _fit_box_count(coords: List[tuple], text: str, n_cut: int,
                   ends_in_newline: bool, settings) -> List[tuple]:
    """Reconcile surplus boxes against the stripped text, or raise.

    Three accepted shapes, tried in order (parity: lib/hocr.py:144-154):
    exact; Cuneiform >= 0.9 boxed some of the whitespace we cut; OCRopus
    left one spare box after a line-final hyphen (never for Cuneiform,
    never when the raw line ended in a newline).
    """
    surplus = len(coords) - len(text)
    if surplus == 0:
        return coords
    if 0 < surplus <= n_cut:
        return coords[:len(text)]
    if surplus == 1 and not settings.cuneiform and not ends_in_newline:
        return coords[:-1]
    raise MalformedHocr("number of bboxes doesn't match text length")


def _burst_words(text: str, coords: List[tuple], settings) -> List[Zone]:
    """Segment a line-or-coarser leaf into word zones.

    Word boundaries come from the configured break iterator; each word's
    box is the union of its characters' boxes. Character children are
    materialized only for char-level detail. Cuneiform marks unboxed
    characters with (-1,-1,-1,-1) sentinels, which are fatal inside a
    word. Parity: lib/hocr.py:156-182.
    """
    words = []
    start = 0
    for end in word_break_iterator(text, settings.uax29):
        segment = text[start:end]
        if segment.isspace():
            start = end
            continue
        span = BBox()
        for k in range(start, end):
            if settings.cuneiform and coords[k] == (-1, -1, -1, -1):
                raise MalformedHocr(
                    'missing bbox for non-whitespace character')
            span.update(coords[k])
        if settings.details > TEXT_DETAILS_CHARACTER:
            inner = [segment]
        else:
            inner = [Zone(type=ZONE_CHARACTER, bbox=coords[k],
                          children=[text[k]])
                     for k in range(start, end)]
        words.append(Zone(type=ZONE_WORD, bbox=span, children=inner))
        start = end
    return words


def _reshape_leaf(kind, box_source, raw_text, settings, page_size):
    """Turn one text leaf into [text], word zones, or char zones.

    The operation order is observable and pinned by the goldens: the
    engine tail-strip runs before the detail-level early-out; the
    Tesseract empty-word drop only after it; a missing ``bboxes``
    property keeps the text unsplit. Parity: lib/hocr.py:96-189.
    """
    ends_in_newline = kind <= ZONE_LINE and raw_text.endswith('\n')
    text, n_cut = _strip_engine_tail(raw_text, settings)
    want = settings.details
    if settings.uax29 is not None and want <= TEXT_DETAILS_WORD:
        # UAX #29 segmentation re-derives word boxes from characters.
        want = TEXT_DETAILS_CHARACTER
    if want >= kind:
        return [text]
    if settings.tesseract and kind > ZONE_WORD and text.isspace():
        # Tesseract >= 3.0 emits runs of whitespace-only "words".
        return []
    if isinstance(box_source, str):
        coords = _parse_box_list(box_source)
        if coords is None:
            return [text]
    else:
        coords = _drain_charboxes(box_source, text, page_size)
    coords = _fit_box_count(coords, text, n_cut, ends_in_newline, settings)
    if kind > ZONE_WORD:
        return _burst_words(text, coords, settings)
    return [Zone(type=ZONE_CHARACTER, bbox=box, children=[ch])
            for box, ch in zip(coords, text)]


# --------------------------------------------------------------------------
# DOM traversal
# --------------------------------------------------------------------------

class _Mix:
    """Shape summary of one element's assembled content items."""

    __slots__ = ('text', 'visible_text', 'chars', 'nonchars')

    def __init__(self, items):
        if len(items) == 1 and isinstance(items[0], str):
            # dominant case: a word/char element contributing one text
            # fragment — skip the generic loop
            it = items[0]
            self.text = True
            self.visible_text = bool(it) and not it.isspace()
            self.chars = self.nonchars = False
            return
        self.text = self.visible_text = False
        self.chars = self.nonchars = False
        for it in items:
            if isinstance(it, str):
                self.text = True
                if it and not it.isspace():
                    self.visible_text = True
            elif isinstance(it, Zone):
                if it.type == ZONE_CHARACTER:
                    self.chars = True
                else:
                    self.nonchars = True
            else:
                raise TypeError(
                    f'Unexpected {type(it).__name__} object; '
                    'expected a string or a text zone')

    @property
    def zones(self):
        return self.chars or self.nonchars


class _Scanner:
    """One DOM traversal: classify elements, assemble the zone forest.

    Dialect switches live on the settings object (set by
    ``detect_dialect``): ``cuneiform`` <= (0,8) classifies by bare tag,
    (0,9) stashes line charboxes in a child span; ``tesseract`` changes
    tail-stripping and skips box-less ocrx_word markup.
    """

    def __init__(self, settings: ExtractSettings):
        self.settings = settings
        # per-document invariants, hoisted off the per-element path
        # (dialect flags are set by detect_dialect before scanning;
        # only bbox_data mutates during a scan, and only internally)
        want = settings.details
        if settings.uax29 is not None and want <= TEXT_DETAILS_WORD:
            # UAX #29 segmentation re-derives word boxes from characters
            want = TEXT_DETAILS_CHARACTER
        self._want = want
        self._cuneiform_bare = bool(
            settings.cuneiform and settings.cuneiform <= (0, 8))

    # -- element -> items ---------------------------------------------------

    def items(self, node, page_size):
        """Zone-or-string items this element contributes to its parent."""
        if not isinstance(node.tag, str) or node.tag == 'script':
            # comments, processing instructions, script payloads:
            # boilerplate, never content (lib/hocr.py:203-205)
            return []
        attrib = node.attrib
        title = attrib.get('title') or ''
        m = _BOX_RE.search(title)
        if m:
            g = m.groups()
            # plain tuple on this path: BBox construction is deferred
            # to the consumers that need the mutable monoid (truthiness
            # matches — a regex hit always has four non-None ints)
            boxt = (int(g[0]), int(g[1]), int(g[2]), int(g[3]))
        else:
            boxt = None
        # inline single-token class hit (the dominant case); every
        # other shape — multi-token classes, bare-tag dialects, the
        # boxless tesseract ocrx_word quirk — goes through _kind_of
        kind = None
        if not self._cuneiform_bare:
            cls = attrib.get('class')
            if cls is not None:
                kind = _CLASS_KIND.get(cls)
            if kind is None or (kind == ZONE_WORD and boxt is None
                                and self.settings.tesseract):
                kind = self._kind_of(node, boxt)
        else:
            kind = self._kind_of(node, boxt)
        if not kind:
            return self._splice(node, page_size)
        if kind == ZONE_PAGE:
            box, page_size = self._page_frame(
                BBox(*boxt) if boxt else BBox())
        elif page_size is None:
            raise MalformedHocr('unable to determine page size')
        elif kind <= ZONE_WORD and len(node) == 0:
            # leaf fast path: a word-or-finer element with no child
            # nodes — the dominant element shape in hOCR (every word
            # span).  Collapses _assemble -> _Mix -> _word_or_finer for
            # this shape; byte-equivalent to the generic path (the _Mix
            # here is trivially text-only), pinned by the golden corpus
            # and tests/test_kernel_units.py::test_leaf_fast_path_*.
            text = node.text
            if not text:
                return []
            if boxt is None:
                raise MalformedHocr('zone without bounding box information')
            s = self.settings
            if s.bbox_data is None and self._want >= kind:
                # inlined _reshape_leaf early-out (+ engine strip)
                if s.tesseract:
                    kept = _TRAILING_NEWLINE_RUN.sub('', text)
                else:
                    kept = text.rstrip()
                return [Zone(type=ZONE_CHARACTER, bbox=boxt,
                             children=[kept])]
            reshaped = _reshape_leaf(kind, s.bbox_data or title, text, s,
                                     page_size)
            if len(reshaped) == 1 and isinstance(reshaped[0], str):
                return [Zone(type=ZONE_CHARACTER, bbox=boxt,
                             children=reshaped)]
            return reshaped
        else:
            box = BBox(*boxt) if boxt else BBox()
        return self._assemble(kind, node, box, title, page_size)

    def _splice(self, node, page_size):
        """Interleave text fragments with recursively-scanned children."""
        out = []
        if node.text:
            out.append(node.text)
        for child in node:
            out.extend(self.items(child, page_size))
            if child.tail:
                out.append(child.tail)
        return out

    # -- classification -----------------------------------------------------

    def _kind_of(self, node, box):
        s = self.settings
        if s.cuneiform and s.cuneiform <= (0, 8):
            return _BARE_TAG_KIND.get(node.tag)
        cls = node.attrib.get('class')
        if cls:
            # fast path: the whole class attribute is one known token
            # (the dominant case); multi-token / unknown values fall
            # through to the split loop with identical semantics
            kind = _CLASS_KIND.get(cls)
            if kind is not None:
                if not (s.tesseract and not box and cls == 'ocrx_word'):
                    return kind
                # Tesseract > 3.00 reuses ocrx_word for markup that is
                # not a word zone; box-less occurrences are noise
                # (lib/hocr.py:224-228) — fall through to the 'p' check.
            else:
                for token in cls.split():
                    if s.tesseract and token == 'ocrx_word' and not box:
                        continue
                    kind = _CLASS_KIND.get(token)
                    if kind:
                        return kind
        if node.tag == 'p':
            # Cuneiform >= 0.9 marks everything hOCR-style *except*
            # paragraphs (lib/hocr.py:233-235).
            return _BARE_TAG_KIND.get(node.tag)
        return None

    def _page_frame(self, box):
        """Resolve the page box and the (w, h) every descendant needs."""
        s = self.settings
        if not box:
            if s.page_size is None:
                raise MalformedHocr('page without bounding box information')
            w, h = s.page_size
            return BBox(0, 0, w, h), (w, h)
        if (box.x0, box.y0) != (0, 0):
            raise MalformedHocr(
                "page's bounding box should start with (0, 0)")
        return box, (box.x1, box.y1)

    # -- assembly -----------------------------------------------------------

    def _assemble(self, kind, node, box, title, page_size):
        s = self.settings
        items = self._splice(node, page_size)
        # a childless page still yields a zone; anything else vanishes
        on_empty = [Zone(type=kind, bbox=box)] if kind == ZONE_PAGE else []
        if not items:
            return on_empty
        mix = _Mix(items)

        if mix.zones:
            if mix.visible_text:
                raise MalformedHocr(
                    'plain text intermixed with structural elements')
            if mix.chars and mix.nonchars:
                raise MalformedHocr(
                    'character zones intermixed with non-character zones')
            if kind != ZONE_PAGE:
                # the title box widens to cover the children; only a
                # page's own box is authoritative
                grown = BBox(*box)
                for it in items:
                    if isinstance(it, Zone):
                        grown.update(it.bbox)
                box = grown
            if kind >= ZONE_LINE and isinstance(items[-1], str) \
                    and items[-1].isspace():
                del items[-1]

        if kind <= ZONE_WORD:
            return self._word_or_finer(kind, box, title, items, mix,
                                       page_size)

        # --- line or coarser ---
        if mix.zones:
            regroup = mix.chars
            drop_separators = mix.text
        else:
            # pure text: reshape it into words (or keep it whole)
            items = self._reshaped_line_text(kind, node, title, items,
                                             page_size)
            if not items:
                return on_empty
            if isinstance(items[0], str):
                # unsplit text survives; trailing newlines go
                items[0] = items[0].rstrip()
            regroup = drop_separators = False

        if regroup:
            # a run of character zones (possibly with whitespace gaps)
            # becomes word zones
            items = group_words(
                items, s.details,
                lambda t: word_break_iterator(t, s.uax29),
                simple=s.uax29 is None)
            if not items:
                return on_empty
            drop_separators = False
        if drop_separators:
            # blank strings between structural children are separators
            items = [it for it in items if not isinstance(it, str)]
            if not items:
                return on_empty

        if not box:
            return self._salvage_boxless(node, items)
        return [Zone(type=kind, bbox=box, children=items)]

    def _word_or_finer(self, kind, box, title, items, mix, page_size):
        s = self.settings
        if mix.zones:
            # structure already built below this word — pass it through
            # (blank separator strings included; the owning line prunes)
            return items
        if not mix.text:
            raise AssertionError('word zone with neither strings nor zones')
        if not box:
            raise MalformedHocr('zone without bounding box information')
        reshaped = _reshape_leaf(kind, s.bbox_data or title,
                                 ''.join(items), s, page_size)
        if len(reshaped) == 1 and isinstance(reshaped[0], str):
            # keep unsplit text demoted to CHARACTER: hOCR words are
            # regrouped at line level regardless (lib/hocr.py:304-308)
            return [Zone(type=ZONE_CHARACTER, bbox=box, children=reshaped)]
        return reshaped

    def _reshaped_line_text(self, kind, node, title, items, page_size):
        s = self.settings
        if s.cuneiform and s.cuneiform == (0, 9):
            stashed = self._cinfo_title(node)
            if stashed is not None:
                title = stashed
        return _reshape_leaf(kind, s.bbox_data or title,
                             ''.join(items), s, page_size)

    @staticmethod
    def _cinfo_title(node):
        """Cuneiform >= 0.9 hides a line's charboxes in the title of an
        otherwise-empty child ``span.ocr_cinfo`` (lib/hocr.py:317-322)."""
        for child in node:
            if isinstance(child.tag, str) and child.tag == 'span' \
                    and child.get('class') == 'ocr_cinfo':
                if len(list(child)) == 0 and child.text is None:
                    return child.get('title') or ''
                return None
        return None

    @staticmethod
    def _salvage_boxless(node, items):
        """A zone with no box: drop the known-benign shapes, else raise.

        OCRopus 0.2 omits boxes on childless zones; a single blank string
        is likewise noise (lib/hocr.py:356-367).
        """
        if len(list(node)) == 0:
            return []
        if len(items) == 1 and isinstance(items[0], str) \
                and (items[0] == '' or items[0].isspace()):
            return []
        raise MalformedHocr('text zone without bounding box information')


def scan(node, settings) -> List[Zone]:
    """Scan a page container element into rotated page zones."""
    pages = []
    for item in _Scanner(settings).items(node, settings.page_size):
        if isinstance(item, str):
            if item == '' or item.isspace():
                continue
            raise MalformedHocr(
                'plain text intermixed with structural elements')
        if not isinstance(item, Zone):
            raise TypeError(
                f'Unexpected {type(item).__name__}; expected a text zone')
        pages.append(item)
        item.rotate(settings.rotation)
    return pages


# --------------------------------------------------------------------------
# document-level entry points
# --------------------------------------------------------------------------

def extract_tesseract_bbox_data(script_text: str):
    """Yield (char, bbox, upside_down) cells from a ``makebox`` sidecar.

    One ``chars x0 y0 x1 y1 w`` line per cell (``//`` comments skipped);
    ``~`` marks an unrecognized character. Multi-char cells split their
    box proportionally with ``x0 + w*i//n`` integer arithmetic, and every
    cell is flagged upside-down (-1) for the y-mirror at consumption.
    Parity: lib/hocr.py:404-416 (injection lib/engines/tesseract.py:43-50).
    """
    for line in (script_text or '').splitlines():
        if not line or line.startswith('//'):
            continue
        chars, x0, y0, x1, y1, _w = line.split()
        x0, y0, x1, y1 = int(x0), int(y0), int(x1), int(y1)
        cells = [None] if chars == '~' else chars
        w = x1 - x0
        n = len(cells)
        for i, ch in enumerate(cells):
            yield ch, (x0 + w * i // n, y0, x0 + w * (i + 1) // n, y1), -1


def read_document(text, settings):
    """Parse hOCR markup (str or bytes) into an element tree root."""
    if isinstance(text, bytes):
        if settings.fix_utf8:
            text = sanitize_utf8(text)
        else:
            text = text.decode('UTF-8', 'replace')
    elif settings.fix_utf8:
        text = sanitize_utf8(text)
    return htmldom.parse_html(text)


def detect_dialect(root, settings):
    """Set cuneiform/tesseract flags from ``<meta name="ocr-system">``."""
    ocr_system = htmldom.find_meta(root, 'ocr-system')
    if ocr_system is None:
        if htmldom.find_meta(root, 'ocr-capabilities') is None:
            # ocr-system is mandatory in hOCR; assume old Cuneiform.
            settings.cuneiform = (0, 8)
    elif ocr_system.get('content') == 'openocr':
        settings.cuneiform = (0, 9)
    elif (ocr_system.get('content') or '').split()[:1] == ['tesseract']:
        settings.tesseract = True


def extract_zones(text, settings: Optional[ExtractSettings] = None,
                  **kwargs) -> List[Zone]:
    """hOCR markup -> list of page zones (one per ocr_page).

    Accepts a prebuilt ``ExtractSettings`` (the Spark UDF path reuses
    the object to report dialect on errors) or builds one from kwargs.
    This is the single implementation of dialect detection + the
    Tesseract makebox-sidecar wiring — don't duplicate it.
    """
    if settings is None:
        settings = ExtractSettings(**kwargs)
    root = read_document(text, settings)
    detect_dialect(root, settings)
    if settings.details < TEXT_DETAILS_WORD or (
            settings.uax29 and settings.details <= TEXT_DETAILS_WORD):
        script = htmldom.find_script(root, TESSERACT_SCRIPT_TYPE)
        if script is not None:
            settings.tesseract = True
            settings.bbox_data = extract_tesseract_bbox_data(script.text)
    body = root.find('body')
    if body is None:
        raise MalformedHocr('document has no body')
    return scan(body, settings)


def extract_sexprs(text, **kwargs) -> list:
    """hOCR markup -> list of page s-expression values (nested lists)."""
    return [zone.sexpr() for zone in extract_zones(text, **kwargs)]


DETAILS_BY_NAME = {
    'lines': TEXT_DETAILS_LINE,
    'words': TEXT_DETAILS_WORD,
    'chars': TEXT_DETAILS_CHARACTER,
}
