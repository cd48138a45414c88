"""Lenient HTML -> element-tree parser built on the stdlib html.parser.

Produces ``xml.etree.ElementTree`` elements with lxml-compatible accessors
used by the scan kernel (``text``/``tail``/iteration/``get``). Reproduces
the libxml2 recovery behaviors the hOCR corpus depends on:

* void elements (meta, img, br, ...) never take children;
* a block-level start tag (p, h1-h6, div, ul, table, ...) implicitly
  closes an open ``<p>`` — this is why a stray ``<h3>`` inside
  ``<p class=ocr_par>`` splits the paragraph in the OCRopus fixtures
  (reference evidence: ocrodjvu tests/hocr2djvused/alice_ocropus0.3.1.html
  vs its .test1 golden, where the first five lines are emitted as direct
  page children);
* unmatched end tags are ignored; end tags close intermediate open
  elements up to the nearest match;
* ``<script>`` content is kept verbatim as the element's text (needed for
  the Tesseract ``makebox`` charbox sidecar);
* comments are preserved as non-string-tag nodes so their tails still
  contribute text, matching lxml iteration semantics.

Tag and attribute names are lowercased; character references are decoded
outside CDATA content.
"""

from __future__ import annotations

import html
import html.parser
import re
import xml.etree.ElementTree as ET

VOID_ELEMENTS = frozenset((
    'area', 'base', 'basefont', 'br', 'col', 'embed', 'frame', 'hr', 'img',
    'input', 'isindex', 'link', 'meta', 'param', 'source', 'track', 'wbr',
))

# start tags that implicitly close an open <p> (HTML4 block-level content
# not allowed inside a paragraph)
_P_CLOSERS = frozenset((
    'address', 'article', 'aside', 'blockquote', 'details', 'div', 'dl',
    'fieldset', 'figcaption', 'figure', 'footer', 'form',
    'h1', 'h2', 'h3', 'h4', 'h5', 'h6', 'header', 'hr', 'main', 'menu',
    'nav', 'ol', 'p', 'pre', 'section', 'table', 'ul',
))

# elements whose start tag implies closing same-name ancestors
_SELF_NESTING_CLOSERS = frozenset(('li', 'td', 'th', 'tr', 'option'))

_STRUCTURE = ('html', 'head', 'body')

# one-probe tag classification for the builder hot path (replaces three
# frozenset membership tests per start tag): bit 1 = implied-close
# trigger, bit 2 = head/body singleton, bit 4 = void element
_F_IMPLIED = 1
_F_SECTION = 2
_F_VOID = 4
_TAG_FLAGS = {}
for _t in _P_CLOSERS | _SELF_NESTING_CLOSERS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_IMPLIED
for _t in ('head', 'body'):
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SECTION
for _t in VOID_ELEMENTS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_VOID
del _t


class _TreeBuilder(html.parser.HTMLParser):

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = ET.Element('html')
        self._stack = [self.root]
        self._last: ET.Element | None = None  # for tail attribution

    # -- helpers ----------------------------------------------------------

    def _top(self) -> ET.Element:
        return self._stack[-1]

    def _append(self, elem: ET.Element):
        self._top().append(elem)

    def _implied_close(self, tag: str):
        if tag in _P_CLOSERS and any(
                e.tag == 'p' for e in self._stack):
            # close up to and including the innermost <p>, but never cross
            # structural containers
            for elem in reversed(self._stack[1:]):
                if elem.tag in _STRUCTURE:
                    break
                if elem.tag == 'p':
                    while self._stack[-1] is not elem:
                        self._stack.pop()
                    self._stack.pop()
                    break
        if tag in _SELF_NESTING_CLOSERS:
            for elem in reversed(self._stack[1:]):
                if elem.tag in _STRUCTURE:
                    break
                if elem.tag == tag:
                    while self._stack[-1] is not elem:
                        self._stack.pop()
                    self._stack.pop()
                    break

    # -- parser callbacks --------------------------------------------------

    def handle_starttag(self, tag, attrs):
        # ``attrs``: (k, v) list from html.parser, or a prebuilt
        # lowercased first-wins dict from the fast tokenizer (shared,
        # never mutated here)
        if not tag.islower():
            tag = tag.lower()
        flags = _TAG_FLAGS.get(tag, 0)
        if tag == 'html':
            # merge attributes into the synthetic root
            pairs = attrs.items() if type(attrs) is dict else attrs
            for k, v in pairs:
                if k and self.root.get(k) is None:
                    self.root.set(k.lower(), v if v is not None else '')
            return
        if flags & _F_IMPLIED:
            self._implied_close(tag)
        if flags & _F_SECTION:
            # singleton structural elements directly under the root
            for child in self.root:
                if child.tag == tag:
                    self._stack = [self.root, child]
                    return
            elem = ET.SubElement(self.root, tag)
            pairs = attrs.items() if type(attrs) is dict else attrs
            for k, v in pairs:
                if k:
                    elem.set(k.lower(), v if v is not None else '')
            self._stack = [self.root, elem]
            return
        if type(attrs) is dict:
            # C-level dict copy into the new element
            elem = ET.Element(tag, attrs) if attrs else ET.Element(tag)
        else:
            elem = ET.Element(tag)
            if attrs:
                # html.parser hands over lowercased attr names, so
                # write the attrib dict directly — first-wins like
                # get/set did
                attrib = elem.attrib
                for k, v in attrs:
                    if k and k not in attrib:
                        attrib[k] = v if v is not None else ''
        if self._stack[-1] is self.root:
            self._ensure_container(tag)  # may replace self._stack
        stack = self._stack
        stack[-1].append(elem)
        if not flags & _F_VOID:
            stack.append(elem)

    def _ensure_container(self, tag: str):
        """Put stray content under head or body like a recovering parser."""
        if self._top() is self.root:
            section = 'head' if tag in (
                'title', 'meta', 'link', 'style', 'base') else 'body'
            self.handle_starttag(section, [])

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        if tag in VOID_ELEMENTS or tag not in ('html', 'head', 'body'):
            self.handle_starttag(tag, attrs)
            if tag not in VOID_ELEMENTS:
                self.handle_endtag(tag)
        else:
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if not tag.islower():
            tag = tag.lower()
        if tag == 'html':
            return
        stack = self._stack
        if len(stack) > 1 and stack[-1].tag == tag:
            stack.pop()  # dominant case: well-nested close of the top
            return
        for i in range(len(stack) - 2, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return
        # unmatched end tag: ignore

    def handle_data(self, data):
        if not data:
            return
        top = self._stack[-1]
        if top is self.root:
            if data.isspace():
                return
            self._ensure_container('span')
            top = self._stack[-1]
        # append as the last child's tail, else as the container's
        # text (inline: one call per text/tail chunk on the hot path)
        if len(top):
            last = top[-1]
            last.tail = (last.tail or '') + data
        else:
            top.text = (top.text or '') + data

    def handle_comment(self, data):
        if self._top() is self.root:
            return
        comment = ET.Comment(data)
        self._append(comment)

    def handle_decl(self, decl):
        pass

    def handle_pi(self, data):
        pass

    def unknown_decl(self, data):
        pass


_NAME_RE = re.compile(r'[a-zA-Z][-a-zA-Z0-9:._]*')
# one-shot end-tag matcher for the common well-formed case; anything
# with junk between the name and '>' falls back to the two-step
# NAME-match + find('>') path with identical semantics
_ENDTAG_RE = re.compile(r'</([a-zA-Z][-a-zA-Z0-9:._]*)\s*>')
_ATTR_RE = re.compile(
    r'\s*([^\s=/>]+)(?:\s*=\s*("[^"]*"|\'[^\']*\'|[^\s>]*))?')
# CDATA ends only at an end tag whose NAME is exactly 'script'
# ('</scripting>' stays script text) — matching html.parser's
# parse_endtag check against self.cdata_elem
_SCRIPT_END_RE = re.compile(r'</script(?![-a-zA-Z0-9:._])', re.IGNORECASE)

# one-shot tag-end finder for the common well-formed case: name +
# attribute run + optional '/'. The attr sub-grammar only admits quoted
# values WITHOUT '<'/'>' inside and unquoted values without quotes, so
# on a hit the '>' found here is the same character the careful
# _find_tag_end scan would find; the attr segment itself is then parsed
# by the shared _emit_starttag, so the two paths agree by construction.
# Every miss (stray quotes, angle brackets
# in values, end tags, comments) falls through to the character-exact
# path below.
_STARTTAG_RE = re.compile(
    r'<([a-zA-Z][-a-zA-Z0-9:._]*)'
    r'((?:\s+[^\s=/>]+(?:\s*=\s*(?:"[^"<>]*"|\'[^\'<>]*\'|[^\s>"\']*))?)*'
    r'\s*/?)>')


def _find_tag_end(text: str, pos: int) -> int:
    """Index of the tag-closing '>' from ``pos``, or -1 if unterminated.

    '>' inside a quoted attribute value does not close the tag, but a
    quote counts as opening a value only immediately after '=' (plus
    whitespace) — matching html.parser, so a stray quote inside an
    *unquoted* value (title=don't) stays a plain character.
    """
    n = len(text)
    while pos < n:
        c = text[pos]
        if c == '>':
            return pos
        if c == '=':
            pos += 1
            while pos < n and text[pos] in ' \t\r\n':
                pos += 1
            if pos < n and (text[pos] == '"' or text[pos] == "'"):
                end = text.find(text[pos], pos + 1)
                if end < 0:
                    return -1
                pos = end + 1
            continue
        pos += 1
    return -1


_unescape = html.unescape

# memo for parsed attribute segments: the parse is a pure function of
# the segment text, and real markup repeats segments heavily (constant
# class attributes, regular title grids). A miss costs one dict probe
# on top of the parse; the table is cleared when full so memory stays
# bounded on high-entropy corpora.
_ATTR_CACHE: dict = {}
_ATTR_CACHE_MAX = 8192


def _parse_attrs(attr_text: str):
    """Attr segment -> (first-wins attr dict, self_closing), memoized.

    Self-closing matches html.parser/HTML5: the tag is self-closed only
    when a bare '/' remains AFTER attribute parsing — in '<p a=1/>' the
    slash is part of the unquoted value (open <p> with a='1/'), while
    '<p a="1"/>', '<p a=1 />' and '<br/>' self-close.

    The dict applies the same first-wins duplicate rule as the
    builder's (k, v)-list path; the builder copies it C-side via
    ``ET.Element(tag, dict)``. Callers must not mutate it.
    """
    cached = _ATTR_CACHE.get(attr_text)
    if cached is not None:
        return cached
    attrs = {}
    last_end = 0
    if attr_text and not attr_text.isspace():
        for am in _ATTR_RE.finditer(attr_text):
            k = am.group(1)
            v = am.group(2)
            if v is None:
                v = ''
            elif v[:1] in ('"', "'") and v[-1:] == v[:1]:
                v = v[1:-1]
            if '&' in v:
                v = _unescape(v)
            k = k.lower()
            if k not in attrs:
                attrs[k] = v
            last_end = am.end()
    result = (attrs, attr_text[last_end:].strip() == '/')
    if len(_ATTR_CACHE) >= _ATTR_CACHE_MAX:
        _ATTR_CACHE.clear()
    _ATTR_CACHE[attr_text] = result
    return result


def _fast_feed(builder: '_TreeBuilder', text: str) -> None:
    """Regex tokenizer emitting the same builder callbacks as
    html.parser — identical DOM recovery semantics, ~2-3x faster on the
    extraction hot path. Falls back is handled by the caller."""
    unescape = _unescape
    n = len(text)
    pos = 0
    find = text.find
    match_starttag = _STARTTAG_RE.match
    handle_data = builder.handle_data
    handle_starttag = builder.handle_starttag
    while pos < n:
        lt = find('<', pos)
        if lt < 0:
            chunk = text[pos:]
            handle_data(unescape(chunk) if '&' in chunk else chunk)
            break
        if lt > pos:
            chunk = text[pos:lt]
            handle_data(unescape(chunk) if '&' in chunk else chunk)
        m = match_starttag(text, lt)
        if m is not None:
            # fast path: tag end found in one C-side match; the attr
            # segment then goes through the IDENTICAL logic as the slow
            # path below, so the paths cannot diverge on e.g. 'a=x/>'
            name = m.group(1)
            if not name.islower():
                name = name.lower()
            attrs, selfclose = _parse_attrs(m.group(2))
            pos = m.end()
            if selfclose:
                builder.handle_startendtag(name, attrs)
            else:
                handle_starttag(name, attrs)
                if name == 'script':
                    pos = _consume_script(builder, text, pos, n)
            continue
        nxt = text[lt + 1] if lt + 1 < n else ''
        if nxt == '!' or nxt == '?':
            if text.startswith('<!--', lt):
                end = find('-->', lt + 4)
                if end < 0:
                    builder.handle_comment(text[lt + 4:])
                    break
                builder.handle_comment(text[lt + 4:end])
                pos = end + 3
                continue
            end = find('>', lt)
            pos = n if end < 0 else end + 1
            continue
        if nxt == '/':
            m = _ENDTAG_RE.match(text, lt)
            if m is not None:
                builder.handle_endtag(m.group(1))
                pos = m.end()
                continue
            m = _NAME_RE.match(text, lt + 2)
            end = find('>', lt)
            if m and end >= 0:
                builder.handle_endtag(m.group(0).lower())
                pos = end + 1
            else:
                handle_data('<')
                pos = lt + 1
            continue
        m = _NAME_RE.match(text, lt + 1)
        if not m:
            handle_data('<')
            pos = lt + 1
            continue
        name = m.group(0)
        end = _find_tag_end(text, m.end())
        if end < 0:
            pos = n  # unterminated tag: drop the rest (libxml2-like)
            continue
        pos = _emit_starttag(
            builder, name, text[m.end():end], text, end + 1, n)


def _consume_script(builder: '_TreeBuilder', text: str, pos: int,
                    n: int) -> int:
    """Consume <script> CDATA after its start tag; returns resume pos."""
    sm = _SCRIPT_END_RE.search(text, pos)
    if sm is None:
        builder.handle_data(text[pos:])
        builder.handle_endtag('script')
        return n
    builder.handle_data(text[pos:sm.start()])
    gt = text.find('>', sm.end())
    builder.handle_endtag('script')
    return n if gt < 0 else gt + 1


def _emit_starttag(builder: '_TreeBuilder', name: str, attr_text: str,
                   text: str, pos: int, n: int) -> int:
    """Start-tag emission for the careful tokenizer path: parse the
    attr segment, fire the builder callback, and consume <script>
    CDATA. Returns the resume position (``n`` ends the feed loop)."""
    if not name.islower():
        name = name.lower()
    attrs, selfclose = _parse_attrs(attr_text)
    if selfclose:
        builder.handle_startendtag(name, attrs)
        return pos
    builder.handle_starttag(name, attrs)
    if name != 'script':
        return pos
    return _consume_script(builder, text, pos, n)


def parse_html(text: str, fast: bool = True) -> ET.Element:
    """Parse (possibly malformed) HTML text into an element tree root.

    ``fast=True`` uses the regex tokenizer (same builder, same recovery
    rules); any tokenizer error falls back to the stdlib html.parser.
    Equivalence over the whole reference corpus is pinned by
    tests/test_htmldom_fast.py.
    """
    if fast:
        builder = _TreeBuilder()
        try:
            _fast_feed(builder, text)
            return builder.root
        except Exception:
            pass  # fall back to the stdlib tokenizer
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def find_meta(root: ET.Element, name: str):
    """Equivalent of lxml doc.find('/head/meta[@name=...]')."""
    head = root.find('head')
    if head is None:
        return None
    for meta in head.iter('meta'):
        if meta.get('name') == name:
            return meta
    return None


def find_script(root: ET.Element, type_: str):
    """Equivalent of doc.find('//script[@type=...]')."""
    for script in root.iter('script'):
        if script.get('type') == type_:
            return script
    return None
