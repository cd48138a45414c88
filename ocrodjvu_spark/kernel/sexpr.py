"""DjVu hidden-text s-expression reader/printer.

Implements the textual format DjVuLibre uses for ``print-txt``/``set-txt``
scripts: ``(type x0 y0 x1 y1 child...)`` with string leaves in double
quotes using C-style escapes (``\\"``, ``\\\\``, ``\\n``, 3-digit octal for
other control bytes) and UTF-8 text kept unescaped.

The in-memory value form is plain Python: nested ``list`` with ``str``
symbols/leaves and ``int`` coordinates — e.g.
``['page', 0, 0, 100, 100, ['line', 10, 60, 50, 90, 'x']]``.

Parity is checked the same way the reference's tests do
(ocrodjvu tests/hocr2djvused/test.py:68-73): goldens are re-parsed and
re-printed, so only parse/print round-trip fidelity matters, not byte
wrapping.
"""

from __future__ import annotations

import re

from typing import List, Tuple, Union

SValue = Union[str, int, list]


class ExpressionSyntaxError(ValueError):
    pass


_ESCAPES = {
    'n': '\n', 't': '\t', 'r': '\r', 'f': '\f', 'b': '\b',
    'a': '\a', 'v': '\v', '"': '"', "'": "'", '\\': '\\',
}

_PRINT_ESCAPES = {
    '"': '\\"',
    '\\': '\\\\',
}


def parse(text: str) -> SValue:
    """Parse one s-expression from ``text`` (must consume all input)."""
    value, pos = _parse_one(text, 0)
    pos = _skip_ws(text, pos)
    if pos != len(text):
        raise ExpressionSyntaxError(f'trailing data at offset {pos}')
    return value


def _skip_ws(text: str, pos: int) -> int:
    n = len(text)
    while pos < n and text[pos] in ' \t\r\n':
        pos += 1
    return pos


def _parse_one(text: str, pos: int) -> Tuple[SValue, int]:
    pos = _skip_ws(text, pos)
    if pos >= len(text):
        raise ExpressionSyntaxError('unexpected end of input')
    ch = text[pos]
    if ch == '(':
        pos += 1
        items: list = []
        while True:
            pos = _skip_ws(text, pos)
            if pos >= len(text):
                raise ExpressionSyntaxError('unterminated list')
            if text[pos] == ')':
                return items, pos + 1
            value, pos = _parse_one(text, pos)
            items.append(value)
    if ch == '"':
        return _parse_string(text, pos)
    # atom: symbol or integer
    end = pos
    n = len(text)
    while end < n and text[end] not in ' \t\r\n()"':
        end += 1
    atom = text[pos:end]
    if not atom:
        raise ExpressionSyntaxError(f'unexpected character {ch!r} at {pos}')
    try:
        return int(atom, 10), end
    except ValueError:
        return atom, end


def _parse_string(text: str, pos: int) -> Tuple[str, int]:
    assert text[pos] == '"'
    pos += 1
    out = []
    n = len(text)
    while pos < n:
        ch = text[pos]
        if ch == '"':
            return ''.join(out), pos + 1
        if ch == '\\':
            pos += 1
            if pos >= n:
                break
            esc = text[pos]
            if esc in _ESCAPES:
                out.append(_ESCAPES[esc])
                pos += 1
            elif esc in '01234567':
                digits = esc
                pos += 1
                while pos < n and len(digits) < 3 and text[pos] in '01234567':
                    digits += text[pos]
                    pos += 1
                out.append(chr(int(digits, 8)))
            elif esc == 'x':
                pos += 1
                digits = ''
                while pos < n and len(digits) < 2 and text[pos] in '0123456789abcdefABCDEF':
                    digits += text[pos]
                    pos += 1
                if not digits:
                    raise ExpressionSyntaxError('bad \\x escape')
                out.append(chr(int(digits, 16)))
            else:
                out.append(esc)
                pos += 1
        else:
            out.append(ch)
            pos += 1
    raise ExpressionSyntaxError('unterminated string')


# anything needing escaping: quote, backslash, controls, DEL
_NEEDS_ESCAPE = re.compile(r'["\\\x00-\x1f\x7f]')


def _escape_string(s: str) -> str:
    if _NEEDS_ESCAPE.search(s) is None:  # hot path: nothing to escape
        return f'"{s}"'
    out = ['"']
    for ch in s:
        if ch in _PRINT_ESCAPES:
            out.append(_PRINT_ESCAPES[ch])
        elif ch < ' ' or ch == '\x7f':
            out.append('\\{0:03o}'.format(ord(ch)))
        else:
            out.append(ch)
    out.append('"')
    return ''.join(out)


def print_compact(value: SValue) -> str:
    """Single-line canonical serialization."""
    if isinstance(value, str):
        return _escape_string(value)
    if isinstance(value, int):
        return str(value)
    out: List[str] = []
    _compact_into(value, out)
    return ''.join(out)


def _compact_into(value: SValue, out: List[str]) -> None:
    # appender walk: one flat string-fragment list for the whole tree
    # instead of a joined intermediate string per node
    out.append('(')
    for i, item in enumerate(value):
        if i:
            out.append(' ')
        if isinstance(item, str):
            # the head symbol prints unquoted
            out.append(item if i == 0 else _escape_string(item))
        elif isinstance(item, int):
            out.append(str(item))
        else:
            _compact_into(item, out)
    out.append(')')


def print_pretty(value: SValue) -> str:
    """80-column pretty printer (one zone per line when too wide)."""
    return '\n'.join(_pretty_lines(value, 0, 80))


def _pretty_lines(value: SValue, indent: int, width: int) -> List[str]:
    compact = print_compact(value)
    pad = '  ' * indent
    if len(pad) + len(compact) <= width or not isinstance(value, list):
        return [pad + compact]
    # head = leading atoms (symbol + coordinates); remaining children each
    # go on their own (indented) line
    split = 0
    while split < len(value) and not isinstance(value[split], list):
        split += 1
    head_parts = []
    for i, item in enumerate(value[:split]):
        if i == 0 and isinstance(item, str):
            head_parts.append(item)
        else:
            head_parts.append(print_compact(item))
    lines = [pad + '(' + ' '.join(head_parts)]
    for item in value[split:]:
        lines.extend(_pretty_lines(item, indent + 1, width))
    lines[-1] += ')'
    return lines

