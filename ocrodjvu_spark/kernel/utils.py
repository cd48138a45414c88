"""Small shared utilities: UTF-8 sanitation, page-range grammar."""

from __future__ import annotations

import re
from typing import List, Optional

_control_chars_re = re.compile(
    '[{0}]'.format(''.join(
        ch for ch in map(chr, range(32)) if ch not in '\n\r\t'
    ))
)


def sanitize_utf8(data) -> str:
    """Replace invalid UTF-8 sequences and control characters (except CR,
    LF, TAB) with U+FFFD. Accepts bytes or str.

    Mirrors the reference sanitizer (ocrodjvu lib/utils.py:83-114).
    """
    if isinstance(data, bytes):
        text = data.decode('UTF-8', 'replace')
    else:
        text = data
    return _control_chars_re.sub('\N{REPLACEMENT CHARACTER}', text)


def parse_page_numbers(pages: Optional[str]) -> Optional[List[int]]:
    """``'17,37-42'`` -> ``[17, 37, 38, ..., 42]``; ``'42-37'`` -> ``[]``.

    Mirrors ocrodjvu lib/utils.py:35-53.
    """
    if pages is None:
        return None
    result: List[int] = []
    for page_range in pages.split(','):
        if '-' in page_range:
            x, y = map(int, page_range.split('-', 1))
            result += range(x, y + 1)
        else:
            result.append(int(page_range, 10))
    return result


# --- filename template offset grammar (T13): ``{page+1}`` / ``{page-2}``;
# plans/checkpoint.template_path_expr compiles it to one Catalyst
# expression

_TEMPLATE_OFFSET_RE = re.compile(r'^(?P<base>.+?)(?P<sign>[+-])(?P<off>\d+)$')
