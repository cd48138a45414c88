"""ISO 639 language-code normalization (T11).

Mirrors the reference's config-time language handling
(ocrodjvu lib/iso639.py:26-60 and the engine-specific aliases in
lib/engines/cuneiform.py:57-142, lib/engines/tesseract.py:164-200):
bibliographic (639-2/B) codes map to terminological (639-2/T) ones, and
engine-era aliases expand to canonical 3-letter codes. In the Spark
engine this is a broadcast-dictionary lookup at configuration time —
never per-row work.
"""

from __future__ import annotations

import re

# ISO 639-2/B -> 639-2/T (the 20 dual-code languages)
B_TO_T = {
    'alb': 'sqi', 'arm': 'hye', 'baq': 'eus', 'bur': 'mya', 'chi': 'zho',
    'cze': 'ces', 'dut': 'nld', 'fre': 'fra', 'geo': 'kat', 'ger': 'deu',
    'gre': 'ell', 'ice': 'isl', 'mac': 'mkd', 'mao': 'mri', 'may': 'msa',
    'per': 'fas', 'rum': 'ron', 'slo': 'slk', 'tib': 'bod', 'wel': 'cym',
}

# engine-era aliases -> canonical '+'-joined 639-2 codes
ENGINE_ALIASES = {
    'ruseng': 'rus+eng',
    'bul': 'bul',  # identity entries keep lookups total
}

_CODE_RE = re.compile(r'^[a-z]{3}(\+[a-z]{3})*$')


def normalize_language(code: str) -> str:
    """Normalize a language identifier to 639-2/T ('+'-joined for multi).

    >>> normalize_language('fre')
    'fra'
    >>> normalize_language('ruseng')
    'rus+eng'
    >>> normalize_language('eng')
    'eng'
    """
    code = code.strip().lower().replace('-', '+')
    code = ENGINE_ALIASES.get(code, code)
    parts = [B_TO_T.get(p, p) for p in code.split('+')]
    normalized = '+'.join(parts)
    if not _CODE_RE.match(normalized):
        raise ValueError(f'invalid language id: {code!r}')
    return normalized
