"""Extraction Arrow UDF: OCR markup column -> zone spans + text + sexpr.

This is the Spark face of the pure-Python kernel. Parsing HTML is
inherently per-document Python work, so the hot path is an Arrow-batched
``arrow_udf`` (never a row-at-a-time Python UDF): one Python call per
Arrow batch, with the kernel looping inside and the result built
straight into an Arrow array. Everything around it (filters, joins,
windows, aggregations) stays JVM-side.

Reference parity: the per-turn result matches ocrodjvu's
``hocr.extract_text`` (lib/hocr.py:446-472) — one s-expression per
``ocr_page`` in the turn's markup, with the same dialect quirks. The
ocrad ORF and gocr XML engine adapters (``kernel/engines.py``) run
through the same loop; each of their documents is one page.
"""

from __future__ import annotations

from typing import List, Tuple

import pyarrow as pa

from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..kernel import engines, hocr
from ..kernel.zones import (
    Zone,
    ZONE_NAME,
    ZONE_WORD,
)
from ..schema import EXTRACT_RESULT, EXTRACT_RESULT_PACKED

# packed-span separators (C0 controls; see schema.PAGE_RESULT_PACKED)
SPAN_RS = '\x1e'   # record separator between word spans
SPAN_FS = '\x1f'   # field separator inside one span record

# accepted ``emit_spans`` values: every zone as structs (``spans``),
# none (``spans`` is NULL), or word spans packed into one string per
# page (``spans_packed``)
EMIT_SPANS = (True, False, 'packed')

# accepted ``engine`` values: hOCR markup, or the output of one of the
# engine adapters, each parsed to a single page zone
_ENGINE_SCANS = {'ocrad': engines.ocrad_scan, 'gocr': engines.gocr_scan}
ENGINES = ('hocr', *_ENGINE_SCANS)


def pack_word_spans(zone) -> str:
    """Serialize word spans to the packed single-string form.

    One record per word, preorder (the word-zone order of ``flatten_zone``):
    ``x0 FS y0 FS x1 FS y1 FS text`` joined by RS. Text is the last
    field so it may contain anything except the two separator bytes,
    which are replaced with U+FFFD (the emitters escape C0 controls, so
    real corpora never hit this). A NULL text (word zones under chars
    detail carry their text in child zones) packs as a 4-field record
    — the decoder's out-of-range ``get`` restores NULL, keeping the
    packed path byte-equivalent to the struct path, where ``''`` and
    NULL are distinct values. A page with no words packs to ''.
    """
    recs: List[str] = []
    _pack_walk(zone, recs)
    return SPAN_RS.join(recs)


def _pack_walk(z: Zone, recs: List[str]) -> None:
    """Single fused preorder walk emitting one packed record per word
    zone — same visit order, leaf rule and coordinate formatting as
    ``flatten_zone`` (pinned by the packed-vs-struct equivalence
    tests)."""
    if z.type == ZONE_WORD:
        leaf = ''.join(c for c in z.children if isinstance(c, str)) or None
        x0, y0, x1, y1 = z.bbox
        head = f'{int(x0)}{SPAN_FS}{int(y0)}{SPAN_FS}{int(x1)}{SPAN_FS}{int(y1)}'
        if leaf is None:
            recs.append(head)
        else:
            if SPAN_RS in leaf or SPAN_FS in leaf:
                leaf = leaf.replace(SPAN_RS, '�').replace(SPAN_FS, '�')
            recs.append(f'{head}{SPAN_FS}{leaf}')
    for child in z.children:
        if isinstance(child, Zone):
            _pack_walk(child, recs)


def flatten_zone(zone: Zone) -> List[tuple]:
    """Preorder span list: (zone_type, depth, path, x0, y0, x1, y1, text)."""
    spans: List[tuple] = []

    def walk(z: Zone, depth: int, path: Tuple[int, ...]):
        # leaf text = concatenation of direct string children
        leaf = ''.join(c for c in z.children if isinstance(c, str)) or None
        x0, y0, x1, y1 = z.bbox
        spans.append((
            ZONE_NAME[z.type], depth, list(path),
            int(x0), int(y0), int(x1), int(y1), leaf,
        ))
        i = 0
        for child in z.children:
            if isinstance(child, Zone):
                walk(child, depth + 1, path + (i,))
                i += 1

    walk(zone, 0, ())
    return spans


def zone_text(zone: Zone) -> str:
    """Flatten a zone tree to plain text.

    Word siblings join with a single space; line-and-coarser siblings join
    with a newline; character leaves concatenate. This matches the leaf
    order of the emitted s-expression, so per-turn text equality against
    the reference holds whenever the zone trees match.
    """
    children = zone.children
    if len(children) == 1 and isinstance(children[0], str):
        # dominant case: a word/char leaf with one text child
        return children[0]
    if not any(isinstance(c, Zone) for c in children):
        return ''.join(str(c) for c in children)
    parts = [zone_text(c) for c in zone.children if isinstance(c, Zone)]
    child_types = [c.type for c in zone.children if isinstance(c, Zone)]
    if all(t < ZONE_WORD for t in child_types):
        sep = ''  # characters concatenate
    elif all(t <= ZONE_WORD for t in child_types):
        sep = ' '  # words join with spaces
    else:
        sep = '\n'  # lines and coarser join with newlines
    return sep.join(parts)


def extract_one(
    markup,
    details: str = 'words',
    uax29=None,
    rotation: int = 0,
    page_size=None,
    fix_utf8: bool = False,
    emit_spans=True,
    emit_sexpr: bool = True,
    engine: str = 'hocr',
):
    """Extract one turn; returns the EXTRACT_RESULT-shaped dict.

    ``details`` is a ``hocr.DETAILS_BY_NAME`` name. ``engine`` (see
    ``ENGINES``) names the input dialect: ``'hocr'`` markup, ocrad ORF
    text (``'ocrad'``) or gocr XML (``'gocr'``).
    The two engine dialects need ``page_size`` and ignore ``fix_utf8``;
    their ``dialect`` is the engine name. ``emit_spans`` (see
    ``EMIT_SPANS``) / ``emit_sexpr`` skip or prune those payloads (they
    dominate the Arrow transfer cost when a query only needs text or
    word boxes).
    """
    if markup is None:
        return {'pages': None, 'dialect': None, 'error': 'null input'}
    settings = hocr.ExtractSettings(
        rotation=rotation, details=hocr.DETAILS_BY_NAME[details], uax29=uax29,
        fix_utf8=fix_utf8, page_size=page_size)
    try:
        if engine == 'hocr':
            zones = hocr.extract_zones(markup, settings=settings)
        else:
            # one page zone per document; the scan takes the caller's
            # uax29 (ExtractSettings rewrites True to a locale)
            zones = [_ENGINE_SCANS[engine](
                markup, details=settings.details, uax29=uax29,
                page_size=page_size, rotation=rotation)]
    except Exception as exc:  # error channel, not abort (on-error resume)
        return {
            'pages': None,
            'dialect': _dialect_name(settings, engine),
            'error': f'{type(exc).__name__}: {exc}',
        }
    pages = []
    for zone in zones:
        if emit_spans == 'packed':
            # one delimited record per word, decoded JVM-side by
            # pipeline.word_spans — the lowest-Arrow-volume spans path
            # (measured 9.5% faster than the array-of-structs form at
            # 32 cores)
            page = {'spans_packed': pack_word_spans(zone)}
        elif emit_spans:
            page = {'spans': flatten_zone(zone)}
        else:
            page = {'spans': None}
        page['extracted_text'] = zone_text(zone)
        page['extracted_sexpr'] = (
            zone.compact_sexpr() if emit_sexpr else None)
        pages.append(page)
    return {
        'pages': pages,
        'dialect': _dialect_name(settings, engine),
        'error': None,
    }


def _dialect_name(settings, engine: str) -> str:
    if settings.tesseract:
        return 'tesseract'
    if settings.cuneiform:
        return 'cuneiform{0}.{1}'.format(*settings.cuneiform)
    return engine


def make_extract_udf(
    details: str = 'words',
    uax29=None,
    rotation: int = 0,
    page_size=None,
    fix_utf8: bool = False,
    emit_spans=True,
    emit_sexpr: bool = True,
    engine: str = 'hocr',
):
    """Build the Arrow-batched extraction UDF for a fixed config.

    The config is captured in the closure (broadcast with the task
    binary), so Catalyst sees a deterministic scalar Arrow UDF it can
    pipeline inside a single stage — no shuffle is introduced. It maps a
    ``pa.Array`` of markup to a ``pa.StructArray`` of the result
    schema's exact type (``.func`` also takes a ``pd.Series``).
    ``emit_spans``/``emit_sexpr`` elide the heavy payloads when a query
    only consumes ``extracted_text`` (Catalyst cannot prune *inside* a
    UDF result struct, so the pruning knob lives here). This is the one
    place that decides the span shape; any ``emit_spans`` outside
    ``EMIT_SPANS`` raises ``ValueError``. ``engine`` picks the input
    dialect, one of ``ENGINES``: ``'hocr'`` (the default), ``'ocrad'``
    (ORF text) or ``'gocr'`` (XML); any other value raises
    ``ValueError``.
    """
    if emit_spans not in EMIT_SPANS:
        raise ValueError(
            f'emit_spans must be one of {EMIT_SPANS}, got {emit_spans!r}')
    if engine not in ENGINES:
        raise ValueError(f'engine must be one of {ENGINES}, got {engine!r}')
    if details not in hocr.DETAILS_BY_NAME:
        raise ValueError(f'details must be one of '
                         f'{tuple(hocr.DETAILS_BY_NAME)}, got {details!r}')
    result_schema = (EXTRACT_RESULT_PACKED if emit_spans == 'packed'
                     else EXTRACT_RESULT)
    result_type = to_arrow_type(result_schema)

    @arrow_udf(result_schema)
    def extract_turn(texts: pa.Array) -> pa.Array:
        return pa.array([
            extract_one(
                t, details=details, uax29=uax29, rotation=rotation,
                page_size=page_size, fix_utf8=fix_utf8,
                emit_spans=emit_spans, emit_sexpr=emit_sexpr, engine=engine,
            )
            for t in texts.tolist()
        ], type=result_type)

    return extract_turn
