"""The extraction pipeline: relational shell around the kernel UDF.

Scan -> (optional salted repartition) -> Arrow-batched extraction ->
page explode -> stable (conv_id, turn_idx) ordering. All relational steps
are Catalyst-native; the only Python is inside the extraction UDF.

Scale design (10^12-turn table, 1000 executors):

* **Salted repartition.** Turns are independent until final reassembly, so
  we repartition on ``(conv_id, pmod(hash(turn_idx), salt))`` — a
  mega-conversation's turns spread over ``salt`` buckets instead of
  hot-spotting one task (reference analogue: the per-page thread pool,
  lib/cli/ocrodjvu.py:467-536, which also processes pages of one document
  in parallel).
* **No shuffle in the extract stage itself** — the UDF is a scalar
  projection; Catalyst pipelines scan -> filter -> extract in one stage.
* **Reassembly** is the only required shuffle: a groupBy on conv_id with
  in-group sort by turn_idx (W3 "stable turn ordering"); AQE handles
  residual skew.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import extract as extract_fn
from .functions.extract import make_extract_udf

KEY_COLUMNS = ('conv_id', 'turn_idx')
META_COLUMNS = ('role', 'tool', 'ts')


def salted_repartition(
    df: DataFrame,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Spread skewed conv_id groups across salt_buckets partitions."""
    salt = F.expr(f'pmod(xxhash64(turn_idx), {int(salt_buckets)})')
    if num_partitions:
        return df.repartition(num_partitions, 'conv_id', salt)
    return df.repartition('conv_id', salt)


def extract_turns(
    df: DataFrame,
    details: str = 'words',
    uax29=None,
    rotation: int = 0,
    page_size=None,
    fix_utf8: bool = False,
    keep_columns: Sequence[str] = META_COLUMNS,
    salt_buckets: Optional[int] = None,
    num_partitions: Optional[int] = None,
    emit_spans=True,
    emit_sexpr: bool = True,
    engine: str = 'hocr',
) -> DataFrame:
    """transcripts -> per-page extraction results.

    Output columns: conv_id, turn_idx, *keep_columns, dialect, error,
    page_idx, spans (or spans_packed), extracted_text, extracted_sexpr.
    Failed turns keep their row with error set and null payload
    ("--on-error resume" semantics, reference
    lib/cli/ocrodjvu.py:494-501). ``emit_spans`` is passed to
    ``functions.extract.make_extract_udf``, which alone decides the
    span shape: ``True`` keeps the full span structs (all zone
    levels); ``False`` / ``emit_sexpr=False`` elide the heavy payloads
    for text-only consumers; ``'packed'`` ships word spans as one
    delimited string per page (``spans_packed`` replaces ``spans``;
    see schema.PAGE_RESULT_PACKED) — the lowest-Arrow-volume spans
    path, decoded JVM-side by ``word_spans``. ``engine`` names the
    ``text`` dialect (``'hocr'``, ``'ocrad'`` or ``'gocr'``; see
    ``functions.extract.ENGINES``).
    """
    if salt_buckets:
        df = salted_repartition(df, num_partitions, salt_buckets)
    extract = make_extract_udf(
        details=details, uax29=uax29, rotation=rotation,
        page_size=page_size, fix_utf8=fix_utf8,
        emit_spans=emit_spans, emit_sexpr=emit_sexpr, engine=engine)
    keep = [c for c in keep_columns if c in df.columns]
    result = df.select(*KEY_COLUMNS, *keep, extract('text').alias('_r'))
    # the projections after the UDF as SQL text: one parse on the JVM
    # instead of a py4j call per Column
    cols = [_quote(c) for c in (*KEY_COLUMNS, *keep)]
    return result.selectExpr(
        *cols, '_r.dialect AS dialect', '_r.error AS error',
        'posexplode_outer(_r.pages) AS (page_idx, page)',
    ).selectExpr(*cols, 'dialect', 'error', 'page_idx', 'page.*')


def _quote(name: str) -> str:
    """``name`` as a SQL identifier (a top-level column, never a field
    path)."""
    return '`{}`'.format(name.replace('`', '``'))


def word_spans(extracted: DataFrame) -> DataFrame:
    """Explode word-level spans: one row per extracted word, in order.

    Requires an extraction run with ``emit_spans=True`` or, cheaper,
    ``emit_spans='packed'`` (ONE delimited string per page carrying
    only word spans; decoded here with pure JVM split/cast inside
    codegen — the lowest Arrow-transfer-volume path). Spans elided
    upstream (``False``) explode to zero rows.
    """
    if 'spans_packed' in extracted.columns:
        packed = F.col('spans_packed')
        recs = F.when(
            packed.isNull() | (packed == ''), F.array()
        ).otherwise(F.split(packed, extract_fn.SPAN_RS))
        fields = F.split(F.col('_rec'), extract_fn.SPAN_FS, 5)
        return (
            extracted
            .select(
                *KEY_COLUMNS, 'page_idx',
                F.posexplode(recs).alias('word_idx', '_rec'),
            )
            .select(
                *KEY_COLUMNS, 'page_idx', 'word_idx',
                # get (0-based) is NULL out of range: a 4-field record
                # is a NULL-text word (packed/struct parity; '' stays
                # a real 5th field because split keeps trailing
                # empties)
                F.get(fields, 4).alias('word'),
                F.element_at(fields, 1).cast('int').alias('x0'),
                F.element_at(fields, 2).cast('int').alias('y0'),
                F.element_at(fields, 3).cast('int').alias('x1'),
                F.element_at(fields, 4).cast('int').alias('y1'),
            )
        )
    words = F.filter(F.col('spans'), lambda s: s.zone_type == F.lit('word'))
    return (
        extracted
        .select(
            *KEY_COLUMNS, 'page_idx',
            F.posexplode(words).alias('word_idx', 'span'),
        )
        .select(
            *KEY_COLUMNS, 'page_idx', 'word_idx',
            F.col('span.text').alias('word'),
            F.col('span.x0').alias('x0'),
            F.col('span.y0').alias('y0'),
            F.col('span.x1').alias('x1'),
            F.col('span.y1').alias('y1'),
        )
    )


def reassemble_conversations(extracted: DataFrame) -> DataFrame:
    """Stable per-conversation document: turns joined in turn_idx order.

    One aggregation (map-side partial + final), no window: collect
    (turn_idx, text) structs, sort in-group, join. The struct sort key is
    (turn_idx, page_idx) so multi-page turns stay ordered too.
    """
    return (
        extracted
        .where(F.col('extracted_text').isNotNull())
        .groupBy('conv_id')
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct('turn_idx', 'page_idx',
                                     'extracted_text'))),
                    lambda s: s.extracted_text,
                ),
                '\n',
            ).alias('conversation_text'),
            # distinct turns, not exploded page rows: count each turn's
            # first page (plain hash aggregate; countDistinct would
            # force an Expand through the shuffle)
            F.count(F.when(F.col('page_idx') == 0, 1)).alias('n_turns'),
        )
    )


def roundtrip_turns(extracted: DataFrame) -> DataFrame:
    """Text-layer round trip: extracted sexpr -> hOCR -> extract again.

    Page dimensions come from the extracted PAGE span (selected by zone
    type), so this requires an ``emit_spans=True`` run: spans-elided
    runs (``False``) surface a per-row error instead of wrong geometry,
    and ``'packed'`` runs carry no ``spans`` column at all.
    A fixed-point check downstream asserts the re-extracted text equals
    the original (north-star round-trip semantics).
    """
    from .functions.emit import make_emit_hocr_udf
    emit = make_emit_hocr_udf()
    # the PAGE span, selected by type rather than position, so a span
    # list without a page zone yields null dims and the emit UDF
    # reports an explicit error instead of silently mis-sizing the page
    page = F.element_at(
        F.filter(F.col('spans'),
                 lambda s: s.zone_type == F.lit('page')), 1)
    markup = extracted.where(F.col('extracted_sexpr').isNotNull()).select(
        'conv_id', 'turn_idx',
        emit(F.col('extracted_sexpr'), page.x1, page.y1).alias('_e'),
    )
    extract = make_extract_udf()
    result = markup.select(
        'conv_id', 'turn_idx', F.col('_e.error').alias('emit_error'),
        extract(F.col('_e.hocr')).alias('_r'))
    return result.select(
        'conv_id', 'turn_idx',
        F.coalesce('emit_error', F.col('_r.error')).alias('error'),
        F.element_at('_r.pages', 1)['extracted_text']
         .alias('extracted_text'),
        F.element_at('_r.pages', 1)['extracted_sexpr']
         .alias('extracted_sexpr'),
    )


def run_metric_terms(extracted: DataFrame) -> Dict[str, str]:
    """The run metrics over ``extract_turns`` output, as per-row SQL
    terms whose sums are the metrics: n_turns, n_errors, n_spans,
    n_chars.

    The one definition behind ``run_metrics``, ``extraction_metrics``
    and the checkpoint sidecar, kept as SQL text so that a plan built
    from it costs one parse on the JVM rather than a py4j call per
    Column. ``n_spans`` counts the spans the run emitted: every zone
    under ``emit_spans=True``, words only under ``'packed'``, none
    under ``False``. The span shape is read from the frame's columns.
    """
    if 'spans_packed' in extracted.columns:
        n_spans = ("CASE WHEN spans_packed IS NULL OR spans_packed = '' "
                   f"THEN 0 ELSE size(split(spans_packed, "
                   f"'{extract_fn.SPAN_RS}')) END")
    else:
        n_spans = 'size(coalesce(spans, array()))'
    return {
        # distinct turns, not exploded page rows: count each turn's first
        # page (error rows have null page_idx and still count as a turn);
        # plain hash aggregate, no countDistinct Expand
        'n_turns': 'CASE WHEN page_idx IS NULL OR page_idx = 0 '
                   'THEN 1 ELSE 0 END',
        'n_errors': 'CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END',
        'n_spans': n_spans,
        'n_chars': "length(coalesce(extracted_text, ''))",
    }


def run_metrics(extracted: DataFrame) -> List[Column]:
    """``run_metric_terms`` as named sums; aggregate them under any
    grouping."""
    return [F.expr(f'sum({term}) AS {name}')
            for name, term in run_metric_terms(extracted).items()]


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-conversation ``run_metrics``: n_turns, n_errors, n_chars and
    n_spans, the spans the run emitted (every zone under
    ``emit_spans=True``, words only under ``'packed'``)."""
    return extracted.groupBy('conv_id').agg(*run_metrics(extracted))
