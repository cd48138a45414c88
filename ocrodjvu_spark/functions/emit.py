"""Inverse-direction Arrow UDF: ``make_emit_hocr_udf`` turns an
extracted_sexpr column into an hOCR markup column (djvu2hocr semantics;
used for text-layer round-trip pipelines).
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StringType, StructField, StructType

from ..kernel import hocr_emit, sexpr

EMIT_RESULT = StructType([
    StructField('hocr', StringType()),
    StructField('error', StringType()),
])


def make_emit_hocr_udf():
    """(extracted_sexpr, page_w, page_h) -> struct(hocr, error): one
    full hOCR document per page.

    Failures are typed per-row errors (the same on-error-resume channel
    as extraction), never silent nulls.
    """
    result_type = to_arrow_type(EMIT_RESULT)

    @arrow_udf(EMIT_RESULT)
    def emit_hocr(sexprs: pa.Array, page_w: pa.Array,
                  page_h: pa.Array) -> pa.Array:
        rows = []
        for s, w, h in zip(sexprs.tolist(), page_w.tolist(),
                           page_h.tolist()):
            if s is None:
                rows.append({'hocr': None, 'error': 'null input'})
                continue
            try:
                markup = hocr_emit.sexpr_to_hocr_document(
                    [(sexpr.parse(s), int(w), int(h))])
                rows.append({'hocr': markup, 'error': None})
            except Exception as exc:
                rows.append({
                    'hocr': None,
                    'error': f'{type(exc).__name__}: {exc}',
                })
        return pa.array(rows, type=result_type)

    return emit_hocr
