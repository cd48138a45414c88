"""Inverse-direction pandas UDF: ``make_emit_hocr_udf`` turns an
extracted_sexpr column into an hOCR markup column (djvu2hocr semantics;
used for text-layer round-trip pipelines).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf
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

    @pandas_udf(EMIT_RESULT)
    def emit_hocr(sexprs: pd.Series, page_w: pd.Series,
                  page_h: pd.Series) -> pd.DataFrame:
        rows = []
        for s, w, h in zip(sexprs, page_w, page_h):
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
        return pd.DataFrame(rows, columns=['hocr', 'error'])

    return emit_hocr

