"""Spark schemas for the extraction engine.

The recursive zone tree (reference: lib/text_zones.py:86-149) is flattened
to a preorder span array — Spark has no recursive StructType; preorder +
``path`` round-trips the tree losslessly, since the DjVu s-expression is
itself a preorder serialization.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

ZONE_SPAN = StructType([
    StructField('zone_type', StringType()),
    StructField('depth', IntegerType()),
    StructField('path', ArrayType(IntegerType())),
    StructField('x0', IntegerType()),
    StructField('y0', IntegerType()),
    StructField('x1', IntegerType()),
    StructField('y1', IntegerType()),
    StructField('text', StringType()),
])

PAGE_RESULT = StructType([
    StructField('spans', ArrayType(ZONE_SPAN)),
    StructField('extracted_text', StringType()),
    StructField('extracted_sexpr', StringType()),
])

EXTRACT_RESULT = StructType([
    StructField('pages', ArrayType(PAGE_RESULT)),
    StructField('dialect', StringType()),
    StructField('error', StringType()),
])

# emit_spans='packed' variant: word spans ship as ONE delimited string
# per page (records joined by \x1E, fields x0 \x1F y0 \x1F x1 \x1F y1
# \x1F text) instead of an array of 8-field structs. Arrow transfers a
# single string buffer where the struct form carries offset + validity
# buffers for every child column; the decode back to columns
# (pipeline.word_spans) is pure JVM split/cast inside codegen. C0
# separator bytes inside word text are replaced with U+FFFD at pack
# time (documented lossy corner; the hOCR emitters escape those
# control chars anyway).
PAGE_RESULT_PACKED = StructType([
    StructField('spans_packed', StringType()),
    StructField('extracted_text', StringType()),
    StructField('extracted_sexpr', StringType()),
])

EXTRACT_RESULT_PACKED = StructType([
    StructField('pages', ArrayType(PAGE_RESULT_PACKED)),
    StructField('dialect', StringType()),
    StructField('error', StringType()),
])

TRANSCRIPTS_COLUMNS = ('conv_id', 'turn_idx', 'role', 'text', 'tool', 'ts')

# the transcripts input schema, in TRANSCRIPTS_COLUMNS order (streaming
# and JSONL readers)
TRANSCRIPTS_DDL = ('conv_id string, turn_idx int, role string, '
                   'text string, tool string, ts timestamp')
