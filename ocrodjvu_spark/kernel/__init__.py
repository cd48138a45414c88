"""Pure-Python extraction kernels (no Spark, no third-party deps).

These modules re-implement, from public knowledge of the formats
(hOCR spec, DjVu hidden-text s-expressions) and the observable
behavior of jwilk-archive/ocrodjvu, the text-extraction semantics
that the Spark layer vectorizes via Arrow UDFs.

Everything here is deterministic and unit-testable without a
SparkSession; the golden corpus under tests/ pins behavior to the
reference's own test suite.
"""
