"""Declared StructTypes for the reference's implicit data model (SURVEY §1).

The reference never declares schemas (headerless CSV read positionally at
config.py:22-27; ad-hoc Mongo docs at Processor.py:290-296,
SeperatorHandler.py:82-88, InitiatorIdentifier.py:37). Here the filing
document store is typed once; the other datasets are typed where they are
produced (e.g. ``operators/llm.py`` for the identifier's output).
"""

from __future__ import annotations

from pyspark.sql import types as T

# The "DataSet" store: one accepted filing per deal (Processor.py:290-296).
FILING_DOCUMENTS = T.StructType(
    [
        T.StructField("main_index", T.LongType(), False),
        T.StructField("company_a", T.StringType()),
        T.StructField("company_b", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)
