"""PySpark-native web-scale HTML extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
rmuit/HtmlCleanup as a Spark pipeline: a stateless Arrow-batched per-document
tokenize -> DOM -> rule-cascade -> serialize map over a Common-Crawl-style
pages table, plus the relational shell (dedup, skew bucketing, resume,
lineage) and training-data operators (dedup suites, similarity search, text
analysis) a 100 TB corpus pipeline needs.
"""

__version__ = "0.1.0"

# Every package kernel imports this module when a Python worker unpickles it,
# so the worker's per-task zip-directory re-read is guarded from then on
# (see functions/udf.py).
from .functions.udf import install_zip_guard

install_zip_guard()
