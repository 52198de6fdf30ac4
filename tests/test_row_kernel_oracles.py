"""Direct value coverage for every registered query whose Python map runs in
the Arrow row-kernel shell (functions/udf.map_rows / row_kernel): the
cascade, the per-document kernels (charset, NFC, main content, multimodal
headers, pdf text, span cutting, quality/repetition signals) and the
synthetic-payload generators.  Each query runs at sf0.001 and is compared
with its DuckDB oracle by the correctness gate's rule
(tests/oracle_harness.compare: row count, column names, dtype class,
order-insensitive values)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from oracle_harness import compare, connect
from test_plans import SF

QUERIES = [
    "clean_documents", "clean_fixtures", "rule_counts", "extract_synth",
    "line_dedup", "image_meta", "pdf_text", "main_content",
    "charset_decode", "multimodal_meta", "quality_signals",
    "repetition_signals", "normalize_text", "pagerank",
    "training_corpus_v2", "training_corpus_v3", "exactsubstr_dedup",
    "audio_meta", "video_meta", "exif_meta",
    # not a row kernel, but its chunking transform shares exactsubstr_dedup's
    # split-once-then-slice rewrite
    "paragraph_dedup",
]


@pytest.fixture(scope="module")
def duck():
    con = connect(SF)
    yield con
    con.close()


@pytest.mark.spark
@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_its_oracle(spark, duck, name):
    got = entry.queries()[name](spark, SF).toPandas()
    want = duck.sql(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert compare(name, got, want) == []
