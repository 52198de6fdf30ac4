"""Vectorization shell: the cascade as an Arrow-batched map.

The engine's only row-level operator (SURVEY.md §1.2): Spark hands the Python
worker whole Arrow record batches; we run the pure-Python cascade per element
and hand a batch back — zero per-row Spark<->Python dispatch
(BASELINE.json:6).  Everything around it stays relational/JVM-side.

Output batches are *re-chunked by byte budget*: a batch of 64 KB pages is
fine at 1024 rows, a batch of 0.5 MB pages is not — we slice input batches so
no single Python task call holds more than ``max_batch_bytes`` of html.  Rows
are sized from the Arrow offsets, without copying a page out of the batch.

Per-task worker cost.  Even a reused Python worker pays a fixed cost on every
task, and on CPython < 3.13 most of it is not Spark's: PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of each task, and there ``zipimporter.invalidate_caches`` eagerly
re-reads the whole central directory of its archive, once per importer
instance.  A worker holds ~20 such importers (pyspark.zip's packages, the
py4j zip, the shipped package zip, and the spark-core jar when it is on the
path), which costs ~0.25 s per task: most of an identity ``mapInArrow``.
:func:`install_zip_guard` makes that re-read conditional on the archive
having changed on disk.  The package ``__init__`` calls it, so every package
kernel installs it in its worker when it is unpickled.  CPython 3.13+
invalidates zip directories lazily, and there nothing is patched.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from ..engine.clean import clean_html
from ..engine.rules import DEFAULT_RULES, RuleConfig

# Result schema appended to the passthrough key columns.
RESULT_FIELDS = [
    pa.field("text", pa.string()),
    pa.field("error", pa.string()),
    pa.field("bytes_in", pa.int64()),
    pa.field("bytes_out", pa.int64()),
    pa.field("rules_fired", pa.map_(pa.string(), pa.int64())),
]

RESULT_DDL = (
    "url string, warc_ts timestamp, lang string, text string, error string, "
    "bytes_in bigint, bytes_out bigint, rules_fired map<string,bigint>"
)


def _slice_by_bytes(batch: pa.RecordBatch, html_idx: int,
                    max_batch_bytes: int) -> Iterator[pa.RecordBatch]:
    """Split a record batch so each slice's html payload fits the budget.

    A row's size is its byte length from the Arrow offsets (null = 0); a row
    larger than the budget gets a slice of its own."""
    sizes = pc.fill_null(pc.binary_length(batch.column(html_idx)), 0)
    start = 0
    acc = 0
    for i, s in enumerate(sizes.to_pylist()):
        if acc + s > max_batch_bytes and i > start:
            yield batch.slice(start, i - start)
            start = i
            acc = 0
        acc += s
    if start < batch.num_rows:
        yield batch.slice(start, batch.num_rows - start)


# archive path -> (stat key, directory) of the archive's last guarded read
_zip_reads: dict = {}


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install_zip_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed on disk (inode, size or mtime differ from
    its last read) or cannot be stat-ed; otherwise the importer takes the
    directory that read produced.  Idempotent; a no-op where zipimport is
    already lazy (CPython 3.13+).  Installing it also re-reads each archive
    already on the path once, so that the next task starts with nothing to
    re-read."""
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or hasattr(zi.invalidate_caches, "unguarded"):
        return
    reread = zi.invalidate_caches

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        last = _zip_reads.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _zip_reads[self.archive] = (key, self._files)
        else:
            _zip_reads.pop(self.archive, None)

    invalidate_caches.unguarded = reread
    zi.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            finder.invalidate_caches()


def make_cascade_fn(rules: RuleConfig = DEFAULT_RULES,
                    max_batch_bytes: int = 32 << 20):
    """Build the mapInArrow function: (url, warc_ts, html, lang) batches ->
    (url, warc_ts, lang, text, error, bytes_in, bytes_out, rules_fired).

    ``rules`` is captured in the closure; pass a broadcast's ``.value`` holder
    lazily by giving a ``pyspark.Broadcast`` instead of a RuleConfig.
    """

    def cascade_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cfg = rules.value if hasattr(rules, "value") else rules
        for batch in batches:
            names = batch.schema.names
            html_idx = names.index("html")
            for chunk in _slice_by_bytes(batch, html_idx, max_batch_bytes):
                texts, errors, b_in, b_out, fired = [], [], [], [], []
                for v in chunk.column(html_idx):
                    res = clean_html(v.as_py() or b"", cfg)
                    texts.append(res.text)
                    errors.append(res.error)
                    b_in.append(res.bytes_in)
                    b_out.append(res.bytes_out)
                    fired.append(sorted(res.rules_fired.items()))
                arrays = [
                    chunk.column(names.index("url")),
                    chunk.column(names.index("warc_ts")),
                    chunk.column(names.index("lang")),
                    pa.array(texts, pa.string()),
                    pa.array(errors, pa.string()),
                    pa.array(b_in, pa.int64()),
                    pa.array(b_out, pa.int64()),
                    pa.array(fired, pa.map_(pa.string(), pa.int64())),
                ]
                yield pa.RecordBatch.from_arrays(
                    arrays,
                    names=[
                        "url", "warc_ts", "lang", "text", "error",
                        "bytes_in", "bytes_out", "rules_fired",
                    ],
                )

    return cascade_fn
