"""Vectorization shell: every per-document Python map as one Arrow-batched
row kernel.

The engine's only row-level operator (SURVEY.md §1.2) is the cascade: Spark
hands the Python worker whole Arrow record batches; we run the pure-Python
cascade per element and hand a batch back — zero per-row Spark<->Python
dispatch (BASELINE.json:6).  Everything around it stays relational/JVM-side.
Every other per-document kernel (charset decode, NFC, main content, the
multimodal header parsers, pdf text, span cutting, the quality/repetition
signals) and every synthetic-payload generator of the query suite has the
same shape, so they share one shell: :func:`row_kernel` /
:func:`map_rows`.  The shell owns batch iteration, byte-budget slicing and
output-schema assembly; a kernel is a plain function of one row's argument
values returning one tuple of output values.

Input batches are *re-chunked by byte budget*: a batch of 64 KB pages is
fine at 1024 rows, a batch of 0.5 MB pages is not — every kernel's input
batches are sliced so no single Python call holds more than
``MAX_BATCH_BYTES`` of its string/binary arguments.  Rows are sized from
the Arrow offsets, without copying a value out of the batch.

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

RESULT_DDL = (
    "url string, warc_ts timestamp, lang string, text string, error string, "
    "bytes_in bigint, bytes_out bigint, rules_fired map<string,bigint>"
)

# The most string/binary argument bytes one kernel call holds (a single
# larger row gets a call of its own).
MAX_BATCH_BYTES = 32 << 20


def _slice_by_bytes(batch: pa.RecordBatch, idxs,
                    max_batch_bytes: int) -> Iterator[pa.RecordBatch]:
    """Split a record batch so each slice's payload fits the budget.

    A row's size is the sum of its byte lengths in the ``idxs`` columns,
    from the Arrow offsets (null = 0); a row larger than the budget gets a
    slice of its own.  With no sized column the batch is one slice."""
    sizes = pa.repeat(0, batch.num_rows)
    for i in idxs:
        sizes = pc.add(sizes, pc.fill_null(pc.binary_length(batch.column(i)), 0))
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


def _is_bytes(t: pa.DataType) -> bool:
    return (pa.types.is_string(t) or pa.types.is_binary(t)
            or pa.types.is_large_string(t) or pa.types.is_large_binary(t))


def row_kernel(fn, out_ddl: str, args=(), keep=()):
    """The ``mapInArrow`` function running ``fn`` once per row.

    ``fn(*values of the args columns)`` returns one tuple: the output columns
    of ``out_ddl`` that follow the ``keep`` columns.  The ``keep`` columns
    pass through as Arrow arrays, cast to their declared type when it
    differs.  Input columns are found by name; output columns take the DDL's
    names and types, whose Arrow schema is derived here, once, on the driver
    (it needs an active SparkContext).  Each batch is sliced by
    ``MAX_BATCH_BYTES`` over its string/binary ``args`` columns; row order is
    kept and an empty batch yields nothing.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(out_ddl))
    keep_fields = list(schema)[:len(keep)]
    out_fields = list(schema)[len(keep):]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            names = batch.schema.names
            arg_idx = [names.index(c) for c in args]
            keep_idx = [names.index(c) for c in keep]
            sized = [i for i in arg_idx if _is_bytes(batch.schema.types[i])]
            for chunk in _slice_by_bytes(batch, sized, MAX_BATCH_BYTES):
                values = [chunk.column(i).to_pylist() for i in arg_idx]
                cols = zip(*[fn(*row) for row in zip(*values)])
                arrays = [
                    col if col.type == f.type else col.cast(f.type)
                    for col, f in zip((chunk.column(i) for i in keep_idx),
                                      keep_fields)
                ]
                arrays += [pa.array(c, f.type) for c, f in zip(cols, out_fields)]
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return kernel


def map_rows(df, fn, out_ddl: str, args=(), keep=()):
    """``df`` mapped row by row through ``fn`` in the Arrow shell (see
    :func:`row_kernel`); only the ``keep`` and ``args`` columns are sent to
    Python."""
    cols = list(dict.fromkeys(tuple(keep) + tuple(args)))
    return df.select(*cols).mapInArrow(
        row_kernel(fn, out_ddl, args=args, keep=keep), out_ddl)


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


def make_cascade_fn(rules: RuleConfig = DEFAULT_RULES):
    """Build the mapInArrow function: (url, warc_ts, html, lang) batches ->
    (url, warc_ts, lang, text, error, bytes_in, bytes_out, rules_fired).

    ``rules`` is captured in the closure; pass a broadcast's ``.value`` holder
    lazily by giving a ``pyspark.Broadcast`` instead of a RuleConfig.
    """

    def clean_row(html):
        cfg = rules.value if hasattr(rules, "value") else rules
        res = clean_html(html or b"", cfg)
        return (res.text, res.error, res.bytes_in, res.bytes_out,
                sorted(res.rules_fired.items()))

    return row_kernel(clean_row, RESULT_DDL, args=("html",),
                      keep=("url", "warc_ts", "lang"))
