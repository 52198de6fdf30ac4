"""The Arrow row-kernel shell (functions/udf.py): byte-budget slicing, the
row kernel's schema, pass-through and order contract, and the worker's
zip-directory guard.

The guard tests count calls to ``zipimport._read_directory``; they never time
anything.
"""

from __future__ import annotations

import collections
import datetime
import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pytest

from htmlcleanup_spark.functions import udf
from htmlcleanup_spark.functions.udf import (
    _slice_by_bytes,
    make_cascade_fn,
    map_rows,
    row_kernel,
)

LAZY_ZIPIMPORT = hasattr(zipimport.zipimporter, "_get_files")
needs_eager_zipimport = pytest.mark.skipif(
    LAZY_ZIPIMPORT, reason="zipimport re-reads lazily here; nothing is guarded")


# ---------------------------------------------------------------------------
# _slice_by_bytes
# ---------------------------------------------------------------------------

def _slices_by_as_py(batch, idxs, max_batch_bytes):
    """The sizing rule the Arrow-offset one replaced: copy each value out
    and add up a row's bytes over the sized columns."""
    sizes = [0] * batch.num_rows
    for i in idxs:
        for r, v in enumerate(batch.column(i).to_pylist()):
            sizes[r] += len(v.encode() if isinstance(v, str) else v or b"")
    start = acc = 0
    for i, s in enumerate(sizes):
        if acc + s > max_batch_bytes and i > start:
            yield start, i - start
            start, acc = i, 0
        acc += s
    if start < batch.num_rows:
        yield start, batch.num_rows - start


@pytest.mark.parametrize("budget", [0, 1, 5, 10, 64, 100, 1 << 20])
def test_slice_boundaries_match_the_as_py_rule(budget):
    html = [b"a" * 3, None, b"", b"b" * 70, b"c" * 9, None, b"d" * 200,
            b"", b"e" * 10, b"f", None, b"g" * 64]
    title = ["é" * 5, "x", None, "", "y" * 40, None, "z", "w" * 90, "",
             None, "v" * 3, "u"]
    batch = pa.RecordBatch.from_pydict(
        {"url": [str(i) for i in range(len(html))], "html": html,
         "title": title},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary()),
                          ("title", pa.string())]))
    # the sized columns: the page alone, every string/binary argument of a
    # row kernel, and none (a kernel of an id)
    for idxs in ([1], [1, 2], []):
        expected = list(_slices_by_as_py(batch, idxs, budget))
        got = list(_slice_by_bytes(batch, idxs, budget))
        assert [(int(s.column(0)[0].as_py()), s.num_rows)
                for s in got] == expected
        assert pa.Table.from_batches(got).equals(pa.Table.from_batches([batch]))


def test_slice_of_an_empty_batch_yields_nothing():
    batch = pa.RecordBatch.from_pydict({"html": pa.array([], pa.binary())})
    assert list(_slice_by_bytes(batch, [0], 10)) == []
    assert list(_slice_by_bytes(batch, [], 10)) == []


# ---------------------------------------------------------------------------
# row_kernel / map_rows (the DDL is parsed by the session's JVM)
# ---------------------------------------------------------------------------

TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 6, tzinfo=datetime.timezone.utc)


@pytest.mark.spark
def test_output_schema_comes_from_the_ddl(spark):
    kernel = row_kernel(
        lambda x: (len(x), x.encode(), TS, [("n", len(x))]),
        "k int, a bigint, b binary, t timestamp, m map<string,bigint>",
        args=("x",), keep=("k",))
    batch = pa.RecordBatch.from_pydict(
        {"x": ["ab", "c"], "k": pa.array([7, 8], pa.int32())})
    (out,) = kernel(iter([batch]))
    assert out.schema.names == ["k", "a", "b", "t", "m"]
    assert out.schema.types == [
        pa.int32(), pa.int64(), pa.binary(), pa.timestamp("us", tz="UTC"),
        pa.map_(pa.string(), pa.int64())]
    assert out.to_pylist() == [
        {"k": 7, "a": 2, "b": b"ab", "t": TS, "m": [("n", 2)]},
        {"k": 8, "a": 1, "b": b"c", "t": TS, "m": [("n", 1)]}]


@pytest.mark.spark
def test_keep_column_is_cast_to_its_declared_type(spark):
    kernel = row_kernel(lambda s: (s.upper(),), "k bigint, s string",
                        args=("s",), keep=("k",))
    batch = pa.RecordBatch.from_pydict(
        {"k": pa.array([1, 2, 3], pa.int32()), "s": ["a", "b", "c"]})
    (out,) = kernel(iter([batch]))
    assert out.column(0).type == pa.int64()
    assert out.column(0).to_pylist() == [1, 2, 3]
    assert out.column(1).to_pylist() == ["A", "B", "C"]


@pytest.mark.spark
def test_null_and_empty_inputs_reach_the_row_function(spark):
    seen = []

    def fn(b, s):
        seen.append((b, s))
        return (None if b is None else len(b),)

    kernel = row_kernel(fn, "id string, n int", args=("b", "s"), keep=("id",))
    batch = pa.RecordBatch.from_pydict(
        {"id": ["0", "1", "2"], "b": pa.array([None, b"", b"xy"], pa.binary()),
         "s": [None, "", "é"]})
    (out,) = kernel(iter([batch]))
    assert seen == [(None, None), (b"", ""), (b"xy", "é")]
    assert out.to_pylist() == [{"id": "0", "n": None}, {"id": "1", "n": 0},
                               {"id": "2", "n": 2}]


@pytest.mark.spark
def test_empty_batch_yields_nothing(spark):
    kernel = row_kernel(lambda p: (len(p),), "doc_id bigint, n int",
                        args=("payload",), keep=("doc_id",))
    empty = pa.RecordBatch.from_pydict(
        {"doc_id": pa.array([], pa.int64()),
         "payload": pa.array([], pa.binary())})
    assert list(kernel(iter([empty]))) == []
    assert list(kernel(iter([]))) == []


@pytest.mark.spark
def test_any_payload_column_is_held_to_the_byte_budget(spark, monkeypatch):
    monkeypatch.setattr(udf, "MAX_BATCH_BYTES", 100)
    calls = []

    def fn(payload):
        calls.append(len(payload))
        return (len(payload),)

    kernel = row_kernel(fn, "doc_id bigint, n int", args=("payload",),
                        keep=("doc_id",))
    sizes = [30, 30, 30, 30, 250, 10, 90, 20, 0, 99, 1]
    batches = [
        pa.RecordBatch.from_pydict(
            {"doc_id": pa.array(range(lo, hi), pa.int64()),
             "payload": [b"p" * n for n in sizes[lo:hi]]})
        for lo, hi in ((0, 7), (7, 11))]
    out = list(kernel(iter(batches)))
    per_call = [b.column(1).to_pylist() for b in out]
    assert per_call == [[30, 30, 30], [30], [250], [10, 90], [20, 0],
                        [99, 1]]
    assert all(sum(c) <= 100 or len(c) == 1 for c in per_call)
    # row order survives the slicing
    assert [i for b in out for i in b.column(0).to_pylist()] == list(range(11))
    assert calls == sizes


@pytest.mark.spark
def test_map_rows_in_spark_keeps_order_and_types(spark):
    df = spark.range(0, 50, 1, 2).selectExpr(
        "cast(id as int) as k",
        "case when id % 7 = 0 then null else repeat('a', cast(id as int)) "
        "end as s")
    out = map_rows(df, lambda s: (None if s is None else len(s),),
                   "k bigint, n int", args=("s",), keep=("k",))
    assert out.schema.simpleString() == "struct<k:bigint,n:int>"
    rows = out.collect()
    assert [r.k for r in rows] == list(range(50))
    assert [r.n for r in rows] == [None if i % 7 == 0 else i
                                   for i in range(50)]


# ---------------------------------------------------------------------------
# the zip-directory guard, in this process
# ---------------------------------------------------------------------------

def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """Returns add(modules) -> archive path: writes a zip of the given
    modules and puts it first on sys.path.  Its importers and modules are
    dropped afterwards."""
    added = []

    def add(modules: dict) -> str:
        path = str(tmp_path / ("m%d.zip" % len(added)))
        _write_zip(path, modules)
        added.append((path, list(modules)))
        monkeypatch.syspath_prepend(path)
        return path

    yield add
    for path, names in added:
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        for name in names:
            sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _modname() -> str:
    return "hc_guard_probe_" + uuid.uuid4().hex


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    name = _modname()
    zip_on_path({name: "VALUE = 1\n"})
    assert importlib.import_module(name).VALUE == 1
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.reload(sys.modules[name]).VALUE == 1


def test_archive_rewritten_in_place_is_reread(zip_on_path, reads):
    name = _modname()
    path = zip_on_path({name: "VALUE = 1\n"})
    mod = importlib.import_module(name)
    importlib.invalidate_caches()
    inode = os.stat(path).st_ino
    _write_zip(path, {name: "VALUE = 22\n", name + "_new": "VALUE = 3\n"})
    assert os.stat(path).st_ino == inode
    del reads[:]
    importlib.invalidate_caches()
    if not LAZY_ZIPIMPORT:
        assert path in reads
    assert importlib.reload(mod).VALUE == 22
    assert importlib.import_module(name + "_new").VALUE == 3


def test_archive_that_cannot_be_stat_ed_is_forgotten(zip_on_path):
    name = _modname()
    path = zip_on_path({name: "VALUE = 1\n"})
    importlib.import_module(name)
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    sys.modules.pop(name)
    with pytest.raises(ImportError):
        importlib.import_module(name)


def test_new_archive_on_path_is_importable(zip_on_path):
    first, second = _modname(), _modname()
    zip_on_path({first: "VALUE = 1\n"})
    importlib.import_module(first)
    importlib.invalidate_caches()
    zip_on_path({second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(second).VALUE == 2


@needs_eager_zipimport
def test_install_is_idempotent():
    guard = zipimport.zipimporter.invalidate_caches
    assert hasattr(guard, "unguarded"), "importing the package installs it"
    udf.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is guard
    assert not hasattr(guard.unguarded, "unguarded")


def test_install_is_a_noop_on_lazy_zipimport(monkeypatch):
    zi = zipimport.zipimporter
    plain = getattr(zi.invalidate_caches, "unguarded", zi.invalidate_caches)
    monkeypatch.setattr(zi, "invalidate_caches", plain)
    if not LAZY_ZIPIMPORT:
        monkeypatch.setattr(zi, "_get_files", lambda self: {}, raising=False)
    udf.install_zip_guard()
    assert zi.invalidate_caches is plain


# ---------------------------------------------------------------------------
# the guard in Spark's Python workers
# ---------------------------------------------------------------------------

def _pages(spark, n):
    return spark.range(0, n, 1, n).selectExpr(
        "cast(id as string) as url",
        "timestamp'2024-01-01 00:00:00' as warc_ts",
        "cast('<html><body><p>x</p></body></html>' as binary) as html",
        "'en' as lang",
    )


def _read_count_kernel():
    """A package kernel (the cascade) that reports, per task, its worker's
    pid and how many zip directories that worker has read since its first
    task counted them."""
    cascade = make_cascade_fn()

    def kernel(batches):
        if not hasattr(zipimport, "_test_reads"):
            real = zipimport._read_directory
            zipimport._test_reads = [0]

            def counting(archive):
                zipimport._test_reads[0] += 1
                return real(archive)

            zipimport._read_directory = counting
        rows = sum(b.num_rows for b in cascade(batches))
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "reads": [zipimport._test_reads[0]],
            "rows": [rows]})

    return kernel


@pytest.mark.spark
@needs_eager_zipimport
def test_workers_do_not_reread_zip_directories_per_task(spark, tmp_path):
    tasks = 2 * spark.sparkContext.defaultParallelism
    reports = []
    for _ in range(2):  # warm-up, then the measured tasks
        reports += _pages(spark, tasks).mapInArrow(
            _read_count_kernel(), "pid long, reads long, rows long").collect()
    assert sum(r.rows for r in reports) == 2 * tasks
    by_pid = collections.defaultdict(list)
    for r in reports:
        by_pid[r.pid].append(r.reads)
    assert any(len(v) > 1 for v in by_pid.values()), "no worker was reused"
    assert {pid: v for pid, v in by_pid.items() if len(set(v)) > 1} == {}

    # an archive shipped after the workers are guarded is still importable
    name = _modname()
    path = str(tmp_path / (name + ".zip"))
    _write_zip(path, {name: "VALUE = 7\n"})
    spark.sparkContext.addPyFile(path)

    def imports_it(batches):
        value = importlib.import_module(name).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    got = spark.range(0, tasks, 1, tasks).mapInArrow(imports_it, "v long").collect()
    assert [r.v for r in got] == [7] * tasks
