"""The Arrow shell around the cascade (functions/udf.py): byte-budget slicing
and the worker's zip-directory guard.

The guard tests count calls to ``zipimport._read_directory``; they never time
anything.
"""

from __future__ import annotations

import collections
import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pytest

from htmlcleanup_spark.functions import udf
from htmlcleanup_spark.functions.udf import _slice_by_bytes, make_cascade_fn

LAZY_ZIPIMPORT = hasattr(zipimport.zipimporter, "_get_files")
needs_eager_zipimport = pytest.mark.skipif(
    LAZY_ZIPIMPORT, reason="zipimport re-reads lazily here; nothing is guarded")


# ---------------------------------------------------------------------------
# _slice_by_bytes
# ---------------------------------------------------------------------------

def _slices_by_as_py(batch, html_idx, max_batch_bytes):
    """The sizing rule the Arrow-offset one replaced: copy each page out."""
    sizes = [len(v.as_py() or b"") for v in batch.column(html_idx)]
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
    batch = pa.RecordBatch.from_pydict(
        {"url": [str(i) for i in range(len(html))], "html": html},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]))
    expected = list(_slices_by_as_py(batch, 1, budget))
    got = list(_slice_by_bytes(batch, 1, budget))
    assert [(int(s.column(0)[0].as_py()), s.num_rows) for s in got] == expected
    assert pa.concat_arrays([s.column(1) for s in got]).equals(batch.column(1))


def test_slice_of_an_empty_batch_yields_nothing():
    batch = pa.RecordBatch.from_pydict({"html": pa.array([], pa.binary())})
    assert list(_slice_by_bytes(batch, 0, 10)) == []


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
