"""The engine's task bodies start with `util.worker_task_start`:

- they drop the zipimporters of Spark's own archives from a Python
  worker's import cache (`drop_spark_archive_importers`), so the
  `importlib.invalidate_caches()` at the start of every later task in
  that worker re-reads no archive directory; zips under the SparkFiles
  root (`addPyFile`) keep their entries;
- they freeze the worker's long-lived heap (`freeze_worker_heap`), so the
  daemon's `gc.collect()` after every task walks only what the task
  created."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkFiles
from pyspark.sql import functions as F

from parquet_spark import util
from parquet_spark.operators.decode import roundtrip_table
from parquet_spark.util import drop_spark_archive_importers, freeze_worker_heap


def _zip_package(path, pkg: str) -> str:
    """A zip holding package `pkg` with submodules `a` and `b`."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/a.py", "VALUE = 'a'\n")
        z.writestr(f"{pkg}/b.py", "VALUE = 'b'\n")
    return str(path)


def _zip_entries(archive: str) -> list[str]:
    return [
        k for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """Yields a factory: put a fresh zip package on sys.path and import
    its `a` submodule. Undoes the imports and cache entries afterwards."""
    made = []

    def make(path, pkg):
        archive = _zip_package(path, pkg)
        monkeypatch.syspath_prepend(archive)
        importlib.import_module(f"{pkg}.a")
        made.append((archive, pkg))
        return archive

    yield make
    for archive, pkg in made:
        for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def _as_worker(monkeypatch, root) -> None:
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))


def test_worker_drops_outside_zip_importers(tmp_path, monkeypatch, zip_pkg):
    archive = zip_pkg(tmp_path / "spark" / "lib.zip", "wi_outside_pkg")
    assert _zip_entries(archive)
    _as_worker(monkeypatch, tmp_path / "userFiles")

    drop_spark_archive_importers()

    assert _zip_entries(archive) == []
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or real(path))
    importlib.invalidate_caches()
    assert reads == []
    # the next import rebuilds the entry from zipimport's directory cache
    assert importlib.import_module("wi_outside_pkg.b").VALUE == "b"
    assert reads == []
    assert _zip_entries(archive)


def test_worker_keeps_spark_files_zip_importers(tmp_path, monkeypatch, zip_pkg):
    root = tmp_path / "userFiles"
    user = zip_pkg(root / "user.zip", "wi_user_pkg")
    outside = zip_pkg(tmp_path / "spark" / "lib.zip", "wi_other_pkg")
    kept = _zip_entries(user)
    assert kept and _zip_entries(outside)
    _as_worker(monkeypatch, root)

    drop_spark_archive_importers()

    assert _zip_entries(user) == kept
    assert _zip_entries(outside) == []


def test_driver_changes_nothing(tmp_path, monkeypatch, zip_pkg):
    zip_pkg(tmp_path / "spark" / "lib.zip", "wi_driver_pkg")
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    before = dict(sys.path_importer_cache)

    drop_spark_archive_importers()

    assert sys.path_importer_cache == before


def test_kernel_workers_hold_no_spark_archive_importers(spark, tmp_path):
    n = 4000
    t = pa.table({"k": pa.array(range(n), pa.int64()), "s": pa.array([f"w{i % 37}" for i in range(n)])})
    pq.write_table(t, str(tmp_path / "t.parquet"), row_group_size=n // 4)
    df = spark.read.parquet(str(tmp_path))
    par = spark.sparkContext.defaultParallelism

    def probe(batches):
        """Per worker pid: whether a codec kernel ran in this worker, and
        the zipimporter archives outside the SparkFiles root."""
        import os
        import sys
        import zipimport

        import pyarrow as pa
        from pyspark import SparkFiles

        root = os.path.join(SparkFiles.getRootDirectory(), "")
        outside = sorted({
            f.archive for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter) and not f.archive.startswith(root)
        })
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "kernel": ["parquet_spark.codecs.blocks" in sys.modules],
            "outside": [outside],
        })

    out = roundtrip_table(df)
    assert out.count() == n
    assert out.agg(F.sum("k")).collect()[0][0] == n * (n - 1) // 2

    rows = spark.range(0, par, numPartitions=par).mapInArrow(probe, "pid long, kernel boolean, outside array<string>").collect()
    kernel_pids = {r.pid: r.outside for r in rows if r.kernel}
    assert kernel_pids, rows
    assert all(outside == [] for outside in kernel_pids.values()), kernel_pids


def test_spark_files_zip_importable_after_kernel(spark, tmp_path):
    """In one task: import from an addPyFile zip, run a kernel, then the
    zip's importer is still cached and its other module still imports."""
    from parquet_spark.operators.decode import _decode_fn
    from pyspark.sql.types import LongType, StructField, StructType

    spark.sparkContext.addPyFile(_zip_package(tmp_path / "wi_addpy.zip", "wi_addpy_pkg"))
    kernel = _decode_fn([], StructType([StructField("x", LongType())]))

    def task(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa
        from pyspark import SparkFiles

        import wi_addpy_pkg.a

        for _ in kernel(iter([])):
            pass
        root = os.path.join(SparkFiles.getRootDirectory(), "")
        archives = {
            f.archive for f in list(sys.path_importer_cache.values()) if isinstance(f, zipimport.zipimporter)
        }
        import wi_addpy_pkg.b

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "user_cached": [any(a.endswith("wi_addpy.zip") and a.startswith(root) for a in archives)],
            "outside": [sorted(a for a in archives if not a.startswith(root))],
            "value": [wi_addpy_pkg.a.VALUE + wi_addpy_pkg.b.VALUE],
        })

    par = spark.sparkContext.defaultParallelism
    rows = spark.range(0, par, numPartitions=par).mapInArrow(
        task, "user_cached boolean, outside array<string>, value string"
    ).collect()
    assert len(rows) == par
    for r in rows:
        assert r.user_cached and r.outside == [] and r.value == "ab", r


@pytest.fixture
def fresh_heap(monkeypatch):
    """This process with nothing frozen and no freeze recorded; spies on
    `gc.freeze`. Yields the list of freeze calls; unfreezes afterwards."""
    calls = []
    real = gc.freeze
    gc.unfreeze()
    monkeypatch.setattr(util, "_frozen_at_modules", -1)
    monkeypatch.setattr(gc, "freeze", lambda: calls.append(len(sys.modules)) or real())
    yield calls
    gc.unfreeze()


def test_freeze_does_nothing_on_driver(monkeypatch, fresh_heap):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)

    freeze_worker_heap()

    assert gc.get_freeze_count() == 0
    assert fresh_heap == []


def test_freeze_once_per_import_state(tmp_path, monkeypatch, fresh_heap):
    _as_worker(monkeypatch, tmp_path / "userFiles")

    freeze_worker_heap()
    frozen = gc.get_freeze_count()
    assert frozen > 0 and len(fresh_heap) == 1

    # no new module: the second call does not re-freeze. Counted through
    # the gc.freeze spy: the freeze count itself may fall in between, when
    # another thread of this process frees a frozen object
    keep = [[i] for i in range(1000)]
    freeze_worker_heap()
    assert len(fresh_heap) == 1

    # a new import: the next call freezes again
    (tmp_path / "wi_freeze_mod.py").write_text("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.delitem(sys.modules, "wi_freeze_mod", raising=False)
    importlib.import_module("wi_freeze_mod")
    freeze_worker_heap()
    assert len(fresh_heap) == 2
    assert gc.get_freeze_count() > frozen
    del keep


def test_cycle_made_after_freeze_is_collected(tmp_path, monkeypatch, fresh_heap):
    import weakref

    class Node:
        pass

    _as_worker(monkeypatch, tmp_path / "userFiles")
    freeze_worker_heap()
    assert gc.get_freeze_count() > 0

    node = Node()
    node.self = node
    ref = weakref.ref(node)
    del node
    assert ref() is not None
    gc.collect()
    assert ref() is None


def test_kernel_workers_freeze_their_heap(spark, tmp_path):
    n = 4000
    t = pa.table({"k": pa.array(range(n), pa.int64()), "s": pa.array([f"w{i % 37}" for i in range(n)])})
    pq.write_table(t, str(tmp_path / "t.parquet"), row_group_size=n // 4)
    df = spark.read.parquet(str(tmp_path))
    par = spark.sparkContext.defaultParallelism

    def probe(batches):
        """Per worker pid: whether a codec kernel ran in this worker, and
        how many objects its cyclic collector has frozen."""
        import gc
        import os
        import sys

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "kernel": ["parquet_spark.codecs.blocks" in sys.modules],
            "frozen": [gc.get_freeze_count()],
        })

    def crc(frame):
        return frame.agg(F.sum(F.crc32(F.concat_ws(",", F.col("k").cast("string"), "s")))).collect()[0][0]

    out = roundtrip_table(df)
    assert out.count() == n
    assert crc(out) == crc(df)

    rows = spark.range(0, par, numPartitions=par).mapInArrow(probe, "pid long, kernel boolean, frozen long").collect()
    kernel_pids = {r.pid: r.frozen for r in rows if r.kernel}
    assert kernel_pids, rows
    assert all(frozen > 0 for frozen in kernel_pids.values()), kernel_pids
