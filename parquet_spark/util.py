"""Shared low-level helpers: LEB128 varints, bit-length math, crc, and
the Python-task start-up work the engine's task bodies do first
(`worker_task_start`: the import-cache trim and the worker heap freeze)."""

from __future__ import annotations

import gc
import os
import sys
import zipimport
import zlib

import numpy as np


def leb128_encode(value: int) -> bytes:
    """Unsigned LEB128, identical to the reference's writer
    (/root/reference/internal/rle/rle.go:130-137)."""
    if value < 0:
        raise ValueError("leb128 encodes unsigned ints only")
    out = bytearray()
    while value & ~0x7F:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value & 0x7F)
    return bytes(out)


def leb128_decode(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one LEB128 varint from buf at pos; returns (value, new_pos).
    Mirrors /root/reference/internal/rle/rle.go:274-290."""
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def bit_length(value: int) -> int:
    """Bits needed to represent non-negative value (0 -> 0)."""
    if value < 0:
        raise ValueError("bit_length of negative value")
    return int(value).bit_length()


def crc32(buf: bytes) -> int:
    return zlib.crc32(buf) & 0xFFFFFFFF


def as_uint64(arr: np.ndarray) -> np.ndarray:
    """Reinterpret a signed integer array as uint64 (two's complement),
    widening first. Used for overflow-safe frame-of-reference deltas."""
    return arr.astype(np.int64, copy=False).view(np.uint64)


def drop_spark_archive_importers() -> None:
    """Drop the zipimporters of Spark's own archives from this Python
    worker's import cache, so the next task's start-up does not re-read
    them. Task bodies call it through `worker_task_start`; on the driver
    it does nothing.

    Why: at the start of every task PySpark's worker
    (`pyspark/worker_util.py: setup_spark_files`) calls
    `importlib.invalidate_caches()`, and on CPython 3.11
    `zipimporter.invalidate_caches()` eagerly re-reads its archive's whole
    central directory. Workers import pyspark from `pyspark.zip`, so a
    worker's `sys.path_importer_cache` holds one zipimporter per imported
    pyspark subpackage (13 over pyspark.zip, 1,328 entries each), two over
    the spark-core jar (5,359 entries each) and one over the py4j zip:
    ~26.7k directory entries parsed in pure Python per task, 0.26-0.49 s
    of every task on a 4-CPU host (local[4]). A 4-task identity
    `mapInArrow` took 0.54-0.78 s against 0.09 s for a JVM-only job, and
    0.28 s once the cache entries are gone.

    Why it is safe: the cache is a memo. `PathFinder` rebuilds a missing
    entry through `sys.path_hooks`, and the zipimporter constructor reuses
    `zipimport._zip_directory_cache`, so the rebuild reads nothing.
    Spark's archives do not change during a session. Zips under the
    task's SparkFiles root (`addPyFile`, `--py-files`) keep their entries,
    and with them Spark's invalidate semantics.

    It runs on every task, not once per process: the scan is ~100 dict
    entries, and later imports add entries back. The task that calls it
    has already paid for its own invalidate; the saving goes to every
    later task in the reused worker."""
    from pyspark import SparkFiles

    root = SparkFiles._root_directory
    if not SparkFiles._is_running_on_worker or not root:
        return
    keep = os.path.join(root, "")
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and not finder.archive.startswith(keep):
            del cache[key]


# len(sys.modules) at this process's last freeze: per process, like the
# collector state it tracks
_frozen_at_modules = -1


def freeze_worker_heap() -> None:
    """Move this Python worker's live objects into the cyclic garbage
    collector's permanent generation (`gc.freeze()`), so PySpark's
    per-task full collection stops re-walking them. Freezes again only
    when `len(sys.modules)` differs from its value at this process's last
    freeze: the first engine task in every worker freezes, and a later
    one only after new imports. On the driver it does nothing.

    Why: a reused worker returns to `pyspark/daemon.py`, which runs
    `gc.collect()` after every task. That is a full walk of everything the
    worker has imported (pyarrow, numpy, pyspark, the engine): 19-51 ms of
    worker CPU per task on a 4-CPU host (local[4]), spent before the
    worker can take its next task and competing with the JVM for the
    cores. With the imported heap frozen, the walk covers only what the
    task itself created (about 1 ms).

    Why it is safe: `gc.freeze()` is CPython's documented API for
    long-lived heaps. Reference counting still frees frozen objects; only
    the cyclic collector skips them. The one thing never reclaimed is a
    reference cycle that is alive at a freeze and dies later: at most one
    task's in-flight objects per import event. It runs no collection of
    its own (the daemon has just run one), and no encoded byte depends on
    it."""
    global _frozen_at_modules
    from pyspark import SparkFiles

    n_modules = len(sys.modules)
    if not SparkFiles._is_running_on_worker or n_modules == _frozen_at_modules:
        return
    gc.freeze()
    _frozen_at_modules = n_modules


def worker_task_start() -> None:
    """The start-up every engine Python task body runs first: trim the
    import cache (`drop_spark_archive_importers`), then freeze the heap
    (`freeze_worker_heap`). Both do nothing on the driver."""
    drop_spark_archive_importers()
    freeze_worker_heap()
