"""Per-worker-process set-up: the Arrow memory pool and the zip-import cache.

Arrow pool. Measured on this engine's combiner kernel (tokenize ->
dictionary-encode -> unique -> varint, 16 pinned processes, interleaved
trials): pyarrow's default jemalloc pool is BIMODAL under 16-way process
concurrency — the same workload lands at either ~8.5 or ~1.0 chunk-iters/s
per 16 procs (page-fault/purging contention), while mimalloc is stable at
~9.4 with near-perfect 4->16 scaling (0.95 vs the 0.28 jemalloc mode). The
encode, decode and fsck kernels (``postings.py``, ``fsck.py``) call
:func:`use_scalable_pool` on entry — a no-op after the first call per
process; the ``wand.py`` scans do not, and run on whatever pool the worker
already has. :func:`scalable_alloc_env` covers every worker: the session
factory sets it in the executor environment, so ``ARROW_DEFAULT_MEMORY_POOL``
picks mimalloc before any kernel runs.

Purge behavior matters as much as the allocator: an allocator that returns
freed pages to the OS makes every worker re-fault them on the next chunk,
and concurrent page-fault/zeroing in the kernel is the single worst scaling
bottleneck measured on this host (the same 16-process kernel run scores
1.1 chunk-iters/proc with default purging vs 10.1 with purging disabled —
9x). ``MIMALLOC_PURGE_DELAY=-1`` keeps freed pages resident; peak RSS per
worker stays bounded by the largest chunk working set, which the encode
chunking already caps. The env must be set before mimalloc initializes, so
the session factory also injects it into executor environments.

Zip-import cache. PySpark's worker calls ``importlib.invalidate_caches()``
at the start of every task (``worker_util.setup_spark_files``). On CPython
3.10-3.11 that makes every cached ``zipimporter`` re-read its archive's
whole directory at once: a reused worker holds 16 of them (12 into
``pyspark.zip``, 1,328 entries; 2 into py4j's zip; 2 into the spark-core
jar), so every Python task parsed those directories 16 times — ~0.3 core-s
per task before any work, measured on an empty ``mapInPandas`` (4 vCPU,
``local[4]``). :func:`use_cached_zip_directories`
makes an importer re-read only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` differ from its last re-read, so a rewritten or replaced zip (an
``addPyFile`` of a new version) is still re-read. The package ``__init__``
calls it, so a reused worker installs it when it unpickles its first UDF
that refers to an engine module (the scan, encode and decode kernels do); a
freshly forked worker still pays the re-reads of its first task or two. It
does nothing on CPython 3.12+ (which re-reads lazily) or outside a reused
Spark worker (no ``SPARK_REUSE_WORKER``, e.g. the driver).
"""

from __future__ import annotations

import os
import sys
import zipimport

# CPython's own directory re-read, captured before any install
_reread_directory = zipimport.zipimporter.invalidate_caches


def scalable_alloc_env() -> dict[str, str]:
    """Env vars that keep allocation churn out of the kernel: mimalloc Arrow
    pool, no page purging, and glibc (numpy's allocator) told to reuse its
    heap instead of mmap/munmap-ing every large buffer."""
    return {
        "ARROW_DEFAULT_MEMORY_POOL": "mimalloc",
        "MIMALLOC_PURGE_DELAY": "-1",
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }


def use_scalable_pool() -> None:
    # setdefault is best-effort: it only takes effect if mimalloc has not
    # allocated yet in this process (true for freshly forked workers)
    os.environ.setdefault("MIMALLOC_PURGE_DELAY", "-1")
    try:
        import pyarrow as pa

        if pa.default_memory_pool().backend_name != "mimalloc":
            pa.set_memory_pool(pa.mimalloc_memory_pool())
    except Exception:
        pass  # pool unavailable in this build: keep the default


def _reread_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive directory
    only when the archive's stat differs from this importer's last re-read.
    The stat is taken before the read, so a change racing the read shows as
    a changed stat on the next call."""
    try:
        st = os.stat(importer.archive)
        stat = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stat = None  # gone or unreadable: CPython drops the directory
    if stat is None or stat != getattr(importer, "_directory_stat", None):
        _reread_directory(importer)
        importer._directory_stat = stat


def use_cached_zip_directories() -> None:
    """Install :func:`_reread_if_changed` as every zipimporter's
    ``invalidate_caches`` in a reused Spark Python worker on CPython < 3.12;
    anywhere else do nothing. Idempotent."""
    if sys.version_info >= (3, 12) or "SPARK_REUSE_WORKER" not in os.environ:
        return
    zipimport.zipimporter.invalidate_caches = _reread_if_changed
