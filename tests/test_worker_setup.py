"""Per-worker-process set-up: the zip-import directory cache.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython < 3.12 that made every cached ``zipimporter`` re-read
its archive's whole directory (``pyspark.zip``, 16 importers) on every task.
``arrow_pool.use_cached_zip_directories`` re-reads an archive only when its
stat changed, and only inside a reused Spark worker.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from ivfadc_spark.functions import arrow_pool

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads zip directories lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(monkeypatch, tmp_path):
    """A zip of one module on sys.path, CPython's own invalidate_caches
    restored after the test, and a list of the archives re-read."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", arrow_pool._reread_directory
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    try:
        yield archive, reads
    finally:
        for name in ("zipmod_a", "zipmod_b"):
            sys.modules.pop(name, None)


def test_zip_directory_reread_only_when_archive_changes(monkeypatch, zip_on_path):
    archive, reads = zip_on_path
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    import zipmod_a

    assert zipmod_a.X == 1
    arrow_pool.use_cached_zip_directories()
    arrow_pool.use_cached_zip_directories()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is arrow_pool._reread_if_changed

    importlib.invalidate_caches()  # first guarded call: no stat recorded yet
    assert str(archive) in reads
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive is re-read once, and its new module imports
    _write_zip(archive, {"zipmod_a": "X = 1\n", "zipmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    import zipmod_b

    assert zipmod_b.Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_zip_cache_not_installed_outside_reused_worker(monkeypatch, zip_on_path):
    archive, reads = zip_on_path
    monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    import zipmod_a  # noqa: F401

    arrow_pool.use_cached_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is arrow_pool._reread_directory
    reads.clear()
    for _ in range(2):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2


def test_spark_workers_skip_unchanged_zip_rereads(spark):
    """Every task of a reused worker runs with the cache installed: an
    invalidate_caches() after the first re-reads no zip directory."""
    from ivfadc_spark.operators.clustering import assign_cells

    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(16), "v": [[float(i), 1.0] for i in range(16)]}),
        schema="vec_id long, v array<double>",
    ).repartition(8)
    cent = pd.DataFrame({"cell": [0, 1], "b": [[1.0, 0.0], [0.0, 1.0]]})
    assert assign_cells(vecs, cent).count() == 16

    def probe(batches):
        import importlib
        import zipimport

        from ivfadc_spark.functions import arrow_pool

        for _ in batches:
            pass
        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        installed = zipimport.zipimporter.invalidate_caches is arrow_pool._reread_if_changed
        yield pd.DataFrame({"installed": [installed], "rereads": [len(reads)]})

    got = spark.range(8, numPartitions=8).mapInPandas(probe, "installed boolean, rereads long")
    rows = got.collect()
    assert len(rows) == 8
    assert all(r.installed for r in rows), rows
    assert all(r.rereads == 0 for r in rows), rows
