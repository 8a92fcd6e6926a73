"""zipimport_cache: a Spark worker's per-task ``importlib.invalidate_caches()``
re-reads a zip archive's directory only after the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from photohive_spark import zipimport_cache

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport re-reads lazily from Python 3.13 on")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@needs_eager_zipimport
def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    pkg = "zc_probe_pkg"
    archive = tmp_path / "probe.zip"
    members = {f"{pkg}/__init__.py": "",
               f"{pkg}/sub/__init__.py": "",
               f"{pkg}/sub/leaf.py": "X = 1\n"}
    _write_zip(archive, members)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport_cache._invalidate_caches)
    try:
        importlib.import_module(f"{pkg}.sub.leaf")
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)
                     and f.archive == str(archive)]
        assert len(importers) >= 3     # the zip, pkg/ and pkg/sub/

        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            if path == str(archive):
                reads.append(path)
            return stock_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()  # first sight: one read, not one each
        assert len(reads) == 1
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {**members, f"{pkg}/extra.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert {id(f._files) for f in importers} \
            == {id(zipimport._zip_directory_cache[str(archive)])}
        assert importlib.import_module(f"{pkg}.extra").Y == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(str(archive), None)
        zipimport_cache._read_stamps.pop(str(archive), None)


@needs_eager_zipimport
def test_installed_on_spark_workers(spark):
    """After a package kernel has run on a worker, a later task on the
    same worker (one that does not import the package) sees the patch."""
    import pyarrow as pa

    def kernel(batches):
        import os

        from photohive_spark.fast_hash import repetition_arrow
        for b in batches:
            repetition_arrow(b.column(0))
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid()}])

    def probe(batches):
        import os
        import zipimport
        for _ in batches:
            pass
        patched = zipimport.zipimporter.invalidate_caches.__module__ \
            == "photohive_spark.zipimport_cache"
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "patched": patched}])

    texts = spark.createDataFrame([(f"w{i} x y",) for i in range(16)],
                                  "text string").repartition(8)
    kernel_pids = {r.pid for r in texts.mapInArrow(kernel, "pid long")
                   .collect()}
    probes = spark.range(16, numPartitions=8) \
        .mapInArrow(probe, "pid long, patched boolean").collect()
    reused = [r for r in probes if r.pid in kernel_pids]
    assert reused, "no worker was reused between the two jobs"
    assert all(r.patched for r in reused)


def test_noop_outside_workers_and_on_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    assert zipimport_cache.install() is False     # not a Spark worker
    monkeypatch.setitem(sys.modules, "pyspark.worker", sys)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipimport_cache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
