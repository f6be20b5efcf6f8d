"""The worker daemon's zip-directory cache: ``importlib.invalidate_caches()``
(called by pyspark.worker at the start of every task) must not re-read an
unchanged archive, and must re-read one whose contents changed. And its
frozen heap: forked workers leave the preloaded modules out of the
``gc.collect()`` pyspark runs after every task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from datasketches_rust_spark.daemon import _cache_zip_directories


def _write_zip(path, members: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A ``zdemo`` package in a zip on sys.path, already imported and
    primed; yields (archive path, list of archives read since)."""
    # undone at teardown, so the cache stays out of the other tests
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _cache_zip_directories()
    archive = str(tmp_path / "zdemo.zip")
    _write_zip(archive, {"zdemo/__init__.py": "", "zdemo/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zdemo.a")
    importlib.invalidate_caches()  # the daemon's priming pass
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zdemo"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_not_reread(zip_pkg):
    archive, reads = zip_pkg
    # one importer for the archive root, one for the zdemo/ package dir
    assert sum(getattr(f, "archive", None) == archive
               for f in sys.path_importer_cache.values()) == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert importlib.import_module("zdemo.a").X == 1


def test_resized_archive_reread_and_new_member_importable(zip_pkg):
    archive, reads = zip_pkg
    _write_zip(archive, {"zdemo/__init__.py": "", "zdemo/a.py": "X = 1\n",
                         "zdemo/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    # read once, shared by both importers of the archive
    assert reads.count(archive) == 1
    assert importlib.import_module("zdemo.b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_touched_archive_reread(zip_pkg):
    archive, reads = zip_pkg
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_python_udf_job_on_cached_workers(spark):
    """Two Python UDF jobs over reused workers: rows stay correct, the
    workers run the cached invalidate_caches, and a module first imported
    from pyspark.zip inside the task still resolves."""
    def double(batches):
        import zipimport
        import pyspark.ml.linalg  # noqa: F401
        name = zipimport.zipimporter.invalidate_caches.__qualname__
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2, hook=name)

    df = spark.range(0, 1000, numPartitions=4).mapInPandas(
        double, "id long, hook string")
    for _ in range(2):
        rows = df.collect()
        assert sorted(r["id"] for r in rows) == list(range(0, 2000, 2))
        assert {r["hook"] for r in rows} == {
            "_cache_zip_directories.<locals>.invalidate_caches"}


def test_workers_start_with_frozen_heap(spark):
    """Reused workers inherit the daemon's preloads frozen, so the
    ``gc.collect()`` pyspark runs after every task does not walk them, and
    a reference cycle a task drops is still collected. (The count of
    unfrozen objects is not pinned: it grows with whatever earlier tasks
    imported into the reused worker.)"""
    def probe(batches):
        import gc
        import weakref

        import numpy
        import pandas
        import pyarrow as pa

        from datasketches_rust_spark import agg

        class Node:
            pass

        for batch in batches:
            node = Node()
            node.self = node
            ref = weakref.ref(node)
            del node
            gc.collect()
            walked = {id(o) for o in gc.get_objects()}
            preloads_walked = sum(id(vars(m)) in walked
                                  for m in (numpy, pandas, pa, agg))
            n = batch.num_rows
            yield pa.record_batch({
                "frozen": [gc.get_freeze_count()] * n,
                "preloads_walked": [preloads_walked] * n,
                "cycle_freed": [ref() is None] * n})

    df = spark.range(0, 400, numPartitions=4).mapInArrow(
        probe, "frozen long, preloads_walked long, cycle_freed boolean")
    for _ in range(2):
        rows = df.collect()
        assert len(rows) == 400
        assert min(r["frozen"] for r in rows) > 10_000
        assert max(r["preloads_walked"] for r in rows) == 0
        assert all(r["cycle_freed"] for r in rows)
