"""The worker-side zipimport gate: an unchanged archive keeps its cached
directory across ``importlib.invalidate_caches()``, a changed one is
re-read, and only PySpark workers install it."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from ldtab_clj_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_keeps_directory_changed_one_is_reread(
        tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_mod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # undone by monkeypatch, so the driver keeps the stdlib method
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    try:
        assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        # the stdlib re-reads even an unchanged archive (Python <= 3.12)
        files = importer._files
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):
            assert importer._files is not files

        zipcache.install()
        importlib.invalidate_caches()  # first gated call reads + stamps
        files = importer._files
        for _ in range(3):
            importlib.invalidate_caches()
            assert importer._files is files

        _write_zip(archive, ["zc_mod_a", "zc_mod_b"])
        importlib.invalidate_caches()
        assert importer._files is not files
        assert "zc_mod_b.py" in importer._files
        assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_gate_installed_in_every_worker_not_in_driver(spark):
    def report(batches):
        # nested, so cloudpickle ships it by value; the import below is
        # what any package UDF's unpickling does in the worker
        import os
        import zipimport

        from ldtab_clj_spark import zipcache
        for _ in batches:
            pass
        gated = (zipimport.zipimporter.invalidate_caches
                 is zipcache.invalidate_if_changed)
        yield pd.DataFrame({"pid": [os.getpid()], "gated": [gated]})

    rows = (spark.range(0, 800, numPartitions=8)
            .mapInPandas(report, "pid long, gated boolean").collect())
    assert len(rows) == 8 and all(r.gated for r in rows), rows
    assert not zipcache.in_pyspark_worker()
    driver = zipimport.zipimporter.invalidate_caches
    assert (driver.__module__, driver.__qualname__) == \
        ("zipimport", "zipimporter.invalidate_caches")


def test_worker_heap_frozen_once_driver_heap_not(spark):
    """The daemon's gc.collect() after every task of a reused worker
    skips the heap frozen at the package's first import there."""
    import gc

    def report(batches):
        import gc
        import os

        import ldtab_clj_spark  # noqa: F401
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()],
                            "frozen": [gc.get_freeze_count()]})

    rows = (spark.range(0, 800, numPartitions=8)
            .mapInPandas(report, "pid long, frozen long").collect())
    assert len(rows) == 8 and all(r.frozen > 10_000 for r in rows), rows
    assert gc.get_freeze_count() == 0
