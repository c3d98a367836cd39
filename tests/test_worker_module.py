"""The Python worker entry ``pyspark_graft_worker``: a task's
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    # restore the original method after the test: importing the module
    # patches zipimport for the whole process
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    shim = importlib.import_module("pyspark_graft_worker")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", shim.invalidate_caches)

    archive = str(tmp_path / "probe_pkg.zip")
    _write_zip(archive, {"graft_zip_probe": "VALUE = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("graft_zip_probe").VALUE == 1
        importlib.invalidate_caches()  # first sight of the archive: read
        n = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n  # unchanged: not read again

        _write_zip(
            archive,
            {"graft_zip_probe": "VALUE = 2\n", "graft_zip_probe_new": "VALUE = 3\n"},
        )
        importlib.invalidate_caches()
        assert len(reads) == n + 1  # rewritten: read once
        assert importlib.import_module("graft_zip_probe_new").VALUE == 3
    finally:
        for name in ("graft_zip_probe", "graft_zip_probe_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_tasks_run_the_worker_module(spark):
    import pandas as pd

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    got = spark.range(0, 2, numPartitions=2).mapInPandas(probe, "module string")
    assert set(got.toPandas()["module"]) == {"pyspark_graft_worker"}
