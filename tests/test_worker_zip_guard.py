"""The Spark-worker zipimport guard (``pdf_extractor_spark._install_worker_zip_guard``).

pyspark calls ``importlib.invalidate_caches()`` before every task; before
CPython 3.12 that re-reads every zip archive on the import path once per
importer. The guard skips the re-read of an unchanged archive, and only
Spark Python workers install it."""

from __future__ import annotations

import importlib
import sys
import types
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zipimport caches lazily; no guard",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub.py", "")
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    import pdf_extractor_spark

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    # restore the stdlib method and the module table at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker"))
    for name in ("m1", "m2", "zpkg", "zpkg.sub"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        import m1  # noqa: F401
        import zpkg.sub  # noqa: F401  (a second importer of the same archive)

        importers = [k for k in sys.path_importer_cache if k.startswith(archive)]
        assert len(importers) == 2
        pdf_extractor_spark._install_worker_zip_guard()
        guard = zipimport.zipimporter.invalidate_caches
        pdf_extractor_spark._install_worker_zip_guard()
        assert zipimport.zipimporter.invalidate_caches is guard

        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1  # first call reads once, shared by both importers
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []  # unchanged archive: no re-read

        _write_zip(archive, ["m1", "m2"])
        importlib.invalidate_caches()
        assert len(reads) == 1
        import m2

        assert m2.NAME == "m2"
    finally:
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_guard_is_installed_in_workers_not_in_the_driver(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline import tokenize_stage

    docs = spark.createDataFrame(
        [(f"d{i}", bytearray(b"<p>hello worker number %d</p>" % i)) for i in range(8)],
        "doc_id string, content binary",
    ).repartition(4)
    assert len(tokenize_stage(docs).collect()) == 8

    def report(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return ("pdf_extractor_spark" in sys.modules, fn.__module__)

    report_udf = F.udf(report, "struct<pkg_loaded:boolean, module:string>")
    rows = (
        spark.range(0, 32, numPartitions=16)
        .select(report_udf("id").alias("r"))
        .select("r.*")
        .collect()
    )
    loaded = [r["module"] for r in rows if r["pkg_loaded"]]
    assert loaded and set(loaded) == {"pdf_extractor_spark"}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
