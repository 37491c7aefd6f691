"""Worker import caches: ``importlib.invalidate_caches()`` re-reads a zip
archive's directory only when the archive changed (CPython < 3.13, in
Spark Python workers only)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from stirling_pdf_spark import _worker_imports

eager = pytest.mark.skipif(sys.version_info >= (3, 13),
                           reason="zipimport re-reads lazily from 3.13 on")


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_not_installed_outside_workers():
    assert _worker_imports.install() is False
    assert zipimport.zipimporter.invalidate_caches is _worker_imports._reread


@eager
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wi_mod_a": "X = 1\n"})
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_worker_imports, "_read_at", {})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert _worker_imports.install() is True
        assert importlib.import_module("wi_mod_a").X == 1
        importlib.invalidate_caches()   # first call after install reads once
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"wi_mod_a": "X = 1\n", "wi_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) >= 1
        assert importlib.import_module("wi_mod_b").Y == 2
    finally:
        for name in ("wi_mod_a", "wi_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@eager
def test_worker_tasks_skip_rereads(spark):
    """After a package UDF has run in a worker, later tasks in that
    worker re-read no archive directory at task start."""
    from stirling_pdf_spark.corpus.spark_synth import synth_docs_df
    from stirling_pdf_spark.operators.extract_pipeline import extract_spans

    docs = synth_docs_df(spark, 8, num_partitions=2)
    assert extract_spans(docs, num_partitions=2).count() == 8

    def probe(_rows):
        import importlib
        import zipimport

        # importing the package installs the patch
        import stirling_pdf_spark._worker_imports as wi

        if hasattr(zipimport, "_probe_reads"):
            # re-reads since this worker's previous probe ended: those
            # of this task's start-up
            reads = zipimport._probe_reads - zipimport._probe_mark
        else:
            real_read = zipimport._read_directory
            zipimport._probe_reads = 0

            def counting_read(path):
                zipimport._probe_reads += 1
                return real_read(path)

            zipimport._read_directory = counting_read
            importlib.invalidate_caches()   # the one read after install
            reads = None
        zipimport._probe_mark = zipimport._probe_reads
        yield reads, zipimport.zipimporter.invalidate_caches is wi.invalidate_caches

    later = []
    for _ in range(8):
        for reads, installed in (spark.sparkContext.parallelize(range(4), 4)
                                 .mapPartitions(probe).collect()):
            assert installed
            if reads is not None:
                later.append(reads)
    assert later, "no worker ran two probe tasks"
    assert set(later) == {0}, later
