"""importlib.invalidate_caches() re-reads a zip archive only when the
archive changed (the fix installed by importing rocketmq_flink_spark)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

import rocketmq_flink_spark  # noqa: F401  (installs the fix)

PATCHED = sys.version_info < (3, 13)


def _build_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_invalidate_caches_rereads_only_changed_archive(tmp_path, monkeypatch):
    """A second invalidate_caches() reads no unchanged archive; replacing
    the archive makes the next one re-read it, so a module added to the
    new archive imports."""
    if not PATCHED:
        assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
        return
    archive = str(tmp_path / "zpkg.zip")
    files = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/a.py": "X = 1\n",
    }
    _build_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zpkg.sub.a").X == 1

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()  # may re-read: first call per importer
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        staged = str(tmp_path / "zpkg.zip.new")
        _build_zip(staged, {**files, "zpkg/sub/b.py": "Y = 2\n"})
        os.replace(staged, archive)
        importlib.invalidate_caches()
        assert reads
        assert importlib.import_module("zpkg.sub.b").Y == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_python_worker_skips_unchanged_zip(spark):
    """A Python worker that imported the package re-reads no zip archive
    on a second importlib.invalidate_caches()."""

    def probe(batches):
        import importlib
        import zipimport

        import rocketmq_flink_spark as pkg

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        installed = zipimport.zipimporter.invalidate_caches is getattr(
            pkg, "_invalidate_changed_zip", None)
        yield pa.RecordBatch.from_pydict(
            {"reads": [len(reads)], "installed": [installed]})

    row = (spark.range(1).mapInArrow(probe, "reads long, installed boolean")
           .collect()[0])
    assert row.reads == 0
    assert row.installed == PATCHED
