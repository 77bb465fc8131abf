"""The worker-side zip re-read guard (``operators._util.
skip_unchanged_zip_rereads``): pyspark calls ``importlib.invalidate_caches()``
on every task, which before Python 3.13 makes each cached zipimporter
re-read its whole archive directory. The guard keeps re-reads of changed
archives and drops those of unchanged ones."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from clkhash_spark.operators import _util as U


class _InTask:
    """Stands in for ``TaskContext`` inside a Spark Python task."""

    @staticmethod
    def get():
        return object()


@pytest.fixture
def restore_zipimporter(monkeypatch):
    # Registers the original for restoration at teardown, whatever the
    # test installs over it.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)  # a replaced archive: new inode, size, mtime


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13's zipimport re-reads lazily already")
def test_rereads_only_a_changed_archive(tmp_path, monkeypatch,
                                        restore_zipimporter):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipmod_first"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zipmod_first").NAME == "zipmod_first"

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(U, "TaskContext", _InTask)
    U.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches.stat_checked

    importlib.invalidate_caches()  # first call reads and stamps
    assert len(reads) == 1
    importlib.invalidate_caches()  # unchanged archive: no re-read
    importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, ["zipmod_first", "zipmod_second"])
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zipmod_second").NAME == "zipmod_second"
    for name in ("zipmod_first", "zipmod_second"):
        sys.modules.pop(name, None)


def test_noop_outside_a_task(restore_zipimporter):
    original = zipimport.zipimporter.invalidate_caches
    U.skip_unchanged_zip_rereads()  # the driver has no TaskContext
    assert zipimport.zipimporter.invalidate_caches is original


def test_noop_on_python_313(monkeypatch, restore_zipimporter):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(U, "TaskContext", _InTask)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    U.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is original


def _report_guard(batches):
    import zipimport

    import pyarrow as pa

    installed = getattr(zipimport.zipimporter.invalidate_caches,
                        "stat_checked", False)
    for batch in batches:
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed] * batch.num_rows})


@pytest.mark.spark
@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the guard is a no-op on 3.13+")
def test_pipeline_workers_carry_the_guard(spark):
    from clkhash_spark.pipeline import (
        LinkageConfig,
        run_linkage,
        webpages_schema,
    )
    from clkhash_spark.sources.webpages import synthetic_webpages

    pages = synthetic_webpages(spark, 200, seed=7).select("url", "text")
    config = LinkageConfig(schema=webpages_schema(), secret="s")
    run_linkage(spark, pages, config).pairs.collect()

    # Workers are reused across jobs, so a later task lands on a worker
    # that ran a pipeline Arrow pass and already carries the guard.
    rows = spark.range(8, numPartitions=4).mapInArrow(
        _report_guard, "installed boolean"
    ).collect()
    assert any(r.installed for r in rows)
