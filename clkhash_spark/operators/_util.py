"""Shared operator plumbing."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import DataFrame
from pyspark.taskcontext import TaskContext


def skip_unchanged_zip_rereads() -> None:
    """Stop a reused Python worker re-reading unchanged zip archives on
    every task; call it first thing in each Arrow function.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Before CPython
    3.13 that makes every cached ``zipimport.zipimporter`` re-read its
    archive's whole central directory at once (3.13 only drops the cache
    and re-reads on the next lookup). A pipeline worker holds one
    importer per package directory it imported from ``pyspark.zip``
    (16, over 1,328 archive entries each): measured with Python 3.11.7
    and pyspark 4.1.2 on a 4-core VM, ~0.2 s of every task went there
    before the UDF body started.

    Once per worker process, this swaps ``invalidate_caches`` for a
    stat-checked one: the original runs only when the archive's
    ``(st_mtime_ns, st_size, st_ino)`` differ from what that importer
    last read, so a changed or replaced archive is still re-read and new
    path entries are still found. No-op on the driver (no task) and on
    Python >= 3.13.
    """
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        # stat BEFORE the read: a change racing the read shows up as a
        # stamp mismatch on the next call, never as a missed re-read.
        if stamp is None or getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow input toward full parallelism.

    CPU-heavy narrow stages (Arrow UDFs, heavy regex scans) inherit the
    scan partitioning, and a single-file parquet input (one row group =
    one split, regardless of ``maxPartitionBytes``) pins them to one
    core. Fire only when the stage would otherwise run on fewer than
    3/4 of the scheduler's slots: re-shuffling a text/media payload for
    a <= 1.33x stage speedup is not worth it (ADVICE r5), and project
    to the needed columns BEFORE calling this so only they shuffle.
    Inert at scale, where scans arrive in many splits.
    """
    if df.isStreaming:
        # No static partitioning to inspect (df.rdd is illegal on a
        # stream); micro-batch sizing is the stream's own knob.
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, (3 * parallelism) // 4):
        return df.repartition(parallelism)
    return df
