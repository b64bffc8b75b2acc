"""Filesystem operations routed through the Hadoop FileSystem API.

The reference probes and cleans storage with driver-local POSIX calls
(``os.path.exists`` on a cloud mount — mm_bronze_silver.py:206,265;
SURVEY.md §2d-3). That silently breaks on the URIs a 100 TB deployment
actually uses: ``os.path.exists("s3a://...")`` is always False, which
would re-route every incremental load to "first load" and clobber the
table. Every existence probe / delete / size estimate in this engine
goes through ``Path.getFileSystem`` instead, which resolves the right
FileSystem implementation (local, HDFS, S3A, ABFS, ...) from the URI
scheme and the session's Hadoop configuration.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm  # noqa: SLF001 — the public py4j bridge
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe (works on file:, hdfs:, s3a:, ...)."""
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Scheme-aware delete; returns False when the path didn't exist."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, recursive))


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Scheme-aware rename (move). On local disk and HDFS this is a
    metadata-only directory move; on object stores without atomic
    rename (s3a) the FileSystem implementation falls back to a
    server-side copy — no recompute and no Spark job either way. Only
    ``io.writers.publish``/``published`` call it (pinned by
    tests/test_merge_semantics.py): every table swap goes through that
    one crash-safe sequence. Raises when the filesystem refuses the
    rename."""
    fs, jsrc = _fs_and_path(spark, src)
    _, jdst = _fs_and_path(spark, dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename failed: {src} -> {dst}")


def dir_size_bytes(spark: SparkSession, path: str) -> int:
    """Total byte size under a path (ContentSummary — one namenode/
    object-store listing, no data read)."""
    fs, jpath = _fs_and_path(spark, path)
    return int(fs.getContentSummary(jpath).getLength())
