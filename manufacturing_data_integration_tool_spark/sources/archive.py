"""Archive sink: move processed files out of the inbox.

Reference: ``archive_file`` renames into ``data/processed/`` with a
``{YYYYmmdd_HHMMSS}_{name}`` prefix, gated by the
``ArchiveProcessedFiles`` flag (``src/etl_processor.py:160-179``).

Paths go through Hadoop ``Path`` and the session's file systems, so local
paths and ``file:`` / ``s3a://`` / ``hdfs://`` URIs keep scheme and
authority; a path with a scheme is read as the percent-encoded URI Spark
lists files as (``inputFiles()``, ``input_file_name()``).
"""

from __future__ import annotations

from datetime import datetime
from typing import Optional
from urllib.parse import urlsplit

from pyspark.sql import SparkSession


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    if urlsplit(path).scheme:
        return jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(path))
    return jvm.org.apache.hadoop.fs.Path(path)


def archive_file(
    spark: SparkSession,
    source_path: str,
    archive_dir: Optional[str] = None,
    *,
    enabled: bool = True,
    now: Optional[datetime] = None,
) -> Optional[str]:
    """Move ``source_path`` into ``archive_dir`` (default: ``processed/``
    beside the source) with a timestamp prefix. Returns the destination
    path, or None when disabled (reference gate, etl_processor.py:162-163)."""
    if not enabled:
        return None
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    src = _hadoop_path(spark, source_path)
    dest_dir = _hadoop_path(spark, archive_dir) if archive_dir else Path(src.getParent(), "processed")
    stamp = (now or datetime.now()).strftime("%Y%m%d_%H%M%S")
    dest = Path(dest_dir, f"{stamp}_{src.getName()}")

    dest_dir.getFileSystem(conf).mkdirs(dest_dir)
    if not src.getFileSystem(conf).rename(src, dest):
        raise IOError(f"archive rename failed: {source_path} -> {dest.toString()}")
    return dest.toString()
