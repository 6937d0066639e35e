"""Driver-side Hadoop FileSystem helpers — the single home for the
``jvm Path + getFileSystem(hadoopConfiguration)`` dance: every caller
resolves through :func:`hadoop_path` (the one remaining raw
``jvm...Path`` construction, the lock-steal tombstone in
queries/similarity.py, builds a Path against an fs handle this
module already resolved). Using the Hadoop FS API (not os.path)
keeps every existence/delete/marker check working on whatever
filesystem the artifact lives on — local, HDFS, S3A — matching how
the data itself is written.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_path(spark: SparkSession, path: str):
    """``(Path, FileSystem)`` for ``path`` under the session's Hadoop
    configuration."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    p, fs = hadoop_path(spark, path)
    return bool(fs.exists(p))


def delete_recursive(spark: SparkSession, path: str) -> None:
    p, fs = hadoop_path(spark, path)
    fs.delete(p, True)


def dir_has_parquet(spark: SparkSession, directory: str) -> bool:
    """Any parquet data file directly under ``directory``? The
    committed-marker check: a crashed Spark write leaves no data file
    (the committer renames on success), so presence of one means the
    table landed."""
    p, fs = hadoop_path(spark, directory)
    if not fs.exists(p):
        return False
    for status in fs.listStatus(p):
        if status.getPath().getName().endswith(".parquet"):
            return True
    return False
