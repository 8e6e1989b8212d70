"""Shared Hadoop FileSystem helpers (py4j) — ONE home for the
jvm-Path/getFileSystem dance the streaming module uses to read a
streaming checkpoint's metadata. Correct on any Spark-visible filesystem
(HDFS/S3A/local), unlike os.path which only sees the driver's local
FS."""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) triple for `path` under the session's
    Hadoop configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm

