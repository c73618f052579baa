"""Processed-file manifest operators: the idempotency layer.

The reference tracks every S3 parquet file it has COPY'd into Redshift in a
``processed_files`` blacklist inside the watermark and set-subtracts it from
each discovery listing (gemini_redshift_loader.py:499-527,
simple_watermark_manager.py:186-229). Here the same semantics are DataFrame
set operations:

- exclusion  = ``left_anti`` join (P5) — scales to millions of manifest
  entries where the reference's in-memory set would not; a broadcast hint
  keeps it shuffle-free while the manifest is small.
- union-dedup = ``union().distinct()`` (U1)

Existence checks and listings go through the Hadoop ``FileSystem``
(:func:`path_exists`, :func:`child_dirs`), never ``os.path``: staging,
target, manifest and curated shards may be object-store or ``file://``
URIs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def files_df(spark: SparkSession, paths: list[str], col: str = "path") -> DataFrame:
    return spark.createDataFrame([(p,) for p in paths], f"{col} string")


def exclude_processed(discovered: DataFrame, processed: DataFrame,
                      on: str = "path") -> DataFrame:
    """P5: discovered files minus blacklist (reference :499-527).

    ``broadcast`` on the manifest side: it is tiny relative to the
    discovery listing, so the anti-join is map-side and shuffle-free."""
    return discovered.join(F.broadcast(processed.select(on).distinct()),
                           on=on, how="left_anti")


def union_dedup(a: DataFrame, b: DataFrame) -> DataFrame:
    """U1: blacklist union with set-dedup (reference
    simple_watermark_manager.py:205-208)."""
    return a.unionByName(b).distinct()


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, the filesystem its scheme names."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop ``FileSystem`` the path's scheme
    names — ``os.path.exists`` says "absent" for every ``s3a://`` or
    ``file://`` URI."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def child_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the directories directly under ``path``, listed through
    the same Hadoop ``FileSystem`` as :func:`path_exists`."""
    fs, hpath = _hadoop_fs(spark, path)
    return [st.getPath().getName() for st in fs.listStatus(hpath)
            if st.isDirectory()]


class ParquetManifest:
    """Processed-file manifest as a parquet table — the 100 TB replacement
    for the reference's JSON-array blacklist inside the watermark document
    (simple_watermark_manager.py:186-249).

    At millions of staged files the JSON doc and its driver-side set both
    explode; here membership is an anti-join against a parquet table and
    recording is an append of a path DataFrame — no path list is ever
    collect()ed to the driver. The v2.0 watermark doc keeps only counts
    (metadata), not the file array. Stored under a ``_``-prefixed
    directory so data reads of the staging root never see it."""

    SCHEMA = "path string, loaded_at timestamp"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # Recursive listFiles, because only an actual data file proves the
        # manifest holds entries: a directory containing nothing but empty
        # subdirs or marker files would otherwise send paths_df into a
        # schema-inference failure (round-3 advisor finding).
        if not path_exists(self.spark, self.path):
            return False
        fs, hpath = _hadoop_fs(self.spark, self.path)
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def paths_df(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], self.SCHEMA).select("path")
        return self.spark.read.schema(self.SCHEMA).parquet(self.path) \
            .select("path")

    def record(self, files: DataFrame) -> None:
        """Append newly loaded paths (a ``path``-column DataFrame). Dedup
        against existing entries stays an anti-join; the append itself is
        a distributed write. No broadcast hint — at the millions-of-files
        scale this class exists for, forcing the whole manifest to the
        driver per append is the exact bottleneck it removes; AQE picks
        broadcast while small and degrades to a shuffled anti-join."""
        new = files.select("path").distinct() \
            .join(self.paths_df(), "path", "left_anti") \
            .withColumn("loaded_at", F.current_timestamp())
        new.write.mode("append").parquet(self.path)

    def exclude_loaded(self, discovered: DataFrame, on: str = "path") -> DataFrame:
        """P5 blacklist exclusion at manifest scale: plain left_anti; no
        broadcast hint — AQE picks broadcast while the manifest is small
        and degrades to a shuffled anti-join when it is not."""
        return discovered.join(self.paths_df().withColumnRenamed("path", on)
                               .distinct(), on=on, how="left_anti")

    def count(self) -> int:
        return self.paths_df().count()
