"""Sinks (SURVEY §2.1 S3-S6).

Reference writes a single pretty-printed JSON file
(``/root/reference/main.py:263,482`` ``Dataset.to_json(indent=4)``).
Distributed engines write JSONL part-files; ``single_file=True`` gives
the reference's one-file behavior via ``coalesce(1)`` (fine for the
small selected subsets the reference emits; never used for bulk data).
Parquet is the intermediate/cache format replacing the reference's
``.pt`` feature caches (``main.py:168-171,263``) — columnar, prunable,
and partitionable by model/stage (``src/utils/get_info.py:118-140``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_json(df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False) -> None:
    """S3: JSONL sink. ``single_file`` mirrors the reference's one-file
    ``to_json`` for small result sets only."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S5/S6: Parquet intermediate store; ``partition_by`` replaces the
    reference's per-model artifact directories (partition pruning at
    read time)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _cache_marker_exists(spark: SparkSession, path: str) -> bool:
    """Check for the ``_SUCCESS`` marker through the Hadoop FileSystem
    API, so the guard works for ANY supported filesystem scheme
    (hdfs://, s3a://, file:/...) — ``os.path.exists`` only sees the
    driver's local disk and would silently rewrite a remote cache on
    every call."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")
    fs = marker.getFileSystem(hconf)
    return bool(fs.exists(marker))


def parquet_cache(
    spark: SparkSession, df: DataFrame, path: str, recompute: bool = False
) -> DataFrame:
    """C5/S5: materialized feature cache with a skip-if-exists guard
    (main.py:168-171 raises on existing ``.pt``; :312-314 reloads).

    Returns a DataFrame reading ``path``; computes + writes only when
    the cache is missing (or ``recompute``). Downstream stages read the
    Parquet — pruned, pushdown-capable — instead of re-running the
    (potentially model-backed) producer plan. The existence check goes
    through the Hadoop FileSystem of ``path``'s scheme, so remote
    stores (hdfs://, s3a://) honor the skip-if-exists contract too.
    """
    if recompute or not _cache_marker_exists(spark, path):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
