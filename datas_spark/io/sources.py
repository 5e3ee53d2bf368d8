"""Sources: JSON/JSONL/Parquet scans, row-id minting, row-range select.

Reference behavior being re-expressed (SURVEY §2.1):
- S1 JSON/JSONL auto-loader — ``/root/reference/src/pipeline/base.py:8-18``
  (``load_json_or_jsonl`` sniffs array-JSON vs JSONL), ``main.py:154``.
- S2 row-range select — ``main.py:157-159`` (``dataset.select(range(a,b))``,
  ``end=-1`` → all rows).

Scale notes:
- ``with_row_id`` mints a deterministic, dense ``row_id`` over an
  explicit total order. We deliberately do NOT use a bare
  ``monotonically_increasing_id`` (partition-dependent, not stable
  across reruns → breaks stride sampling determinism and the oracle),
  and we do NOT use ``row_number()`` over a partition-less window — a
  global window funnels the entire table through ONE reducer. Instead
  the mint reuses ``selection.skew_resistant_rank``'s construction:
  one balanced range exchange on the order key, local sorts, and a
  broadcast-tiny per-partition offset table — identical output, every
  partition ranks in parallel. Mint once at ingest, persist to
  Parquet, and every downstream read is free.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_json_auto(spark: SparkSession, path: str) -> DataFrame:
    """S1: read ``.jsonl`` (line-delimited) or ``.json`` (array) by
    extension, mirroring ``load_json_or_jsonl`` (base.py:8-18) — but as a
    distributed scan with schema inference instead of ``json.load``."""
    if path.endswith(".jsonl"):
        return spark.read.json(path)
    return spark.read.option("multiLine", "true").json(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-testdata table (TESTDATA.md).

    The ``events`` table is written with nanosecond timestamps, which
    Spark's parquet reader rejects outright; we read them as longs
    (legacy conf, session-settable) and convert ns → µs with integer
    ``div`` — float division would lose precision at ns-epoch scale
    (> 2^53). Matches DuckDB's own ns→µs truncation.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def with_row_id(df: DataFrame, order_by: str | Column | list, name: str = "row_id") -> DataFrame:
    """Mint a deterministic 0-based dense row id over an explicit total
    order (SURVEY §4 'physical-design choices').

    ``order_by`` must be a total order (e.g. a natural key) for results
    to be reproducible. Returns a new DataFrame with ``name`` appended
    (as long — int32 overflows before 100 TB of rows does).

    Scale shape: no global window. The rank comes from
    ``skew_resistant_rank`` with a constant cluster key — a balanced
    range exchange on the order key, per-partition local sorts, and
    cumulative partition offsets from a broadcast-tiny aggregate. The
    only ordered single-task structure in the plan is the
    |partitions|-row offset frame.
    """
    from datas_spark.operators.selection import skew_resistant_rank

    cols = order_by if isinstance(order_by, list) else [order_by]
    key = [c if isinstance(c, Column) else F.col(c) for c in cols]
    prepared = df.withColumn("__rid_c", F.lit(0)).withColumn(
        "__rid_o", F.struct(*key)
    )
    ranked = skew_resistant_rank(prepared, "__rid_c", "__rid_o")
    return (
        ranked.withColumn(name, (F.col("__rn") - 1).cast("long"))
        .drop("__rn", "__m", "__rid_c", "__rid_o")
    )


def row_range(
    df: DataFrame,
    start: int = 0,
    end: int = -1,
    order_by: str | Column | list | None = None,
) -> DataFrame:
    """S2: rows [start, end) in a deterministic order; ``end=-1`` → all
    (main.py:157-159 semantics).

    With ``start == 0`` this is a plain ``limit`` (no global sort needed
    beyond the order spec Catalyst can push as TakeOrdered). Otherwise a
    ``row_number`` window + between-filter.
    """
    if start == 0 and end == -1:
        return df
    if order_by is None:
        raise ValueError("row_range needs an explicit order_by for determinism")
    cols = order_by if isinstance(order_by, list) else [order_by]
    if start == 0 and end >= 0:
        # TakeOrderedAndProject — no full shuffle/sort materialization.
        return df.orderBy(*cols).limit(end)
    # general [start, end): scale-safe row-id mint (range exchange +
    # partition offsets — see with_row_id), then a plain range filter
    upper = F.lit(end) if end >= 0 else F.lit(2**62)
    return (
        with_row_id(df, cols, name="__rn")
        .where((F.col("__rn") >= start) & (F.col("__rn") < upper))
        .drop("__rn")
    )
