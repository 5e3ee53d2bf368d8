"""Structured Streaming operators — north-star extension (SURVEY §2.9;
the reference has no streaming of any kind).

Design: every transform here is the SAME Column-expression logic the
batch engine uses — a streaming DataFrame goes through identical
``join``/``groupBy(session_window)`` plans, which is the whole point
of re-expressing the reference on Spark: one set of operator
semantics, two execution modes. Each operator's batch twin is a
registered, oracle-checked query (``events_sessionize``,
``events_enriched``, ``events_attribution``); streaming runs are
tested with file sources + ``trigger(availableNow=True)`` against the
batch results.

Scale notes: watermarks bound state; session windows use the native
``session_window`` (state store, not a giant sort); the stream-stream
join carries an explicit time bound so its state can be evicted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream–static enrichment: left-join each event against a slowly-
    changing dimension table. Spark plans a stream-static join as a
    per-micro-batch BROADCAST hash join when the static side is small —
    stateless (no watermark, no state store), the standard enrichment
    topology. The dim side is re-resolvable per batch, so an updated
    dimension parquet is picked up without restarting the query.

    Works identically on a batch DataFrame (same plan minus the
    micro-batching) — that twin is the oracle-checked registry query
    ``events_enriched``.
    """
    from pyspark.sql.functions import broadcast

    return stream.join(broadcast(dim), key, "left")


def sessionize(
    stream: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user session windows (gap-based) — native ``session_window``
    state store; emits one row per closed session."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–stream inner join: pair every purchase with each click by
    the same user that happened at-or-before it within ``max_gap`` —
    the attribution join (which click led to this purchase).

    Both sides are watermarked and the join predicate carries an
    EXPLICIT time bound; that bound is what lets Spark evict state:
    buffered click rows older than (watermark + gap) can never match a
    future purchase and are dropped from the state store. Without the
    time-range predicate a stream-stream join must buffer both sides
    forever — the classic unbounded-state bug this operator exists to
    avoid.

    Works identically on batch frames (the range predicate becomes a
    plain interval join condition) — that twin is the oracle-checked
    registry query ``events_attribution``.
    """
    c = clicks.select(
        F.col(key).alias("__k"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    p = purchases.select(
        F.col(key).alias("__k"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (c["__k"] == p["__k"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {max_gap}"))
    )
    return c.join(p, cond).select(
        p["purchase_id"],
        p["__k"].alias(key),
        p["purchase_ts"],
        p["purchase_value"],
        c["click_ts"],
        c["click_value"],
    )
