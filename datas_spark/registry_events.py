"""Event time-series analytics: trends, CUSUM, seasonality, attribution, survival, co-visitation.

Consolidated from the former numeric registry batches 9, 20, 23, 45, 46, 50, 53, 64, 67 (round-5 cleanup; query
names unchanged). Each section below keeps its original batch
docstring for provenance."""
from __future__ import annotations

# ==================================================================
# former registry9.py
# ==================================================================

r"""Query registry, batch 9 (round 3): event-analytics depth — session
path mining, value histograms, per-group percentile summaries.

Imported by datas_spark.registry for its side effects (registrations).
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


@register(
    "session_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), marked AS (
      SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '5 minutes'
                     THEN 1 ELSE 0 END AS new_s
      FROM o
    ), sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, sid
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC LIMIT 20
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 20 most common within-session event-type
    sequences (5-min gap sessions) — the funnel-discovery rollup.
    Session ids via the lag/cumsum construction (one shuffle on
    user_id, both windows share the sort); paths assemble with a
    sort-free collect_list + array_sort per session (deterministic
    (ts, event_id) tie-break); TakeOrdered for the limit."""
    ev = read_table(spark, sf_dir, "events")
    ts_s = F.col("ts").cast("timestamp").cast("double")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_s = F.when(
        prev.isNull()
        | (ts_s - prev.cast("timestamp").cast("double") >= 300.0),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "__sid",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = sess.groupBy("user_id", "__sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


@register(
    "events_value_histogram",
    oracle="""
    SELECT event_type,
           floor(value / 50.0)::BIGINT AS bucket,
           count(*) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM events GROUP BY event_type, bucket
    """,
)
def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (the profiling pass
    before choosing join/bucket boundaries): one combinable aggregate,
    bucket count bounded by the value range — never a sort."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.floor(F.col("value") / 50.0).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


@register(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-style percentile summary (p50/p90/p99) per event type:
    ONE exact-percentile aggregate evaluating all three fractions from
    a single buffer (linear interpolation — matches numpy and DuckDB
    quantile_cont bit-for-bit after rounding). The approx_percentile
    twin is the 100 TB switch, same as percentile_band_filter."""
    ev = read_table(spark, sf_dir, "events")
    band = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(band, 1), 6).alias("p50"),
        F.round(F.element_at(band, 2), 6).alias("p90"),
        F.round(F.element_at(band, 3), 6).alias("p99"),
    )


@register(
    "events_dedup",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value FROM (
      SELECT event_id, user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id, ts, event_type
                                ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest sanity: drop replayed events on the natural
    key (user, ts, type), keeping the smallest event_id — min_by
    map-side election (a stream would use
    dropDuplicatesWithinWatermark on the same key)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    surv = ev.groupBy("user_id", "ts", "event_type").agg(
        F.min_by(F.struct("event_id", "value"), F.col("event_id")).alias("__r")
    )
    return surv.select(
        F.col("__r.event_id").alias("event_id"),
        "user_id",
        "ts",
        "event_type",
        F.col("__r.value").alias("value"),
    )

# ==================================================================
# former registry20.py
# ==================================================================

"""Registry batch 20 — time-series analytics over event volumes:
per-key OLS trend slope, CUSUM change-point detection, and first-order
Markov transition estimation between event types.

All three follow the exact-integer discipline of registry_tpch's
correlation query: per-hour counts are BIGINT, every cross-row moment
(Σx, Σy, Σxy, cumulative sums, totals) is exact integer arithmetic,
and the only float operation is a final single-expression division —
bit-reproducible against the DuckDB twin with no summation-order
hazard.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

# events span 2024-01; hour indices are exact small ints from this epoch
_EPOCH = "2024-01-01 00:00:00"


def _hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("long").alias("y"))


@register(
    "events_type_trend",
    oracle=f"""
    WITH hours AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ), pts AS (
      SELECT event_type,
             date_diff('hour', TIMESTAMP '{_EPOCH}', h)::BIGINT AS x, y
      FROM hours
    ), s AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS slope_per_hour
    FROM s ORDER BY event_type
    """,
)
def q_events_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of hourly volume: slope (events/hour²)
    of the least-squares line through (hour_index, hourly_count).

    The closed form ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`` runs on exact
    BIGINT moments — the distributed-safe way to regress on counts
    (same trick as `events_type_correlation`); one grouped pass over
    events, one 5-group reduction. Hour indices are integer diffs from
    a fixed epoch, so x is timezone-free and small."""
    pts = _hourly_counts(spark, sf_dir).select(
        "event_type",
        F.expr(f"timestampdiff(HOUR, TIMESTAMP '{_EPOCH}', h)")
        .cast("long")
        .alias("x"),
        "y",
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "event_type", "n", F.round(num / den, 6).alias("slope_per_hour")
    ).orderBy("event_type")


@register(
    "events_type_changepoint",
    oracle="""
    WITH hours AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ), walk AS (
      SELECT event_type, h,
             row_number() OVER w AS i,
             sum(y) OVER (PARTITION BY event_type ORDER BY h
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
             sum(y) OVER (PARTITION BY event_type)::BIGINT AS tot,
             count(*) OVER (PARTITION BY event_type)::BIGINT AS n
      FROM hours WINDOW w AS (PARTITION BY event_type ORDER BY h)
    ), dev AS (
      SELECT event_type, h, n,
             abs(n * cum - i * tot)::BIGINT AS deviation,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * cum - i * tot) DESC, h ASC)
               AS rk
      FROM walk
    )
    SELECT event_type, h AS changepoint_hour, deviation, n AS n_hours
    FROM dev WHERE rk = 1 ORDER BY event_type
    """,
)
def q_events_type_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type: the hour where the cumulative
    deviation of hourly volume from its own mean peaks — the classic
    offline CUSUM argmax ``argmax_i |Σ_{j≤i}(y_j − ȳ)|``.

    Scaled through by n (``|n·cum_i − i·tot|``) so the walk stays in
    exact BIGINT — no float mean, no accumulation drift. Windows are
    PARTITIONED BY event_type (per-key local sorts over ~720 hourly
    rows per type; never a global sort), and the argmax is a rank-1
    filter with a deterministic earliest-hour tie-break."""
    w = Window.partitionBy("event_type").orderBy("h")
    walk = _hourly_counts(spark, sf_dir).select(
        "event_type",
        "h",
        F.row_number().over(w).alias("i"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long").alias("cum"),
        F.sum("y").over(Window.partitionBy("event_type")).cast("long").alias("tot"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).cast("long").alias("n"),
    )
    dev = walk.select(
        "event_type",
        "h",
        "n",
        F.abs(F.col("n") * F.col("cum") - F.col("i") * F.col("tot"))
        .cast("long")
        .alias("deviation"),
    )
    rk = Window.partitionBy("event_type").orderBy(F.desc("deviation"), F.asc("h"))
    return (
        dev.withColumn("rk", F.row_number().over(rk))
        .where("rk = 1")
        .select(
            "event_type",
            F.col("h").alias("changepoint_hour"),
            "deviation",
            F.col("n").alias("n_hours"),
        )
        .orderBy("event_type")
    )


@register(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), pairs AS (
      SELECT src, dst, count(*)::BIGINT AS cnt
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, cnt,
           round(cnt::DOUBLE
                 / sum(cnt) OVER (PARTITION BY src)::DOUBLE, 6) AS prob
    FROM pairs ORDER BY src, dst
    """,
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types: for
    each user's event sequence (ordered by ts with event_id as the
    total-order tie-break), count src→dst adjacencies and normalize
    per source row — the behavioral model behind next-action
    prediction and anomaly scoring.

    Scale shape: the lead() window is partitioned by user_id (per-user
    local sorts); the pair count collapses to ≤ |types|² rows before
    the per-src normalization window, which therefore runs on a tiny
    frame. One shuffle on user_id, one on the 25-row pair table."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    pairs = (
        seq.where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "cnt",
        F.round(
            F.col("cnt").cast("double") / F.sum("cnt").over(tot).cast("double"), 6
        ).alias("prob"),
    ).orderBy("src", "dst")

# ==================================================================
# former registry23.py
# ==================================================================

"""Registry batch 23 — robust anomaly detection and recipe-weighted
mixture sampling: median/MAD outlier flagging over event values, and a
token-budget mixture that fills per-source budgets in deterministic
hash order (the data-mixing step of a pretraining corpus recipe).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.registry_core import register

_MAD_K = 3.0  # flag |v - median| > 3 * MAD

# per-source char budgets (n_chars is the documented token proxy — the
# testdata has no tokenizer column; the operator is weight-agnostic)
_MIX_BUDGETS = {"src0": 4000, "src1": 3000, "src2": 2000, "src3": 1000}
_MIX_SQL = ", ".join(f"('{k}', {v})" for k, v in sorted(_MIX_BUDGETS.items()))


@register(
    "events_value_outliers",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type,
             round(quantile_cont(abs(e.value - s.med), 0.5), 6) AS mad
      FROM events e JOIN stats s USING (event_type)
      GROUP BY e.event_type, s.med
    )
    SELECT e.event_id, e.event_type, e.value, s.med, m.mad
    FROM events e
    JOIN stats s USING (event_type) JOIN mad m USING (event_type)
    WHERE abs(e.value - s.med) > {_MAD_K} * m.mad
    ORDER BY e.event_type, e.event_id
    """,
)
def q_events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier events: |value − median| > 3·MAD (median
    absolute deviation) — the robust twin of z-scoring, immune to the
    outliers it hunts (mean/stddev get dragged by the tail; the two
    medians don't).

    Both statistics are exact interpolated percentiles rounded to 6 dp
    BEFORE the comparison, so the flag decision is identical on both
    engines; they live in a ≤|types|-row broadcast frame, and the flag
    itself is a map-side comparison — one grouped pass per statistic,
    no window over raw rows."""
    ev = read_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    mad = (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 6
            ).alias("mad")
        )
        .drop("med")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("value") - F.col("med")) > _MAD_K * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
        .orderBy("event_type", "event_id")
    )


@register(
    "token_budget_mixture",
    oracle=f"""
    WITH budgets (source, budget) AS (VALUES {_MIX_SQL}),
    ranked AS (
      SELECT d.doc_id, d.source, d.n_chars, b.budget,
             sum(d.n_chars) OVER (
               PARTITION BY d.source
               ORDER BY (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0) ASC, d.doc_id ASC
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
      FROM documents d JOIN budgets b USING (source)
    )
    SELECT doc_id, source, n_chars FROM ranked
    WHERE cum - n_chars < budget
    ORDER BY source, doc_id
    """,
)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe-weighted corpus mixing: fill each source's token budget
    (n_chars as the proxy weight) with documents in deterministic
    md5-draw order — "40% src0, 30% src1, ..." expressed in TOKENS,
    the unit pretraining recipes are written in, not documents
    (see ``corpus.token_budget_mixture``). A document is admitted iff
    its source's budget was not exhausted before it, so the selection
    is a reproducible greedy prefix; sources outside the recipe are
    excluded."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = C.token_budget_mixture(
        docs, "source", "n_chars", _MIX_BUDGETS, id_col="doc_id"
    )
    return out.select("doc_id", "source", "n_chars").orderBy("source", "doc_id")

# ==================================================================
# former registry45.py
# ==================================================================

"""Registry batch 45 — temporal ML hygiene and rolling anomaly
detection: embargo-gapped time splits (purged cross-validation),
group-coherent session holdout sampling, and rolling z-score anomaly
flags over the hourly aggregate.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

_CUTOFF = "2024-01-20"
_EMBARGO_H = 48


@register(
    "temporal_embargo_split",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN 'train'
                WHEN ts < TIMESTAMP '{_CUTOFF}' + INTERVAL '{_EMBARGO_H} hours'
                THEN 'embargo' ELSE 'test' END AS split
    FROM events
    """,
)
def q_temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal split: rows before the cutoff train, rows
    inside the {_EMBARGO_H}-hour embargo window after it are DROPPED
    from both sides (a model with lagged/rolling features computed
    over the boundary would otherwise leak train information into
    test — the purged-CV rule from financial ML), and the rest test.
    Map-only expression; the embargo rows are returned labeled so the
    caller can audit how much data the purge costs."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    split = (
        F.when(F.col("ts") < cutoff, "train")
        .when(F.col("ts") < cutoff + F.expr(f"INTERVAL {_EMBARGO_H} HOURS"), "embargo")
        .otherwise("test")
    )
    return ev.select("event_id", "user_id", "ts", split.alias("split"))


@register(
    "session_holdout_sample",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE ('0x' || substr(md5('holdout' || user_id::VARCHAR), 1, 8))::BIGINT
          % 100 < 10
    """,
)
def q_session_holdout_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-coherent holdout: sample ~10% of USERS (not events) by a
    salted md5 bucket on the user key, keeping every event of a chosen
    user — behavioral eval needs whole sessions, and a per-event
    sample shreds them. Map-only, no shuffle, stable across reruns
    and resizes (hash, never rand); the same discipline as
    `group_safe_split` applied to sampling."""
    ev = read_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("holdout"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return ev.where(bucket < 10).select("event_id", "user_id", "event_type")


_ROLL_W = 24  # trailing hours in the rolling baseline


@register(
    "events_hourly_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), rolled AS (
      SELECT event_type, h, n,
             avg(n) OVER w AS mu,
             stddev_samp(n) OVER w AS sd,
             count(*) OVER w AS w_n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {_ROLL_W} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, h AS hour, n AS n_events,
           round((n - mu) / sd, 6) AS z
    FROM rolled
    WHERE w_n >= 12 AND sd > 0 AND abs((n - mu) / sd) >= 3
    """,
)
def q_events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: hours whose event count sits ≥ 3
    trailing-window standard deviations from the previous
    {_ROLL_W}-hour baseline, per event type — the volume-spike alarm.

    The window runs over the HOURLY AGGREGATE (≤ |types|·|hours| rows,
    partitioned by type — metadata-scale regardless of event volume),
    never over raw events; baselines need ≥ 12 trailing hours before
    an hour is judged. The rolling frame excludes the current row, so
    a spike cannot suppress its own alarm."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-_ROLL_W, -1)
    )
    rolled = hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.avg("n_events").over(w).alias("__mu"),
        F.stddev_samp("n_events").over(w).alias("__sd"),
        F.count(F.lit(1)).over(w).alias("__wn"),
    )
    z = (F.col("n_events") - F.col("__mu")) / F.col("__sd")
    return (
        rolled.where(
            (F.col("__wn") >= 12) & (F.col("__sd") > 0) & (F.abs(z) >= 3)
        )
        .select("event_type", "hour", "n_events", F.round(z, 6).alias("z"))
    )

# ==================================================================
# former registry46.py
# ==================================================================

"""Registry batch 46 — change-data observability and seasonality:
per-column churn between table snapshots (which fields actually move
between pipeline runs) and the lag-24h autocorrelation of hourly
volume (how seasonal each event type is).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

# synthetic snapshot pair over customer: %13 keys dropped, %7 balances
# bumped, %11 segments rewritten — three disjoint-ish planted changes
_SNAP_SQL = """
    old_snap AS (
      SELECT c_custkey AS k, c_name, c_acctbal, c_mktsegment FROM customer
    ), new_snap AS (
      SELECT c_custkey AS k, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 11 = 0 THEN 'CHURNED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 13 != 0
    )
"""


@register(
    "snapshot_column_churn",
    oracle=f"""
    WITH {_SNAP_SQL}
    SELECT count(CASE WHEN o.k IS NULL THEN 1 END)::BIGINT AS n_added,
           count(CASE WHEN n.k IS NULL THEN 1 END)::BIGINT AS n_removed,
           count(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                       AND (o.c_name IS DISTINCT FROM n.c_name
                         OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
                         OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment)
                      THEN 1 END)::BIGINT AS n_changed,
           count(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                       AND o.c_name IS DISTINCT FROM n.c_name
                      THEN 1 END)::BIGINT AS chg_name,
           count(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                       AND o.c_acctbal IS DISTINCT FROM n.c_acctbal
                      THEN 1 END)::BIGINT AS chg_acctbal,
           count(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                       AND o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                      THEN 1 END)::BIGINT AS chg_mktsegment
    FROM old_snap o FULL OUTER JOIN new_snap n USING (k)
    """,
)
def q_snapshot_column_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN churn between two snapshots of a keyed table: row
    adds/removes/changes plus a changed-count per column — the report
    that distinguishes "the balance feed re-stated history" from "the
    segmentation model re-labeled everyone". One full-outer key join,
    NULL-safe (`eqNullSafe`) column comparisons, one 1-row aggregate;
    at scale the join is the only shuffle and every comparison is
    map-side."""
    cust = read_table(spark, sf_dir, "customer")
    old = cust.select(
        F.col("c_custkey").alias("k"), "c_name", "c_acctbal", "c_mktsegment"
    )
    new = (
        cust.where(F.col("c_custkey") % 13 != 0)
        .select(
            F.col("c_custkey").alias("k"),
            "c_name",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
            F.when(F.col("c_custkey") % 11 == 0, F.lit("CHURNED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
        )
    )
    cols = ("c_name", "c_acctbal", "c_mktsegment")
    # explicit presence markers: a row may legitimately hold NULLs, so
    # side-presence must never be inferred from payload columns
    o = old.select("k", F.lit(1).alias("__o"), *[F.col(c).alias(f"o_{c}") for c in cols])
    n = new.select("k", F.lit(1).alias("__n"), *[F.col(c).alias(f"n_{c}") for c in cols])
    j = o.join(n, "k", "full_outer")
    present_old = F.col("__o").isNotNull()
    present_new = F.col("__n").isNotNull()

    def diff(c: str) -> F.Column:
        return present_old & present_new & ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))

    any_diff = diff("c_name") | diff("c_acctbal") | diff("c_mktsegment")
    return j.agg(
        F.count(F.when(~present_old, 1)).cast("long").alias("n_added"),
        F.count(F.when(~present_new, 1)).cast("long").alias("n_removed"),
        F.count(F.when(any_diff, 1)).cast("long").alias("n_changed"),
        F.count(F.when(diff("c_name"), 1)).cast("long").alias("chg_name"),
        F.count(F.when(diff("c_acctbal"), 1)).cast("long").alias("chg_acctbal"),
        F.count(F.when(diff("c_mktsegment"), 1)).cast("long").alias("chg_mktsegment"),
    )


@register(
    "events_seasonality_strength",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT a.event_type, a.n AS x, b.n AS y
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND b.h = a.h + INTERVAL '24 hours'
    )
    SELECT event_type, count(*)::BIGINT AS n_pairs,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (sqrt(count(*) * sum(x * x) - sum(x) * sum(x))
                    * sqrt(count(*) * sum(y * y) - sum(y) * sum(y))), 6)
             AS lag24_corr
    FROM lagged GROUP BY event_type
    HAVING count(*) >= 48
       AND (count(*) * sum(x * x) - sum(x) * sum(x)) > 0
       AND (count(*) * sum(y * y) - sum(y) * sum(y)) > 0
    """,
)
def q_events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality strength per event type: Pearson correlation
    of hourly volume with itself 24 hours earlier. Near 1 = strong
    daily rhythm; near 0 = arrival noise — the number that decides
    whether the anomaly detector's baseline should be
    time-of-day-matched or plain rolling.

    The self-join aligns hour h with h+24 on the HOURLY aggregate
    (metadata-scale); all five moments are exact integer sums, the
    correlation is one per-type float expression, and degenerate
    (zero-variance or short) series drop out via the exact-integer
    HAVING guards."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = hourly.select("event_type", F.col("h").alias("ha"), F.col("n").alias("x"))
    b = hourly.select(
        "event_type", F.col("h").alias("hb"), F.col("n").alias("y")
    )
    lagged = a.join(
        b,
        (a["event_type"] == b["event_type"])
        & (F.col("hb") == F.col("ha") + F.expr("INTERVAL 24 HOURS")),
    ).select(a["event_type"], "x", "y")
    nn = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    sxy = F.sum(F.col("x") * F.col("y"))
    varx = nn * sxx - sx * sx
    vary = nn * syy - sy * sy
    return (
        lagged.groupBy("event_type")
        .agg(
            nn.cast("long").alias("n_pairs"),
            F.round(
                (nn * sxy - sx * sy).cast("double")
                / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
                6,
            ).alias("lag24_corr"),
            varx.alias("__vx"),
            vary.alias("__vy"),
        )
        .where(
            (F.col("n_pairs") >= 48) & (F.col("__vx") > 0) & (F.col("__vy") > 0)
        )
        .drop("__vx", "__vy")
    )

# ==================================================================
# former registry50.py
# ==================================================================

"""Registry batch 50 — behavioral and operational distributions:
per-user event-type entropy (habit vs exploration) and shipping-lag
percentiles by order priority.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


@register(
    "user_type_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT user_id, sum(n)::BIGINT AS tot, count(*)::BIGINT AS n_types
      FROM c GROUP BY 1
    )
    SELECT c.user_id, max(t.tot)::BIGINT AS n_events,
           max(t.n_types)::BIGINT AS n_types,
           round(sum(-(c.n::DOUBLE / t.tot) * ln(c.n::DOUBLE / t.tot)), 6)
             AS type_entropy_nats
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id
    """,
)
def q_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy over event types: 0 = the user does
    one thing; ln(|types|) = uniform exploration — the habit feature
    behavioral segmentation models start from. Two chained combinable
    aggregates on the user key (one shuffle — the totals frame is a
    re-agg of the counts); entropy sums ≤ |types| float terms per
    user from exact integer counts."""
    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("tot").cast("long").alias("n_events"),
            F.max("n_types").cast("long").alias("n_types"),
            F.round(F.sum(-p * F.log(p)), 6).alias("type_entropy_nats"),
        )
    )


@register(
    "shipping_lag_by_priority",
    oracle="""
    WITH lags AS (
      SELECT o.o_orderpriority,
             date_diff('day', o.o_orderdate, l.l_shipdate)::BIGINT AS lag_days
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
           round(avg(lag_days::DOUBLE), 6) AS mean_days,
           round(quantile_cont(lag_days::DOUBLE, 0.5), 6) AS p50_days,
           round(quantile_cont(lag_days::DOUBLE, 0.9), 6) AS p90_days
    FROM lags GROUP BY o_orderpriority
    """,
)
def q_shipping_lag_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA distribution: order-to-ship lag in whole days
    per order priority (count, mean, p50, p90) — does the 1-URGENT
    queue actually ship faster? The join is the one orderkey shuffle;
    lags are exact integer days; mean and percentiles are combinable
    buffers per priority (5 groups)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    lags = orders.join(
        li.select("l_orderkey", "l_shipdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lag_days"),
    )
    d = F.col("lag_days").cast("double")
    return lags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.avg(d), 6).alias("mean_days"),
        F.round(F.percentile(d, F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile(d, F.lit(0.9)), 6).alias("p90_days"),
    )

# ==================================================================
# former registry53.py
# ==================================================================

"""Registry batch 53 — item-item collaborative filtering: co-visitation
similarity over the per-user item baskets (items = the ``props.k``
payload of view events). The "users who engaged with X also engaged
with Y" primitive behind every related-items shelf.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

_CF_TOPK = 5
_CF_MIN_CO = 3


@register(
    "item_covisitation_topk",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT user_id, json_extract(props, '$.k')::INT AS item
      FROM events WHERE event_type = 'view'
    ), item_n AS (
      SELECT item, count(*)::BIGINT AS n FROM baskets GROUP BY 1
    ), co AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_co
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {_CF_MIN_CO}
    ), sym AS (
      SELECT item_a AS item, item_b AS other, n_co FROM co
      UNION ALL
      SELECT item_b, item_a, n_co FROM co
    ), scored AS (
      SELECT s.item, s.other, s.n_co,
             round(s.n_co::DOUBLE / sqrt(na.n::DOUBLE * nb.n::DOUBLE), 6)
               AS cosine
      FROM sym s
      JOIN item_n na ON s.item = na.item
      JOIN item_n nb ON s.other = nb.item
    )
    SELECT item, other, n_co, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY item
                                   ORDER BY cosine DESC, other ASC) AS rank
      FROM scored
    ) WHERE rank <= {_CF_TOPK}
    """,
)
def q_item_covisitation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_CF_TOPK} related items per item by co-visitation cosine
    (n_co / √(n_a·n_b)) over distinct per-user view baskets, minimum
    {_CF_MIN_CO} co-occurrences — item-item CF, the related-items
    primitive.

    Scale shape: baskets dedupe to (user, item) pairs, the
    co-occurrence self-join is keyed on user_id (per-user basket
    widths bound the blowup — the same contract as association rules;
    cap basket size upstream for power users), counts and marginals
    are exact integers, and the per-item rank window orders that
    item's ≤|items| candidates. Cosine rounds to 6 dp before the
    (cosine, other) total order, so the top-k cut is
    engine-identical."""
    ev = read_table(spark, sf_dir, "events")
    baskets = (
        ev.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
    )
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = baskets.select("user_id", F.col("item").alias("item_a"))
    b = baskets.select("user_id", F.col("item").alias("item_b"))
    co = (
        a.join(b, "user_id")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .where(F.col("n_co") >= _CF_MIN_CO)
    )
    sym = co.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("other"), "n_co"
    ).unionByName(
        co.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("other"), "n_co"
        )
    )
    na = item_n.select(F.col("item"), F.col("n").alias("__na"))
    nb = item_n.select(F.col("item").alias("other"), F.col("n").alias("__nb"))
    scored = (
        sym.join(F.broadcast(na), "item")
        .join(F.broadcast(nb), "other")
        .select(
            "item",
            "other",
            "n_co",
            F.round(
                F.col("n_co").cast("double")
                / F.sqrt(F.col("__na").cast("double") * F.col("__nb")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("other").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CF_TOPK)
    )

# ==================================================================
# former registry64.py
# ==================================================================

"""Registry batch 64 — markdown code-block stats, attribution-model
comparison (first/last/linear on one match set), and deterministic
curriculum ordering.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

# fenced code blocks, non-greedy, no lookarounds/backrefs (RE2-safe)
_FENCE_RE = r"```[\s\S]*?```"


@register(
    "code_block_stats",
    oracle=rf"""
    WITH b AS (
      SELECT doc_id, length(text) AS n_chars,
             regexp_extract_all(text, '{_FENCE_RE}') AS blocks
      FROM documents
    )
    SELECT doc_id,
           len(blocks)::BIGINT AS n_code_blocks,
           coalesce(list_sum(list_transform(blocks, x -> length(x))), 0)::BIGINT
             AS code_chars,
           round(CASE WHEN n_chars > 0
                 THEN coalesce(list_sum(list_transform(blocks, x -> length(x))), 0)
                      / n_chars::DOUBLE END, 6) AS code_frac
    FROM b
    """,
)
def q_code_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown fenced-code-block extraction per doc (count, chars,
    fraction) — the code-vs-prose composition signal corpus mixtures
    balance on. Non-greedy RE2-safe fence regex, map-only."""
    docs = read_table(spark, sf_dir, "documents")
    blocks = F.regexp_extract_all("text", F.lit(_FENCE_RE), F.lit(0))
    out = docs.withColumn("__b", blocks)
    code_chars = F.aggregate(
        F.col("__b"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    return out.select(
        "doc_id",
        F.size("__b").cast("long").alias("n_code_blocks"),
        F.coalesce(code_chars, F.lit(0)).cast("long").alias("code_chars"),
        F.round(
            F.when(
                F.length("text") > 0,
                F.coalesce(code_chars, F.lit(0)) / F.length("text").cast("double"),
            ),
            6,
        ).alias("code_frac"),
    )


@register(
    "attribution_compare",
    oracle="""
    WITH conv AS (
      SELECT event_id AS cid, user_id AS u, ts AS cts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id AS u, ts AS tts, event_id AS tid,
             json_extract(props, '$.k')::INT AS item
      FROM events WHERE event_type = 'view'
    ), m AS (
      SELECT c.cid, c.cents, t.item, t.tts, t.tid
      FROM conv c JOIN touch t
        ON c.u = t.u AND t.tts >= c.cts - INTERVAL 60 MINUTE AND t.tts < c.cts
    ), ord AS (
      SELECT cid, cents, item,
             row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS rf,
             row_number() OVER (PARTITION BY cid ORDER BY tts DESC, tid DESC)
               AS rl,
             count(*) OVER (PARTITION BY cid) AS n
      FROM m
    ), per AS (
      SELECT cid, any_value(cents) AS cents, any_value(n) AS n,
             max(CASE WHEN rf = 1 THEN item END) AS first_item,
             max(CASE WHEN rl = 1 THEN item END) AS last_item
      FROM ord GROUP BY cid
    ), linear AS (
      SELECT m.item, sum((m.cents * 1000000) // per.n)::BIGINT AS linear_e6
      FROM m JOIN per USING (cid) GROUP BY m.item
    ), firsts AS (
      SELECT first_item AS item, sum(cents * 1000000)::BIGINT AS first_e6
      FROM per GROUP BY 1
    ), lasts AS (
      SELECT last_item AS item, sum(cents * 1000000)::BIGINT AS last_e6
      FROM per GROUP BY 1
    )
    SELECT item,
           coalesce(first_e6, 0) AS first_e6,
           coalesce(last_e6, 0) AS last_e6,
           coalesce(linear_e6, 0) AS linear_e6
    FROM linear
    FULL OUTER JOIN firsts USING (item)
    FULL OUTER JOIN lasts USING (item)
    """,
)
def q_attribution_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch vs linear attribution from ONE
    (conversion, touch) match set — the three standard models priced
    side by side per item, all in exact integer micro-cents. The
    first/last election is an arg_min/arg_max on (ts, event_id) — a
    total order, so ties are deterministic."""
    ev = read_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("cts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touch = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    )
    m = conv.join(touch, "u").where(
        (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 60 MINUTES"))
        & (F.col("tts") < F.col("cts"))
    )
    per = m.groupBy("cid", "cents").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by("item", F.struct("tts", "tid")).alias("first_item"),
        F.max_by("item", F.struct("tts", "tid")).alias("last_item"),
    )
    linear = (
        m.join(per.select("cid", "n"), "cid")
        .select("item", F.expr("cents * 1000000L div n").alias("__s"))
        .groupBy("item")
        .agg(F.sum("__s").cast("long").alias("linear_e6"))
    )
    firsts = per.groupBy(F.col("first_item").alias("item")).agg(
        F.sum(F.col("cents") * 1000000).cast("long").alias("first_e6")
    )
    lasts = per.groupBy(F.col("last_item").alias("item")).agg(
        F.sum(F.col("cents") * 1000000).cast("long").alias("last_e6")
    )
    return (
        linear.join(firsts, "item", "full_outer")
        .join(lasts, "item", "full_outer")
        .select(
            "item",
            F.coalesce("first_e6", F.lit(0)).alias("first_e6"),
            F.coalesce("last_e6", F.lit(0)).alias("last_e6"),
            F.coalesce("linear_e6", F.lit(0)).alias("linear_e6"),
        )
    )


@register(
    "curriculum_order",
    oracle="""
    WITH n AS (SELECT count(*)::BIGINT AS n_docs FROM documents
    ), r1 AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) - 1 AS r
      FROM documents
    ), staged AS (
      SELECT doc_id, ((r * 10) // n_docs)::INT AS stage FROM r1 CROSS JOIN n
    )
    SELECT doc_id, stage,
           row_number() OVER (
             ORDER BY stage ASC, md5(doc_id::VARCHAR) ASC, doc_id ASC) - 1
             AS position
    FROM staged
    QUALIFY doc_id % 11 = 0
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: difficulty staged easy→hard (length-rank
    decile stand-in for the difficulty score, ``stage = ⌊rank·10/N⌋``),
    rows shuffled WITHIN a stage by md5 — the deterministic epoch
    order a curriculum trainer consumes. Both global ranks come from
    the skew-proof range-exchange construction (`with_row_id`), never
    a single-reducer window; the mod-11 slice bounds driver output
    AFTER the full-corpus ranks are fixed."""
    from datas_spark.io.sources import with_row_id

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = with_row_id(docs, order_by=[F.col("n_chars"), F.col("doc_id")], name="__r")
    n = ranked.agg(F.count(F.lit(1)).alias("__n"))
    staged = ranked.join(F.broadcast(n)).select(
        "doc_id",
        ((F.col("__r") * 10) / F.col("__n")).cast("int").alias("stage"),
    )
    positioned = with_row_id(
        staged,
        order_by=[
            F.col("stage"),
            F.md5(F.col("doc_id").cast("string")),
            F.col("doc_id"),
        ],
        name="position",
    )
    return positioned.where(F.col("doc_id") % 11 == 0).select(
        "doc_id", "stage", "position"
    )

# ==================================================================
# former registry67.py
# ==================================================================

"""Registry batch 67 — survival analysis: Kaplan–Meier churn curve
with right-censoring.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

# users whose last event falls in the final days of the observation
# window are CENSORED (still alive at cutoff), not churned
_KM_CENSOR_FROM = "2024-01-28"


@register(
    "churn_survival_curve",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             date_diff('day', min(ts), max(ts))::BIGINT AS t,
             CASE WHEN max(ts) >= TIMESTAMP '{_KM_CENSOR_FROM}'
                  THEN 0 ELSE 1 END AS churned
      FROM events GROUP BY user_id
    ), days AS (
      SELECT t, count(*)::BIGINT AS n_exit,
             count(*) FILTER (churned = 1)::BIGINT AS d
      FROM per_user GROUP BY t
    ), risk AS (
      SELECT t, d,
             sum(n_exit) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      FROM days
    ), terms AS (
      SELECT t, d, n_risk,
             CASE WHEN d > 0 THEN ln((n_risk - d) / n_risk::DOUBLE)
                  ELSE 0.0 END AS lnterm
      FROM risk
    ), arr AS (
      SELECT list(struct_pack(t := t, lnterm := lnterm) ORDER BY t) AS a
      FROM terms
    )
    SELECT r.t, r.d, r.n_risk::BIGINT AS n_risk,
           round(exp(list_reduce(
             list_prepend(0.0, list_transform(
               list_filter(arr.a, x -> x.t <= r.t), x -> x.lnterm)),
             (acc, v) -> acc + v)), 6) AS survival
    FROM terms r CROSS JOIN arr
    """,
)
def q_churn_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for user lifetime (days between
    first and last event), right-censoring users still active in the
    final window — survival analysis done relationally: S(t) =
    Π_(t'≤t) (1 − d/n_risk), evaluated as an exp of an ORDERED ln-fold
    over the collected day array, so the float accumulation order is
    identical in both engines (the BM25 term-fold trick).

    Scale shape: one per-user aggregate, one per-day aggregate (≤
    observation-window days rows), windows and folds only ever touch
    the tiny day frame."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("long").alias("t"),
        F.when(F.max("ts") >= _KM_CENSOR_FROM, 0).otherwise(1).alias("churned"),
    )
    days = per_user.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_exit"),
        F.count_if(F.col("churned") == 1).alias("d"),
    )
    w = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    risk = days.select("t", "d", F.sum("n_exit").over(w).alias("n_risk"))
    lnterm = F.when(
        F.col("d") > 0,
        F.log((F.col("n_risk") - F.col("d")) / F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    terms = risk.select("t", "d", "n_risk", lnterm.alias("lnterm"))
    arr = terms.agg(
        F.sort_array(F.collect_list(F.struct("t", "lnterm"))).alias("a")
    )
    folded = terms.join(F.broadcast(arr)).select(
        "t",
        "d",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.round(
            F.exp(
                F.aggregate(
                    F.filter(F.col("a"), lambda x: x["t"] <= F.col("t")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["lnterm"],
                )
            ),
            6,
        ).alias("survival"),
    )
    return folded


# ==================================================================
# moved from registry_tpch.py (round-6 homing hygiene): incremental
# rollup maintenance
# ==================================================================

from datas_spark.operators import incremental as INC  # noqa: E402

# ---------------------------------------------------------------------------
# incremental rollup maintenance
# ---------------------------------------------------------------------------

_ROLLUP_SPLIT = "2024-03-01"


@register(
    "incremental_daily_rollup",
    oracle="""
    SELECT date_trunc('day', ts)::DATE::VARCHAR AS day, event_type,
           count(*)::BIGINT AS cnt,
           sum(CAST(value AS DECIMAL(20,4))) AS sum_val,
           min(CAST(value AS DECIMAL(20,4))) AS min_val,
           max(CAST(value AS DECIMAL(20,4))) AS max_val,
           round((sum(CAST(value AS DECIMAL(20,4))) / count(*))::DOUBLE, 6)
             AS avg_val
    FROM events GROUP BY 1, 2
    """,
)
def q_incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the (day, event_type) rollup is
    built as history-partial ⊕ delta-partial (split at a cutoff date)
    and must be BIT-IDENTICAL to the full recompute — which is exactly
    what the oracle computes. DECIMAL partials make merge order
    irrelevant; this is the property that keeps incremental pipelines
    from drifting off their backfills."""
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("day"), "event_type", "value", "ts"
    )
    hist = ev.where(F.col("ts") < F.lit(_ROLLUP_SPLIT).cast("timestamp_ntz"))
    delta = ev.where(F.col("ts") >= F.lit(_ROLLUP_SPLIT).cast("timestamp_ntz"))
    keys = ["day", "event_type"]
    merged = INC.merge_rollups(
        INC.partial_rollup(hist, keys, "value"),
        INC.partial_rollup(delta, keys, "value"),
        keys,
    )
    return INC.finalize_rollup(merged)


# ---------------------------------------------------------------------------
# round 6: frequent 3-itemsets (depth-3 basket mining)
# ---------------------------------------------------------------------------

@register(
    "event_frequent_triples",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id AS k, event_type AS i FROM events
    ), tri AS (
      SELECT a.i AS item_a, b.i AS item_b, c.i AS item_c,
             count(*)::BIGINT AS support_cnt
      FROM baskets a
      JOIN baskets b ON b.k = a.k AND a.i < b.i
      JOIN baskets c ON c.k = a.k AND b.i < c.i
      GROUP BY 1, 2, 3
      HAVING count(*) >= 5
    ), pair AS (
      SELECT a.i AS pa, b.i AS pb, count(*)::BIGINT AS pc
      FROM baskets a JOIN baskets b ON b.k = a.k AND a.i < b.i
      GROUP BY 1, 2
    )
    SELECT t.item_a, t.item_b, t.item_c, t.support_cnt,
           round(t.support_cnt / ab.pc::DOUBLE, 6) + 0.0 AS conf_ab_c,
           round(t.support_cnt / ac.pc::DOUBLE, 6) + 0.0 AS conf_ac_b,
           round(t.support_cnt / bc.pc::DOUBLE, 6) + 0.0 AS conf_bc_a
    FROM tri t
    JOIN pair ab ON ab.pa = t.item_a AND ab.pb = t.item_b
    JOIN pair ac ON ac.pa = t.item_a AND ac.pb = t.item_c
    JOIN pair bc ON bc.pa = t.item_b AND bc.pb = t.item_c
    """,
)
def q_event_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-type 3-itemsets over per-user baskets with the
    three rule confidences ({a,b}→c etc.) — the depth-3 step of basket
    mining; fan per user is C(|types|,3), bounded by the basket size
    not the corpus."""
    from datas_spark.operators.events import frequent_triples

    ev = read_table(spark, sf_dir, "events")
    baskets = ev.select("user_id", "event_type").distinct()
    return frequent_triples(baskets, "user_id", "event_type", min_support=5)


@register(
    "event_sequence_pairs",
    oracle="""
    WITH ext AS (
      SELECT user_id AS k, event_type AS i, min(ts) AS tmin, max(ts) AS tmax
      FROM events GROUP BY 1, 2
    ), sup AS (
      SELECT a.i AS item_from, b.i AS item_to, count(*)::BIGINT AS support_cnt
      FROM ext a JOIN ext b ON b.k = a.k AND a.i <> b.i AND a.tmin < b.tmax
      GROUP BY 1, 2
    )
    SELECT s.item_from, s.item_to, s.support_cnt,
           round(s.support_cnt
                 / (s.support_cnt + coalesce(r.support_cnt, 0))::DOUBLE, 6) + 0.0
             AS direction_ratio
    FROM sup s LEFT JOIN sup r
      ON r.item_from = s.item_to AND r.item_to = s.item_from
    WHERE s.support_cnt >= 5
    """,
)
def q_event_sequence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sequential patterns (a → b) with per-direction supports
    and asymmetry ratio — PrefixSpan's depth-2 base case. The corpus
    reduces to one (user, type, min_ts, max_ts) aggregate before any
    pair fan (a-before-b ⇔ min_ts(a) < max_ts(b))."""
    from datas_spark.operators.events import sequence_pair_support

    ev = read_table(spark, sf_dir, "events")
    return sequence_pair_support(ev, "user_id", "event_type", "ts", min_support=5)


# ---------------------------------------------------------------------------
# round 6: watermark design audit (how late is the stream, really?)
# ---------------------------------------------------------------------------

@register(
    "events_watermark_audit",
    oracle="""
    WITH r AS (
      SELECT ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS runmax
      FROM events
    )
    SELECT count(*)::BIGINT AS n_rows,
           count_if(runmax > ts + INTERVAL 60 SECOND)::BIGINT AS late_60s,
           count_if(runmax > ts + INTERVAL 300 SECOND)::BIGINT AS late_300s,
           count_if(runmax > ts + INTERVAL 900 SECOND)::BIGINT AS late_900s
    FROM r
    """,
)
def q_events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark design audit (`events.watermark_lateness_counts`): in
    event_id arrival order, how many events would
    ``withWatermark(ts, d)`` drop at d = 1/5/15 minutes? The running
    event-time maximum is computed two-level (range exchange + local
    prefix max + broadcast cumulative partition maxima) — never a
    global window; lateness compares timestamps directly, so the
    nanosecond inputs stay exact. Run it before freezing a production
    watermark."""
    from datas_spark.operators.events import watermark_lateness_counts

    ev = read_table(spark, sf_dir, "events")
    return watermark_lateness_counts(ev, "ts", "event_id", [60, 300, 900])


# ---------------------------------------------------------------------------
# round 7: cohort retention matrix
# ---------------------------------------------------------------------------


@register(
    "events_retention_cohorts",
    oracle="""
    WITH acting AS (
      SELECT DISTINCT user_id AS u, date_trunc('week', ts)::DATE AS p
      FROM events
    ), cohort AS (
      SELECT u, min(p) AS c0 FROM acting GROUP BY u
    ), active AS (
      SELECT c.c0 AS cohort_start,
             ((a.p - c.c0) / 7)::INT AS period_offset,
             count(*)::BIGINT AS n_active
      FROM acting a JOIN cohort c USING (u)
      GROUP BY 1, 2
    ), sizes AS (
      SELECT c0 AS cohort_start, count(*)::BIGINT AS cohort_size
      FROM cohort GROUP BY 1
    )
    SELECT cohort_start, period_offset, n_active, cohort_size,
           round(n_active / cohort_size::DOUBLE * 100, 4) AS retention_pct
    FROM active JOIN sizes USING (cohort_start)
    """,
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix
    (`events.retention_cohort_matrix`): users cohorted by first-event
    week, activity counted per whole-week offset. Raw events reduce to
    distinct (user, week) before anything else; cohorts are a min-agg
    on the same user key; the matrix normalizes by a broadcast of the
    tiny per-cohort sizes. No window over raw rows anywhere."""
    from datas_spark.operators.events import retention_cohort_matrix

    ev = read_table(spark, sf_dir, "events")
    return retention_cohort_matrix(ev, "user_id", "ts", period="week")


@register(
    "user_cohort_retention",
    oracle="""
    WITH acting AS (
      SELECT DISTINCT user_id AS u, date_trunc('week', ts)::DATE AS p
      FROM events
    ), cohort AS (
      SELECT u, min(p) AS c0 FROM acting GROUP BY u
    )
    SELECT c.c0 AS cohort_week,
           ((a.p - c.c0) / 7)::INT AS week_offset,
           count(*) AS n_users
    FROM acting a JOIN cohort c USING (u)
    GROUP BY 1, 2
    """,
)
def q_user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle under its original (pre-round-7)
    column names — SUBSUMED by ``events.retention_cohort_matrix``
    (VERDICT r7 #5) and re-homed here from registry_similarity. The
    old standalone plan joined raw events to the first-event frame
    BEFORE reducing to distinct (user, week); the operator reduces
    first — one shuffle on the user key, cohort min on the same key,
    and since each (user, week) row is already distinct, the plain
    count per (cohort, offset) IS the old count_distinct(user)."""
    from datas_spark.operators.events import retention_cohort_matrix

    ev = read_table(spark, sf_dir, "events")
    m = retention_cohort_matrix(ev, "user_id", "ts", period="week")
    return m.select(
        F.col("cohort_start").alias("cohort_week"),
        F.col("period_offset").alias("week_offset"),
        F.col("n_active").alias("n_users"),
    )


# re-homed from registry_similarity (round 8 homing sweep)
@register(
    "events_timed_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL '1 hour'
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL '1 hour'
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1)::BIGINT AS n_step_0,
           (SELECT count(*) FROM s2)::BIGINT AS n_step_1,
           (SELECT count(*) FROM s3)::BIGINT AS n_step_2,
           round(100.0 * (SELECT count(*) FROM s2)
                 / greatest((SELECT count(*) FROM s1), 1), 4) AS pct_1,
           round(100.0 * (SELECT count(*) FROM s3)
                 / greatest((SELECT count(*) FROM s2), 1), 4) AS pct_2
    """,
)
def q_events_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed conversion funnel view→click→purchase where each stage
    must follow the previous within 1 hour — attribution semantics
    (the plain `events_funnel` counts a purchase a month later as
    converted; this one doesn't). Same per-stage min-agg chain on the
    one user_id shuffle key, one extra map-side interval predicate."""
    from datas_spark.operators.events import funnel_counts

    ev = read_table(spark, sf_dir, "events")
    return funnel_counts(
        ev, ["view", "click", "purchase"], max_gap="1 hour"
    )


@register(
    "experiment_cuped_readout",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), pre AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS x
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
      GROUP BY 1
    ), post AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
      GROUP BY 1
    ), units AS (
      SELECT u.user_id, (u.user_id % 2)::INT AS arm,
             coalesce(pre.x, 0) AS x, coalesce(post.y, 0) AS y
      FROM u LEFT JOIN pre USING (user_id) LEFT JOIN post USING (user_id)
    ), pa AS (
      SELECT arm, count(*)::BIGINT AS n,
             sum(y::HUGEINT) AS sy, sum(x::HUGEINT) AS sx,
             sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * x) AS sxx,
             sum(x::HUGEINT * y) AS sxy
      FROM units GROUP BY arm
    ), pooled AS (
      SELECT sum(n)::BIGINT AS pn, sum(sy) AS psy, sum(sx) AS psx,
             sum(syy) AS psyy, sum(sxx) AS psxx, sum(sxy) AS psxy
      FROM pa
    ), m AS (
      SELECT pn, psx::DOUBLE / pn::DOUBLE AS mx,
             psy::DOUBLE / pn::DOUBLE AS my,
             psxy::DOUBLE / pn::DOUBLE AS pxy,
             psxx::DOUBLE / pn::DOUBLE AS pxx,
             psyy::DOUBLE / pn::DOUBLE AS pyy
      FROM pooled
    ), s AS (
      SELECT pn, mx,
             pxy - mx * my AS cov,
             pxx - mx * mx AS varx,
             pyy - my * my AS vary
      FROM m
    ), sc AS (
      SELECT pn, mx,
             CASE WHEN varx > 0 THEN cov / varx ELSE 0.0 END AS theta,
             cov, varx, vary
      FROM s
    )
    SELECT pa.arm, pa.n AS n_units,
           round(pa.sy::DOUBLE / pa.n::DOUBLE, 6) AS mean_y,
           round(pa.sy::DOUBLE / pa.n::DOUBLE
                 - sc.theta * (pa.sx::DOUBLE / pa.n::DOUBLE - sc.mx), 6)
             AS mean_y_cuped,
           round(sc.theta, 9) AS theta,
           round(CASE WHEN sc.vary > 0 THEN
                   (1.0 - (sc.vary - 2.0 * sc.theta * sc.cov
                           + sc.theta * sc.theta * sc.varx) / sc.vary)
                   * 100.0
                 END, 4) AS var_reduction_pct
    FROM pa, sc
    """,
)
def q_experiment_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (`events.cuped_readout`,
    Deng et al. WSDM 2013): units = distinct users, deterministic
    50/50 assignment (user_id parity), post-period purchase cents
    adjusted by the pre-period covariate with the pooled
    theta = cov/var. All moments are exact integer sums (cents,
    decimal-38 products), so theta, the adjusted means, and the
    variance-reduction percentage are bit-identical across engines —
    the property that lets an experiment readout be oracle-checked at
    all. ONE aggregate over units; everything after runs on the 2-row
    arm frame with 1-row pooled scalars broadcast."""
    from datas_spark.operators.events import cuped_readout

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp")
    pre = (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") < cut))
        .groupBy("user_id").agg(F.sum(cents).alias("x"))
    )
    post = (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") >= cut))
        .groupBy("user_id").agg(F.sum(cents).alias("y"))
    )
    units = (
        ev.select("user_id").distinct()
        .join(pre, "user_id", "left")
        .join(post, "user_id", "left")
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    return cuped_readout(units, "arm", "y", "x")


@register(
    "experiment_srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), c AS (
      SELECT (user_id % 2)::INT AS arm, count(*)::BIGINT AS c
      FROM u GROUP BY 1
    ), n AS (
      SELECT sum(c)::BIGINT AS n FROM c
    ), o AS (
      SELECT n.n,
             coalesce((SELECT c FROM c WHERE arm = 0), 0)::DOUBLE AS o0,
             coalesce((SELECT c FROM c WHERE arm = 1), 0)::DOUBLE AS o1,
             n.n::DOUBLE AS nd
      FROM n
    ), x AS (
      SELECT n,
             (o0 - nd * 0.5) * (o0 - nd * 0.5) / (nd * 0.5)
             + (o1 - nd * 0.5) * (o1 - nd * 0.5) / (nd * 0.5) AS chi2_raw
      FROM o
    )
    SELECT n AS n_units, 2 AS n_arms, round(chi2_raw, 6) AS chi2,
           (chi2_raw > 10.828)::INT AS srm_flag
    FROM x
    """,
)
def q_experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate (`events.srm_check`) on the same
    user-parity 50/50 assignment the CUPED readout uses — the
    data-quality test that must pass before anyone reads the metrics.
    Exact integer counts, chi-square folded in declared-arm order,
    99.9% alarm threshold. ONE distinct + count aggregate over users;
    the fold runs on the 1-row count map."""
    from datas_spark.operators.events import srm_check

    ev = read_table(spark, sf_dir, "events")
    units = ev.select("user_id").distinct().select(
        (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return srm_check(units, "arm", {0: 0.5, 1: 0.5})


# ==================================================================
# round 8: DiD readout, MDE planning, DP histogram release
# ==================================================================


@register(
    "experiment_did_readout",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), pre AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS x
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
      GROUP BY 1
    ), post AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
      GROUP BY 1
    ), units AS (
      SELECT (u.user_id % 2)::INT AS arm,
             coalesce(post.y, 0) - coalesce(pre.x, 0) AS d
      FROM u LEFT JOIN pre USING (user_id) LEFT JOIN post USING (user_id)
    ), pa AS (
      SELECT arm, count(*)::BIGINT AS n,
             sum(d::HUGEINT) AS sd, sum(d::HUGEINT * d) AS sdd
      FROM units GROUP BY arm
    ), w AS (
      SELECT
        (SELECT n FROM pa WHERE arm = 1) AS nt,
        (SELECT n FROM pa WHERE arm = 0) AS nc,
        (SELECT sd FROM pa WHERE arm = 1)::DOUBLE AS sdt,
        (SELECT sd FROM pa WHERE arm = 0)::DOUBLE AS sdc,
        (SELECT sdd FROM pa WHERE arm = 1)::DOUBLE AS sddt,
        (SELECT sdd FROM pa WHERE arm = 0)::DOUBLE AS sddc
    ), m AS (
      SELECT nt, nc,
             sdt / nt::DOUBLE AS mt, sdc / nc::DOUBLE AS mc,
             (sddt - nt::DOUBLE * (sdt / nt::DOUBLE) * (sdt / nt::DOUBLE))
               / (nt::DOUBLE - 1.0) AS vt,
             (sddc - nc::DOUBLE * (sdc / nc::DOUBLE) * (sdc / nc::DOUBLE))
               / (nc::DOUBLE - 1.0) AS vc
      FROM w
    ), s AS (
      SELECT nt, nc, mt, mc,
             sqrt(vt / nt::DOUBLE + vc / nc::DOUBLE) AS se
      FROM m
    )
    SELECT nt AS n_treat, nc AS n_control,
           round(mt, 6) AS mean_delta_treat,
           round(mc, 6) AS mean_delta_control,
           round(mt - mc, 6) AS did,
           round(se, 6) AS se,
           round(CASE WHEN se > 0.0 THEN (mt - mc) / se END, 4) AS t_stat
    FROM s
    """,
)
def q_experiment_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout (`events.did_readout`) on the
    same user-parity arms and pre/post purchase-cents frame as the
    CUPED readout — the quasi-experimental estimator for when
    assignment was NOT randomized (the parity split here stands in for
    a staged-launch geo split). Per-arm exact integer moments of the
    unit deltas, Welch SE, everything after the one aggregate on the
    2-row arm frame."""
    from datas_spark.operators.events import did_readout

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp")
    pre = (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") < cut))
        .groupBy("user_id").agg(F.sum(cents).alias("x"))
    )
    post = (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") >= cut))
        .groupBy("user_id").agg(F.sum(cents).alias("y"))
    )
    units = (
        ev.select("user_id").distinct()
        .join(pre, "user_id", "left")
        .join(post, "user_id", "left")
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.coalesce("x", F.lit(0)).alias("pre"),
            F.coalesce("y", F.lit(0)).alias("post"),
        )
    )
    return did_readout(units, "arm", "pre", "post")


@register(
    "experiment_power_mde",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), post AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), units AS (
      SELECT coalesce(post.y, 0) AS y
      FROM u LEFT JOIN post USING (user_id)
    ), m AS (
      SELECT count(*)::BIGINT AS n,
             sum(y::HUGEINT)::DOUBLE AS sy,
             sum(y::HUGEINT * y)::DOUBLE AS syy
      FROM units
    ), s AS (
      SELECT n, sy / n::DOUBLE AS mean,
             (syy - n::DOUBLE * (sy / n::DOUBLE) * (sy / n::DOUBLE))
               / (n::DOUBLE - 1.0) AS var
      FROM m
    ), d AS (
      SELECT n, mean, var,
             (1.959963984540054 + 0.8416212335729143)
               * sqrt(2.0 * var / (n::DOUBLE / 2.0)) AS mde
      FROM s
    )
    SELECT n AS n_units, round(mean, 6) AS mean_y,
           round(sqrt(var), 6) AS sd_y, round(mde, 6) AS mde_abs,
           round(CASE WHEN mean <> 0.0 THEN mde / mean * 100.0 END, 4)
             AS mde_rel_pct
    FROM d
    """,
)
def q_experiment_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-detectable-effect planning readout
    (`events.power_mde`): given this population's per-user purchase
    cents, the smallest lift a 50/50 experiment at α=5%/80% power
    could resolve — the go/no-go number that precedes every
    experiment the CUPED/SRM/DiD queries read out. ONE exact-moment
    aggregate over distinct users; sqrt is the only libm call and
    IEEE-correctly-rounded, so the readout hash-matches."""
    from datas_spark.operators.events import power_mde

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    post = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.sum(cents).alias("y"))
    )
    units = (
        ev.select("user_id").distinct()
        .join(post, "user_id", "left")
        .select(F.coalesce("y", F.lit(0)).alias("y"))
    )
    return power_mde(units, "y")


@register(
    "events_dp_release",
    oracle="""
    WITH c AS (
      SELECT event_type AS key, count(*)::BIGINT AS n_true
      FROM events GROUP BY 1
    ), n AS (
      SELECT key, n_true,
             (('0x' || substr(md5('dp1:' || key), 1, 8))::BIGINT + 0.5)
               / 4294967296.0 AS u
      FROM c
    ), x AS (
      SELECT key, n_true,
             round(-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6)
               AS noise
      FROM n
    )
    SELECT key, n_true, 1.0::DOUBLE AS epsilon, noise,
           greatest(round(n_true + noise)::BIGINT, 0) AS n_released,
           abs(greatest(round(n_true + noise)::BIGINT, 0) - n_true)::BIGINT
             AS abs_err
    FROM x
    """,
)
def q_events_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε=1 Laplace-mechanism release what-if
    (`validate.dp_release_audit`) of the event-type histogram — the
    release-side member of the privacy family (k-anonymity/
    l-diversity/t-closeness audit risk; this prices the DP noise a
    publishable histogram would carry). Deterministic md5-uniform
    inverse-CDF draws make the accuracy audit oracle-checkable; the
    plan is one count aggregate + map-side noise."""
    from datas_spark.operators.validate import dp_release_audit

    ev = read_table(spark, sf_dir, "events")
    return dp_release_audit(ev, "event_type", epsilon=1.0, seed="dp1")


@register(
    "experiment_obf_looks",
    oracle="""
    WITH b AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', ts::DATE) // 7 AS wk,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ), uw AS (
      SELECT user_id, wk, sum(cents) AS c
      FROM b WHERE wk < 4 GROUP BY 1, 2
    ), fan AS (
      SELECT user_id, look, sum(c) AS y
      FROM uw, (SELECT unnest([1, 2, 3, 4]) AS look) l
      WHERE wk < look GROUP BY 1, 2
    ), units AS (
      SELECT look, (user_id % 2)::INT AS arm, y FROM fan
    ), pa AS (
      SELECT look, arm, count(*)::BIGINT AS n,
             sum(y::HUGEINT) AS sy, sum(y::HUGEINT * y) AS syy
      FROM units GROUP BY 1, 2
    ), w AS (
      SELECT look,
        max(CASE WHEN arm = 1 THEN n END) AS nt,
        max(CASE WHEN arm = 0 THEN n END) AS nc,
        max(CASE WHEN arm = 1 THEN sy END)::DOUBLE AS syt,
        max(CASE WHEN arm = 0 THEN sy END)::DOUBLE AS syc,
        max(CASE WHEN arm = 1 THEN syy END)::DOUBLE AS syyt,
        max(CASE WHEN arm = 0 THEN syy END)::DOUBLE AS syyc
      FROM pa GROUP BY look
    ), m AS (
      SELECT look, nt, nc,
             syt / nt::DOUBLE AS mt, syc / nc::DOUBLE AS mc,
             (syyt - nt::DOUBLE * (syt / nt::DOUBLE) * (syt / nt::DOUBLE))
               / (nt::DOUBLE - 1.0) AS vt,
             (syyc - nc::DOUBLE * (syc / nc::DOUBLE) * (syc / nc::DOUBLE))
               / (nc::DOUBLE - 1.0) AS vc
      FROM w
    ), s AS (
      SELECT look, nt, nc, mt, mc,
             sqrt(vt / nt::DOUBLE + vc / nc::DOUBLE) AS se
      FROM m
    )
    SELECT look, nt AS n_treat, nc AS n_control,
           round(mt - mc, 6) AS diff, round(se, 6) AS se,
           round(CASE WHEN se > 0.0 THEN (mt - mc) / se END, 4) AS z,
           list_value(4.333::DOUBLE, 2.963::DOUBLE, 2.359::DOUBLE,
                      2.014::DOUBLE)[look] AS obf_bound,
           CASE WHEN se > 0.0 THEN
             (abs((mt - mc) / se)
              > list_value(4.333::DOUBLE, 2.963::DOUBLE, 2.359::DOUBLE,
                           2.014::DOUBLE)[look])::INT
           END AS crossed
    FROM s ORDER BY look
    """,
)
def q_experiment_obf_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential monitoring (`events.sequential_looks`,
    O'Brien-Fleming boundaries): four weekly interim looks at the
    user-parity experiment's cumulative purchase-cents difference —
    the legal way to peek weekly (a fixed 1.96 over four looks
    inflates type-I error ~3x; OBF spends almost nothing early).
    Units enter at their first active week; per look ONE exact-moment
    aggregate per arm, z and boundary math on the 8-row frame."""
    from datas_spark.operators.events import sequential_looks

    ev = read_table(spark, sf_dir, "events")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    wk = F.floor(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        / 7
    ).cast("int")
    per_uw = (
        ev.select("user_id", wk.alias("wk"), cents.alias("cents"))
        .where(F.col("wk") < 4)
        .groupBy("user_id", "wk")
        .agg(F.sum("cents").alias("c"))
    )
    units = (
        per_uw.select(
            "user_id",
            "wk",
            "c",
            F.explode(
                F.array(*[F.lit(t) for t in (1, 2, 3, 4)])
            ).alias("look"),
        )
        .where(F.col("wk") < F.col("look"))
        .groupBy("user_id", "look")
        .agg(F.sum("c").alias("y"))
        .select(
            "look", (F.col("user_id") % 2).cast("int").alias("arm"), "y"
        )
    )
    return sequential_looks(units, "look", "arm", "y")


@register(
    "experiment_qte",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), post AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), units AS (
      SELECT (u.user_id % 2)::INT AS arm, coalesce(post.y, 0) AS y
      FROM u LEFT JOIN post USING (user_id)
    ), g AS (
      SELECT arm, y, count(*)::BIGINT AS c FROM units GROUP BY 1, 2
    ), cum AS (
      SELECT arm, y,
             sum(c) OVER (PARTITION BY arm ORDER BY y
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM g
    ), n AS (
      SELECT arm, sum(c)::BIGINT AS n FROM g GROUP BY arm
    ), fan AS (
      SELECT cum.arm, cum.y, cum.cum, n.n, ps.p
      FROM cum JOIN n USING (arm),
           (SELECT unnest(list_value(0.25::DOUBLE, 0.5::DOUBLE,
                                     0.75::DOUBLE, 0.9::DOUBLE)) AS p) ps
    ), qs AS (
      SELECT arm, p, min(y) AS q, max(n) AS n
      FROM fan WHERE cum >= ceil(p * n::DOUBLE)::BIGINT GROUP BY 1, 2
    )
    SELECT t.p, t.n AS n_treat, c.n AS n_control,
           t.q AS q_treat, c.q AS q_control, t.q - c.q AS qte
    FROM (SELECT * FROM qs WHERE arm = 1) t
    JOIN (SELECT * FROM qs WHERE arm = 0) c USING (p)
    ORDER BY p
    """,
)
def q_experiment_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (`events.quantile_treatment_effect`)
    at p ∈ {.25, .5, .75, .9} on the user-parity arms' per-user
    purchase cents — the distributional companion of the CUPED/DiD
    mean readouts (a whales-only effect moves p90 and leaves the
    median alone; means can't tell those apart). Exact type-1 order
    statistics via per-arm cumulative counts over the value grid —
    no interpolation, no raw-row sort."""
    from datas_spark.operators.events import quantile_treatment_effect

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    post = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.sum(cents).alias("y"))
    )
    units = (
        ev.select("user_id").distinct()
        .join(post, "user_id", "left")
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    return quantile_treatment_effect(
        units, "arm", "y", ps=(0.25, 0.5, 0.75, 0.9)
    )


def _markov_oracle(n_steps: int = 16) -> str:
    """Chained-CTE twin of ``events.markov_attribution``: journey
    transitions via the same lead/row_number windows, then the packed
    (k+1)x(k+2) count matrix iterates (k+1) removal variants x
    ``n_steps`` truncated power steps as list projections. Fold order
    mirrors the driver loop exactly: each state's accumulator STARTS
    at the conv term (list_prepend) and adds channel terms in channel
    order, rounded to 12 dp per step."""
    steps = []
    prev = "b0"
    for t in range(1, n_steps + 1):
        steps.append(f"""
    b{t} AS (
      SELECT chans, kk, nconv, T, R,
        list_transform(range(0, (kk+1)*(kk+1)), x ->
          round(CASE WHEN R[(x % (kk+1)) + 1] > 0.0 THEN
            list_sum(list_prepend(
              T[(x % (kk+1)) * (kk+2) + kk + 1],
              list_transform(range(0, kk), c ->
                CASE WHEN (x // (kk+1)) = 0 OR c <> (x // (kk+1)) - 1
                     THEN T[(x % (kk+1)) * (kk+2) + c + 1]
                          * pv[(x // (kk+1)) * (kk+1) + c + 2]
                     ELSE 0.0 END)))
            / R[(x % (kk+1)) + 1]
          ELSE 0.0 END, 12)) AS pv
      FROM {prev}
    )""")
        prev = f"b{t}"
    return f"""
    WITH conv AS MATERIALIZED (
      SELECT user_id AS k, min(ts) AS cts FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ), tch AS MATERIALIZED (
      SELECT e.user_id AS k, e.ts, e.event_id AS o, e.event_type AS t,
             (c.cts IS NOT NULL) AS cv
      FROM events e LEFT JOIN conv c ON c.k = e.user_id
      WHERE e.event_type <> 'purchase'
        AND (c.cts IS NULL OR e.ts < c.cts)
    ), seq AS MATERIALIZED (
      SELECT k, t, cv,
             lead(t) OVER (PARTITION BY k ORDER BY ts, o) AS nxt,
             row_number() OVER (PARTITION BY k ORDER BY ts, o) AS rn
      FROM tch
    ), tr AS (
      SELECT t AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT t, CASE WHEN cv THEN '__conv__' ELSE '__null__' END
      FROM seq WHERE nxt IS NULL
      UNION ALL
      SELECT '__start__', t FROM seq WHERE rn = 1
      UNION ALL
      SELECT '__start__', '__conv__' FROM conv c
      WHERE NOT EXISTS (SELECT 1 FROM tch WHERE tch.k = c.k)
    ), cnt AS (
      SELECT src, dst, count(*)::DOUBLE AS c FROM tr GROUP BY 1, 2
    ), chs AS (
      SELECT list_sort(list(DISTINCT ch)) AS chans FROM (
        SELECT src AS ch FROM cnt UNION ALL SELECT dst FROM cnt
      ) WHERE ch NOT IN ('__start__', '__conv__', '__null__')
    ), nc AS (
      SELECT count(*)::DOUBLE AS nconv FROM conv
    ), idx AS (
      SELECT CASE WHEN src = '__start__' THEN 0
                  ELSE list_position(chs.chans, src) END AS si,
             CASE WHEN dst = '__conv__' THEN len(chs.chans)
                  WHEN dst = '__null__' THEN len(chs.chans) + 1
                  ELSE list_position(chs.chans, dst) - 1 END AS di,
             c
      FROM cnt, chs
    ), pk AS (
      SELECT list(struct_pack(si := si, di := di, c := c)
                  ORDER BY si, di) AS pairs
      FROM idx
    ), b0 AS (
      SELECT chs.chans AS chans, len(chs.chans) AS kk, nc.nconv AS nconv,
        list_transform(range(0, (len(chs.chans)+1)*(len(chs.chans)+2)), x ->
          list_sum(list_transform(pk.pairs, s ->
            CASE WHEN s.si = x // (len(chs.chans)+2)
                  AND s.di = x % (len(chs.chans)+2)
                 THEN s.c ELSE 0.0 END))) AS T,
        list_transform(range(0, len(chs.chans)+1), s ->
          list_sum(list_transform(pk.pairs, p ->
            CASE WHEN p.si = s THEN p.c ELSE 0.0 END))) AS R,
        list_transform(range(0, (len(chs.chans)+1)*(len(chs.chans)+1)),
                       x -> 0.0) AS pv
      FROM chs, nc, pk
    ),{",".join(steps)},
    fin AS (
      SELECT chans, kk, nconv, pv,
        list_transform(range(0, kk), c ->
          CASE WHEN pv[1] > 0.0
               THEN greatest((pv[1] - pv[(c+1)*(kk+1) + 1]) / pv[1], 0.0)
          END) AS res
      FROM {prev}
    ), tt AS (
      SELECT *, list_sum(list_transform(res, r -> coalesce(r, 0.0))) AS totre
      FROM fin
    )
    SELECT chans[c + 1] AS channel,
           round(pv[1], 6) AS p_conv_base,
           round(res[c + 1], 6) AS removal_effect,
           CASE WHEN res[c + 1] IS NOT NULL AND totre > 0.0
                THEN round(res[c + 1] / totre * 100.0, 4) END
             AS attribution_pct,
           CASE WHEN res[c + 1] IS NOT NULL AND totre > 0.0
                THEN round(res[c + 1] / totre * nconv, 2) END
             AS attributed_conversions
    FROM (SELECT unnest(range(0, kk)) AS c, chans, pv, res, totre, nconv
          FROM tt)
    ORDER BY channel
    """


@register("events_markov_attribution", oracle=_markov_oracle(16))
def q_events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (`events.markov_attribution`,
    Anderl et al. 2016) over the events journeys: channels = the four
    non-purchase event types, conversion = first purchase. The
    data-driven attribution model — completes the attribution family
    (last-touch `events_asof_click`, equal-credit
    `view_linear_attribution`, `attribution_compare`) with the model
    that credits feeder channels. Journey windows + ONE (src, dst)
    count aggregate carry the data volume; the ≤(k+1)(k+2) count
    matrix iterates driver-side (the BPE/k-center tiny-collect
    pattern), bit-replayed by the oracle's unrolled 16-step CTEs."""
    from datas_spark.operators.events import markov_attribution

    ev = read_table(spark, sf_dir, "events")
    return markov_attribution(
        ev, "user_id", "ts", "event_id", "event_type", "purchase", n_steps=16
    )


@register(
    "experiment_uplift_qini",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), pre AS (
      SELECT user_id, count(*)::BIGINT AS s FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-16'
      GROUP BY 1
    ), post AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
    ), units AS (
      SELECT (u.user_id % 2)::INT AS arm,
             coalesce(pre.s, 0) AS s,
             (post.user_id IS NOT NULL)::INT AS y
      FROM u LEFT JOIN pre USING (user_id) LEFT JOIN post USING (user_id)
    ), g AS (
      SELECT s AS score_threshold,
             count(*) FILTER (WHERE arm = 1)::BIGINT AS nt,
             count(*) FILTER (WHERE arm = 0)::BIGINT AS nc,
             count(*) FILTER (WHERE arm = 1 AND y = 1)::BIGINT AS ct,
             count(*) FILTER (WHERE arm = 0 AND y = 1)::BIGINT AS cc
      FROM units GROUP BY 1
    ), cum AS (
      SELECT score_threshold,
             sum(nt) OVER (ORDER BY score_threshold DESC
                           ROWS UNBOUNDED PRECEDING) AS n_treat,
             sum(nc) OVER (ORDER BY score_threshold DESC
                           ROWS UNBOUNDED PRECEDING) AS n_control,
             sum(ct) OVER (ORDER BY score_threshold DESC
                           ROWS UNBOUNDED PRECEDING) AS conv_treat,
             sum(cc) OVER (ORDER BY score_threshold DESC
                           ROWS UNBOUNDED PRECEDING) AS conv_control
      FROM g
    )
    SELECT score_threshold, n_treat, n_control, conv_treat, conv_control,
           round(CASE WHEN n_treat > 0 AND n_control > 0 THEN
             (conv_treat::DOUBLE / n_treat::DOUBLE
              - conv_control::DOUBLE / n_control::DOUBLE) * 100.0 END, 4)
             AS uplift_pct,
           round(CASE WHEN n_control > 0 THEN
             conv_treat::DOUBLE
             - conv_control::DOUBLE * n_treat::DOUBLE / n_control::DOUBLE
           END, 4) AS qini
    FROM cum ORDER BY score_threshold DESC
    """,
)
def q_experiment_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-based Qini/uplift curve (`events.uplift_curve`,
    Radcliffe 2007): targeting score = pre-period view count, outcome
    = any post-period purchase, arms = the user-parity split — does
    targeting high-engagement users capture incremental conversions
    faster than random? Exact integer cumulative counts over the
    ~|distinct scores| grid; the experimentation family's model-QA
    member next to the readouts (CUPED/DiD/QTE/OBF)."""
    from datas_spark.operators.events import uplift_curve

    ev = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    pre = (
        ev.where((F.col("event_type") == "view") & (F.col("ts") < cut))
        .groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("s"))
    )
    post = (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") >= cut))
        .select("user_id").distinct().withColumn("__y", F.lit(1))
    )
    units = (
        ev.select("user_id").distinct()
        .join(pre, "user_id", "left")
        .join(post, "user_id", "left")
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.coalesce("s", F.lit(0)).alias("s"),
            F.coalesce("__y", F.lit(0)).alias("y"),
        )
    )
    return uplift_curve(units, "arm", "s", "y")


@register(
    "experiment_hte_segments",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN count(*) < 58 THEN 'a_lt58'
                  WHEN count(*) < 66 THEN 'b_58to65'
                  WHEN count(*) < 74 THEN 'c_66to73'
                  ELSE 'd_74plus' END AS seg
      FROM events GROUP BY user_id
    ), post AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), units AS (
      SELECT u.seg AS segment, (u.user_id % 2)::INT AS arm,
             coalesce(post.y, 0) AS y
      FROM u LEFT JOIN post USING (user_id)
    ), pa AS (
      SELECT segment, arm, count(*)::BIGINT AS n,
             sum(y::HUGEINT) AS sy, sum(y::HUGEINT * y) AS syy
      FROM units GROUP BY 1, 2
    ), w AS (
      SELECT segment,
        max(CASE WHEN arm = 1 THEN n END) AS nt,
        max(CASE WHEN arm = 0 THEN n END) AS nc,
        max(CASE WHEN arm = 1 THEN sy END)::DOUBLE AS syt,
        max(CASE WHEN arm = 0 THEN sy END)::DOUBLE AS syc,
        max(CASE WHEN arm = 1 THEN syy END)::DOUBLE AS syyt,
        max(CASE WHEN arm = 0 THEN syy END)::DOUBLE AS syyc
      FROM pa GROUP BY segment
    ), m AS (
      SELECT segment, nt, nc,
             syt / nt::DOUBLE AS mt, syc / nc::DOUBLE AS mc,
             (syyt - nt::DOUBLE * (syt / nt::DOUBLE) * (syt / nt::DOUBLE))
               / (nt::DOUBLE - 1.0) AS vt,
             (syyc - nc::DOUBLE * (syc / nc::DOUBLE) * (syc / nc::DOUBLE))
               / (nc::DOUBLE - 1.0) AS vc
      FROM w
    ), r AS (
      SELECT segment, nt, nc, mt - mc AS d,
             CASE WHEN nt > 1 AND nc > 1
                   AND (vt / nt::DOUBLE + vc / nc::DOUBLE) > 0.0
                  THEN sqrt(vt / nt::DOUBLE + vc / nc::DOUBLE) END AS se
      FROM m
    ), pk AS (
      SELECT list(struct_pack(segment := segment, d := d, se := se)
                  ORDER BY segment) AS s
      FROM r
    ), sc AS (
      SELECT len(list_filter(s, x -> x.se IS NOT NULL)) AS k,
        list_sum(list_transform(list_filter(s, x -> x.se IS NOT NULL),
                                x -> 1.0 / (x.se * x.se))) AS sw,
        list_sum(list_transform(list_filter(s, x -> x.se IS NOT NULL),
                                x -> x.d / (x.se * x.se))) AS swd,
        s
      FROM pk
    ), sc2 AS (
      SELECT k,
        CASE WHEN sw > 0.0 THEN swd / sw END AS pooled,
        list_sum(list_transform(list_filter(s, x -> x.se IS NOT NULL),
          x -> (x.d - CASE WHEN sw > 0.0 THEN swd / sw END)
             * (x.d - CASE WHEN sw > 0.0 THEN swd / sw END)
             / (x.se * x.se))) AS q
      FROM sc
    )
    SELECT r.segment, r.nt AS n_treat, r.nc AS n_control,
           round(r.d, 6) AS diff, round(r.se, 6) AS se,
           round(sc2.pooled, 6) AS pooled_diff,
           round(CASE WHEN sc2.k - 1 >= 1 THEN sc2.q END, 6) AS q_stat,
           (sc2.k - 1)::INT AS df,
           CASE WHEN sc2.k - 1 BETWEEN 1 AND 5 THEN
             (sc2.q > list_value(3.841::DOUBLE, 5.991::DOUBLE,
                                 7.815::DOUBLE, 9.488::DOUBLE,
                                 11.070::DOUBLE)[sc2.k - 1])::INT
           END AS het_flag
    FROM r, sc2 ORDER BY r.segment
    """,
)
def q_experiment_hte_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treatment-effect heterogeneity by activity band
    (`events.hte_segments`, Cochran's Q): per user-activity-quartile
    segment the arm difference in purchase cents with Welch SE, the
    inverse-variance pooled estimate, and the Q homogeneity test —
    the "is the effect the same for everyone" follow-up to the
    CUPED/DiD readouts, on the same parity arms. One exact-moment
    aggregate per (segment, arm); every cross-segment float fold runs
    in sorted-segment order on the packed 1-row frame."""
    from datas_spark.operators.events import hte_segments

    ev = read_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("__na"))
    seg = (
        F.when(F.col("__na") < 58, F.lit("a_lt58"))
        .when(F.col("__na") < 66, F.lit("b_58to65"))
        .when(F.col("__na") < 74, F.lit("c_66to73"))
        .otherwise(F.lit("d_74plus"))
    )
    cents = F.round(F.col("value") * 100).cast("long")
    post = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.sum(cents).alias("y"))
    )
    units = (
        first.join(post, "user_id", "left")
        .select(
            seg.alias("segment"),
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    return hte_segments(units, "segment", "arm", "y")


@register(
    "experiment_trimmed_readout",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), post AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), units AS (
      SELECT (u.user_id % 2)::INT AS arm, coalesce(post.y, 0) AS y
      FROM u LEFT JOIN post USING (user_id)
    ), g AS (
      SELECT arm, y, count(*)::BIGINT AS c FROM units GROUP BY 1, 2
    ), cum AS (
      SELECT arm, y, c,
             sum(c) OVER (PARTITION BY arm ORDER BY y
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM g
    ), n AS (
      SELECT arm, sum(c)::BIGINT AS n FROM g GROUP BY arm
    ), b AS (
      SELECT cum.arm,
        min(CASE WHEN cum >= ceil(0.05::DOUBLE * n.n::DOUBLE)::BIGINT
                 THEN y END) AS lo,
        min(CASE WHEN cum >= ceil(0.95::DOUBLE * n.n::DOUBLE)::BIGINT
                 THEN y END) AS hi,
        max(n.n) AS n
      FROM cum JOIN n USING (arm) GROUP BY cum.arm
    ), kept AS (
      SELECT g.arm, sum(g.c)::BIGINT AS kept,
             sum(g.y::HUGEINT * g.c) AS sv
      FROM g JOIN b USING (arm)
      WHERE g.y >= b.lo AND g.y <= b.hi
      GROUP BY g.arm
    ), w AS (
      SELECT
        (SELECT n FROM b WHERE arm = 1) AS nt,
        (SELECT n FROM b WHERE arm = 0) AS nc,
        (SELECT kept FROM kept WHERE arm = 1) AS kt,
        (SELECT kept FROM kept WHERE arm = 0) AS kc,
        (SELECT lo FROM b WHERE arm = 1) AS lot,
        (SELECT hi FROM b WHERE arm = 1) AS hit,
        (SELECT lo FROM b WHERE arm = 0) AS loc,
        (SELECT hi FROM b WHERE arm = 0) AS hic,
        (SELECT sv FROM kept WHERE arm = 1)::DOUBLE AS svt,
        (SELECT sv FROM kept WHERE arm = 0)::DOUBLE AS svc
    )
    SELECT nt AS n_treat, nc AS n_control,
           kt AS kept_treat, kc AS kept_control,
           lot AS lo_treat, hit AS hi_treat,
           loc AS lo_control, hic AS hi_control,
           round(svt / kt::DOUBLE, 6) AS trimmed_mean_treat,
           round(svc / kc::DOUBLE, 6) AS trimmed_mean_control,
           round(svt / kt::DOUBLE - svc / kc::DOUBLE, 6) AS trimmed_diff
    FROM w
    """,
)
def q_experiment_trimmed_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed robust A/B readout (`events.trimmed_readout`) on the
    user-parity purchase-cents frame — the whale-resistant mean next
    to CUPED (variance reduction) and QTE (distributional): each arm
    trims at its own exact tie-inclusive order-statistic thresholds,
    so one mega-purchaser cannot drag the readout. Grid cumulative
    counts only; exact integer value sums inside the kept band."""
    from datas_spark.operators.events import trimmed_readout

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    post = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.sum(cents).alias("y"))
    )
    units = (
        ev.select("user_id").distinct()
        .join(post, "user_id", "left")
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    return trimmed_readout(units, "arm", "y", trim=0.05)


@register(
    "experiment_bayes_readout",
    oracle="""
    WITH u AS (
      SELECT user_id, max((event_type = 'purchase')::INT)::INT AS y
      FROM events GROUP BY 1
    ), per AS (
      SELECT (user_id % 2)::INT AS arm, count(*)::BIGINT AS n,
             sum(y)::BIGINT AS c
      FROM u GROUP BY 1
    ), gr AS (
      SELECT arm, n, c, i
      FROM per CROSS JOIN (SELECT unnest(range(0, 512)) AS i) g
    ), lp AS (
      SELECT arm, n, c, i,
             (c::DOUBLE + 0.0) * ln((i * 2 + 1)::DOUBLE / 1024.0)
           + (n::DOUBLE - c::DOUBLE + 0.0)
             * ln(1.0 - (i * 2 + 1)::DOUBLE / 1024.0) AS lp
      FROM gr
    ), sh AS (
      SELECT arm, n, c, i,
             CAST(round(exp(lp - max(lp) OVER (PARTITION BY arm)) * 1e12)
                  AS BIGINT) AS u
      FROM lp
    ), cells AS (
      SELECT arm, n, c, i, u,
             sum(u) OVER (PARTITION BY arm) AS s,
             sum(u) OVER (PARTITION BY arm ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(u * (i * 2 + 1)) OVER (PARTITION BY arm ORDER BY i
                                        ROWS UNBOUNDED PRECEDING) AS bx
      FROM sh
    ), t AS (SELECT * FROM cells WHERE arm = 1),
       ctl AS (SELECT * FROM cells WHERE arm = 0),
    folded AS (
      SELECT sum(t.u::HUGEINT * (2 * ctl.cum::HUGEINT - ctl.u)) AS pn,
             sum(ctl.u::HUGEINT
                 * ((t.i * 2 + 1)::HUGEINT * t.cum - t.bx)) AS lt,
             sum(t.u::HUGEINT
                 * ((t.i * 2 + 1)::HUGEINT * ctl.cum - ctl.bx)) AS lc,
             max(t.s) AS st, max(ctl.s) AS sc,
             max(t.n) AS nt, max(ctl.n) AS nc,
             max(t.c) AS ct, max(ctl.c) AS cc
      FROM t JOIN ctl ON t.i = ctl.i
    )
    SELECT nt AS n_treat, ct AS c_treat, nc AS n_control, cc AS c_control,
           round((ct::DOUBLE + 1.0) / (nt::DOUBLE + 2.0), 6) AS pm_treat,
           round((cc::DOUBLE + 1.0) / (nc::DOUBLE + 2.0), 6) AS pm_control,
           round(pn::DOUBLE / (2.0 * (st::DOUBLE * sc::DOUBLE)), 6)
             AS p_treat_beats_control,
           round(lt::DOUBLE / (1024.0 * (st::DOUBLE * sc::DOUBLE)), 6)
             AS exp_loss_treat,
           round(lc::DOUBLE / (1024.0 * (st::DOUBLE * sc::DOUBLE)), 6)
             AS exp_loss_control
    FROM folded
    """,
)
def q_experiment_bayes_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial posterior A/B readout (`events.bayes_ab_readout`,
    VERDICT r8 #6): user-parity arms, conversion = any purchase,
    uniform Beta(1,1) prior — reports P(treatment wins) and both
    expected losses via the deterministic 512-cell grid integration
    (e12-quantized cell masses, exact decimal-38 folds; the only libm
    is one ln/exp per cell, mirrored verbatim in the oracle). The
    decision-theoretic complement to the frequentist CUPED/MDE/OBF
    readouts on the same experiment frame."""
    from datas_spark.operators.events import bayes_ab_readout

    ev = read_table(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("y")
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            "y",
        )
    )
    return bayes_ab_readout(units, "arm", "y", alpha=1.0, beta=1.0, grid=512)
