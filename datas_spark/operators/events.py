"""Ordered event-sequence analytics: N-step conversion funnels.

A funnel stage counts a user only if the stage's event occurs STRICTLY
AFTER the user's previous stage time — the semantics product analytics
tools call an "ordered funnel" (a purchase before the first view does
not convert).

Scale shape: one combinable min-aggregate per stage, each joined on
the natural shuffle key (the user column). The event scan is filtered
to a single event type per stage, so the type predicate pushes into
the parquet scan; no windows over raw events, no driver collects.
Stages chain left-to-right, so k stages cost k filtered scans + k
keyed aggregations — at 100 TB each pass is a pushdown-pruned scan of
one event type's row groups, not the whole table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["funnel_stage_times", "funnel_counts", "linear_attribution", "watermark_lateness_counts", "retention_cohort_matrix", "cuped_readout", "did_readout", "power_mde", "sequential_looks", "quantile_treatment_effect", "markov_attribution", "uplift_curve", "hte_segments", "trimmed_readout", "bayes_ab_readout"]


def funnel_stage_times(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap: str | None = None,
) -> list[DataFrame]:
    """Per-stage first-qualifying-event times: returns one DataFrame
    per step, ``(user_col, t{i})`` — users present in frame i completed
    the first i+1 stages in order.

    ``max_gap`` (an SQL interval like ``'1 hour'``) additionally
    requires each stage to follow the previous one WITHIN that gap —
    the timed-conversion funnel (a purchase a week after the click is
    not attribution). The stage chain stays first-qualifying-greedy:
    t{i} is the earliest step-i event inside (t{i-1}, t{i-1}+gap]."""
    if not steps:
        raise ValueError("steps must be non-empty")
    frames: list[DataFrame] = []
    prev = None
    for i, step in enumerate(steps):
        stage = df.where(F.col(type_col) == step)
        if prev is not None:
            cond = F.col(ts_col) > F.col(f"t{i - 1}")
            if max_gap is not None:
                cond = cond & (
                    F.col(ts_col)
                    <= F.col(f"t{i - 1}") + F.expr(f"INTERVAL {max_gap}")
                )
            stage = stage.join(prev, user_col).where(cond)
        cur = stage.groupBy(user_col).agg(F.min(ts_col).alias(f"t{i}"))
        frames.append(cur)
        prev = cur
    return frames


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap: str | None = None,
) -> DataFrame:
    """One-row ordered-funnel summary: ``n_step_0..k`` user counts plus
    ``pct_1..k`` per-stage conversion (vs the previous stage, 0-safe).
    ``max_gap`` makes it a timed funnel (see `funnel_stage_times`)."""
    frames = funnel_stage_times(df, steps, user_col, ts_col, type_col, max_gap)
    out = frames[0].agg(F.count(F.lit(1)).alias("n_step_0"))
    for i, fr in enumerate(frames[1:], start=1):
        out = out.crossJoin(fr.agg(F.count(F.lit(1)).alias(f"n_step_{i}")))
    cols = [F.col(f"n_step_{i}").cast("long").alias(f"n_step_{i}") for i in range(len(frames))]
    for i in range(1, len(frames)):
        cols.append(
            F.round(
                F.lit(100.0)
                * F.col(f"n_step_{i}")
                / F.greatest(F.col(f"n_step_{i - 1}"), F.lit(1)),
                4,
            ).alias(f"pct_{i}")
        )
    return out.select(*cols)


def event_pattern_matches(
    df: DataFrame,
    pattern: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: count occurrences of a CONSECUTIVE event-
    type regex per user — e.g. ``view,click,purchase`` finds users who
    purchased immediately after a view->click, with no event between.

    The per-user event sequence materializes as one comma-joined string
    (deterministic (ts, tiebreak) order), and the pattern is a plain
    regex over it — the poor man's MATCH_RECOGNIZE that covers the
    common "did this exact sequence happen" cases with zero special
    machinery. Matches are counted non-overlapping left-to-right (the
    regex engine's scan order, identical across engines).

    Scale: one groupBy per user (collect_list of a small struct — per-
    user sequences must fit in memory, the same contract as
    sessionization path mining), then a map-side regex. Returns
    ``(user_col, n_events bigint, n_matches bigint)`` for users with at
    least one match.
    """
    seq = (
        df.groupBy(user_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(tiebreak_col).alias("i"),
                        F.col(type_col).alias("e"),
                    )
                )
            ).alias("__seq"),
        )
        .select(
            user_col,
            "n_events",
            F.concat_ws(
                ",", F.transform(F.col("__seq"), lambda s: s["e"])
            ).alias("__s"),
        )
    )
    n = F.regexp_count(F.col("__s"), F.lit(pattern)).cast("long")
    return (
        seq.select(user_col, "n_events", n.alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )


def linear_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    touch_type: str,
    convert_type: str,
    item_col: Column | str,
    value_col: str,
    conv_id_col: str,
    horizon_minutes: int = 60,
) -> DataFrame:
    """Multi-touch LINEAR attribution: each conversion's value is split
    equally across every ``touch_type`` event by the same user in the
    ``horizon_minutes`` before it, and the shares are summed per touch
    item — the equal-credit sibling of last-touch (`asof_join`) that
    marketing/rec pipelines report next to it.

    Exactness contract: conversion value goes to integer cents, each
    touch's share is ``cents · 10⁶ div n_touches`` (integer division —
    bit-identical across engines and immune to float-sum ordering),
    and per-item totals are exact BIGINT sums of those shares. The
    divisor remainder (< n·10⁻⁶ cents per conversion) is deliberately
    dropped, not redistributed.

    Scale shape: ONE user-keyed equi-join (per-user event volumes
    bound the fan-out — the same contract as sessionization; salt hot
    users upstream if needed), the range predicate applied inside the
    join, then two combinable aggregates. No window, no cross join.
    """
    item = F.col(item_col) if isinstance(item_col, str) else item_col
    conv = df.where(F.col(type_col) == convert_type).select(
        F.col(user_col).alias("__u"),
        F.col(conv_id_col).alias("__cid"),
        F.col(ts_col).alias("__cts"),
        F.round(F.col(value_col) * 100).cast("long").alias("__cents"),
    )
    touch = df.where(F.col(type_col) == touch_type).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__tts"),
        item.alias("__item"),
    )
    window_lo = F.col("__cts") - F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES")
    matched = conv.join(touch, "__u").where(
        (F.col("__tts") >= window_lo) & (F.col("__tts") < F.col("__cts"))
    )
    per_conv = matched.groupBy("__cid", "__cents").agg(
        F.collect_list("__item").alias("__items")
    )
    share = F.expr("__cents * 1000000L div size(__items)")
    exploded = per_conv.select(
        F.explode("__items").alias("item"), share.alias("__share_e6")
    )
    return exploded.groupBy("item").agg(
        F.sum("__share_e6").cast("long").alias("attributed_e6"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )


def frequent_triples(
    baskets: DataFrame,
    key_col: str,
    item_col: str,
    min_support: int = 5,
) -> DataFrame:
    """Frequent 3-itemsets with per-direction rule confidences — the
    depth-3 step of FP-growth-style basket mining (`event_association_
    rules` is the depth-2 core). ``baskets`` must already be DISTINCT
    (key, item): the triple enumeration is two self-equi-joins on the
    basket key with a canonical ``a < b < c`` orientation, so the fan
    per key is C(|basket|, 3) — bounded by the per-key item-set size,
    never by corpus volume, the same containment argument as the pair
    join. Support counts are exact BIGINTs; the three confidences
    P(abc)/P(xy) are per-row divisions against the (min-support-
    filtered) pair counts.

    Returns (item_a, item_b, item_c, support_cnt, conf_ab_c, conf_ac_b,
    conf_bc_a) for triples with ``support_cnt >= min_support``.
    """
    b1 = baskets.select(F.col(key_col).alias("__k"), F.col(item_col).alias("__a"))
    b2 = baskets.select(F.col(key_col).alias("__k"), F.col(item_col).alias("__b"))
    b3 = baskets.select(F.col(key_col).alias("__k"), F.col(item_col).alias("__c"))
    tri = (
        b1.join(b2, "__k")
        .where(F.col("__a") < F.col("__b"))
        .join(b3, "__k")
        .where(F.col("__b") < F.col("__c"))
        .groupBy("__a", "__b", "__c")
        .agg(F.count(F.lit(1)).cast("long").alias("support_cnt"))
        .where(F.col("support_cnt") >= min_support)
    )
    pair = (
        b1.join(b2, "__k")
        .where(F.col("__a") < F.col("__b"))
        .groupBy(F.col("__a").alias("__pa"), F.col("__b").alias("__pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("__pc"))
    )

    def pj(frame: DataFrame, lo: str, hi: str, out: str) -> DataFrame:
        p = pair.select(
            F.col("__pa").alias(lo), F.col("__pb").alias(hi), F.col("__pc").alias(out)
        )
        return frame.join(F.broadcast(p), [lo, hi])

    out = pj(tri, "__a", "__b", "__nab")
    out = pj(out, "__a", "__c", "__nac")
    out = pj(out, "__b", "__c", "__nbc")
    return out.select(
        F.col("__a").alias("item_a"),
        F.col("__b").alias("item_b"),
        F.col("__c").alias("item_c"),
        "support_cnt",
        (F.round(F.col("support_cnt") / F.col("__nab"), 6) + F.lit(0.0)).alias("conf_ab_c"),
        (F.round(F.col("support_cnt") / F.col("__nac"), 6) + F.lit(0.0)).alias("conf_ac_b"),
        (F.round(F.col("support_cnt") / F.col("__nbc"), 6) + F.lit(0.0)).alias("conf_bc_a"),
    )


def sequence_pair_support(
    df: DataFrame,
    key_col: str,
    item_col: str,
    ts_col: str,
    min_support: int = 5,
) -> DataFrame:
    """Ordered sequential-pattern mining, depth 2 (the PrefixSpan base
    case): for every ordered item pair (a → b), the number of keys
    whose history contains SOME occurrence of ``a`` strictly before
    some occurrence of ``b`` — order is what separates this from
    ``event_association_rules``'s unordered co-occurrence (a→b and b→a
    get independent supports, and their asymmetry is the signal).

    Subsequence existence needs only extremes: a before b ⇔
    ``min_ts(a) < max_ts(b)``, so the WHOLE corpus reduces to one
    (key, item) aggregate of two timestamps before any pair fan — the
    self-join then touches C(|items|, 2)·2 rows per key, bounded by the
    per-key item-set size. Exact integer supports; ``direction_ratio``
    = support(a→b) / (support(a→b) + support(b→a)) flags asymmetric
    flows (1.0 = strictly one-way).

    Returns (item_from, item_to, support_cnt, direction_ratio) with
    ``support_cnt >= min_support``.
    """
    ext = df.groupBy(
        F.col(key_col).alias("__k"), F.col(item_col).alias("__i")
    ).agg(
        F.min(F.col(ts_col)).alias("__tmin"), F.max(F.col(ts_col)).alias("__tmax")
    )
    e2 = ext.select(
        F.col("__k"),
        F.col("__i").alias("__j"),
        F.col("__tmin").alias("__jtmin"),
        F.col("__tmax").alias("__jtmax"),
    )
    sup = (
        ext.join(e2, "__k")
        .where((F.col("__i") != F.col("__j")) & (F.col("__tmin") < F.col("__jtmax")))
        .groupBy(F.col("__i").alias("item_from"), F.col("__j").alias("item_to"))
        .agg(F.count(F.lit(1)).cast("long").alias("support_cnt"))
    )
    rev = sup.select(
        F.col("item_to").alias("item_from"),
        F.col("item_from").alias("item_to"),
        F.col("support_cnt").alias("__rev_cnt"),
    )
    return (
        sup.join(F.broadcast(rev), ["item_from", "item_to"], "left")
        .withColumn("__rev_cnt", F.coalesce(F.col("__rev_cnt"), F.lit(0).cast("long")))
        .where(F.col("support_cnt") >= min_support)
        .select(
            "item_from",
            "item_to",
            "support_cnt",
            (
                F.round(
                    F.col("support_cnt")
                    / (F.col("support_cnt") + F.col("__rev_cnt")),
                    6,
                )
                + F.lit(0.0)
            ).alias("direction_ratio"),
        )
    )


def watermark_lateness_counts(
    df: DataFrame,
    ts_col: str,
    arrival_col: str,
    delays_s: list[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """Watermark design audit: in ARRIVAL order (``arrival_col``, a
    unique monotone ingest sequence), how many events arrive with event
    time more than ``d`` seconds behind the maximum event time already
    seen — i.e. would be DROPPED by ``withWatermark(ts, d)``? One row:
    ``(n_rows, late_<d>s ...)`` for each candidate delay. Run this
    before fixing a production watermark: too tight silently drops the
    tail, too loose holds state forever.

    Scale shape: the running maximum over arrival order is computed
    two-level, never with a global window — ONE balanced range exchange
    on the arrival key, a partition-LOCAL prefix max (window partitioned
    by the physical partition id), and a broadcast cumulative max of
    the tiny per-partition maxima. Lateness tests compare timestamps
    directly (``runmax > ts + INTERVAL d``) — no epoch conversion, so
    nanosecond inputs stay exact.
    """
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = (
        df.select(F.col(arrival_col).alias("__arr"), F.col(ts_col).alias("__ts"))
        .repartitionByRange(int(parts), F.col("__arr"))
        .sortWithinPartitions("__arr")
        .withColumn("__pid", F.spark_partition_id())
    )
    # pin ONE materialization: the stats pass and the final pass must
    # see the same range boundaries (same contract as skew_resistant_rank)
    ranged = ranged.localCheckpoint(eager=False)
    local = ranged.withColumn(
        "__lmax",
        F.max("__ts").over(
            Window.partitionBy("__pid")
            .orderBy("__arr")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    pmax = ranged.groupBy("__pid").agg(F.max("__ts").alias("__pmax"))
    prior = pmax.withColumn(
        "__prior",
        F.max("__pmax").over(
            Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).select("__pid", "__prior")
    run = local.join(F.broadcast(prior), "__pid").withColumn(
        "__runmax", F.greatest(F.col("__lmax"), F.col("__prior"))
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for d in delays_s:
        aggs.append(
            F.count_if(
                F.col("__runmax") > F.col("__ts") + F.expr(f"INTERVAL {int(d)} SECONDS")
            )
            .cast("long")
            .alias(f"late_{int(d)}s")
        )
    return run.agg(*aggs)


def retention_cohort_matrix(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics rollup
    (and, for a training-data platform, the contributor-activity audit):
    users are grouped into cohorts by the period of their FIRST event,
    and each cohort's activity is counted at every whole-period offset
    since then.

    Returns ``(cohort_start, period_offset, n_active, cohort_size,
    retention_pct)`` — one row per (cohort, offset) with at least one
    active user; ``period_offset`` 0 is the cohort's own period (always
    ``n_active == cohort_size``), and ``retention_pct`` is rounded to 4
    decimals.

    Scale shape: raw events reduce FIRST to distinct (user, period)
    activity — one shuffle on the user key; the per-user cohort is a
    min-aggregate over the same key (co-partitioned, no second
    exchange of raw rows); the activity ⋈ cohort join is user-keyed;
    the final matrix is a map-side-combinable count per (cohort,
    offset) and the cohort sizes it normalizes by ride a broadcast of
    the tiny per-cohort frame. No window touches raw rows.
    """
    if period not in ("day", "week", "month"):
        raise ValueError(f"period must be day|week|month, got {period!r}")
    acting = df.select(
        F.col(user_col).alias("__u"),
        F.date_trunc(period, F.col(ts_col)).cast("date").alias("__p"),
    ).distinct()
    cohort = acting.groupBy("__u").agg(F.min("__p").alias("__c0"))
    if period == "month":
        offset = F.months_between(F.col("__p"), F.col("__c0")).cast("int")
    elif period == "week":
        offset = (F.datediff(F.col("__p"), F.col("__c0")) / 7).cast("int")
    else:
        offset = F.datediff(F.col("__p"), F.col("__c0"))
    active = (
        acting.join(cohort, "__u")
        .select(F.col("__c0").alias("cohort_start"), offset.alias("period_offset"))
        .groupBy("cohort_start", "period_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    sizes = cohort.groupBy(F.col("__c0").alias("cohort_start")).agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return active.join(F.broadcast(sizes), "cohort_start").select(
        "cohort_start",
        "period_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size") * 100, 4).alias(
            "retention_pct"
        ),
    )


def cuped_readout(
    units: DataFrame,
    arm_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """CUPED experiment readout (Deng, Xu, Kohavi & Walker, WSDM 2013:
    "Improving the Sensitivity of Online Controlled Experiments by
    Utilizing Pre-Experiment Data") — the standard variance-reduction
    companion of any A/B metric rollup: the post-period metric ``y`` is
    adjusted by the pre-period covariate ``x``,

        y_adj = y − θ·(x − x̄_pool),   θ = cov(x, y) / var(x)  (pooled)

    which is unbiased for the arm difference (assignment ⊥ pre-period)
    and cuts readout variance by cor(x, y)² — typically 30-60% on
    revenue metrics, i.e. the same sensitivity as ~2x the traffic.

    ``units`` is ONE ROW PER EXPERIMENT UNIT with ``y_col``/``x_col``
    INTEGER-quantized (cents, micro-units — the engine discipline that
    makes moment sums exact and the readout bit-identical across
    engines and partitionings). Products are summed as decimal(38,0),
    so second moments stay exact far past int64.

    Scale shape: ONE map-side-combinable aggregate per arm over units;
    θ and the pooled means come from a second aggregate over the
    |arms|-row frame; every later step runs on that tiny frame with the
    1-row pooled scalars broadcast. No window, no per-unit second pass
    — the adjusted means and variances expand algebraically in moments
    (Σy, Σx, Σy², Σx², Σxy).

    Returns one row per arm: ``(arm, n_units, mean_y, mean_y_cuped,
    theta, var_reduction_pct)`` — means rounded to 6, theta to 9, the
    variance reduction (pooled, 1 − var(y_adj)/var(y)) to 4.
    """
    y = F.col(y_col).cast("decimal(38,0)")
    x = F.col(x_col).cast("decimal(38,0)")
    per_arm = units.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).alias("sy"),
        F.sum(x).alias("sx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    pooled = per_arm.agg(
        F.sum("n").alias("pn"),
        F.sum("sy").alias("psy"),
        F.sum("sx").alias("psx"),
        F.sum("syy").alias("psyy"),
        F.sum("sxx").alias("psxx"),
        F.sum("sxy").alias("psxy"),
    )
    # exact integer moments -> double formulas, written identically in
    # the DuckDB oracle so every intermediate double matches bit-wise
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mx = d("psx") / d("pn")
    my = d("psy") / d("pn")
    cov = d("psxy") / d("pn") - mx * my
    varx = d("psxx") / d("pn") - mx * mx
    vary = d("psyy") / d("pn") - my * my
    theta = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    scal = pooled.select(
        F.col("pn"),
        mx.alias("mx"),
        theta.alias("theta"),
        # pooled var(y_adj) = var(y) - 2θcov + θ²var(x)
        F.when(
            vary > 0,
            (F.lit(1.0) - (vary - F.lit(2.0) * theta * cov + theta * theta * varx) / vary)
            * F.lit(100.0),
        ).alias("vr"),
    )
    return per_arm.crossJoin(F.broadcast(scal)).select(
        "arm",
        F.col("n").alias("n_units"),
        F.round(d("sy") / d("n"), 6).alias("mean_y"),
        F.round(
            d("sy") / d("n")
            - F.col("theta") * (d("sx") / d("n") - F.col("mx")),
            6,
        ).alias("mean_y_cuped"),
        F.round(F.col("theta"), 9).alias("theta"),
        F.round(F.col("vr"), 4).alias("var_reduction_pct"),
    )


def srm_check(
    units: DataFrame,
    arm_col: str,
    expected: dict[int | str, float],
) -> DataFrame:
    """Sample-ratio-mismatch gate — the sanity check every experiment
    readout must pass BEFORE anyone reads the metrics (Fabijan et al.,
    KDD 2019 call SRM "the most useful data-quality test in online
    experimentation"): Pearson chi-square of observed arm counts
    against the declared allocation. A biased split (broken hash,
    lossy logging, bot filtering that favors one arm) invalidates the
    readout no matter how pretty the CUPED numbers are.

    ``expected`` maps arm value -> intended share (must sum to ~1).
    Returns ONE row ``(n_units, n_arms, chi2, srm_flag)`` with
    ``chi2 = sum (obs_i - n*p_i)^2 / (n*p_i)`` over the declared arms
    (an arm with zero observations still contributes its full expected
    mass) and ``srm_flag`` = chi2 above the 99.9% quantile of
    chi-square(k-1) — the conventional SRM alarm threshold, wired for
    k = 2..5 (10.828, 13.816, 16.266, 18.467).

    Scale shape: ONE count aggregate over units; the chi-square folds
    over the k-row broadcast arm frame in sorted-arm order (exact
    integer counts, double formula identical across engines).
    """
    if not expected:
        raise ValueError("expected allocation must be non-empty")
    tot_share = sum(expected.values())
    if abs(tot_share - 1.0) > 1e-9:
        raise ValueError(f"expected shares must sum to 1, got {tot_share}")
    crit = {2: 10.828, 3: 13.816, 4: 16.266, 5: 18.467}
    k = len(expected)
    if k not in crit:
        raise ValueError(f"srm_check supports 2..5 arms, got {k}")
    exp_rows = sorted(expected.items())
    counts = units.groupBy(F.col(arm_col).alias("__arm")).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    # fold in declared-arm order: chi2 terms accumulate identically on
    # both engines; arms outside `expected` are an assignment bug and
    # surface as a NULL chi2 via the unmatched-share total check
    n1 = counts.agg(
        F.sum("__c").alias("__n"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__arm", "__c")))
        ).alias("__m"),
    )
    chi2 = F.lit(0.0)
    seen = F.lit(0).cast("long")
    for arm, share in exp_rows:
        obs = F.coalesce(
            F.col("__m")[F.lit(arm)], F.lit(0).cast("long")
        ).cast("double")
        exp_n = F.col("__n").cast("double") * F.lit(float(share))
        chi2 = chi2 + (obs - exp_n) * (obs - exp_n) / exp_n
        seen = seen + F.coalesce(F.col("__m")[F.lit(arm)], F.lit(0).cast("long"))
    return n1.select(
        F.col("__n").cast("long").alias("n_units"),
        F.lit(k).alias("n_arms"),
        F.round(F.when(seen == F.col("__n"), chi2), 6).alias("chi2"),
        F.when(seen == F.col("__n"), chi2 > F.lit(crit[k]))
        .cast("int")
        .alias("srm_flag"),
    )


def did_readout(
    units: DataFrame,
    arm_col: str,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """Difference-in-differences readout on unit-level pre/post
    outcomes — the quasi-experimental companion of `cuped_readout` for
    rollouts WITHOUT randomized assignment (staged launches, geo
    splits): the treatment effect is the treated arm's pre→post change
    minus the control arm's,

        DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
            = mean(d | T) − mean(d | C),   d_u = y_post,u − y_pre,u

    with a Welch standard error from the per-arm variance of the
    unit-level deltas (the canonical two-period/two-group panel
    estimator; parallel-trends is the identifying assumption and is
    the caller's to defend).

    ``units`` is one row per unit with INTEGER-quantized outcomes
    (cents — the engine's exact-moment discipline): per arm ONE
    combinable aggregate of (n, Σd, Σd²) as decimal(38,0); every later
    step is double formulas over the 2-row arm frame, bit-identical
    across engines. Arm values must be 0 (control) and 1 (treated).

    Returns one row: ``(n_treat, n_control, mean_delta_treat,
    mean_delta_control, did, se, t_stat)`` — means/did/se rounded 6,
    t rounded 4.
    """
    d = (F.col(post_col) - F.col(pre_col)).cast("decimal(38,0)")
    per_arm = units.groupBy(F.col(arm_col).alias("__arm")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(d).alias("__sd"),
        F.sum(d * d).alias("__sdd"),
    )
    one = per_arm.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__arm", F.struct("__n", "__sd", "__sdd"))))
        ).alias("__m")
    )
    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]
    dd = lambda c: c.cast("double")  # noqa: E731
    nT, nC = dd(_arm(1, "__n")), dd(_arm(0, "__n"))
    mT = dd(_arm(1, "__sd")) / nT
    mC = dd(_arm(0, "__sd")) / nC
    # sample variance of d per arm: (Σd² − n·m²) / (n − 1)
    vT = (dd(_arm(1, "__sdd")) - nT * mT * mT) / (nT - F.lit(1.0))
    vC = (dd(_arm(0, "__sdd")) - nC * mC * mC) / (nC - F.lit(1.0))
    se = F.sqrt(vT / nT + vC / nC)
    return one.select(
        _arm(1, "__n").alias("n_treat"),
        _arm(0, "__n").alias("n_control"),
        F.round(mT, 6).alias("mean_delta_treat"),
        F.round(mC, 6).alias("mean_delta_control"),
        F.round(mT - mC, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(
            F.when(se > 0.0, (mT - mC) / se), 4
        ).alias("t_stat"),
    )


# two-sided alpha=0.05 and 80% power normal quantiles, fixed to the
# double literals every stats package prints — sqrt is the only libm
# call downstream and IEEE 754 requires it correctly rounded, so the
# readout is bit-identical across engines
_Z_ALPHA_2 = 1.959963984540054
_Z_POWER = 0.8416212335729143


def power_mde(
    units: DataFrame,
    y_col: str,
) -> DataFrame:
    """Minimum detectable effect for a 50/50 two-arm experiment on
    this population — the planning readout that belongs NEXT TO the
    readout queries (Kohavi et al., "Trustworthy Online Controlled
    Experiments", ch. 17): with per-arm size n/2 and outcome variance
    σ² (pooled, from the pre-experiment population),

        MDE_abs = (z_{α/2} + z_{power}) · sqrt(2σ²/(n/2))
                 (α = 5% two-sided, power = 80%)

    ``units`` is one row per unit with the INTEGER-quantized outcome
    (cents). ONE combinable aggregate of (n, Σy, Σy²) as
    decimal(38,0); the MDE is a double formula over the 1-row moment
    frame. Returns one row ``(n_units, mean_y, sd_y, mde_abs,
    mde_rel_pct)`` — mean/sd/mde rounded 6, relative MDE (percent of
    the mean) rounded 4; relative MDE NULL when the mean is 0.
    """
    y = F.col(y_col).cast("decimal(38,0)")
    m = units.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    n = dd("__n")
    mean = dd("__sy") / n
    var = (dd("__syy") - n * mean * mean) / (n - F.lit(1.0))
    mde = F.lit(_Z_ALPHA_2 + _Z_POWER) * F.sqrt(
        F.lit(2.0) * var / (n / F.lit(2.0))
    )
    return m.select(
        F.col("__n").alias("n_units"),
        F.round(mean, 6).alias("mean_y"),
        F.round(F.sqrt(var), 6).alias("sd_y"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(
            F.when(mean != 0.0, mde / mean * F.lit(100.0)), 4
        ).alias("mde_rel_pct"),
    )


# two-sided O'Brien-Fleming boundaries for K=4 equally-spaced looks at
# overall alpha=0.05 (Lan-DeMets OBF spending, the textbook table) —
# literal constants so both engines compare against identical doubles
_OBF_BOUNDS_K4 = [4.333, 2.963, 2.359, 2.014]


def sequential_looks(
    units_by_look: DataFrame,
    look_col: str,
    arm_col: str,
    y_col: str,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """Group-sequential experiment monitoring (O'Brien & Fleming 1979;
    Lan & DeMets 1983): at each interim look the cumulative z-statistic
    of the arm difference is compared against a spending boundary that
    keeps the OVERALL false-positive rate at α despite peeking — the
    guardrail that makes "check the experiment weekly" statistically
    legal. Peeking at a fixed 1.96 inflates type-I error to ~14% over
    four looks; these boundaries spend almost nothing early (4.33)
    and converge to ~2.01 at the final read.

    ``units_by_look`` is one row per (look, unit) with the unit's
    CUMULATIVE integer-quantized outcome up to that look (the caller
    builds it — typically an explode of per-period partial sums).
    ``boundaries[i]`` guards look i+1; defaults to the K=4 OBF table.

    Scale shape: ONE combinable (n, Σy, Σy²) aggregate per (look, arm);
    z and the boundary comparison run on the 2K-row frame (Welch SE,
    exact decimal moments — the CUPED/DiD discipline). Returns one row
    per look: ``(look, n_treat, n_control, diff, se, z, obf_bound,
    crossed)``."""
    bounds = [float(b) for b in (boundaries or _OBF_BOUNDS_K4)]
    y = F.col(y_col).cast("decimal(38,0)")
    per = units_by_look.groupBy(
        F.col(look_col).alias("look"), F.col(arm_col).alias("__arm")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
    )
    one = per.groupBy("look").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct("__arm", F.struct("__n", "__sy", "__syy"))
                )
            )
        ).alias("__m")
    )
    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]
    dd = lambda c: c.cast("double")  # noqa: E731
    nT, nC = dd(_arm(1, "__n")), dd(_arm(0, "__n"))
    mT, mC = dd(_arm(1, "__sy")) / nT, dd(_arm(0, "__sy")) / nC
    vT = (dd(_arm(1, "__syy")) - nT * mT * mT) / (nT - F.lit(1.0))
    vC = (dd(_arm(0, "__syy")) - nC * mC * mC) / (nC - F.lit(1.0))
    se = F.sqrt(vT / nT + vC / nC)
    # Range-guard the boundary lookup: a data-driven look outside
    # 1..len(bounds) (0-based look numbering, or a 5th look against the
    # default K=4 table) yields NULL obf_bound/crossed instead of
    # aborting the job under ANSI mode. try_element_at alone is not
    # enough — Spark still raises INVALID_INDEX_OF_ZERO for look = 0.
    look_i = F.col("look").cast("int")
    bound = F.when(
        (look_i >= 1) & (look_i <= len(bounds)),
        F.element_at(F.array(*[F.lit(b) for b in bounds]), look_i),
    )
    z = F.when(se > 0.0, (mT - mC) / se)
    return one.select(
        "look",
        _arm(1, "__n").alias("n_treat"),
        _arm(0, "__n").alias("n_control"),
        F.round(mT - mC, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(z, 4).alias("z"),
        bound.alias("obf_bound"),
        F.when(z.isNotNull(), F.abs(z) > bound)
        .cast("int")
        .alias("crossed"),
    ).orderBy("look")


def quantile_treatment_effect(
    units: DataFrame,
    arm_col: str,
    y_col: str,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile treatment effects — where the mean readout
    (`cuped_readout`/`did_readout`) can hide a distributional shift
    (a treatment that helps whales and hurts the median moves means
    and quantiles differently), the QTE reads the arm difference at
    each requested quantile:

        QTE(p) = Q_treat(p) − Q_control(p)

    with Q the TYPE-1 (exact order statistic, no interpolation)
    quantile: the ⌈p·n⌉-th smallest integer-quantized outcome —
    exactly replayable in SQL and immune to cross-engine
    interpolation drift.

    Scale shape — the conformal-audit grid trick: ONE combinable
    (arm, value) count aggregate over units, a per-arm cumulative
    count window over the AGGREGATE grid rows (value quantization
    bounds the grid; raw rows are touched exactly once), and the
    quantile walk + arm pivot on the |grid|-row frame. Arms must be
    0 (control) and 1 (treated). Returns one row per p:
    ``(p, n_treat, n_control, q_treat, q_control, qte)``.
    """
    if not ps or any(not 0.0 < p < 1.0 for p in ps):
        raise ValueError(f"ps must be quantiles in (0,1), got {ps}")
    g = units.groupBy(
        F.col(arm_col).alias("__arm"), F.col(y_col).cast("long").alias("__y")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    cum = g.select(
        "__arm",
        "__y",
        F.sum("__c")
        .over(
            Window.partitionBy("__arm")
            .orderBy("__y")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("__cum"),
    )
    n = g.groupBy("__arm").agg(F.sum("__c").cast("long").alias("__n"))
    fan = cum.join(F.broadcast(n), "__arm").select(
        "__arm",
        "__y",
        "__cum",
        "__n",
        F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"),
    )
    k = F.ceil(F.col("p") * F.col("__n").cast("double")).cast("long")
    qs = (
        fan.where(F.col("__cum") >= k)
        .groupBy("__arm", "p")
        .agg(F.min("__y").alias("__q"), F.max("__n").alias("__n"))
    )
    one = qs.groupBy("p").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__arm", F.struct("__q", "__n"))))
        ).alias("__m")
    )
    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]
    return one.select(
        "p",
        _arm(1, "__n").alias("n_treat"),
        _arm(0, "__n").alias("n_control"),
        _arm(1, "__q").alias("q_treat"),
        _arm(0, "__q").alias("q_control"),
        (_arm(1, "__q") - _arm(0, "__q")).alias("qte"),
    ).orderBy("p")


def markov_attribution(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    type_col: str,
    convert_type: str,
    n_steps: int = 16,
) -> DataFrame:
    """Markov-chain (removal-effect) multi-touch attribution — the
    data-driven attribution model (Anderl et al. 2016): journeys are
    per-key ordered touch sequences absorbed into CONV (first
    ``convert_type`` event) or NULL (journey ends unconverted); the
    first-order transition matrix is estimated from observed
    consecutive pairs, and channel c's credit is its REMOVAL EFFECT

        RE_c = 1 − P(conv | chain with c's edges sent to NULL)
                   / P(conv | full chain)

    normalized into attribution shares — unlike last-touch
    (`asof_join`) or equal-credit (`linear_attribution`), a channel
    that only ever feeds other channels still earns the credit the
    chain loses without it.

    Absorption probabilities use ``n_steps`` truncated power
    iterations (p ← Q·p + r) with per-step 12-dp rounding rather than
    a matrix inverse, so the math is bit-replayable in SQL; with
    journeys a handful of hops long the truncation residual sits far
    below the output rounding. Touches at or after the conversion
    timestamp are outside the journey; a key converting with no prior
    touch contributes a start→conv transition.

    Scale shape: journey assembly is one key-partitioned lead window
    over (ts, order) plus a rank-1 first-touch window, and transition
    counting is ONE combinable (src, dst) aggregate — that is where
    the data volume lives. The count matrix is then CONTRACTUALLY
    TINY (≤ (k+1)(k+2) rows for k channels) and is collected for the
    (k+1)-variant × n_steps power iteration on the driver — the same
    tiny-collect pattern as the BPE per-merge argmax and the k-center
    greedy step (an in-plan unroll of (k+1)² chained HOF projections
    triggers exponential optimizer inlining past ~5 steps; 42 numbers
    do not need a cluster). Returns one row per channel:
    ``(channel, p_conv_base, removal_effect, attribution_pct,
    attributed_conversions)``.
    """
    from datas_spark.operators.clustering import _spark_round

    key, ts, order, typ = (
        F.col(key_col), F.col(ts_col), F.col(order_col), F.col(type_col)
    )
    conv = (
        events.where(typ == convert_type)
        .groupBy(key.alias("__k"))
        .agg(F.min(ts).alias("__cts"))
    )
    touches = (
        events.where(typ != convert_type)
        .select(key.alias("__k"), ts.alias("__ts"), order.alias("__o"),
                typ.alias("__t"))
        .join(conv, "__k", "left")
        .where(F.col("__cts").isNull() | (F.col("__ts") < F.col("__cts")))
        .select("__k", "__ts", "__o", "__t",
                F.col("__cts").isNotNull().alias("__cv"))
    )
    w = Window.partitionBy("__k").orderBy("__ts", "__o")
    seq = touches.select(
        "__k", "__t", "__cv",
        F.lead("__t").over(w).alias("__nxt"),
        F.row_number().over(w).alias("__rn"),
    )
    mid = seq.where(F.col("__nxt").isNotNull()).select(
        F.col("__t").alias("src"), F.col("__nxt").alias("dst")
    )
    last = seq.where(F.col("__nxt").isNull()).select(
        F.col("__t").alias("src"),
        F.when(F.col("__cv"), F.lit("__conv__"))
        .otherwise(F.lit("__null__"))
        .alias("dst"),
    )
    first = seq.where(F.col("__rn") == 1).select(
        F.lit("__start__").alias("src"), F.col("__t").alias("dst")
    )
    bare_conv = (
        conv.join(touches.select("__k").distinct(), "__k", "left_anti")
        .select(F.lit("__start__").alias("src"), F.lit("__conv__").alias("dst"))
    )
    trans_rows = (
        mid.unionByName(last).unionByName(first).unionByName(bare_conv)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()  # <= (k+1)(k+2) rows by construction
    )
    n_conv = conv.count()

    counts = {(r["src"], r["dst"]): float(r["c"]) for r in trans_rows}
    specials = {"__start__", "__conv__", "__null__"}
    chans = sorted(
        ({s for s, _ in counts} | {d for _, d in counts}) - specials
    )
    states = ["__start__"] + chans
    rowsum = {
        s: sum(c for (a, _), c in counts.items() if a == s) for s in states
    }

    def _absorb(removed: str | None) -> float:
        p = {s: 0.0 for s in states}
        for _ in range(int(n_steps)):
            nxt = {}
            for s in states:
                tot = rowsum[s]
                if tot <= 0:
                    nxt[s] = 0.0
                    continue
                acc = counts.get((s, "__conv__"), 0.0) / tot
                for c in chans:
                    if c == removed:
                        continue
                    acc += counts.get((s, c), 0.0) / tot * p[c]
                nxt[s] = _spark_round(acc, 12)
            p = nxt
        return p["__start__"]

    p_base = _absorb(None)
    re = {
        c: (max(0.0, (p_base - _absorb(c)) / p_base) if p_base > 0 else None)
        for c in chans
    }
    tot_re = 0.0
    for c in chans:  # fixed channel order, the ordered-fold discipline
        tot_re += re[c] or 0.0
    out = [
        (
            c,
            _spark_round(p_base, 6),
            _spark_round(re[c], 6) if re[c] is not None else None,
            _spark_round(re[c] / tot_re * 100.0, 4)
            if re[c] is not None and tot_re > 0
            else None,
            _spark_round(re[c] / tot_re * n_conv, 2)
            if re[c] is not None and tot_re > 0
            else None,
        )
        for c in chans
    ]
    spark = events.sparkSession
    return spark.createDataFrame(
        out,
        "channel string, p_conv_base double, removal_effect double, "
        "attribution_pct double, attributed_conversions double",
    ).orderBy("channel")


def uplift_curve(
    units: DataFrame,
    arm_col: str,
    score_col: str,
    outcome_col: str,
) -> DataFrame:
    """Threshold-based uplift (Qini) curve (Radcliffe 2007) — the
    model-QA readout for a targeting score: at every distinct score
    threshold t, among units scored ≥ t,

        qini(t)   = conv_T(t) − conv_C(t) · n_T(t) / n_C(t)
        uplift(t) = conv_T(t)/n_T(t) − conv_C(t)/n_C(t)

    A useful uplift score front-loads incremental conversions (qini
    rises steeply then flattens); a useless one tracks the random
    diagonal. Thresholds rather than forced deciles keep ties exact:
    every cumulative count is an integer, so the curve is
    bit-replayable — no fractional-rank tie splitting.

    Scale shape: ONE combinable (score → 4 conditional counts)
    aggregate over units; the cumulative walk is a window over the
    |distinct scores| AGGREGATE grid rows (quantize a continuous
    score first — the binary_auc precision contract). Returns one row
    per distinct score: ``(score_threshold, n_treat, n_control,
    conv_treat, conv_control, uplift_pct, qini)``.
    """
    g = units.groupBy(F.col(score_col).alias("score_threshold")).agg(
        F.count(F.when(F.col(arm_col) == 1, 1)).cast("long").alias("__nt"),
        F.count(F.when(F.col(arm_col) == 0, 1)).cast("long").alias("__nc"),
        F.count(
            F.when((F.col(arm_col) == 1) & (F.col(outcome_col) == 1), 1)
        ).cast("long").alias("__ct"),
        F.count(
            F.when((F.col(arm_col) == 0) & (F.col(outcome_col) == 1), 1)
        ).cast("long").alias("__cc"),
    )
    w = Window.orderBy(F.col("score_threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "score_threshold",
        F.sum("__nt").over(w).alias("n_treat"),
        F.sum("__nc").over(w).alias("n_control"),
        F.sum("__ct").over(w).alias("conv_treat"),
        F.sum("__cc").over(w).alias("conv_control"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return cum.select(
        "score_threshold",
        "n_treat",
        "n_control",
        "conv_treat",
        "conv_control",
        F.round(
            F.when(
                (F.col("n_treat") > 0) & (F.col("n_control") > 0),
                (dd("conv_treat") / dd("n_treat")
                 - dd("conv_control") / dd("n_control")) * 100.0,
            ),
            4,
        ).alias("uplift_pct"),
        F.round(
            F.when(
                F.col("n_control") > 0,
                dd("conv_treat")
                - dd("conv_control") * dd("n_treat") / dd("n_control"),
            ),
            4,
        ).alias("qini"),
    ).orderBy(F.col("score_threshold").desc())


# chi-square 95% critical values for df = 1..5 — fixed literals, the
# same convention as srm_check's 99.9% table
_CHI2_95 = [3.841, 5.991, 7.815, 9.488, 11.070]


def hte_segments(
    units: DataFrame,
    segment_col: str,
    arm_col: str,
    y_col: str,
) -> DataFrame:
    """Heterogeneous-treatment-effect readout by segment — the first
    follow-up question to any A/B readout ("is the effect the same
    for everyone?"), answered with the standard fixed-effect
    meta-analysis machinery (Cochran 1954): per segment s the arm
    difference d_s with Welch SE; across segments the
    inverse-variance pooled estimate and Cochran's Q,

        d̄ = Σ w_s·d_s / Σ w_s,   w_s = 1/SE_s²,
        Q  = Σ w_s·(d_s − d̄)²   ~ χ²(k−1) under homogeneity

    with ``het_flag`` = Q above the 95% χ² critical value — a fired
    flag means one pooled number misleads and the per-segment rows
    are the real readout.

    Scale shape: ONE combinable exact-moment aggregate per
    (segment, arm); everything after runs on the 2k-row frame packed
    into a single row, every float fold in sorted-segment order (the
    engine's ordered-fold discipline). Segments with a degenerate SE
    (n < 2 or zero variance) are excluded from the pooled fold and
    carry NULL diff context; df = valid segments − 1 (flag NULL past
    df 5 or below 1). Arms must be 0/1. Returns one row per segment:
    ``(segment, n_treat, n_control, diff, se, pooled_diff, q_stat,
    df, het_flag)``.
    """
    y = F.col(y_col).cast("decimal(38,0)")
    per = units.groupBy(
        F.col(segment_col).alias("segment"), F.col(arm_col).alias("__arm")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
    )
    seg = per.groupBy("segment").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("__arm", F.struct("__n", "__sy", "__syy")))
            )
        ).alias("__m")
    )
    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]
    dd = lambda c: c.cast("double")  # noqa: E731
    nT, nC = dd(_arm(1, "__n")), dd(_arm(0, "__n"))
    mT, mC = dd(_arm(1, "__sy")) / nT, dd(_arm(0, "__sy")) / nC
    vT = (dd(_arm(1, "__syy")) - nT * mT * mT) / (nT - F.lit(1.0))
    vC = (dd(_arm(0, "__syy")) - nC * mC * mC) / (nC - F.lit(1.0))
    se2 = vT / nT + vC / nC
    rows = seg.select(
        "segment",
        _arm(1, "__n").alias("n_treat"),
        _arm(0, "__n").alias("n_control"),
        (mT - mC).alias("__d"),
        F.when(
            (nT > 1) & (nC > 1) & (se2 > 0.0), F.sqrt(se2)
        ).alias("__se"),
    )
    packed = rows.agg(
        F.array_sort(
            F.collect_list(F.struct("segment", "__d", "__se"))
        ).alias("__s")
    )
    valid = F.filter("__s", lambda s: s["__se"].isNotNull())
    sw = F.aggregate(
        valid, F.lit(0.0), lambda a, s: a + 1.0 / (s["__se"] * s["__se"])
    )
    swd = F.aggregate(
        valid,
        F.lit(0.0),
        lambda a, s: a + s["__d"] / (s["__se"] * s["__se"]),
    )
    scal = packed.select(
        F.size(valid).alias("__k"),
        sw.alias("__sw"),
        swd.alias("__swd"),
        "__s",
    )
    pooled = F.when(F.col("__sw") > 0.0, F.col("__swd") / F.col("__sw"))
    scal = scal.select(
        "__k",
        pooled.alias("__pooled"),
        F.aggregate(
            F.filter("__s", lambda s: s["__se"].isNotNull()),
            F.lit(0.0),
            lambda a, s: a
            + (s["__d"] - pooled) * (s["__d"] - pooled)
            / (s["__se"] * s["__se"]),
        ).alias("__q"),
    )
    dfree = F.col("__k") - 1
    crit = F.when(
        (dfree >= 1) & (dfree <= len(_CHI2_95)),
        F.element_at(
            F.array(*[F.lit(c) for c in _CHI2_95]), dfree.cast("int")
        ),
    )
    return rows.crossJoin(F.broadcast(scal)).select(
        "segment",
        "n_treat",
        "n_control",
        F.round("__d", 6).alias("diff"),
        F.round("__se", 6).alias("se"),
        F.round("__pooled", 6).alias("pooled_diff"),
        F.round(F.when(dfree >= 1, F.col("__q")), 6).alias("q_stat"),
        dfree.cast("int").alias("df"),
        F.when(crit.isNotNull(), F.col("__q") > crit)
        .cast("int")
        .alias("het_flag"),
    ).orderBy("segment")


def trimmed_readout(
    units: DataFrame,
    arm_col: str,
    y_col: str,
    trim: float = 0.05,
) -> DataFrame:
    """Robust (trimmed-mean) experiment readout — the whale-resistant
    companion of `cuped_readout`: each arm's outcome mean is computed
    over values between its own ``trim`` and ``1 − trim`` exact
    order-statistic thresholds (type-1, tie-INCLUSIVE: every unit whose
    value equals a boundary value stays — thresholds are values, not
    ranks, which keeps the estimator exactly SQL-replayable; with heavy
    boundary ties the effective trim is smaller than nominal, and the
    reported per-arm kept-counts make that visible).

    A single capped-metric mean hides a treatment that moves the cap;
    per-arm trimming at the same QUANTILE keeps the estimator
    comparable across arms whose scales differ.

    Scale shape — the QTE grid machinery: ONE combinable (arm, value)
    count+sum aggregate over units; thresholds walk per-arm cumulative
    counts over the AGGREGATE grid rows; the trimmed sums re-aggregate
    the same grid. Returns one row: ``(n_treat, n_control, kept_treat,
    kept_control, lo_treat, hi_treat, lo_control, hi_control,
    trimmed_mean_treat, trimmed_mean_control, trimmed_diff)``.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    g = units.groupBy(
        F.col(arm_col).alias("__arm"), F.col(y_col).cast("long").alias("__y")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    cum = g.select(
        "__arm",
        "__y",
        "__c",
        F.sum("__c")
        .over(
            Window.partitionBy("__arm")
            .orderBy("__y")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("__cum"),
    )
    n = g.groupBy("__arm").agg(F.sum("__c").cast("long").alias("__n"))
    j = cum.join(F.broadcast(n), "__arm")
    k_lo = F.ceil(F.lit(float(trim)) * F.col("__n").cast("double")).cast("long")
    k_hi = F.ceil(
        F.lit(1.0 - float(trim)) * F.col("__n").cast("double")
    ).cast("long")
    bounds = (
        j.groupBy("__arm")
        .agg(
            F.min(F.when(F.col("__cum") >= k_lo, F.col("__y"))).alias("__lo"),
            F.min(F.when(F.col("__cum") >= k_hi, F.col("__y"))).alias("__hi"),
            F.max("__n").alias("__n"),
        )
    )
    kept = (
        g.join(F.broadcast(bounds), "__arm")
        .where((F.col("__y") >= F.col("__lo")) & (F.col("__y") <= F.col("__hi")))
        .groupBy("__arm")
        .agg(
            F.sum("__c").cast("long").alias("__kept"),
            F.sum(
                F.col("__y").cast("decimal(38,0)")
                * F.col("__c").cast("decimal(38,0)")
            ).alias("__sv"),
        )
    )
    one = bounds.join(kept, "__arm").groupBy().agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "__arm",
                        F.struct("__n", "__lo", "__hi", "__kept", "__sv"),
                    )
                )
            )
        ).alias("__m")
    )
    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]
    dd = lambda c: c.cast("double")  # noqa: E731
    mT = dd(_arm(1, "__sv")) / dd(_arm(1, "__kept"))
    mC = dd(_arm(0, "__sv")) / dd(_arm(0, "__kept"))
    return one.select(
        _arm(1, "__n").alias("n_treat"),
        _arm(0, "__n").alias("n_control"),
        _arm(1, "__kept").alias("kept_treat"),
        _arm(0, "__kept").alias("kept_control"),
        _arm(1, "__lo").alias("lo_treat"),
        _arm(1, "__hi").alias("hi_treat"),
        _arm(0, "__lo").alias("lo_control"),
        _arm(0, "__hi").alias("hi_control"),
        F.round(mT, 6).alias("trimmed_mean_treat"),
        F.round(mC, 6).alias("trimmed_mean_control"),
        F.round(mT - mC, 6).alias("trimmed_diff"),
    )


def bayes_ab_readout(
    units: DataFrame,
    arm_col: str,
    y_col: str,
    alpha: float = 1.0,
    beta: float = 1.0,
    grid: int = 512,
) -> DataFrame:
    """Bayesian A/B conversion readout — the posterior complement to
    the frequentist family (`cuped_readout`/`srm_check`/`power_mde`):
    with a Beta(α, β) prior and per-arm conversions c of n trials, the
    conversion rate posterior is Beta(α+c, β+n−c), and the decision
    quantities are

        P(p_T > p_C)              (probability treatment wins)
        E[(p_C − p_T)+]           (expected loss of SHIPPING treatment)
        E[(p_T − p_C)+]           (expected loss of keeping control)

    computed by DETERMINISTIC grid integration — the residual-grid
    discipline of `quantile_treatment_effect`, never Monte Carlo: the
    unit interval splits into ``grid`` midpoint cells x_i = (2i+1)/2G,
    each arm's log-density (α+c−1)·ln x + (β+n−c−1)·ln(1−x) is
    max-shifted and exponentiated, and the cell mass quantizes to e12
    integers so every downstream sum — normalizers, CDFs, the win
    probability's Σ w_T·(F_C − w_C/2) midpoint rule, and the expected
    losses' Σ w_C·(x·A − B) prefix-sum identity — is exact
    integer/decimal-38 algebra: order-free, partitioning-independent,
    bit-replayable in a SQL oracle. The only libm calls are one
    ln/exp pair per grid cell.

    Grid resolution: G=512 midpoint cells integrate a Beta posterior
    with O(1/G²) bias; the posterior must be wider than a cell
    (sd ≈ √(p(1−p)/n) ≫ 1/G) — at G=512 that holds to n ≈ 10⁵ per arm;
    raise ``grid`` for larger arms (cost is linear, the grid frame is
    2·G rows). Posterior means are reported in closed conjugate form
    (α+c)/(α+β+n) — exact, grid-free (the property test anchor).

    Plan shape: ONE combinable (count, sum) aggregate over units; all
    grid math runs on the 2·G-row frame (windows partitioned by arm),
    and the readout is a 1-row fold. Arms must be 0 (control) and
    1 (treated); ``y_col`` is 0/1 conversion. Returns one row.
    """
    if alpha <= 0 or beta <= 0:
        raise ValueError(f"alpha/beta must be > 0, got {alpha}/{beta}")
    if grid < 16:
        raise ValueError(f"grid must be >= 16, got {grid}")
    G = int(grid)
    per = units.groupBy(F.col(arm_col).alias("__arm")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col(y_col).cast("int")).cast("long").alias("__c"),
    )
    gr = per.select(
        "__arm",
        "__n",
        "__c",
        F.explode(F.sequence(F.lit(0), F.lit(G - 1))).alias("__i"),
    )
    xnum = (F.col("__i") * 2 + 1).cast("double")  # x = xnum / 2G
    x = xnum / F.lit(2.0 * G)
    n, c = F.col("__n").cast("double"), F.col("__c").cast("double")
    lp = (c + F.lit(alpha - 1.0)) * F.log(x) + (
        n - c + F.lit(beta - 1.0)
    ) * F.log(F.lit(1.0) - x)
    w_arm = Window.partitionBy("__arm")
    w_cum = (
        Window.partitionBy("__arm")
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shifted = gr.select(
        "__arm", "__n", "__c", "__i",
        (lp - F.max(lp).over(w_arm)).alias("__lp"),
    )
    ue = F.round(F.exp(F.col("__lp")) * 1e12).cast("long")
    cells = shifted.select(
        "__arm", "__n", "__c", "__i",
        ue.alias("__u"),
    ).select(
        "__arm", "__n", "__c", "__i", "__u",
        F.sum("__u").over(w_arm).alias("__s"),
        F.sum("__u").over(w_cum).alias("__cum"),
        F.sum(F.col("__u") * (F.col("__i") * 2 + 1)).over(w_cum).alias("__bx"),
    )
    one = cells.groupBy("__i").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "__arm",
                        F.struct("__u", "__cum", "__bx", "__s", "__n", "__c"),
                    )
                )
            )
        ).alias("__m")
    )

    def _arm(a: int, field: str):
        return F.col("__m")[F.lit(a)][field]

    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    uT, uC = dec(_arm(1, "__u")), dec(_arm(0, "__u"))
    cumT, cumC = dec(_arm(1, "__cum")), dec(_arm(0, "__cum"))
    bxT, bxC = dec(_arm(1, "__bx")), dec(_arm(0, "__bx"))
    xj = dec(F.col("__i") * 2 + 1)
    agg = one.agg(
        F.sum(uT * (cumC * F.lit(2).cast("decimal(38,0)") - uC)).alias("__pn"),
        F.sum(uC * (xj * cumT - bxT)).alias("__lt"),
        F.sum(uT * (xj * cumC - bxC)).alias("__lc"),
        F.max(_arm(1, "__s")).alias("__sT"),
        F.max(_arm(0, "__s")).alias("__sC"),
        F.max(_arm(1, "__n")).alias("n_treat"),
        F.max(_arm(0, "__n")).alias("n_control"),
        F.max(_arm(1, "__c")).alias("c_treat"),
        F.max(_arm(0, "__c")).alias("c_control"),
    )
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    sTsC = dd("__sT") * dd("__sC")
    pm = lambda cc, nn: (dd(cc) + F.lit(alpha)) / (  # noqa: E731
        dd(nn) + F.lit(alpha + beta)
    )
    return agg.select(
        "n_treat", "c_treat", "n_control", "c_control",
        F.round(pm("c_treat", "n_treat"), 6).alias("pm_treat"),
        F.round(pm("c_control", "n_control"), 6).alias("pm_control"),
        F.round(dd("__pn") / (F.lit(2.0) * sTsC), 6).alias(
            "p_treat_beats_control"
        ),
        F.round(dd("__lt") / (F.lit(2.0 * G) * sTsC), 6).alias(
            "exp_loss_treat"
        ),
        F.round(dd("__lc") / (F.lit(2.0 * G) * sTsC), 6).alias(
            "exp_loss_control"
        ),
    )
