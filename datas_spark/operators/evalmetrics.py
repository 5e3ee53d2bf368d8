"""Evaluation-metric operators: ranking metrics for recommenders
(MRR, recall@k), binary-classifier AUC by rank-sum, and Cohen's kappa
for annotator/label agreement.

Reference parity: the reference selects training subsets but never
measures the models trained on them; a data engine that builds
training sets needs the matching eval plans. All three are exact
integer/count computations with one final division — deterministic
across engines, so every metric is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["ranking_metrics", "binary_auc", "cohens_kappa", "lift_table", "calibration_ece", "classification_prf1", "ndcg_at_k", "bt_rating_k", "pass_at_k", "split_conformal_audit", "corpus_bleu", "rouge_n", "distinct_n", "self_bleu", "chrf", "brier_decomposition", "krippendorff_alpha"]


def ranking_metrics(
    preds: DataFrame,
    truth: DataFrame,
    user_col: str,
    item_col: str,
    rank_col: str,
    k: int = 5,
    exact_scale: int | None = None,
) -> DataFrame:
    """MRR and recall@k over per-user ranked predictions vs a truth
    set: one row ``(n_users, mrr, recall_at_k)``.

    ``preds`` holds (user, item, rank) with rank 1 = best; ``truth``
    holds (user, item) relevant pairs. MRR uses each user's best-ranked
    hit (users with no hit contribute 0); recall@k = hits within rank
    ≤ k / min(|truth_u|, k), averaged over users with non-empty truth
    (the standard 'recall@k is capped by k' convention).

    Scale shape: one (user, item) equi-join, two combinable per-user
    aggregates, one global aggregate.

    ``exact_scale`` (e.g. lcm(1..k)) switches the averaging to exact
    integer arithmetic: per-user terms become ``scale/best`` and
    ``scale·hits/min(|truth|,k)`` — both exact because every possible
    denominator divides the scale — summed as BIGINTs with ONE final
    division, so the result is bit-identical on any row order/engine
    (float averaging is order-sensitive in the last ulp). Requires
    every prediction rank ≤ k; the float path has no such restriction.
    """
    p = preds.select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__r"),
    )
    if exact_scale is not None:
        # the bit-exactness contract requires every denominator to
        # divide exact_scale, i.e. every prediction rank <= k — enforce
        # it lazily (no extra action) so a rank > k fails loudly at
        # execution time instead of silently floor-truncating the MRR
        p = p.select(
            "__u",
            "__i",
            F.when(F.col("__r") <= k, F.col("__r"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "ranking_metrics(exact_scale=...) requires every "
                            f"prediction rank <= k={k}; got rank "
                        ),
                        F.col("__r").cast("string"),
                    )
                )
            )
            .alias("__r"),
        )
    t = truth.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
    ).distinct()
    truth_sizes = t.groupBy("__u").agg(F.count(F.lit(1)).alias("__nt"))
    hits = p.join(t, ["__u", "__i"]).groupBy("__u").agg(
        F.min("__r").alias("__best"),
        F.count_if(F.col("__r") <= k).alias("__hits_k"),
    )
    joined = truth_sizes.join(hits, "__u", "left")
    if exact_scale is not None:
        sc = int(exact_scale)
        for d in range(1, k + 1):
            if sc % d != 0:
                raise ValueError(f"exact_scale must be divisible by 1..{k}")
        per_user = joined.select(
            "__u",
            F.coalesce(
                F.floor(F.lit(sc) / F.col("__best")).cast("long"), F.lit(0)
            ).alias("__rr_s"),
            F.floor(
                (F.lit(sc) * F.coalesce("__hits_k", F.lit(0)))
                / F.least(F.col("__nt"), F.lit(k))
            )
            .cast("long")
            .alias("__rec_s"),
        )
        agg = per_user.agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("__rr_s").alias("__srr"),
            F.sum("__rec_s").alias("__srec"),
        )
        return agg.select(
            "n_users",
            F.round(F.col("__srr") / (F.lit(sc) * F.col("n_users")), 6).alias("mrr"),
            F.round(
                F.col("__srec") / (F.lit(sc) * F.col("n_users")), 6
            ).alias("recall_at_k"),
        )
    per_user = joined.select(
        "__u",
        F.coalesce(1.0 / F.col("__best"), F.lit(0.0)).alias("__rr"),
        (
            F.coalesce("__hits_k", F.lit(0))
            / F.least(F.col("__nt"), F.lit(k)).cast("double")
        ).alias("__rec"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("__rr"), 6).alias("mrr"),
        F.round(F.avg("__rec"), 6).alias("recall_at_k"),
    )


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    precision: int | None = None,
) -> DataFrame:
    """ROC AUC by the Mann–Whitney rank-sum with tie correction: one
    row ``(n_pos, n_neg, auc)``.

    AUC = (Σ_pairs [s_pos > s_neg] + ½·[s_pos = s_neg]) / (n_pos·n_neg),
    computed without any pairwise join: group rows by DISTINCT score,
    take a running count of negatives below each score (ascending),
    and each score-group contributes ``pos_g · (neg_below + neg_g/2)``
    — exact integers scaled ×2 until the single final division.

    Scale shape: one combinable groupBy on score, then a cumulative
    window over the |distinct scores| aggregate rows (tiny relative to
    data). Label must be 0/1.

    ``precision`` ENFORCES the distinct-score bound: scores are rounded
    to that many decimals before the groupBy, capping the window input
    at ~10^precision · range rows regardless of data size. A continuous
    float score otherwise makes |distinct| ≈ n and funnels it through
    one reducer — set precision whenever the score isn't already
    discrete. (Rounding is part of the metric definition then: ties
    created by rounding count as ties, the standard binned-AUC
    semantics.)

    ``by`` computes a sliced AUC per group (the model-QA slicing
    standard — an overall AUC can hide a slice where the score is
    anti-predictive); the cumulative window then partitions on the
    slice keys, so no partition-less window appears at any size.
    """
    keys = list(by or [])
    s = F.col(score_col)
    if precision is not None:
        s = F.round(s, precision)
    g = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*keys, s.alias("__s"))
        .agg(
            F.count_if(F.col(label_col) == 1).alias("__pos"),
            F.count_if(F.col(label_col) == 0).alias("__neg"),
        )
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy()
    ).orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    if not keys:
        w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    contrib2 = F.col("__pos") * (
        2 * F.coalesce(F.sum("__neg").over(w), F.lit(0)) + F.col("__neg")
    )
    agg = g.select(
        *keys, F.col("__pos"), F.col("__neg"), contrib2.alias("__c2")
    ).groupBy(*keys).agg(
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum("__neg").cast("long").alias("n_neg"),
        F.sum("__c2").cast("long").alias("__num2"),
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.round(
            F.col("__num2") / (2.0 * F.col("n_pos") * F.col("n_neg")), 6
        ).alias("auc"),
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    precision: int | None = None,
) -> DataFrame:
    """Decile lift & cumulative gains for a score against a binary
    label: rank rows score-DESC, cut into ``bins`` equal-population
    bands, and report each band's response rate, lift vs the base
    rate, and cumulative gain (share of all positives captured so
    far) — the model-eval table next to AUC.

    Construction mirrors `binary_auc`: one combinable groupBy on the
    distinct score, a cumulative count over those aggregate rows
    assigns each score its rank interval, and the band of a score is
    ``⌊cum_before · bins / N⌋`` (ties share the band of their first
    row — deterministic, engine-identical). Exact integer counts; the
    three rates divide once at the end.

    ``precision`` bounds the distinct-score set exactly as in
    `binary_auc` — round before grouping so the cumulative window input
    stays small for continuous scores.
    """
    s = F.col(score_col)
    if precision is not None:
        s = F.round(s, precision)
    g = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_if(F.col(label_col) == 1).alias("__pos"),
        )
    )
    w = Window.orderBy(F.desc("__s")).rowsBetween(Window.unboundedPreceding, -1)
    g = g.select(
        "__s",
        "__n",
        "__pos",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__cum_before"),
    )
    tot = g.agg(
        F.sum("__n").cast("long").alias("__tn"),
        F.sum("__pos").cast("long").alias("__tp"),
    )
    binned = g.join(F.broadcast(tot)).select(
        F.floor(F.col("__cum_before") * bins / F.col("__tn"))
        .cast("int")
        .alias("band"),
        "__n",
        "__pos",
        "__tn",
        "__tp",
    )
    per = binned.groupBy("band").agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__pos").cast("long").alias("n_pos"),
        F.any_value("__tn").alias("__tn"),
        F.any_value("__tp").alias("__tp"),
    )
    wc = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    out = per.select(
        "band",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("response_rate"),
        F.round(
            (F.col("n_pos") / F.col("n")) / (F.col("__tp") / F.col("__tn")), 6
        ).alias("lift"),
        (F.sum("n_pos").over(wc) / F.col("__tp")).alias("__cg"),
    )
    return out.select(
        "band", "n", "n_pos", "response_rate", "lift",
        F.round("__cg", 6).alias("cum_gain"),
    )


def calibration_ece(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error: bucket predictions by predicted
    probability (fixed-width bins on [0,1]), compare each bin's mean
    prediction to its observed positive rate, and weight the absolute
    gaps by bin mass. Returns the per-bin reliability rows PLUS the
    ECE on every row (windowed total over ≤``bins`` aggregate rows) —
    the calibration diagnostic next to AUC/lift.

    Mean predicted probability per bin is a float average: summed in
    ONE combinable aggregate after scaling to e9 integers (probs come
    rounded to ≤9 dp from the proxy/model boundary), so the mean is
    exact and engine-identical.
    """
    p = F.col(prob_col)
    b = F.least(
        F.floor(p * bins).cast("int"), F.lit(bins - 1)
    )  # p = 1.0 folds into the top bin
    g = (
        df.where(p.isNotNull() & F.col(label_col).isNotNull())
        .select(
            b.alias("bin"),
            F.round(p * 1_000_000_000).cast("long").alias("__pe9"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__pe9").alias("__sum_pe9"),
            F.sum("__y").cast("long").alias("n_pos"),
        )
    )
    tot = g.agg(F.sum("n").cast("long").alias("__tn"))
    out = g.join(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        (F.col("__sum_pe9") / F.col("n") / 1e9).alias("__mean_p"),
        (F.col("n_pos") / F.col("n")).alias("__rate"),
        "__tn",
    )
    gap = F.abs(F.col("__mean_p") - F.col("__rate"))
    wc = Window.partitionBy(F.lit(1))
    ece = F.sum(gap * F.col("n") / F.col("__tn")).over(wc)
    return out.select(
        "bin",
        "n",
        "n_pos",
        F.round("__mean_p", 6).alias("mean_pred"),
        F.round("__rate", 6).alias("obs_rate"),
        F.round(ece, 6).alias("ece"),
    )


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa between two categorical labelings: one row
    ``(n, po, pe, kappa)`` — chance-corrected agreement, the standard
    annotator-consistency / declared-vs-detected score.

    po = observed agreement rate; pe = Σ_c p_a(c)·p_b(c) from the
    marginals. All counts are exact BIGINTs from TWO combinable
    aggregates (one per-pair, one per-category after a union of the
    two marginal projections); the divisions happen once at the end.
    """
    d = df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    totals = d.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_if(F.col(a_col) == F.col(b_col)).alias("__agree"),
    )
    marg = (
        d.select(F.col(a_col).alias("__c"), F.lit(1).alias("__ia"))
        .unionByName(d.select(F.col(b_col).alias("__c"), F.lit(0).alias("__ia")))
        .groupBy("__c")
        .agg(
            F.count_if(F.col("__ia") == 1).alias("__na"),
            F.count_if(F.col("__ia") == 0).alias("__nb"),
        )
    )
    chance = marg.agg(F.sum(F.col("__na") * F.col("__nb")).alias("__chance2"))
    out = totals.join(F.broadcast(chance))
    po = F.col("__agree") / F.col("__n")
    pe = F.col("__chance2") / (F.col("__n") * F.col("__n"))
    return out.select(
        F.col("__n").cast("long").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


def classification_prf1(df: DataFrame, true_col: str, pred_col: str) -> DataFrame:
    """Per-class precision / recall / F1 from a (true, pred) pair
    frame — the table behind every confusion matrix. Exact BIGINT
    tp/fp/fn from ONE grouped aggregate over the union of both label
    projections; the three ratios divide at the end (NULL when a class
    has no predictions / no truth — explicit, not 0-by-convention).
    """
    d = df.where(F.col(true_col).isNotNull() & F.col(pred_col).isNotNull())
    per_true = d.groupBy(F.col(true_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__n_true"),
        F.count_if(F.col(pred_col) == F.col(true_col)).alias("__tp_t"),
    )
    per_pred = d.groupBy(F.col(pred_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__n_pred"),
        F.count_if(F.col(pred_col) == F.col(true_col)).alias("__tp_p"),
    )
    j = per_true.join(per_pred, "label", "full_outer").select(
        "label",
        F.coalesce("__tp_t", "__tp_p", F.lit(0)).cast("long").alias("tp"),
        (F.coalesce("__n_pred", F.lit(0)) - F.coalesce("__tp_p", F.lit(0)))
        .cast("long")
        .alias("fp"),
        (F.coalesce("__n_true", F.lit(0)) - F.coalesce("__tp_t", F.lit(0)))
        .cast("long")
        .alias("fn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp")))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn")))
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    )
    return j.select(
        "label", "tp", "fp", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def ndcg_at_k(
    preds: DataFrame,
    truth: DataFrame,
    user_col: str,
    item_col: str,
    rank_col: str,
    k: int = 5,
) -> DataFrame:
    """Binary-relevance nDCG@k averaged over users: per user, DCG =
    Σ_hits 1/log2(1+rank), IDCG = the best possible arrangement of
    min(|truth|, k) hits at ranks 1.., nDCG = DCG/IDCG.

    Determinism: each user's DCG folds over the SORTED hit-rank array
    (fixed accumulation order); per-user nDCG is then quantized to e9
    integers before the global average, so the float mean is an exact
    integer sum + one division — the same bit-stability contract as
    `ranking_metrics(exact_scale=...)`, with the quantization part of
    the metric definition. Returns one row (n_users, ndcg_at_k).
    """
    p = preds.where(F.col(rank_col) <= k).select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__r"),
    )
    t = truth.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
    ).distinct()
    truth_sizes = t.groupBy("__u").agg(F.count(F.lit(1)).alias("__nt"))
    hit_ranks = (
        p.join(t, ["__u", "__i"])
        .groupBy("__u")
        .agg(F.sort_array(F.collect_list("__r")).alias("__ranks"))
    )
    dcg = F.aggregate(
        F.coalesce("__ranks", F.array().cast("array<int>")),
        F.lit(0.0),
        lambda acc, r: acc + 1.0 / F.log2(r.cast("double") + 1.0),
    )
    ideal_n = F.least(F.col("__nt"), F.lit(k))
    idcg = F.aggregate(
        F.sequence(F.lit(1), ideal_n),
        F.lit(0.0),
        lambda acc, r: acc + 1.0 / F.log2(r.cast("double") + 1.0),
    )
    per_user = (
        truth_sizes.join(hit_ranks, "__u", "left")
        .select(
            F.round((dcg / idcg) * 1_000_000_000)
            .cast("long")
            .alias("__ndcg_e9")
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("__ndcg_e9") / 1e9 / F.count(F.lit(1)), 6).alias(
            f"ndcg_at_k"
        ),
    )


def bt_rating_k(
    comparisons: DataFrame,
    winner_col: str,
    loser_col: str,
    n_steps: int = 5,
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise win/loss records —
    the Chatbot-Arena-style readout of a preference dataset, and the
    natural consumer of the engine's ``preference_pairs`` shape (the
    reference's reward scores exist to rank competing outputs,
    ``score_pipeline_rw.py``; this turns those rankings into per-model
    strengths). ``n_steps`` minorization-maximization updates
    (Hunter 2004, "MM algorithms for generalized Bradley-Terry
    models"):

        p'_i = W_i / Σ_{j≠i} n_ij / (p_i + p_j),  then normalize to Σ=1

    starting from uniform. W_i = total wins of item i, n_ij = games
    between i and j. Items that never win converge to rating 0 (the
    standard MM caveat); ties must be excluded upstream.

    Scale shape — the `kmeans_lloyd` driver-state idiom: comparisons
    are touched by ONE combinable (winner, loser) count aggregate whose
    ≤k² rows are collected; the win vector, the k×k game matrix and
    every MM step then run as a plain driver loop over the items in
    ascending order (the oracle's fold order). Only +,/ arithmetic — no
    libm calls — so every intermediate double is bit-identical across
    engines; the per-step 12-dp Spark-rounding (`clustering.
    _spark_round`) is belt-and-braces against future expression
    reassociation. A pair with a NULL side is no game; a win over a
    NULL loser still counts in ``n_wins``.

    Returns ``(item, n_wins, n_games, rating)``, rating rounded to 6, as
    a driver-built frame with the input's item type; no comparisons
    return no rows.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from datas_spark.operators.clustering import _spark_round

    pairs = (
        comparisons.groupBy(
            F.col(winner_col).alias("__wi"), F.col(loser_col).alias("__li")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
        .collect()
    )
    items = sorted({x for r in pairs for x in (r["__wi"], r["__li"]) if x is not None})
    k = len(items)
    at = {it: i for i, it in enumerate(items)}
    # W[i] = wins of i; N[i][j] = games between i and j (symmetric)
    W = [0.0] * k
    N = [[0.0] * k for _ in range(k)]
    for wi, li, c in pairs:
        if wi is not None:
            W[at[wi]] += c
        if wi is not None and li is not None:
            i, j = at[wi], at[li]
            N[i][j] += c
            if i != j:
                N[j][i] += c
    p = [1.0 / k for _ in items]
    for _ in range(int(n_steps)):
        # denom_i = sum_j N[i,j] / (p_i + p_j); p'_i = W_i / denom_i
        r = []
        for i in range(k):
            den = 0.0
            for j in range(k):
                den += N[i][j] / (p[i] + p[j]) if j != i and N[i][j] > 0.0 else 0.0
            r.append(W[i] / den if den > 0.0 else p[i])
        z = 0.0
        for x in r:  # the oracle's left fold; sum() compensates from 3.12
            z += x
        p = [_spark_round(x / z if z > 0.0 else x, 12) for x in r]
    # counts are integer-valued doubles, so their sums are exact
    out = [
        (it, int(W[i]), int(sum(N[i])), _spark_round(p[i], 6))
        for i, it in enumerate(items)
    ]
    schema = StructType(
        [
            StructField("item", comparisons.schema[winner_col].dataType),
            StructField("n_wins", LongType()),
            StructField("n_games", LongType()),
            StructField("rating", DoubleType()),
        ]
    )
    return comparisons.sparkSession.createDataFrame(out, schema)


def pass_at_k(
    responses: DataFrame,
    group_col: str,
    correct_col: str,
    ks: list[int],
) -> DataFrame:
    """Unbiased pass@k over per-prompt response samples (Chen et al.
    2021, "Evaluating Large Language Models Trained on Code", eq. 1):
    with n samples of which c pass,

        pass@k = 1 − C(n−c, k) / C(n, k)
               = 1 − Π_{i=0..k−1} (n−c−i) / (n−i)

    — the standard readout of any best-of-n generation harness, and
    the measurement companion of ``training.preference_pairs`` (both
    consume the same multi-response-per-prompt frame).

    Scale shape: ONE combinable (count, sum) aggregate per prompt;
    the k-fan is an explode of the literal ``ks`` list over the
    prompt-level frame. The product folds over ``sequence(0, k−1)``
    in fixed order (exact rational terms, no libm); per-prompt values
    are quantized to e9 integers before the global mean, so the
    average is an exact integer sum + one division (the ndcg_at_k
    bit-stability contract).

    Returns one row per k: ``(k, n_prompts, pass_at_k)`` rounded 6.
    """
    if not ks or any(int(k) < 1 for k in ks):
        raise ValueError(f"ks must be non-empty positive ints, got {ks!r}")
    per = responses.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).cast("int").alias("__n"),
        F.sum(F.col(correct_col).cast("int")).cast("int").alias("__c"),
    )
    fanned = per.select(
        "__n",
        "__c",
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"),
    )
    n, c, kk = F.col("__n"), F.col("__c"), F.col("k")
    prod = F.aggregate(
        F.sequence(F.lit(0), kk - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (n - c - i).cast("double")
        / (n - i).cast("double"),
    )
    per_prompt = fanned.select(
        "k",
        F.when(c <= 0, F.lit(0.0))
        .when(n - c < kk, F.lit(1.0))
        .otherwise(F.lit(1.0) - prod)
        .alias("__pass"),
    ).select(
        "k",
        F.round(F.col("__pass") * 1_000_000_000).cast("long").alias("__e9"),
    )
    return (
        per_prompt.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_prompts"),
            F.round(
                F.sum("__e9") / 1e9 / F.count(F.lit(1)), 6
            ).alias("pass_at_k"),
        )
        .orderBy("k")
    )


def split_conformal_audit(
    scored: DataFrame,
    split_col: str,
    target_col: str,
    pred_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction-interval audit (Vovk et al.; Lei et
    al. 2018 JASA): from a CALIBRATION set's absolute residuals take
    the finite-sample-corrected order statistic

        q̂ = the k-th smallest |y − ŷ|,   k = ⌈(1−α)(n_cal + 1)⌉

    and measure the EVALUATION set's realized coverage of ŷ ± q̂ —
    the distribution-free guarantee is coverage ≥ 1−α, and this query
    measures instead of assuming it (the engine's "measure, don't
    guess" discipline; the proxy-scorer contract makes any regression
    in a scorer's error distribution a visible coverage drop).

    ``scored`` carries ``split_col`` ∈ {'cal', 'eval'} (built by the
    caller on a hash split DISJOINT from the model's training slice —
    leakage discipline is the caller's), plus target and prediction.

    Scale shape: residuals quantize to an e2 grid (cents), so the
    order statistic is an exact cumulative-count walk over the
    |distinct residuals|-row grid frame — ONE combinable
    (value, count) aggregate over rows, a running-sum window over
    aggregate rows only, never a raw-row sort and never a
    buffer-everything percentile aggregate. k > n_cal (tiny
    calibration sets) yields q̂ = NULL = +∞ and 100% coverage, per the
    conformal definition.

    Returns one row: ``(n_cal, n_eval, alpha, k_rank, q_hat,
    coverage_pct)`` — q_hat in target units (2 dp), coverage 4 dp.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    resid_e2 = F.round(
        F.abs(
            F.col(target_col).cast("double") - F.col(pred_col).cast("double")
        )
        * 100.0
    ).cast("long")
    base = scored.select(F.col(split_col).alias("__s"), resid_e2.alias("__r"))
    grid = (
        base.where(F.col("__s") == "cal")
        .groupBy("__r")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    cum = grid.select(
        "__r",
        F.sum("__c")
        .over(
            Window.orderBy("__r").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("__cum"),
    )
    ncal = grid.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("__ncal")
    )
    # k-th smallest residual: the first grid value whose running count
    # reaches k = ceil((1-alpha) * (n_cal + 1))
    k_expr = F.ceil(
        F.lit(1.0 - float(alpha)) * (F.col("__ncal") + F.lit(1)).cast("double")
    ).cast("long")
    qhat = (
        cum.crossJoin(F.broadcast(ncal.select(k_expr.alias("__k"), "__ncal")))
        .where(F.col("__cum") >= F.col("__k"))
        .agg(F.min("__r").alias("__q_e2"))
    )
    ev = base.where(F.col("__s") == "eval").crossJoin(F.broadcast(qhat))
    cov = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,  # ANSI guard: 0/0 raises, not NULLs
                F.count(F.when(F.col("__r") <= F.col("__q_e2"), 1))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
                * 100.0,
            ),
            4,
        ).alias("__cov_raw"),
    )
    one = cov.crossJoin(F.broadcast(ncal)).crossJoin(F.broadcast(qhat))
    return one.select(
        F.col("__ncal").alias("n_cal"),
        "n_eval",
        F.lit(float(alpha)).alias("alpha"),
        k_expr.alias("k_rank"),
        F.round(F.col("__q_e2").cast("double") / 100.0, 2).alias("q_hat"),
        F.when(
            F.col("__q_e2").isNull() & (k_expr > F.col("__ncal")),
            F.lit(100.0),
        )
        .otherwise(F.col("__cov_raw"))
        .alias("coverage_pct"),
    )


def _clipped_ngram_stats(
    pairs: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    ns: tuple[int, ...],
) -> DataFrame:
    """Shared counting core for `corpus_bleu` / `rouge_n`: per n, the
    corpus totals of clipped n-gram matches and both sides' n-gram
    counts. Clipping is per PAIR (each candidate against its own
    reference: Σ_g min(count_cand, count_ref) — Papineni 2002 §2.1).

    Tokenization is the engine convention (lower, trim, split \\s+).
    All n-gram families stack into ONE (n, gram) explode so the corpus
    is scanned once per side; the only shuffle is the (pair, n, gram)
    count + one clip join. Totals are exact integer sums. Returns one
    row per n: ``(n, clipped, cand_total, ref_total)``.
    """
    def toks(col: str):
        return F.split(F.lower(F.trim(F.col(col))), r"\s+")

    def tagged_grams(tcol):
        # project the token array FIRST (InferFiltersFromGenerate trap),
        # guard size < n (sequence(1,0) would run descending).
        # NB: bind n via a closure FACTORY — `lambda j, n=n:` would make
        # PySpark treat n as the transform's element-index Column.
        def gram_at(n):
            return lambda j: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(tcol, j, n)).alias("gram"),
            )

        fams = []
        for n in ns:
            idxs = F.when(
                F.size(tcol) >= n,
                F.sequence(F.lit(1), F.size(tcol) - F.lit(n - 1)),
            ).otherwise(F.array().cast("array<int>"))
            fams.append(F.transform(idxs, gram_at(n)))
        return F.flatten(F.array(*fams))

    # the pair id must be caller-provided: a generated id
    # (monotonically_increasing_id) is partitioning-dependent and the
    # two gram branches would clip against the WRONG reference
    base = pairs.select(
        F.col(id_col).alias("__pid"),
        toks(cand_col).alias("__ct"),
        toks(ref_col).alias("__rt"),
    )

    def side_counts(arr_col: str):
        g = base.select("__pid", tagged_grams(F.col(arr_col)).alias("__g"))
        e = g.select(
            "__pid", F.explode_outer("__g").alias("__s")
        ).where(F.col("__s").isNotNull())
        return e.groupBy(
            "__pid", F.col("__s")["n"].alias("n"),
            F.col("__s")["gram"].alias("gram"),
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    cc, rc = side_counts("__ct"), side_counts("__rt")
    clipped = (
        cc.alias("c")
        .join(rc.alias("r"), ["__pid", "n", "gram"])
        .groupBy("n")
        .agg(
            F.sum(F.least(F.col("c.cnt"), F.col("r.cnt"))).alias("clipped")
        )
    )
    totals = base.select(
        F.explode(F.array(*[F.lit(int(n)) for n in ns])).alias("n"),
        F.size("__ct").alias("__cl"),
        F.size("__rt").alias("__rl"),
    ).groupBy("n").agg(
        F.sum(F.greatest(F.col("__cl") - F.col("n") + 1, F.lit(0)))
        .cast("long").alias("cand_total"),
        F.sum(F.greatest(F.col("__rl") - F.col("n") + 1, F.lit(0)))
        .cast("long").alias("ref_total"),
    )
    return totals.join(clipped, "n", "left").select(
        "n",
        F.coalesce("clipped", F.lit(0)).cast("long").alias("clipped"),
        "cand_total",
        "ref_total",
    )


def corpus_bleu(
    pairs: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
) -> DataFrame:
    """Corpus-level BLEU (Papineni et al. 2002): modified (clipped)
    n-gram precisions pooled over the whole corpus,

        p_n = Σ_pairs clipped_n / Σ_pairs cand_grams_n
        BP  = min(1, e^(1 − r/c))      (corpus token lengths c, r)
        BLEU = BP · exp(Σ_{n≤N} (1/N)·ln p_n)

    — no smoothing: any p_n = 0 yields BLEU 0 (reported alongside the
    per-n precisions so the readout stays diagnosable). The log sum
    folds in fixed ascending-n order (left-associated — the ordered-
    fold cross-engine contract); counts are exact integer sums, so the
    only libm is the final ln/exp. One row:
    ``(c_len, r_len, bp, p1..pN, bleu)`` rounded 6.
    """
    if max_n < 1:
        raise ValueError(f"max_n must be >= 1, got {max_n}")
    ns = tuple(range(1, max_n + 1))
    stats = _clipped_ngram_stats(pairs, id_col, cand_col, ref_col, ns)
    one = stats.groupBy().agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct("n", F.struct("clipped", "cand_total", "ref_total"))
                )
            )
        ).alias("__m")
    )

    def _n(n: int, field: str):
        return F.col("__m")[F.lit(n)][field].cast("double")

    c_len = _n(1, "cand_total")  # 1-gram count == token count
    r_len = _n(1, "ref_total")
    bp = (
        F.when(c_len <= 0.0, F.lit(0.0))
        .when(c_len < r_len, F.exp(F.lit(1.0) - r_len / c_len))
        .otherwise(F.lit(1.0))
    )
    ps = {n: _n(n, "clipped") / _n(n, "cand_total") for n in ns}
    # fixed-order left-associated log sum (ordered-fold contract)
    log_sum = F.log(ps[1])
    for n in ns[1:]:
        log_sum = log_sum + F.log(ps[n])
    all_pos = ps[1] > 0.0
    for n in ns[1:]:
        all_pos = all_pos & (ps[n] > 0.0)
    bleu = F.when(
        all_pos & (c_len > 0.0),
        bp * F.exp(log_sum / F.lit(float(max_n))),
    ).otherwise(F.lit(0.0))
    cols = [
        _n(1, "cand_total").cast("long").alias("c_len"),
        _n(1, "ref_total").cast("long").alias("r_len"),
        F.round(bp, 6).alias("bp"),
    ]
    for n in ns:
        cols.append(F.round(ps[n], 6).alias(f"p{n}"))
    cols.append(F.round(bleu, 6).alias("bleu"))
    return one.select(*cols)


def rouge_n(
    pairs: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    ns: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Corpus-level (micro-averaged) ROUGE-N (Lin 2004): per n,

        recall    = Σ clipped_n / Σ ref_grams_n
        precision = Σ clipped_n / Σ cand_grams_n
        f1        = 2·p·r / (p + r)

    pooled over all pairs (micro — corpus totals, not a per-example
    macro mean: deterministic, weightless, and exactly replayable as
    integer-count SQL). Degenerate denominators yield NULL rather than
    div0. One row per n: ``(n, clipped, cand_total, ref_total,
    rouge_precision, rouge_recall, rouge_f1)`` rounded 6.
    """
    if not ns or any(int(n) < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive ints, got {ns!r}")
    stats = _clipped_ngram_stats(pairs, id_col, cand_col, ref_col, tuple(ns))
    cl = F.col("clipped").cast("double")
    p = F.when(F.col("cand_total") > 0, cl / F.col("cand_total").cast("double"))
    r = F.when(F.col("ref_total") > 0, cl / F.col("ref_total").cast("double"))
    f1 = F.when((p + r) > 0.0, F.lit(2.0) * p * r / (p + r))
    return stats.select(
        "n", "clipped", "cand_total", "ref_total",
        F.round(p, 6).alias("rouge_precision"),
        F.round(r, 6).alias("rouge_recall"),
        F.round(f1, 6).alias("rouge_f1"),
    ).orderBy("n")

def distinct_n(
    responses: DataFrame,
    text_col: str,
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity (Li et al. 2016, "A Diversity-Promoting
    Objective for Neural Conversation Models"): corpus-level ratio of
    DISTINCT n-grams to total n-grams over a set of generated
    responses — the standard mode-collapse readout (a sampler that
    repeats itself scores near 0, maximal diversity near 1).

    Same tokenization and stacked single-explode counting as
    `corpus_bleu`; exact integer counts, one division. Returns one row
    per n: ``(n, distinct_grams, total_grams, distinct_ratio)``.
    """
    if not ns or any(int(n) < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive ints, got {ns!r}")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")

    def gram_at(n):
        return lambda j: F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", F.slice(F.col("__t"), j, n)).alias("gram"),
        )

    fams = []
    for n in ns:
        idxs = F.when(
            F.size("__t") >= n,
            F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        fams.append(F.transform(idxs, gram_at(n)))
    g = (
        responses.select(toks.alias("__t"))
        .select(F.explode_outer(F.flatten(F.array(*fams))).alias("__s"))
        .where(F.col("__s").isNotNull())
    )
    agg = g.groupBy(F.col("__s")["n"].alias("n")).agg(
        F.count_distinct(F.col("__s")["gram"])
        .cast("long")
        .alias("distinct_grams"),
        F.count(F.lit(1)).cast("long").alias("total_grams"),
    )
    return agg.select(
        "n",
        "distinct_grams",
        "total_grams",
        F.round(
            F.col("distinct_grams").cast("double")
            / F.col("total_grams").cast("double"),
            6,
        ).alias("distinct_ratio"),
    ).orderBy("n")


def self_bleu(
    responses: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    max_n: int = 4,
) -> DataFrame:
    """Corpus-pooled Self-BLEU (Zhu et al. 2018, Texygen) — the
    diversity complement to `corpus_bleu`: every response is a
    candidate and the OTHER responses of its prompt are its multiple
    references, so a sampler that says the same thing eight ways
    scores near 1 and a diverse one near 0. Pooled (corpus totals)
    rather than the per-sentence macro mean — deterministic,
    weightless, exactly SQL-replayable.

    Multi-reference clipping (Papineni 2002 §2.1): a candidate gram's
    ceiling is the MAX count of that gram in any OTHER response of the
    group, computed with a top-2 trick — per (group, n, gram) keep the
    best and second-best response counts (rank by count DESC, id ASC);
    a candidate that IS the best falls back to the second-best. The
    group therefore never all-pairs joins on grams. The brevity
    penalty uses pooled candidate length vs the pooled per-candidate
    CLOSEST-other length (the standard effective reference length;
    ties to the shorter, then smaller id — a bounded within-group
    self-join, rank-1 window keyed by (group, id)).

    Groups with a single response are EXCLUDED (they have no
    references). Returns one row: ``(c_len, r_len, bp, p1..pN,
    self_bleu)`` rounded 6.
    """
    if max_n < 1:
        raise ValueError(f"max_n must be >= 1, got {max_n}")
    ns = tuple(range(1, max_n + 1))
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = responses.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        toks.alias("__t"),
    ).select("__g", "__id", "__t", F.size("__t").alias("__len"))
    # groups with >= 2 responses only
    gsz = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__gn"))
    base = base.join(gsz.where(F.col("__gn") >= 2).select("__g"), "__g")

    def gram_at(n):
        return lambda j: F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", F.slice(F.col("__t"), j, n)).alias("gram"),
        )

    fams = []
    for n in ns:
        idxs = F.when(
            F.size("__t") >= n,
            F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        fams.append(F.transform(idxs, gram_at(n)))
    cnts = (
        base.select(
            "__g",
            "__id",
            F.explode_outer(F.flatten(F.array(*fams))).alias("__s"),
        )
        .where(F.col("__s").isNotNull())
        .groupBy(
            "__g",
            "__id",
            F.col("__s")["n"].alias("n"),
            F.col("__s")["gram"].alias("gram"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w2 = Window.partitionBy("__g", "n", "gram").orderBy(
        F.desc("cnt"), F.asc("__id")
    )
    ranked = cnts.select(
        "__g", "__id", "n", "gram", "cnt", F.row_number().over(w2).alias("rn")
    ).where(F.col("rn") <= 2)
    top2 = ranked.groupBy("__g", "n", "gram").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cnt"))).alias("m1"),
        F.max(F.when(F.col("rn") == 1, F.col("__id"))).alias("a1"),
        F.coalesce(
            F.max(F.when(F.col("rn") == 2, F.col("cnt"))), F.lit(0)
        ).alias("m2"),
    )
    ceil = F.when(F.col("a1") != F.col("__id"), F.col("m1")).otherwise(
        F.col("m2")
    )
    clipped = (
        cnts.join(top2, ["__g", "n", "gram"])
        .groupBy("n")
        .agg(F.sum(F.least(F.col("cnt"), ceil)).cast("long").alias("clipped"))
    )
    totals = base.select(
        F.explode(F.array(*[F.lit(int(n)) for n in ns])).alias("n"),
        F.col("__len"),
    ).groupBy("n").agg(
        F.sum(F.greatest(F.col("__len") - F.col("n") + 1, F.lit(0)))
        .cast("long")
        .alias("cand_total")
    )
    # effective reference length: closest OTHER response's length
    a, b = base.alias("a"), base.alias("b")
    cross = a.join(b, "__g").where(F.col("a.__id") != F.col("b.__id"))
    wl = Window.partitionBy("__g", F.col("a.__id")).orderBy(
        F.abs(F.col("b.__len") - F.col("a.__len")).asc(),
        F.col("b.__len").asc(),
        F.col("b.__id").asc(),
    )
    rlen = (
        cross.select(
            F.col("a.__id").alias("__id"),
            F.col("b.__len").alias("__rl"),
            F.row_number().over(wl).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .agg(F.sum("__rl").cast("long").alias("r_len"))
    )
    one = (
        totals.join(clipped, "n", "left")
        .groupBy()
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "n",
                            F.struct(
                                F.coalesce("clipped", F.lit(0)).alias(
                                    "clipped"
                                ),
                                F.col("cand_total"),
                            ),
                        )
                    )
                )
            ).alias("__m")
        )
        .crossJoin(F.broadcast(rlen))  # 1-row scalar
    )

    def _n(n: int, field: str):
        return F.col("__m")[F.lit(n)][field].cast("double")

    c_len = _n(1, "cand_total")
    r_len = F.col("r_len").cast("double")
    bp = (
        F.when(c_len <= 0.0, F.lit(0.0))
        .when(c_len < r_len, F.exp(F.lit(1.0) - r_len / c_len))
        .otherwise(F.lit(1.0))
    )
    ps = {n: _n(n, "clipped") / _n(n, "cand_total") for n in ns}
    log_sum = F.log(ps[1])
    for n in ns[1:]:
        log_sum = log_sum + F.log(ps[n])
    all_pos = ps[1] > 0.0
    for n in ns[1:]:
        all_pos = all_pos & (ps[n] > 0.0)
    sbleu = F.when(
        all_pos & (c_len > 0.0), bp * F.exp(log_sum / F.lit(float(max_n)))
    ).otherwise(F.lit(0.0))
    cols = [
        c_len.cast("long").alias("c_len"),
        F.col("r_len"),
        F.round(bp, 6).alias("bp"),
    ]
    for n in ns:
        cols.append(F.round(ps[n], 6).alias(f"p{n}"))
    cols.append(F.round(sbleu, 6).alias("self_bleu"))
    return one.select(*cols)


def chrf(
    pairs: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """chrF (Popović 2015): character-n-gram F-score — the
    tokenization-free generation metric that survives morphology,
    diacritics, and compounding where word-level BLEU shatters.
    Whitespace is removed entirely (the chrF convention) and text is
    lowercased (the engine's tokenizer convention); character n-grams
    n = 1..max_n are clip-counted per pair exactly like `corpus_bleu`,
    then

        chrP = (1/N) Σ_n clip_n / cand_n     (corpus-pooled per n,
        chrR = (1/N) Σ_n clip_n / ref_n       arithmetic mean over n;
                                              empty layers count as 0)
        chrF = (1+β²)·P·R / (β²·P + R)        (0 when P + R = 0)

    with β = 2 (recall-weighted, the published default). Fixed
    ascending-n fold order; exact integer counts; the one division per
    layer is the only float step. Returns one row:
    ``(chrp, chrr, chrf)`` rounded 6.

    Convention note: this computes ONE F-score from the n-averaged
    chrP/chrR — the form in Popović 2015. The de-facto standard
    implementation (sacrebleu) instead averages PER-ORDER F-scores
    (mean over n of F_n), so numbers here are NOT directly comparable
    with published chrF2 scores despite the same name and defaults;
    use this metric for within-corpus comparisons, not cross-paper
    benchmarking.
    """
    if max_n < 1:
        raise ValueError(f"max_n must be >= 1, got {max_n}")
    if beta <= 0:
        raise ValueError(f"beta must be > 0, got {beta}")
    ns = tuple(range(1, max_n + 1))

    def clean(col: str):
        return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", "")

    base = pairs.select(
        F.col(id_col).alias("__pid"),
        clean(cand_col).alias("__c"),
        clean(ref_col).alias("__r"),
    )

    def gram_at(scol, n):
        return lambda j: F.struct(
            F.lit(n).alias("n"), F.substring(scol, j, n).alias("gram")
        )

    def side_counts(scol_name: str):
        scol = F.col(scol_name)
        fams = []
        for n in ns:
            idxs = F.when(
                F.length(scol) >= n,
                F.sequence(F.lit(1), F.length(scol) - F.lit(n - 1)),
            ).otherwise(F.array().cast("array<int>"))
            fams.append(F.transform(idxs, gram_at(scol, n)))
        g = base.select(
            "__pid", F.explode_outer(F.flatten(F.array(*fams))).alias("__s")
        ).where(F.col("__s").isNotNull())
        return g.groupBy(
            "__pid",
            F.col("__s")["n"].alias("n"),
            F.col("__s")["gram"].alias("gram"),
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    cc, rc = side_counts("__c"), side_counts("__r")
    clipped = (
        cc.alias("c")
        .join(rc.alias("r"), ["__pid", "n", "gram"])
        .groupBy("n")
        .agg(F.sum(F.least(F.col("c.cnt"), F.col("r.cnt"))).alias("clipped"))
    )
    totals = base.select(
        F.explode(F.array(*[F.lit(int(n)) for n in ns])).alias("n"),
        F.length("__c").alias("__cl"),
        F.length("__r").alias("__rl"),
    ).groupBy("n").agg(
        F.sum(F.greatest(F.col("__cl") - F.col("n") + 1, F.lit(0)))
        .cast("long")
        .alias("cand_total"),
        F.sum(F.greatest(F.col("__rl") - F.col("n") + 1, F.lit(0)))
        .cast("long")
        .alias("ref_total"),
    )
    one = (
        totals.join(clipped, "n", "left")
        .groupBy()
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "n",
                            F.struct(
                                F.coalesce("clipped", F.lit(0)).alias(
                                    "clipped"
                                ),
                                F.col("cand_total"),
                                F.col("ref_total"),
                            ),
                        )
                    )
                )
            ).alias("__m")
        )
    )

    def layer(n: int, num: str, den: str):
        d = F.col("__m")[F.lit(n)][den].cast("double")
        x = F.col("__m")[F.lit(n)][num].cast("double")
        return F.when(d > 0.0, x / d).otherwise(F.lit(0.0))

    p_sum = layer(1, "clipped", "cand_total")
    r_sum = layer(1, "clipped", "ref_total")
    for n in ns[1:]:
        p_sum = p_sum + layer(n, "clipped", "cand_total")
        r_sum = r_sum + layer(n, "clipped", "ref_total")
    P = p_sum / F.lit(float(max_n))
    R = r_sum / F.lit(float(max_n))
    b2 = float(beta) * float(beta)
    score = F.when(
        (F.lit(b2) * P + R) > 0.0,
        F.lit(1.0 + b2) * P * R / (F.lit(b2) * P + R),
    ).otherwise(F.lit(0.0))
    return one.select(
        F.round(P, 6).alias("chrp"),
        F.round(R, 6).alias("chrr"),
        F.round(score, 6).alias("chrf"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
    quantize_dp: int = 9,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score — the
    calibration readout that says not just HOW miscalibrated a
    probability is (`calibration_ece`) but WHY:

        Brier = reliability − resolution + uncertainty
                + within_bin_var − 2·within_bin_cov

    where over ``bins`` equal-width bins b with counts n_b, mean
    forecast p̄_b, outcome rate ȳ_b, and base rate ȳ:
    reliability = Σ n_b(p̄_b−ȳ_b)²/N (calibration gap — lower better),
    resolution = Σ n_b(ȳ_b−ȳ)²/N (discrimination — higher better),
    uncertainty = ȳ(1−ȳ) (irreducible), and the two within-bin terms
    (variance of p inside bins, covariance of p and y inside bins —
    Stephenson et al. 2008's extension) are the binning residuals that
    make the identity EXACT rather than approximate — reported, never
    dropped (the classical 3-term form silently assumes p is constant
    within each bin).

    Determinism: probabilities quantize to e9 integers first, so every
    moment (Σp, Σp², Σpy per bin — decimal-38) is exact integer
    algebra and the identity is bit-exact across engines; the per-bin
    folds run in bin order. ONE combinable aggregate over rows, the
    rest on the ``bins``-row frame. Label must be 0/1. Returns one
    row: ``(n, brier, reliability, resolution, uncertainty,
    within_bin_var, within_bin_cov)`` rounded 6.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    q = float(10 ** quantize_dp)
    pe = F.round(F.col(prob_col).cast("double") * q).cast("long")
    y = F.col(label_col).cast("int").cast("long")
    b = F.least(
        F.floor(pe * bins / F.lit(int(q))).cast("int"), F.lit(bins - 1)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per = (
        df.select(pe.alias("__p"), y.alias("__y"), b.alias("__b"))
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum(dec(F.col("__p"))).alias("sp"),
            F.sum(dec(F.col("__p")) * dec(F.col("__p"))).alias("spp"),
            F.sum("__y").cast("long").alias("sy"),
            F.sum(dec(F.col("__p")) * dec(F.col("__y"))).alias("spy"),
        )
    )
    one = per.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("__b", "n_b", "sp", "spp", "sy", "spy"))
        ).alias("__a")
    )
    dd = lambda x: x.cast("double")  # noqa: E731

    def fold(term):
        return F.aggregate(F.col("__a"), F.lit(0.0), term)

    n = fold(lambda acc, x: acc + dd(x["n_b"]))
    sy = fold(lambda acc, x: acc + dd(x["sy"]))
    sp = fold(lambda acc, x: acc + dd(x["sp"]) / F.lit(q))
    spp = fold(lambda acc, x: acc + dd(x["spp"]) / F.lit(q * q))
    spy = fold(lambda acc, x: acc + dd(x["spy"]) / F.lit(q))
    ybar = sy / n
    brier = (spp - F.lit(2.0) * spy + sy) / n
    rel = fold(
        lambda acc, x: acc
        + dd(x["n_b"])
        * (dd(x["sp"]) / F.lit(q) / dd(x["n_b"]) - dd(x["sy"]) / dd(x["n_b"]))
        ** 2
    ) / n
    # resolution needs the global ybar — fold with it inline (same
    # expression both engines): Σ n_b(ȳ_b − ȳ)²/N
    res = fold(
        lambda acc, x: acc
        + dd(x["n_b"]) * (dd(x["sy"]) / dd(x["n_b"]) - ybar) ** 2
    ) / n
    wbv = fold(
        lambda acc, x: acc
        + (
            dd(x["spp"]) / F.lit(q * q)
            - dd(x["n_b"])
            * (dd(x["sp"]) / F.lit(q) / dd(x["n_b"])) ** 2
        )
    ) / n
    wbc = fold(
        lambda acc, x: acc
        + (
            dd(x["spy"]) / F.lit(q)
            - dd(x["sp"]) / F.lit(q) * dd(x["sy"]) / dd(x["n_b"])
        )
    ) / n
    unc = ybar * (F.lit(1.0) - ybar)
    return one.select(
        n.cast("long").alias("n"),
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(wbv, 6).alias("within_bin_var"),
        F.round(wbc, 6).alias("within_bin_cov"),
    )


def krippendorff_alpha(
    ratings: DataFrame,
    unit_col: str,
    value_col: str,
    exact_scale: int = 840,
) -> DataFrame:
    """Krippendorff's alpha, nominal data (Krippendorff 2004) — the
    agreement coefficient that, unlike `cohens_kappa`, handles ANY
    number of raters per unit and missing ratings natively:

        α = 1 − D_o / D_e

    via the coincidence-matrix identities: per unit u with m_u ≥ 2
    ratings and per-category counts r_uc, the observed disagreement
    contribution is (m_u² − Σ_c r_uc²)/(m_u − 1); margins n_c are
    plain category totals over qualifying units, and

        α = 1 − (n−1)·Σ_u contrib_u / (n² − Σ_c n_c²).

    Exactness: contributions scale by ``exact_scale`` (default 840 =
    lcm(1..8), covering up to 9 raters/unit; a unit with more raters
    fails loudly at execution, the `ranking_metrics` discipline), so
    every sum is integer/decimal-38 and α is exact algebra + one
    division. Units with a single rating are excluded (the standard
    convention). ONE (unit, value) count aggregate, one unit
    aggregate, one category aggregate. Returns one row:
    ``(n_units, n_ratings, alpha)`` rounded 6.
    """
    if exact_scale < 1:
        raise ValueError(f"exact_scale must be >= 1, got {exact_scale}")
    ruc = (
        ratings.where(
            F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(unit_col).alias("__u"), F.col(value_col).alias("__c")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__r"))
    )
    per_unit = ruc.groupBy("__u").agg(
        F.sum("__r").cast("long").alias("__m"),
        F.sum(F.col("__r") * F.col("__r")).cast("long").alias("__rr"),
    ).where(F.col("__m") >= 2)
    div_ok = (F.lit(int(exact_scale)) % (F.col("__m") - 1)) == 0
    contrib = F.when(
        div_ok,
        (F.col("__m") * F.col("__m") - F.col("__rr"))
        * (F.lit(int(exact_scale)) / (F.col("__m") - 1)).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"krippendorff_alpha(exact_scale={exact_scale}) "
                    "requires (m_u - 1) to divide it; got m_u = "
                ),
                F.col("__m").cast("string"),
            )
        )
    )
    units = per_unit.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum(F.col("__m")).cast("long").alias("n"),
        F.sum(contrib.cast("decimal(38,0)")).alias("do_s"),
    )
    # category margins over qualifying units only
    nc = (
        ruc.join(per_unit.select("__u"), "__u")
        .groupBy("__c")
        .agg(F.sum("__r").cast("long").alias("__nc"))
        .agg(
            F.sum(
                F.col("__nc").cast("decimal(38,0)")
                * F.col("__nc").cast("decimal(38,0)")
            ).alias("sncc")
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    de_den = (
        dd("n") * dd("n") - dd("sncc")
    )
    alpha = F.when(
        de_den > 0.0,
        F.lit(1.0)
        - (dd("n") - F.lit(1.0))
        * dd("do_s")
        / (F.lit(float(exact_scale)) * de_den),
    )
    return units.crossJoin(F.broadcast(nc)).select(
        "n_units",
        F.col("n").alias("n_ratings"),
        F.round(alpha, 6).alias("alpha"),
    )
