"""Corpus-level curation operators — north-star extensions beyond the
reference surface (SURVEY §2.9): the operations a production LLM
training-data pipeline runs over a whole corpus rather than per row.

The reference stops at per-row scoring + per-cluster selection
(``/root/reference/main.py:402-450``); a 100 TB pipeline additionally
needs decontamination against evaluation benchmarks, stratified /
quota-capped sampling across sources, corpus-statistics term weighting,
and sequence packing for training-batch assembly. All are expressed as
lazy DataFrame plans:

- contamination: benchmark n-gram set is SMALL by nature (eval suites
  are thousands of docs, not billions) → hashed-shingle broadcast join;
  the corpus side never shuffles its text, only matched (doc, gram-hash)
  pairs reach the counting shuffle.
- stratified sample / quota cap: per-stratum windows over a
  deterministic hash order — seed-free, reproducible on any cluster
  size. Skewed strata inherit the documented skew-resistant upgrade
  from ``selection.stride_sample_skew_resistant``.
- TF-IDF: two aggregations (term-in-doc, term-in-corpus) joined on the
  term key; the per-doc top-k rank windows only each doc's own terms.
- packing: running token cumsum per shard → bin index; packing is
  sequential BY DEFINITION inside a shard, so shards (source, date,
  bucket) are the parallelism unit — pick shard keys so one shard's
  token mass fits a worker's window comfortably.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from datas_spark.functions.text import token_count, word_tokens
from datas_spark.operators.dedup import _shingle_frame

__all__ = [
    "ngram_contamination",
    "stratified_sample",
    "source_quota_cap",
    "tfidf_top_terms",
    "pack_sequences",
    "make_subword_counter",
    "pack_sequences_tokenized",
    "hash_split",
    "group_split",
    "repetition_stats",
    "importance_weight_diagnostics",
    "doc_novelty_rate",
    "doc_novelty_route_bloom",
    "temperature_sample",
    "ngram_lm_score",
    "unigram_lm_score",
    "doremi_domain_weights",
    "weighted_sample",
    "weighted_sample_per_key",
    "rebalance_labels",
    "token_budget_mixture",
    "zscore_outliers",
    "value_deciles",
    "chunk_documents",
    "PII_PATTERNS",
    "CLEAN_PATTERNS",
    "clean_text",
    "gopher_quality_flags",
    "compression_ratio",
    "pii_stats",
    "pii_redact",
    "bow_classifier_score",
    "hashed_bow_features",
    "quality_classifier_train",
    "hashed_bow_score",
    "c4_line_filters",
    "unimax_allocation",
    "pack_concat_chunks",
]


def _doc_shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle_hash) pairs, DISTINCT per doc — hash-of-token-hashes
    so no gram string is ever materialized (same discipline as
    ``dedup.ngram_jaccard_pairs``)."""
    # shingle arrays are already distinct — no extra array_distinct
    sh = _shingle_frame(df, id_col, text_col, n)
    # explode_outer + null filter: plain explode would clone the shingle
    # HOF tree into a pushed-down filter (round-1 landmine)
    return sh.select("__id", F.explode_outer("__sh").alias("__s")).where(
        F.col("__s").isNotNull()
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Decontamination check: for every corpus doc, count DISTINCT
    ``n``-gram shingles it shares with ANY benchmark doc; flag docs with
    ``shared_ngrams >= min_shared`` as contaminated. Standard eval-set
    decontamination (the n-gram-overlap method used by most LLM data
    pipelines).

    Plan: both sides reduce to (id, shingle-hash) pairs; the benchmark's
    DISTINCT shingle set — small by nature, eval suites are thousands of
    docs — is broadcast, so the corpus side is a map-side hash-join
    probe and only MATCHED pairs reach the per-doc counting shuffle.
    Shingle keys are internal 64-bit hashes (membership only; collision
    odds ~|grams|²/2⁶⁵ are negligible), so no gram string shuffles.

    Returns (id, shared_ngrams, contaminated) for every corpus doc.
    """
    c = _doc_shingle_hashes(corpus, id_col, text_col, n)
    b = _doc_shingle_hashes(benchmark, id_col, text_col, n).select("__s").distinct()
    matched = c.join(broadcast(b), "__s")  # map-side probe, matches only
    counts = matched.groupBy("__id").agg(
        F.count_distinct("__s").alias("shared_ngrams")
    )
    ids = corpus.select(F.col(id_col).alias("__id"))
    return (
        ids.join(counts, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("shared_ngrams", F.lit(0)).alias("shared_ngrams"),
        )
        .withColumn(
            "contaminated", (F.col("shared_ngrams") >= min_shared).cast("int")
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fraction: float,
    skew_resistant: bool = False,
) -> DataFrame:
    """Deterministic proportional sample: within each stratum, order by
    ``md5(id)`` (a seed-free uniform shuffle that reproduces bit-for-bit
    on any cluster layout) and keep ``ceil(fraction * stratum_count)``
    rows. Guarantees every non-empty stratum contributes at least one
    row — the property plain ``df.sample`` loses for rare strata, which
    is the whole point of stratifying (keep the tail languages/sources).

    ``skew_resistant=True`` (identical output) routes the rank through
    ``selection.skew_resistant_rank`` — no window partitioned by the
    stratum key, so a pathologically dominant stratum (one language at
    90% of a multilingual corpus) spreads over the full range exchange
    instead of serializing onto one task.
    """
    if skew_resistant:
        from datas_spark.operators.selection import skew_resistant_rank

        # unique order key reproducing orderBy(md5(id), id): fixed-width
        # md5 hex, then the id rendering (md5 collisions aside, the hex
        # prefix alone decides — same survivor set as the window path)
        tmp = df.withColumn(
            "__ord",
            F.concat(
                F.md5(F.col(id_col).cast("string")),
                F.lit("#"),
                F.col(id_col).cast("string"),
            ),
        )
        ranked = skew_resistant_rank(tmp, strata_col, "__ord")
        return ranked.where(
            F.col("__rn") <= F.ceil(F.col("__m") * F.lit(fraction))
        ).drop("__rn", "__m", "__ord")
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    wc = Window.partitionBy(strata_col)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__m", F.count(F.lit(1)).over(wc)
    )
    return ranked.where(
        F.col("__rk") <= F.ceil(F.col("__m") * F.lit(fraction))
    ).drop("__rk", "__m")


def source_quota_cap(
    df: DataFrame,
    source_col: str,
    order_col: str,
    max_per_source: int,
    skew_resistant: bool = False,
) -> DataFrame:
    """Cap every source at ``max_per_source`` rows, keeping the first in
    ``order_col`` order — domain balancing so no single crawl/source
    dominates the mixture (the per-domain cap every web-scale corpus
    recipe applies).

    ``skew_resistant=True`` (identical output; ``order_col`` must be
    unique per row) uses ``selection.skew_resistant_rank`` so the ONE
    source that needed capping — by definition the dominant one — never
    sorts on a single task. The default rank-window path is right when
    no source exceeds a partition's worth of rows.
    """
    if skew_resistant:
        from datas_spark.operators.selection import skew_resistant_rank

        ranked = skew_resistant_rank(df, source_col, order_col)
        return ranked.where(F.col("__rn") <= max_per_source).drop("__rn", "__m")
    w = Window.partitionBy(source_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= max_per_source)
        .drop("__rk")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` whitespace terms by TF-IDF
    (``tf * ln(N / df)``, natural log, raw counts — the textbook
    formulation, reproducible in any SQL engine).

    Plan: one explode → (doc, term) count aggregation; document
    frequency is a second aggregation of the SAME (doc, term) frame
    (Spark reuses the shuffle via exchange reuse); idf joins back on the
    term key; the final window ranks only each doc's own distinct terms.
    Ties break lexicographically for determinism.

    Returns (id, term, tf, tfidf, rank<=k).
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(word_tokens(text_col)).alias("__t"),
    ).where(F.col("__t").isNotNull() & (F.col("__t") != ""))
    toks = toks.select("__id", F.lower(F.col("__t")).alias("__t"))
    tf = toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("tf"))
    # N as a broadcast 1-row frame keeps the whole plan lazy (no count()
    # job at plan-construction time)
    nd = df.select(F.count_distinct(F.col(id_col)).alias("__n"))
    # document frequency as an ALGEBRAIC aggregate + term-key join, NOT
    # a Window.partitionBy(term): a window materializes every row of a
    # term on one reducer, so at 100× the partition for a stopword term
    # holds one row per containing document — a near-corpus-sized
    # single-task sort. The groupBy combines map-side (each task ships
    # ONE partial count per term, never the posting list) and the join
    # back is a per-key-1-row build side AQE handles even when the
    # probe side is stopword-skewed. Cost: the (doc, term) aggregate
    # subtree evaluates twice when the optimizer cannot reuse the
    # exchange across differently-pruned branches — two parallel
    # skew-free passes beat one pass with a fatal hot partition.
    dfc = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(dfc, "__t")
        .crossJoin(broadcast(nd))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("__n").cast("double") / F.col("__df")),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("tfidf").desc(), F.col("__t").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            F.col("__t").alias("term"),
            "tf",
            F.round("tfidf", 6).alias("tfidf"),
            "rank",
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Sequence packing for training-batch assembly: walk docs in
    ``id_col`` order, accumulate token counts, and assign
    ``bin = floor((cumsum − own_tokens) / budget)`` — contiguous greedy
    fill where a doc straddling a boundary stays in the bin it STARTED
    in (bins may overflow by at most one doc; the streaming-friendly
    packing used when truncation is handled downstream).

    Packing is sequential by definition, so the cumsum window partitions
    by ``shard_col`` (source, date, hash bucket...) and shards pack in
    parallel — the 100 TB contract is "one shard's token mass per task",
    not "one global ordering". ``shard_col=None`` packs globally
    (single-task ordering: test/small-corpus use only).

    Returns (shard?, id, n_tokens, bin).
    """
    shard = [F.col(shard_col)] if shard_col else []
    w = Window.partitionBy(*shard).orderBy(F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    toks = df.select(
        *shard,
        F.col(id_col),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    return toks.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ).cast("long"),
    )


def make_subword_counter(counter_factory=None):
    """Pluggable tokenizer boundary for token-budget accounting: an
    iterator pandas_udf mapping text → subword count, with the
    tokenizer loaded ONCE per executor python worker (the same
    lifecycle as ``scoring.make_model_scorer`` — a real BPE/SentencePiece
    tokenizer closes over its vocab file with the identical factory
    signature).

    The default factory is a deterministic fake BPE, chosen to be
    bit-reproducible in SQL so the whole packing plan stays
    oracle-checkable: split on word/punct boundaries exactly like
    ``functions.text.tokenize`` (ASCII classes — matching Java/RE2
    semantics), then each token costs ``ceil(len/4)`` subwords (the
    ~4-chars-per-token rate real BPE vocabularies average on English).
    """
    import re

    from pyspark.sql.types import LongType

    def default_factory():
        spaced_re = re.compile(r"([^\w\s])", re.ASCII)
        split_re = re.compile(r"\s+", re.ASCII)

        def count(text: str) -> int:
            spaced = spaced_re.sub(r" \1 ", text.lower())
            return sum(
                (len(t) + 3) // 4 for t in split_re.split(spaced.strip()) if t
            )

        return count

    factory = counter_factory or default_factory

    @F.pandas_udf(LongType())
    def counter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        count = factory()  # once per worker, not per batch
        for batch in batches:
            yield batch.map(lambda t: count(t if t is not None else ""))

    return counter


def pack_sequences_tokenized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    shard_col: str | None = None,
    counter_factory=None,
) -> DataFrame:
    """``pack_sequences`` with budgets in REAL tokenizer subwords
    instead of the whitespace/punct approximation: token counts come
    from the ``make_subword_counter`` pandas_udf boundary (Arrow
    batches, tokenizer loaded once per worker), then the identical
    per-shard running-cumsum bin plan. The reference truncates by HF
    tokenizer length (score_pipeline_ifd.py:148-152); this is the
    packing-side twin of that accounting.

    Returns (shard?, id, n_tokens, bin).
    """
    counter = make_subword_counter(counter_factory)
    shard = [F.col(shard_col)] if shard_col else []
    w = Window.partitionBy(*shard).orderBy(F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    toks = df.select(
        *shard,
        F.col(id_col),
        counter(F.col(text_col)).alias("n_tokens"),
    )
    return toks.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ).cast("long"),
    )


def _md5_unit(key: Column) -> Column:
    """Deterministic uniform [0, 1) from a key: first 8 md5 hex chars as
    an integer over 2³². Seed-free and engine-portable (the identical
    expression exists in DuckDB), so splits reproduce bit-for-bit
    anywhere — no rand(seed) whose stream depends on partition layout."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )


def _split_expr(u: Column, weights: dict[str, float]) -> Column:
    total = sum(weights.values())
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Append ``split``: assign each row to a named split by hashing its
    id into [0,1) and cutting at the cumulative ``weights`` (normalized;
    default 90/10 train/test). Map-only, no shuffle, reproducible on any
    cluster layout — the property ``randomSplit`` does NOT have (its
    assignment depends on partitioning).
    """
    weights = weights or {"train": 0.9, "test": 0.1}
    u = _md5_unit(F.col(id_col))
    return df.withColumn("split", _split_expr(u, weights))


def group_split(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Append ``split`` decided by the GROUP key, so every row of a
    group lands in the same split — the leakage guard: pass a dedup
    component label (``near_dedup_keep_first``'s ``component``) and
    near-duplicate docs can never straddle the train/test boundary,
    which is the failure mode row-wise splitting silently has on any
    corpus with duplicates. Map-only; realized fractions converge to
    ``weights`` over many groups (weighting by group SIZE would need an
    aggregation — this is the standard hash-by-group contract).
    """
    weights = weights or {"train": 0.9, "test": 0.1}
    u = _md5_unit(F.col(group_col))
    return df.withColumn("split", _split_expr(u, weights))


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    temperature: float = 0.7,
    target_total: int | None = None,
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual /
    multi-domain recipe): resample so domain shares follow
    ``p_d ∝ (n_d / N)^(1/τ)`` — τ > 1 flattens the mixture toward rare
    domains (the usual setting, e.g. τ ≈ 2–3 for multilingual
    rebalancing), τ = 1 keeps natural proportions, τ < 1 sharpens
    toward the dominant domain. Each domain keeps
    ``min(1, target_total · p_d / n_d)`` of its rows, selected by the
    deterministic md5 unit hash (so reruns and engines agree row-for-
    row; no seed, no layout dependence).

    Plan: one tiny per-domain count aggregate → rates via a scalar
    window over |domains| rows → broadcast back → map-side filter. The
    corpus itself is touched once and never shuffled.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__nd"))
    wall = Window.partitionBy()
    total = F.sum("__nd").over(wall)
    weight = F.pow(F.col("__nd") / total, F.lit(1.0 / temperature))
    rates = (
        counts.withColumn("__w", weight)
        .withColumn("__p", F.col("__w") / F.sum("__w").over(wall))
        .withColumn(
            "__rate",
            F.least(
                F.lit(1.0),
                (F.coalesce(F.lit(target_total).cast("double"), total) * F.col("__p"))
                / F.col("__nd"),
            ),
        )
        .select(domain_col, "__rate")
    )
    u = _md5_unit(F.col(id_col))
    return (
        df.join(broadcast(rates), domain_col)
        .where(u < F.col("__rate"))
        .drop("__rate")
    )


def ngram_lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-trained bigram LM score (the CCNet/KenLM-style quality
    signal, self-trained): estimate ``P(w2|w1) = c(w1,w2) / c(w1·)``
    from the corpus itself, then score every doc by the average
    negative log-likelihood of its bigrams — fluent, corpus-typical
    text scores LOW, gibberish and boilerplate-with-rare-joins score
    high. Docs with no bigram (< 2 tokens) get NULL.

    Plan: one explode → (w1,w2)-hash count aggregate (the "training"
    pass); context counts are a reaggregation of those counts (tiny);
    the scoring pass joins each doc's bigrams to the probability table
    on the 8-byte bigram key and averages per doc. Token keys are
    internal 64-bit hashes; the probability VALUES are what the oracle
    reproduces (DuckDB twin trains on string grams — identical counts
    modulo negligible hash collisions).

    Returns (id, n_bigrams, nll) with nll rounded to 6 decimals.
    """
    bg = (
        df.select(F.col(id_col).alias("__id"), word_tokens(text_col).alias("__toks"))
        .select("__id", F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"))
        .withColumn(
            "__bg",
            F.when(
                F.size("__th") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("__th") - 2),
                    lambda i: F.struct(
                        F.get(F.col("__th"), i).alias("w1"),
                        F.get(F.col("__th"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:bigint,w2:bigint>>")),
        )
        .select("__id", F.explode_outer("__bg").alias("__g"))
        .where(F.col("__g").isNotNull())
        .select("__id", F.col("__g.w1").alias("__w1"), F.col("__g.w2").alias("__w2"))
    )
    cnt_bg = bg.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__cbg"))
    cnt_ctx = cnt_bg.groupBy("__w1").agg(F.sum("__cbg").alias("__cctx"))
    probs = cnt_bg.join(cnt_ctx, "__w1").withColumn(
        "__lp", F.log(F.col("__cbg") / F.col("__cctx"))
    )
    scored = bg.join(probs.select("__w1", "__w2", "__lp"), ["__w1", "__w2"]).groupBy(
        "__id"
    ).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg("__lp"), 6).alias("nll"),
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return ids.join(scored, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "nll",
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4-style filters):

    - ``dup_token_frac``: 1 − |distinct tokens| / |tokens| — how much of
      the doc is repeated words.
    - ``top_bigram_frac``: occurrences of the single most frequent
      bigram / total bigrams — boilerplate and template spam light up
      here long before exact dedup catches them.

    Entirely MAP-SIDE: no explode, no shuffle. The most-frequent-bigram
    count is the longest run of equal values in the SORTED bigram-hash
    array, found with one ``aggregate`` fold — O(b log b) per row
    instead of a per-doc groupBy. Bigram keys are internal 64-bit
    hashes (count-only; collisions negligible). Fractions round to 6
    decimals at the oracle boundary.

    Returns (id, dup_token_frac, top_bigram_frac).
    """
    toks = df.select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    nt = F.size("__toks")
    dup_frac = F.when(
        nt > 0, F.round(F.lit(1.0) - F.size(F.array_distinct("__toks")) / nt, 6)
    ).otherwise(F.lit(0.0))
    hashed = toks.withColumn(
        "__th", F.transform("__toks", lambda t: F.xxhash64(t))
    )
    # raw (non-distinct) bigram hashes, then sort so equal grams are
    # adjacent and one fold finds the longest run = max bigram count
    cnt = F.size("__th") - 1
    grams = F.when(
        cnt >= 1,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                lambda i: F.xxhash64(F.get(F.col("__th"), i), F.get(F.col("__th"), i + 1)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    withg = hashed.withColumn("__bg", grams)
    run = F.aggregate(
        F.col("__bg"),
        F.struct(
            F.lit(None).cast("bigint").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_frac = F.when(
        F.size("__bg") > 0, F.round(F.col("__run") / F.size("__bg"), 6)
    ).otherwise(F.lit(0.0))
    return (
        withg.withColumn("__run", run)
        .select(
            F.col(id_col),
            dup_frac.alias("dup_token_frac"),
            top_frac.alias("top_bigram_frac"),
        )
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    every row draws key = u^(1/w) from its deterministic md5 uniform u
    and the global top-k keys win — each row's inclusion probability is
    proportional to its weight, with no replacement and no sequential
    pass. The standard corpus-mixing primitive the reference lacks
    (its sampling is uniform stride only, ``main.py:437-441``).

    Seed-free determinism: u comes from ``md5(id)``, so the SAME rows
    win on any cluster size, any partition layout, any engine — and
    the DuckDB oracle reproduces the draw bit-for-bit.

    Scale shape: map-only key computation; the only movement is the
    global top-k, which Spark executes as TakeOrderedAndProject —
    each task ships its local k candidates, no full sort, no shuffle
    of the loser rows. Rows with weight <= 0 are excluded (their
    inclusion probability is 0).
    """
    key = F.pow(_md5_unit(F.col(id_col)), F.lit(1.0) / F.col(weight_col))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-window chunking pass that prepares a corpus for training or
    embedding (the reference truncates to max_length instead, silently
    discarding tails: ``score_pipeline_ifd.py:148-152``).

    Chunks start every ``chunk_tokens - overlap`` tokens and span
    ``chunk_tokens`` tokens (the last chunk of a document may be
    shorter; every token lands in at least one chunk). A start whose
    chunk would be fully contained in the previous chunk's span is NOT
    emitted — start offsets cap at ``n_tokens - overlap - 1`` — so no
    tail chunk ever duplicates text the previous chunk already covers.
    Output: ``(id, chunk_id, n_tokens, chunk_text)``, ``chunk_id``
    counting from 0 within each document.

    Map-only: tokenize once, generate start offsets with ``sequence``,
    slice per offset, posexplode — no shuffle anywhere, amplification
    bounded by chunk/(chunk-overlap). At 100 TB this is the shape you
    want: chunking rides the same scan as the rest of the per-doc
    pipeline and parallelism is per-document.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}")
    step = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col).alias("__id"), word_tokens(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    # upper bound n - overlap - 1: a start past it yields a chunk fully
    # inside the previous chunk's span (pure duplicated text); empty
    # docs (0 tokens) still emit one empty chunk — sequence(0, -1) is
    # invalid, so clamp the upper bound to 0
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("__n") - overlap - 1, F.lit(0)),
        F.lit(step),
    )
    chunks = toks.select(
        "__id",
        F.posexplode(
            F.transform(starts, lambda s: F.slice("__toks", s + 1, chunk_tokens))
        ).alias("chunk_id", "__chunk"),
    )
    return chunks.select(
        F.col("__id").alias(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("__chunk").cast("long").alias("n_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


# RE2-safe PII patterns (no lookarounds), shared verbatim with the
# DuckDB oracle so detection counts reproduce across engines.
#
# Precision envelope (know before trusting as a release gate): the IP
# pattern accepts any 1-3 digit dotted quad, so out-of-range quads
# (999.999.999.999) and version strings (1.2.3.4) count as hits
# (false positives); the phone pattern matches only the NNN-NNN-NNNN /
# NNN NNN NNNN shapes, so +1 (555) 123-4567 and international formats
# pass through (false negatives). Production PII gates layer validated
# parsers on top — these patterns are the cheap map-side first pass and
# the cross-engine-reproducible oracle contract.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII hit counts (emails, phone numbers, IPv4
    addresses) — the detection half of the PII pass every public-web
    training corpus runs before release. Appends ``n_email``,
    ``n_phone``, ``n_ip`` and ``has_pii``.

    Pure ``regexp_count`` column expressions: map-only, codegen'd, no
    Python. Patterns are RE2-compatible (no lookarounds) so the same
    literals run in Spark (Java regex), DuckDB, and the Go/Rust
    scanners a security team might cross-check with.
    """
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
    flags = [F.col(f"n_{name}") > 0 for name in PII_PATTERNS]
    has = flags[0]
    for fl in flags[1:]:
        has = has | fl
    return out.withColumn("has_pii", has.cast("int"))


def pii_redact(df: DataFrame, text_col: str, out_col: str = "text_redacted") -> DataFrame:
    """Replace every PII hit with a typed placeholder (``<EMAIL>``,
    ``<PHONE>``, ``<IP>``) — the redaction half of the PII pass.
    Map-only chained ``regexp_replace``; order matters (emails first,
    so the IP pattern cannot match the digits of an already-redacted
    placeholder's neighborhood).
    """
    expr = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        expr = F.regexp_replace(expr, F.lit(pat), F.lit(f"<{name.upper()}>"))
    return df.withColumn(out_col, expr)


def bow_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    term_col: str = "term",
    weight_col: str = "weight",
    bias: float = 0.0,
) -> DataFrame:
    """Linear bag-of-words quality classifier (the fastText-style
    quality filter of CCNet/RedPajama pipelines, model-free): score =
    sigmoid(bias + mean over tokens of weight(token)), unknown tokens
    weighing 0. Returns ``(id, n_tokens, quality_prob)``.

    The weight table is the MODEL — thousands to a few million rows,
    broadcast once; the corpus explodes to (doc, token) pairs that
    broadcast-hash-join the weights map-side, then one combinable
    aggregation per document. The 100 TB shape: no shuffle of document
    text, one narrow (id, weight-sum) aggregation; swap the broadcast
    for a shuffle join only if the vocabulary outgrows executor memory.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_tokens(text_col)).alias("__tok"),
    )
    w = weights.select(
        F.col(term_col).alias("__tok"), F.col(weight_col).alias("__w")
    )
    scored = toks.join(broadcast(w), "__tok", "left").groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce("__w", F.lit(0.0))).alias("__wsum"),
    )
    logit = F.lit(bias) + F.col("__wsum") / F.col("n_tokens")
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("quality_prob"),
    )


def hashed_bow_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_features: int = 256,
) -> DataFrame:
    """Hashed bag-of-words feature vectors: ``(id, features
    array<double>)`` where ``features[b]`` counts the tokens whose
    engine-standard md5 ``hash60`` lands in bucket ``b = hash60(tok) %
    num_features``. The hashing-trick featurizer for the CCNet/
    RedPajama quality-classifier loop — md5 (not murmur) so the SAME
    bucketing is reproducible in the DuckDB oracle as ``('0x' ||
    substr(md5(tok), 1, 15))::BIGINT % num_features``.

    Shape: explode → two combinable aggregations (per (doc, bucket)
    count, then per-doc map) → one JVM-side ``transform`` densifies to
    ``num_features`` doubles. Docs with no tokens get the zero vector.
    Keep ``num_features`` modest (hundreds–thousands): the dense
    vector is ``num_features`` doubles PER DOC on the wire to the
    model fit.
    """
    from datas_spark.functions.text import hash60

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(word_tokens(text_col)).alias("__tok"),
    )
    bucket = (hash60(F.col("__tok")) % num_features).cast("int")
    counts = (
        toks.where(F.col("__tok").isNotNull())
        .select("__id", bucket.alias("__b"))
        .groupBy("__id", "__b")
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    per_doc = counts.groupBy("__id").agg(
        F.map_from_entries(F.collect_list(F.struct("__b", "__c"))).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(num_features - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0.0)),
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(F.col("__id").alias(id_col), dense.alias("features"))
    )


def quality_classifier_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    num_features: int = 256,
    max_iter: int = 50,
    reg_param: float = 0.0,
) -> DataFrame:
    """Train the CCNet/RedPajama-style quality classifier ON the corpus
    with MLlib ``LogisticRegression`` over `hashed_bow_features` —
    the loop the reference leaves to an external fastText binary,
    expressed as a distributed fit (LBFGS treeAggregate over the
    feature frame; nothing leaves the cluster but the coefficient
    vector). Returns the MODEL as a ``(feature int, weight double)``
    table — one row per hash bucket plus ``feature = -1`` for the
    intercept — the broadcastable shape `hashed_bow_score` (and any
    100 TB inference scan) consumes.

    The coefficient vector is driver-materialized (``num_features``
    doubles — contractually tiny, the broadcast-sketch contract).
    Rows-only at the oracle gate (an LBFGS fit is not SQL-expressible);
    invariants are pytest-locked like KMeans: separable fixtures score
    correctly, refits reproduce, the weight table has exactly
    ``num_features + 1`` rows.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feats = hashed_bow_features(df, id_col, text_col, num_features)
    work = feats.join(df.select(id_col, label_col), id_col).withColumn(
        "__features", array_to_vector(F.col("features"))
    )
    model = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
        standardization=False,
    ).fit(work)
    coef = model.coefficients.toArray()
    rows = [(int(i), float(w)) for i, w in enumerate(coef)]
    rows.append((-1, float(model.intercept)))
    return df.sparkSession.createDataFrame(rows, "feature int, weight double")


def logreg_gd_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    num_features: int = 64,
    n_steps: int = 3,
    lr_num: int = 1,
    lr_den: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic full-batch gradient-descent logistic regression
    over hashed-BoW counts — the hash-checkable twin of
    `quality_classifier_train` (whose MLlib LBFGS fit is seeded but
    not replayable): the engine's BPE/Lloyd/unigram unrolled-iteration
    discipline applied to classifier training, so the whole fit
    replays in ANSI SQL (``oracle_shared.logreg_cte_sql``).

    Per step (weights live as EXACT ``1/scale``-unit integers ``w_q``,
    init 0; features are exact integer token counts ``c_ib``):

    - logit ``z_i = (w_q[-1] + Σ_b w_q[b]·c_ib) / scale`` — the dot
      product is an exact integer, so ``z_i`` is the same double on
      every engine;
    - residual ``r_i = round((σ(z_i) − y_i)·scale)`` quantized back to
      an integer — the one float op (the sigmoid) resyncs at 1e-6 per
      step, the e-quantization discipline that keeps a ≤1-ulp libm
      ``exp`` divergence from ever compounding;
    - gradient ``G_b = Σ_i r_i·c_ib`` (exact integer, order-free; the
      intercept row rides along as a sentinel ``b = −1, c = 1``
      appended to every doc's sparse vector);
    - update ``w_q[b] −= floor(lr_num·G_b / (lr_den·N))`` via exact
      integer floor division (``(s − pmod(s,n)) div n``), N = doc
      count.

    Plan shape (the `kmeans_lloyd` idiom): the ``num_features``+1
    integer weights live on the DRIVER and enter each step's plan as one
    constant-folded array literal. The residual pass is a map-only fold
    over each doc's sparse count array (the sigmoid stays in the plan,
    so the JVM's ``exp`` produces the bits), NEVER a docs×features
    shuffle; the gradient is one combinable explode → per-bucket
    aggregate of at most ``num_features``+1 rows, collected, and the
    driver applies the exact floor update. N is the row count of the
    intercept bucket ``b = −1`` in that same aggregate (every doc holds
    one sentinel), so no step needs a separate count job. Per call: two
    jobs per step; the per-doc frame pins via lazy localCheckpoint so
    every step rescans it, not ``df``. At 10⁹ rows each step is one
    scan + one F-row aggregate — full-batch GD's lower bound. An empty
    ``df`` leaves every weight at its init 0.

    Returns the same broadcastable model shape as
    `quality_classifier_train`: ``(feature int, weight double)`` with
    ``feature = −1`` holding the intercept and ``weight = w_q/scale``
    (one exact-integer divide — bit-identical cross-engine).
    """
    from datas_spark.functions.text import hash60

    if num_features < 1 or n_steps < 1:
        raise ValueError(
            f"need num_features/n_steps >= 1, got {num_features}/{n_steps}"
        )
    if lr_num < 1 or lr_den < 1:
        raise ValueError(f"need lr_num/lr_den >= 1, got {lr_num}/{lr_den}")
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(word_tokens(text_col)).alias("__tok"),
    )
    bucket = (hash60(F.col("__tok")) % num_features).cast("int")
    counts = (
        toks.where(F.col("__tok").isNotNull())
        .select("__id", bucket.alias("__b"))
        .groupBy("__id", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # sparse per-doc vector + the intercept sentinel (b=-1, c=1):
    # the gradient explode then emits the intercept row for free
    feats = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .join(counts, "__id", "left")
        .groupBy("__id", "__y")
        .agg(
            F.concat(
                F.array(
                    F.struct(
                        F.lit(-1).cast("int").alias("b"),
                        F.lit(1).cast("long").alias("c"),
                    )
                ),
                F.array_sort(
                    F.filter(
                        F.collect_list(
                            F.struct(
                                F.col("__b").alias("b"),
                                F.col("__c").alias("c"),
                            )
                        ),
                        lambda s: s["b"].isNotNull(),
                    )
                ),
            ).alias("__arr")
        )
        .localCheckpoint(eager=False)
    )
    w = [0] * (num_features + 1)  # index 0 = intercept (b=-1), b+1 = bucket b
    for _ in range(n_steps):
        wlit = F.expr(f"array({', '.join(f'{x}L' for x in w)})")
        zq = F.aggregate(
            F.col("__arr"),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.element_at(wlit, s["b"] + 2) * s["c"],
        )
        z = zq.cast("double") / F.lit(float(scale))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        rq = (
            F.round((p - F.col("__y").cast("double")) * F.lit(float(scale)), 0)
            .cast("long")
        )
        grads = (
            feats.select("__arr", rq.alias("__rq"))
            .select(F.explode("__arr").alias("__s"), "__rq")
            .groupBy(F.col("__s")["b"].alias("__b"))
            .agg(
                F.sum(F.col("__s")["c"] * F.col("__rq")).alias("__g"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        g = {r["__b"]: r["__g"] or 0 for r in grads}  # an all-NULL-label sum is 0
        n = next((r["__n"] for r in grads if r["__b"] == -1), 0)
        if n:
            w = [x - lr_num * g.get(b, 0) // (lr_den * n) for b, x in enumerate(w, -1)]
    return feats.sparkSession.createDataFrame(
        [(b, x / float(scale)) for b, x in enumerate(w, -1)],
        "feature int, weight double",
    )


def hashed_bow_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    num_features: int = 256,
    feature_col: str = "feature",
    weight_col: str = "weight",
    bias: float = 0.0,
) -> DataFrame:
    """Score documents with a hash-bucket weight table (the
    `quality_classifier_train` output, or any pinned model): ``logit =
    bias + Σ_tokens weight[hash60(tok) % num_features]`` — identical to
    the raw-count linear model ``intercept + Σ_b count_b · w_b`` —
    then sigmoid. Returns ``(id, n_tokens, quality_prob)``.

    Same 100 TB shape as `bow_classifier_score`: the model broadcasts,
    tokens explode map-side into the broadcast hash join, one
    combinable per-doc aggregation; document text never shuffles.
    Rows with ``feature = -1`` (a stored intercept) are ignored here —
    pass the intercept via ``bias``.
    """
    from datas_spark.functions.text import hash60

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_tokens(text_col)).alias("__tok"),
    )
    bucket = (hash60(F.col("__tok")) % num_features).cast("int")
    w = weights.where(F.col(feature_col) >= 0).select(
        F.col(feature_col).cast("int").alias("__b"), F.col(weight_col).alias("__w")
    )
    scored = (
        toks.select("__id", bucket.alias("__b"))
        .join(broadcast(w), "__b", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("__w", F.lit(0.0))).alias("__wsum"),
        )
    )
    logit = F.lit(bias) + F.col("__wsum")
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("quality_prob"),
    )


def weighted_sample_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement, ``k``
    rows PER KEY — the per-domain quota draw of mixture construction
    (keep k docs per source, drawn proportional to quality/length
    weights, deterministic across runs and layouts).

    Same md5-unit ES key as ``weighted_sample`` (``u^(1/w)`` descending,
    ties to smallest id); rows with non-positive weight can never be
    drawn. A rank window per key; for a pathologically dominant key the
    ``selection.skew_resistant_rank`` construction applies (numeric
    order col = the negated ES key).
    """
    u = _md5_unit(F.col(id_col))
    es = F.pow(u, F.lit(1.0) / F.col(weight_col))
    w = Window.partitionBy(key_col).orderBy(F.col("__es").desc(), F.col(id_col).asc())
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__es", es)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__es", "__rk")
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flag — the cheap anomaly gate a
    pipeline runs over document lengths / scores / event values before
    trusting downstream statistics. Appends ``zscore`` (rounded 4) and
    ``is_outlier`` (|z| > ``k``); groups with fewer than 2 rows (no
    sample stddev) and zero-variance groups get NULL z and flag 0.

    One map-side-combinable aggregate per group (count/mean/stddev are
    algebraic — no window, no sort) broadcast-joined back: at 100 TB
    the stats table is |groups| rows and the flagging pass is map-only.
    """
    stats = df.groupBy(group_col).agg(
        F.avg(F.col(value_col).cast("double")).alias("__mu"),
        F.stddev_samp(F.col(value_col).cast("double")).alias("__sd"),
    )
    z = F.when(
        F.col("__sd") > 0,
        F.round((F.col(value_col).cast("double") - F.col("__mu")) / F.col("__sd"), 4)
        + F.lit(0.0),
    )
    return (
        df.join(broadcast(stats), group_col)
        .withColumn("zscore", z)
        .withColumn(
            "is_outlier",
            F.coalesce((F.abs(F.col("zscore")) > k).cast("int"), F.lit(0)),
        )
        .drop("__mu", "__sd")
    )


def value_deciles(
    df: DataFrame,
    value_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Assign each row its quantile bucket (decile by default) of
    ``value_col`` WITHOUT a global sort: aggregate per distinct value
    (bounded for integer-ish metrics like lengths and counts), run the
    cumulative count over that tiny histogram, and broadcast the
    value→bucket map back. bucket = ceil(buckets · cum_count / n) —
    exact integer math, so ties (equal values) always share a bucket
    and the result reproduces bit-for-bit on any engine.

    NULL values carry a NULL bucket and are excluded from the
    histogram (they have no rank among real values — counting them
    would shift every real value's bucket upward); the rows themselves
    pass through via the left join.

    The scale contrast: ``ntile()`` needs one global sort (single
    reducer at 100 TB); this plan's only ordered structure is the
    |distinct values|-row histogram.
    """
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cuts = hist.select(
        "__v",
        F.ceil(
            F.lit(buckets)
            * F.sum("__c").over(wcum)
            / F.sum("__c").over(wall)
        ).cast("int").alias("bucket"),
    )
    return df.join(
        broadcast(cuts), F.col(value_col) == F.col("__v"), "left"
    ).drop("__v")


def rebalance_labels(
    df: DataFrame,
    id_col: str,
    label_col: str,
    target: int | None = None,
    skew_resistant: bool = False,
) -> DataFrame:
    """Exact class rebalancing by deterministic replication: every
    label class is brought to exactly ``target`` rows (default: the
    majority class count) by replicating each row ``target div c``
    times plus one extra copy for the ``target mod c`` rows with the
    smallest md5 draw — the oversampling primitive for skewed label
    distributions ahead of training, with none of ``sampleBy``'s
    partition-layout dependence.

    Output = input columns + ``copy_idx`` (1-based per source row);
    every class sums to exactly ``target`` (classes larger than
    ``target`` are deterministically downsampled to it: base factor 0,
    and only the ``target`` smallest-draw rows keep one copy).

    Scale shape: the per-label counts are a tiny broadcast frame; the
    only per-row ordered structure is a row_number PARTITIONED BY
    label (per-class local sorts); replication is a map-side
    ``explode(sequence(...))`` — rows never shuffle for copying.
    ``skew_resistant=True`` (identical output) replaces that window
    with ``selection.skew_resistant_rank`` on a (md5-draw, id) struct
    key, so a label class holding most of the table — exactly the case
    rebalancing exists for — spreads over the full range exchange
    instead of serializing onto one task.
    """
    if target is not None and target < 0:
        raise ValueError("target must be >= 0")
    counts = df.groupBy(F.col(label_col).alias("__lbl")).agg(
        F.count("*").cast("long").alias("__c")
    )
    if target is None:
        tgt = counts.agg(F.max("__c").alias("t"))
        counts = counts.crossJoin(broadcast(tgt)).select(
            "__lbl", "__c", F.col("t").cast("long").alias("__t")
        )
    else:
        counts = counts.withColumn("__t", F.lit(int(target)).cast("long"))
    if skew_resistant:
        from datas_spark.operators.selection import skew_resistant_rank

        # struct ordering is lexicographic, so this reproduces the
        # window path's (md5_unit asc, id asc) order exactly
        tmp = df.withColumn(
            "__ord", F.struct(_md5_unit(F.col(id_col)).alias("u"), F.col(id_col))
        )
        ranked = (
            skew_resistant_rank(tmp, label_col, "__ord")
            .withColumnRenamed("__rn", "__rk")
            .drop("__m", "__ord")
        )
    else:
        rk = Window.partitionBy(label_col).orderBy(
            _md5_unit(F.col(id_col)).asc(), F.col(id_col).asc()
        )
        ranked = df.withColumn("__rk", F.row_number().over(rk))
    reps = (
        ranked.join(broadcast(counts), F.col(label_col) == F.col("__lbl"))
        .withColumn(
            "__rep",
            (F.col("__t") / F.col("__c")).cast("long")
            + F.when(F.col("__rk") <= F.col("__t") % F.col("__c"), 1).otherwise(0),
        )
    )
    return (
        reps.where(F.col("__rep") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("__rep"))))
        .drop("__lbl", "__c", "__t", "__rk", "__rep")
    )


def token_budget_mixture(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    budgets: dict[str, int] | DataFrame,
    id_col: str = "doc_id",
    skew_resistant: bool = False,
) -> DataFrame:
    """Budgeted mixture sampling: for each key (source/domain), admit
    rows in deterministic md5-draw order until that key's token budget
    is filled — the data-mixing primitive behind recipe-weighted
    pretraining corpora ("40% web, 30% code, ...": budgets in TOKENS,
    not documents, because document lengths differ wildly per source).

    A row is admitted iff the budget was not yet exhausted BEFORE it
    (``cum − w < budget``), so the last admitted row may overflow its
    budget but the selection is a deterministic prefix — the greedy
    rule every engine reproduces exactly. Keys absent from ``budgets``
    are excluded.

    Scale shape: the budget table is a broadcast literal; the only
    per-row ordered structure is the per-key cumulative-sum window
    (local sorts within each source); admission is a map-side
    comparison, no second pass. ``skew_resistant=True`` (identical
    output for weights ≥ 1; rows with weight < 1 are EXCLUDED in this
    mode — the rank-≤-budget prune is only sound when every admitted
    row consumes at least one unit) first ranks rows with
    ``selection.skew_resistant_rank`` — no window partitioned by the
    key — and keeps only ``rank ≤ budget`` candidates (a row of rank r
    sits behind ≥ r−1 admitted weight-≥1 rows, so rank > budget can
    never be admitted); the per-key cumsum window then runs on at most
    ``budget`` rows per key instead of the key's full corpus.
    """
    if isinstance(budgets, DataFrame):
        # computed budget table (e.g. unimax_allocation output): columns
        # (key_col, budget) — the whole mixture then plans as ONE job,
        # no driver round-trip between allocation and admission
        btab = budgets.select(
            F.col(key_col), F.col("budget").cast("long").alias("__budget")
        )
    else:
        if not budgets:
            raise ValueError("budgets must be non-empty")
        if any(b < 0 for b in budgets.values()):
            raise ValueError("budgets must be >= 0")
        btab = df.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in sorted(budgets.items())], [key_col, "__budget"]
        )
    cand = df.join(broadcast(btab), key_col)
    if skew_resistant:
        from datas_spark.operators.selection import skew_resistant_rank

        cand = cand.where(F.col(weight_col) >= 1)
        tmp = cand.withColumn(
            "__ord", F.struct(_md5_unit(F.col(id_col)).alias("u"), F.col(id_col))
        )
        cand = (
            skew_resistant_rank(tmp, key_col, "__ord")
            .where(F.col("__rn") <= F.col("__budget"))
            .drop("__m", "__ord")
        )
    w = Window.partitionBy(key_col).orderBy(
        _md5_unit(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    cum = F.sum(F.col(weight_col)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        cand.withColumn("__cum", cum.cast("long"))
        .where(F.col("__cum") - F.col(weight_col) < F.col("__budget"))
        .drop("__budget", "__cum")
    )
    return out.drop("__rn") if skew_resistant else out


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_cond: Column,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much more likely its tokens are under
    the TARGET distribution (rows where ``target_cond`` holds — e.g. a
    trusted high-quality slice) than under the raw corpus:

        weight(doc) = Σ_tokens log( p_target(w) / p_raw(w) )

    with add-one smoothing over the union vocabulary. Sampling
    proportionally to exp(weight) is the importance-resampling recipe
    for tilting a 100 TB crawl toward a target domain; the weight
    itself ranks "most target-like" docs directly.

    Plan: one tokenize pass feeds both unigram count frames (hashed
    8-byte token keys, combinable counts) and the scoring explode; the
    two count frames full-outer-join on the token key into one
    log-ratio table (absent side = 0 count, smoothing keeps it
    finite); scoring joins each doc token to that table and sums per
    doc. The three scalars (token totals, vocab size) ride a 1-row
    broadcast. No collect, no driver state.

    Returns (id, n_tokens, dsir_weight) — weight NULL for empty docs;
    positive means more target-like than the corpus average.
    """
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            target_cond.alias("__tgt"),
            word_tokens(text_col).alias("__w"),
        )
        .select(
            "__id",
            "__tgt",
            F.explode_outer(
                F.transform("__w", lambda t: F.xxhash64(F.lower(t)))
            ).alias("__t"),
        )
        .where(F.col("__t").isNotNull())
    )
    c_t = toks.where("__tgt").groupBy("__t").agg(F.count(F.lit(1)).alias("__ct"))
    c_r = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__cr"))
    vocab = (
        c_r.join(c_t, "__t", "left")
        .select("__t", F.coalesce("__ct", F.lit(0)).alias("__ct"), "__cr")
    )
    scalars = vocab.agg(
        F.sum("__ct").alias("__nt"),
        F.sum("__cr").alias("__nr"),
        F.count(F.lit(1)).alias("__v"),
    )
    ratio = vocab.crossJoin(F.broadcast(scalars)).select(
        "__t",
        (
            F.log(
                (F.col("__ct") + 1).cast("double")
                / (F.col("__nt") + F.col("__v")).cast("double")
            )
            - F.log(
                (F.col("__cr") + 1).cast("double")
                / (F.col("__nr") + F.col("__v")).cast("double")
            )
        ).alias("__lr"),
    )
    scored = (
        toks.join(ratio, "__t")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("__lr"), 6).alias("dsir_weight"),
        )
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return ids.join(scored, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        "dsir_weight",
    )


# Cleaning patterns, RE2-compatible (no lookarounds, ASCII classes) so
# the identical literals run in Spark (Java regex) and DuckDB (RE2).
CLEAN_PATTERNS: list[tuple[str, str]] = [
    ("url", r"https?://[^\s]+"),
    ("email", PII_PATTERNS["email"]),
    ("control", r"[\x00-\x08\x0B\x0C\x0E-\x1F]"),
]


def clean_text(
    df: DataFrame,
    text_col: str,
    out_col: str = "text_clean",
    lowercase: bool = False,
) -> DataFrame:
    """Corpus-normalization pass: strip URLs and emails (replaced by a
    single space so token boundaries survive), drop C0 control
    characters, collapse whitespace runs, trim, optionally lowercase —
    the standard pre-tokenization cleanup every web corpus runs before
    quality scoring and dedup (normalizing BEFORE near-dup makes
    byte-trivial variants collapse into exact dups).

    Map-only chained ``regexp_replace`` — whole-stage codegen, no
    Python, no shuffle. Pattern order matters: URLs first (an email
    inside a URL query string is already gone), controls before the
    whitespace collapse (a control char between spaces must not leave
    two spaces behind).
    """
    expr = F.col(text_col)
    for _, pat in CLEAN_PATTERNS:
        expr = F.regexp_replace(expr, F.lit(pat), F.lit(" "))
    expr = F.trim(F.regexp_replace(expr, F.lit(r"\s+"), F.lit(" ")))
    if lowercase:
        expr = F.lower(expr)
    return df.withColumn(out_col, expr)


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher corpus-quality rules (Rae et al. 2021, table A1 —
    the public heuristic set RedPajama/Dolma/FineWeb reuse) as one
    map-side expression pass. Appends the individual rule flags (true
    = rule VIOLATED) and ``gopher_pass``:

    - word count outside [min_words, max_words]
    - mean word length outside [3, 10]
    - '#' or '…'/'...' symbols per word > 0.1
    - > 90% of lines start with a bullet
    - > 30% of lines end with an ellipsis
    - < 80% of words contain an alphabetic character
    - fewer than 2 distinct hits from a tiny stopword probe list

    Every rule is a Column expression over one tokenization and one
    line split — no shuffle, whole-stage codegen, trivially pushed
    against the scan. Thresholds are parameters; defaults match the
    paper.
    """
    toks = word_tokens(text_col)
    lines = F.split(F.col(text_col), r"\n")
    n_words = F.size(F.filter(toks, lambda t: t != ""))
    total_word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    mean_wl = F.when(n_words > 0, total_word_chars / n_words)
    n_symbols = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"#", ""))
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\.|…")).cast("long")
    )
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"^([-*•]|\d+[.)])\s"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]")))
    probe = F.array(
        *[F.lit(s) for s in ("the", "be", "to", "of", "and", "that", "have", "with")]
    )
    low = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    stop_hits = F.aggregate(
        probe,
        F.lit(0),
        lambda a, s: a
        + F.when(low.contains(F.concat(F.lit(" "), s, F.lit(" "))), 1).otherwise(0),
    )
    out = (
        df.withColumn("__toks_tmp", toks)
        .withColumn("n_words", n_words.cast("long"))
        .withColumn(
            "flag_word_count",
            (F.col("n_words") < min_words) | (F.col("n_words") > max_words),
        )
        .withColumn(
            "flag_word_len",
            F.coalesce(
                (mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len),
                F.lit(True),
            ),
        )
        .withColumn(
            "flag_symbol_ratio",
            F.coalesce(
                F.when(F.col("n_words") > 0, n_symbols / F.col("n_words"))
                > max_symbol_word_ratio,
                F.lit(True),
            ),
        )
        .withColumn(
            "flag_bullet_lines",
            F.coalesce(
                F.when(n_lines > 0, bullet_lines / n_lines)
                > max_bullet_line_frac,
                F.lit(True),
            ),
        )
        .withColumn(
            "flag_ellipsis_lines",
            F.coalesce(
                F.when(n_lines > 0, ellipsis_lines / n_lines)
                > max_ellipsis_line_frac,
                F.lit(True),
            ),
        )
        .withColumn(
            "flag_alpha_words",
            F.coalesce(
                F.when(F.col("n_words") > 0, alpha_words / F.col("n_words"))
                < min_alpha_word_frac,
                F.lit(True),
            ),
        )
        .withColumn("flag_stopwords", stop_hits < min_stopword_hits)
        .drop("__toks_tmp")
    )
    flags = [
        "flag_word_count",
        "flag_word_len",
        "flag_symbol_ratio",
        "flag_bullet_lines",
        "flag_ellipsis_lines",
        "flag_alpha_words",
        "flag_stopwords",
    ]
    passing = F.lit(True)
    for fl in flags:
        passing = passing & ~F.col(fl)
    return out.withColumn("gopher_pass", passing)


def compression_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document: ``compressed_bytes /
    utf8_bytes`` — the cheap redundancy signal corpus filters use
    (machine-generated/repetitive text compresses far below prose;
    Gopher-family pipelines cut the tails). Arrow-batched
    ``mapInPandas`` over Python's stdlib zlib — the one corpus
    operator here that is genuinely not SQL-expressible, so its
    registered query is rows-only by design.

    Returns (id, n_bytes, n_compressed, ratio); empty/NULL text →
    ratio NULL. Deterministic for a fixed zlib level and library
    version (pinned by the runtime image at deployment).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )

    def run(batches):
        import zlib

        for pdf in batches:
            nb, nc, ratio = [], [], []
            for t in pdf[text_col]:
                if t is None or len(t) == 0:
                    nb.append(0)
                    nc.append(0)
                    ratio.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
                ratio.append(round(len(comp) / len(raw), 6))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "ratio": ratio,
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def c4_line_filters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_line_words: int = 3,
    out_col: str = "text_clean",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 of the
    T5 paper — the public web-corpus recipe): split the document into
    lines, KEEP only lines that (a) end in terminal punctuation
    (. ! ? or a closing quote after one), (b) have at least
    ``min_line_words`` words, (c) do not contain the word "javascript"
    (case-insensitive), (d) do not contain "lorem ipsum", and (e) do
    not contain a curly brace (code/templating residue); reassemble
    the survivors with newlines.

    Appends ``out_col`` (the cleaned text — empty string when no line
    survives), ``n_lines`` (original), ``n_lines_kept``. Doc-level
    drop decisions (e.g. require >= 3 kept sentences) belong to the
    caller; this operator is the line-level pass only.

    Scale shape: pure map-side higher-order functions (split →
    filter → array_join) in whole-stage codegen — no Python, no
    shuffle, no state. The per-line predicate mirrors the published
    C4 rules; reproduced verbatim in the DuckDB oracle, so the whole
    pass is hash-checkable.
    """
    lines = F.split(F.col(text_col), "\n")
    keep = F.filter(
        lines,
        lambda ln: (
            F.trim(ln).rlike(r'[.!?]["’”]?$')
            & (F.size(F.split(F.trim(ln), r"\s+")) >= F.lit(min_line_words))
            & ~F.lower(ln).contains("javascript")
            & ~F.lower(ln).contains("lorem ipsum")
            & ~ln.contains("{")
            & ~ln.contains("}")
        ),
    )
    return (
        df.withColumn("__lines", lines)
        .withColumn("__kept", keep)
        .withColumn("n_lines", F.size("__lines").cast("long"))
        .withColumn("n_lines_kept", F.size("__kept").cast("long"))
        .withColumn(out_col, F.array_join(F.col("__kept"), "\n"))
        .drop("__lines", "__kept")
    )


def unimax_allocation(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    total_budget: int,
    max_epochs: float = 1.0,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023: uniform-as-possible
    over sources, capped at ``max_epochs`` repeats of any source):
    given per-row token weights, compute each source's token
    allocation for a ``total_budget``-token corpus. Small sources get
    everything they have (up to the epoch cap); the budget left over
    is spread uniformly over the larger sources — the water-filling
    solution, computed in closed form.

    Returns one row per source: ``(key, avail_tokens, cap_tokens,
    alloc_tokens, epochs)``. Feed ``alloc_tokens`` straight into
    :func:`token_budget_mixture` as the per-source budget.

    Closed form instead of the paper's per-source loop: sort sources
    by capped availability ascending; source i (0-based, among n) is
    "small" iff ``cap_i * (n - i) <= budget - cum_before_i``; the
    first non-small source starts the uniform region, whose level is
    ``(budget - sum(small caps)) / n_large``. One groupBy to per-source
    totals (map-side combinable), then windows over the SOURCES frame
    only (tiny — thousands of rows at 100 TB, never per-document), so
    the whole computation is a broadcast-scale postscript on one scan.

    Allocations use integer floor; the uniform level rounds down, so
    ``sum(alloc) <= total_budget`` always (the shortfall is < n
    tokens — irrelevant at token scale and exactly reproducible).
    """
    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be > 0")
    src = df.groupBy(key_col).agg(
        F.sum(weight_col).cast("long").alias("avail_tokens")
    )
    return _water_fill(src, key_col, F.lit(int(total_budget)), max_epochs)


def _water_fill(
    src: DataFrame, key_col: str, budget: Column, max_epochs: float
) -> DataFrame:
    """`unimax_allocation`'s closed-form water-filling core over a
    per-source ``(key, avail_tokens)`` frame, with the budget as a
    COLUMN — so a composed plan can supply it from a lazy total
    (`data_constrained_report`'s epochs×corpus budget) with zero
    driver actions; `unimax_allocation` passes a literal."""
    src = src.withColumn("__budget", budget).withColumn(
        "cap_tokens",
        F.floor(F.col("avail_tokens") * F.lit(float(max_epochs))).cast("long"),
    )
    # windows over the per-source frame only (tiny by contract)
    w_ord = Window.orderBy(F.col("cap_tokens").asc(), F.col(key_col).asc())
    src = (
        src.withColumn("__i", F.row_number().over(w_ord) - 1)
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "__cum_before",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    is_small = (
        F.col("cap_tokens") * (F.col("__n") - F.col("__i"))
        <= F.col("__budget") - F.col("__cum_before")
    )
    src = src.withColumn("__small", is_small)
    agg = src.agg(
        F.coalesce(
            F.sum(F.when(F.col("__small"), F.col("cap_tokens"))), F.lit(0)
        ).alias("__small_sum"),
        F.count_if(~F.col("__small")).alias("__n_large"),
    )
    src = src.crossJoin(F.broadcast(agg))
    level = F.floor(
        (F.col("__budget") - F.col("__small_sum"))
        / F.greatest(F.col("__n_large"), F.lit(1))
    ).cast("long")
    alloc = F.when(F.col("__small"), F.col("cap_tokens")).otherwise(
        F.least(F.col("cap_tokens"), F.greatest(level, F.lit(0)))
    )
    return (
        src.withColumn("alloc_tokens", alloc.cast("long"))
        .withColumn(
            "epochs",
            F.round(
                F.col("alloc_tokens")
                / F.when(F.col("avail_tokens") > 0, F.col("avail_tokens")),
                6,
            ),
        )
        .select(key_col, "avail_tokens", "cap_tokens", "alloc_tokens", "epochs")
    )


def data_constrained_report(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    budget_epochs: float = 4.0,
    max_epochs: float = 8.0,
    r_star: float = 15.39,
) -> DataFrame:
    """Data-constrained scaling readout (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given a training
    budget of ``budget_epochs`` × the corpus token mass, water-fill it
    over sources (UniMax, epoch-capped at ``max_epochs``) and price
    each source's REPEATED tokens by the paper's decaying-value law —
    the value of data seen ``R`` extra times decays exponentially with
    ``R*`` ≈ 15.4, so

        effective_tokens = U · (1 + R*·(1 − e^{−R/R*})),
        U = min(alloc, avail),  R = alloc/avail − 1

    (repeating up to ~4 epochs is nearly free; past ~16 the marginal
    token is worthless — the paper's headline finding, here as a
    per-source budget report). ``efficiency = effective/alloc`` is the
    fraction of the consumed budget that still buys new-data-equivalent
    signal — the number that says whether to repeat this corpus or go
    gather more.

    The budget is ``floor(budget_epochs × Σ weights)`` computed INSIDE
    the plan (lazy 1-row total crossJoined into the water-filling —
    the auto-k discipline, zero driver actions), so the SAME query
    scales from sf0.001 to 100 TB. The one float transcendental
    (``exp``) evaluates on an identical double both engines and the
    outputs re-quantize at 6 dp. Returns ``(key, avail_tokens,
    alloc_tokens, epochs, repetitions, effective_tokens,
    efficiency)``.
    """
    if budget_epochs <= 0 or max_epochs <= 0 or r_star <= 0:
        raise ValueError(
            f"need budget_epochs/max_epochs/r_star > 0, got "
            f"{budget_epochs}/{max_epochs}/{r_star}"
        )
    src = df.groupBy(key_col).agg(
        F.sum(weight_col).cast("long").alias("avail_tokens")
    ).localCheckpoint(eager=False)
    tot = src.agg(F.sum("avail_tokens").cast("long").alias("__tot"))
    budget = F.floor(F.col("__tot") * F.lit(float(budget_epochs))).cast("long")
    alloc = _water_fill(
        src.crossJoin(F.broadcast(tot)), key_col, budget, max_epochs
    ).drop("cap_tokens")
    u = F.least(F.col("alloc_tokens"), F.col("avail_tokens")).cast("double")
    reps = F.when(
        F.col("avail_tokens") > 0,
        F.greatest(
            F.col("alloc_tokens") / F.col("avail_tokens") - F.lit(1.0),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(0.0))
    mult = F.lit(1.0) + F.lit(float(r_star)) * (
        F.lit(1.0) - F.exp(-F.col("repetitions") / F.lit(float(r_star)))
    )
    return (
        alloc.withColumn("repetitions", F.round(reps, 6) + F.lit(0.0))
        .withColumn("effective_tokens", F.round(u * mult, 6) + F.lit(0.0))
        .withColumn(
            "efficiency",
            F.when(
                F.col("alloc_tokens") > 0,
                F.round(
                    F.col("effective_tokens") / F.col("alloc_tokens").cast("double"),
                    6,
                ),
            ) + F.lit(0.0),
        )
    )


def pack_concat_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    shard_col: str | None = None,
) -> DataFrame:
    """EXACT concat-and-chunk packing (the GPT-style pretraining
    loader: concatenate all docs in order, emit fixed ``budget``-token
    windows, docs split across window boundaries): returns the CHUNK
    MANIFEST — one row per (chunk, doc slice) telling the loader which
    token range of which doc lands where.

    Columns: ``(shard?, chunk, id, doc_from, doc_to, chunk_off)`` —
    tokens ``[doc_from, doc_to)`` of doc ``id`` occupy chunk ``chunk``
    starting at offset ``chunk_off``. Every chunk except the last is
    exactly full (the packing-efficiency contrast to
    :func:`pack_sequences`, whose bin-by-start greedy overflows);
    zero-token docs are dropped (they occupy no tokens).

    The derivation is pure expressions over ONE per-shard cumulative
    sum: a doc spanning global token offsets ``[start, end)`` touches
    chunks ``floor(start/b) .. floor((end-1)/b)``, and each touched
    chunk's slice bounds are min/max arithmetic — the span explodes
    map-side via ``sequence`` (a doc touches at most
    ``n_tokens/budget + 1`` chunks). Same sharding contract as
    `pack_sequences`: one shard's token mass per task; global packing
    (``shard_col=None``) is a single-task ordering for small corpora.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    shard = [F.col(shard_col)] if shard_col else []
    w = Window.partitionBy(*shard).orderBy(F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    toks = df.select(
        *shard,
        F.col(id_col),
        token_count(text_col).cast("long").alias("__n"),
    ).where(F.col("__n") > 0)
    b = F.lit(int(budget))
    spanned = (
        toks.withColumn("__end", F.sum("__n").over(w))
        .withColumn("__start", F.col("__end") - F.col("__n"))
        .withColumn("__c0", F.floor(F.col("__start") / b))
        .withColumn("__c1", F.floor((F.col("__end") - 1) / b))
    )
    start, end = F.col("__start"), F.col("__end")
    slices = spanned.withColumn(
        "__slices",
        F.transform(
            F.sequence("__c0", "__c1"),
            lambda c: F.struct(
                c.cast("long").alias("chunk"),
                (F.greatest(c * b, start) - start).cast("long").alias("doc_from"),
                (F.least((c + 1) * b, end) - start).cast("long").alias("doc_to"),
                (F.greatest(c * b, start) - c * b).cast("long").alias("chunk_off"),
            ),
        ),
    )
    exploded = (
        slices.select(*shard, F.col(id_col), F.explode_outer("__slices").alias("__s"))
        .where(F.col("__s").isNotNull())
    )
    return exploded.select(
        *shard,
        F.col("__s.chunk").alias("chunk"),
        F.col(id_col),
        F.col("__s.doc_from").alias("doc_from"),
        F.col("__s.doc_to").alias("doc_to"),
        F.col("__s.chunk_off").alias("chunk_off"),
    )


def nfc_normalize_text(
    df: DataFrame, text_col: str, out_col: str = "text_nfc"
) -> DataFrame:
    """Unicode NFC normalization of a text column — the canonical first
    step of any multilingual dedup/fingerprint pipeline: visually
    identical strings with different combining-character encodings
    ("café" composed vs decomposed) must hash identically or exact
    dedup silently misses them.

    Spark has no built-in Unicode normalizer, so this is a genuine
    Arrow-batched pandas_udf boundary (stdlib ``unicodedata`` — no
    model, no heavy import, pure CPU per batch); the DuckDB oracle runs
    its NATIVE ``nfc_normalize``, making the hash check a cross-engine
    conformance test of the two Unicode implementations. NULLs pass
    through.
    """
    import pandas as pd

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return df.withColumn(out_col, _nfc(F.col(text_col)))


# UTF-8-decoded-as-Latin-1 artifact markers (the ftfy fix targets):
# U+00C3/U+00C2 lead bytes of mangled 2-byte UTF-8 sequences, the
# 'â€' (U+00E2 U+20AC) mangled curly-punctuation pair — bare 'â' is
# legitimate French — and U+FFFD, the hard replacement char.
MOJIBAKE_PATTERN = "Ã|â€|Â|�"


def mojibake_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Encoding-damage detection: count UTF-8-as-Latin-1 mojibake
    markers per document (``n_mojibake``) and flag affected rows
    (``has_mojibake``). A pure JVM-side regexp over the scan — zero
    shuffles, zero UDFs — so it rides along any ingest pass for free;
    route flagged docs to a re-decode/ftfy stage instead of training on
    'cafÃ©'. Heuristic by design: the capital-lead-byte
    markers are vanishingly rare in legitimate text but certain in
    double-decoded text."""
    n = F.regexp_count(F.col(text_col), F.lit(MOJIBAKE_PATTERN))
    return df.withColumn("n_mojibake", n.cast("long")).withColumn(
        "has_mojibake", (F.col("n_mojibake") > 0).cast("int")
    )


def unigram_lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-trained UNIGRAM LM score — the context-free companion of
    `ngram_lm_score`: ``P(w) = c(w) / c(·)`` estimated from the corpus
    itself, per-doc average negative log-likelihood. On its own a
    weaker fluency signal than the bigram NLL; the pair (unigram,
    bigram) is the deterministic two-model stand-in that
    `doremi_domain_weights` consumes as (proxy, reference) losses.

    Plan: one explode → token-hash count aggregate; the corpus total is
    a 1-row reaggregation broadcast into the probability table; scoring
    joins each doc's tokens on the 8-byte key and averages per doc.
    Docs with no token get ``n_tokens = 0`` and NULL nll.

    Returns (id, n_tokens, nll) with nll rounded to 6 decimals.
    """
    toks = (
        df.select(F.col(id_col).alias("__id"), word_tokens(text_col).alias("__toks"))
        .select("__id", F.explode_outer("__toks").alias("__t"))
        .where(F.col("__t").isNotNull())
        .select("__id", F.xxhash64("__t").alias("__th"))
    )
    cnt = toks.groupBy("__th").agg(F.count(F.lit(1)).alias("__c"))
    total = cnt.agg(F.sum("__c").alias("__tot"))
    probs = cnt.crossJoin(F.broadcast(total)).withColumn(
        "__lp", F.log(F.col("__c") / F.col("__tot"))
    )
    scored = toks.join(probs.select("__th", "__lp"), "__th").groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(-F.avg("__lp"), 6).alias("nll"),
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return ids.join(scored, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "nll",
    )


def doremi_domain_weights_k(
    df: DataFrame,
    domain_col: str,
    proxy_nll_col: str,
    ref_nll_col: str,
    n_steps: int = 5,
    step_size: float = 1.0,
    smoothing: float = 0.01,
) -> DataFrame:
    """``n_steps`` DoReMi exponentiated-gradient steps
    (VERDICT r7 #6) — the published method iterates; the round-7 query
    was one step. Per step t (Xie et al. 2023, with the per-domain
    excess loss fixed between steps — retraining the proxy model is
    the GPU half the sandbox lacks; with real models each step's
    losses would re-enter through the `reward_score` pandas_udf
    boundary):

        r_i = w_i · exp(η · λ_i)
        w'_i = (1 − c) · r_i / Σr + c / k      (rounded to 12 dp)

    starting from uniform w⁰ = 1/k. Compounding pushes mass toward the
    max-excess domain while the smoothing floor keeps every domain
    sampled — the weights converge monotonically to the smoothed
    near-one-hot fixed point (property-tested on a planted skew).

    Scale shape — the `kmeans_lloyd` driver-state idiom: examples are
    touched by ONE map-side-combinable aggregate whose k domain rows
    are collected together with each domain's step factor
    ``exp(η · λ_i)`` — the only libm call, which does not change across
    steps, so it is computed in the plan and the JVM produces its bits.
    The ``n_steps`` updates then run as a plain driver loop in
    ascending domain order (NULL first, the oracle's fold order), with
    only ``*``, ``/`` and ``+`` and the per-step Spark-rounding to 12 dp
    (`clustering._spark_round`), which keeps last-ulp ``exp``
    divergence between the JVM and C libm from compounding across steps
    while leaving the 6-dp output exact.

    Returns ``(domain, n_docs, excess_loss, weight)`` like the
    single-step operator, as a driver-built frame with the input's
    domain type; an empty input returns no rows."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from datas_spark.operators.clustering import _spark_round

    eta = float(step_size)
    c = float(smoothing)
    per_dom = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.coalesce(
                F.avg(
                    F.greatest(
                        F.col(proxy_nll_col) - F.col(ref_nll_col), F.lit(0.0)
                    )
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("excess_loss"),
    )
    doms = sorted(
        per_dom.withColumn("__e", F.exp(F.lit(eta) * F.col("excess_loss"))).collect(),
        key=lambda r: (r["domain"] is not None, r["domain"]),
    )
    w = [1.0 / len(doms) for _ in doms]
    for _ in range(int(n_steps)):
        r = [wi * d["__e"] for wi, d in zip(w, doms)]
        z = 0.0
        for x in r:  # the oracle's left fold; sum() compensates from 3.12
            z += x
        w = [_spark_round((1.0 - c) * x / z + c / len(doms), 12) for x in r]
    schema = StructType(
        [
            StructField("domain", per_dom.schema["domain"].dataType),
            StructField("n_docs", LongType()),
            StructField("excess_loss", DoubleType()),
            StructField("weight", DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame(
        [
            (d["domain"], d["n_docs"], d["excess_loss"], _spark_round(wi, 6))
            for d, wi in zip(doms, w)
        ],
        schema,
    )


def doremi_domain_weights(
    df: DataFrame,
    domain_col: str,
    proxy_nll_col: str,
    ref_nll_col: str,
    step_size: float = 1.0,
    smoothing: float = 0.01,
) -> DataFrame:
    """One DoReMi exponentiated-gradient step over domain mixture
    weights (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds
    Up Language Model Pretraining"): per-domain excess loss
    ``λ_i = avg(max(0, proxy − ref))`` over the domain's examples,
    multiplicative update from the uniform base
    ``w_i ∝ (1/k) · exp(η · λ_i)``, normalized, then smoothed with the
    uniform mixture ``(1 − c) · w + c/k`` so no domain's weight
    collapses to zero. Domains where the proxy model trails the
    reference hardest get upweighted — the published group-DRO rule,
    here as ONE deterministic dataflow step: feed it real per-example
    losses from two model passes (the `reward_score`-style pandas_udf
    boundary) and iterate; the registry query feeds the self-trained
    unigram/bigram LM pair so the whole step is oracle-checkable.

    Scale shape: the only pass over examples is ONE map-side-combinable
    aggregate per domain; everything after runs on the k-row domain
    frame — the normalization total folds over the domain-sorted
    collected array (engine-identical accumulation) and broadcasts
    back. Returns ``(domain, n_docs, excess_loss, weight)`` with
    ``excess_loss`` rounded to 9 and ``weight`` to 6 decimals.
    """
    per_dom = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.coalesce(
                F.avg(
                    F.greatest(
                        F.col(proxy_nll_col) - F.col(ref_nll_col), F.lit(0.0)
                    )
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("excess_loss"),
    )
    raw = per_dom.withColumn(
        "__raw", F.exp(F.lit(float(step_size)) * F.col("excess_loss"))
    )
    norm = raw.agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("domain", "__raw"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__raw"],
        ).alias("__tot"),
    )
    c = float(smoothing)
    return raw.crossJoin(F.broadcast(norm)).select(
        "domain",
        "n_docs",
        "excess_loss",
        F.round(
            F.lit(1.0 - c) * F.col("__raw") / F.col("__tot")
            + F.lit(c) / F.col("__k"),
            6,
        ).alias("weight"),
    )


def importance_weight_diagnostics(
    df: DataFrame,
    weight_col: str,
    tokens_col: str,
) -> DataFrame:
    """Effective-sample-size diagnostics for an importance-weighting
    scheme (Kong 1992; the standard "is my resampling degenerate"
    readout): with per-example weights w_i,

        ESS = (Σw)² / Σw²   ∈ [1, n]

    — ESS ≈ n means the weights barely tilt; ESS ≪ n means a few
    examples dominate and the resampled corpus will be near-duplicates
    of them. The input is the LOG-ratio weight `dsir_importance`
    emits; the diagnostic weight is the PER-TOKEN tilt
    ``exp(weight / n_tokens)`` (document-length-normalized — raw
    exp(Σ log-ratio) overflows doubles on long documents and conflates
    length with domain match).

    Determinism: weights quantize to e6 integers before the moment
    sums (decimal-38 squares — Σw² exceeds int64 at corpus scale), so
    ESS is exact-integer algebra + one division; ESS is
    scale-invariant so the e6 factor cancels. Docs with no tokens
    (NULL weight) are excluded and counted.

    ONE combinable aggregate. Returns one row: ``(n_docs, n_excluded,
    ess, ess_pct, max_w_share_pct)``.
    """
    w = F.col(weight_col).cast("double") / F.col(tokens_col).cast("double")
    # Clamp before the long cast: a per-token log-ratio above ~42 makes
    # exp(w)·1e6 exceed int64 and ANSI mode raises CAST_OVERFLOW at
    # runtime. 1e18 is far above any real per-token tilt (exp(27.6))
    # and is exactly representable, so the clamp never binds on sane
    # corpora and the hash is unchanged.
    we6 = F.least(F.round(F.exp(w) * 1_000_000.0), F.lit(1.0e18)).cast(
        "long"
    )
    # NaN weights must be EXCLUDED, not clamped: Spark orders NaN above
    # every double, so F.least(NaN, 1e18) returns 1e18 and a corrupt
    # weight would silently become the maximum-weight document. Route
    # NaN to n_excluded alongside NULL/zero-token rows.
    base = df.select(
        F.when(
            F.col(weight_col).isNotNull()
            & ~F.isnan(F.col(weight_col).cast("double"))
            & (F.col(tokens_col) > 0),
            we6,
        ).alias("__w")
    )
    agg = base.agg(
        F.count("__w").cast("long").alias("n_docs"),
        (F.count(F.lit(1)) - F.count("__w")).cast("long").alias("n_excluded"),
        F.sum(F.col("__w").cast("decimal(38,0)")).alias("__sw"),
        F.sum(
            F.col("__w").cast("decimal(38,0)")
            * F.col("__w").cast("decimal(38,0)")
        ).alias("__sww"),
        F.max("__w").alias("__mx"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    # If every weight quantizes to 0, Σw² = 0 and ESS would be 0/0 =
    # NaN; the guard yields NULL instead (degenerate-input readout).
    ess = F.when(dd("__sww") > 0.0, dd("__sw") * dd("__sw") / dd("__sww"))
    return agg.select(
        "n_docs",
        "n_excluded",
        F.round(ess, 3).alias("ess"),
        F.round(
            F.when(dd("n_docs") > 0.0, ess / dd("n_docs") * 100.0), 4
        ).alias("ess_pct"),
        F.round(
            F.when(dd("__sw") > 0.0, dd("__mx") / dd("__sw") * 100.0), 6
        ).alias("max_w_share_pct"),
    )


def doc_novelty_rate(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_novelty: float = 0.5,
) -> DataFrame:
    """Memorization/novelty scan (VERDICT r8 #8): for each eval or
    generated document, the fraction of its DISTINCT ``n``-gram
    shingles that do NOT appear anywhere in the training corpus —

        novelty_rate = (n_grams − n_known) / n_grams

    — the release-gate readout for generated text (a low rate means
    the text is largely regurgitated training data). Shingles are the
    decontamination tier's hash-of-token-hashes (`_doc_shingle_hashes`
    — no gram string ever shuffles); membership is a left-semi
    equi-join of the eval side's shingles against the training
    corpus's distinct shingle set. Unlike `ngram_contamination` the
    big side here is the REFERENCE set, so nothing is broadcast: the
    join shuffles on the 64-bit shingle hash, which at 100 TB is one
    well-partitioned hash join (for a cheaper approximate pre-filter
    at extreme scale, probe `sketches`' Bloom tier first and verify
    only probable-known shingles through this exact join — the same
    two-tier routing as `bloom_decontaminate`).

    Docs whose novelty cannot be certified — zero shingles (shorter
    than ``n`` tokens) — yield NULL novelty_rate and route to
    ``review`` alongside sub-threshold (memorization-suspect) docs;
    the rest route ``release`` (the cheap tier decides, the suspect
    residue gets the expensive look).

    Returns one row per eval doc:
    ``(id, n_grams, n_known, novelty_rate, route)``.
    """
    if not 0.0 <= min_novelty <= 1.0:
        raise ValueError(f"min_novelty must be in [0,1], got {min_novelty}")
    e = _doc_shingle_hashes(eval_docs, id_col, text_col, n)
    t = _doc_shingle_hashes(train_docs, id_col, text_col, n).select(
        "__s"
    ).distinct()
    per = e.join(t, "__s", "left_semi").groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_known")
    )
    totals = e.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    ids = eval_docs.select(F.col(id_col).alias("__id"))
    out = (
        ids.join(totals, "__id", "left")
        .join(per, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_known", F.lit(0)).alias("n_known"),
        )
    )
    rate = F.when(
        F.col("n_grams") > 0,
        (F.col("n_grams") - F.col("n_known")).cast("double")
        / F.col("n_grams").cast("double"),
    )
    return out.select(
        id_col,
        "n_grams",
        "n_known",
        F.round(rate, 6).alias("novelty_rate"),
        F.when(rate >= min_novelty, F.lit("release"))
        .otherwise(F.lit("review"))
        .alias("route"),
    )


def doc_novelty_route_bloom(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_novelty: float = 0.5,
    m_bits: int = 1 << 24,
    k: int = 4,
    backend: str = "auto",
) -> DataFrame:
    """Bloom-tier novelty router — the cheap first pass in front of
    `doc_novelty_rate`'s exact semi-join, using the one-sided error a
    Bloom filter guarantees: a shingle the training corpus CONTAINS
    always hits, so ``(n_grams − hits) / n_grams`` is a LOWER BOUND on
    the true novelty rate (false positives only ever *shrink* it).
    A doc whose lower bound already clears ``min_novelty`` is
    'release'-certified without touching the training corpus again;
    everything else routes 'verify' — the exact tier re-scores only
    that residue (the `bloom_decontaminate` / hot-bucket two-tier
    discipline).

    At 100 TB the training shingle set never shuffles per probe: it
    folds once into the fixed-size ``(word, bits)`` table
    (`sketches.bloom_bitset`) and probes are map-side — a dense
    driver-literal expression below `BLOOM_LITERAL_MAX_BITS`, k
    broadcast word-joins above it. Size ``m_bits`` to the expected
    distinct-shingle count (~10 bits/shingle ≈ 1% FPR at k=4):
    a higher FPR only sends more docs to 'verify', never mislabels a
    'release'.

    Returns one row per eval doc: ``(id, n_grams, n_probable_known,
    novelty_lower_bound, route)``.
    """
    if not 0.0 <= min_novelty <= 1.0:
        raise ValueError(f"min_novelty must be in [0,1], got {min_novelty}")
    from datas_spark.functions.text import shingles_of_tokens, word_tokens
    from datas_spark.operators import sketches as SK

    def grams(df: DataFrame, *keep: str) -> DataFrame:
        return (
            df.select(*keep, word_tokens(text_col).alias("__w"))
            .select(
                *keep,
                F.explode_outer(
                    shingles_of_tokens(F.col("__w"), n)
                ).alias("g"),
            )
            .where(F.col("g").isNotNull())
            .distinct()
        )

    bitset = SK.bloom_bitset(
        grams(train_docs).select("g"), "g", m_bits=m_bits, k=k
    )
    ev = grams(eval_docs, id_col)
    totals = ev.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    hits = (
        SK.bloom_contains(ev, "g", bitset, m_bits=m_bits, k=k, backend=backend)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_probable_known"))
    )
    ids = eval_docs.select(F.col(id_col).alias(id_col))
    out = (
        ids.join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_probable_known", F.lit(0)).alias(
                "n_probable_known"
            ),
        )
    )
    lb = F.when(
        F.col("n_grams") > 0,
        (F.col("n_grams") - F.col("n_probable_known")).cast("double")
        / F.col("n_grams").cast("double"),
    )
    return out.select(
        id_col,
        "n_grams",
        "n_probable_known",
        F.round(lb, 6).alias("novelty_lower_bound"),
        F.when(lb >= min_novelty, F.lit("release"))
        .otherwise(F.lit("verify"))
        .alias("route"),
    )
