"""Corpus text statistics: BPE, profiling, cartography, boilerplate, readability, code-switch, packing, chat flattening.

Consolidated from the former numeric registry batches 12, 32, 39, 41, 61, 70, 74, 77, 78 (round-5 cleanup; query
names unchanged). Each section below keeps its original batch
docstring for provenance."""
from __future__ import annotations

# ==================================================================
# former registry12.py
# ==================================================================

"""Registry batch 12 — BPE tokenizer training/application and ordered
funnel analysis.

The BPE oracles unroll the merge rounds as chained MATERIALIZED CTEs
(the same unrolled-iteration discipline as the pagerank oracle): each
round's arg-max pair is a scalar subquery with the identical
cnt-desc / pair-asc tie-break the Spark side uses, so the learned merge
table — and the token counts under it — hash-match exactly.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import bpe as BPE
from datas_spark.operators import events as EV
from datas_spark.registry_core import register

_BPE_N = 12


def _bpe_chain(n: int, carry_word: bool) -> str:
    """Unrolled BPE rounds as a WITH-clause body: w0 (word-frequency
    table, spaced symbols) then e/p/b/w per round. ``carry_word`` keeps
    the original word through the chain for the application join."""
    wcol = "word, " if carry_word else ""
    parts = [
        rf"""w0 AS MATERIALIZED (
      SELECT {wcol}array_to_string(string_split(word, ''), ' ') AS s, cnt
      FROM (
        SELECT word, count(*)::BIGINT AS cnt FROM (
          SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
          FROM documents
        ) WHERE len(word) > 0 GROUP BY word
      )
    )"""
    ]
    for i in range(1, n + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""e{i} AS (
      SELECT l, cnt, unnest(range(1, len(l))) AS i
      FROM (SELECT string_split(s, ' ') AS l, cnt FROM {prev})
    ), p{i} AS (
      SELECT l[i] || ' ' || l[i+1] AS pair, sum(cnt) AS c FROM e{i} GROUP BY 1
    ), b{i} AS MATERIALIZED (
      SELECT pair, c FROM p{i} WHERE c >= 2 ORDER BY c DESC, pair ASC LIMIT 1
    ), w{i} AS MATERIALIZED (
      SELECT {wcol}CASE WHEN (SELECT count(*) FROM b{i}) = 1
                  THEN replace(s, (SELECT pair FROM b{i}),
                               replace((SELECT pair FROM b{i}), ' ', ''))
                  ELSE s END AS s, cnt
      FROM {prev}
    )"""
        )
    return "WITH " + ",\n    ".join(parts)


_BPE_LEARN_ORACLE = (
    _bpe_chain(_BPE_N, carry_word=False)
    + "\n    SELECT * FROM (\n      "
    + "\n      UNION ALL ".join(
        f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, "
        f"c::BIGINT AS pair_count FROM b{i}"
        for i in range(1, _BPE_N + 1)
    )
    + "\n    )"
)


@register("bpe_learn_merges", oracle=_BPE_LEARN_ORACLE)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a {n}-merge BPE vocabulary on the corpus (SURVEY §2.9):
    the corpus reduces once to its word-frequency table; every round is
    a combinable pair-count aggregate + a one-row arg-max collect + a
    broadcast-literal merge replace. 100 TB story: rounds scale with
    the DISTINCT-WORD table (Heaps' law), not the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    return BPE.learn_bpe_merges(docs, "text", n_merges=_BPE_N)


@register(
    "bpe_token_counts",
    oracle=_bpe_chain(_BPE_N, carry_word=True)
    + f""",
    tok AS (SELECT word, len(string_split(s, ' '))::BIGINT AS n FROM w{_BPE_N}),
    dw AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    agg AS (
      SELECT doc_id, sum(t.n) AS n_bpe
      FROM dw JOIN tok t USING (word) WHERE len(word) > 0 GROUP BY doc_id
    )
    SELECT d.doc_id, length(d.text)::BIGINT AS n_chars,
           coalesce(a.n_bpe, 0)::BIGINT AS n_bpe_tokens
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges back to every document and count BPE
    tokens — the compression-ratio check on the trained vocab. The
    merge list collects to the driver (n_merges rows, contractually
    tiny) and applies as a pure map-side literal replace chain; no join
    against the word table on the hot path."""
    docs = read_table(spark, sf_dir, "documents")
    merges = [
        r["pair"]
        for r in BPE.learn_bpe_merges(docs, "text", n_merges=_BPE_N)
        .orderBy("step")
        .collect()
    ]
    return BPE.bpe_token_counts(docs, "doc_id", "text", merges)


# ---------------------------------------------------------------------------
# ordered funnel analysis
# ---------------------------------------------------------------------------

@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1)::BIGINT AS n_viewed,
           (SELECT count(*) FROM s2)::BIGINT AS n_clicked,
           (SELECT count(*) FROM s3)::BIGINT AS n_purchased,
           round(100.0 * (SELECT count(*) FROM s2)
                 / greatest((SELECT count(*) FROM s1), 1), 4)
             AS view_to_click_pct,
           round(100.0 * (SELECT count(*) FROM s3)
                 / greatest((SELECT count(*) FROM s2), 1), 4)
             AS click_to_purchase_pct
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase (see
    `operators.events.funnel_counts` for the stage semantics and the
    per-stage pushdown/aggregation scale shape)."""
    ev = read_table(spark, sf_dir, "events")
    out = EV.funnel_counts(ev, ["view", "click", "purchase"])
    return out.select(
        F.col("n_step_0").alias("n_viewed"),
        F.col("n_step_1").alias("n_clicked"),
        F.col("n_step_2").alias("n_purchased"),
        F.col("pct_1").alias("view_to_click_pct"),
        F.col("pct_2").alias("click_to_purchase_pct"),
    )

# ==================================================================
# former registry32.py
# ==================================================================

"""Registry batch 32 — dataset profiling and robustification: the
per-column stats profiler (the "DESCRIBE my lake table" every pipeline
runs before training), corpus mixture composition + entropy (the
multi-source balance screen), and percentile winsorization (robust
score clamping before normalization).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.functions.text import token_count
from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


@register(
    "documents_column_profile",
    oracle="""
    SELECT 'doc_id' AS column_name, count(*)::BIGINT AS n_rows,
           count(*) FILTER (WHERE doc_id IS NULL)::BIGINT AS n_null,
           count(DISTINCT doc_id)::BIGINT AS n_distinct,
           min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', count(*)::BIGINT,
           count(*) FILTER (WHERE lang IS NULL)::BIGINT,
           count(DISTINCT lang)::BIGINT, min(lang), max(lang)
    FROM documents
    UNION ALL
    SELECT 'source', count(*)::BIGINT,
           count(*) FILTER (WHERE source IS NULL)::BIGINT,
           count(DISTINCT source)::BIGINT, min(source), max(source)
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*)::BIGINT,
           count(*) FILTER (WHERE n_chars IS NULL)::BIGINT,
           count(DISTINCT n_chars)::BIGINT,
           min(n_chars)::VARCHAR, max(n_chars)::VARCHAR
    FROM documents
    """,
)
def q_documents_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile: row count, null count, exact distinct
    count, min/max (as strings, so one long-format frame covers mixed
    types) — the pre-training data-quality screen.

    Scale shape: ONE scan computes every column's stats in a single
    aggregate (Catalyst expands the multi-distinct into one Expand +
    aggregate pass — never k scans for k columns); the long format is
    a driver-free unpivot of the 1-row wide result. Exact distincts
    are the oracle-checkable contract at test scale; at 100 TB swap
    ``approx_count_distinct`` per column — same single-pass plan,
    sketch-sized state."""
    docs = read_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{c}__rows"),
            F.count(F.when(F.col(c).isNull(), 1)).cast("long").alias(f"{c}__null"),
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__dist"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    long = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__dist").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(long).alias("p")).select("p.*")


@register(
    "corpus_mixture_stats",
    oracle=r"""
    WITH per_source AS (
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(len(list_filter(
               string_split_regex(trim(regexp_replace(lower(text),
                 '([^\w\s])', ' \1 ', 'g')), '\s+'), t -> t != '')))::BIGINT
               AS n_tokens
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT sum(n_tokens)::BIGINT AS total_tokens FROM per_source
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           round(p.n_tokens::DOUBLE / t.total_tokens::DOUBLE * 100, 6)
             AS token_share_pct
    FROM per_source p CROSS JOIN tot t
    """,
)
def q_corpus_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture composition: docs, BPE-ish tokens, and token
    share per source — the table a mixture designer reads before
    setting sampling weights (`token_budget_mixture` consumes exactly
    these numbers).

    One tokenize pass, one combinable per-source aggregate, a 1-row
    broadcast total; shares divide exact integers once."""
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.col("total_tokens").cast("double")
            * 100,
            6,
        ).alias("token_share_pct"),
    )


@register(
    "corpus_mixture_entropy",
    oracle=r"""
    WITH per_source AS (
      SELECT source,
             sum(len(list_filter(
               string_split_regex(trim(regexp_replace(lower(text),
                 '([^\w\s])', ' \1 ', 'g')), '\s+'), t -> t != '')))::BIGINT
               AS n_tokens
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT sum(n_tokens)::BIGINT AS total FROM per_source
    )
    SELECT count(*)::BIGINT AS n_sources,
           max(t.total)::BIGINT AS total_tokens,
           round(sum(CASE WHEN p.n_tokens > 0 THEN
             -(p.n_tokens::DOUBLE / t.total::DOUBLE)
               * ln(p.n_tokens::DOUBLE / t.total::DOUBLE) ELSE 0 END), 6)
             AS token_entropy_nats
    FROM per_source p CROSS JOIN tot t
    """,
)
def q_corpus_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture balance in one number: Shannon entropy (nats) of the
    per-source token distribution. ln(n_sources) = perfectly balanced;
    near 0 = one source dominates. Exact integer token counts; the
    entropy sums ≤ |sources| float terms in a tiny final aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("long").alias("n_tokens")
    )
    tot = per_source.agg(F.sum("n_tokens").cast("long").alias("total"))
    p = F.col("n_tokens").cast("double") / F.col("total").cast("double")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max("total").cast("long").alias("total_tokens"),
            F.round(
                F.sum(F.when(F.col("n_tokens") > 0, -p * F.log(p)).otherwise(0.0)),
                6,
            ).alias("token_entropy_nats"),
        )
    )


@register(
    "winsorized_doc_lengths",
    oracle="""
    WITH thr AS (
      SELECT round(quantile_cont(n_chars::DOUBLE, 0.05), 6) AS lo,
             round(quantile_cont(n_chars::DOUBLE, 0.95), 6) AS hi
      FROM documents
    )
    SELECT d.doc_id, d.n_chars,
           round(least(greatest(d.n_chars::DOUBLE, t.lo), t.hi), 6)
             AS n_chars_winsorized
    FROM documents d CROSS JOIN thr t
    """,
)
def q_winsorized_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization: clamp a heavy-tailed feature into its
    [p5, p95] band before normalization — the robust alternative to
    dropping outliers (`events_value_outliers` flags; this repairs).

    One combinable percentile buffer → 1-row broadcast thresholds →
    map-side clamp; thresholds rounded to 6 dp pre-comparison so band
    membership is engine-identical."""
    docs = read_table(spark, sf_dir, "documents")
    thr = docs.agg(
        F.round(F.percentile(F.col("n_chars").cast("double"), F.lit(0.05)), 6).alias(
            "lo"
        ),
        F.round(F.percentile(F.col("n_chars").cast("double"), F.lit(0.95)), 6).alias(
            "hi"
        ),
    )
    return docs.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_chars",
        F.round(
            F.least(
                F.greatest(F.col("n_chars").cast("double"), F.col("lo")),
                F.col("hi"),
            ),
            6,
        ).alias("n_chars_winsorized"),
    )

# ==================================================================
# former registry39.py
# ==================================================================

"""Registry batch 39 — corpus cartography and behavioral statistics:
n-gram diversity (type-token ratio) per source, pairwise source
vocabulary overlap (which feeds syndicate each other), top bigram
collocations by PMI, and per-user inter-arrival burstiness.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.functions.text import word_tokens
from datas_spark.io.sources import read_table
from datas_spark.operators import dedup as D
from datas_spark.registry_core import register

_GRAM_SQL = r"""
      SELECT source, unnest(list_transform(
          range(1, greatest(len(w) - 2, 0) + 1),
          i -> array_to_string(w[i:i+2], ' '))) AS g
      FROM (SELECT source, string_split_regex(trim(text), '\s+') AS w
            FROM documents)
"""


@register(
    "ngram_diversity_by_source",
    oracle=f"""
    WITH ex AS ({_GRAM_SQL})
    SELECT source, count(*)::BIGINT AS n_grams,
           count(DISTINCT g)::BIGINT AS distinct_grams,
           round(count(DISTINCT g)::DOUBLE / count(*), 6) AS ttr
    FROM ex GROUP BY source
    """,
)
def q_ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram type-token ratio per source — the diversity screen: a
    feed whose TTR collapses is templated/boilerplate text (near-dup
    pressure) even when exact dedup finds nothing. One shingle pass;
    distinct counting on 8-byte gram hashes (the shuffle carries
    hashes, never gram strings; collision odds are the d²/2⁶⁵ already
    accepted across the dedup family)."""
    docs = read_table(spark, sf_dir, "documents")
    th = F.col("__th")
    grams = F.when(
        F.size(th) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(th) - 3),
            lambda i: F.xxhash64(F.get(th, i), F.get(th, i + 1), F.get(th, i + 2)),
        ),
    )
    ex = (
        docs.select("source", word_tokens("text").alias("__w"))
        .select(
            "source", F.transform("__w", lambda t: F.xxhash64(t)).alias("__th")
        )
        # NON-distinct gram instances (TTR needs the raw count), unlike
        # the dedup family's distinct shingle sets
        .select("source", F.explode_outer(grams).alias("__g"))
        .where(F.col("__g").isNotNull())
    )
    return ex.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.count_distinct("__g").cast("long").alias("distinct_grams"),
        F.round(
            F.count_distinct("__g").cast("double") / F.count(F.lit(1)), 6
        ).alias("ttr"),
    )


@register(
    "source_vocab_overlap",
    oracle=r"""
    WITH v AS (
      SELECT DISTINCT source,
             lower(unnest(string_split_regex(trim(text), '\s+'))) AS t
      FROM documents
    ), sizes AS (
      SELECT source, count(*)::BIGINT AS n FROM v GROUP BY 1
    ), shared AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS shared
      FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, s.shared,
           round(s.shared::DOUBLE / (sa.n + sb.n - s.shared), 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.src_a = sa.source
    JOIN sizes sb ON s.src_b = sb.source
    WHERE s.shared::DOUBLE / (sa.n + sb.n - s.shared) >= 0.4
    """,
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cartography: pairwise Jaccard of source VOCABULARIES
    (distinct lowercase tokens), reported for pairs above 0.4 — feeds
    that syndicate each other's content light up before any doc-level
    dedup runs.

    Scale shape: the token→source inverted index has ≤ |sources| rows
    per token; pairs generate map-side from each token's sorted source
    set (≤ C(|sources|,2) per token, |sources| being small by
    definition), so the shuffle carries (pair, 1) counts — never a
    vocabulary self-join."""
    docs = read_table(spark, sf_dir, "documents")
    v = (
        docs.select(
            "source", F.explode_outer(word_tokens("text")).alias("__t")
        )
        .where(F.col("__t").isNotNull())
        .select("source", F.lower("__t").alias("__t"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # v is distinct per (source, token): each posting list is a set
    shared = (
        D._posting_pairs(
            v, "__t", "source", None, lambda x, y: F.struct(x.alias("src_a"), y.alias("src_b"))
        )
        .groupBy(F.col("__p.src_a").alias("src_a"), F.col("__p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("__n").alias("__nb"))
    jac = F.col("shared").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("shared")
    )
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .where(jac >= 0.4)
        .select("src_a", "src_b", "shared", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "bigram_pmi_top",
    oracle=r"""
    WITH bg AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
            FROM documents),
           unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS t(i)
    ), cbg AS (
      SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, sum(c)::BIGINT AS n1 FROM cbg GROUP BY 1
    ), c2 AS (
      SELECT w2, sum(c)::BIGINT AS n2 FROM cbg GROUP BY 1
    ), tot AS (
      SELECT sum(c)::BIGINT AS n FROM cbg
    )
    SELECT w1, w2, c AS n_pair,
           round(ln(c::DOUBLE * t.n::DOUBLE / (c1.n1::DOUBLE * c2.n2::DOUBLE)), 6)
             AS pmi
    FROM cbg JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot t
    WHERE c >= 5
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def q_bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations: the 20 highest-PMI adjacent bigrams with
    count ≥ 5 — `ln(c(w1,w2)·N / (c(w1·)·c(·w2)))` over exact integer
    counts. The phrase-mining signal (fixed expressions, named
    entities) that complements per-source keyness.

    One bigram count pass; both marginals are re-aggregations of that
    frame; the top-20 runs as TakeOrderedAndProject (no global sort).
    PMI computes from exact integers and rounds to 6 dp before the
    (pmi, w1, w2) total order, so the cutoff is engine-identical."""
    docs = read_table(spark, sf_dir, "documents")
    bg = (
        docs.select(F.split(F.trim(F.lower("text")), r"\s+").alias("__w"))
        .select(
            F.explode_outer(
                F.when(
                    F.size("__w") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("__w") - 2),
                        lambda i: F.struct(
                            F.get(F.col("__w"), i).alias("w1"),
                            F.get(F.col("__w"), i + 1).alias("w2"),
                        ),
                    ),
                )
            ).alias("__g")
        )
        .where(F.col("__g").isNotNull())
        .select("__g.w1", "__g.w2")
    )
    cbg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c"))
    c1 = cbg.groupBy("w1").agg(F.sum("c").alias("n1"))
    c2 = cbg.groupBy("w2").agg(F.sum("c").alias("n2"))
    tot = cbg.agg(F.sum("c").alias("n"))
    pmi = F.round(
        F.log(
            F.col("c").cast("double")
            * F.col("n").cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
        ),
        6,
    )
    return (
        cbg.where(F.col("c") >= 5)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.col("c").alias("n_pair"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )


@register(
    "user_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
      FROM events
    )
    SELECT user_id, count(g)::BIGINT AS n_gaps,
           round(sum(g)::DOUBLE / count(g) / 1e6, 6) AS mean_gap_s,
           round(sqrt(greatest(
             (sum(g::DECIMAL(38,0) * g)::DOUBLE
              - sum(g)::DOUBLE * sum(g)::DOUBLE / count(g)) / count(g),
             0)) / 1e6, 6) AS std_gap_s
    FROM gaps WHERE g IS NOT NULL
    GROUP BY user_id HAVING count(g) >= 2
    """,
)
def q_user_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness: mean and population-std of inter-event
    gaps (regular heartbeats vs bursty humans vs runaway bots). Gaps
    are EXACT integer microseconds from a per-user lag window (ordered
    by (ts, event_id) — a total order, so ties never flip the gaps);
    moments are exact integer sums (Σg bigint, Σg² DECIMAL(38,0)) and
    the two float divisions happen once per user row."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # events ts is NTZ
    g = us - F.lag(us).over(w)
    gaps = ev.select("user_id", g.alias("g")).where(F.col("g").isNotNull())
    sum_g = F.sum("g").cast("double")
    n = F.count("g").cast("double")
    var = (
        F.sum((F.col("g").cast("decimal(38,0)") * F.col("g"))).cast("double")
        - sum_g * sum_g / n
    ) / n
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("g").cast("long").alias("n_gaps"),
            F.round(sum_g / n / 1e6, 6).alias("mean_gap_s"),
            F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / 1e6, 6).alias(
                "std_gap_s"
            ),
        )
        .where(F.col("n_gaps") >= 2)
    )

# ==================================================================
# former registry41.py
# ==================================================================

"""Registry batch 41 — boilerplate template mining: the most frequent
document PREFIXES (first k tokens). Templated feeds ("Sign up for our
newsletter …", scraped navigation chrome) surface here before any
pairwise dedup runs; the top templates become strip rules upstream.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.functions.text import word_tokens
from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

_PFX_K = 6
_PFX_MIN = 3


@register(
    "common_prefix_templates",
    oracle=rf"""
    WITH p AS (
      SELECT array_to_string(
               (string_split_regex(trim(lower(text)), '\s+'))[1:{_PFX_K}], ' ')
               AS prefix,
             len(string_split_regex(trim(lower(text)), '\s+')) AS ntok
      FROM documents
    )
    SELECT prefix, count(*)::BIGINT AS n_docs
    FROM p WHERE ntok >= {_PFX_K}
    GROUP BY prefix HAVING count(*) >= {_PFX_MIN}
    ORDER BY n_docs DESC, prefix ASC
    LIMIT 20
    """,
)
def q_common_prefix_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most repeated {_PFX_K}-token document prefixes (appearing
    in >= {_PFX_MIN} docs) — the boilerplate/template screen. One
    map-side prefix projection (docs shorter than the prefix are
    excluded, not padded), a combinable grouped count, and a
    TakeOrderedAndProject top-20 under the (count desc, prefix asc)
    total order."""
    docs = read_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower("text"))
    p = docs.select(
        F.array_join(F.slice(toks, 1, _PFX_K), " ").alias("prefix"),
        F.size(toks).alias("__n"),
    ).where(F.col("__n") >= _PFX_K)
    return (
        p.groupBy("prefix")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= _PFX_MIN)
        .orderBy(F.col("n_docs").desc(), F.col("prefix").asc())
        .limit(20)
    )

# ==================================================================
# former registry61.py
# ==================================================================

"""Registry batch 61 — tokenizer-fit and structure observability:
OOV rate per source against a corpus-learned vocabulary, sentence
segmentation stats, and JSON payload key profiling.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.functions.text import tokenize
from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

_VOCAB_N = 1000

# sentence chunks without lookarounds (RE2-safe, identical in both
# engines): runs ending in terminal punctuation, or a final tail
_SENT_RE = r"[^.!?]*[.!?]+|[^.!?]+$"


@register(
    "oov_rate_by_source",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source, unnest(list_filter(string_split_regex(
               regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g'),
               '\s+'), x -> x != '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT {_VOCAB_N}
      )
    )
    SELECT source,
           count(*)::BIGINT AS n_tokens,
           count(*) FILTER (vocab.tok IS NULL)::BIGINT AS n_oov,
           round(count(*) FILTER (vocab.tok IS NULL) / count(*)::DOUBLE * 100, 6)
             AS oov_pct
    FROM toks LEFT JOIN vocab USING (tok)
    GROUP BY source
    """,
)
def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit check: learn a top-{_VOCAB_N} vocabulary from the
    whole corpus (count desc, token asc — a deterministic stand-in for
    a trained tokenizer's vocab), then measure each source's
    out-of-vocabulary token rate — the screen that catches a feed
    whose token distribution the tokenizer was never fit to.

    Scale shape (round 12, guide §2.3 aggregate-before-you-shuffle):
    ONE tokenize pass feeds ONE combinable (tok, source) count — the
    pinned frame both branches derive from (unpinned, the vocab branch
    and the probe branch each re-ran the full-corpus tokenize+explode;
    the sf1 sweep flagged the query at 11.5× across the decade). The
    vocab is a tiny grouped re-sum + TakeOrdered top-{_VOCAB_N} (never
    a full sort) of that frame, the probe a broadcast left join over
    its distinct (tok, source) rows — token fans never cross a shuffle
    twice."""
    docs = read_table(spark, sf_dir, "documents")
    ts = (
        docs.select("source", F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        ts.groupBy("tok")
        .agg(F.sum("__n").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("tok"))
        .limit(_VOCAB_N)
        .select("tok", F.lit(1).alias("__in_v"))
    )
    joined = ts.join(F.broadcast(vocab), "tok", "left")
    return joined.groupBy("source").agg(
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_v").isNull(), F.col("__n")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in_v").isNull(), F.col("__n")).otherwise(0))
            / F.sum("__n").cast("double")
            * 100,
            6,
        ).alias("oov_pct"),
    )


@register(
    "sentence_stats",
    oracle=rf"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(text, '{_SENT_RE}'),
               x -> trim(x)), x -> x != '') AS sents
      FROM documents
    )
    SELECT doc_id,
           len(sents)::BIGINT AS n_sentences,
           coalesce(list_sum(list_transform(sents, x -> length(x))), 0)::BIGINT
             AS sent_chars,
           round(CASE WHEN len(sents) > 0
                 THEN list_sum(list_transform(sents, x -> length(x)))
                      / len(sents)::DOUBLE END, 6) AS mean_sent_len
    FROM s
    """,
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (lookaround-free terminal-punctuation
    chunking — the same RE2-safe pattern in both engines) with per-doc
    counts and mean sentence length — the unit pass sentence-level
    dedup/chunking builds on. Map-only."""
    docs = read_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.regexp_extract_all("text", F.lit(_SENT_RE), F.lit(0)),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    out = docs.withColumn("__s", sents)
    chars = F.aggregate(
        F.col("__s"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    n = F.size("__s")
    return out.select(
        "doc_id",
        n.cast("long").alias("n_sentences"),
        F.coalesce(chars, F.lit(0)).cast("long").alias("sent_chars"),
        F.round(F.when(n > 0, chars / n), 6).alias("mean_sent_len"),
    )


@register(
    "props_key_profile",
    oracle="""
    WITH kv AS (
      SELECT k.key AS key,
             json_extract_string(e.props, '$.' || k.key) AS val
      FROM events e, unnest(json_keys(e.props)) AS k(key)
      WHERE e.props IS NOT NULL
    )
    SELECT key, count(*)::BIGINT AS n,
           count(DISTINCT val)::BIGINT AS n_distinct,
           min(val) AS min_val, max(val) AS max_val
    FROM kv GROUP BY 1
    """,
)
def q_props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured observability: which keys the event props JSON
    payload actually carries, with per-key occurrence and distinct/
    min/max value stats (string domain — the report for a column the
    warehouse treats as opaque). Map-side key explode + one grouped
    aggregate; min/max on the extracted string give cheap domain
    bounds without parsing types."""
    ev = read_table(spark, sf_dir, "events")
    kv = ev.where(F.col("props").isNotNull()).select(
        F.explode(F.json_object_keys("props")).alias("key"),
        F.col("props").alias("__p"),
    ).select(
        "key",
        F.expr("get_json_object(__p, concat('$.', key))").alias("__v"),
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("__v").cast("long").alias("n_distinct"),
        F.min("__v").alias("min_val"),
        F.max("__v").alias("max_val"),
    )

# ==================================================================
# former registry70.py
# ==================================================================

"""Registry batch 70 — code-switch detection: per-sentence language
guesses against the document-level guess (the mixed-language screen a
per-language corpus pipeline runs before routing).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.functions import text as T
from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


def _lang_counts_sql(col: str) -> dict[str, str]:
    return {
        lang: (
            rf"len(list_filter(string_split_regex(trim({col}), '\s+'), "
            f"t -> lower(t) IN ({', '.join(repr(s) for s in stops)})))"
        )
        for lang, stops in T._STOPWORDS.items()
    }


def _guess_sql(col: str) -> str:
    c = _lang_counts_sql(col)
    g = f"greatest({c['en']}, {c['es']}, {c['fr']}, {c['de']})"
    return f"""CASE WHEN {g} = 0 THEN 'und'
           WHEN {c['en']} = {g} THEN 'en'
           WHEN {c['es']} = {g} THEN 'es'
           WHEN {c['fr']} = {g} THEN 'fr'
           ELSE 'de' END"""


@register(
    "code_switch_stats",
    oracle=rf"""
    WITH sents AS (
      SELECT doc_id, unnest(list_filter(list_transform(
               regexp_extract_all(text, '{_SENT_RE}'),
               x -> trim(x)), x -> x != '')) AS sent
      FROM documents
    ), sl AS (
      SELECT doc_id, {_guess_sql('sent')} AS s_lang FROM sents
    ), dl AS (
      SELECT doc_id, {_guess_sql('text')} AS d_lang FROM documents
    )
    SELECT d.doc_id, dl.d_lang AS doc_lang,
           count(sl.s_lang)::BIGINT AS n_sentences,
           count(*) FILTER (sl.s_lang IS NOT NULL AND sl.s_lang != 'und'
                            AND sl.s_lang != dl.d_lang)::BIGINT AS n_switched,
           round(CASE WHEN count(sl.s_lang) > 0
                 THEN count(*) FILTER (sl.s_lang IS NOT NULL
                      AND sl.s_lang != 'und' AND sl.s_lang != dl.d_lang)
                      / count(sl.s_lang)::DOUBLE ELSE 0.0 END, 6) AS switch_frac
    FROM documents d
    JOIN dl USING (doc_id)
    LEFT JOIN sl ON sl.doc_id = d.doc_id
    GROUP BY d.doc_id, dl.d_lang
    """,
)
def q_code_switch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc code-switching: fraction of sentences whose detected
    language differs from the document-level guess ('und' sentences
    don't count as switches). Sentence split + per-sentence stopword
    vote, all map-side; one grouped count per doc."""
    docs = read_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.regexp_extract_all("text", F.lit(_SENT_RE), F.lit(0)),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    doc_lang = docs.select("doc_id", T.language_id("text").alias("doc_lang"))
    per_sent = (
        docs.select("doc_id", F.explode_outer(sents).alias("__sent"))
        .where(F.col("__sent").isNotNull())
        .select("doc_id", T.language_id(F.col("__sent")).alias("s_lang"))
    )
    agg = per_sent.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.collect_list("s_lang").alias("__langs"),
    )
    joined = doc_lang.join(agg, "doc_id", "left")
    switched = F.size(
        F.filter(
            F.coalesce("__langs", F.array().cast("array<string>")),
            lambda x: (x != "und") & (x != F.col("doc_lang")),
        )
    ).cast("long")
    return joined.select(
        "doc_id",
        "doc_lang",
        F.coalesce("n_sentences", F.lit(0)).cast("long").alias("n_sentences"),
        switched.alias("n_switched"),
        F.round(
            F.when(
                F.coalesce("n_sentences", F.lit(0)) > 0,
                switched / F.col("n_sentences").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("switch_frac"),
    )

# ==================================================================
# former registry74.py
# ==================================================================

"""Registry batch 74 — packing-efficiency report and an exact
two-sample Kolmogorov–Smirnov screen for per-source length drift.
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.registry_core import register

_PACK_BUDGET = 500


@register(
    "packing_efficiency",
    oracle=rf"""
    WITH t AS (
      SELECT source, doc_id,
        len(list_filter(
          string_split_regex(trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')), '\s+'),
          t -> t != ''))::BIGINT AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tokens,
        ((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens) // {_PACK_BUDGET})::BIGINT AS bin
      FROM t
    ), bins AS (
      SELECT source, bin, sum(n_tokens)::BIGINT AS fill
      FROM packed GROUP BY 1, 2
    )
    SELECT source,
           count(*)::BIGINT AS n_bins,
           sum(fill)::BIGINT AS total_tokens,
           round(sum(fill) / (count(*) * {_PACK_BUDGET}.0), 6) AS fill_ratio,
           min(fill)::BIGINT AS min_fill, max(fill)::BIGINT AS max_fill
    FROM bins GROUP BY source
    """,
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput report for the greedy packer: per source, how full
    the {_PACK_BUDGET}-token bins actually are (straddling docs can
    overfill a bin — fill_ratio > 1 flags where a split-on-boundary
    packer would win). Composes the proven pack plan with one grouped
    aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    packed = C.pack_sequences(
        docs, "doc_id", "text", budget=_PACK_BUDGET, shard_col="source"
    )
    bins = packed.groupBy("source", "bin").agg(
        F.sum("n_tokens").cast("long").alias("fill")
    )
    return bins.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("fill").cast("long").alias("total_tokens"),
        F.round(
            F.sum("fill") / (F.count(F.lit(1)) * float(_PACK_BUDGET)), 6
        ).alias("fill_ratio"),
        F.min("fill").cast("long").alias("min_fill"),
        F.max("fill").cast("long").alias("max_fill"),
    )


@register(
    "source_length_ks",
    oracle="""
    WITH lens AS (
      SELECT source, n_chars FROM documents
    ), grid AS (
      SELECT DISTINCT n_chars AS l FROM lens
    ), sl AS (
      SELECT source, n_chars AS l, count(*)::BIGINT AS c
      FROM lens GROUP BY 1, 2
    ), totals AS (
      SELECT source, sum(c)::BIGINT AS ns FROM sl GROUP BY source
    ), gtot AS (
      SELECT count(*)::BIGINT AS ng FROM lens
    ), gcum AS (
      SELECT l, sum(cnt) OVER (ORDER BY l
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum
      FROM (SELECT l, (SELECT count(*) FROM lens WHERE n_chars = g.l)::BIGINT AS cnt
            FROM grid g)
    ), scum AS (
      SELECT t.source, g.l,
             sum(coalesce(sl.c, 0)) OVER (PARTITION BY t.source ORDER BY g.l
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scum
      FROM totals t CROSS JOIN grid g
      LEFT JOIN sl ON sl.source = t.source AND sl.l = g.l
    )
    SELECT s.source, t.ns AS n_docs,
           round(max(abs(s.scum * gt.ng - g.gcum * t.ns))
                 / (t.ns::DOUBLE * gt.ng), 6) AS ks_d
    FROM scum s
    JOIN gcum g USING (l)
    JOIN totals t ON t.source = s.source
    CROSS JOIN gtot gt
    GROUP BY s.source, t.ns, gt.ng
    """,
)
def q_source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between each
    source's doc-length distribution and the whole corpus: the max
    ECDF gap evaluated as EXACT cross-multiplied integers
    (|scum·N − gcum·n| — no float ECDFs to disagree about), one
    division at the end. The distribution-shape screen next to the
    mean/percentile drift checks.

    Scale shape: grids are per-distinct-length aggregate rows; the
    per-source cumulative window partitions on source. Cross size =
    |sources| × |distinct lengths| — aggregate-sized, not data-sized."""
    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select("source", "n_chars")
    grid = lens.select(F.col("n_chars").alias("l")).distinct()
    sl = lens.groupBy(
        "source", F.col("n_chars").alias("l")
    ).agg(F.count(F.lit(1)).alias("c"))
    totals = sl.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    gtot = lens.agg(F.count(F.lit(1)).cast("long").alias("ng"))
    gcounts = lens.groupBy(F.col("n_chars").alias("l")).agg(
        F.count(F.lit(1)).alias("gc")
    )
    wg = Window.orderBy("l").rowsBetween(Window.unboundedPreceding, 0)
    gcum = gcounts.select("l", F.sum("gc").over(wg).alias("gcum"))
    gridded = (
        totals.crossJoin(grid)
        .join(sl, ["source", "l"], "left")
        .select("source", "ns", "l", F.coalesce("c", F.lit(0)).alias("c"))
    )
    ws = Window.partitionBy("source").orderBy("l").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scum = gridded.select(
        "source", "ns", "l", F.sum("c").over(ws).alias("scum")
    )
    joined = scum.join(gcum, "l").join(F.broadcast(gtot))
    diff = F.abs(F.col("scum") * F.col("ng") - F.col("gcum") * F.col("ns"))
    return (
        joined.groupBy("source")
        .agg(
            F.any_value("ns").alias("n_docs"),
            F.round(
                F.max(diff) / (F.any_value("ns").cast("double") * F.any_value("ng")),
                6,
            ).alias("ks_d"),
        )
        .select("source", "n_docs", "ks_d")
    )

# ==================================================================
# former registry77.py
# ==================================================================

"""Registry batch 77 — readability scoring (Flesch–Kincaid grade with
the standard vowel-group syllable heuristic).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


@register(
    "readability_scores",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''))
          AS n_words,
        greatest(len(list_filter(list_transform(
          regexp_extract_all(text, '{_SENT_RE}'), x -> trim(x)), x -> x != '')), 1)
          AS n_sentences,
        list_sum(list_transform(string_split_regex(trim(text), '\s+'),
          w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1)))
          AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words::BIGINT AS n_words,
           n_sentences::BIGINT AS n_sentences,
           n_syllables::BIGINT AS n_syllables,
           round(CASE WHEN n_words > 0
                 THEN 0.39 * (n_words / n_sentences::DOUBLE)
                      + 11.8 * (n_syllables / n_words::DOUBLE) - 15.59 END, 4)
             AS fk_grade
    FROM t
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade per doc (0.39·words/sentence +
    11.8·syllables/word − 15.59) with the standard vowel-group
    syllable heuristic (every word ≥ 1 syllable; sentence count
    floored at 1) — the readability feature quality filters band on.
    Map-only expressions, identical RE2-safe regexes in both
    engines."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    words = F.filter(toks, lambda x: x != "")
    n_words = F.size(words)
    sents = F.filter(
        F.transform(
            F.regexp_extract_all("text", F.lit(_SENT_RE), F.lit(0)),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    n_sentences = F.greatest(F.size(sents), F.lit(1))
    n_syllables = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(F.lower(w), F.lit(r"[aeiouy]+"), F.lit(0))),
            F.lit(1),
        ),
    )
    out = (
        docs.withColumn("n_words", n_words.cast("long"))
        .withColumn("n_sentences", n_sentences.cast("long"))
        .withColumn("n_syllables", n_syllables.cast("long"))
    )
    fk = (
        0.39 * (F.col("n_words") / F.col("n_sentences").cast("double"))
        + 11.8 * (F.col("n_syllables") / F.col("n_words").cast("double"))
        - 15.59
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(F.when(F.col("n_words") > 0, fk), 4).alias("fk_grade"),
    )

# ==================================================================
# former registry78.py
# ==================================================================

"""Registry batch 78 — multi-turn chat → SFT training pairs
(`conversations.chat_training_pairs`): every assistant turn becomes a
(full-history context, reply) example.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.operators import conversations as CV
from datas_spark.registry_taskvector import _synth_conversations
from datas_spark.registry_core import register


@register(
    "chat_training_pairs",
    oracle="""
    SELECT doc_id AS conversation_id, 0 AS turn,
           'Human: ' || substr(text, 1, 40) AS context,
           lang AS target
    FROM documents
    UNION ALL
    SELECT doc_id, 1,
           'Human: ' || substr(text, 1, 40) || chr(10)
             || 'Assistant: ' || lang || chr(10)
             || 'Human: ' || substr(text, 41, 40),
           source
    FROM documents
    """,
)
def q_chat_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-to-SFT flattening on the synthetic ShareGPT frame: turn t's
    context renders every prior (human, assistant) exchange in order
    plus the current human message; the target is the reply. One
    per-conversation row-bounded window + an ordered fold — each turn
    trains with full history, the standard multi-turn supervision."""
    conv = _synth_conversations(spark, sf_dir)
    out = CV.chat_training_pairs(conv)
    return out.select(
        "conversation_id", F.col("turn").cast("int").alias("turn"), "context", "target"
    )


@register(
    "preference_pairs",
    oracle="""
    WITH r AS (
      SELECT doc_id // 4 AS prompt_id, doc_id AS response_id,
             (n_chars % 97)::DOUBLE AS score, source
      FROM documents
    ), ch AS (
      SELECT prompt_id, response_id AS chosen_id, score AS chosen_score,
             source,
             row_number() OVER (PARTITION BY prompt_id
                                ORDER BY score DESC, response_id ASC) AS rn
      FROM r
    ), c1 AS (
      SELECT prompt_id, chosen_id, chosen_score, source FROM ch WHERE rn = 1
    ), rj AS (
      SELECT c1.prompt_id, c1.chosen_id, c1.chosen_score, c1.source,
             r.response_id AS rejected_id, r.score AS rejected_score,
             row_number() OVER (PARTITION BY c1.prompt_id
                                ORDER BY r.score DESC, r.response_id ASC) AS rn
      FROM c1 JOIN r USING (prompt_id)
      WHERE r.score <= c1.chosen_score - 5.0
    ), p AS (
      SELECT prompt_id, chosen_id, chosen_score, rejected_id,
             rejected_score, source
      FROM rj WHERE rn = 1
    ), q AS (
      SELECT *,
             row_number() OVER (PARTITION BY source
                                ORDER BY chosen_score DESC, prompt_id ASC)
               AS qn
      FROM p
    )
    SELECT prompt_id, chosen_id, chosen_score, rejected_id, rejected_score,
           source
    FROM q WHERE qn <= 5
    """,
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chosen/rejected preference pairs (`training.preference_pairs`,
    VERDICT r7 #7 — the DPO/RLHF companion of the SFT flattening
    above). Multi-response fixture: documents grouped 4-per-prompt
    (doc_id // 4) with the deterministic score (n_chars % 97), so ties
    are frequent and the tie-break rules are exercised. Margin 5.0
    drops prompts whose best gap could be scorer noise; each source
    keeps its top-5 pairs by (chosen_score, prompt). Both elections
    are rank-1 windows keyed by prompt; the quota window runs on the
    already prompt-reduced frame."""
    from datas_spark.operators.training import preference_pairs

    docs = read_table(spark, sf_dir, "documents")
    resp = docs.select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("prompt_id"),
        F.col("doc_id").alias("response_id"),
        (F.col("n_chars") % 97).cast("double").alias("score"),
        "source",
    )
    return preference_pairs(
        resp, "prompt_id", "response_id", "score",
        margin=5.0, source_col="source", per_source_quota=5,
    )


# ==================================================================
# round 5: exact concat-and-chunk packing manifest
# ==================================================================

_CHUNK_BUDGET = 512


@register(
    "pack_chunk_manifest",
    oracle=rf"""
    WITH toks AS (
      SELECT source, doc_id,
        len(list_filter(
          string_split_regex(trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')), '\s+'),
          t -> t != ''))::BIGINT AS n
      FROM documents
    ), nz AS (
      SELECT * FROM toks WHERE n > 0
    ), cum AS (
      SELECT source, doc_id, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS e
      FROM nz
    ), sp AS (
      SELECT source, doc_id, e - n AS s, e FROM cum
    )
    SELECT source, c AS chunk, doc_id,
           (greatest(c * {_CHUNK_BUDGET}, s) - s)::BIGINT AS doc_from,
           (least((c + 1) * {_CHUNK_BUDGET}, e) - s)::BIGINT AS doc_to,
           (greatest(c * {_CHUNK_BUDGET}, s) - c * {_CHUNK_BUDGET})::BIGINT
             AS chunk_off
    FROM sp, unnest(range((s // {_CHUNK_BUDGET})::BIGINT,
                          ((e - 1) // {_CHUNK_BUDGET} + 1)::BIGINT)) AS t(c)
    """,
)
def q_pack_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPT-style pretraining pack plan, exactly: concatenate each
    source's documents in id order and emit {_CHUNK_BUDGET}-token fixed
    windows, docs SPLIT across window boundaries — the manifest row
    (chunk, doc, doc_from, doc_to, chunk_off) is everything a loader
    needs to materialize chunks. Pure expressions over one per-source
    cumulative sum; the boundary-splitting contrast to the bin-by-start
    `pack_sequences` greedy (every chunk except the last is exactly
    full). Shards pack in parallel (one source's token mass per task)."""
    from datas_spark.operators.corpus import pack_concat_chunks

    docs = read_table(spark, sf_dir, "documents")
    return pack_concat_chunks(
        docs, "doc_id", "text", budget=_CHUNK_BUDGET, shard_col="source"
    )


@register(
    "chunk_mixing_report",
    oracle=rf"""
    WITH toks AS (
      SELECT source, doc_id,
        len(list_filter(
          string_split_regex(trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')), '\s+'),
          t -> t != ''))::BIGINT AS n
      FROM documents
    ), nz AS (
      SELECT * FROM toks WHERE n > 0
    ), cum AS (
      SELECT source, doc_id, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS e
      FROM nz
    ), sp AS (
      SELECT source, doc_id, e - n AS s, e FROM cum
    ), manifest AS (
      SELECT source, c AS chunk, doc_id,
             (least((c + 1) * {_CHUNK_BUDGET}, e)
              - greatest(c * {_CHUNK_BUDGET}, s))::BIGINT AS n_toks
      FROM sp, unnest(range((s // {_CHUNK_BUDGET})::BIGINT,
                            ((e - 1) // {_CHUNK_BUDGET} + 1)::BIGINT)) AS t(c)
    )
    SELECT source, chunk,
           count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens,
           max(n_toks)::BIGINT AS max_doc_tokens,
           round(max(n_toks) / sum(n_toks)::DOUBLE, 6) AS dominant_share
    FROM manifest GROUP BY 1, 2
    """,
)
def q_chunk_mixing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window composition health over the exact pack plan:
    per {_CHUNK_BUDGET}-token chunk, how many documents compose it and
    what share the largest slice holds — chunks dominated by one doc
    behave like long-context examples, many-tiny-slice chunks are
    attention-boundary-heavy; the report is the input to choosing a
    boundary policy. One grouped aggregate over the manifest rows."""
    from datas_spark.operators.corpus import pack_concat_chunks

    docs = read_table(spark, sf_dir, "documents")
    man = pack_concat_chunks(
        docs, "doc_id", "text", budget=_CHUNK_BUDGET, shard_col="source"
    ).withColumn("n_toks", F.col("doc_to") - F.col("doc_from"))
    return man.groupBy("source", "chunk").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.max("n_toks").cast("long").alias("max_doc_tokens"),
        F.round(F.max("n_toks") / F.sum("n_toks").cast("double"), 6).alias(
            "dominant_share"
        ),
    )


# ---------------------------------------------------------------------------
# round 6: metadata dependence screen (mutual information)
# ---------------------------------------------------------------------------

@register(
    "lang_source_mi",
    oracle="""
    WITH j AS (
      SELECT lang AS a, source AS b, count(*)::BIGINT AS nab
      FROM documents GROUP BY 1, 2
    ), na AS (SELECT a, sum(nab)::BIGINT AS na FROM j GROUP BY a),
    nb AS (SELECT b, sum(nab)::BIGINT AS nb FROM j GROUP BY b),
    tot AS (SELECT sum(nab)::BIGINT AS n FROM j),
    cells AS (
      SELECT j.a, j.b,
             (nab::DOUBLE / n) * ln(n::DOUBLE * nab / (na::DOUBLE * nb)) AS term
      FROM j JOIN na USING (a) JOIN nb USING (b) CROSS JOIN tot
    ),
    mi AS (SELECT list_sum(list(term ORDER BY a, b)) AS mi FROM cells),
    ha AS (
      SELECT list_sum(list(term ORDER BY a)) AS ha FROM (
        SELECT a, -(na::DOUBLE / n) * ln(na::DOUBLE / n) AS term
        FROM na CROSS JOIN tot)
    ),
    hb AS (
      SELECT list_sum(list(term ORDER BY b)) AS hb FROM (
        SELECT b, -(nb::DOUBLE / n) * ln(nb::DOUBLE / n) AS term
        FROM nb CROSS JOIN tot)
    )
    SELECT round(mi, 6) + 0.0 AS mi,
           round(ha, 6) + 0.0 AS h_a,
           round(hb, 6) + 0.0 AS h_b,
           CASE WHEN ha > 0 AND hb > 0
                THEN round(mi / sqrt(ha * hb), 6) + 0.0 END AS nmi
    FROM mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def q_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between declared language and source — the
    metadata-dependence screen (is lang a proxy for source? does a
    split need to stratify on both?). One (lang, source) grouped count
    is the only full-data pass; all entropy sums are ordered folds over
    exact-integer-derived terms (engine-identical accumulation)."""
    from datas_spark.operators.profile import mutual_information

    docs = read_table(spark, sf_dir, "documents").select("lang", "source")
    return mutual_information(docs, "lang", "source")


# ---------------------------------------------------------------------------
# round 6: Unicode NFC normalization (cross-engine conformance check)
# ---------------------------------------------------------------------------

# decomposed combining characters planted on every 5th doc (the synthetic
# corpus is ASCII) so normalization genuinely fires; the SAME Python
# constant feeds the Spark literal and the oracle literal.
_NFC_SUFFIX = " cafe\u0301 A\u030a"  # decomposed e-acute / A-ring


@register(
    "nfc_normalized_docs",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 0 THEN '{_NFC_SUFFIX}' ELSE '' END
               AS text
      FROM documents
    )
    SELECT doc_id, nfc_normalize(text) AS text_nfc,
           (nfc_normalize(text) <> text)::INT AS changed
    FROM aug
    """,
)
def q_nfc_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization at a real Arrow pandas_udf boundary
    (stdlib unicodedata) vs DuckDB's NATIVE nfc_normalize — the hash
    check is a cross-engine Unicode conformance test. Decomposed
    combining chars are planted on every 5th doc so the pass genuinely
    rewrites text; ``changed`` flags rewritten rows."""
    from datas_spark.operators.corpus import nfc_normalize_text

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_NFC_SUFFIX)).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = nfc_normalize_text(docs, "text")
    return out.select(
        "doc_id",
        "text_nfc",
        (F.col("text_nfc") != F.col("text")).cast("int").alias("changed"),
    )


# ---------------------------------------------------------------------------
# round 6: mojibake / encoding-damage audit
# ---------------------------------------------------------------------------

# planted on every 7th doc (the synthetic corpus is clean ASCII): the
# classic UTF-8-read-as-Latin-1 rendering of "café" and a curly quote —
# the SAME constant feeds the Spark literal and the oracle literal
_MOJ_SUFFIX = " cafÃ© â€œquoted"

from datas_spark.operators.corpus import MOJIBAKE_PATTERN as _MOJ_PATTERN  # noqa: E402


@register(
    "mojibake_audit",
    oracle=f"""
    WITH aug AS (
      SELECT source,
             text || CASE WHEN doc_id % 7 = 0 THEN '{_MOJ_SUFFIX}' ELSE '' END
               AS text
      FROM documents
    ), flags AS (
      SELECT source,
             len(regexp_extract_all(text, '{_MOJ_PATTERN}'))::BIGINT AS n_mojibake
      FROM aug
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           count_if(n_mojibake > 0)::BIGINT AS n_flagged,
           sum(n_mojibake)::BIGINT AS n_artifacts,
           round(count_if(n_mojibake > 0) / count(*)::DOUBLE, 6) + 0.0 AS rate
    FROM flags GROUP BY source
    """,
)
def q_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit (`corpus.mojibake_stats`): per-source
    mojibake rates over a corpus with UTF-8-as-Latin-1 artifacts
    planted on every 7th doc (the synthetic corpus is clean ASCII, so
    detection genuinely fires). Pure JVM-side regexp on the scan — the
    zero-cost ingest rider that routes damaged docs to a re-decode
    stage instead of training on 'cafÃ©'."""
    from datas_spark.operators.corpus import mojibake_stats

    docs = read_table(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_MOJ_SUFFIX)).otherwise(F.lit("")),
        ).alias("text"),
    )
    flagged = mojibake_stats(docs, "text")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("has_mojibake") == 1).cast("long").alias("n_flagged"),
        F.sum("n_mojibake").cast("long").alias("n_artifacts"),
        (F.round(F.count_if(F.col("has_mojibake") == 1) / F.count(F.lit(1)), 6) + F.lit(0.0)).alias("rate"),
    )


@register(
    "tokenizer_fertility",
    oracle=r"""
    WITH d AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\s+')) AS words,
             list_sum(list_transform(
               list_filter(
                 string_split_regex(
                   trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')),
                   '\s+'),
                 t -> t <> ''),
               t -> (len(t) + 3) // 4)) AS subwords
      FROM documents
    )
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(words)::BIGINT AS n_words,
           sum(subwords)::BIGINT AS n_subwords,
           round(sum(subwords)::DOUBLE / sum(words)::DOUBLE, 6) AS fertility
    FROM d GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — subwords per whitespace word
    under the engine's deterministic BPE cost model
    (`functions.text.tokenize` + ceil(len/4), the same convention the
    packing/budget queries account in): the per-language tokenizer-tax
    readout every multilingual mixture needs (a language at fertility
    2x consumes twice the context window per word, so a char-budgeted
    mixture over-trains it). Map-only HOFs + one grouped aggregate —
    zero shuffles before the k-row lang frame."""
    from datas_spark.functions.text import tokenize

    docs = read_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    subwords = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.floor((F.length(t) + 3) / 4).cast("long"),
    )
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    d = docs.select(
        "lang", words.alias("words"), subwords.alias("subwords")
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("subwords").cast("long").alias("n_subwords"),
        F.round(
            F.sum("subwords").cast("double") / F.sum("words").cast("double"),
            6,
        ).alias("fertility"),
    )


@register(
    "source_content_fingerprint",
    oracle="""
    SELECT source, count(*)::BIGINT AS n_docs,
           sum((('0x' || substr(md5(doc_id::VARCHAR || ':' || md5(text)),
                  1, 15))::BIGINT)::HUGEINT)::VARCHAR AS fingerprint
    FROM documents GROUP BY source
    """,
)
def q_source_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint per source: the sum of
    per-row md5-prefix hashes over (doc_id, md5(text)) — two snapshots
    of a source are byte-identical iff (n_docs, fingerprint) match,
    with NO sort and NO row shipping (the cheap preflight before
    `corpus_snapshot_diff` does row-level work). Addition commutes, so
    the fingerprint is stable under any partitioning/engine; sums run
    as decimal-38 (2^60-bit hashes × millions of rows exceed int64)
    and surface as strings (the driver compare is string-exact)."""
    docs = read_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.md5(F.col("text")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("fingerprint"),
    )


_ZIPF_TOP = 500


@register(
    "vocab_zipf_fit",
    oracle=rf"""
    WITH toks AS (
      SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS t
      FROM documents
    ), vocab AS (
      SELECT t, count(*)::BIGINT AS c FROM toks GROUP BY t
    ), top AS (
      SELECT t, c, row_number() OVER (ORDER BY c DESC, t ASC) AS r
      FROM vocab
      ORDER BY c DESC, t ASC LIMIT {_ZIPF_TOP}
    ), xy AS (
      SELECT list(struct_pack(r := r,
                              x := ln(r::DOUBLE),
                              y := ln(c::DOUBLE)) ORDER BY r) AS pts
      FROM top
    ), s AS (
      SELECT len(pts)::BIGINT AS n,
             list_sum(list_transform(pts, p -> p.x)) AS sx,
             list_sum(list_transform(pts, p -> p.y)) AS sy,
             list_sum(list_transform(pts, p -> p.x * p.x)) AS sxx,
             list_sum(list_transform(pts, p -> p.y * p.y)) AS syy,
             list_sum(list_transform(pts, p -> p.x * p.y)) AS sxy
      FROM xy
    ), fit AS (
      SELECT n,
        (n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx) AS slope,
        (sy - (n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx) * sx)
          / n::DOUBLE AS intercept,
        (n::DOUBLE * sxy - sx * sy) * (n::DOUBLE * sxy - sx * sy)
          / ((n::DOUBLE * sxx - sx * sx) * (n::DOUBLE * syy - sy * sy)) AS r2
      FROM s
    )
    SELECT n AS n_terms, round(slope, 6) AS slope,
           round(intercept, 6) AS intercept, round(r2, 6) AS r2
    FROM fit
    """,
)
def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) over the top-500 terms — natural text
    sits near slope −1 with r² ≈ 0.95+; template/boilerplate-heavy or
    synthetic corpora bend the curve, so the slope is a one-number
    "does this read like language" screen next to the quality scorers.
    (The driver's synthetic corpus measures slope ≈ −0.18, r² ≈ 0.06 —
    a near-uniform generator vocabulary, exactly the non-language
    signature this screen exists to catch.)

    Scale shape: ONE token count aggregate; ranking and the OLS moment
    folds run on the 500-row vocabulary head packed into a single row
    (every float sum in rank order — the ordered-fold discipline)."""
    from datas_spark.functions.text import word_tokens

    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.transform(word_tokens(F.col("text")), lambda w: F.lower(w))
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(_ZIPF_TOP)
    )
    top = vocab.select(
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("t")))
        .alias("r"),
        "c",
    )
    pts = top.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "r",
                    F.log(F.col("r").cast("double")).alias("x"),
                    F.log(F.col("c").cast("double")).alias("y"),
                )
            )
        ).alias("pts")
    )
    def _fold(fn):
        return F.aggregate("pts", F.lit(0.0), lambda a, p: a + fn(p))
    s = pts.select(
        F.size("pts").cast("long").alias("n"),
        _fold(lambda p: p["x"]).alias("sx"),
        _fold(lambda p: p["y"]).alias("sy"),
        _fold(lambda p: p["x"] * p["x"]).alias("sxx"),
        _fold(lambda p: p["y"] * p["y"]).alias("syy"),
        _fold(lambda p: p["x"] * p["y"]).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(
            num * num / (den * (n * F.col("syy") - F.col("sy") * F.col("sy"))),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# round 10: unigram-LM (SentencePiece-style) tokenizer trainer
# (VERDICT r9 #7) — hard-EM over the word-frequency table, every round
# unrolled as MATERIALIZED CTEs (the BPE-chain discipline): per-position
# Viterbi DP as Bellman steps, backtrace as bounded walk steps, integer
# log-prob scores so the argmaxes are engine-exact.
# ---------------------------------------------------------------------------

_UNI_ROUNDS = 2
_UNI_MULTI = 48
_UNI_WLEN = 12
_UNI_PLEN = 4


def _unigram_chain(n_rounds: int, n_multi: int, wlen: int, plen: int) -> str:
    llq = (
        "CAST(round((ln(c::DOUBLE) - ln(t::DOUBLE)) * 1000000.0) AS BIGINT)"
    )
    parts = [
        rf"""words AS MATERIALIZED (
      SELECT word, sum(cnt)::BIGINT AS cnt FROM (
        SELECT substr(word, 1, {wlen}) AS word, cnt FROM (
          SELECT word, count(*)::BIGINT AS cnt FROM (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents
          ) WHERE len(word) > 0 GROUP BY word
        )
      ) GROUP BY word
    ), seed AS MATERIALIZED (
      SELECT substr(w.word, i.i, j.j) AS piece, sum(w.cnt)::BIGINT AS c
      FROM words w
      CROSS JOIN (SELECT unnest(range(1, {wlen + 1}))::INT AS i) i
      CROSS JOIN (SELECT unnest(range(1, {plen + 1}))::INT AS j) j
      WHERE i.i + j.j - 1 <= len(w.word)
      GROUP BY 1
    ), chars0 AS MATERIALIZED (
      SELECT piece, c FROM seed WHERE length(piece) = 1
    ), keep0 AS MATERIALIZED (
      SELECT piece, c FROM chars0
      UNION ALL
      SELECT piece, c FROM (
        SELECT piece, c FROM seed WHERE length(piece) > 1
        ORDER BY c DESC, piece ASC LIMIT {n_multi}
      )
    ), tot0 AS (SELECT sum(c)::BIGINT AS t FROM keep0
    ), v1 AS MATERIALIZED (
      SELECT piece, {llq} AS ll FROM keep0 CROSS JOIN tot0
    )"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""", dp_{r}_0 AS (SELECT word, 0::BIGINT AS s, 0 AS bl FROM words)"""
        )
        for p in range(1, wlen + 1):
            branches = "\n          UNION ALL ".join(
                f"SELECT d.word, d.s + v.ll AS s, {j} AS j "
                f"FROM dp_{r}_{p - j} d JOIN v{r} v "
                f"ON v.piece = substr(d.word, {p - j + 1}, {j}) "
                f"WHERE len(d.word) >= {p}"
                for j in range(1, min(plen, p) + 1)
            )
            parts.append(
                f""", dp_{r}_{p} AS MATERIALIZED (
      SELECT word, s, j AS bl FROM (
        SELECT word, s, j,
               row_number() OVER (PARTITION BY word
                                  ORDER BY s DESC, j DESC) AS rn
        FROM ({branches})
      ) WHERE rn = 1
    )"""
            )
        dpall = "\n        UNION ALL ".join(
            f"SELECT word, {p} AS pos, bl FROM dp_{r}_{p}"
            for p in range(1, wlen + 1)
        )
        parts.append(
            f""", dpall_{r} AS MATERIALIZED (
      {dpall}
    ), bt_{r}_0 AS (SELECT word, cnt, len(word)::INT AS pos FROM words)"""
        )
        for k in range(1, wlen + 1):
            parts.append(
                f""", bt_{r}_{k} AS MATERIALIZED (
      SELECT b.word, b.cnt,
             CASE WHEN b.pos > 0 THEN (b.pos - d.bl)::INT
                  ELSE b.pos END AS pos,
             CASE WHEN b.pos > 0
                  THEN substr(b.word, b.pos - d.bl + 1, d.bl) END AS piece
      FROM bt_{r}_{k - 1} b
      LEFT JOIN dpall_{r} d ON d.word = b.word AND d.pos = b.pos
    )"""
            )
        pieces = "\n        UNION ALL ".join(
            f"SELECT word, cnt, piece FROM bt_{r}_{k} WHERE piece IS NOT NULL"
            for k in range(1, wlen + 1)
        )
        parts.append(
            f""", pieces_{r} AS MATERIALIZED (
      {pieces}
    ), cnts_{r} AS MATERIALIZED (
      SELECT piece, sum(cnt)::BIGINT AS c FROM pieces_{r} GROUP BY piece
    ), keep_{r} AS MATERIALIZED (
      SELECT piece, c FROM cnts_{r} WHERE length(piece) > 1 AND c > 0
      UNION ALL
      SELECT ch.piece, greatest(coalesce(cn.c, 0), 1) AS c
      FROM chars0 ch LEFT JOIN cnts_{r} cn ON cn.piece = ch.piece
    ), tot_{r} AS (SELECT sum(c)::BIGINT AS t FROM keep_{r}
    ), v{r + 1} AS MATERIALIZED (
      SELECT piece, {llq} AS ll FROM keep_{r} CROSS JOIN tot_{r}
    )"""
        )
    return "WITH " + "".join(parts)


_UNIGRAM_ORACLE = (
    _unigram_chain(_UNI_ROUNDS, _UNI_MULTI, _UNI_WLEN, _UNI_PLEN)
    + f"""
    SELECT piece, c AS cnt, round(c::DOUBLE / t::DOUBLE, 9) AS prob
    FROM keep_{_UNI_ROUNDS} CROSS JOIN tot_{_UNI_ROUNDS}
"""
)


@register("unigram_lm_learn", oracle=_UNIGRAM_ORACLE)
def q_unigram_lm_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a unigram-LM piece vocabulary on the corpus
    (`operators/unigram.py`, Kudo 2018 hard-EM): seed substrings →
    2 Viterbi-EM rounds with e6 integer log-probs, per-word DP as ONE
    map-side fold (never a shuffle), pruning + character smoothing —
    the oracle unrolls every DP position, the backtrace, and both
    M-steps. The per-round driver round-trip is the bounded vocab
    table (BPE-merge-table discipline)."""
    from datas_spark.operators.unigram import unigram_lm_learn

    docs = read_table(spark, sf_dir, "documents")
    vocab, _ll, _wp = unigram_lm_learn(
        docs, "text",
        n_rounds=_UNI_ROUNDS, n_multi=_UNI_MULTI,
        max_word_len=_UNI_WLEN, max_piece_len=_UNI_PLEN,
    )
    return vocab


def _seg_agreement_oracle() -> str:
    """Both trainer chains composed: the BPE merge chain (w0..w{n},
    word carried) + the unigram EM chain (backtrace CTEs expose every
    piece's START position = the boundary set), then set-intersection
    boundary accounting. Words of length >= wlen are excluded (the
    unigram truncation contract)."""
    bpe = _bpe_chain(_BPE_N, carry_word=True)
    uni = _unigram_chain(_UNI_ROUNDS, _UNI_MULTI, _UNI_WLEN, _UNI_PLEN)
    assert bpe.startswith("WITH ") and uni.startswith("WITH ")
    bt_union = "\n      UNION ALL ".join(
        f"SELECT word, pos, piece FROM bt_{_UNI_ROUNDS}_{k}"
        for k in range(1, _UNI_WLEN + 1)
    )
    return f"""{bpe},
    {uni[5:]},
    sa_base AS MATERIALIZED (
      SELECT word, cnt, string_split(s, ' ') AS toks
      FROM w{_BPE_N} WHERE len(word) < {_UNI_WLEN}
    ), sa_bb AS MATERIALIZED (
      SELECT word,
             unnest(list_transform(range(1, len(toks)),
               i -> list_sum(list_transform(toks[1:i], t -> length(t)))))::INT
               AS b
      FROM sa_base
    ), sa_ub AS MATERIALIZED (
      SELECT word, pos::INT AS b FROM (
        {bt_union}
      ) WHERE piece IS NOT NULL AND pos > 0
    ), sa_nb AS (SELECT word, count(*)::BIGINT AS nb FROM sa_bb GROUP BY word),
    sa_nu AS (SELECT word, count(*)::BIGINT AS nu FROM sa_ub GROUP BY word),
    sa_i AS (
      SELECT x.word, count(*)::BIGINT AS i
      FROM sa_bb x JOIN sa_ub y ON y.word = x.word AND y.b = x.b
      GROUP BY x.word
    ), sa_per AS MATERIALIZED (
      SELECT s.word, s.cnt, coalesce(nb, 0) AS nb, coalesce(nu, 0) AS nu,
             coalesce(i, 0) AS i
      FROM sa_base s
      LEFT JOIN sa_nb USING (word)
      LEFT JOIN sa_nu USING (word)
      LEFT JOIN sa_i USING (word)
    )
    SELECT count(*)::BIGINT AS n_words,
           sum(cnt)::BIGINT AS total_cnt,
           CASE WHEN sum(cnt * nb) > 0 THEN
             round(sum(cnt * i)::DOUBLE / sum(cnt * nb)::DOUBLE, 6) END + 0.0
             AS boundary_precision,
           CASE WHEN sum(cnt * nu) > 0 THEN
             round(sum(cnt * i)::DOUBLE / sum(cnt * nu)::DOUBLE, 6) END + 0.0
             AS boundary_recall,
           CASE WHEN sum(cnt * nb) + sum(cnt * nu) > 0 THEN
             round(2.0 * sum(cnt * i)::DOUBLE
                   / (sum(cnt * nb) + sum(cnt * nu))::DOUBLE, 6) END + 0.0
             AS boundary_f1,
           round(sum(CASE WHEN nb = i AND nu = i THEN cnt ELSE 0 END)::DOUBLE
                 / sum(cnt)::DOUBLE, 6) AS exact_match_rate
    FROM sa_per
    """


@register("tokenizer_agreement", oracle=_seg_agreement_oracle())
def q_tokenizer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-vs-unigram segmentation agreement
    (`unigram.segmentation_agreement`): both trained vocabularies cut
    every sub-{_UNI_WLEN}-char corpus word; boundary precision /
    recall / micro-F1 and the exact-match rate, corpus-weighted — the
    readout that says whether the two tokenizer families disagree
    enough to matter for packing and fertility. BOTH trainer chains
    plus the boundary set algebra replay in the oracle."""
    from datas_spark.operators.unigram import segmentation_agreement

    docs = read_table(spark, sf_dir, "documents")
    merges = [
        r["pair"]
        for r in BPE.learn_bpe_merges(docs, "text", n_merges=_BPE_N)
        .orderBy("step")
        .collect()
    ]
    return segmentation_agreement(
        docs, "text", merges,
        n_rounds=_UNI_ROUNDS, n_multi=_UNI_MULTI,
        max_word_len=_UNI_WLEN, max_piece_len=_UNI_PLEN,
    )


def _pack_unigram_oracle() -> str:
    return (
        _unigram_chain(_UNI_ROUNDS, _UNI_MULTI, _UNI_WLEN, _UNI_PLEN)
        + rf""",
    pwl AS MATERIALIZED (
      SELECT word, count(*)::BIGINT AS np
      FROM pieces_{_UNI_ROUNDS} GROUP BY word
    ), pdt AS (
      SELECT doc_id, substr(word, 1, {_UNI_WLEN}) AS word FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
        FROM documents
      ) WHERE len(word) > 0
    ), pper AS (
      SELECT d.doc_id, sum(pwl.np)::BIGINT AS nt
      FROM pdt d JOIN pwl USING (word) GROUP BY d.doc_id
    ), pt AS (
      SELECT d.source, d.doc_id, coalesce(p.nt, 0)::BIGINT AS n_tokens
      FROM documents d LEFT JOIN pper p USING (doc_id)
    )
    SELECT source, doc_id, n_tokens,
      ((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - n_tokens) // 500)::BIGINT AS bin
    FROM pt
    """
    )


@register("pack_sequences_unigram", oracle=_pack_unigram_oracle())
def q_pack_sequences_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing budgeted in LEARNED unigram-LM pieces
    (`unigram.pack_sequences_unigram`, VERDICT r10 #7): each doc is
    priced by the final-round Viterbi segmentation of the trained
    vocabulary, then the per-source running-cumsum bin plan — the
    tokenizer-CHOICE readout against `pack_sequences_bpe` on the same
    500-piece budget. The oracle extends the unigram trainer chain
    (every DP cell + both M-steps) with the per-doc word join and the
    packing window."""
    from datas_spark.operators.unigram import pack_sequences_unigram

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences_unigram(
        docs, "doc_id", "text", budget=500, shard_col="source",
        n_rounds=_UNI_ROUNDS, n_multi=_UNI_MULTI,
        max_word_len=_UNI_WLEN, max_piece_len=_UNI_PLEN,
    )


@register(
    "unigram_fertility",
    oracle=_unigram_chain(_UNI_ROUNDS, _UNI_MULTI, _UNI_WLEN, _UNI_PLEN)
    + f""",
    wl AS (
      SELECT word, count(*)::BIGINT AS np
      FROM pieces_{_UNI_ROUNDS} GROUP BY word
    )
    SELECT sum(w.cnt)::BIGINT AS n_words,
           sum(w.cnt * wl.np)::BIGINT AS n_pieces,
           sum(w.cnt * len(w.word))::BIGINT AS n_chars,
           round(sum(w.cnt * wl.np)::DOUBLE / sum(w.cnt)::DOUBLE, 6)
             AS fertility,
           round(sum(w.cnt * len(w.word))::DOUBLE
                 / sum(w.cnt * wl.np)::DOUBLE, 6) AS chars_per_piece
    FROM words w JOIN wl USING (word)
""",
)
def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility of the learned unigram-LM vocabulary (pieces per
    corpus word + chars per piece) — the tokenizer-quality readout to
    compare against `tokenizer_fertility`'s BPE numbers: lower
    fertility = the learned vocab actually shortens YOUR corpus. One
    integer aggregate over the final round's per-word segmentation."""
    from datas_spark.operators.unigram import unigram_lm_learn

    docs = read_table(spark, sf_dir, "documents")
    _vocab, _ll, wp = unigram_lm_learn(
        docs, "text",
        n_rounds=_UNI_ROUNDS, n_multi=_UNI_MULTI,
        max_word_len=_UNI_WLEN, max_piece_len=_UNI_PLEN,
    )
    n_pieces = F.sum(F.col("cnt") * F.col("n_pieces")).cast("long")
    n_chars = F.sum(F.col("cnt") * F.length("word")).cast("long")
    n_words = F.sum("cnt").cast("long")
    return wp.agg(
        n_words.alias("n_words"),
        n_pieces.alias("n_pieces"),
        n_chars.alias("n_chars"),
        F.round(
            n_pieces.cast("double") / n_words.cast("double"), 6
        ).alias("fertility"),
        F.round(
            n_chars.cast("double") / n_pieces.cast("double"), 6
        ).alias("chars_per_piece"),
    )


# ---------------------------------------------------------------------------
# round 10: Self-Instruct ROUGE-L novelty gate (operators/rougel.py) —
# the LCS rolling-row DP unrolled as chained CTE steps; within each
# step the row builds left-to-right via DuckDB lateral column aliases
# (n{j} references n{j-1} in the same SELECT), then renames n->c for
# the next step.
# ---------------------------------------------------------------------------

_RL_TOKENS = 12
_RL_THR = 0.7
_RL_POOL = 50  # pool = doc_id < 50 (fixed size at every sf)


def _rouge_l_oracle() -> str:
    w = _RL_TOKENS

    def cells(i: int) -> str:
        outs = ["0 AS n0"]
        for j in range(1, w + 1):
            outs.append(
                f"CASE WHEN {i} > la THEN c{j} "
                f"ELSE CASE WHEN a[{i}] = b[{j}] THEN c{j - 1} + 1 "
                f"ELSE greatest(c{j}, n{j - 1}) END END AS n{j}"
            )
        return ",\n          ".join(outs)

    renames = ", ".join(f"n{j} AS c{j}" for j in range(0, w + 1))
    zeros = ", ".join(f"0 AS c{j}" for j in range(0, w + 1))
    steps = []
    for i in range(1, w + 1):
        steps.append(
            f""", lr_p{i} AS MATERIALIZED (
      SELECT cand_id, la, lb, a, b, {renames} FROM (
        SELECT cand_id, la, lb, a, b,
          {cells(i)}
        FROM lr_p{i - 1}
      )
    )"""
        )
    clist = "[" + ", ".join(f"c{j}" for j in range(0, w + 1)) + "]"
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(list_transform(
               string_split_regex(trim(text), '\\s+'), x -> lower(x)),
               x -> length(x) > 0)[1:{w}] AS t
      FROM documents
    ), pool AS (
      SELECT t AS b, len(t)::INT AS lb FROM toks WHERE doc_id < {_RL_POOL}
    ), cands AS (
      SELECT doc_id AS cand_id, t AS a, len(t)::INT AS la
      FROM toks WHERE doc_id % 7 = 3 AND doc_id >= {_RL_POOL}
    ), lr_p0 AS (
      SELECT c.cand_id, c.la, p.lb, c.a, p.b, {zeros}
      FROM cands c CROSS JOIN pool p
    ){''.join(steps)}, scored AS (
      SELECT cand_id,
             CASE WHEN la > 0 AND lb > 0
                  THEN 2.0 * ({clist}[lb + 1])::DOUBLE / (la + lb)
                  ELSE 0.0 END AS f
      FROM lr_p{w}
    ), agg AS (
      SELECT cand_id, coalesce(max(f), 0.0) AS mx FROM scored GROUP BY cand_id
    )
    SELECT cand_id AS doc_id, round(mx, 6) AS max_rouge_l,
           (round(mx, 6) < {_RL_THR}) AS keep
    FROM agg
    """


@register("rougeL_novel_instructions", oracle=_rouge_l_oracle())
def q_rougeL_novel_instructions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-Instruct admission gate (`rougel.rouge_l_novelty`, Wang
    et al. 2022): each candidate instruction scores its max ROUGE-L F
    (= 2·LCS/(|c|+|r|)) against the fixed 50-doc pool and keeps only
    below 0.7 — LCS as an all-integer rolling-row DP folded map-side
    against the ONE packed broadcast pool row; the oracle unrolls
    every DP cell. Token budget 12 per side (the documented bound
    that keeps the DP finite)."""
    from datas_spark.operators.rougel import rouge_l_novelty

    docs = read_table(spark, sf_dir, "documents")
    pool = docs.where(F.col("doc_id") < _RL_POOL)
    cands = docs.where(
        (F.col("doc_id") % 7 == 3) & (F.col("doc_id") >= _RL_POOL)
    )
    return rouge_l_novelty(
        cands, pool, "doc_id", "text",
        max_tokens=_RL_TOKENS, threshold=_RL_THR,
    )
