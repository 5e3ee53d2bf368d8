"""Corpus curation recipes: normalization, PII, quality/format gates, Gopher rules, fate audits, governance rollups.

Consolidated from the former numeric registry batches 5, 6, 7, 13, 36, 42, 47, 56, 60 (round-5 cleanup; query
names unchanged). Each section below keeps its original batch
docstring for provenance."""
from __future__ import annotations

# ==================================================================
# former registry5.py
# ==================================================================

r"""Query registry, batch 5 (round 2): corpus-level curation operators —
decontamination, stratified sampling, per-source quota caps, TF-IDF,
sequence packing (``operators/corpus.py``).

Imported by datas_spark.registry for its side effects (registrations).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.registry_core import register

# DuckDB twin of the whitespace 3-gram shingling used across the dedup
# family (tokens[i:i+2] is an INCLUSIVE DuckDB slice = 3 tokens)
_SHINGLES_CTE = r"""
    sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
          i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')))
          AS grams
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(grams) AS g FROM sh
    )
"""


@register(
    "ngram_contamination",
    oracle=f"""
    WITH {_SHINGLES_CTE}, bench AS (
      SELECT DISTINCT g FROM ex WHERE doc_id < 20
    ), cnt AS (
      SELECT e.doc_id, count(DISTINCT e.g) AS shared_ngrams
      FROM ex e JOIN bench b ON e.g = b.g
      GROUP BY e.doc_id
    )
    SELECT d.doc_id,
           coalesce(c.shared_ngrams, 0) AS shared_ngrams,
           CASE WHEN coalesce(c.shared_ngrams, 0) >= 5 THEN 1 ELSE 0 END
             AS contaminated
    FROM documents d LEFT JOIN cnt c USING (doc_id)
    """,
)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: count distinct 3-gram shingles each
    corpus doc shares with the benchmark slice (doc_id < 20 stands in
    for an eval suite), flag >= 5 shared. Benchmark shingle set is
    broadcast — the corpus side never shuffles text."""
    docs = read_table(spark, sf_dir, "documents")
    return C.ngram_contamination(
        docs, docs.where("doc_id < 20"), "doc_id", "text", n=3, min_shared=5
    )


@register(
    "stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS m
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= ceil(m * 0.1)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample per language: md5-hash order
    (seed-free, layout-independent), ceil guarantees >= 1 row per
    stratum — the tail-language guarantee plain sample() loses."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return C.stratified_sample(docs, "lang", "doc_id", 0.1)


@register(
    "source_quota_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      FROM documents
    ) WHERE rk <= 15
    """,
)
def q_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap every source at its first 15 docs so no
    single crawl dominates the mixture."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return C.source_quota_cap(docs, "source", "doc_id", 15)


@register(
    "tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS t
      FROM documents
    ), tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks WHERE t != '' GROUP BY doc_id, t
    ), dfq AS (
      SELECT t, count(*) AS dfc FROM tf GROUP BY t
    ), n AS (
      SELECT count(DISTINCT doc_id) AS nd FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.t, tf.tf,
             tf.tf * ln(n.nd::DOUBLE / dfq.dfc) AS tfidf_raw
      FROM tf JOIN dfq USING (t) CROSS JOIN n
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_raw DESC, t ASC) AS rank
      FROM scored
    )
    SELECT doc_id, t AS term, tf, round(tfidf_raw, 6) AS tfidf, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 terms by TF-IDF (tf * ln(N/df), textbook raw-count
    form). Two reused aggregations + a term-key join; the rank window
    sees only each doc's own distinct terms."""
    docs = read_table(spark, sf_dir, "documents")
    return C.tfidf_top_terms(docs, "doc_id", "text", k=5)


@register(
    "pack_sequences",
    oracle=r"""
    WITH t AS (
      SELECT source, doc_id,
        len(list_filter(
          string_split_regex(trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')), '\s+'),
          t -> t != ''))::BIGINT AS n_tokens
      FROM documents
    )
    SELECT source, doc_id, n_tokens,
      ((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - n_tokens) // 500)::BIGINT AS bin
    FROM t
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: per-source running token cumsum -> 500-token
    bin index (contiguous greedy fill; a straddling doc stays in the
    bin it started). Shards pack in parallel — the sequential part is
    bounded by one source's token mass."""
    docs = read_table(spark, sf_dir, "documents")
    return C.pack_sequences(docs, "doc_id", "text", budget=500, shard_col="source")


_MD5_UNIT_SQL = "(('0x' || substr(md5({key}), 1, 8))::BIGINT / 4294967296.0)"


@register(
    "hash_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_MD5_UNIT_SQL.format(key="doc_id::VARCHAR")} < 0.9
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split by md5(doc_id) — map-only,
    layout-independent (randomSplit is not), engine-portable."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return C.hash_split(docs, "doc_id")


@register(
    "group_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {_MD5_UNIT_SQL.format(key="lang")} < 0.8
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split: the GROUP key (lang here; a dedup component
    label in production) decides the split, so related rows never
    straddle the train/test boundary."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return C.group_split(docs, "lang", {"train": 0.8, "test": 0.2})


@register(
    "repetition_stats",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), b AS (
      SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS ndt,
        list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                       i -> toks[i] || ' ' || toks[i + 1]) AS bg
      FROM t
    ), e AS (
      SELECT doc_id, unnest(bg) AS g FROM b
    ), c AS (
      SELECT doc_id, max(cnt) AS mx FROM (
        SELECT doc_id, g, count(*) AS cnt FROM e GROUP BY doc_id, g
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
      round(CASE WHEN nt > 0 THEN 1 - ndt::DOUBLE / nt ELSE 0 END, 6)
        AS dup_token_frac,
      round(CASE WHEN len(bg) > 0 THEN coalesce(mx, 0)::DOUBLE / len(bg)
                 ELSE 0 END, 6) AS top_bigram_frac
    FROM b LEFT JOIN c USING (doc_id)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality stats, fully map-side: the
    top-bigram count is the longest equal run in the SORTED bigram-hash
    array (one aggregate fold) — the oracle proves parity with the
    unnest+groupBy formulation."""
    docs = read_table(spark, sf_dir, "documents")
    return C.repetition_stats(docs, "doc_id", "text")


@register(
    "events_enriched",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           sum(e.value::DECIMAL(18,6)) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment's batch twin: events left-join a small
    customer dimension (broadcast) then aggregate per market segment.
    Decimal sums keep the oracle exact (double sums are
    order-dependent). The identical plan runs per-micro-batch in
    streaming via streaming.scoring.enrich_stream."""
    from datas_spark.streaming.scoring import enrich_stream

    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        enrich_stream(ev, cust, "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
    )


@register(
    "temperature_sample",
    oracle=f"""
    WITH c AS (
      SELECT lang, count(*) AS nd FROM documents GROUP BY lang
    ), t AS (
      SELECT *, sum(nd) OVER () AS total FROM c
    ), w AS (
      SELECT *, pow(nd::DOUBLE / total, 1.0 / 2.0) AS wgt FROM t
    ), r AS (
      SELECT lang,
             least(1.0, (total * (wgt / sum(wgt) OVER ())) / nd) AS rate
      FROM w
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
    WHERE {_MD5_UNIT_SQL.format(key="d.doc_id::VARCHAR")} < r.rate
    """,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture rebalancing at tau=2: the dominant language
    (en, ~44% of docs) is downsampled toward the flattened share while
    rare languages keep all rows (rate capped at 1) — deterministic
    md5 row selection, corpus touched once, never shuffled."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return C.temperature_sample(docs, "lang", "doc_id", temperature=2.0)


@register(
    "events_props_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(json_extract(props, '$.k')::INT) AS sum_k,
           max(json_extract(props, '$.k')::INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column extraction: parse the props JSON with an
    EXPLICIT schema via from_json (typed, codegen'd, no sampling
    inference pass over 100 TB) and aggregate the extracted field per
    event type. Integer sums keep the oracle exact."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.withColumn("__p", F.from_json("props", "k int"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__p.k")).alias("sum_k"),
        F.max(F.col("__p.k")).alias("max_k"),
    )


def _dedup_safe_split_oracle() -> str:
    from datas_spark.oracle_shared import (
        NEAR_DEDUP_RESOLVE_ORACLE as _NEAR_DEDUP_RESOLVE_ORACLE,
    )

    unit = _MD5_UNIT_SQL.format(key="component::VARCHAR")
    return f"""
    WITH resolved AS (
      {_NEAR_DEDUP_RESOLVE_ORACLE}
    )
    SELECT doc_id, component,
           CASE WHEN {unit} < 0.8 THEN 'train' ELSE 'test' END AS split
    FROM resolved
    """


@register("dedup_safe_split", oracle=_dedup_safe_split_oracle())
def q_dedup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage-safe pipeline end-to-end: n-gram Jaccard pairs →
    connected components → split decided by the COMPONENT label, so a
    near-duplicate cluster can never straddle the train/test boundary.
    Composes three operator families in one lazy plan, same oracle
    recursion as near_dedup_resolve plus the md5 split."""
    from datas_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    resolved = D.near_dedup_keep_first(docs, "doc_id", pairs)
    return C.group_split(
        resolved.select("doc_id", "component"), "component", {"train": 0.8, "test": 0.2}
    )


@register(
    "event_funnel",
    oracle="""
    WITH clicks AS (
      SELECT user_id, min(ts) AS first_click FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), conv AS (
      SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN clicks c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
      GROUP BY e.user_id
    )
    SELECT c.user_id,
           CASE WHEN v.first_purchase IS NOT NULL THEN 1 ELSE 0 END AS converted,
           date_diff('second', c.first_click, v.first_purchase)::BIGINT
             AS secs_to_convert
    FROM clicks c LEFT JOIN conv v USING (user_id)
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, first click -> first purchase at or
    after it. Two keyed aggregations and a broadcast-size join on
    user_id — no per-user window sort over the raw event stream."""
    ev = read_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return clicks.join(conv, "user_id", "left").select(
        "user_id",
        F.col("first_purchase").isNotNull().cast("int").alias("converted"),
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_click")
        ).alias("secs_to_convert"),
    )


@register(
    "ngram_lm_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    ), cbg AS (
      SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ), cctx AS (
      SELECT w1, sum(c) AS cc FROM cbg GROUP BY w1
    ), p AS (
      SELECT cbg.w1, cbg.w2, ln(cbg.c::DOUBLE / cctx.cc) AS lp
      FROM cbg JOIN cctx USING (w1)
    ), s AS (
      SELECT bg.doc_id, count(*) AS n_bigrams, round(-avg(p.lp), 6) AS nll
      FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.nll
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram LM negative log-likelihood per doc (the
    CCNet/KenLM-style quality signal): one training aggregate over
    8-byte bigram hash keys, one scoring join, per-doc average."""
    docs = read_table(spark, sf_dir, "documents")
    return C.ngram_lm_score(docs, "doc_id", "text")


@register(
    "near_dedup_keep_best",
    oracle=r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
          i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')))
          AS grams
      FROM documents
    ), ex AS (
      SELECT doc_id, len(grams) AS n, unnest(grams) AS s FROM sh
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
      HAVING shared / (na + nb - shared) >= 0.2
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(comp.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
    ), best AS (
      SELECT component, doc_id AS keep_id,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM labeled
    )
    SELECT l.doc_id, l.component,
           CASE WHEN b.keep_id = l.doc_id THEN 1 ELSE 0 END AS is_representative
    FROM labeled l JOIN best b ON l.component = b.component AND b.rn = 1
    """,
)
def q_near_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEITA-style survivor election: among near-duplicates keep the
    HIGHEST-scored doc (n_chars as the score here; any scorer column
    works), not the first — min_by over a negated-score struct, one
    map-side-combinable aggregate per component, no per-component sort
    window."""
    from datas_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return D.near_dedup_keep_best(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", pairs
    ).select("doc_id", "component", "is_representative")


@register(
    "expect_documents",
    oracle="""
    WITH t AS (SELECT count(*) AS total FROM documents)
    SELECT 'text_not_null' AS rule,
           (SELECT count(*) FROM documents
            WHERE NOT coalesce(text IS NOT NULL, false)) AS violations,
           t.total, CASE WHEN (SELECT count(*) FROM documents
            WHERE NOT coalesce(text IS NOT NULL, false)) = 0
            THEN 1 ELSE 0 END AS pass FROM t
    UNION ALL
    SELECT 'n_chars_positive',
           (SELECT count(*) FROM documents
            WHERE NOT coalesce(n_chars > 0, false)), t.total,
           CASE WHEN (SELECT count(*) FROM documents
            WHERE NOT coalesce(n_chars > 0, false)) = 0
            THEN 1 ELSE 0 END FROM t
    UNION ALL
    SELECT 'n_chars_matches_text',
           (SELECT count(*) FROM documents
            WHERE NOT coalesce(length(text) = n_chars, false)), t.total,
           CASE WHEN (SELECT count(*) FROM documents
            WHERE NOT coalesce(length(text) = n_chars, false)) = 0
            THEN 1 ELSE 0 END FROM t
    UNION ALL
    SELECT 'doc_id_unique',
           t.total - (SELECT count(DISTINCT doc_id) FROM documents), t.total,
           CASE WHEN t.total = (SELECT count(DISTINCT doc_id) FROM documents)
            THEN 1 ELSE 0 END FROM t
    """,
)
def q_expect_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative content-quality gate over documents: 4 named rules
    evaluated in ONE aggregate over one scan (plus a distinct-count
    for the uniqueness rule) — the validation stage a pipeline runs
    before anything expensive."""
    from datas_spark.operators.validate import expect

    docs = read_table(spark, sf_dir, "documents")
    base = expect(
        docs,
        {
            "text_not_null": F.col("text").isNotNull(),
            "n_chars_positive": F.col("n_chars") > 0,
            "n_chars_matches_text": F.length("text") == F.col("n_chars"),
        },
    )
    uniq = docs.agg(
        (F.count(F.lit(1)) - F.count_distinct("doc_id")).alias("violations"),
        F.count(F.lit(1)).alias("total"),
    ).select(
        F.lit("doc_id_unique").alias("rule"),
        "violations",
        "total",
        (F.col("violations") == 0).cast("int").alias("pass"),
    )
    return base.unionByName(uniq)


@register(
    "vocab_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS t
      FROM documents
    ), c AS (
      SELECT t, count(*) AS n FROM toks WHERE t != '' GROUP BY t
    )
    SELECT t AS term, n FROM c ORDER BY n DESC, t ASC LIMIT 50
    """,
)
def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary head: top-50 tokens by corpus frequency — one
    explode, one count aggregate, TakeOrdered for the limit (no full
    sort of the vocabulary)."""
    from datas_spark.functions.text import word_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode_outer(word_tokens("text")).alias("__t"))
        .where(F.col("__t").isNotNull() & (F.col("__t") != ""))
        .select(F.lower("__t").alias("term"))
    )
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(50)
    )


@register(
    "corpus_profile",
    oracle=r"""
    SELECT lang,
           count(*) AS n_docs,
           sum(n_chars) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (the table-stats pass a pipeline runs
    first): counts, char totals/extremes, source cardinality — one
    aggregate, integer sums exact, avg rounded at the oracle boundary."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count_distinct("source").alias("n_sources"),
    )


# The composed curation-recipe oracle: every stage's already-proven CTE
# chained in the SAME order the Spark plan runs them — repetition filter
# (rounded fractions), exact dedup among repetition survivors,
# decontamination of dedup survivors vs the RAW doc_id<20 slice,
# temperature rates computed over the POST-contamination counts, split
# hash last. A wiring bug between stages (wrong input frame, stage
# order, filter polarity) now hash-mismatches instead of hiding.
_NORM_SQL = (
    r"trim(regexp_replace(regexp_replace(lower({t}), '[^\w\s]', '', 'g'),"
    r" '\s+', ' ', 'g'))"
)

_CURATE_CTES = rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), b AS (
      SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS ndt,
        list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                       i -> toks[i] || ' ' || toks[i + 1]) AS bg
      FROM t
    ), e AS (
      SELECT doc_id, unnest(bg) AS g FROM b
    ), c AS (
      SELECT doc_id, max(cnt) AS mx FROM (
        SELECT doc_id, g, count(*) AS cnt FROM e GROUP BY doc_id, g
      ) GROUP BY doc_id
    ), rep AS (
      SELECT b.doc_id,
        round(CASE WHEN nt > 0 THEN 1 - ndt::DOUBLE / nt ELSE 0 END, 6)
          AS dup_token_frac,
        round(CASE WHEN len(bg) > 0 THEN coalesce(mx, 0)::DOUBLE / len(bg)
                   ELSE 0 END, 6) AS top_bigram_frac
      FROM b LEFT JOIN c USING (doc_id)
    ), rep_keep AS (
      SELECT doc_id FROM rep
      WHERE dup_token_frac <= 0.9 AND top_bigram_frac <= 0.9
    ), ded AS (
      SELECT doc_id FROM (
        SELECT d.doc_id, row_number() OVER (
          PARTITION BY md5({_NORM_SQL.format(t='d.text')})
          ORDER BY d.doc_id) AS rn
        FROM documents d JOIN rep_keep USING (doc_id)
      ) WHERE rn = 1
    ), {_SHINGLES_CTE.strip()}, bench AS (
      SELECT DISTINCT g FROM ex WHERE doc_id < 20
    ), cont AS (
      SELECT e.doc_id, count(DISTINCT e.g) AS shared
      FROM ex e JOIN ded USING (doc_id) JOIN bench bn ON e.g = bn.g
      GROUP BY e.doc_id
    ), clean AS (
      SELECT d.doc_id FROM ded d LEFT JOIN cont USING (doc_id)
      WHERE coalesce(shared, 0) < 5
    ), sv AS (
      SELECT c.doc_id, d.lang FROM clean c JOIN documents d USING (doc_id)
    ), cnt AS (
      SELECT lang, count(*) AS nd FROM sv GROUP BY lang
    ), tt AS (
      SELECT *, sum(nd) OVER () AS total FROM cnt
    ), w AS (
      SELECT *, pow(nd::DOUBLE / total, 1.0 / 2.0) AS wgt FROM tt
    ), r AS (
      SELECT lang, least(1.0, (total * (wgt / sum(wgt) OVER ())) / nd) AS rate
      FROM w
    )"""

# the final stage as a standalone SELECT so other oracles (the audit
# query in registry_curation) can re-wrap it as a CTE
_CURATE_FINAL_SQL = f"""
    SELECT s.doc_id, s.lang,
           CASE WHEN {_MD5_UNIT_SQL.format(key="s.doc_id::VARCHAR")} < 0.9
                THEN 'train' ELSE 'test' END AS split
    FROM sv s JOIN r USING (lang)
    WHERE {_MD5_UNIT_SQL.format(key="s.doc_id::VARCHAR")} < r.rate
"""

_CURATE_ORACLE = _CURATE_CTES + _CURATE_FINAL_SQL


# round 11 (VERDICT r10 #3): the semantic-dedup stage in the recipe —
# exact dedup -> SemDeDup over the survivors' embeddings with auto-k
# Lloyd (k grows with the surviving corpus INSIDE the plan), capped
# (cluster, bucket) pairs, CC, least-typical keeper.
_CSEM_THR, _CSEM_ROUNDS, _CSEM_PLANES, _CSEM_CAP = 0.35, 2, 4, 64


def _curate_semantic_ctes() -> str:
    from datas_spark.oracle_shared import semdedup_cte_sql

    sem = semdedup_cte_sql(
        "sde", "vec_id", "auto", _CSEM_ROUNDS, _CSEM_THR, _CSEM_PLANES,
        _CSEM_CAP, dim=64, prefix="cs",
    )
    return f"""ded AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT d.doc_id, row_number() OVER (
          PARTITION BY md5({_NORM_SQL.format(t='d.text')})
          ORDER BY d.doc_id) AS rn
        FROM documents d) WHERE rn = 1
    ), sde AS MATERIALIZED (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN ded ON ded.doc_id = e.vec_id
    ), {sem}, sem_drop AS (
      SELECT id FROM cs_lab WHERE NOT keep
    )"""


@register(
    "curate_corpus_semantic",
    oracle=f"""
    WITH RECURSIVE {_curate_semantic_ctes()}
    SELECT d.doc_id FROM ded d
    LEFT JOIN sem_drop dr ON dr.id = d.doc_id
    WHERE dr.id IS NULL
    """,
)
def q_curate_corpus_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation recipe with the SEMANTIC dedup stage (VERDICT r10
    #3): exact dedup, then SemDeDup over the survivors that have an
    embedding — auto-k Lloyd clusters (k = clamp(ceil(sqrt(N/256)),
    2, 64) from one count of the points, so the SAME recipe config scales
    from sf0.001 to 100 TB without retuning), capped LSH-bucketed
    pairs at cosine >= 0.35, CC groups, least-centroid-typical
    keepers; docs without an embedding pass through. The stage CTE
    oracle replays the composition — stage wiring, the survivor join,
    the auto-k Lloyd, the election — end to end."""
    from datas_spark.pipeline.curate import curate_corpus

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    out = curate_corpus(
        docs,
        max_dup_token_frac=1.0,
        max_top_bigram_frac=1.0,
        semantic_threshold=_CSEM_THR,
        semantic_embeddings=emb,
        semantic_rounds=_CSEM_ROUNDS,
        semantic_planes=_CSEM_PLANES,
        semantic_max_bucket_side=_CSEM_CAP,
        semantic_dim=64,
    )
    return out.select("doc_id")


@register(
    "curate_audit_semantic",
    oracle=f"""
    WITH RECURSIVE {_curate_semantic_ctes()}
    SELECT d.doc_id,
      CASE WHEN de.doc_id IS NULL THEN 'exact_duplicate'
           WHEN dr.id IS NOT NULL THEN 'semantic_duplicate'
           ELSE 'kept' END AS status
    FROM documents d
    LEFT JOIN ded de USING (doc_id)
    LEFT JOIN sem_drop dr ON dr.id = d.doc_id
    """,
)
def q_curate_audit_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fate of the semantic recipe (same config as
    `curate_corpus_semantic`): 'exact_duplicate', the new
    'semantic_duplicate' status, or 'kept' — the fate-audit row for
    the round-11 stage, read from the recipe's OWN lazy stage frames
    so it cannot drift from the real pipeline."""
    from datas_spark.pipeline.curate import curate_audit

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    return curate_audit(
        docs,
        max_dup_token_frac=1.0,
        max_top_bigram_frac=1.0,
        semantic_threshold=_CSEM_THR,
        semantic_embeddings=emb,
        semantic_rounds=_CSEM_ROUNDS,
        semantic_planes=_CSEM_PLANES,
        semantic_max_bucket_side=_CSEM_CAP,
        semantic_dim=64,
    )


@register("curate_corpus", oracle=_CURATE_ORACLE)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation recipe in one lazy plan: repetition filter ->
    exact dedup -> decontamination vs the doc_id<20 slice ->
    temperature rebalancing by lang -> deterministic split. The oracle
    is the stage CTEs composed in the identical order, so the
    COMPOSITION (stage wiring, input frames, filter polarity) is
    hash-checked, not just the pieces."""
    from datas_spark.pipeline.curate import curate_corpus

    docs = read_table(spark, sf_dir, "documents")
    out = curate_corpus(
        docs,
        benchmark=docs.where("doc_id < 20"),
        domain_col="lang",
        max_dup_token_frac=0.9,
        max_top_bigram_frac=0.9,
        temperature=2.0,
        split_weights={"train": 0.9, "test": 0.1},
    )
    return out.select("doc_id", "lang", "split")

# ==================================================================
# former registry6.py
# ==================================================================

r"""Query registry, batch 6 (round 2): paragraph-level exact dedup,
weighted sampling without replacement, and sliding-window document
chunking (``operators/dedup.paragraph_dedup``, ``operators/corpus``).

Imported by datas_spark.registry for its side effects (registrations).
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.operators import dedup as D
from datas_spark.registry_core import register

# The driver corpus has no newlines, so the registered query splits on a
# literal token delimiter to exercise the same plan a '\n+'-delimited web
# corpus would run. Short segments repeat heavily in the synthetic
# vocabulary, so the election genuinely fires.
_PARA_DELIM = " table "


@register(
    "paragraph_dedup",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, string_split_regex(text, '{_PARA_DELIM}') AS parts
      FROM documents
    ), p0 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(parts) + 1),
          i -> {{'pos': i - 1, 'para': trim(parts[i])}})) AS u
      FROM s
    ), p AS (
      SELECT doc_id, u.pos AS pos, u.para AS para FROM p0
    ), e AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM p WHERE length(para) >= 1
    ), kept AS (
      SELECT doc_id, pos, para FROM p WHERE length(para) < 1
      UNION ALL
      SELECT doc_id, pos, para FROM e WHERE rn = 1
    ), agg AS (
      SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, count(*) AS total FROM p GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.text_dedup, '') AS text_dedup,
           coalesce(a.n_kept, 0)::BIGINT AS n_kept,
           (t.total - coalesce(a.n_kept, 0))::BIGINT AS n_dropped
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-wide paragraph dedup: each distinct
    segment survives only at its globally-first (doc_id, position)
    occurrence; documents are reassembled from their surviving
    segments. The election is a min(struct) groupBy on md5(segment) —
    map-side combinable, no window over a hot segment's occurrences."""
    docs = read_table(spark, sf_dir, "documents")
    return D.paragraph_dedup(docs, "doc_id", "text", delimiter=_PARA_DELIM)


@register(
    "weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE n_chars > 0
    ORDER BY pow({_MD5_UNIT_SQL.format(key="doc_id::VARCHAR")},
                 1.0 / n_chars) DESC, doc_id ASC
    LIMIT 50
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement, k=50
    weighted by document length: key = u^(1/w) with the deterministic
    md5 uniform, global top-k via TakeOrderedAndProject (each task
    ships only its local k candidates — no full sort)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return C.weighted_sample(docs, "doc_id", "n_chars", k=50)


@register(
    "chunk_documents",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), s AS (
      -- starts cap at n - overlap - 1 (= len - 9): a later start's chunk
      -- would be fully contained in the previous chunk's span
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 9, 0) + 1, 24)) AS start
      FROM t
    )
    SELECT doc_id,
           (start / 24)::BIGINT AS chunk_id,
           len(toks[start + 1 : start + 32])::BIGINT AS n_tokens,
           array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
    FROM s
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token chunks, 8-token overlap →
    starts every 24): map-only, no shuffle; every token lands in at
    least one chunk, tail chunks may be short but never fully
    duplicate the previous chunk's span."""
    docs = read_table(spark, sf_dir, "documents")
    return C.chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)


# Deterministic fake PII appended to the synthetic corpus (which contains
# none) so the detection/redaction patterns genuinely fire — the SAME
# expression runs on both engines.
_AUG_SQL = """
      SELECT doc_id,
        text ||
        CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0
             THEN ' call 555-123-4567 or ping 10.0.' || (doc_id % 256) || '.1'
             ELSE '' END AS text
      FROM documents
"""


def _augment_pii(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" call 555-123-4567 or ping 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_EMAIL, _PHONE, _IP = (
    C.PII_PATTERNS["email"],
    C.PII_PATTERNS["phone"],
    C.PII_PATTERNS["ip"],
)


@register(
    "pii_stats",
    oracle=f"""
    WITH aug AS ({_AUG_SQL})
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL}'))::BIGINT AS n_email,
           len(regexp_extract_all(text, '{_PHONE}'))::BIGINT AS n_phone,
           len(regexp_extract_all(text, '{_IP}'))::BIGINT AS n_ip,
           CASE WHEN len(regexp_extract_all(text, '{_EMAIL}')) > 0
                  OR len(regexp_extract_all(text, '{_PHONE}')) > 0
                  OR len(regexp_extract_all(text, '{_IP}')) > 0
                THEN 1 ELSE 0 END AS has_pii
    FROM aug
    """,
)
def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection counts over the corpus (with deterministic fake
    PII mixed in, since the synthetic corpus contains none): map-only
    regexp_count expressions, RE2-safe patterns shared with the
    oracle."""
    docs = read_table(spark, sf_dir, "documents")
    return C.pii_stats(_augment_pii(docs), "doc_id", "text").select(
        "doc_id", "n_email", "n_phone", "n_ip", "has_pii"
    )


@register(
    "pii_redact",
    oracle=f"""
    WITH aug AS ({_AUG_SQL})
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
               '{_PHONE}', '<PHONE>', 'g'),
             '{_IP}', '<IP>', 'g') AS text_redacted
    FROM aug
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: chained global regexp_replace to typed
    placeholders, email → phone → ip order on both engines."""
    docs = read_table(spark, sf_dir, "documents")
    return C.pii_redact(_augment_pii(docs), "text").select("doc_id", "text_redacted")


_BOW_WEIGHTS = [
    ("spark", 2.0),
    ("fast", 1.5),
    ("merge", 0.7),
    ("value", 0.3),
    ("table", -0.2),
    ("slow", -1.5),
]


@register(
    "bow_quality_score",
    oracle=r"""
    WITH w(term, weight) AS (VALUES """
    + ", ".join(f"('{t}', {v})" for t, v in _BOW_WEIGHTS)
    + r"""),
    t AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ), s AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(coalesce(w.weight, 0)) AS wsum
      FROM t LEFT JOIN w ON t.tok = w.term
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           round(1.0 / (1.0 + exp(-(wsum / n_tokens))), 6) AS quality_prob
    FROM s
    """,
)
def q_bow_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear BoW quality classifier: tiny broadcast
    weight table (the model), map-side join against exploded tokens,
    one combinable per-doc aggregation, sigmoid of the mean token
    weight."""
    docs = read_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(_BOW_WEIGHTS, "term string, weight double")
    return C.bow_classifier_score(docs, "doc_id", "text", weights)


# ---------------------------------------------------------------------------
# round 6: distributed quality-classifier training (VERDICT r5 #6) —
# the CCNet/RedPajama loop: train the linear quality model ON the
# corpus (MLlib LogisticRegression over md5-hashed BoW features, the
# heuristic quality score as the teacher label), then score through
# the same broadcast-join inference path.
# ---------------------------------------------------------------------------

_QCLF_FEATURES = 256


@register("quality_classifier_train")  # rows-only: an LBFGS fit is not SQL
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier on the corpus: teacher label =
    heuristic ``quality_score >= 0.5``, features = md5-hashed BoW
    buckets ({_QCLF_FEATURES}), fit = distributed MLlib
    LogisticRegression (LBFGS treeAggregate — only the coefficient
    vector reaches the driver). Output is the broadcastable
    ``(feature, weight)`` model table (+1 intercept row) that
    `hashed_bow_score` consumes. Rows-only by design (like KMeans /
    k-center); separability, reproducibility, and the end-to-end
    train→score loop are pytest-locked invariants."""
    from datas_spark.functions.text import quality_score

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (quality_score("text") >= 0.5).cast("double").alias("__lbl")
    )
    return C.quality_classifier_train(
        docs, "doc_id", "text", "__lbl", num_features=_QCLF_FEATURES
    )


# round 11: the deterministic GD twin (VERDICT r10 #1) — the one
# rows-only query that was neither a library twin nor random-by-design
# leaves the list: every GD step replays in the oracle.
_QEX_F, _QEX_STEPS, _QEX_LRN, _QEX_LRD = 64, 3, 1, 2

_QS_LABEL_SQL = r"""
  (round((least(length(text) / 500.0, 1.0)
    + least((CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
           THEN len(list_filter(string_split_regex(trim(text), '\s+'),
                    t -> lower(t) IN
                    ('the','and','of','to','a','in','is','it')))::DOUBLE
                / len(string_split_regex(trim(text), '\s+'))
           ELSE 0.0 END) * 4.0, 1.0)
    + 1.0 - least((CASE WHEN length(text) > 0
           THEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                / length(text)
           ELSE 0.0 END) * 5.0, 1.0)) / 3.0, 6) >= 0.5)
"""


def _qclf_exact_oracle() -> str:
    from datas_spark.oracle_shared import logreg_cte_sql

    ctes = logreg_cte_sql(
        "documents", "doc_id", "text", _QS_LABEL_SQL,
        _QEX_F, _QEX_STEPS, _QEX_LRN, _QEX_LRD, prefix="qx",
    )
    return f"""
    WITH {ctes}
    SELECT feature::INT AS feature, weight FROM qx_model
    """


@register("quality_classifier_train_exact", oracle=_qclf_exact_oracle())
def q_quality_classifier_train_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checkable quality-classifier trainer
    (`corpus.logreg_gd_train`): {_QEX_STEPS} full-batch GD steps over
    md5-hashed BoW counts with the heuristic ``quality_score >= 0.5``
    teacher label — integer e6 weights, exact integer logits and
    gradients, the sigmoid residual re-quantized per step, and the
    weight update an exact integer floor division. The oracle replays
    every step; `quality_classifier_train` keeps the MLlib LBFGS fit
    as the rows-only library twin (same model shape, same
    `hashed_bow_score` consumer)."""
    from datas_spark.functions.text import quality_score

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        (quality_score("text") >= 0.5).cast("double").alias("__lbl"),
    )
    return C.logreg_gd_train(
        docs, "doc_id", "text", "__lbl",
        num_features=_QEX_F, n_steps=_QEX_STEPS,
        lr_num=_QEX_LRN, lr_den=_QEX_LRD,
    )


_PINNED_QCLF = [(0, 0.8), (3, -1.2), (7, 0.5), (11, -0.3), (33, 1.1), (47, -0.9)]
_PINNED_QCLF_BIAS = -0.1
_PINNED_QCLF_F = 64


@register(
    "hashed_bow_score_pinned",
    oracle=r"""
    WITH w(feature, weight) AS (VALUES """
    + ", ".join(f"({b}, {v})" for b, v in _PINNED_QCLF)
    + rf"""),
    t AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ), b AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % {_PINNED_QCLF_F} AS f
      FROM t
    ), s AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(coalesce(w.weight, 0)) AS wsum
      FROM b LEFT JOIN w ON b.f = w.feature
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           round(1.0 / (1.0 + exp(-({_PINNED_QCLF_BIAS} + wsum))), 6)
             AS quality_prob
    FROM s
    """,
)
def q_hashed_bow_score_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-classifier INFERENCE path under a pinned model: the
    exact broadcast-join scan `quality_classifier_train`'s output runs
    through, with fixed literal bucket weights so the DuckDB oracle can
    recompute the md5 bucketing, the raw-count linear logit and the
    sigmoid bit-for-bit. Proves the hash-bucket feature contract the
    training query (rows-only) shares."""
    docs = read_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(_PINNED_QCLF, "feature int, weight double")
    return C.hashed_bow_score(
        docs, "doc_id", "text", weights,
        num_features=_PINNED_QCLF_F, bias=_PINNED_QCLF_BIAS,
    )


@register(
    "events_asof_click",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS r_ts, c.value AS r_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_events_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (an operator Spark lacks natively): every purchase is
    enriched with the user's most recent prior-or-equal click. One
    union + one per-user ordered window — the same movement as a
    sort-merge join, no range scan. DuckDB's native ASOF JOIN is the
    oracle."""
    from datas_spark.operators import joins as J

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    return J.asof_join(purchases, clicks, "user_id", "ts", "ts")


@register(
    "events_asof_click_salted",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS r_ts, c.value AS r_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_events_asof_click_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-salted AS-OF path against the identical oracle: rows
    salt into 8 timestamp-range buckets (the dominant user spreads over
    8 tasks), a tiny carry-in frame preserves exact as-of semantics —
    same answer, skew-proof plan."""
    from datas_spark.operators import joins as J

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    return J.asof_join(purchases, clicks, "user_id", "ts", "ts", salt_buckets=8)


@register(
    "events_value_bands",
    oracle="""
    WITH bands AS (
      SELECT band_id, band_id * 50.0 AS lo, band_id * 50.0 + 49.999 AS hi
      FROM (SELECT unnest(range(0, 10)) AS band_id)
    )
    SELECT e.event_id, e.event_type, e.value, b.band_id
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
    """,
)
def q_events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (point-in-range) join via the bucketed equi-join plan —
    the big-big range-join strategy: intervals replicate into
    fixed-width buckets, points probe one bucket, BETWEEN filters
    within. The oracle is the plain theta join. The 10-row band table
    WOULD broadcast here; the query deliberately exercises the
    bucketed path, which is what survives when both sides are large."""
    from datas_spark.operators import joins as J

    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    spark_bands = spark.range(0, 10).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 50.0).alias("lo"),
        (F.col("id") * 50.0 + 49.999).alias("hi"),
    )
    out = J.interval_join(ev, spark_bands, "value", "lo", "hi", bucket_width=50.0)
    return out.select("event_id", "event_type", "value", "band_id")


@register(
    "events_user_rolling",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER w3, 4) AS rolling_avg3,
           round(value - lag(value) OVER wl, 4) AS delta_prev,
           row_number() OVER wl AS event_seq
    FROM events
    WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           wl AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_events_user_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered analytics (rolling mean over the last 3 events,
    delta vs previous, sequence number) — the window-function surface
    of a time-series feature pipeline. One shuffle on user_id, one
    in-partition sort shared by BOTH window frames (same partition ∧
    order ⇒ Spark reuses the sort)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w3 = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w3), 4).alias("rolling_avg3"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta_prev"),
        F.row_number().over(w).alias("event_seq"),
    )


@register(
    "order_totals_rollup",
    oracle="""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS order_year,
           count(*) AS n_orders,
           sum(o.o_totalprice::DECIMAL(18,2)) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (nation, order_year)
    """,
)
def q_order_totals_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP over (nation, order year): subtotals per nation and
    the grand total in one pass — Spark expands grouping sets inside a
    single aggregate, one shuffle. Sums in DECIMAL(18,2) so subtotal
    and grand-total rows are exact (double summation order would
    wobble the last bits across engines)."""
    from pyspark.sql.functions import broadcast

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
            "o_totalprice",
        )
        .rollup("nation", "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        )
    )


@register(
    "events_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           p.value AS purchase_value, c.ts AS click_ts, c.value AS click_value
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join
    (``streaming.join_streams``): every purchase paired with each
    same-user click at-or-before it within 1 hour. In streaming mode
    the same predicate's explicit time bound is what lets the state
    store evict buffered rows (watermark + gap); verified against the
    plain interval join here."""
    from datas_spark.streaming.scoring import join_streams

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    return join_streams(clicks, purchases)

# ==================================================================
# former registry7.py
# ==================================================================

r"""Query registry, batch 7 (round 3): the extended curation recipe
(PII redaction + paragraph dedup + near-dup election inside
``pipeline.curate.curate_corpus``), LESS-style gradient influence, and
skew-hardened variants.

Imported by datas_spark.registry for its side effects (registrations).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

# ---------------------------------------------------------------------------
# curate_corpus_full — the recipe stages the basic curate_corpus query
# does not exercise (redaction, paragraph dedup, near-dup election),
# chained in ONE plan and hash-checked end-to-end. Between the two
# registered curation queries every stage of the recipe is oracle-
# covered in composition, not just in isolation.
# ---------------------------------------------------------------------------

_CURATE_FULL_ORACLE = rf"""
    WITH RECURSIVE aug AS ({_AUG_SQL}),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
                 '{_PHONE}', '<PHONE>', 'g'),
               '{_IP}', '<IP>', 'g') AS text
      FROM aug
    ), ded AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, row_number() OVER (
          PARTITION BY md5({_NORM_SQL.format(t='text')})
          ORDER BY doc_id) AS rn
        FROM red
      ) WHERE rn = 1
    ), seg AS (
      SELECT doc_id, string_split_regex(text, ' table ') AS parts FROM ded
    ), p0 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(parts) + 1),
          i -> {{'pos': i - 1, 'para': trim(parts[i])}})) AS u
      FROM seg
    ), p AS (
      SELECT doc_id, u.pos AS pos, u.para AS para FROM p0
    ), el AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM p WHERE length(para) >= 1
    ), kept AS (
      SELECT doc_id, pos, para FROM p WHERE length(para) < 1
      UNION ALL
      SELECT doc_id, pos, para FROM el WHERE rn = 1
    ), rebuilt AS (
      SELECT d.doc_id, coalesce(a.txt, '') AS text
      FROM ded d LEFT JOIN (
        SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS txt
        FROM kept GROUP BY doc_id
      ) a USING (doc_id)
    ), sh2 AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
          i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')))
          AS grams
      FROM rebuilt
    ), ex2 AS (
      SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh2
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS shared
      FROM ex2 a JOIN ex2 b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
      HAVING shared / (na + nb - shared) >= 0.2
    ), ee AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT a, a FROM ee
      UNION
      SELECT ee.a, reach.r FROM ee JOIN reach ON reach.node = ee.b
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT rb.doc_id, length(rb.text) AS sc,
             coalesce(comp.component, rb.doc_id) AS component
      FROM rebuilt rb LEFT JOIN comp ON rb.doc_id = comp.node
    ), best AS (
      SELECT component, doc_id AS keep_id FROM (
        SELECT component, doc_id,
               row_number() OVER (PARTITION BY component
                                  ORDER BY sc DESC, doc_id ASC) AS rn
        FROM labeled
      ) WHERE rn = 1
    )
    SELECT l.doc_id, l.component,
           CASE WHEN {_MD5_UNIT_SQL.format(key="l.doc_id::VARCHAR")} < 0.8
                THEN 'train' ELSE 'test' END AS split
    FROM labeled l JOIN best b
      ON l.component = b.component AND b.keep_id = l.doc_id
"""


# ---------------------------------------------------------------------------
# less_influence — T12 gradient capture feeding P9 LESS influence, the
# one reference dataflow (get_info.py:43-68 -> score_pipeline_less.py)
# that was pattern-only until now. Gradients flow through the REAL
# iterator-pandas_udf boundary (deterministic md5 fake values), land in
# the long (id, param, idx, value) layout, and the influence is a
# broadcast dot-product join — all reproduced in the oracle.
# ---------------------------------------------------------------------------

_GRAD_PARAMS = ["layer0.proj", "layer1.proj"]
_GRAD_DIM = 4

_LESS_ORACLE = f"""
    WITH p AS (
      SELECT unnest([{', '.join(repr(p) for p in _GRAD_PARAMS)}]) AS param
    ), ix AS (
      SELECT unnest(range(0, {_GRAD_DIM})) AS idx
    ), g AS (
      SELECT d.doc_id, p.param, ix.idx,
        2.0 * {_MD5_UNIT_SQL.format(key="d.text || '#' || p.param || '#' || ix.idx")}
          - 1.0 AS value
      FROM documents d CROSS JOIN p CROSS JOIN ix
    ), tg AS (
      SELECT param, idx, avg(value) AS tv
      FROM g WHERE doc_id < 5 GROUP BY param, idx
    )
    SELECT g.doc_id, round(sum(g.value * tg.tv), 6) AS less_influence
    FROM g JOIN tg USING (param, idx)
    GROUP BY g.doc_id
"""


@register("less_influence", oracle=_LESS_ORACLE)
def q_less_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 + P9 end-to-end: per-example gradients captured through the
    iterator pandas_udf (deterministic fake, real Arrow path) into the
    long param table, target-task gradient averaged from the doc_id<5
    slice, influence = broadcast dot-product join per example. The
    reference stubs this whole flow (score_pipeline_less.py body is
    len(output)); here the relational half is hash-checked."""
    from datas_spark.operators.scoring import grad_capture_long, less_influence

    docs = read_table(spark, sf_dir, "documents")
    grads = grad_capture_long(docs, "doc_id", "text", _GRAD_PARAMS, _GRAD_DIM)
    target = grads.where(F.col("doc_id") < 5)
    return less_influence(grads, target, "doc_id")


@register("curate_corpus_full", oracle=_CURATE_FULL_ORACLE)
def q_curate_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages the basic ``curate_corpus`` query leaves
    idle, composed and hash-checked: PII redaction (typed placeholders,
    BEFORE dedup so docs differing only in a phone number dedup
    together) -> exact dedup -> corpus-wide paragraph dedup on the
    ' table ' segment delimiter -> 3-gram-Jaccard near-dup components
    keeping the LONGEST doc per component -> deterministic 80/20
    split. Input is the PII-augmented corpus so redaction genuinely
    fires."""
    from datas_spark.pipeline.curate import curate_corpus

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = curate_corpus(
        _augment_pii(docs),
        max_dup_token_frac=1.0,
        max_top_bigram_frac=1.0,
        redact_pii=True,
        paragraph_dedup_delimiter=" table ",
        near_dup_threshold=0.2,
        split_weights={"train": 0.8, "test": 0.2},
    )
    return out.select("doc_id", "component", "split")


# ---------------------------------------------------------------------------
# curate_corpus_artifact — the recipe consuming the materialize-once
# near-dup artifacts instead of deriving pairs inline (VERDICT r5 #2).
# Corpus-level semantics: the components artifact covers the WHOLE
# corpus (ingest computed it once), the election runs over the exact-
# dedup survivors. The oracle is the full recompute of that exact
# contract, so hash-green proves artifact-backed == inline-derived.
# ---------------------------------------------------------------------------

_CURATE_ARTIFACT_ORACLE = rf"""
    WITH RECURSIVE ded AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, row_number() OVER (
          PARTITION BY md5({_NORM_SQL.format(t='text')})
          ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
          i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')))
          AS grams
      FROM documents
    ), ex AS (
      SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
      HAVING shared / (na + nb - shared) >= 0.2
    ), ee AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT a, a FROM ee
      UNION
      SELECT ee.a, reach.r FROM ee JOIN reach ON reach.node = ee.b
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT d.doc_id, length(d.text) AS sc,
             coalesce(comp.component, d.doc_id) AS component
      FROM ded d LEFT JOIN comp ON d.doc_id = comp.node
    ), best AS (
      SELECT component, doc_id AS keep_id FROM (
        SELECT component, doc_id,
               row_number() OVER (PARTITION BY component
                                  ORDER BY sc DESC, doc_id ASC) AS rn
        FROM labeled
      ) WHERE rn = 1
    )
    SELECT l.doc_id, l.component,
           CASE WHEN {_MD5_UNIT_SQL.format(key="l.doc_id::VARCHAR")} < 0.8
                THEN 'train' ELSE 'test' END AS split
    FROM labeled l JOIN best b
      ON l.component = b.component AND b.keep_id = l.doc_id
    """


@register("curate_corpus_artifact", oracle=_CURATE_ARTIFACT_ORACLE)
def q_curate_corpus_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation recipe consuming the MATERIALIZE-ONCE artifact
    store: exact dedup -> near-dup election fed by the persisted
    corpus-wide ``(node, component)`` labels
    (`operators.artifacts.components_artifact`, jaccard family — the
    same n=3 / 0.2 canonical params) -> deterministic 80/20 split. No
    inverted index, no iterative CC in this plan: the expensive graph
    work is a parquet read of what ingest already materialized, which
    is exactly how a 100 TB recipe must run. The oracle recomputes the
    pair graph from scratch, so hash-green proves the artifact path
    returns the inline result."""
    from datas_spark.operators import artifacts as ART
    from datas_spark.pipeline.curate import curate_corpus

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    comp = ART.components_artifact(spark, sf_dir, "jaccard")
    out = curate_corpus(
        docs,
        max_dup_token_frac=1.0,
        max_top_bigram_frac=1.0,
        near_dup_components=comp,
        split_weights={"train": 0.8, "test": 0.2},
    )
    return out.select("doc_id", "component", "split")


# ---------------------------------------------------------------------------
# Skew-hardened sampling variants — IDENTICAL oracles to the window-path
# queries in registry_curation, so the driver proves the skew-resistant rank
# construction is a pure physical-plan change.
# ---------------------------------------------------------------------------

@register(
    "stratified_sample_skew",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS m
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= ceil(m * 0.1)
    """,
)
def q_stratified_sample_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stratified_sample(skew_resistant=True): same 10% per-language
    sample as the window path (identical oracle), but ranked via the
    range-exchange construction — no window partitioned by the stratum
    key, so the dominant language (~44% of docs) spreads over many
    tasks."""
    from datas_spark.operators import corpus as C

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return C.stratified_sample(docs, "lang", "doc_id", 0.1, skew_resistant=True)


@register(
    "source_quota_cap_skew",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      FROM documents
    ) WHERE rk <= 15
    """,
)
def q_source_quota_cap_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_quota_cap(skew_resistant=True): same first-15-per-source
    cap (identical oracle), skew-proof rank — the source big enough to
    need capping is exactly the one that would have serialized onto a
    single window task."""
    from datas_spark.operators import corpus as C

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return C.source_quota_cap(docs, "source", "doc_id", 15, skew_resistant=True)


# ---------------------------------------------------------------------------
# pack_sequences_bpe — packing budgeted in SUBWORD counts from the
# pluggable tokenizer boundary (iterator pandas_udf, deterministic fake
# BPE: tokenize on word/punct boundaries, ceil(len/4) subwords per
# token). The oracle recomputes the same counts in SQL, so the whole
# boundary-crossing plan hash-checks.
# ---------------------------------------------------------------------------

@register(
    "pack_sequences_bpe",
    oracle=r"""
    WITH t AS (
      SELECT source, doc_id,
        coalesce(list_sum(list_transform(
          list_filter(
            string_split_regex(
              trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')),
              '\s+'),
            t -> t != ''),
          t -> ceil(length(t) / 4.0)::BIGINT)), 0)::BIGINT AS n_tokens
      FROM documents
    )
    SELECT source, doc_id, n_tokens,
      ((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - n_tokens) // 500)::BIGINT AS bin
    FROM t
    """,
)
def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing with subword budgets: token counts cross the
    real Arrow pandas_udf boundary (fake BPE, tokenizer loaded once per
    worker — a SentencePiece factory plugs in unchanged), then the
    per-source running-cumsum bin plan. Whitespace packing budgets
    mis-size bins by the subword expansion factor; this is the
    accounting a training-batch assembler actually needs."""
    from datas_spark.operators import corpus as C

    docs = read_table(spark, sf_dir, "documents")
    return C.pack_sequences_tokenized(
        docs, "doc_id", "text", budget=500, shard_col="source"
    )

# ==================================================================
# former registry13.py
# ==================================================================

"""Registry batch 13 — curation fate audit, event-sourced state views
(latest-wins upsert + SCD2 history), and embedding-space benchmark
decontamination."""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import similarity as SIM
from datas_spark.registry_core import register
from datas_spark.registry_scoring import _planes_values_sql

# ---------------------------------------------------------------------------
# curation fate audit
# ---------------------------------------------------------------------------

@register(
    "curate_audit",
    oracle=f"""{_CURATE_CTES}, kept AS (
      {_CURATE_FINAL_SQL.strip()}
    )
    SELECT d.doc_id,
      CASE WHEN rk.doc_id IS NULL THEN 'repetition_filtered'
           WHEN de.doc_id IS NULL THEN 'exact_duplicate'
           WHEN cl.doc_id IS NULL THEN 'contaminated'
           WHEN k.doc_id IS NULL THEN 'rebalanced_out'
           ELSE 'kept_' || k.split END AS status
    FROM documents d
    LEFT JOIN rep_keep rk USING (doc_id)
    LEFT JOIN ded de USING (doc_id)
    LEFT JOIN clean cl USING (doc_id)
    LEFT JOIN kept k USING (doc_id)
    """,
)
def q_curate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fate of the flagship curation recipe (same config
    as `curate_corpus`): which stage dropped each doc, or its kept
    split. The audit reads the recipe's OWN lazy stage frames
    (`curate_corpus(stage_ids=...)`), so it cannot drift from the real
    pipeline; the oracle re-wraps the recipe CTE chain with one left
    join per stage."""
    from datas_spark.pipeline.curate import curate_audit

    docs = read_table(spark, sf_dir, "documents")
    return curate_audit(
        docs,
        benchmark=docs.where("doc_id < 20"),
        domain_col="lang",
        max_dup_token_frac=0.9,
        max_top_bigram_frac=0.9,
        temperature=2.0,
        split_weights={"train": 0.9, "test": 0.1},
    )


# ---------------------------------------------------------------------------
# event-sourced state: latest-wins upsert view + SCD2 history
# ---------------------------------------------------------------------------

@register(
    "user_latest_event",
    oracle="""
    SELECT user_id, ts::VARCHAR AS last_ts,
           event_type AS last_event_type,
           round(value, 4) AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_user_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins upsert view of the event log (the merge-on-read
    CDC snapshot): one combinable ``max_by`` per user over the total
    order (ts, event_id) — no per-key window over raw events, so the
    shuffle carries one struct per user."""
    ev = read_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("ts").cast("string").alias("t"),
                    F.col("event_type").alias("et"),
                    F.col("value").alias("v"),
                ),
                ordk,
            ).alias("__last")
        )
        .select(
            "user_id",
            F.col("__last.t").alias("last_ts"),
            F.col("__last.et").alias("last_event_type"),
            F.round(F.col("__last.v"), 4).alias("last_value"),
        )
    )


@register(
    "user_event_history",
    oracle="""
    SELECT user_id, event_id, event_type,
           ts::VARCHAR AS valid_from,
           (lead(ts) OVER w)::VARCHAR AS valid_to,
           (CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END)::INT
             AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history reconstruction from the event log: each state row
    carries [valid_from, valid_to) with the successor's timestamp as
    its expiry (NULL = current). The window partitions on user_id —
    per-key local sort, scale-safe (never a global window)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = F.lead(F.col("ts").cast("string")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("string").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# embedding-space benchmark decontamination
# ---------------------------------------------------------------------------

_XC_PLANES = 4
_XC_THRESHOLD = 0.3
# the benchmark is a FIXED set (id < cap), not a corpus-proportional
# slice: a real eval benchmark does not grow with the training corpus,
# and a bench side that scales with the data turns the 2^planes-bucket
# candidate join quadratic (measured 52.8x at the 10x sf1 run before
# this cap; linear after). The cap covers every driver sf (max vec_id
# 1999 at sf0.1), so results there are unchanged.
_XC_BENCH_MAX = 2600

_XC_COS_SQL = """
          list_sum(list_transform(range(1, len(t.embedding) + 1),
                   i -> t.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(range(1, len(t.embedding) + 1),
                   i -> t.embedding[i]::DOUBLE * t.embedding[i]::DOUBLE)))
           * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                   i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
"""


@register(
    "embedding_decontaminate",
    oracle=f"""
    WITH pl AS (SELECT * FROM {_planes_values_sql(_XC_PLANES)}),
    buckets AS (
      SELECT e.vec_id,
        sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * p.pv[i])) >= 0
            THEN (1::BIGINT << p.pid) ELSE 0 END)::BIGINT AS bucket
      FROM embeddings e CROSS JOIN pl p GROUP BY e.vec_id
    ), cand AS (
      SELECT t.vec_id, {_XC_COS_SQL} AS cos
      FROM buckets tb
      JOIN buckets bb ON tb.bucket = bb.bucket
      JOIN embeddings t ON t.vec_id = tb.vec_id
      JOIN embeddings b ON b.vec_id = bb.vec_id
      WHERE tb.vec_id % 13 != 0
        AND bb.vec_id % 13 = 0 AND bb.vec_id < {_XC_BENCH_MAX}
    )
    SELECT vec_id, count(*)::BIGINT AS n_matches,
           round(max(cos), 6) AS max_cos
    FROM cand WHERE cos >= {_XC_THRESHOLD} GROUP BY vec_id
    """,
)
def q_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) benchmark decontamination: training
    vectors too close to any benchmark vector, found through the
    hyperplane-bucket equi-join — the embedding twin of the n-gram
    `bloom_decontaminate` probe. Benchmark slice = vec_id % 13 = 0
    capped at a FIXED id range (a real benchmark doesn't grow with
    the corpus; an uncapped slice made the bucket join quadratic —
    caught by the sf1 scaling gate at 52.8x, linear after the cap)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SIM.cross_contamination(
        emb.where("vec_id % 13 != 0"),
        emb.where(f"vec_id % 13 = 0 AND vec_id < {_XC_BENCH_MAX}"),
        "vec_id",
        "embedding",
        threshold=_XC_THRESHOLD,
        n_planes=_XC_PLANES,
    )

# ==================================================================
# former registry36.py
# ==================================================================

"""Registry batch 36 — quality gating and privacy auditing: rule-based
quarantine routing (bad rows carry their violated rule names) and the
k-anonymity exposure report over quasi-identifiers.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators.validate import k_anonymity, quarantine
from datas_spark.registry_core import register


@register(
    "events_quarantine",
    oracle="""
    WITH tagged AS (
      SELECT event_id,
             list_sort(list_filter([
               CASE WHEN NOT coalesce(value >= 0, false)
                    THEN 'value_nonnegative' END,
               CASE WHEN NOT coalesce(user_id IS NOT NULL, false)
                    THEN 'user_present' END,
               CASE WHEN NOT coalesce(event_type IN
                      ('view','click','purchase','signup'), false)
                    THEN 'known_type' END
             ], x -> x IS NOT NULL)) AS failed_rules
      FROM events
    )
    SELECT event_id, failed_rules FROM tagged WHERE len(failed_rules) > 0
    """,
)
def q_events_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine routing on the event stream: rows violating any of
    three content rules (non-negative value, user present, known event
    type) are diverted with the exact rule names they failed — the
    ingestion gate that keeps the pipeline running while defects land
    in an inspectable side table. One map-side expression derives both
    routes; this query returns the quarantined side ('error' rows are
    the planted defect class in the generator)."""
    ev = read_table(spark, sf_dir, "events")
    rules = {
        "value_nonnegative": F.col("value") >= 0,
        "user_present": F.col("user_id").isNotNull(),
        "known_type": F.col("event_type").isin("view", "click", "purchase", "signup"),
    }
    _good, bad = quarantine(ev, rules)
    return bad.select("event_id", "failed_rules")


@register(
    "customer_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT 5::BIGINT AS k_required,
           min(n)::BIGINT AS min_group_size,
           count(*)::BIGINT AS n_groups,
           sum(n)::BIGINT AS n_rows,
           sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
           round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)::DOUBLE
                 / sum(n)::DOUBLE * 100, 6) AS at_risk_pct
    FROM g
    """,
)
def q_customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity exposure report over the customer table's
    quasi-identifiers (nation × market segment): rows whose
    quasi-identifier group has fewer than k=5 members are individually
    re-identifiable under linkage and would need generalizing or
    suppressing before a release — the privacy screen to run before
    any user-attributable slice ships into a corpus. One combinable
    grouped count + a tiny re-aggregate."""
    cust = read_table(spark, sf_dir, "customer")
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)

# ==================================================================
# former registry42.py
# ==================================================================

"""Registry batch 42 — conversation-level format gating: the
structural check every dialog corpus runs before turn-level scoring
(reference `src/pipeline/base.py:28` generalized to multi-turn).
"""


from pyspark.sql import DataFrame, SparkSession

from datas_spark.operators import conversations as CV
from datas_spark.registry_core import register


@register(
    "conversation_format_audit",
    oracle="""
    SELECT doc_id AS conversation_id,
           2::BIGINT AS n_turns,
           (CASE WHEN trim(substr(text, 1, 40)) = '' THEN 1 ELSE 0 END
            + CASE WHEN trim(substr(text, 41, 40)) = '' THEN 1 ELSE 0 END)
             ::BIGINT AS n_empty_human,
           (CASE WHEN trim(lang) = '' THEN 1 ELSE 0 END
            + CASE WHEN trim(source) = '' THEN 1 ELSE 0 END)
             ::BIGINT AS n_empty_assistant,
           CASE WHEN trim(substr(text, 1, 40)) != ''
                 AND trim(substr(text, 41, 40)) != ''
                 AND trim(lang) != '' AND trim(source) != ''
                THEN 1 ELSE 0 END AS format_ok
    FROM documents
    """,
)
def q_conversation_format_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format gate over the synthetic ShareGPT rows: per conversation,
    turn count and empty-side counts with a pass/fail verdict — docs
    shorter than 40 chars yield an empty second-turn human side and
    fail, exactly the planted defect class. Map-side array traversals,
    zero shuffles."""
    # lazy: registry_taskvector itself imports the registry package — a module-
    # level import here would be circular when registry_taskvector loads first
    from datas_spark.registry_taskvector import _synth_conversations

    conv = _synth_conversations(spark, sf_dir)
    return CV.conversation_format_check(conv)

# ==================================================================
# former registry47.py
# ==================================================================

"""Registry batch 47 — governance and engagement rollups: PII density
per source (which feeds carry the release risk) and session bounce
statistics (the engagement headline from the sessionizer).
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.functions.text import token_count
from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.fixtures import AUG_PII_SQL, EMAIL_RE, IP_RE, PHONE_RE, augment_pii
from datas_spark.registry_core import register


@register(
    "pii_density_by_source",
    oracle=rf"""
    WITH aug AS ({AUG_PII_SQL}),
    j AS (
      SELECT d.source, a.text
      FROM aug a JOIN documents d USING (doc_id)
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len(list_filter(
             string_split_regex(trim(regexp_replace(lower(text),
               '([^\w\s])', ' \1 ', 'g')), '\s+'), t -> t != '')))::BIGINT
             AS n_tokens,
           sum(len(regexp_extract_all(text, '{EMAIL_RE}')))::BIGINT AS n_email,
           sum(len(regexp_extract_all(text, '{PHONE_RE}')))::BIGINT AS n_phone,
           sum(len(regexp_extract_all(text, '{IP_RE}')))::BIGINT AS n_ip,
           round((sum(len(regexp_extract_all(text, '{EMAIL_RE}')))
                + sum(len(regexp_extract_all(text, '{PHONE_RE}')))
                + sum(len(regexp_extract_all(text, '{IP_RE}'))))::DOUBLE
                 / sum(len(list_filter(
                     string_split_regex(trim(regexp_replace(lower(text),
                       '([^\w\s])', ' \1 ', 'g')), '\s+'), t -> t != '')))
                 * 1000, 6) AS pii_per_1k_tokens
    FROM j GROUP BY source
    """,
)
def q_pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII density per source (with the same deterministic fake-PII
    augmentation as `pii_stats` — the synthetic corpus contains none):
    typed hit counts and hits-per-1k-tokens, the number a release
    review sorts feeds by. One map-side regex/token pass, one grouped
    aggregate; everything exact integers until the final density."""
    docs = read_table(spark, sf_dir, "documents")
    aug = augment_pii(docs)
    stats = C.pii_stats(aug, "doc_id", "text").select(
        "doc_id", "n_email", "n_phone", "n_ip", token_count("text").alias("__tok")
    )
    j = stats.join(docs.select("doc_id", "source"), "doc_id")
    hits = F.sum("n_email") + F.sum("n_phone") + F.sum("n_ip")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum("n_email").cast("long").alias("n_email"),
        F.sum("n_phone").cast("long").alias("n_phone"),
        F.sum("n_ip").cast("long").alias("n_ip"),
        F.round(
            hits.cast("double") / F.sum("__tok").cast("double") * 1000, 6
        ).alias("pii_per_1k_tokens"),
    )


@register(
    "session_bounce_stats",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
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
    ), per_session AS (
      SELECT user_id, sid, count(*)::BIGINT AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
      FROM sess GROUP BY 1, 2
    )
    SELECT count(*)::BIGINT AS n_sessions,
           count(CASE WHEN n_events = 1 THEN 1 END)::BIGINT AS bounce_sessions,
           round(count(CASE WHEN n_events = 1 THEN 1 END)::DOUBLE
                 / count(*) * 100, 6) AS bounce_rate_pct,
           round(sum(dur_us)::DOUBLE / count(*) / 1e6, 6) AS avg_duration_s,
           round(sum(n_events)::DOUBLE / count(*), 6) AS avg_events
    FROM per_session
    """,
)
def q_session_bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement headline from the sessionizer: bounce rate
    (single-event sessions), average session duration, and average
    events per session, over 5-minute-gap sessions. Same lag/cumsum
    session construction as `events_sessionize` (one user_id shuffle,
    both windows share the sort); durations are exact integer
    microseconds; the final report is one tiny aggregate."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("double")
                - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
                >= 300.0
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max(us) - F.min(us)).alias("dur_us"),
    )
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return per_session.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounce.cast("long").alias("bounce_sessions"),
        F.round(bounce.cast("double") / F.count(F.lit(1)) * 100, 6).alias(
            "bounce_rate_pct"
        ),
        F.round(
            F.sum("dur_us").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("avg_duration_s"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events"),
    )

# ==================================================================
# former registry56.py
# ==================================================================

"""Registry batch 56 — corpus text-normalization pass and deterministic
k-fold assignment.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.operators import splits as SP
from datas_spark.registry_core import register


@register(
    "clean_text_docs",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^\s]+', ' ', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '[\x00-\x08\x0B\x0C\x0E-\x1F]', ' ', 'g'),
             '\s+', ' ', 'g')) AS text_clean,
           length(text)::BIGINT AS n_before
    FROM documents
    """,
)
def q_clean_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization cleanup (URLs/emails → space, C0 controls
    dropped, whitespace collapsed, trimmed) — map-only chained
    regexp_replace, the same RE2-safe literals in both engines."""
    docs = read_table(spark, sf_dir, "documents")
    out = C.clean_text(docs, "text")
    return out.select(
        "doc_id", "text_clean", F.length("text").cast("long").alias("n_before")
    )


@register(
    "doc_kfold_assign",
    oracle="""
    SELECT doc_id,
           (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 5)::INT
             AS fold,
           (('0x' || substr(md5(coalesce(source::VARCHAR, doc_id::VARCHAR)),
                            1, 15))::BIGINT % 5)::INT
             AS source_fold
    FROM documents
    """,
)
def q_doc_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment, per row AND per group
    (grouped on source: every doc of a source shares a fold — the
    grouped-CV leakage rule). Pure map-side md5 expressions. The
    oracle mirrors kfold_assign's NULL-group fallback to the row id,
    so it encodes the operator's full contract, not the data shape."""
    docs = read_table(spark, sf_dir, "documents")
    out = SP.kfold_assign(docs, "doc_id", k=5)
    out = SP.kfold_assign(out, "doc_id", k=5, group_col="source", out_col="source_fold")
    return out.select("doc_id", "fold", "source_fold")

# ==================================================================
# former registry60.py
# ==================================================================

"""Registry batch 60 — Gopher quality rules (the public heuristic set),
zlib compression-ratio feature (rows-only by design: not
SQL-expressible), and the l-diversity privacy audit.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import corpus as C
from datas_spark.operators import validate as V
from datas_spark.registry_core import register

_TOKS = r"string_split_regex(trim(text), '\s+')"
_LINES = r"string_split(text, chr(10))"


@register(
    "gopher_quality_flags",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, text,
        len(list_filter({_TOKS}, x -> x != '')) AS n_words,
        list_sum(list_transform({_TOKS}, x -> length(x))) AS word_chars,
        length(text) - length(replace(text, '#', ''))
          + len(regexp_extract_all(text, '\.\.\.|…')) AS n_symbols,
        len({_LINES}) AS n_lines,
        len(list_filter({_LINES},
            x -> regexp_matches(trim(x), '^([-*•]|[0-9]+[.)])\s'))) AS bullet_lines,
        len(list_filter({_LINES},
            x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) AS ellipsis_lines,
        len(list_filter({_TOKS}, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
        list_sum(list_transform(
          ['the','be','to','of','and','that','have','with'],
          s -> CASE WHEN contains(' ' || lower(text) || ' ', ' ' || s || ' ')
               THEN 1 ELSE 0 END)) AS stop_hits
      FROM documents
    )
    SELECT doc_id, n_words::BIGINT AS n_words,
      (n_words < 50 OR n_words > 100000) AS flag_word_count,
      coalesce(CASE WHEN n_words > 0
        THEN (word_chars / n_words < 3.0 OR word_chars / n_words > 10.0) END,
        TRUE) AS flag_word_len,
      coalesce(n_symbols / n_words > 0.1, TRUE) AS flag_symbol_ratio,
      coalesce(bullet_lines / n_lines > 0.9, TRUE) AS flag_bullet_lines,
      coalesce(ellipsis_lines / n_lines > 0.3, TRUE) AS flag_ellipsis_lines,
      coalesce(alpha_words / n_words < 0.8, TRUE) AS flag_alpha_words,
      (stop_hits < 2) AS flag_stopwords,
      (NOT (n_words < 50 OR n_words > 100000)
       AND NOT coalesce(CASE WHEN n_words > 0
         THEN (word_chars / n_words < 3.0 OR word_chars / n_words > 10.0) END,
         TRUE)
       AND NOT coalesce(n_symbols / n_words > 0.1, TRUE)
       AND NOT coalesce(bullet_lines / n_lines > 0.9, TRUE)
       AND NOT coalesce(ellipsis_lines / n_lines > 0.3, TRUE)
       AND NOT coalesce(alpha_words / n_words < 0.8, TRUE)
       AND NOT (stop_hits < 2)) AS gopher_pass
    FROM t
    """,
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-quality rule set (Rae et al. 2021 — the public
    heuristics RedPajama/Dolma/FineWeb reuse) as one map-side pass:
    per-rule violation flags + overall pass."""
    docs = read_table(spark, sf_dir, "documents")
    out = C.gopher_quality_flags(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_words",
        "flag_word_count",
        "flag_word_len",
        "flag_symbol_ratio",
        "flag_bullet_lines",
        "flag_ellipsis_lines",
        "flag_alpha_words",
        "flag_stopwords",
        "gopher_pass",
    )


@register("doc_compression_ratio")  # rows-only BY DESIGN: stdlib zlib
def q_doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per doc via Arrow-batched mapInPandas —
    the redundancy signal quality filters cut on. Not SQL-expressible
    (DuckDB has no zlib), so this is a rows-only check; the
    surrounding plumbing is pytest-proven with hand examples."""
    docs = read_table(spark, sf_dir, "documents")
    return C.compression_ratio(docs, "doc_id", "text")


@register(
    "customer_l_diversity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n,
             (count(DISTINCT c_acctbal)
              + max(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END))::BIGINT AS d
      FROM customer GROUP BY 1, 2
    )
    SELECT 2::BIGINT AS l_required,
           min(d)::BIGINT AS min_distinct,
           count(*)::BIGINT AS n_groups,
           count(*) FILTER (d < 2)::BIGINT AS groups_below,
           sum(n)::BIGINT AS n_rows,
           sum(CASE WHEN d < 2 THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
           round(sum(CASE WHEN d < 2 THEN n ELSE 0 END) / sum(n)::DOUBLE * 100, 6)
             AS at_risk_pct
    FROM g
    """,
)
def q_customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of account balances within (nation, segment)
    quasi-identifier groups — the disclosure check k-anonymity misses
    (a uniform group is anonymous but fully disclosing)."""
    cust = read_table(spark, sf_dir, "customer")
    return V.l_diversity(cust, ["c_nationkey", "c_mktsegment"], "c_acctbal", l=2)


# ==================================================================
# round 5: C4-style line-level cleaning
# ==================================================================


@register(
    "c4_line_clean",
    oracle=r"""
    SELECT doc_id,
           len(lines)::BIGINT AS n_lines,
           len(kept)::BIGINT AS n_lines_kept,
           coalesce(array_to_string(kept, chr(10)), '') AS text_clean
    FROM (
      SELECT doc_id, lines,
             list_filter(lines, ln ->
               regexp_matches(trim(ln), '[.!?]["’”]?$')
               AND len(string_split_regex(trim(ln), '\s+')) >= 3
               AND NOT contains(lower(ln), 'javascript')
               AND NOT contains(lower(ln), 'lorem ipsum')
               AND NOT contains(ln, '{')
               AND NOT contains(ln, '}')) AS kept
      FROM (SELECT doc_id, string_split(text, chr(10)) AS lines
            FROM documents)
    )
    """,
)
def q_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (the published T5/C4 web-corpus rules:
    keep lines ending in terminal punctuation with >= 3 words, drop
    javascript / lorem-ipsum / curly-brace lines) over the documents
    table — per-doc kept-line counts plus the reassembled clean text.
    Pure map-side higher-order functions (split → filter →
    array_join), whole-stage codegen, zero shuffles; the per-line
    predicate is reproduced verbatim in the oracle so the entire pass
    hash-checks."""
    from datas_spark.operators.corpus import c4_line_filters

    docs = read_table(spark, sf_dir, "documents")
    return c4_line_filters(docs, "doc_id", "text").select(
        "doc_id", "n_lines", "n_lines_kept", "text_clean"
    )


# ---------------------------------------------------------------------------
# round 6: t-closeness (third rung of the privacy-audit ladder)
# ---------------------------------------------------------------------------

@register(
    "customer_t_closeness",
    oracle="""
    WITH thr AS (
      SELECT round(quantile_cont(c_acctbal, 0.25), 6) AS q1,
             round(quantile_cont(c_acctbal, 0.50), 6) AS q2,
             round(quantile_cont(c_acctbal, 0.75), 6) AS q3
      FROM customer
    ), bkt AS (
      SELECT c.c_nationkey AS g,
             CASE WHEN c.c_acctbal <= t.q1 THEN 1
                  WHEN c.c_acctbal <= t.q2 THEN 2
                  WHEN c.c_acctbal <= t.q3 THEN 3
                  ELSE 4 END AS b
      FROM customer c CROSS JOIN thr t
    ), cell AS (
      SELECT g, b, count(*)::BIGINT AS c FROM bkt GROUP BY 1, 2
    ), gt AS (SELECT g, sum(c)::BIGINT AS ng FROM cell GROUP BY g),
    bt AS (SELECT b, sum(c)::BIGINT AS pc FROM cell GROUP BY b),
    tot AS (SELECT sum(pc)::BIGINT AS N, count(*)::BIGINT AS m FROM bt),
    bcum AS (
      SELECT b, sum(pc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)::BIGINT AS cump
      FROM bt
    ), grid AS (
      SELECT gt.g, gt.ng, bc.b, bc.cump, coalesce(cell.c, 0)::BIGINT AS c
      FROM gt CROSS JOIN bcum bc
      LEFT JOIN cell ON cell.g = gt.g AND cell.b = bc.b
    ), terms AS (
      SELECT g, ng, b, cump,
             sum(c) OVER (PARTITION BY g ORDER BY b
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS cumq
      FROM grid
    ), pg AS (
      SELECT g, max(ng) AS ng,
             sum(abs(cumq * N - cump * ng))::BIGINT AS S,
             max(N) AS N, max(m) AS m
      FROM terms CROSS JOIN tot GROUP BY g
    )
    SELECT round(1.0 / 5, 6) + 0.0 AS t_required,
           round(max(CASE WHEN m > 1
                          THEN S / (ng * N * (m - 1))::DOUBLE
                          ELSE 0.0 END), 6) + 0.0 AS max_emd,
           count(*)::BIGINT AS n_groups,
           count(*) FILTER (WHERE m > 1 AND S * 5 > ng * N * (m - 1))::BIGINT
             AS groups_above,
           sum(ng)::BIGINT AS n_rows,
           sum(CASE WHEN m > 1 AND S * 5 > ng * N * (m - 1) THEN ng
                    ELSE 0 END)::BIGINT AS rows_at_risk,
           round(sum(CASE WHEN m > 1 AND S * 5 > ng * N * (m - 1) THEN ng
                          ELSE 0 END)::DOUBLE / sum(ng) * 100, 6) + 0.0
             AS at_risk_pct
    FROM pg
    """,
)
def q_customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t=0.2) of nation-level customer slices
    against the global account-balance quartile distribution — the rung
    above k-anonymity/l-diversity: a large, diverse group still leaks
    when its sensitive distribution diverges. Buckets from one rounded
    percentile buffer; the whole EMD threshold test is cross-multiplied
    exact integers."""
    from datas_spark.operators.validate import t_closeness

    cust = read_table(spark, sf_dir, "customer")
    thr = cust.agg(
        *[
            F.round(F.percentile("c_acctbal", F.lit(p)), 6).alias(f"q{i}")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    band = (
        F.when(F.col("c_acctbal") <= F.col("q1"), 1)
        .when(F.col("c_acctbal") <= F.col("q2"), 2)
        .when(F.col("c_acctbal") <= F.col("q3"), 3)
        .otherwise(4)
    )
    banded = cust.crossJoin(F.broadcast(thr)).select(
        F.col("c_nationkey"), band.alias("bal_band")
    )
    return t_closeness(banded, ["c_nationkey"], "bal_band", t_num=1, t_den=5)


# ---------------------------------------------------------------------------
# round 6: constraint suggestion (the expect-gate authoring loop)
# ---------------------------------------------------------------------------

@register(
    "documents_constraint_suggestions",
    oracle="""
    WITH w AS (
      SELECT count(*)::BIGINT AS n,
        count(doc_id)::BIGINT AS nn_id, count(DISTINCT doc_id)::BIGINT AS nd_id,
        min(doc_id)::VARCHAR AS min_id, max(doc_id)::VARCHAR AS max_id,
        count(lang)::BIGINT AS nn_lang, count(DISTINCT lang)::BIGINT AS nd_lang,
        array_to_string(list_sort(list(DISTINCT lang)), ',') AS set_lang,
        count(source)::BIGINT AS nn_src, count(DISTINCT source)::BIGINT AS nd_src,
        array_to_string(list_sort(list(DISTINCT source)), ',') AS set_src,
        count(n_chars)::BIGINT AS nn_nc, count(DISTINCT n_chars)::BIGINT AS nd_nc,
        min(n_chars)::VARCHAR AS min_nc, max(n_chars)::VARCHAR AS max_nc
      FROM documents
    )
    SELECT 'doc_id' AS col_name, n AS n_rows, n - nn_id AS n_nulls,
           nd_id AS n_distinct,
           concat_ws('; ',
             CASE WHEN n = nn_id THEN 'not_null' END,
             CASE WHEN nd_id = nn_id AND nn_id > 0 THEN 'unique' END,
             CASE WHEN nn_id > 0
                  THEN concat('range[', min_id, ',', max_id, ']') END) AS rules
    FROM w
    UNION ALL
    SELECT 'lang', n, n - nn_lang, nd_lang,
           concat_ws('; ',
             CASE WHEN n = nn_lang THEN 'not_null' END,
             CASE WHEN nd_lang = nn_lang AND nn_lang > 0 THEN 'unique' END,
             CASE WHEN nd_lang <= 25 THEN concat('isin[', set_lang, ']') END)
    FROM w
    UNION ALL
    SELECT 'source', n, n - nn_src, nd_src,
           concat_ws('; ',
             CASE WHEN n = nn_src THEN 'not_null' END,
             CASE WHEN nd_src = nn_src AND nn_src > 0 THEN 'unique' END,
             CASE WHEN nd_src <= 25 THEN concat('isin[', set_src, ']') END)
    FROM w
    UNION ALL
    SELECT 'n_chars', n, n - nn_nc, nd_nc,
           concat_ws('; ',
             CASE WHEN n = nn_nc THEN 'not_null' END,
             CASE WHEN nd_nc = nn_nc AND nn_nc > 0 THEN 'unique' END,
             CASE WHEN nn_nc > 0
                  THEN concat('range[', min_nc, ',', max_nc, ']') END)
    FROM w
    """,
)
def q_documents_constraint_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion (`validate.suggest_constraints`) over the
    documents table: ONE wide aggregate profiles every column and emits
    the rules the data satisfies today (not_null / unique / declared
    isin sets / numeric ranges) — the authoring loop that freezes into
    an `expect` ingest gate. isin sets are collected only for DECLARED
    categorical columns (lang, source): at 100 TB you never collect_set
    an id column to discover it isn't categorical."""
    from datas_spark.operators.validate import suggest_constraints

    docs = read_table(spark, sf_dir, "documents")
    return suggest_constraints(
        docs,
        ["doc_id", "lang", "source", "n_chars"],
        isin_cols=["lang", "source"],
        isin_max=25,
    )


@register(
    "doc_stratified_kfold",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR)) AS rn
      FROM documents
    )
    SELECT doc_id, lang, ((rn - 1) % 5)::INT AS fold FROM r
    """,
)
def q_doc_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold CV assignment (`splits.stratified_kfold_assign`):
    every language contributes count/5 rows to each fold to within one
    row — the per-stratum balance hash-mod folds only give in
    expectation. Rank within stratum is the skew-resistant range-
    exchange mint (a dominant language never serializes onto one
    task); the deal is a map-side modulo."""
    from datas_spark.operators.splits import stratified_kfold_assign

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_kfold_assign(docs, "doc_id", "lang", k=5).select(
        "doc_id", "lang", "fold"
    )


# ---------------------------------------------------------------------------
# round 7: unigram LM + one DoReMi exponentiated-gradient step
# ---------------------------------------------------------------------------


@register(
    "unigram_lm_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), tk AS (
      SELECT doc_id, unnest(toks) AS w FROM t
    ), cw AS (
      SELECT w, count(*) AS c FROM tk GROUP BY w
    ), tot AS (
      SELECT sum(c) AS tc FROM cw
    ), p AS (
      SELECT w, ln(c::DOUBLE / tc) AS lp FROM cw, tot
    ), s AS (
      SELECT tk.doc_id, count(*)::BIGINT AS n_tokens,
             round(-avg(p.lp), 6) AS nll
      FROM tk JOIN p USING (w) GROUP BY tk.doc_id
    )
    SELECT d.doc_id, coalesce(s.n_tokens, 0)::BIGINT AS n_tokens, s.nll
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM NLL per doc — the context-free companion
    of `ngram_lm_score` and the deterministic 'proxy model' half of the
    DoReMi step below. One token-hash count aggregate, a 1-row corpus
    total broadcast into the probability table, one scoring join."""
    docs = read_table(spark, sf_dir, "documents")
    return C.unigram_lm_score(docs, "doc_id", "text")


@register(
    "doremi_domain_weights",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), tk AS (
      SELECT doc_id, unnest(toks) AS w FROM t
    ), cw AS (
      SELECT w, count(*) AS c FROM tk GROUP BY w
    ), tot AS (
      SELECT sum(c) AS tc FROM cw
    ), pu AS (
      SELECT w, ln(c::DOUBLE / tc) AS lp FROM cw, tot
    ), su AS (
      SELECT tk.doc_id, round(-avg(pu.lp), 6) AS proxy
      FROM tk JOIN pu USING (w) GROUP BY tk.doc_id
    ), bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    ), cbg AS (
      SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ), cctx AS (
      SELECT w1, sum(c) AS cc FROM cbg GROUP BY w1
    ), pb AS (
      SELECT cbg.w1, cbg.w2, ln(cbg.c::DOUBLE / cctx.cc) AS lp
      FROM cbg JOIN cctx USING (w1)
    ), sb AS (
      SELECT bg.doc_id, round(-avg(pb.lp), 6) AS ref
      FROM bg JOIN pb ON bg.w1 = pb.w1 AND bg.w2 = pb.w2
      GROUP BY bg.doc_id
    ), perdoc AS (
      SELECT d.doc_id, d.source, su.proxy, sb.ref
      FROM documents d
      LEFT JOIN su USING (doc_id) LEFT JOIN sb USING (doc_id)
    ), dom AS (
      SELECT source AS domain, count(*)::BIGINT AS n_docs,
             round(coalesce(avg(greatest(proxy - ref, 0.0)), 0.0), 9)
               AS excess_loss
      FROM perdoc GROUP BY source
    ), raw AS (
      SELECT *, exp(1.0 * excess_loss) AS r FROM dom
    ), norm AS (
      SELECT count(*)::BIGINT AS k,
             list_sum(list(r ORDER BY domain))::DOUBLE AS tot
      FROM raw
    )
    SELECT domain, n_docs, excess_loss,
           round(0.99 * r / tot + 0.01 / k, 6) AS weight
    FROM raw, norm
    """,
)
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi exponentiated-gradient step over source mixture
    weights (`corpus.doremi_domain_weights`): per-source excess loss of
    the self-trained unigram LM over the bigram LM (the deterministic
    two-model stand-in — with real models, per-example losses enter
    through the same pandas_udf boundary as `reward_score`), then the
    published multiplicative update ``w ∝ u·exp(η·λ)`` normalized and
    uniform-smoothed. ONE pass over examples; everything after runs on
    the |sources|-row frame with an ordered normalization fold."""
    docs = read_table(spark, sf_dir, "documents")
    uni = C.unigram_lm_score(docs, "doc_id", "text").select(
        "doc_id", F.col("nll").alias("__proxy")
    )
    big = C.ngram_lm_score(docs, "doc_id", "text").select(
        "doc_id", F.col("nll").alias("__ref")
    )
    per_doc = (
        docs.select("doc_id", "source")
        .join(uni, "doc_id", "left")
        .join(big, "doc_id", "left")
    )
    return C.doremi_domain_weights(
        per_doc, "source", "__proxy", "__ref", step_size=1.0, smoothing=0.01
    )


_DOREMI_LOSS_CTES = r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), tk AS (
      SELECT doc_id, unnest(toks) AS w FROM t
    ), cw AS (
      SELECT w, count(*) AS c FROM tk GROUP BY w
    ), tot AS (
      SELECT sum(c) AS tc FROM cw
    ), pu AS (
      SELECT w, ln(c::DOUBLE / tc) AS lp FROM cw, tot
    ), su AS (
      SELECT tk.doc_id, round(-avg(pu.lp), 6) AS proxy
      FROM tk JOIN pu USING (w) GROUP BY tk.doc_id
    ), bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    ), cbg AS (
      SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ), cctx AS (
      SELECT w1, sum(c) AS cc FROM cbg GROUP BY w1
    ), pb AS (
      SELECT cbg.w1, cbg.w2, ln(cbg.c::DOUBLE / cctx.cc) AS lp
      FROM cbg JOIN cctx USING (w1)
    ), sb AS (
      SELECT bg.doc_id, round(-avg(pb.lp), 6) AS ref
      FROM bg JOIN pb ON bg.w1 = pb.w1 AND bg.w2 = pb.w2
      GROUP BY bg.doc_id
    ), perdoc AS (
      SELECT d.doc_id, d.source, su.proxy, sb.ref
      FROM documents d
      LEFT JOIN su USING (doc_id) LEFT JOIN sb USING (doc_id)
    ), dom AS (
      SELECT source AS domain, count(*)::BIGINT AS n_docs,
             round(coalesce(avg(greatest(proxy - ref, 0.0)), 0.0), 9)
               AS excess_loss
      FROM perdoc GROUP BY source
    )"""


def _doremi_k_oracle(n_steps: int = 5) -> str:
    """Chained-CTE twin of ``doremi_domain_weights_k``: w0 uniform,
    each step an ordered-list normalization fold + the smoothed
    multiplicative update rounded to 12 dp (the same per-step resync
    the Spark side applies)."""
    sql = _DOREMI_LOSS_CTES + """,
    k AS (SELECT count(*)::BIGINT AS k FROM dom),
    w0 AS (SELECT domain, n_docs, excess_loss, 1.0 / k.k AS w FROM dom, k)"""
    prev = "w0"
    for t in range(1, n_steps + 1):
        sql += f""",
    z{t} AS (
      SELECT list_sum(list(w * exp(1.0 * excess_loss) ORDER BY domain))::DOUBLE
        AS z FROM {prev}
    ), w{t} AS (
      SELECT domain, n_docs, excess_loss,
             round(0.99 * (w * exp(1.0 * excess_loss)) / z{t}.z
                   + 0.01 / k.k, 12) AS w
      FROM {prev}, z{t}, k
    )"""
        prev = f"w{t}"
    return sql + f"""
    SELECT domain, n_docs, excess_loss, round(w, 6) AS weight FROM {prev}
    """


def _doremi_k_steps_ctes(n_steps: int = 5) -> tuple[str, str]:
    """The loss + k-step CTE chain WITHOUT a final select — for
    composing queries (returns (sql, last_w_cte_name))."""
    full = _doremi_k_oracle(n_steps)
    last = f"w{n_steps}"
    return full[: full.rindex("SELECT domain, n_docs")], last


@register("doremi_weights_k5", oracle=_doremi_k_oracle(5))
def q_doremi_weights_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five unrolled DoReMi EG steps (`corpus.doremi_domain_weights_k`,
    VERDICT r7 #6) over the same self-trained unigram/bigram loss pair
    as the single-step query: mass compounds onto the max-excess source
    each step while the 1% uniform floor keeps every source sampled.
    Examples are touched ONCE; the k domain rows (with their in-plan
    ``exp`` step factors) are collected and the five updates run as a
    driver loop, each step's fold in the oracle's domain order."""
    docs = read_table(spark, sf_dir, "documents")
    uni = C.unigram_lm_score(docs, "doc_id", "text").select(
        "doc_id", F.col("nll").alias("__proxy")
    )
    big = C.ngram_lm_score(docs, "doc_id", "text").select(
        "doc_id", F.col("nll").alias("__ref")
    )
    per_doc = (
        docs.select("doc_id", "source")
        .join(uni, "doc_id", "left")
        .join(big, "doc_id", "left")
    )
    return C.doremi_domain_weights_k(
        per_doc, "source", "__proxy", "__ref", n_steps=5,
        step_size=1.0, smoothing=0.01,
    )


_DOREMI_MIX_BUDGET = 300_000


def _doremi_mixture_oracle() -> str:
    ctes, last_w = _doremi_k_steps_ctes(5)
    return ctes + f""",
    budget AS (
      SELECT domain AS source,
             CAST(round(round(w, 6) * {_DOREMI_MIX_BUDGET}) AS BIGINT)
               AS budget
      FROM {last_w}
    ), draws AS (
      SELECT d.doc_id, d.source, d.n_chars, b.budget,
             sum(d.n_chars) OVER (
               PARTITION BY d.source
               ORDER BY (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                          / 4294967296.0) ASC,
                        d.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents d JOIN budget b ON b.source = d.source
    )
    SELECT doc_id, source, n_chars::BIGINT AS n_chars
    FROM draws WHERE cum - n_chars < budget
    """


@register("doremi_mixture_sample", oracle=_doremi_mixture_oracle())
def q_doremi_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimize-then-materialize loop closed in ONE plan: five
    DoReMi EG steps learn the domain weights, the weights become
    per-source char budgets (weight x 300,000), and the budget table
    flows straight into `token_budget_mixture`'s deterministic
    md5-draw admission — the same no-driver-round-trip composition as
    `unimax_mixture_sample`, with the learned mixture instead of the
    water-filled one. The oracle replays the LM training, all five EG
    steps, the budget conversion, AND the admission end-to-end."""
    from datas_spark.operators.corpus import token_budget_mixture

    docs = read_table(spark, sf_dir, "documents")
    uni = C.unigram_lm_score(docs, "doc_id", "text").select(
        "doc_id", F.col("nll").alias("__proxy")
    )
    big = C.ngram_lm_score(docs, "doc_id", "text").select(
        "doc_id", F.col("nll").alias("__ref")
    )
    per_doc = (
        docs.select("doc_id", "source")
        .join(uni, "doc_id", "left")
        .join(big, "doc_id", "left")
    )
    w = C.doremi_domain_weights_k(
        per_doc, "source", "__proxy", "__ref", n_steps=5,
        step_size=1.0, smoothing=0.01,
    )
    budgets = w.select(
        F.col("domain").alias("source"),
        F.round(F.col("weight") * _DOREMI_MIX_BUDGET).cast("long").alias("budget"),
    )
    out = token_budget_mixture(
        docs.select("doc_id", "source", "n_chars"), "source", "n_chars", budgets
    )
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@register(
    "doc_novelty_rate",
    oracle=f"""
    WITH {_SHINGLES_CTE}, tr AS (
      SELECT DISTINCT g FROM ex WHERE doc_id % 10 <> 0
    ), ev AS (
      SELECT doc_id, g FROM ex WHERE doc_id % 10 = 0
    ), tot AS (
      SELECT doc_id, count(*)::BIGINT AS n_grams FROM ev GROUP BY 1
    ), kn AS (
      SELECT e.doc_id, count(*)::BIGINT AS n_known
      FROM ev e JOIN tr ON e.g = tr.g GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(t.n_grams, 0) AS n_grams,
           coalesce(k.n_known, 0) AS n_known,
           round(CASE WHEN coalesce(t.n_grams, 0) > 0
                 THEN (coalesce(t.n_grams, 0) - coalesce(k.n_known, 0))::DOUBLE
                      / coalesce(t.n_grams, 0)::DOUBLE END, 6)
             AS novelty_rate,
           CASE WHEN coalesce(t.n_grams, 0) > 0
                 AND (coalesce(t.n_grams, 0) - coalesce(k.n_known, 0))::DOUBLE
                     / coalesce(t.n_grams, 0)::DOUBLE >= 0.5
                THEN 'release' ELSE 'review' END AS route
    FROM documents d
    LEFT JOIN tot t ON d.doc_id = t.doc_id
    LEFT JOIN kn k ON d.doc_id = k.doc_id
    WHERE d.doc_id % 10 = 0
    """,
)
def q_doc_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization/novelty release gate (`corpus.doc_novelty_rate`,
    VERDICT r8 #8): every 10th document stands in for generated/held-out
    text; its distinct 3-gram shingles probe the other 90%'s shingle
    set (the training corpus). Per-doc novelty = fraction of shingles
    unseen in training; docs under 50% novelty — or too short to
    certify — route to 'review' (the hot-residue routing discipline).
    The reference set is the BIG side, so the membership check is a
    shuffled hash semi-join on 64-bit shingle hashes, never a
    broadcast; text never shuffles."""
    docs = read_table(spark, sf_dir, "documents")
    return C.doc_novelty_rate(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        n=3,
        min_novelty=0.5,
    )


_NOV_BLOOM_M = 1 << 25  # ~16 bits/shingle at sf0.1 training size (FPR ~0.2%)
_NOV_BLOOM_K = 4

_NOV_TRAIN_SH_SQL = r"""
      SELECT DISTINCT g FROM (
        SELECT unnest(list_transform(
            range(1, greatest(len(w) - 2, 0) + 1),
            i -> array_to_string(w[i:i+2], ' '))) AS g
        FROM (SELECT string_split_regex(trim(text), '\s+') AS w
              FROM documents WHERE doc_id % 10 <> 0))
"""
_NOV_EVAL_SH_SQL = r"""
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(w) - 2, 0) + 1),
            i -> array_to_string(w[i:i+2], ' '))) AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents WHERE doc_id % 10 = 0))
"""


@register(
    "doc_novelty_route_bloom",
    oracle=rf"""
    WITH tsh AS ({_NOV_TRAIN_SH_SQL}),
    bpos AS (
      SELECT ('0x' || substr(md5(i::VARCHAR || ':' || g), 1, 15))::BIGINT
               % {_NOV_BLOOM_M} AS pos
      FROM tsh CROSS JOIN (SELECT unnest(range({_NOV_BLOOM_K})) AS i)
    ), words AS (
      SELECT pos // 60 AS word, bit_or(1::BIGINT << (pos % 60)) AS bits
      FROM bpos GROUP BY 1
    ), esh AS ({_NOV_EVAL_SH_SQL}),
    epos AS (
      SELECT doc_id, g,
        ('0x' || substr(md5(i::VARCHAR || ':' || g), 1, 15))::BIGINT
          % {_NOV_BLOOM_M} AS pos
      FROM esh CROSS JOIN (SELECT unnest(range({_NOV_BLOOM_K})) AS i)
    ), shingle_hits AS (
      SELECT doc_id, g
      FROM epos JOIN words w ON w.word = epos.pos // 60
       AND ((w.bits >> (epos.pos % 60)) & 1) = 1
      GROUP BY doc_id, g HAVING count(*) = {_NOV_BLOOM_K}
    ), tot AS (
      SELECT doc_id, count(*)::BIGINT AS n_grams FROM esh GROUP BY 1
    ), hit AS (
      SELECT doc_id, count(*)::BIGINT AS n_probable_known
      FROM shingle_hits GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(t.n_grams, 0) AS n_grams,
           coalesce(h.n_probable_known, 0) AS n_probable_known,
           round(CASE WHEN coalesce(t.n_grams, 0) > 0
                 THEN (coalesce(t.n_grams, 0)
                       - coalesce(h.n_probable_known, 0))::DOUBLE
                      / coalesce(t.n_grams, 0)::DOUBLE END, 6)
             AS novelty_lower_bound,
           CASE WHEN coalesce(t.n_grams, 0) > 0
                 AND (coalesce(t.n_grams, 0)
                      - coalesce(h.n_probable_known, 0))::DOUBLE
                     / coalesce(t.n_grams, 0)::DOUBLE >= 0.5
                THEN 'release' ELSE 'verify' END AS route
    FROM documents d
    LEFT JOIN tot t ON d.doc_id = t.doc_id
    LEFT JOIN hit h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 10 = 0
    """,
)
def q_doc_novelty_route_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-tier novelty router (`corpus.doc_novelty_route_bloom`):
    the cheap pass in front of `doc_novelty_rate`'s exact semi-join on
    the same eval/train split — the training shingle set folds once
    into a 2^25-bit (word, bits) table (join backend, past the literal
    ceiling) and every probe is map-side. Bloom one-sidedness makes
    the reported rate a LOWER bound, so 'release' certifications are
    sound and only the residue routes to the exact tier. The oracle
    replays the 60-bit word packing end to end."""
    docs = read_table(spark, sf_dir, "documents")
    return C.doc_novelty_route_bloom(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        n=3,
        min_novelty=0.5,
        m_bits=_NOV_BLOOM_M,
        k=_NOV_BLOOM_K,
    )
